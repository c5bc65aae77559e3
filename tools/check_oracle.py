#!/usr/bin/env python3
"""Local pre-check mirroring the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

Loads each <query>.parquet dumped by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sf parquet tables,
and compares row count, column names (sorted), and a value hash over
column-name-sorted, row-sorted stringified values.
"""
import sys, json, glob, os, hashlib
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sfdir):
    """A DuckDB connection with a view per table of the sf directory."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return con


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(repr(v))
            else:
                vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return hashlib.md5("\x1e".join(out).encode()).hexdigest()


# Queries declared rows-only BY DESIGN (engine-specific internals the
# oracle cannot mirror). Any OTHER query landing NO_ORACLE is a typo'd
# or missing oracle key — a silently-unchecked query — and FAILS; a
# name here that HAS an oracle is a stale whitelist entry and FAILS.
ROWS_ONLY = {"q_sniff", "q_approx_distinct", "q_quantiles_approx",
             "q_compress_ratio",
             # unigram-LM TRAINING (EM over doubles) is not
             # SQL-expressible cross-engine; UnigramLmSpec pins
             # exactness against an independent exhaustive-search
             # reference. Segmentation under the trained table IS:
             # q_unigram_lm_segment carries a run-time-authored
             # recursive-CTE Viterbi oracle (DynamicOracles).
             "q_unigram_lm"}


def main(outdir, sfdir):
    # completeness: iterate the run manifest (what Verify ATTEMPTED),
    # not a q_* glob — a truncated run on a reused outdir would
    # otherwise pass on the prior run's stale green dirs, and a query
    # named without the q_ prefix would never be compared at all.
    # Check the manifest FIRST (before touching oracle_sql.json) so an
    # aborted run yields the named message, not a traceback.
    mpath = os.path.join(outdir, "run_manifest.json")
    if not os.path.exists(mpath):
        # no glob fallback: Verify deletes the gate files FIRST, so a
        # missing manifest means the run died before selecting anything
        # — globbing q_* dirs here would certify a PREVIOUS run's
        # outputs as this run's (the stale-green class)
        print(f"no run_manifest.json in {outdir} — the Verify run "
              "aborted before writing it (or the outdir is wrong); "
              "nothing was verified")
        sys.exit(1)
    names = json.load(open(mpath))
    con = connect(sfdir)
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    results = {}
    for name in sorted(names):
        qdir = os.path.join(outdir, name)
        if not os.path.isdir(qdir):
            results[name] = "MISSING_OUTPUT_DIR (run aborted before it?)"
            continue
        files = glob.glob(os.path.join(qdir, "*.parquet"))
        if not files:
            results[name] = "NO_SPARK_OUTPUT"
            continue
        srel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        scols, srows = srel.columns, srel.fetchall()
        # output-rendering hazards (CLAUDE.md rules, r8 root causes):
        # DECIMAL columns hash differently from their float repr when a
        # value has trailing zeros at scale; timestamps outside the
        # ns-int64 range corrupt in ns readers. Flag them even when the
        # hash happens to pass, so the hazard can't ship latent.
        hazards = []
        for cname, ctype in zip(scols, srel.types):
            ts = str(ctype).upper()
            if ts.startswith("DECIMAL"):
                hazards.append(f"decimal column {cname}")
        import datetime
        # exact ns-int64 bounds (not day-granular: values ON the
        # boundary days are legitimate up to the exact limit)
        NS_MIN = datetime.datetime(1677, 9, 21, 0, 12, 43, 145225)
        NS_MAX = datetime.datetime(2262, 4, 11, 23, 47, 16, 854775)
        for i, cname in enumerate(scols):
            for r in srows:  # all rows: a corrupt sentinel can sit anywhere
                v = r[i]
                if isinstance(v, datetime.datetime) and (
                        v.replace(tzinfo=None) < NS_MIN or
                        v.replace(tzinfo=None) > NS_MAX):
                    hazards.append(f"out-of-ns-range timestamp in {cname}")
                    break
        if hazards:
            results[name] = "HAZARD: " + "; ".join(sorted(set(hazards)))
            continue
        if name not in oracle:
            if name in ROWS_ONLY:
                # row count is the ONLY check these queries get — a
                # degenerate 0-row result must be annotated (and
                # counted in the empty tally), not pass silently
                if len(srows) == 0:
                    results[name] = ("NO_ORACLE rows=0 (by design) "
                                     "[EMPTY — degenerate?]")
                else:
                    results[name] = (f"NO_ORACLE rows={len(srows)} "
                                     "(by design)")
            else:
                results[name] = (f"NO_ORACLE_UNDECLARED rows={len(srows)} "
                                 "— oracle key missing/typo'd; the query "
                                 "is silently unchecked")
            continue
        if name in ROWS_ONLY:
            results[name] = ("STALE_ROWS_ONLY_WHITELIST — an oracle now "
                             "exists; remove the ROWS_ONLY entry")
            continue
        try:
            orel = con.sql(oracle[name])
            ocols, orows = orel.columns, orel.fetchall()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        elif canon(srows, scols) != canon(orows, ocols):
            problems.append("value hash mismatch")
            # show first differing row for debugging
            so = sorted(range(len(scols)), key=lambda i: scols[i])
            oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sr = sorted(tuple(str(r[i]) for i in so) for r in srows)
            orr = sorted(tuple(str(r[i]) for i in oo) for r in orows)
            for a, b in zip(sr, orr):
                if a != b:
                    problems.append(f"first diff:\n  spark  ={a}\n  oracle ={b}")
                    break
        if problems:
            results[name] = "FAIL: " + "; ".join(problems)
        elif len(srows) == 0:
            # both sides empty hash equal — a filter that silently
            # degenerated under a regeneration stays green while the
            # query exercises nothing. Annotate loudly (not a failure:
            # an empty-by-design output would be legitimate).
            results[name] = "OK rows=0 [EMPTY — degenerate?]"
        else:
            results[name] = "OK rows=%d" % len(srows)
    # staleness, the OTHER way: a ROWS_ONLY entry whose query no
    # longer exists would linger forever (the has-an-oracle direction
    # is checked per-query above). Only meaningful on a FULL run — a
    # targeted re-check's manifest legitimately omits most queries.
    # Verify writes run_full.json ("true"/"false") alongside the
    # manifest; the >=100 heuristic stays only as the fallback for
    # outdirs older than the marker (it false-reds a 100+-name
    # targeted run and disarms if the surface ever shrinks below 100).
    fpath = os.path.join(outdir, "run_full.json")
    if os.path.exists(fpath):
        full_run = open(fpath).read().strip() == "true"
    else:
        full_run = len(results) >= 100
    if full_run:
        for gone in sorted(ROWS_ONLY - set(results)):
            results[gone] = ("STALE_ROWS_ONLY_WHITELIST — no such query "
                             "in the run manifest; remove the ROWS_ONLY "
                             "entry")
    if not results:
        # an empty selection is a gate that checked NOTHING — fail
        # loudly instead of crashing on max() of an empty sequence
        print("0 queries selected — nothing was verified "
              "(typo'd name in a targeted run?)")
        sys.exit(1)
    width = max(len(k) for k in results)
    nfail = nempty = 0
    for k in sorted(results):
        print(f"{k:<{width}}  {results[k]}")
        if "rows=0" in results[k]:
            nempty += 1
        ok = (results[k].startswith("OK") or
              results[k].startswith("NO_ORACLE rows"))
        if not ok:
            nfail += 1
    tail = f", {nempty} empty" if nempty else ""
    print(f"\n{len(results)} queries, {nfail} failing{tail}")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
