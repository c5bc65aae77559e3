"""Seeded input generators of the benchmark, and the expectations the
checker holds the program's outputs to.

The program sees only the files written here. Every workload keeps the
SHAPE of its inputs fixed (sizes, widths, op mix) and lets the seed pick
the contents and the order, so runs on different seeds measure the same
amount of work.
"""
import datetime
import os
import random
import re
import zipfile

import duckdb

# ---- reference semantics the expectations need ---------------------------


def sqlify(name):
    return re.sub("[^a-zA-Z0-9]+", "_", name.lower())


def header_names(header):
    """SheetMatrix.headerNames: to_alnum, empty → _cN, uniquified."""
    seen, taken, out = {}, set(), []
    for i, raw in enumerate(header):
        base = "".join(c for c in raw if c.isalnum() or c == "_") or f"_c{i}"
        key = base.lower()
        n = seen.get(key, 0)
        name = base if n == 0 else f"{base}_{n}"
        while name.lower() in taken:
            n += 1
            name = f"{base}_{n}"
        seen[key] = n + 1
        taken.add(name.lower())
        out.append(name)
    return out


def decide(existing, header):
    """SyncAction.decide; None existing = table absent."""
    if existing is None:
        return None
    same = sorted(c.lower() for c in existing) == \
        sorted(c.lower() for c in header_names(header))
    return "Truncate" if same else "DropCreate"


PAST = {"Truncate": "Truncated", "DropCreate": "Dropped"}


def report(action, target, n):
    """LoadReport.render."""
    if action is None:
        return f"Created {target}.\n{n} records loaded successfully.\n"
    return (f"{PAST[action]} and loaded into {target}.\n"
            f"{n} records loaded successfully.\n")


# ---- xlsx writing --------------------------------------------------------
# cells: None (omitted), ("s", text) shared string, ("n", raw) number,
# ("d", serial, style) date-styled serial (style 1 = builtin numFmt 14,
# 2 = custom dd/mm/yyyy), ("f", raw) number with a non-date custom format

STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<numFmts count="2"><numFmt numFmtId="164" formatCode="dd/mm/yyyy"/><numFmt numFmtId="165" formatCode="0.00"/></numFmts>
<cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/><xf numFmtId="165"/></cellXfs>
</styleSheet>"""

NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
RNS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
EPOCH = datetime.date(1899, 12, 31)  # 1900 system with the leap bug kept


def col_name(n):
    s = ""
    while n > 0:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s


def esc(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def cell_value(c):
    """What the parser yields for a cell."""
    if c is None:
        return ""
    if c[0] == "d":
        return (EPOCH + datetime.timedelta(days=c[1])).isoformat()
    return c[1]


def write_xlsx(path, sheets):
    """sheets: [(name, rows, trailing_empty_rows)]; row 0 is the header."""
    pool = {}
    letters = [col_name(j + 1) for j in range(64)]
    sheet_xml = []
    for _, rows, trailing in sheets:
        out = [f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               f'<worksheet xmlns="{NS}"><dimension ref="A1:'
               f'{letters[max(map(len, rows)) - 1]}{len(rows) + trailing}"/>'
               f'<sheetData>']
        for i, row in enumerate(rows, 1):
            parts = [f'<row r="{i}">']
            for j, c in enumerate(row):
                if c is None:
                    continue
                ref = f"{letters[j]}{i}"
                k = c[0]
                if k == "s":
                    idx = pool.setdefault(c[1], len(pool))
                    parts.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
                elif k == "n":
                    parts.append(f'<c r="{ref}"><v>{c[1]}</v></c>')
                elif k == "d":
                    parts.append(f'<c r="{ref}" s="{c[2]}"><v>{c[1]}</v></c>')
                else:
                    parts.append(f'<c r="{ref}" s="3"><v>{c[1]}</v></c>')
            parts.append("</row>")
            out.append("".join(parts))
        out.extend(f'<row r="{i}"/>' for i in
                   range(len(rows) + 1, len(rows) + trailing + 1))
        out.append("</sheetData></worksheet>")
        sheet_xml.append("\n".join(out))
    sst = "".join(f"<si><t>{esc(v)}</t></si>" for v in pool)
    wb = "".join(f'<sheet name="{esc(n)}" sheetId="{i}" r:id="rId{i}"/>'
                 for i, (n, _, _) in enumerate(sheets, 1))
    rels = "".join(
        f'<Relationship Id="rId{i}" Type="{RNS}/worksheet" '
        f'Target="worksheets/sheet{i}.xml"/>' for i in range(1, len(sheets) + 1))
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
        z.writestr("xl/workbook.xml",
                   f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                   f'<workbook xmlns="{NS}" xmlns:r="{RNS}"><sheets>{wb}'
                   f'</sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
                   f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                   f'<Relationships xmlns="http://schemas.openxmlformats.org/'
                   f'package/2006/relationships">{rels}'
                   f'<Relationship Id="rIdS" Type="{RNS}/styles" '
                   f'Target="styles.xml"/></Relationships>')
        z.writestr("xl/sharedStrings.xml",
                   f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                   f'<sst xmlns="{NS}" count="{len(pool)}" '
                   f'uniqueCount="{len(pool)}">{sst}</sst>')
        z.writestr("xl/styles.xml", STYLES)
        for i, xml in enumerate(sheet_xml, 1):
            z.writestr(f"xl/worksheets/sheet{i}.xml", xml)


# ---- table contents --------------------------------------------------------

WORDS = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Stark", "Wayne",
         "Tyrell", "Cyberdyne", "Soylent", "Vandelay", "Wonka", "Gringotts",
         "Oscorp", "Nakatomi", "Monarch"]
SUFFIX = ["Inc.", "GmbH", "Ltd", "& Sons", "S.A.", "Group, plc", "AG", "BV"]
CATS = ["Hardware", "Software", "Services", "Support", "Training",
        "Licences", "Spare parts", "Consulting"]
# (raw header, cell kind); kinds draw from the row's generator below
COLUMNS = [("Order ID", "id"), ("Customer Name", "name"),
           ("Category", "cat"), ("Qty", "qty"), ("Unit Price ($)", "price"),
           ("Order Date", "date"), ("Ship-Date", "date2"),
           ("Amount", "amount"), ("Region/Zone", "cat"), ("Notes #1", "name")]


def make_cell(kind, rng, i):
    if kind == "id":
        return ("n", str(100000 + i))
    if rng.random() < 0.05:
        return None  # blank cell
    if kind == "name":
        return ("s", f"{rng.choice(WORDS)} {rng.choice(SUFFIX)}")
    if kind == "cat":
        return ("s", rng.choice(CATS))
    if kind == "qty":
        return ("n", str(rng.randint(1, 500)))
    if kind == "price":
        return ("n", f"{rng.randint(100, 99999) / 100}")
    if kind == "date":
        return ("d", rng.randint(36526, 46022), 1)
    if kind == "date2":
        return ("d", rng.randint(36526, 46022), 2)
    return ("f", f"{rng.randint(0, 10 ** 6) / 100}")


def sheet_rows(rng, columns, n):
    header = [("s", h) for h, _ in columns]
    return [header] + [[make_cell(k, rng, i) for _, k in columns]
                       for i in range(n)]


def matrix(rows):
    return [[cell_value(c) for c in r] for r in rows]


# ---- xlsx_upload -----------------------------------------------------------
# The pool is made of blocks of 9 workbooks, one per log-uniform size
# stratum between 200 and 20k rows, in one fixed order; the seed draws
# the contents and sizes within ±3%, so any whole number of blocks
# carries the same row and cell mix. Position j of a block fixes the
# table, its width, its destination and whether it has a second sheet;
# every block loads the same tables again, so the first block creates
# them and later blocks re-upload them (Truncate), with the headers of
# positions 3 and 8 revised every other block (DropCreate).

UPLOAD_BLOCKS = 3
UPLOAD_NAMES = ["Sales Q3 (EU)", "Stock-List!", "Customers & Leads",
                "Price list 2024/25", "HR: Headcount", "Web-Orders #2",
                "Returns (Q1)", "Budget v2.1", "Leads/Contacts: EMEA"]
JDBC_POSITIONS = {1, 6}
TWO_SHEETS = {2, 7}
REVISED = {3, 8}
# one fixed order of the strata in every block, so that op k of a block
# is the same kind and size in every block (a traced run pairs them).
# An odd count keeps the median op of whole blocks on one stratum
# instead of between two.
BLOCK_ORDER = [3, 8, 0, 6, 2, 7, 1, 4, 5]


def upload_rows(j, rng):
    return int(200 * 100 ** ((j + 0.5) / 9) * rng.uniform(0.97, 1.03))


def upload_layout(seed, b, j):
    """[(sheet name, columns, data rows, trailing empty rows)] and the
    destination of pool block b, position j, drawing only the sizes."""
    rng = random.Random(f"{seed}:upload:{b}:{j}")
    cols = COLUMNS[j % 3: j % 3 + 6 + j % 3]
    if j in REVISED and b % 2 == 1:
        cols = [("Quantity", k) if h == "Qty" else (h, k) for h, k in cols]
    name = UPLOAD_NAMES[j]
    n = upload_rows(j, rng)
    sheets = [(name, cols, n, 3 if j % 2 == 0 else 0)]
    if j in TWO_SHEETS:
        sheets.append((f"Notes - {name}", cols[:4], n // 4, 0))
    return sheets, ("jdbc" if j in JDBC_POSITIONS else "local"), rng


def upload_workbook(seed, b, j):
    """(sheets, destination) of pool block b, position j."""
    layout, dest, rng = upload_layout(seed, b, j)
    return [(name, sheet_rows(rng, cols, n), trailing)
            for name, cols, n, trailing in layout], dest


def gen_xlsx_upload(seed, d):
    ops, order = [], []
    for b in range(UPLOAD_BLOCKS):
        for j in BLOCK_ORDER:
            sheets, dest = upload_workbook(seed, b, j)
            path = os.path.join(d, f"book_{b}_{j}.xlsx")
            write_xlsx(path, sheets)
            ops.append((f"xlsx_{dest}", path))
            order.append((b, j))
    return {"ops": ops, "cycle": 9, "min_cycles": 3, "warm_cycles": 1,
            "order": order, "catalog": []}


def expect_xlsx_upload(seed, spec, out_local, n_ops):
    """Expected (actions, report, rows) of timed ops 0..n_ops-1."""
    catalog, out = {}, []
    for k in range(n_ops):
        b, j = spec["order"][k % len(spec["order"])]
        layout, dest, _ = upload_layout(seed, b, j)
        actions, rep, rows = [], "", 0
        for name, cols, n, _ in layout:
            table = sqlify(name)
            header = [h for h, _ in cols]
            if dest == "local":
                a = decide(catalog.get((dest, table)), header)
                rep += report(a, os.path.join(out_local, f"{table}.csv"), n)
            else:
                a = decide(catalog.get((dest, table), []), header)
                rep += report(a, f"x_excel.{table}", n)
            catalog[(dest, table)] = header_names(header)
            actions.append(a or "Created")
            rows += n
        out.append((actions, rep, rows))
    return out


# ---- bulk_sync -------------------------------------------------------------
# One cycle = one op per source: four CSVs, one per delimiter the sniffer
# must choose between, a directory of workbooks read through the xlsx
# data source, and one small CSV with blank cells loaded over JDBC (the
# known defect: CsvIngest makes the blanks NULL and the JDBC write fails).

BULK_CSV_ROWS = 15000
BULK_BOOKS, BULK_BOOK_ROWS = 12, 1500
DEFECT_ROWS = 40
# plain identifiers: the CSV path loads header cells as they are, so a
# sanitized name would be a different column than the one written
BULK_HEADER = ["OrderID", "Customer", "Category", "Qty", "UnitPrice",
               "OrderDate", "Status", "Amount"]
BULK_CSVS = [(",", "csv_redshift", "orders-eu"),
             (";", "csv_snowflake", "orders-us"),
             ("|", "csv_dir", "orders-apac"),
             ("\t", "csv_redshift", "orders-latam")]


def write_csv(con, path, rows, delim, seed, salt):
    """rows of hash-derived values; DuckDB writes them quickly."""
    con.execute(f"""COPY (
      SELECT 100000 + i AS "OrderID",
        'cust ' || (hash(i, {seed}, {salt}, 1) % 5000) AS "Customer",
        ['Hardware','Software','Services','Support'][1 + (hash(i, {seed}, {salt}, 2) % 4)::INT] AS "Category",
        1 + hash(i, {seed}, {salt}, 3) % 500 AS "Qty",
        printf('%.2f', (hash(i, {seed}, {salt}, 4) % 99900 + 100) / 100.0) AS "UnitPrice",
        strftime(DATE '2000-01-01' + (hash(i, {seed}, {salt}, 5) % 9000)::INT, '%Y-%m-%d') AS "OrderDate",
        ['open','shipped','billed'][1 + (hash(i, {seed}, {salt}, 6) % 3)::INT] AS "Status",
        printf('%.2f', (hash(i, {seed}, {salt}, 7) % 1000000) / 100.0) AS "Amount"
      FROM range({rows}) t(i) ORDER BY i
    ) TO '{path}' (HEADER, DELIMITER '{delim}', QUOTE '"')""")


def gen_bulk_sync(seed, d):
    con = duckdb.connect()
    ops = []
    for n, (delim, kind, stem) in enumerate(BULK_CSVS):
        path = os.path.join(d, f"{stem}.csv")
        write_csv(con, path, BULK_CSV_ROWS, delim, seed, n)
        ops.append((kind, path))
    bdir = os.path.join(d, "ledger-2024")
    os.makedirs(bdir)
    for i in range(BULK_BOOKS):
        rng = random.Random(f"{seed}:ledger-2024:{i}")
        write_xlsx(os.path.join(bdir, f"part_{i:03d}.xlsx"),
                   [("Data", sheet_rows(rng, COLUMNS[:8], BULK_BOOK_ROWS), 0)])
    ops.append(("xlsxdir_dir", bdir))
    path = os.path.join(d, "returns-blank.csv")
    rng = random.Random(f"{seed}:returns-blank")
    with open(path, "w") as fh:
        fh.write("ReturnID,Reason,Refund\n")
        for i in range(DEFECT_ROWS):
            reason = "" if i % 3 == 0 else rng.choice(CATS)
            refund = "" if i % 4 == 1 else f"{rng.randint(100, 9999) / 100}"
            fh.write(f"{i},{reason},{refund}\n")
    ops.append(("csv_jdbc", path))
    order = list(range(len(ops)))
    random.Random(f"{seed}:bulk-order").shuffle(order)
    # the warehouse as the first cycle finds it: one table with the same
    # columns in another case and order (Truncate), one with an obsolete
    # column (DropCreate); the rest do not exist yet
    names = header_names(BULK_HEADER)
    catalog = [("bulk", "orders_eu", [c.upper() for c in reversed(names)]),
               ("bulk", "orders_us", names + ["Obsolete"])]
    # two warm-up cycles: after one, the first timed cycle still runs
    # 15-30% slower, and with the failed op at +inf those slow ops fill
    # the top of the latency ranks, so the median fell on the edge
    # between them and the warm ops
    return {"ops": [ops[i] for i in order], "cycle": len(ops),
            "min_cycles": 3, "warm_cycles": 2, "catalog": catalog}


# ---- query_mix -------------------------------------------------------------
# TPC-H-shaped tables at the proportions of the repo's sf0.01 test data
# (same names, columns and parquet types), plus the documents corpus
# with its fixed 31-token vocabulary and planted near-duplicates.

VOCAB = ("a the key agg row scan slow fast table value part hash line sort "
         "window merge batch spark data column join small big customer "
         "query order group stream filter index plan").split()


def gen_query_tables(seed, d):
    """Writes the tables; returns {table: rows} as read back."""
    con = duckdb.connect()
    s = int(seed) % 1000003
    con.execute(f"""COPY (SELECT i::BIGINT AS o_orderkey,
        (hash(i, {s}, 6) % 1500)::BIGINT AS o_custkey,
        ['F','O','P'][1 + (hash(i, {s}, 7) % 3)::INT] AS o_orderstatus,
        ((hash(i, {s}, 8) % 50000000) / 100.0)::DOUBLE AS o_totalprice,
        (TIMESTAMP '1995-01-01' + to_days((hash(i, {s}, 9) % 2500)::INT)) AS o_orderdate,
        ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + (hash(i, {s}, 10) % 5)::INT] AS o_orderpriority
        FROM range(15000) t(i) ORDER BY i) TO '{d}/orders.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (SELECT (i // 4)::BIGINT AS l_orderkey,
        (hash(i, {s}, 11) % 2000)::BIGINT AS l_partkey,
        (hash(i, {s}, 12) % 100)::BIGINT AS l_suppkey,
        (1 + i % 4)::INTEGER AS l_linenumber,
        (1 + hash(i, {s}, 13) % 50)::DOUBLE AS l_quantity,
        ((hash(i, {s}, 14) % 10000000) / 100.0)::DOUBLE AS l_extendedprice,
        ((hash(i, {s}, 15) % 11) / 100.0)::DOUBLE AS l_discount,
        ((hash(i, {s}, 16) % 9) / 100.0)::DOUBLE AS l_tax,
        ['A','N','R'][1 + (hash(i, {s}, 17) % 3)::INT] AS l_returnflag,
        ['F','O'][1 + (hash(i, {s}, 18) % 2)::INT] AS l_linestatus,
        (TIMESTAMP '1995-01-01' + to_days((hash(i, {s}, 19) % 2600)::INT)) AS l_shipdate
        FROM range(60000) t(i) ORDER BY i) TO '{d}/lineitem.parquet' (FORMAT PARQUET)""")
    rng = random.Random(f"{seed}:documents")
    docs = []
    for i in range(500):
        if i >= 50 and rng.random() < 0.3:
            toks = docs[rng.randrange(len(docs))][1].split()
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        else:
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(20, 80))]
        text = " ".join(toks)
        docs.append((i, text, rng.choice(["en", "de", "fr"]), f"src{i % 7}", len(text)))
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", docs)
    con.execute(f"COPY (SELECT * FROM documents ORDER BY doc_id) TO "
                f"'{d}/documents.parquet' (FORMAT PARQUET)")
    return {t: con.execute(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
            for t in ("orders", "lineitem", "documents")}
