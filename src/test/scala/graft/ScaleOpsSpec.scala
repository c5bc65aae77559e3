package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ScaleOps

class ScaleOpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("salted join returns exactly the plain join's rows") {
    val li = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val o = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, Seq("l_orderkey"))
    val salted = ScaleOps.saltedJoin(li, o, "l_orderkey",
      saltSource = col("l_partkey"), nSalts = 8)
    assert(salted.count() == plain.count())
    // spot-check content equality via anti-join both ways
    assert(salted.exceptAll(plain.select(salted.columns.map(col): _*)).isEmpty)
  }

  test("salted join spreads a hot key across salt partitions") {
    import spark.implicits._
    val hot = (1 to 10000).map(i => (1L, i.toLong)).toDF("k", "payload")
    val dim = Seq((1L, "x")).toDF("k", "v")
    val salted = ScaleOps.saltedJoin(hot, dim, "k",
      saltSource = col("payload"), nSalts = 8)
    assert(salted.count() == 10000)
    // the internal salt must take multiple values for one hot key
    val salts = hot.withColumn("__salt",
      pmod(xxhash64(col("payload")), lit(8L)).cast("int"))
      .select("__salt").distinct().count()
    assert(salts == 8)
  }

  test("globalRowNumber matches the single-partition window row_number") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.table(spark, dir, "orders").select("o_orderkey")
    val expected = o
      .withColumn("rn", row_number().over(Window.orderBy("o_orderkey"))
        .cast("long"))
    val got = ScaleOps.globalRowNumber(o, partitions = 7, col("o_orderkey"))
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).isEmpty)
    assert(expected.exceptAll(got.select(expected.columns.map(col): _*)).isEmpty)
  }

  test("globalRowNumber on empty input returns empty, not an error") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("k")
    assert(ScaleOps.globalRowNumber(empty, 4, col("k")).count() == 0)
  }

  test("globalRowNumber plans no single-partition exchange or window") {
    val o = Tables.table(spark, dir, "orders").select("o_orderkey")
    val p = ScaleOps.globalRowNumber(o, partitions = 7, col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global index funnels through one partition:\n$p")
  }

  test("globalRunningSum matches the single-partition running window") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("v"))
    val expected = o.withColumn("cum",
      sum("v").over(Window.orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    val got = ScaleOps.globalRunningSum(o, partitions = 7,
      valueCol = "v", outCol = "cum", col("o_orderkey"))
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).isEmpty)
    assert(expected.exceptAll(got.select(expected.columns.map(col): _*)).isEmpty)
  }

  test("globalRunningSum plans no single-partition exchange") {
    val o = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), lit(1L).as("v"))
    val p = ScaleOps.globalRunningSum(o, partitions = 7,
      valueCol = "v", outCol = "cum", col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global running sum funnels through one partition:\n$p")
  }

  test("globalRunningMaxExclusive matches the single-partition window") {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").cast("long").as("v"))
    val expected = o.withColumn("pm",
      coalesce(
        max("v").over(Window.orderBy("o_orderkey")
          .rowsBetween(Window.unboundedPreceding, -1)).cast("long"),
        lit(Long.MinValue)))
    val got = ScaleOps.globalRunningMaxExclusive(o, partitions = 7,
      valueCol = "v", outCol = "pm", col("o_orderkey"))
    assert(got.exceptAll(expected.select(got.columns.map(col): _*)).isEmpty)
    assert(expected.exceptAll(got.select(expected.columns.map(col): _*)).isEmpty)
    // the first row in order has no predecessor -> MinValue sentinel
    val first = got.orderBy("o_orderkey").limit(1).collect()(0)
    assert(first.getAs[Long]("pm") == Long.MinValue)
  }

  test("globalRunningMaxExclusive plans no single-partition exchange") {
    val o = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), lit(1L).as("v"))
    val p = ScaleOps.globalRunningMaxExclusive(o, partitions = 7,
      valueCol = "v", outCol = "pm", col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global running max funnels through one partition:\n$p")
  }

  test("partitioned layout prunes non-matching directories at scan") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_part").toString
    try {
      val ev = Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type")
      ScaleOps.writePartitioned(ev, out, "event_type")
      val re = spark.read.parquet(out)
        .filter(col("event_type") === "click")
      val plan = re.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"),
        s"no partition filters in scan:\n$plan")
      // the pruned read returns exactly the filtered rows (collect()
      // executes THIS plan, so its scan metrics are populated below)
      assert(re.collect().length ==
        ev.filter(col("event_type") === "click").count())
      // and the executed scan read only the matching directory's files
      val scan = re.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.get
      val scannedFiles = scan.metrics("numFiles").value
      val allFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
        .filter(p => p.toString.endsWith(".parquet"))
        .count()
      assert(scannedFiles > 0 && scannedFiles < allFiles,
        s"pruning read $scannedFiles of $allFiles files")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("z-ordered layout skips row groups on a non-leading dimension") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_zorder").toString
    try {
      val li = Tables.table(spark, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      ScaleOps.writeZordered(li, s"$base/z", nFiles = 16, bits = 8,
        "l_partkey", "l_suppkey")
      li.repartition(16).write.parquet(s"$base/r")
      // narrow predicate on the SECOND z dimension: only the z layout
      // gives row groups tight l_suppkey stats, so its scan emits a
      // fraction of the rows the unordered layout's scan emits
      def scannedRows(path: String): (Long, Long) = {
        val re = spark.read.parquet(path).filter(col("l_suppkey") <= 2)
        val matched = re.collect().length.toLong
        val scan = re.queryExecution.executedPlan.collectLeaves()
          .collectFirst {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }.get
        (scan.metrics("numOutputRows").value, matched)
      }
      val (zScan, zRows) = scannedRows(s"$base/z")
      val (rScan, rRows) = scannedRows(s"$base/r")
      assert(zRows == rRows, "layouts disagree on the query result")
      assert(zRows > 0, "predicate matched nothing — test is vacuous")
      // unordered: every row group spans the full l_suppkey range, so
      // stats prune nothing and the scan emits ~everything
      assert(zScan * 2 < rScan,
        s"z layout scanned $zScan rows vs $rScan unordered — no skipping")
      // null/NaN inputs rank 0 instead of blowing up the ANSI cast
      import spark.implicits._
      val weird = Seq((1L, Some(Double.NaN)), (2L, Some(5.0)), (3L, None))
        .toDF("id", "v")
      val zs = weird.orderBy("id").select(ScaleOps.zorderValue(
        Seq(col("v")), Seq(0.0), Seq(10.0), bits = 4).as("z"))
        .collect().map(_.getLong(0))
      assert(zs(0) == 0L && zs(2) == 0L && zs(1) > 0L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("zorderValue: bounded, grid-unique, monotone per dimension") {
    import spark.implicits._
    val bits = 5
    val top = (1 << bits) - 1 // 31
    // exhaustive rank grid: values 0..31 against min 0 / max 31 map
    // rank == value exactly, so design properties are checkable
    val grid = (for (i <- 0 to top; j <- 0 to top) yield (i.toDouble, j.toDouble))
      .toDF("x", "y")
    val z = grid.select(col("x"), col("y"), ScaleOps.zorderValue(
        Seq(col("x"), col("y")), Seq(0.0, 0.0),
        Seq(top.toDouble, top.toDouble), bits).as("z"))
      .collect().map(r => ((r.getDouble(0).toInt, r.getDouble(1).toInt),
        r.getLong(2))).toMap
    // bounded by 2^(k*bits); distinct cells get distinct keys
    assert(z.values.forall(v => v >= 0 && v < (1L << (2 * bits))))
    assert(z.values.toSet.size == z.size, "interleave collided")
    // monotone along each dimension (an oracle match can't catch a
    // bit-order mistake — both engines would share it)
    for (i <- 0 until top; j <- 0 until top) {
      assert(z((i, j)) < z((i + 1, j)), s"not monotone in x at ($i,$j)")
      assert(z((i, j)) < z((i, j + 1)), s"not monotone in y at ($i,$j)")
    }
    // interleave is balanced: the two diagonal neighbors of (0,0)
    // land in the first 4 cells of the curve (locality, not a sort)
    assert(z((1, 1)) == 3L && z((1, 0)) == 1L && z((0, 1)) == 2L)
  }

  test("compact refuses to write in place") {
    val e = intercept[IllegalArgumentException] {
      ScaleOps.compact(spark, "/tmp/graft_same", "/tmp/graft_same/", 1L << 20)
    }
    assert(e.getMessage.contains("in place"))
  }

  test("compact rewrites many small files into few, preserving rows") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_compact").toString
    val in = s"$base/in"
    val out = s"$base/out"
    try {
      val ev = Tables.events(spark, dir).select("event_id", "user_id")
      ev.repartition(16).write.parquet(in)
      def parquetFiles(p: String): Long =
        java.nio.file.Files.walk(java.nio.file.Paths.get(p))
          .filter(q => q.toString.endsWith(".parquet")).count()
      assert(parquetFiles(in) == 16)
      // target = everything in one file
      val n = ScaleOps.compact(spark, in, out, targetFileBytes = 1L << 30)
      assert(n == 1)
      assert(parquetFiles(out) == 1)
      assert(spark.read.parquet(out).count() == ev.count())
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("bucketed tables join without any exchange") {
    // default warehouse dir (./spark-warehouse, gitignored) — the
    // warehouse.dir config is static and can't be set per-test
    val li = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    ScaleOps.writeBucketed(li, "li_b", "l_orderkey", 8)
    ScaleOps.writeBucketed(o, "o_b", "o_orderkey", 8)
    try {
      // disable auto-broadcast so the join would otherwise shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("copyOnWriteMerge rewrites only touched partitions") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cow_spec").toString
    try {
      val v1 = Seq(
        (1L, "en", "one", 1L), (2L, "en", "two", 1L),
        (3L, "de", "drei", 1L), (4L, "fr", "quatre", 1L))
        .toDF("id", "lang", "text", "version")
      ScaleOps.writePartitioned(v1, base, "lang")
      def files(lang: String) = {
        val d = new java.io.File(base, s"lang=$lang")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      val enBefore = files("en")
      val frBefore = files("fr")
      val updates = Seq((3L, "de", "drei v2", 2L), (5L, "de", "fuenf", 2L))
        .toDF("id", "lang", "text", "version")
      val touched = ScaleOps.copyOnWriteMerge(
        spark, base, updates, "lang", "id", "version")
      assert(touched == Seq("de"))
      // merged content: de partition upserted (3 replaced, 5 added),
      // other partitions intact
      val got = spark.read.parquet(base)
        .select("id", "text", "version")
        .as[(Long, String, Long)].collect().toSet
      assert(got == Set(
        (1L, "one", 1L), (2L, "two", 1L), (4L, "quatre", 1L),
        (3L, "drei v2", 2L), (5L, "fuenf", 2L)))
      // untouched partitions: same files, same mtimes — not rewritten
      assert(files("en") == enBefore && files("fr") == frBefore)
      // empty batch: no-op, nothing touched
      assert(ScaleOps.copyOnWriteMerge(spark, base,
        updates.filter(col("id") < 0), "lang", "id", "version").isEmpty)
      // unsupported partition values refuse rather than mis-target
      intercept[IllegalArgumentException] {
        ScaleOps.copyOnWriteMerge(spark, base,
          Seq((9L, "a b", "x", 2L)).toDF("id", "lang", "text", "version"),
          "lang", "id", "version")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("cow migration sweep parks an orphaned bare aside instead of deleting it") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_cow_migrate_spec").toString
    try {
      val v1 = Seq((1L, "en", "one", 1L), (3L, "de", "drei", 1L))
        .toDF("id", "lang", "text", "version")
      ScaleOps.writePartitioned(v1, base, "lang")
      // Simulate the pre-dot-prefix code crashing between its aside
      // rename and the swap: live "lang=de" is GONE, the bare aside
      // holds the only copy of the partition.
      val live = new java.io.File(base, "lang=de")
      val bareAside = new java.io.File(base, "lang=de__cow_old")
      assert(live.renameTo(bareAside))
      val updates = Seq((5L, "de", "fuenf", 2L))
        .toDF("id", "lang", "text", "version")
      ScaleOps.copyOnWriteMerge(spark, base, updates, "lang", "id", "version")
      // the recovery copy survived under the hidden parked name
      val parked = new java.io.File(base, ".lang=de__cow_recovered")
      assert(parked.isDirectory, "orphaned bare aside was destroyed")
      assert(!bareAside.exists)
      val recovered = spark.read.parquet(parked.toString)
        .select("id").as[Long].collect().toSet
      assert(recovered == Set(3L))
      // second merge into the same partition, now that live EXISTS:
      // a bare aside alongside a live dir is stale duplicate data
      // (the pre-dot-prefix code crashed AFTER its swap) — swept
      val bare2 = new java.io.File(base, "lang=de__cow_old")
      assert(bare2.mkdir())
      val donor = new java.io.File(base, "lang=en").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(donor.toPath,
        bare2.toPath.resolve(donor.getName))
      ScaleOps.copyOnWriteMerge(spark, base,
        Seq((6L, "de", "sechs", 3L)).toDF("id", "lang", "text", "version"),
        "lang", "id", "version")
      assert(!bare2.exists, "bare aside not swept when live exists")
      assert(new java.io.File(base, "lang=de").isDirectory)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("exactQuantiles reproduces the built-in percentile bit-for-bit") {
    import spark.implicits._
    // awkward n (7) so every requested quantile interpolates
    val xs = Seq(3.0, 1.5, 9.25, -2.0, 4.75, 4.75, 0.125)
    val df = xs.toDF("x")
    val qs = Seq(("p10", 0.1), ("q1", 0.25), ("med", 0.5),
      ("q3", 0.75), ("p99", 0.99), ("lo", 0.0), ("hi", 1.0))
    val got = ScaleOps.exactQuantiles(df, col("x"), qs, partitions = 3)
      .collect().head
    assert(got.getLong(got.fieldIndex("n")) == xs.length)
    val want = df.agg(
      qs.map { case (nm, q) =>
        expr(s"percentile(x, $q)").as(nm) }.head,
      qs.tail.map { case (nm, q) =>
        expr(s"percentile(x, $q)").as(nm) }: _*).collect().head
    qs.foreach { case (nm, _) =>
      // bit-for-bit: the h = q·(n−1) interpolation is the same
      // formula over the same doubles — gate oracles written against
      // the built-in stay green after swapping in the two-phase form
      assert(java.lang.Double.compare(
        got.getDouble(got.fieldIndex(nm)),
        want.getDouble(want.fieldIndex(nm))) == 0,
        s"$nm: ${got.getDouble(got.fieldIndex(nm))} != " +
          s"${want.getDouble(want.fieldIndex(nm))}")
    }
    // empty input → one all-null row, like the built-in
    val empty = ScaleOps.exactQuantiles(
      df.filter(col("x") > 1e9), col("x"), Seq(("m", 0.5)))
      .collect().head
    assert(empty.isNullAt(empty.fieldIndex("m")))
    graft.ops.QueryCaches.releaseAll()
  }

  test("exactQuantiles: NULL/NaN input is a NAMED failure, never a silent shift") {
    import spark.implicits._
    // nulls rank first in Spark and would shift every h = q·(n−1)
    // position vs the built-in percentile (which skips them) — the
    // op refuses instead of diverging; checked on the materialized
    // cache, never via an input filter (a filter on the projected
    // value pushes the caller's expression below its own join guards
    // — the q_theilsen DIVIDE_BY_ZERO regression this pins against)
    val withNull = Seq(Some(1.0), None, Some(3.0)).toDF("x")
    val e1 = intercept[IllegalArgumentException] {
      ScaleOps.exactQuantiles(withNull, col("x"), Seq(("m", 0.5)))
    }
    assert(e1.getMessage.contains("NULL/NaN"))
    val withNan = Seq(1.0, Double.NaN, 3.0).toDF("x")
    val e2 = intercept[IllegalArgumentException] {
      ScaleOps.exactQuantiles(withNan, col("x"), Seq(("m", 0.5)))
    }
    assert(e2.getMessage.contains("NULL/NaN"))
    graft.ops.QueryCaches.releaseAll()
  }

  test("reserved bookkeeping/output columns are require-guarded, not overwritten") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("k", "rn")
    val e = intercept[IllegalArgumentException] {
      ScaleOps.globalRowNumber(df, 2, col("k"))
    }
    assert(e.getMessage.contains("'rn'"))
    val df2 = Seq((1L, 2L)).toDF("k", "__pid")
    val e2 = intercept[IllegalArgumentException] {
      ScaleOps.globalRowNumber(df2, 2, col("k"))
    }
    assert(e2.getMessage.contains("'__pid'"))
    val df3 = Seq((1L, 2L)).toDF("k", "tot")
    val e3 = intercept[IllegalArgumentException] {
      ScaleOps.globalRunningSum(df3, 2, "k", "tot", col("k"))
    }
    assert(e3.getMessage.contains("'tot'"))
    val salted = Seq((1L, 0)).toDF("k", "__salt")
    val plain = Seq((1L, "x")).toDF("k", "v")
    val e4 = intercept[IllegalArgumentException] {
      ScaleOps.saltedJoin(salted, plain, "k", col("k"), 4)
    }
    assert(e4.getMessage.contains("'__salt'"))
  }

  test("keySkewReport: shares sum to ~1 and hot flags the heavy key") {
    import spark.implicits._
    // 90 rows of key "hot", 10 spread across others
    val df = ((1 to 90).map(_ => "hot") ++ (1 to 10).map(i => s"k$i"))
      .toDF("k")
    val rep = ScaleOps.keySkewReport(df, "k", hotShare = 0.05)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(rep("hot") == ((90L, 0.9, true)))
    assert(rep("k1") == ((1L, 0.01, false)))
    assert(math.abs(rep.values.map(_._2).sum - 1.0) < 1e-9)
    assert(rep.count(_._2._3) == 1)
  }

  test("bloom-pruned semi-join equals the plain semi-join exactly") {
    val li = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_quantity")
    val sup = Tables.table(spark, dir, "supplier")
      .filter(col("s_suppkey") % 7 === 0).select("s_suppkey")
    val pruned = ScaleOps.bloomPrunedSemiJoin(li, "l_suppkey", sup, "s_suppkey")
    val plain = li.join(sup.select(col("s_suppkey").as("l_suppkey")),
      Seq("l_suppkey"), "left_semi")
    assert(pruned.count() == plain.count())
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
  }

  test("bloom filter passes every member and few non-members") {
    import spark.implicits._
    val members = (0L until 50L).map(_ * 17L)
    val small = members.toDF("k")
    val words = ScaleOps.bloomBuild(small, "k", mBits = 1 << 12, k = 3)
    assert(words.length == (1 << 12) / 64)
    val probeAll = (0L until 5000L).toDF("k")
    val passed = probeAll
      .filter(ScaleOps.bloomMightContain(words, 1 << 12, 3, col("k")))
      .collect().map(_.getLong(0)).toSet
    // no false negatives, ever
    assert(members.forall(passed.contains))
    // FP probability at n=50, m=4096, k=3 is ~(nk/m)^3 ≈ 5e-5 per
    // probe: a handful of stragglers at most out of 5000
    assert(passed.size <= members.size + 25)
  }

  test("byteSizedAqe keeps its partition floor once a shuffle passes 1 MB per partition") {
    // bytes-based sizing alone coalesces any shuffle under the 64 MB
    // advisory size to ONE partition; the floor byteSizedAqe sets
    // through coalescePartitions.minPartitionNum (deprecated in Spark
    // 4, still read) caps the target at shuffle bytes / max(2,
    // cores/4). Spark never cuts below minPartitionSize (1 MB), so the
    // frame shuffles ~13 MB of incompressible hex for the floor to
    // bind. A Spark that drops the key fails here instead of silently
    // serializing the opted-in queries.
    try {
      ScaleOps.byteSizedAqe(spark)
      val wide = spark.range(0, 200000)
        .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
        .repartition(col("id"))
      assert(wide.rdd.getNumPartitions >= 2)
    } finally graft.ops.QueryCaches.releaseAll()
  }

  test("bloomBuild validates its geometry") {
    import spark.implicits._
    val df = Seq(1L).toDF("k")
    intercept[IllegalArgumentException](
      ScaleOps.bloomBuild(df, "k", mBits = 100))
    intercept[IllegalArgumentException](
      ScaleOps.bloomBuild(df, "k", k = 0))
  }
}
