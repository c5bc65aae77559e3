package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ingest.{CsvIngest, XlsxIngest}
import graft.model.{Identifiers, SheetMatrix}
import graft.sync.{JdbcDestination, LoadReport, LocalDestination, StagedCopy, SyncAction}

/** JVM side of the benchmark: one client thread drives a closed loop of
  * ops against `GraftSession.local(cpus)`, timing each layer from
  * outside by wrapping the calls it makes into the program's public
  * functions. It only measures and records; `run.py` generates the
  * inputs, aggregates the records and checks correctness.
  *
  * Usage: Harness <manifest.tsv>. The manifest names the workload's
  * ops and its op cycle, the catalog the sync decisions start from and
  * the output directory; records go to JSON-lines files there.
  */
object Harness {

  final case class Op(kind: String, args: Vector[String])

  final class Manifest(lines: Seq[Vector[String]]) {
    private def one(k: String): String =
      lines.find(_.head == k).map(_(1))
        .getOrElse(throw new IllegalArgumentException(s"manifest lacks $k"))
    val cpus: Int = one("cpus").toInt
    val seconds: Double = one("seconds").toDouble
    val trace: Boolean = one("trace") == "1"
    val cycle: Int = one("cycle").toInt
    val minCycles: Int = one("min_cycles").toInt
    val warmCycles: Int = one("warm_cycles").toInt
    val work: Path = Paths.get(one("work"))
    val derbyUrl: String = one("derby")
    val warmDerbyUrl: String = one("derby_warm")
    val timed: Seq[Op] = ops("op")
    val catalog: Seq[(String, String, Seq[String])] =
      lines.filter(_.head == "catalog")
        .map(l => (l(1), l(2), l(3).split(",").toSeq))
    private def ops(k: String): Seq[Op] =
      lines.filter(_.head == k).map(l => Op(l(1), l.drop(2)))
  }

  // ---- JSON-lines records ---------------------------------------------

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val jv = v match {
      case s: String => js(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case xs: Seq[_] => xs.map {
        case s: String => js(s)
        case o => o.toString
      }.mkString("[", ",", "]")
      case o => js(o.toString)
    }
    s"${js(k)}:$jv"
  }.mkString("{", ",", "}")

  final class Sink(path: Path) {
    private val w = Files.newBufferedWriter(path)
    def apply(line: String): Unit = { w.write(line); w.write('\n') }
    def close(): Unit = w.close()
  }

  // ---- spans ------------------------------------------------------------

  /** Span recorder for the layer boundaries the harness calls across.
    * Off, a span is the bare call. On, each span records its name,
    * start, end and parent, in memory, and is written out at the end. */
  final class Tracer {
    @volatile var on = false
    var op = -1
    private var nextId = 0
    private var stack: List[Int] = Nil
    val spans = mutable.ArrayBuffer.empty[(Int, Int, Int, String, Long, Long, Long)]
    /** Sets the work count (cells, rows) of the span that closed last. */
    def countLast(n: Long): Unit =
      if (on) spans(spans.size - 1) = spans.last.copy(_7 = n)
    def span[A](name: String)(body: => A): A =
      if (!on) body else {
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime
        try body finally {
          val t1 = System.nanoTime
          stack = stack.tail
          spans += ((op, id, parent, name, t0, t1, 0L))
        }
      }
  }

  // ---- Spark counters -----------------------------------------------------

  /** Job, stage and task events plus Catalyst phase times, kept with
    * their event times so they can be attributed to the op whose wall
    * interval holds them. Registered on traced runs only; while the
    * tracer is off (the untraced cycles of a traced run) it drops
    * events at once. */
  final class Counters(tr: Tracer) extends SparkListener with QueryExecutionListener {
    val events = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (tr.on) events.add(obj("ev" -> "job_start", "t" -> e.time, "job" -> e.jobId))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (tr.on) events.add(obj("ev" -> "job_end", "t" -> e.time, "job" -> e.jobId))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (tr.on) events.add(obj("ev" -> "stage",
        "t" -> e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (tr.on && e.taskMetrics != null) {
        val m = e.taskMetrics
        events.add(obj("ev" -> "task", "t" -> e.taskInfo.finishTime,
          "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
          "shuffle_w" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_r" -> m.shuffleReadMetrics.totalBytesRead,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tr.on) {
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        val t = if (ph.isEmpty) System.currentTimeMillis()
          else ph.values.map(_.startTimeMs).min
        events.add(obj("ev" -> "query", "t" -> t,
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"),
          "plan_nodes" -> qe.optimizedPlan.collect { case p => 1 }.sum))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- the ops --------------------------------------------------------------

  final case class Result(rows: Long, outBytes: Long, files: Long,
      actions: Seq[String], report: String)

  /** `out` and `derbyUrl`: where the ops write. `verify`: where query
    * ops write their results for the oracle check instead of the noop
    * sink (the warm-up ops). */
  final class Ctx(val spark: SparkSession, val m: Manifest, val tr: Tracer,
      val out: Path, val derbyUrl: String, val verify: Option[Path] = None) {
    /** (destination, table) → columns of the table there now. */
    val catalog = mutable.HashMap.empty[(String, String), Seq[String]]
    m.catalog.foreach { case (d, t, cols) => catalog((d, t)) = cols }
    val derby = JdbcDestination.Dialect("derby", "VARCHAR(255)")
  }

  private def actionName(a: Option[SyncAction]): String =
    a.fold("Created")(_.toString)

  private def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    } else Files.size(p)

  private def stem(path: String): String = {
    val f = Paths.get(path).getFileName.toString
    val dot = f.lastIndexOf('.')
    if (dot > 0) f.substring(0, dot) else f
  }

  /** Runs one op; its layer calls are wrapped in spans. */
  def run(c: Ctx, op: Op): Result = {
    val tr = c.tr
    val spark = c.spark
    op.kind match {
      case "xlsx_local" | "xlsx_jdbc" =>
        val dest = if (op.kind == "xlsx_local") "local" else "jdbc"
        val mats = tr.span("ingest.xlsx_parse") {
          XlsxIngest.parseMatrices(op.args(0))
        }
        tr.countLast(mats.map(_._2.map(_.length.toLong).sum).sum)
        val results = mats.collect { case (sheet, mat) if mat.nonEmpty =>
          val df = tr.span("model.to_df") { SheetMatrix.toDataFrame(spark, mat) }
          val table = Identifiers.sqlify(sheet)
          val cols = df.columns.toSeq
          val r = if (dest == "local") {
            val action = tr.span("sync.decide") {
              c.catalog.get((dest, table)).map(SyncAction.decide(_, cols))
            }
            val w = tr.span("sync.local_write") {
              LocalDestination.write(df, table, "", c.out.resolve("local").toString)
            }
            val report = tr.span("sync.report") {
              LoadReport(action, w.target, w.nRecords).render
            }
            Result(w.nRecords, sizeOf(Paths.get(w.target)), 1,
              Seq(actionName(action)), report)
          } else {
            val p = tr.span("sync.decide") {
              JdbcDestination.plan(table, mat.head,
                c.catalog.getOrElse((dest, table), Nil), c.derby)
            }
            val w = tr.span("sync.jdbc_write") {
              JdbcDestination.write(df, c.derbyUrl, p)
            }
            val report = tr.span("sync.report") { w.render }
            Result(w.nRecords, 0, 0, Seq(actionName(w.action)), report)
          }
          c.catalog((dest, table)) = cols
          r
        }
        Result(results.map(_.rows).sum, results.map(_.outBytes).sum,
          results.map(_.files).sum, results.flatMap(_.actions),
          results.map(_.report).mkString)

      case "csv_redshift" | "csv_snowflake" | "csv_dir" | "csv_jdbc" |
           "xlsxdir_dir" =>
        val src = op.args(0)
        val table = Identifiers.sqlify(stem(src))
        val df =
          if (op.kind == "xlsxdir_dir") tr.span("sources.infer") {
            spark.read.format("graft.sources.XlsxDataSource").load(src)
          } else tr.span("ingest.csv_open") { CsvIngest.read(spark, src) }
        val cols = df.columns.toSeq
        val target = s"${JdbcDestination.targetSchema("")}.$table"
        val r = op.kind match {
          case "csv_jdbc" =>
            val p = tr.span("sync.decide") {
              JdbcDestination.plan(table, cols, c.catalog.getOrElse(("jdbc", table), Nil), c.derby)
            }
            val w = tr.span("sync.jdbc_write") { JdbcDestination.write(df, c.derbyUrl, p) }
            Result(w.nRecords, 0, 0, Seq(actionName(w.action)),
              tr.span("sync.report") { w.render })
          case kind =>
            val action = tr.span("sync.decide") {
              c.catalog.get(("bulk", table)).map(SyncAction.decide(_, cols))
            }
            val stage = c.out.resolve("stage").toString
            val (n, dir, files) = kind match {
              case "csv_redshift" =>
                val s = tr.span("sync.stage_write") {
                  StagedCopy.redshift(df, table, "", stage, "perfbench-bucket",
                    "arn:aws:iam::000000000000:role/perfbench")
                }
                (s.nRecords, s.stageDir, s.files.size.toLong)
              case "csv_snowflake" =>
                val s = tr.span("sync.stage_write") {
                  StagedCopy.snowflake(df, table, "", stage)
                }
                (s.nRecords, s.stageDir, s.files.size.toLong)
              case _ =>
                val w = tr.span("sync.local_write") {
                  LocalDestination.writeDir(df, table, "", c.out.resolve("local").toString,
                    compress = kind == "csv_dir")
                }
                val parts = Files.list(Paths.get(w.target))
                val nParts = try parts.iterator().asScala
                  .count(_.getFileName.toString.startsWith("part-")) finally parts.close()
                (w.nRecords, w.target, nParts.toLong)
            }
            val shown = if (kind.startsWith("csv_") && kind != "csv_dir") target else dir
            val report = tr.span("sync.report") { LoadReport(action, shown, n).render }
            Result(n, sizeOf(Paths.get(dir)), files, Seq(actionName(action)), report)
        }
        c.catalog((if (op.kind == "csv_jdbc") "jdbc" else "bulk", table)) =
          SheetMatrix.headerNames(cols)
        r

      case "query" =>
        val name = op.args(0)
        val df = tr.span("queries.build") {
          graft.SparkEntry.queries(name)(spark, op.args(1))
        }
        tr.span("queries.run") {
          c.verify match {
            case Some(d) => df.coalesce(1).write.mode("overwrite")
              .parquet(d.resolve(name).toString)
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        tr.span("queries.release") {
          graft.ops.QueryCaches.releaseAll()
          spark.catalog.clearCache()
        }
        Result(0, 0, 0, Nil, "")
    }
  }

  // ---- the run ------------------------------------------------------------

  private def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def startSession(m: Manifest, tr: Tracer): (SparkSession, Option[Counters]) = {
    val spark = graft.GraftSession.local(m.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val counters = if (m.trace) {
      val cn = new Counters(tr)
      spark.sparkContext.addSparkListener(cn)
      spark.listenerManager.register(cn)
      Some(cn)
    } else None
    (spark, counters)
  }

  private def attempt(c: Ctx, op: Op): Either[Throwable, Result] =
    try Right(c.tr.span("op") { run(c, op) })
    catch { case e: Throwable => Left(e) }

  /** Record fields of an op's outcome. A failure is named by the first
    * JDBC error in its cause chain when there is one (Spark wraps it),
    * else by the outermost exception. */
  private def outcome(res: Either[Throwable, Result]): Seq[(String, Any)] = res match {
    case Right(r) => Seq("ok" -> true, "rows" -> r.rows, "out_bytes" -> r.outBytes,
      "files" -> r.files, "actions" -> r.actions, "report" -> r.report)
    case Left(e) =>
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq
      val named = chain.find(_.isInstanceOf[java.sql.SQLException]).getOrElse(e)
      Seq("ok" -> false, "error" -> named.getClass.getName,
        "message" -> String.valueOf(named.getMessage).take(300))
  }

  def main(args: Array[String]): Unit = {
    val m = new Manifest(
      Files.readAllLines(Paths.get(args(0))).asScala.toSeq
        .filter(_.nonEmpty).map(_.split("\t", -1).toVector))
    val records = new Sink(m.work.resolve("ops.jsonl"))
    val tr = new Tracer
    val base = System.nanoTime
    def sec(t: Long): Double = (t - base) / 1e9

    Seq(m.derbyUrl, m.warmDerbyUrl).foreach { url =>
      java.sql.DriverManager.getConnection(url).createStatement()
        .execute("CREATE SCHEMA x_excel")
    }

    // set-up, once, in this cold JVM, as a process of the program pays
    // it: session start plus the workload's untimed warm-up cycles of
    // the ops (so every op type runs, on the timed inputs), writing to
    // outputs of its own.
    // Its query ops leave their results for the oracle check. Each
    // warm-up op's outcome is recorded: only the known defect may fail.
    val s0 = System.nanoTime
    val (spark, counters) = startSession(m, tr)
    val sessionS = (System.nanoTime - s0) / 1e9
    val wc = new Ctx(spark, m, tr, m.work.resolve("warm"), m.warmDerbyUrl,
      Some(m.work.resolve("verify")))
    val warmed = (0 until m.warmCycles * m.cycle)
      .map(k => m.timed(k % m.timed.size)).map(op => (op, attempt(wc, op)))
    records(obj("rec" -> "setup", "session_s" -> sessionS,
      "setup_s" -> (System.nanoTime - s0) / 1e9))
    warmed.foreach { case (op, res) =>
      records(obj(Seq("rec" -> "warm", "kind" -> op.kind,
        "arg" -> op.args.headOption.getOrElse("")) ++ outcome(res): _*))
    }

    // timed phase: whole cycles of the op list, at least `minCycles`
    // (two or more), until `seconds` is spent.
    // A traced run traces every other op, flipping at each cycle, so
    // each op of the cycle runs both bare and traced and the same run
    // measures the tracing overhead.
    val c = new Ctx(spark, m, tr, m.work.resolve("timed"), m.derbyUrl)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime
    var k = 0
    while (k % m.cycle != 0 || k < m.minCycles * m.cycle ||
        (System.nanoTime - t0) / 1e9 < m.seconds) {
      val op = m.timed(k % m.timed.size)
      val traced = m.trace && (k % m.cycle + k / m.cycle) % 2 == 1
      tr.on = traced
      tr.op = k
      val ms0 = System.currentTimeMillis()
      val s0 = System.nanoTime
      val res = attempt(c, op)
      val s1 = System.nanoTime
      val ms1 = System.currentTimeMillis()
      tr.on = false
      records(obj(Seq("rec" -> "op", "idx" -> k, "kind" -> op.kind,
        "arg" -> op.args.headOption.getOrElse(""), "traced" -> traced,
        "t0" -> sec(s0), "t1" -> sec(s1), "ms0" -> ms0, "ms1" -> ms1) ++ outcome(res): _*))
      k += 1
    }
    val timedS = (System.nanoTime - t0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val peak = peakHeapMb()
    // Spark's cleaner frees shuffle and broadcast state asynchronously
    // once a GC has found it unreachable: collect a few times
    val retained = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100); heapUsedMb()
    }.min
    records(obj("rec" -> "run", "timed_s" -> timedS, "cpu_s" -> cpuS, "ops" -> k,
      "retained_heap_mb" -> retained, "peak_heap_mb" -> peak))

    // outputs the checker compares, produced outside the timed phase
    verify(c, m, records)

    counters.foreach { cn =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val ev = new Sink(m.work.resolve("events.jsonl"))
      cn.events.asScala.foreach(ev(_))
      ev.close()
    }
    val sp = new Sink(m.work.resolve("spans.jsonl"))
    tr.spans.foreach { case (op, id, parent, name, a, b, n) =>
      sp(obj("op" -> op, "id" -> id, "parent" -> parent, "name" -> name,
        "t0" -> sec(a), "t1" -> sec(b), "count" -> n))
    }
    sp.close()
    records.close()
    spark.stop()
  }

  /** What the checker cannot read from files itself: the JDBC tables
    * the timed ops loaded, and the oracle SQL of each query. */
  private def verify(c: Ctx, m: Manifest, records: Sink): Unit = {
    val spark = c.spark
    if (m.timed.exists(o => o.kind == "xlsx_jdbc" || o.kind == "csv_jdbc")) {
      val conn = java.sql.DriverManager.getConnection(m.derbyUrl)
      try {
        val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
        val names = Iterator.continually(rs).takeWhile(_.next())
          .map(r => s"${r.getString(2)}.${r.getString(3)}".toLowerCase).toVector
        names.filter(_.startsWith("x_excel.")).foreach { t =>
          val df = spark.read.format("jdbc").option("url", m.derbyUrl)
            .option("dbtable", t).load()
          // a NULL cell becomes JSON null
          val rows = df.collect().map(_.toSeq.map(v => if (v == null) "null" else js(v.toString)))
          records(obj("rec" -> "jdbc_table", "table" -> t, "columns" -> df.columns.toSeq,
            "rows" -> rows.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")))
        }
      } finally conn.close()
    }
    val queries = m.timed.filter(_.kind == "query").distinct
    if (queries.nonEmpty) {
      val oracle = graft.SparkEntry.oracleSql
      queries.foreach { op =>
        records(obj("rec" -> "oracle", "query" -> op.args(0),
          "sql" -> oracle.getOrElse(op.args(0), "")))
      }
    }
  }
}
