package graftbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Sinks, Storage, Xlsx}
import graft.pipelines.Runner

/** One workload: a fixed list of named operations, run in order once per
  * pass, and the output check made after the last pass.
  */
trait Workload {
  def ops: Seq[String]
  def run(op: String, t: Option[Tracer]): Unit
  /** Rows in the workload's inputs (the denominator of scan.rows_read_ratio). */
  def inputRows: Long
  /** Untimed output check; returns the failing operations with a reason. */
  def check(): Seq[(String, String)]

  protected def span[T](t: Option[Tracer], name: String, kind: String)(body: => T): T =
    t.fold(body)(_.span(name, kind)(body))
}

/** Registry queries, each consumed in full by the noop sink. */
final class RegistryWorkload(spark: SparkSession, data: String, work: String,
                             queries: Seq[(String, (SparkSession, String) => DataFrame)],
                             oracle: Map[String, String], val inputRows: Long)
    extends Workload {
  private val fns = queries.toMap
  val ops: Seq[String] = queries.map(_._1)

  def run(op: String, t: Option[Tracer]): Unit = {
    val df = span(t, op, "build")(fns(op)(spark, data))
    t.foreach(_.recordAnalysis(df.queryExecution))
    span(t, op, "write")(df.write.format("noop").mode("overwrite").save())
  }

  /** Writes every output as one parquet file per query and the oracle SQL
    * beside them, in the layout the repository's DuckDB oracle compare
    * reads; the comparison itself runs after the JVM exits.
    */
  def check(): Seq[(String, String)] = {
    val dir = s"$work/verify"
    val failed = ops.sorted.flatMap { op =>
      try { fns(op)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$op"); None }
      catch { case NonFatal(e) => Some(op -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }
    val sql = oracle.filter { case (k, _) => fns.contains(k) }
      .map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), sql)
    failed
  }
}

/** The flagship program: Runner.run over a generated storage root, writing
  * the stamped CSV and xlsx outputs. A traced pass runs the same public
  * calls one by one so each layer gets its own span: Runner.run without an
  * output directory, then Sinks.singleCsv and Xlsx.write per output in the
  * order Runner.run issues them.
  */
final class PayrollWorkload(spark: SparkSession, root: String, work: String,
                            expected: Map[String, Long], runDate: LocalDate,
                            val inputRows: Long) extends Workload {
  val ops: Seq[String] = Seq("runner")
  private val outDir = s"$work/out"
  private val dedupOrder: Seq[Column] = Seq(col("UIN"))
  private var last: Option[Runner.RunResult] = None

  private def outputs(r: Runner.RunResult): Seq[(String, DataFrame)] =
    r.pua.map("PreTAM_PUA" -> _).toSeq ++ r.cpa.map(c => "CPA_Final" -> c.output)

  def run(op: String, t: Option[Tracer]): Unit = t match {
    case None =>
      last = Some(Runner.run(spark, new Storage.LocalFs(spark, root), Some(outDir),
        runDate, dedupOrder, validate = true))
    case Some(tr) =>
      val r = tr.span("pipelines.build", "pipelines")(Runner.run(spark,
        new TimedStorage(new Storage.LocalFs(spark, root), tr), None, runDate,
        dedupOrder, validate = true))
      new java.io.File(outDir).mkdirs()
      outputs(r).foreach { case (prefix, df) =>
        tr.span("io.csv_write", "io")(Sinks.singleCsv(df,
          s"$outDir/${Sinks.stampedName(prefix, runDate, "csv").stripSuffix(".csv")}"))
        tr.span("io.xlsx_write", "io")(Xlsx.write(df,
          s"$outDir/${Sinks.stampedName(prefix, runDate, "xlsx")}"))
      }
      last = Some(r)
  }

  /** (rows, digest): md5 of each row's values in sorted-column order,
    * summed as 15-hex-digit integers. Timestamps are compared as
    * timestamps and empty strings as nulls, since the CSV and xlsx round
    * trips render those differently.
    */
  private def digest(df: DataFrame, timestamps: Set[String]): (Long, String) = {
    val cols = df.columns.sorted.toIndexedSeq.map { c =>
      val v = if (timestamps(c)) col(s"`$c`").try_cast("timestamp").cast("string")
              else col(s"`$c`").cast("string")
      coalesce(when(v === "", lit(null)).otherwise(v), lit("\u0000"))
    }
    val r = df.select(md5(concat_ws("\u0001", cols: _*)).as("h"))
      .agg(count(lit(1)), sum(conv(substring(col("h"), 1, 15), 16, 10)
        .cast("decimal(38,0)"))).collect().head
    (r.getLong(0), String.valueOf(r.getDecimal(1)))
  }

  def check(): Seq[(String, String)] = last match {
    case None => Seq("runner" -> "no completed run")
    case Some(r) =>
      val want = Map("PreTAM_PUA" -> expected("pua_unique"), "CPA_Final" -> expected("cpa_out"))
      val got = outputs(r)
      val missing = want.keys.filterNot(got.map(_._1).contains).map(p => s"$p: no output")
      val problems = missing.toSeq ++ got.flatMap { case (prefix, df) =>
        val ts = df.schema.fields.filter(f => f.dataType.typeName.startsWith("timestamp"))
          .map(_.name).toSet
        val (rows, d) = digest(df, ts)
        val csv = spark.read.option("header", "true").option("inferSchema", "false")
          .csv(s"$outDir/${Sinks.stampedName(prefix, runDate, "csv").stripSuffix(".csv")}")
        val xlsx = Xlsx.read(spark, s"$outDir/${Sinks.stampedName(prefix, runDate, "xlsx")}")
        Seq(
          if (rows != want(prefix)) Some(s"$prefix: $rows rows, generator expects ${want(prefix)}") else None,
          if (digest(csv, ts) != (rows, d)) Some(s"$prefix: CSV re-read digest differs") else None,
          if (digest(xlsx, ts) != (rows, d)) Some(s"$prefix: xlsx re-read digest differs") else None
        ).flatten
      }
      if (problems.isEmpty) Nil else Seq("runner" -> problems.mkString("; "))
  }
}

object Main {

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the session settings of the engine's own drivers (graft.Verify)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The tail of `xs`: the highest percentile that leaves at least ten
    * samples beyond it in a run of `nMin` samples (the fewest a run can
    * take), as a nearest-rank percentile of the samples actually taken.
    * With `nMin` of 10 or less no percentile has ten samples beyond it, and
    * the median stands in. Returns (value, percentile).
    */
  def tail(xs: Seq[Double], nMin: Int): (Double, Double) = {
    val p = if (nMin > 10) (nMin - 10).toDouble / nMin else 0.5
    val s = xs.sorted
    (s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))), p)
  }

  private def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val minWarm = opt.getOrElse("min-warm", "2").toInt
    val expected: Map[String, Long] = opt.get("expect").fold(Map.empty[String, Long])(p =>
      "\"([a-z_]+)\": ([0-9]+)".r.findAllMatchIn(Files.readString(Paths.get(p)))
        .map(m => m.group(1) -> m.group(2).toLong).toMap)

    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1000.0

    val w: Workload = workload match {
      case "payroll_runner" =>
        new PayrollWorkload(spark, opt("data"), work, expected,
          LocalDate.parse(opt("run-date")), expected("input_rows"))
      case registry =>
        val all = graft.SparkEntry.queries
        val chosen = (registry match {
          case "reference_queries" => graft.queries.Q.all.keys.toSeq
          case "corpus_queries" => graft.queries.Qext.all.keys.toSeq
        }).sorted
        val stride = opt.getOrElse("stride", "1").toInt
        val limit = opt.getOrElse("limit", "100000").toInt
        val sample = chosen.zipWithIndex.collect { case (q, i) if i % stride == 0 => q }.take(limit)
        // the seed fixes the order the queries run in
        val order = new scala.util.Random(seed).shuffle(sample)
        new RegistryWorkload(spark, opt("data"), work, order.map(q => q -> all(q)),
          graft.SparkEntry.oracleSql, opt("input-rows").toLong)
    }

    val tracer = if (traced) Some(new Tracer(spark, opt("run-id"))) else None
    tracer.foreach(_.attach())
    val failedOps = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    // (wall seconds, per-op wall seconds) of each pass
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Double])]

    def runPass(): Unit = {
      tracer.foreach(_.pass = passes.size + 1)
      val opTimes = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def body(): Unit = w.ops.foreach { op =>
        val o0 = System.nanoTime()
        attempted += 1
        try tracer.fold(w.run(op, None))(_.span(op, "op")(w.run(op, tracer)))
        catch { case NonFatal(e) =>
          failedOps.getOrElseUpdate(op, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        opTimes += (System.nanoTime() - o0) / 1e9
      }
      tracer.fold(body())(_.span(s"pass-${passes.size + 1}", "pass")(body()))
      passes += (((System.nanoTime() - t0) / 1e9, opTimes.toSeq))
    }

    // one cold pass, then warm passes until the measuring time is used up
    runPass()
    val until = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.size - 1 < minWarm || System.nanoTime() < until) runPass()
    tracer.foreach(_.detach())
    val heapMb = heapAfterGcMb()

    val c0 = System.nanoTime()
    val checkFailures = try w.check() catch {
      case NonFatal(e) => Seq("check" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    checkFailures.foreach { case (op, why) => failedOps.getOrElseUpdate(op, why) }

    val warm = passes.drop(1).toSeq
    val warmOps = warm.flatMap(_._2)
    val (tailS, tailP) = tail(warmOps, w.ops.size * minWarm)
    val m = mutable.LinkedHashMap[String, Double](
      "session_s" -> sessionS,
      "cold_s" -> passes.head._1,
      "warm_s" -> median(warm.map(_._1)),
      // the median query: each query's median over the warm passes, then
      // the median over queries
      "op_p50_s" -> median(w.ops.indices.map(i => median(warm.map(_._2(i))))),
      "op_tail_s" -> tailS,
      "op_tail_percentile" -> tailP * 100,
      "op_tail_samples" -> warmOps.size.toDouble,
      "heap_retained_mb" -> heapMb,
      "passes" -> passes.size.toDouble,
      "check_s" -> (System.nanoTime() - c0) / 1e9)

    tracer.foreach { tr =>
      val passSpans = tr.spans.filter(_.kind == "pass").toSeq
      def sumSpans(ps: Span, f: Span => Boolean, v: Span => Double): Double =
        tr.subtree(ps).filter(f).map(v).sum
      def layers(ps: Span): Map[String, Double] = {
        val js = tr.jobsUnder(ps)
        val ph = tr.phasesUnder(ps)
        val opSpans = tr.subtree(ps).filter(_.kind == "op")
        val runS = js.map(_.runMs).sum / 1000.0
        val jobWall = tr.covered(tr.jobIntervals(js), ps.startMs, ps.endMs) / 1000.0
        def named(n: String) = sumSpans(ps, _.name == n, _.seconds)
        Map(
          "queries.build_s" -> sumSpans(ps, _.kind == "build", _.seconds),
          "queries.build_jobs" -> tr.subtree(ps).filter(_.kind == "build")
            .map(s => tr.jobsUnder(s).size.toDouble).sum,
          "plan.analyze_s" -> ph.filter(_.name == "analysis").map(_.ms).sum / 1000.0,
          "plan.optimize_s" -> ph.filter(_.name == "optimization").map(_.ms).sum / 1000.0,
          "plan.physical_s" -> ph.filter(_.name == "planning").map(_.ms).sum / 1000.0,
          "exec.jobs" -> js.size.toDouble,
          "exec.stages" -> js.map(_.stages).sum.toDouble,
          "exec.tasks" -> js.map(_.tasks).sum.toDouble,
          "exec.task_run_s" -> runS,
          "exec.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
          "exec.gc_s" -> js.map(_.gcMs).sum / 1000.0,
          "exec.failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
          "exec.idle_core_s" -> (cpus * jobWall - runS),
          "exec.driver_s" -> opSpans.map(tr.driverSeconds).sum,
          "scan.bytes" -> js.map(_.bytesRead).sum.toDouble,
          "scan.rows" -> js.map(_.rowsRead).sum.toDouble,
          "scan.rows_read_ratio" -> js.map(_.rowsRead).sum.toDouble / w.inputRows,
          "shuffle.write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
          "shuffle.read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
          "spill.bytes" -> js.map(_.spill).sum.toDouble,
          "cache.pinned_after" -> opSpans.map(_.counts.getOrElse("cache.pinned", 0.0)).maxOption.getOrElse(0.0),
          "cache.stored_mb" -> opSpans.map(_.counts.getOrElse("cache.stored_mb", 0.0)).maxOption.getOrElse(0.0),
          "pipelines.build_s" -> named("pipelines.build"),
          "io.list_s" -> named("io.list"),
          "io.fetch_s" -> named("io.fetch"),
          "io.csv_write_s" -> named("io.csv_write"),
          "io.xlsx_write_s" -> named("io.xlsx_write"),
          "io.xlsx_driver_s" -> sumSpans(ps, _.name == "io.xlsx_write", tr.driverSeconds))
      }
      val warmTraced = passSpans.filter(_.pass > 1)
      val perPass = warmTraced.map(layers)
      perPass.headOption.foreach(_.keys.foreach(k => m(k) = median(perPass.map(_(k)))))
      m("queries.cold_build_s") = layers(passSpans.head)("queries.build_s")
      Files.write(Paths.get(s"$work/spans.jsonl"),
        tr.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    val metrics = m.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString("{", ",", "}")
    val failures = failedOps.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
      .mkString("{", ",", "}")
    val ops = w.ops.map(o => s""""${Json.esc(o)}"""").mkString("[", ",", "]")
    val walls = passes.map(p => Json.num(p._1)).mkString("[", ",", "]")
    val opWalls = w.ops.indices.map(i => s""""${Json.esc(w.ops(i))}":""" +
      passes.map(p => Json.num(p._2(i))).mkString("[", ",", "]")).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$work/result.json"),
      s"""{"metrics":$metrics,"attempted":$attempted,"failures":$failures,"ops":$ops,""" +
        s""""passes":${passes.size},"pass_walls":$walls,"op_walls":$opWalls}""")
    spark.stop()
  }
}
