package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM:
  *
  * {{{
  * graftbench.Main --workload stock_ml|lake_dml --seed N
  *   --seconds S --trace 0|1 --dir WORKDIR
  * }}}
  *
  * Set-up (session, warm-up of every operation kind on a small input, and
  * three seeded builds of the workload's state), then a closed loop of
  * whole rounds for `--seconds`, then the output checks. The last stdout
  * line is `RESULT {json}`. */
object Main {

  val SetupReps = 3

  /** The spans the traced run reports, in output order. */
  val SpanKinds: Seq[String] =
    Seq("rf_raw", "rf_fe", "rf_pca", "svm_pca").map("cell." + _) ++
      Seq("upsert_mor", "delete_mor", "compact", "scan", "pruned_read",
        "time_travel").map("sources." + _) :+ "streaming.layout_batch"
  private val ReadKinds = Set("sources.scan", "sources.pruned_read", "sources.time_travel")
  private val WriteKinds = Set("sources.upsert_mor", "sources.delete_mor",
    "sources.compact", "streaming.layout_batch")

  /** The measured sizes keep a run near one minute on 4 cores: every run
    * is a fresh JVM whose set-up alone (session, cold warm-up) takes about
    * 30 s, and in both workloads an operation's time is set by its number
    * of Spark jobs more than by its rows. `small` is the warm-up input. */
  def workload(name: String, spark: SparkSession, seed: Long, small: Boolean): Workload =
    (name, small) match {
      case ("stock_ml", false) => new StockMl(spark, seed, rows = 3000)
      case ("stock_ml", true) => new StockMl(spark, seed, rows = 500)
      case ("lake_dml", false) => new LakeDml(spark, seed, syms = 8, minutes0 = 4000,
        files = 32, batchMinutes = 125, corrections = 250, deleteMinutes = 3,
        readMinutes = 250, cycles = 3)
      case ("lake_dml", true) => new LakeDml(spark, seed, syms = 4, minutes0 = 500,
        files = 4, batchMinutes = 25, corrections = 50, deleteMinutes = 2,
        readMinutes = 50, cycles = 1)
      case _ => throw new IllegalArgumentException(s"unknown workload $name")
    }

  private def session(dir: String, trace: Boolean): SparkSession = {
    // one core is left to the driver, GC and JIT threads: with every core
    // running tasks, each stage waits on a task that shares its core with
    // them, and run-to-run spread doubled at the same median on 4 cores
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // the program's GlobalWindow switches to one unpartitioned window
      // below 64 MiB of input; the benchmark's tables are smaller than the
      // paper's, so force the bucketed path the paper-size cells take
      .config("spark.graft.globalWindow.smallInputMaxBytes", "0")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // drop any filesystem instance cached before the session's conf existed,
    // so every later lookup of file:// gets the configured implementation
    if (trace) FileSystem.closeAll()
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap left after full collections: the second GC reclaims what Spark's
    * cleaner released once the first one had cleared its weak references. */
  private def liveHeap(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val budget = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dir = opt("dir")
    val spark = session(dir, trace)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try run(spark, name, seed, budget, trace, dir, sessionS)
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, budget: Double,
      trace: Boolean, dir: String, sessionS: Double): Unit = {
    val tracer = if (trace) Some(Tracer.install(spark)) else None

    // ---- set-up: warm every op kind on a small input, then build the
    // ---- seeded state several times and keep the last build
    var t0 = System.nanoTime()
    val warm = workload(name, spark, seed, small = true)
    warm.build(s"$dir/warm")
    val warmRun = new Runner(spark)
    warm.round(0, warmRun)
    warmRun.errors.foreach(e => System.err.println(s"[graftbench] warm-up: $e"))
    Workload.deleteDir(s"$dir/warm")
    val warmS = seconds(t0)
    val w = workload(name, spark, seed, small = false)
    val builds = (0 until SetupReps).map { i =>
      if (i > 0) Workload.deleteDir(s"$dir/state${i - 1}")
      t0 = System.nanoTime()
      w.build(s"$dir/state$i")
      seconds(t0)
    }
    val setupS = sessionS + warmS + Runner.median(builds)

    // ---- measured phase: whole rounds, closed loop, one client
    val run = new Runner(spark)
    // a traced run alternates traced and untraced rounds, traced first, so
    // trace.overhead (traced / untraced wall) errs high, never low
    val minRounds = if (trace) 2 else 1
    var heapPeak = 0L
    var r = 0
    val loop0 = System.nanoTime()
    while (r < minRounds || seconds(loop0) - run.pausedS < budget) {
      run.round = r
      run.traced = trace && r % 2 == 0
      Tracer.setActive(run.traced)
      w.round(r, run)
      Tracer.setActive(false)
      run.untimed { heapPeak = math.max(heapPeak, liveHeap()) }
      r += 1
    }
    val measuredS = seconds(loop0) - run.pausedS

    val checkErrors = w.check()
    val errors = run.errors ++ checkErrors
    errors.foreach(e => System.err.println(s"[graftbench] check: $e"))
    val untraced = run.walls.collect { case ((k, false), ws) => k -> Runner.median(ws.toSeq) }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", (run.attempted - run.failed) / measuredS, "ops/s"),
        ("op_p50_geomean_s", Runner.geomean(untraced.values), "s"),
        ("heap_peak_mb", heapPeak / 1048576.0, "MB"),
        ("space_amp", w.amp, "ratio"))
      else perLayer(spark, tracer.get, run, untraced.toMap)
    val detail = Map[String, Any](
      "workload" -> name, "seed" -> seed, "rounds" -> r, "measured_s" -> measuredS,
      "session_s" -> sessionS, "warmup_s" -> warmS, "build_s" -> builds,
      "op_p50_s" -> untraced.toMap, "paused_s" -> run.pausedS) ++ w.facts
    System.err.println("[graftbench] detail " + Json(detail))
    val result = Map[String, Any](
      "correct" -> errors.isEmpty,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }: _*))
    println("RESULT " + Json(result))
  }

  /** Per-layer metrics from the first traced round (round 0): per-span
    * counters averaged per operation, per-module counters for the round. */
  private def perLayer(spark: SparkSession, tracer: Tracer, run: Runner,
      untraced: Map[String, Double]): Seq[(String, Double, String)] = {
    Tracer.drain(spark)
    val spans = run.spans.collect { case (0, s) => s }.toSeq
    val jobsOf = spans.map(s => s.id -> tracer.jobsOf(s.id)).toMap
    def gapS(s: Span): Double = {
      val iv = jobsOf(s.id).map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, end = 0L
      var start = -1L
      iv.foreach { case (a, b) =>
        if (start < 0 || a > end) { if (start >= 0) covered += end - start; start = a; end = b }
        else end = math.max(end, b)
      }
      if (start >= 0) covered += end - start
      math.max(0.0, s.wallS - covered / 1e3)
    }
    val MB = 1048576.0
    val totalWall = spans.map(_.wallS).sum
    val spanMetrics = SpanKinds.flatMap { kind =>
      val ss = spans.filter(_.kind == kind)
      val n = math.max(1, ss.size).toDouble
      val wall = ss.map(_.wallS).sum
      Seq(
        (s"$kind.jobs", ss.map(s => jobsOf(s.id).size).sum / n, "count"),
        (s"$kind.input_mb", ss.flatMap(s => jobsOf(s.id)).map(_.inBytes).sum / MB / n, "MB"),
        (s"$kind.fs_ops", ss.map(_.fsOps).sum / n, "count"),
        (s"$kind.wall_share", if (totalWall > 0) wall / totalWall else 0.0, "ratio"),
        (s"$kind.driver_gap_share", if (wall > 0) ss.map(gapS).sum / wall else 0.0, "ratio"))
    }
    val jobs = spans.flatMap(s => jobsOf(s.id))
    val busyAll = jobs.map(_.runMs).sum.toDouble
    val moduleMetrics = Tracer.Modules.flatMap { m =>
      val js = jobs.filter(_.module == m)
      Seq(
        (s"$m.jobs", js.size.toDouble, "count"),
        (s"$m.busy_share", if (busyAll > 0) js.map(_.runMs).sum / busyAll else 0.0, "ratio"),
        (s"$m.shuffle_mb", js.map(_.shuffleBytes).sum / MB, "MB"),
        (s"$m.spill_mb", js.map(_.spillBytes).sum / MB, "MB"))
    }
    val reads = spans.filter(s => ReadKinds(s.kind))
    val writes = spans.filter(s => WriteKinds(s.kind))
    val readRecords = reads.flatMap(s => jobsOf(s.id)).map(_.inRecords).sum.toDouble
    val returned = reads.map(_.rowsReturned).sum.toDouble
    val userBytes = writes.map(_.userBytes).sum.toDouble
    val tracedWalls = run.walls.collect { case ((kind, true), ws) => kind -> Runner.median(ws.toSeq) }
    val overhead = Runner.geomean(tracedWalls.collect {
      case (kind, t) if untraced.contains(kind) => t / untraced(kind) })
    spanMetrics ++ moduleMetrics ++ Seq(
      ("spark.gc_s", spans.map(_.gcS).sum, "s"),
      ("spark.failed_tasks", jobs.map(_.failedTasks).sum.toDouble, "count"),
      ("sources.rows_read_per_row_returned", if (returned > 0) readRecords / returned else 0.0, "ratio"),
      ("sources.bytes_written_per_user_byte",
        if (userBytes > 0) writes.map(_.fsBytes).sum / userBytes else 0.0, "ratio"),
      ("trace.overhead", overhead, "ratio"))
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
