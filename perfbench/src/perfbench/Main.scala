package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side:
  *
  *   perfbench.Main --workload <dblp_etl|curate|search> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir>
  *
  * Generates the inputs under `dir`, sets up a session, then either
  * measures the workload (trace 0) or runs one unit of it untraced and
  * then traced (trace 1). Prints `perfbench ...` report lines and, last,
  * one JSON result line.
  */
object Main {
  val workloads: Seq[String] = Seq("dblp_etl", "curate", "search")

  /** Every span a traced run reports, over all workloads: a layer the
    * running workload bypasses reads zero.
    */
  lazy val allLayers: Seq[String] = workloads.map(workload).flatMap(_.layers).distinct

  def workload(name: String): Workload = name match {
    case "dblp_etl" => new DblpEtl(nRecords = 4000, nWarm = 400)
    case "curate" => new Curate(nDocs = 4000, nWarm = 1000)
    case "search" => new Search(nVectors = 1000, nDocs = 1000, nWarm = 100)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One warm-up of every workload in one JVM, so the build can record
    * which classes a run loads.
    */
  private def train(work: java.nio.file.Path): Unit =
    workloads.foreach { name =>
      val wl = workload(name)
      wl.generate(Files.createDirectories(work.resolve(s"inputs-$name")), 0L)
      val spark = session(Runtime.getRuntime.availableProcessors(), work)
      wl.warmup(new Ctx(spark, new Ledger(spark.sparkContext), work))
      stop(spark)
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (opts.contains("train")) {
      train(Paths.get(opts("work")).toAbsolutePath)
      sys.exit(0)
    }
    Seq("workload", "seed", "seconds", "trace", "work").foreach(k =>
      require(opts.contains(k), s"missing --$k"))
    val wl = workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$other'")
    }
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage

    val inputs = wl.generate(Files.createDirectories(work.resolve("inputs")), seed)

    // One set-up per run, the cold start a user pays: session start,
    // extension registration and one warm-up pass over the small slice
    // (class loading, JIT, codegen), which the timed phase then does not
    // pay. A second, warm set-up would add 5-8 s to every run.
    var sessionS = 0.0
    val (ctx, setupS) = Util.timed {
      val (spark, ss) = Util.timed(session(cores, work))
      sessionS = ss
      val c = new Ctx(spark, new Ledger(spark.sparkContext), work)
      wl.warmup(c)
      c
    }

    val metrics = collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    val report = collection.mutable.ArrayBuffer.empty[Sample]
    val checks = collection.mutable.ArrayBuffer.empty[Check]
    var attempted = 0
    if (!trace) {
      val m = wl.measure(ctx, seconds)
      metrics ++= Seq(
        ("setup_s", setupS, "s"),
        ("items_per_s", m.itemsPerS, "1/s"),
        ("p50_ms", m.p50Ms, "ms"),
        ("quality", m.quality, "ratio"),
        ("peak_heap_mb", ctx.peakHeapMb, "MB"))
      report ++= m.report ++ Seq(
        Sample("unit_s", Util.median(m.units), "s", m.units.size),
        Sample("error_rate", 0.0, "ratio", m.attempted))
      checks ++= m.checks
      attempted = m.attempted
    } else {
      val untraced = wl.traceUnit(ctx, NoSpans)
      val tracer = new Tracer
      val gc0 = gcSeconds()
      val t0 = System.currentTimeMillis()
      val traced = wl.traceUnit(ctx, tracer)
      val t1 = System.currentTimeMillis() + 1
      val gcS = gcSeconds() - gc0
      val all = ctx.ledger.window(t0, t1)
      metrics ++= tracer.ledger(ctx.ledger, allLayers)
      metrics ++= Seq(
        ("spark.spill_mb", all.spillMb, "MB"),
        ("spark.gc_s", gcS, "s"),
        ("spark.failed_tasks", all.failedTasks.toDouble, "count"),
        ("spark.core_util", all.runS / ((t1 - t0) / 1e3 * cores), "ratio"),
        ("trace.overhead_s", traced.wallS - untraced.wallS, "s"))
      checks ++= untraced.checks ++ traced.checks :+
        Check("trace.jobs_equal", traced.jobs == untraced.jobs,
          s"traced ${traced.jobs} SQL jobs, untraced ${untraced.jobs}")
      report ++= Seq(Sample("untraced_unit_s", untraced.wallS, "s", 1),
        Sample("traced_unit_s", traced.wallS, "s", 1))
      attempted = 2
    }
    val loadAfter = os.getSystemLoadAverage
    ctx.spark.stop()

    val out = System.out
    out.println(s"perfbench workload=${wl.name} seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
    out.println(f"perfbench host nproc=$cores load_before=$loadBefore%.2f load_after=$loadAfter%.2f " +
      f"heap_max_mb=${Runtime.getRuntime.maxMemory / 1e6}%.0f")
    out.println("perfbench inputs " + inputs.map { case (k, v) => s"$k=$v" }.mkString(" "))
    out.println(f"perfbench setup_s $setupS%.3f of which session start $sessionS%.3f")
    report.foreach(s => out.println(s"perfbench metric ${s.name} ${num(s.value)} ${s.unit} n=${s.n}"))
    checks.foreach(c => out.println(s"perfbench check ${c.name} ${if (c.ok) "ok" else "FAILED"} ${c.detail}"))
    val correct = checks.forall(_.ok) && metrics.forall(m => !m._2.isNaN)
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    // an operation that throws ends the run without a result line, so a
    // printed result never has failures
    out.println(s"""{"correct": $correct, "attempted": $attempted, "failed": 0, "metrics": {${body.mkString(", ")}}}""")
    out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
