package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload gives the run loop in [[Main]]. */
abstract class Workload {
  def name: String

  /** The span names this workload's traced run records. */
  def layers: Seq[String]

  /** Writes the seeded inputs under `dir` (before set-up starts) and
    * returns their sizes for the run record.
    */
  def generate(dir: Path, seed: Long): Seq[(String, Long)]

  /** One pass over the small seeded slice, through the same calls the
    * timed phase makes; part of set-up.
    */
  def warmup(ctx: Ctx): Unit

  /** The timed phase: repeat the workload's unit of work until
    * `seconds` have passed, at least once.
    */
  def measure(ctx: Ctx, seconds: Double): Measured

  /** A fixed unit of work run untraced and then traced, for the
    * per-layer ledger and the tracing overhead.
    */
  def traceUnit(ctx: Ctx, spans: Spans): Traced
}

/** Session, listener ledger and scratch space of one run. */
final class Ctx(val spark: SparkSession, val ledger: Ledger, work: Path) {
  private var n = 0
  private var peakMb = 0.0

  /** A fresh directory for one pass's outputs. */
  def scratch(tag: String): Path = synchronized {
    n += 1
    java.nio.file.Files.createDirectories(work.resolve(s"out/$tag-$n"))
  }

  /** Samples post-GC old-generation occupancy; called between timed units. */
  def sampleHeap(): Unit = peakMb = math.max(peakMb, Util.oldGenMb())
  def peakHeapMb: Double = peakMb
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One workload-specific metric, with its sample count. */
final case class Sample(name: String, value: Double, unit: String, n: Int)

final case class Measured(
    itemsPerS: Double,
    p50Ms: Double,
    quality: Double,
    units: Seq[Double],
    attempted: Int,
    checks: Seq[Check],
    report: Seq[Sample])

final case class Traced(wallS: Double, jobs: Int, checks: Seq[Check])

object Util {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Drop a returned frame's cache, including blocks held by a
    * localCheckpoint in its plan, so the next pass cannot hit it.
    */
  def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = true))
    df.unpersist(blocking = true)
  }

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => java.nio.file.Files.delete(q))
      finally s.close()
    }

  /** Post-GC old-generation occupancy in MB. Two full collections: the
    * first lets Spark's ContextCleaner see which broadcasts and shuffles
    * became unreachable, the second frees what it then drops.
    */
  def oldGenMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed).sum / 1e6
  }
}
