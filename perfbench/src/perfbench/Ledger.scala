package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark listener counters, kept per event with their wall-clock times so
  * any interval of the run (a timed pass, a traced span) can be summed
  * afterwards. Installed on every session, traced or not, so job counts
  * are available to the cache-hit guard at no extra cost in either mode.
  */
final class Ledger(sc: SparkContext) extends SparkListener {
  import Ledger._

  // (start time, whether the job belongs to a SQL execution)
  private val jobs = new ConcurrentLinkedQueue[(Long, Boolean)]
  private val tasks = new ConcurrentLinkedQueue[Task]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add((e.time, e.properties != null && e.properties.getProperty("spark.sql.execution.id") != null))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    tasks.add(Task(info.launchTime, info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      info.failed || info.killed))
  }

  /** Counters of every job started and task launched in [t0, t1) (epoch
    * ms); waits for the listener bus first.
    */
  def window(t0: Long, t1: Long): Window = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val js = jobs.asScala.filter(j => j._1 >= t0 && j._1 < t1).toSeq
    val ts = tasks.asScala.filter(t => t.launch >= t0 && t.launch < t1).toSeq
    // time inside [t0, t1) covered by at least one running task
    var covered = 0L
    var end = t0
    ts.map(t => (math.max(t.launch, t0), math.min(t.finish, t1)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    Window(
      jobs = js.size,
      sqlJobs = js.count(_._2),
      tasks = ts.size,
      shuffleMb = ts.map(_.shuffleWrite).sum / 1e6,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      runS = ts.map(_.runMs).sum / 1e3,
      spillMb = ts.map(_.spill).sum / 1e6,
      failedTasks = ts.count(_.failed),
      gapS = math.max(0L, (t1 - t0) - covered) / 1e3)
  }
}

object Ledger {
  final case class Task(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, spill: Long, failed: Boolean)

  /** `sqlJobs` counts only jobs run for a DataFrame action; the rest are
    * RDD-level jobs such as zipWithIndex's partition-size probe, which
    * runs only when its input has more than one partition.
    */
  final case class Window(jobs: Int, sqlJobs: Int, tasks: Int, shuffleMb: Double, cpuS: Double,
      runS: Double, spillMb: Double, failedTasks: Int, gapS: Double)
}

/** Wraps each call into a layer. The untraced mode only runs the call;
  * the traced mode records one span per call, and spans of the same name
  * add up. Spans never nest: every layer call in a workload runs to
  * completion before the next starts, so a span's self time is its
  * duration.
  */
sealed trait Spans {
  def apply[T](name: String)(f: => T): T
}

object NoSpans extends Spans {
  def apply[T](name: String)(f: => T): T = f
}

final class Tracer extends Spans {
  final case class Span(name: String, t0: Long, t1: Long, nanos: Long)
  val spans = mutable.ArrayBuffer.empty[Span]

  def apply[T](name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally spans += Span(name, t0, System.currentTimeMillis() + 1, System.nanoTime() - n0)
  }

  /** The six per-layer counters of every span name in `names`; a layer
    * the workload never calls reads zero.
    */
  def ledger(ledger: Ledger, names: Seq[String]): Seq[(String, Double, String)] =
    names.flatMap { name =>
      val mine = spans.filter(_.name == name)
      val ws = mine.map(s => ledger.window(s.t0, s.t1))
      Seq(
        (s"$name.self_s", mine.map(_.nanos).sum / 1e9, "s"),
        (s"$name.jobs", ws.map(_.jobs).sum.toDouble, "count"),
        (s"$name.tasks", ws.map(_.tasks).sum.toDouble, "count"),
        (s"$name.shuffle_mb", ws.map(_.shuffleMb).sum, "MB"),
        (s"$name.cpu_s", ws.map(_.cpuS).sum, "s"),
        (s"$name.gap_s", ws.map(_.gapS).sum, "s"))
    }
}
