package graft.dev

/** Phase-level timing for the streaming contract queries: where do
  * q72/q73 spend their time (query start, microbatches, stop)?
  * Prints each microbatch's durationMs breakdown from recentProgress.
  */
object ProfileStream {

  /** Instantiated by class name in EVERY session (including the child
    * sessions SparkEntry.streamSession creates — a listener added via
    * spark.streams.addListener on the parent would never see the
    * contract queries, which start on the child's query manager).
    */
  final class PrintListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      println(s"  LISTENER started ${e.name} at ${System.nanoTime() / 1e9}")
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      println(s"  LISTENER batch ${e.progress.batchId} rows=${e.progress.numInputRows} " +
        s"durations=${e.progress.durationMs}")
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      println(s"  LISTENER terminated at ${System.nanoTime() / 1e9}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // static conf, so set before the context exists: a spark.* system
    // property lands in the SparkConf, which every session created on
    // this context inherits
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[PrintListener].getName)
    val spark = graft.Session.build(s"local[$cpus]", cpus.toInt)

    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        val dur = for {
          a <- info.completionTime; b <- info.submissionTime
        } yield (a - b) / 1e3
        if (dur.exists(_ > 0.3))
          println(f"  STAGE ${info.stageId} ${dur.getOrElse(-1.0)}%.2f s tasks=${info.numTasks} ${info.name.take(80)}")
      }
    })
    val names = if (args.nonEmpty) args.toSeq else Seq("q73_stream_dedup")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    names.foreach { which =>
      println(s"STREAMPROF ==== $which ====")
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(which)(spark, sfDir)
        val n = df.count()
        println(f"STREAMPROF $which rep$rep total ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
