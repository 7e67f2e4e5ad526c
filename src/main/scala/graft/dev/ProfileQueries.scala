package graft.dev

/** Times individual SparkEntry queries under bench-identical session
  * settings. Usage (sbt):
  *   runMain graft.dev.ProfileQueries q44_xml_relations q72_stream_window_stats
  * Each named query runs `reps` times (SPARK_GRAFT_BENCH_REPS, default 2);
  * prints every rep so warmup vs steady-state is visible — the bench
  * records the min.
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.build(s"local[$cpus]", cpus.toInt)
    spark.conf.set("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    // job/stage/task counters: where a query's wall time actually goes
    // at fixture scale is usually ACTION COUNT, not row volume
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
      }
    })
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))
      val times = (1 to reps).map { i =>
        val (j0, s0, t0c) = (jobs.get, stages.get, tasks.get)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE $name rep$i: $dt%.3f s ($n rows, jobs=${jobs.get - j0} stages=${stages.get - s0} tasks=${tasks.get - t0c})")
        dt
      }
      println(f"PROFILE $name min: ${times.min}%.3f s")
    }
    spark.stop()
  }
}
