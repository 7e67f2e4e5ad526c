package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Pins the r18 child-session isolation of the scoped performance
  * confs: two scoped operators running CONCURRENTLY on one shared
  * session must not observe each other's (or leak their own) scoped
  * values — Graph loops scope shuffle.partitions + AQE-off,
  * Profiling kernels scope AQE-off, and before r18 both mutated the
  * SHARED session conf with save/restore (a concurrent query planned
  * mid-scope saw someone else's partition count; two overlapping
  * finallys could persist a scoped value). The helpers now carry the
  * scoped values on newSession() children.
  */
class ConcurrentScopeSpec extends SparkTestBase {

  private def edgeDf = {
    import spark.implicits._
    // a small multigraph: ring + chords, enough rounds of real work
    (0L until 400L).flatMap(i => Seq((i, (i + 1) % 400), (i, (i * 7) % 400)))
      .toDF("src", "dst")
  }

  private def valueDf = {
    import spark.implicits._
    (0L until 4000L).map(i => (s"g${i % 5}", i * 37 % 1000)).toDF("g", "v")
  }

  test("concurrent scoped operators never mutate the shared session conf") {
    val sess = spark
    val parts0 = sess.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = sess.conf.get("spark.sql.adaptive.enabled", "true")
    // serial references
    val prSerial = Graph.pageRank(edgeDf, col("src"), col("dst"), iters = 3)
      .orderBy("node").collect().toSeq
    val madSerial = Profiling.madProfile(valueDf, col("g"), col("v"))
      .orderBy("g").collect().toSeq
    prSerial.foreach(_ => ()) // materialized

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var confDrift: Option[(String, String)] = None
    @volatile var stop = false
    // a watcher thread polls the SHARED session conf the whole time
    // both scoped operators are in flight — any observation of a
    // scoped value (tiny partition count, flipped AQE) is the race
    // the old save/restore implementation exposed
    val watcher = Future {
      while (!stop) {
        val p = sess.conf.get("spark.sql.shuffle.partitions")
        val a = sess.conf.get("spark.sql.adaptive.enabled", "true")
        if (p != parts0 || a != aqe0) confDrift = Some((p, a))
        Thread.sleep(1)
      }
    }
    val fPr = Future {
      Graph.pageRank(edgeDf, col("src"), col("dst"), iters = 3)
        .orderBy("node").collect().toSeq
    }
    val fMad = Future {
      Profiling.madProfile(valueDf, col("g"), col("v"))
        .orderBy("g").collect().toSeq
    }
    val pr = Await.result(fPr, 120.seconds)
    val mad = Await.result(fMad, 120.seconds)
    stop = true
    Await.result(watcher, 10.seconds)
    assert(confDrift.isEmpty,
      s"shared session conf observed scoped values: $confDrift")
    assert(sess.conf.get("spark.sql.shuffle.partitions") == parts0)
    assert(sess.conf.get("spark.sql.adaptive.enabled", "true") == aqe0)
    // and both concurrent results equal their serial runs
    assert(pr == prSerial)
    assert(mad == madSerial)
  }

  test("scoped results re-bind to the caller's session") {
    val out = Graph.pageRank(edgeDf, col("src"), col("dst"), iters = 1)
    assert(out.sparkSession eq spark)
    val mad = Profiling.madProfile(valueDf, col("g"), col("v"))
    assert(mad.sparkSession eq spark)
    val e = spark.range(0, 200).selectExpr("id",
      "transform(sequence(0, 7), d -> cast(sin(id * 31 + d) as float)) as vec")
      .select(col("id"), col("vec"))
    val served = Similarity.knnGraphServe(
      e.where(col("id") < 3),
      Similarity.knnGraphBuild(e, k = 4, rounds = 1, revCap = 8,
        lshBits = 3, lshTables = 2),
      e, k = 3, beam = 4, hops = 1, entryStride = 11L)
    assert(served.sparkSession eq spark)
  }

  test("scoped and plain child sessions resolve the engine's SQL functions by name") {
    // the functions are injected when the session is built, so every
    // SessionState made from it has them; a registry write on the
    // parent alone would leave these children with an AnalysisException
    val scoped = org.apache.spark.sql.graftbridge.SessionBridge.scoped(spark,
      Seq("spark.sql.shuffle.partitions" -> "3"))
    Seq(scoped, spark.newSession()).foreach { child =>
      val r = child.sql("SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d, " +
        "infer_type('2020-01-02') AS t").head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getString(1) == "date")
    }
  }
}
