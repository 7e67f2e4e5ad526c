package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one place a graft SparkSession is built. Every entry point
  * (Bench, Verify, Plans, the XmlToCsv CLI, the dev mains and the test
  * base) calls it, so they share one conf:
  *   - UTC session time zone (the oracle compares wall-clock values);
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`, so the INT64
  *     TIMESTAMP(NANOS) events.parquet vintage reads at all (see
  *     [[SparkEntry.normalizeTsNanos]]);
  *   - the Spark UI off and the log level at WARN.
  *
  * The engine's SQL functions are injected at build time through
  * [[GraftExtensions]], so they live in every SessionState made from
  * this session: `newSession()` children (the scoped-conf and
  * streaming sessions) resolve `vec_dot`, `infer_type` and the rest
  * by construction.
  *
  * `getOrCreate` semantics: a second call in the same JVM returns the
  * existing session and re-applies the runtime confs above to it.
  */
object Session {
  def build(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
