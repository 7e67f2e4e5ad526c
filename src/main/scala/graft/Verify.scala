package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.build(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // self-summary rows: (query, row count, schema fingerprint) read
    // back from the WRITTEN parquet — so an empty/zeroed driver-side
    // compare is distinguishable from a crashed verify: a non-empty
    // verify_summary.json next to an empty CORRECTNESS artifact proves
    // the dump ran and the failure is in the compare harness.
    val summary = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
    // dev-loop filter: SPARK_GRAFT_VERIFY_ONLY=q262_knn_graph,q263_...
    // (the driver never sets it, so round artifacts always cover all)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Surface the failure in the driver's compare instead of
        // silently dropping the row: a one-row __error frame can never
        // match the oracle schema, so CORRECTNESS records a loud
        // mismatch carrying the message rather than omitting the query.
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
            .toDF("__error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
      }
      try {
        val written = spark.read.parquet(s"$outDir/$name")
        val schema = written.schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        summary(name) = (written.count(), schema)
      } catch { case e: Throwable =>
        summary(name) = (-1L, s"unreadable: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val summaryJson = summary
      .map { case (k, (rows, schema)) =>
        s"${q(k)}: {\"rows\": $rows, \"schema\": ${q(schema)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), summaryJson)
    val nQueries = SparkEntry.queries.size
    val nDumped = summary.count { case (_, (rows, _)) => rows >= 0 }
    System.err.println(
      s"[verify] summary: $nDumped/$nQueries result dirs readable; " +
        s"oracle_sql entries: ${SparkEntry.oracleSql.size}")
    spark.stop()
  }
}
