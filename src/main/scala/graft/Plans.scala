package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The plan dumper: `explain("formatted")` of a named frame, so scan
  * pruning (ReadSchema), filter pushdown (PushedFilters), join
  * strategies and whole-stage codegen spans can be inspected per
  * change. This is the evidence behind the committed `plans/rN/`
  * before/after files.
  *
  * A name is either a [[SparkEntry.queries]] key — the dump is the
  * RETURNED frame's plan; the query function runs its internal eager
  * actions (memoized builds etc.) as usual — or one of the operator
  * frames in [[operatorFrames]]. Those exist because the declared
  * queries that wrap them materialize eagerly (withAqeOn →
  * localCheckpoint), so the query's own dump flattens to a LogicalRDD
  * where the operator ran. Under AQE a dump shows the INITIAL
  * AdaptiveSparkPlan (isFinalPlan=false): Exchange counts and join
  * strategies before runtime re-planning.
  *
  * Usage:
  *   runMain graft.Plans [name ...]                    print to stdout
  *   runMain graft.Plans <outDir> <suffix> <name ...>  write
  *     <outDir>/<name>_<suffix>.txt per name
  * With no names it prints a default set of contract queries. Reads
  * SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01) and
  * SPARK_GRAFT_CPUS (default 4).
  */
object Plans {
  /** Operator frames behind `plans/r18/knn_*` and `q272_truth_*`, over
    * the fixture's embeddings. The knn_* frames share one base graph.
    */
  private def operatorFrames(spark: SparkSession, dir: String): Map[String, () => DataFrame] = {
    lazy val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    lazy val kept = e.where(pmod(col("id"), lit(5L)) =!= 4)
    lazy val g = Similarity.knnGraphBuild(kept,
      k = 8, rounds = 3, revCap = 32, lshBits = 5, lshTables = 3)
      .localCheckpoint()
    Map(
      // exactly qKnnHierRecall's truth pass: ids ≡ 0 mod 50, k = 5
      "q272_truth" -> (() => Similarity.bruteForceTopK(
        e.where(pmod(col("id"), lit(50L)) === 0), e, k = 5)),
      "knn_append" -> (() => Similarity.knnGraphAppend(
        g, e, pmod(col("id"), lit(5L)) === 4, k = 8)),
      "knn_delete" -> (() => Similarity.knnGraphDelete(
        g, kept, pmod(col("id"), lit(7L)) === 3, k = 8)),
      "knn_descent_round" -> (() => Similarity.knnGraphDescentRound(g, kept, k = 8)),
      "knn_seed_edges" -> (() => Similarity.knnLshSeedEdges(
        e, lshBits = 5, lshTables = 3, anchorsPerBucket = 32)))
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.build(s"local[$cpus]", cpus.toInt)
    val frames = operatorFrames(spark, dir)
    def known(n: String) = SparkEntry.queries.contains(n) || frames.contains(n)
    val (out, names) = args.toSeq match {
      case Seq() => (None, Seq("q01_project_filter", "q02_agg_group",
        "q08_relation_edges", "q12_join_agg", "q21_dedup_minhash",
        "q23_dedup_ngram", "q25_sim_bruteforce"))
      case first +: _ if known(first) => (None, args.toSeq)
      case outDir +: suffix +: names if names.nonEmpty => (Some((outDir, suffix)), names)
      case _ => sys.error("usage: Plans [name ...] | Plans <outDir> <suffix> <name ...>")
    }
    names.foreach { name =>
      val df = frames.get(name).map(_())
        .orElse(SparkEntry.queries.get(name).map(_(spark, dir)))
        .getOrElse(sys.error(s"unknown query or frame $name"))
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      out match {
        case None => println(s"\n========== $name ==========\n$plan")
        case Some((outDir, suffix)) =>
          val path = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
          java.nio.file.Files.createDirectories(path.getParent)
          java.nio.file.Files.writeString(path, plan)
          println(s"[plans] wrote $path (${plan.length} chars)")
      }
    }
    spark.stop()
  }
}
