package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Retrieval, TextAnalysis}

/** The LLM-corpus batch path: quality filter -> exact dedup -> MinHash
  * near-dups -> dedup groups -> inverted index. CPU-bound in the native
  * kernels plus a shuffle-heavy banding join; bypasses xml and
  * Similarity.
  */
final class Curate(nDocs: Int, nWarm: Int) extends Workload {
  val name = "curate"
  val layers = Seq("textanalysis.quality", "dedup.exact", "dedup.minhash", "dedup.groups",
    "retrieval.index")

  val threshold = 0.4
  private var docs: Gen.Docs = _
  private var path: String = _
  private var warmPath: String = _

  def generate(dir: Path, seed: Long): Seq[(String, Long)] = {
    docs = Gen.docs(nDocs, seed)
    path = dir.resolve("docs").toString
    warmPath = dir.resolve("docs_warm").toString
    val bytes = Gen.writeDocs(dir.resolve("docs"), docs)
    Gen.writeDocs(dir.resolve("docs_warm"), docs, until = nWarm)
    Seq("docs" -> nDocs.toLong, "docs_bytes" -> bytes, "planted_pairs" -> docs.planted.size.toLong,
      "warm_docs" -> nWarm.toLong)
  }

  private final case class Out(nQuality: Long, nSurvivors: Long, pairs: Seq[(Long, Long, Double)],
      groups: Seq[(Long, Long)], nFinal: Long, indexN: Long)

  /** One pass; every frame it persists or gets back persisted is
    * released before it returns.
    */
  private def pass(ctx: Ctx, span: Spans, file: String): Out = {
    val spark = ctx.spark
    val input = spark.read.schema("id LONG, text STRING").option("sep", "\t").csv(file)
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { held += df; df }
    try {
      val (good, nQuality) = span("textanalysis.quality") {
        val d = hold(TextAnalysis.qualityMetrics(input, col("text"))
          .where(col("n_tokens") >= 20 && col("alpha_ratio") >= 0.5)
          .select("id", "text").persist())
        (d, d.count())
      }
      val (surv, nSurvivors) = span("dedup.exact") {
        val keep = Dedup.exactDedup(good, col("id"), col("text")).select(col("keep_id").as("id"))
        val s = hold(good.join(keep, "id").persist())
        (s, s.count())
      }
      val (pairsDf, pairs) = span("dedup.minhash") {
        val p = hold(Dedup.minhashNearDupsPortable(surv, col("id"), col("text"),
          k = 16, bands = 8, threshold = threshold))
        (p, p.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSeq)
      }
      val (fin, groups, nFinal) = span("dedup.groups") {
        val g = hold(Dedup.dedupGroups(pairsDf))
        val rows = g.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("keep_id"))).toSeq
        val drop = g.where(col("id") =!= col("keep_id")).select("id")
        val f = hold(surv.join(drop, Seq("id"), "left_anti").persist())
        (f, rows, f.count())
      }
      val indexN = span("retrieval.index") {
        val ix = Retrieval.buildInvertedIndex(fin, col("id"), col("text"))
        hold(ix.postings.persist()).count()
        ix.n
      }
      Out(nQuality, nSurvivors, pairs, groups, nFinal, indexN)
    } finally held.foreach(Util.release)
  }

  def warmup(ctx: Ctx): Unit = pass(ctx, NoSpans, warmPath)

  /** Driver-side truth: survivors are the lowest id of each distinct
    * non-junk text, groups are connected components of the reported
    * pairs keyed by their lowest id, and every reported pair must have
    * exact shingle Jaccard >= the threshold.
    */
  private def check(tag: String, o: Out): (Seq[Check], Double) = {
    val good = docs.ids.filterNot(docs.junk)
    val rep = good.groupBy(docs.textOf).values.map(ids => ids.min).toSet
    val shingleCache = mutable.Map.empty[Long, Set[String]]
    def sh(id: Long) = shingleCache.getOrElseUpdate(id, Gen.shingles(docs.textOf(id)))
    val bad = o.pairs.filter { case (a, b, j) =>
      val exact = Gen.jaccard(sh(a), sh(b))
      exact < threshold || math.abs(exact - j) > 1e-9
    }
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    o.pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = o.pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val groups = ids.map(i => i -> find(i)).toSet
    val dropped = groups.count { case (i, k) => i != k }
    // planted pairs whose members both survive exact dedup (copies are of
    // other bases, so planted members are their texts' only holders)
    val truth = docs.planted.filter { case (a, b) =>
      rep(a) && rep(b) && Gen.jaccard(sh(a), sh(b)) >= threshold
    }
    val found = o.pairs.map(p => (p._1, p._2)).toSet
    val recall = truth.count(found).toDouble / math.max(1, truth.size)
    (Seq(
      Check(s"$tag.quality_kept", o.nQuality == good.length, s"${o.nQuality} vs ${good.length}"),
      Check(s"$tag.exact_survivors", o.nSurvivors == rep.size, s"${o.nSurvivors} vs ${rep.size}"),
      Check(s"$tag.pairs_jaccard", bad.isEmpty, s"${bad.size} of ${o.pairs.size} pairs below threshold or mis-scored"),
      Check(s"$tag.groups", o.groups.toSet == groups, s"${o.groups.size} vs ${groups.size} group rows"),
      Check(s"$tag.final", o.nFinal == rep.size - dropped && o.indexN == o.nFinal,
        s"final ${o.nFinal}, index ${o.indexN}, expected ${rep.size - dropped}"),
      Check(s"$tag.truth", truth.nonEmpty, s"${truth.size} planted pairs at or above threshold")),
      recall)
  }

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val secs = mutable.ArrayBuffer.empty[Double]
    val jobs = mutable.ArrayBuffer.empty[Int]
    var checks = Seq.empty[Check]
    var recall = 0.0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (secs.isEmpty || System.nanoTime() < deadline) {
      val t0 = System.currentTimeMillis()
      val (o, s) = Util.timed(pass(ctx, NoSpans, path))
      jobs += ctx.ledger.window(t0, System.currentTimeMillis() + 1).sqlJobs
      if (checks.isEmpty) { val (c, r) = check("curate", o); checks = c; recall = r }
      secs += s
      ctx.sampleHeap()
    }
    val rate = nDocs * secs.size / secs.sum
    Measured(
      itemsPerS = rate,
      p50Ms = Util.median(secs.toSeq) * 1e3,
      quality = recall,
      units = secs.toSeq,
      attempted = secs.size,
      checks = checks :+ Check("curate.jobs_repeat", jobs.distinct.size == 1, s"jobs per pass ${jobs.mkString(",")}"),
      report = Seq(
        Sample("curate_docs_per_s", rate, "1/s", secs.size),
        Sample("dedup_recall", recall, "ratio", docs.planted.size)))
  }

  def traceUnit(ctx: Ctx, spans: Spans): Traced = {
    val t0 = System.currentTimeMillis()
    val (o, secs) = Util.timed(pass(ctx, spans, path))
    val jobs = ctx.ledger.window(t0, System.currentTimeMillis() + 1).sqlJobs
    Traced(secs, jobs, check(if (spans eq NoSpans) "untraced" else "traced", o)._1)
  }
}
