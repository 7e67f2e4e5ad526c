package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity}

/** Serving beside writes on one Similarity store: a layered k-NN graph
  * index and a BM25 inverted index are built, then a closed loop (one
  * client) issues hybrid reads -- a 16-query layered graph serve plus a
  * 16-query indexed BM25 batch -- with partitioned appends and deletes
  * between them, which later reads see. Per-call cost here is job count,
  * not data volume.
  */
final class Search(nVectors: Int, nDocs: Int, nWarm: Int) extends Workload {
  val name = "search"
  val layers = Seq("similarity.build", "similarity.store", "similarity.serve",
    "similarity.append", "similarity.delete", "retrieval.bm25", "retrieval.index")

  private val dim = 64
  private val batch = 16
  private val k = 10
  // one write moves 1% of the corpus
  private val writeRows = math.max(1, nVectors / 100)
  private val nArrivals = writeRows * 40
  private val nQueries = batch * 32
  private val queryBase = 1000000000L

  private var vecPath: String = _
  private var queryPath: String = _
  private var docPath: String = _
  private var terms: IndexedSeq[Seq[String]] = _
  private var seed: Long = _

  def generate(dir: Path, seed: Long): Seq[(String, Long)] = {
    this.seed = seed
    val vs = Gen.vectors(nVectors + nArrivals + nQueries, dim, 32, seed)
    vecPath = dir.resolve("vectors").toString
    queryPath = dir.resolve("queries").toString
    docPath = dir.resolve("docs").toString
    val vBytes = Gen.writeVectors(dir.resolve("vectors"), vs.take(nVectors + nArrivals))
    Gen.writeVectors(dir.resolve("queries"), vs.drop(nVectors + nArrivals), queryBase)
    val docs = Gen.docs(nDocs, seed + 1)
    val dBytes = Gen.writeDocs(dir.resolve("docs"), docs)
    val r = new Random(seed + 2)
    val good = docs.ids.filterNot(docs.junk)
    terms = IndexedSeq.fill(nQueries) {
      val ws = docs.textOf(good(r.nextInt(good.length))).split(" ").distinct
      r.shuffle(ws.toSeq).take(2 + r.nextInt(2))
    }
    Seq("vectors" -> nVectors.toLong, "arrivals" -> nArrivals.toLong, "vector_bytes" -> vBytes,
      "bm25_docs" -> nDocs.toLong, "bm25_doc_bytes" -> dBytes, "warm_vectors" -> nWarm.toLong)
  }

  /** One store under test: the graph index, the BM25 index and the live
    * id range [0, upTo) minus `deleted`.
    */
  private final class Store(val index: Similarity.KnnGraphIndex, val bm25: Retrieval.InvertedIndex,
      val docLimit: Int, var upTo: Long, val deleted: mutable.ArrayBuffer[Long], val rnd: Random) {
    var nextQuery = 0
  }

  private def vectors(ctx: Ctx): DataFrame =
    ctx.spark.read.schema("id LONG, vec ARRAY<DOUBLE>").json(vecPath)

  private def live(upTo: Long, deleted: Seq[Long]): Column =
    if (deleted.isEmpty) col("id") < upTo else col("id") < upTo && !col("id").isin(deleted: _*)

  private def docs(ctx: Ctx, docLimit: Int): DataFrame =
    ctx.spark.read.schema("id LONG, text STRING").option("sep", "\t").csv(docPath)
      .where(col("id") < docLimit)

  private def build(ctx: Ctx, span: Spans, upTo: Long, docLimit: Int): Store = {
    val spark = ctx.spark
    val corpus = vectors(ctx).where(live(upTo, Nil))
    // one layer: at this corpus size a second layer holds ~125 nodes and
    // would double the job count of every build, serve and write
    val graph = span("similarity.build")(
      Similarity.knnGraphBuildLayers(corpus, k = 8, levels = 0).head.localCheckpoint())
    val index = span("similarity.store") {
      Similarity.knnGraphWritePartitioned(spark, graph, corpus,
        ctx.scratch("store").resolve("knn").toString, parts = 8, k = 8)
    }
    Util.release(graph)
    val bm25 = span("retrieval.index") {
      val ix = Retrieval.buildInvertedIndex(docs(ctx, docLimit), col("id"), col("text"))
      val p = ix.postings.persist()
      p.count()
      ix.copy(postings = p)
    }
    new Store(index, bm25, docLimit, upTo, mutable.ArrayBuffer.empty, new Random(seed + upTo))
  }

  private def drop(s: Store): Unit = Util.release(s.bm25.postings)

  private final case class Read(annMs: Double, bm25Ms: Double, jobs: Int, hits: Int, truth: Int,
      bm25Ok: Boolean)

  /** A hybrid read of the next 16 queries; recall and the BM25 oracle are
    * computed after the timed legs.
    */
  private def read(ctx: Ctx, span: Spans, s: Store, verifyBm25: Boolean): Read = {
    val spark = ctx.spark
    val first = s.nextQuery
    s.nextQuery = (s.nextQuery + batch) % nQueries
    val q = spark.read.schema("id LONG, vec ARRAY<DOUBLE>").json(queryPath)
      .where(col("id") >= queryBase + first && col("id") < queryBase + first + batch)
    val tq = (first until first + batch).map(i => (i.toLong, terms(i)))
    val corpus = vectors(ctx).where(live(s.upTo, s.deleted.toSeq))
    val t0 = System.currentTimeMillis()
    val (ann, annS) = Util.timed(span("similarity.serve") {
      val r = Similarity.knnGraphServeLayered(q,
        Seq(Similarity.knnGraphReadEdges(spark, s.index)),
        corpus, k = k, beam = 16, hopsPerLayer = 2)
      val rows = r.collect()
      Util.release(r)
      rows
    })
    val (bm, bmS) = Util.timed(span("retrieval.bm25") {
      Retrieval.bm25IndexedTopK(s.bm25, tq, k).collect()
    })
    val jobs = ctx.ledger.window(t0, System.currentTimeMillis() + 1).sqlJobs
    val truthDf = Similarity.bruteForceTopK(q, corpus, k)
    val truth = truthDf.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = ann.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bm25Ok = !verifyBm25 || {
      val scan = Retrieval.bm25BatchTopK(docs(ctx, s.docLimit), col("id"), col("text"), tq, k).collect()
      scan.map(_.toSeq).toSet == bm.map(_.toSeq).toSet
    }
    Read(annS * 1e3, bmS * 1e3, jobs, (got intersect truth).size, truth.size, bm25Ok)
  }

  private def append(ctx: Ctx, span: Spans, s: Store): Double = {
    val upTo = s.upTo + writeRows
    val (_, secs) = Util.timed(span("similarity.append")(
      Similarity.knnGraphAppendPartitioned(ctx.spark, s.index,
        vectors(ctx).where(live(upTo, s.deleted.toSeq)), col("id") >= s.upTo)))
    s.upTo = upTo
    secs * 1e3
  }

  private def delete(ctx: Ctx, span: Spans, s: Store): Double = {
    val gone = s.deleted.toSet
    val victims = s.rnd.shuffle((0L until s.upTo).filterNot(gone)).take(writeRows)
    val (_, secs) = Util.timed(span("similarity.delete")(
      Similarity.knnGraphDeletePartitioned(ctx.spark, s.index,
        vectors(ctx).where(live(s.upTo, s.deleted.toSeq)), col("id").isin(victims: _*))))
    s.deleted ++= victims
    secs * 1e3
  }

  def warmup(ctx: Ctx): Unit = {
    val s = build(ctx, NoSpans, nWarm, nWarm)
    read(ctx, NoSpans, s, verifyBm25 = false)
    drop(s)
  }

  // the closed loop's repeating op pattern: one write after each read
  private val pattern = Seq('r', 'a', 'r', 'd')

  def measure(ctx: Ctx, seconds: Double): Measured = {
    val (s, buildS) = Util.timed(build(ctx, NoSpans, nVectors, nDocs))
    ctx.sampleHeap()
    val reads = mutable.ArrayBuffer.empty[Read]
    val appends = mutable.ArrayBuffer.empty[Double]
    val deletes = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // at least one whole pattern, so every op kind is timed
    while (i < pattern.size || System.nanoTime() < deadline) {
      pattern(i % pattern.size) match {
        case 'r' =>
          reads += read(ctx, NoSpans, s, verifyBm25 = reads.isEmpty)
        case 'a' => appends += append(ctx, NoSpans, s)
        case 'd' => deletes += delete(ctx, NoSpans, s)
      }
      i += 1
    }
    ctx.sampleHeap()
    drop(s)
    val busyS = (reads.map(r => r.annMs + r.bm25Ms).sum + appends.sum + deletes.sum) / 1e3
    val recall = reads.map(_.hits).sum.toDouble / reads.map(_.truth).sum
    val readMs = reads.map(r => r.annMs + r.bm25Ms).toSeq
    Measured(
      itemsPerS = batch * reads.size / busyS,
      p50Ms = Util.median(readMs),
      quality = recall,
      units = readMs.map(_ / 1e3),
      attempted = reads.size + appends.size + deletes.size + 1,
      checks = Seq(
        Check("search.bm25_indexed_equals_scan", reads.head.bm25Ok, "first read batch"),
        Check("search.recall_truth", reads.forall(_.truth == batch * k), "brute force returned k per query"),
        Check("search.read_jobs_repeat", reads.map(_.jobs).distinct.size == 1,
          s"jobs per read ${reads.map(_.jobs).mkString(",")}")),
      report = Seq(
        Sample("index_build_s", buildS, "s", 1),
        Sample("ann_p50_ms", Util.median(reads.map(_.annMs).toSeq), "ms", reads.size),
        Sample("ann_recall_at_10", recall, "ratio", reads.size * batch),
        Sample("bm25_p50_ms", Util.median(reads.map(_.bm25Ms).toSeq), "ms", reads.size),
        Sample("append_p50_ms", Util.median(appends.toSeq), "ms", appends.size),
        Sample("delete_p50_ms", Util.median(deletes.toSeq), "ms", deletes.size)))
  }

  def traceUnit(ctx: Ctx, spans: Spans): Traced = {
    val t0 = System.currentTimeMillis()
    val (rd, secs) = Util.timed {
      val s = build(ctx, spans, nVectors, nDocs)
      val rs = pattern.flatMap {
        case 'r' => Some(read(ctx, spans, s, verifyBm25 = false))
        case 'a' => append(ctx, spans, s); None
        case 'd' => delete(ctx, spans, s); None
      }
      drop(s)
      rs
    }
    val jobs = ctx.ledger.window(t0, System.currentTimeMillis() + 1).sqlJobs
    Traced(secs, jobs, Seq(Check(s"search.${if (spans eq NoSpans) "untraced" else "traced"}_reads",
      rd.nonEmpty && rd.forall(_.truth == batch * k), s"${rd.size} reads")))
  }
}
