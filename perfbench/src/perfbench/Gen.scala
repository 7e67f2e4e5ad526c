package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything the program reads is written to
  * files by these before set-up starts; the truth each workload is checked
  * against is computed here, from the generator's own model.
  */
object Gen {

  /** A document set with planted near-duplicate pairs, exact copies and
    * low-quality junk. Texts are lowercase words joined by single spaces,
    * so word shingles are unambiguous and the driver-side Jaccard below
    * is exactly the engine's.
    */
  final case class Docs(ids: Array[Long], texts: Array[String],
      planted: Seq[(Long, Long)], junk: Set[Long]) {
    lazy val textOf: Map[Long, String] = ids.iterator.zip(texts.iterator).toMap
  }

  private def vocabulary(r: Random, n: Int): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toArray
  }

  // skewed word choice: low indices are common, like natural text
  private def word(r: Random, vocab: Array[String]): String = {
    val u = r.nextDouble()
    vocab((vocab.length * u * u).toInt)
  }

  /** `n` documents of 300-600 characters: ~10% planted near-duplicates
    * (10% of word positions substituted, shingle Jaccard ~0.57), ~3%
    * exact copies and ~2% digit-only junk that the quality filter drops.
    */
  def docs(n: Int, seed: Long): Docs = {
    val r = new Random(seed)
    val vocab = vocabulary(r, 5000)
    def base(): Array[String] = {
      val target = 300 + r.nextInt(301)
      val ws = mutable.ArrayBuffer.empty[String]
      var len = -1
      while (len < target) { val w = word(r, vocab); ws += w; len += w.length + 1 }
      ws.toArray
    }
    val nNear = n / 10
    val nCopy = n * 3 / 100
    val nJunk = n / 50
    val nBase = n - nNear - nCopy - nJunk
    val bases = Array.fill(nBase)(base())
    // (text, kind, index of the base it derives from)
    val rows = mutable.ArrayBuffer.empty[(String, Int, Int)]
    bases.indices.foreach(i => rows += ((bases(i).mkString(" "), 0, i)))
    (0 until nNear).foreach { j =>
      val src = bases(j)
      val ws = src.clone()
      val subs = r.shuffle(ws.indices.toList).take(math.max(1, ws.length / 10))
      subs.foreach { p =>
        var w = word(r, vocab)
        while (w == src(p)) w = word(r, vocab)
        ws(p) = w
      }
      rows += ((ws.mkString(" "), 1, j))
    }
    (0 until nCopy).foreach(j => rows += ((bases(nNear + j).mkString(" "), 2, nNear + j)))
    (0 until nJunk).foreach { _ =>
      rows += ((Iterator.fill(40 + r.nextInt(40))(r.nextInt(100000).toString).mkString(" "), 3, -1))
    }
    val order = r.shuffle(rows.indices.toVector)
    val ids = new Array[Long](rows.size)
    val texts = new Array[String](rows.size)
    val idOfBase = new Array[Long](nBase)
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    val junk = mutable.Set.empty[Long]
    order.zipWithIndex.foreach { case (k, id) =>
      ids(id) = id.toLong
      texts(id) = rows(k)._1
      if (rows(k)._2 == 0) idOfBase(rows(k)._3) = id.toLong
      if (rows(k)._2 == 3) junk += id.toLong
    }
    order.zipWithIndex.foreach { case (k, id) =>
      if (rows(k)._2 == 1) {
        val b = idOfBase(rows(k)._3)
        planted += ((math.min(b, id.toLong), math.max(b, id.toLong)))
      }
    }
    Docs(ids, texts, planted.toSeq, junk.toSet)
  }

  def shingles(text: String, n: Int = 3): Set[String] = {
    val ws = text.split(" ")
    if (ws.length < n) Set(text) else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  /** Inputs are written as this many files, so a read has parallelism
    * independent of the machine, as a sharded corpus would.
    */
  val shards = 8

  /** Lines into `shards` files under `dir`, in order; returns the bytes. */
  private def writeSharded(dir: Path, lines: IndexedSeq[String]): Long = {
    Files.createDirectories(dir)
    val per = (lines.size + shards - 1) / shards
    lines.grouped(math.max(1, per)).zipWithIndex.map { case (part, i) =>
      val p = dir.resolve(f"part-$i%05d")
      val w = Files.newBufferedWriter(p, UTF_8)
      try part.foreach { l => w.write(l); w.write("\n") } finally w.close()
      Files.size(p)
    }.sum
  }

  /** Tab-separated `id<TAB>text` lines of the first `until` documents. */
  def writeDocs(dir: Path, d: Docs, until: Int = Int.MaxValue): Long =
    writeSharded(dir, d.ids.indices.take(until).map(i => s"${d.ids(i)}\t${d.texts(i)}"))

  /** `n` vectors of dimension `dim` around `clusters` Gaussian centres. */
  def vectors(n: Int, dim: Int, clusters: Int, seed: Long): Array[Array[Double]] = {
    val r = new Random(seed)
    val centres = Array.fill(clusters, dim)(r.nextGaussian())
    Array.fill(n) {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(i => c(i) + 0.35 * r.nextGaussian())
    }
  }

  /** JSON lines `{"id": .., "vec": [..]}`, ids `firstId` upwards. */
  def writeVectors(dir: Path, vs: Array[Array[Double]], firstId: Long = 0L): Long =
    writeSharded(dir, vs.indices.map(i => s"""{"id":${firstId + i},"vec":[${vs(i).mkString(",")}]}"""))
}
