package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis}

/** The native near-dup expressions must agree BIT-FOR-BIT with the
  * declarative (built-in xxhash64) formulations they replace — that is
  * the whole hash-compatibility contract — and must actually compile
  * under codegen (fallback disabled, so a janino failure fails the
  * suite instead of silently interpreting).
  */
class MinHashExpressionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.SparkTestBase.strictCodegen()

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"),
      (2L, "Entirely Different Text About SPARK engines and shuffles"),
      (3L, "short text"),
      (4L, "one"),
      (5L, "   "),
      (6L, "the the the the repeated repeated the the")
    ).toDF("doc_id", "text")
  }

  test("shingle_hashes agrees with xxhash64 over concat_ws shingles") {
    // declarative reference: hash each 3-gram string with built-in
    // xxhash64 — the exact formulation the native runtime replicates
    val declarative = docs
      .select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val native = docs
      .select(col("doc_id"), explode(MinHash.shingleHashes(col("text"), 3)).as("h"))
    assert(native.exceptAll(declarative).count() == 0)
    assert(declarative.exceptAll(native).count() == 0)
  }

  test("window_hashes: positional (repeats kept), short docs empty, xxhash64-exact") {
    import spark.implicits._
    val df = Seq((1L, "p q r p q r p q"), (2L, "a b")).toDF("doc_id", "text")
    // declarative reference: every 3-token window position, hashed
    val toks = graft.operators.TextAnalysis.tokens(lower(col("text")))
    val declarative = df
      .select(col("doc_id"), explode(when(size(toks) >= 3,
          transform(sequence(lit(0), size(toks) - 3),
            i => concat_ws(" ", slice(toks, i + lit(1), lit(3)))))
        .otherwise(array().cast("array<string>"))).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    val native = df.select(col("doc_id"),
      explode(MinHash.windowHashes(col("text"), 3)).as("h"))
    assert(native.exceptAll(declarative).count() == 0)
    assert(declarative.exceptAll(native).count() == 0)
    assert(native.count() == 6)  // doc 1 only; within-doc repeats present
    assert(spark.sql("SELECT size(window_hashes('a b c d', 3)) AS n").head().getInt(0) == 2)
  }

  test("minhash_sig agrees with the min(xxhash64(h, seed)) aggregate") {
    val ex = Dedup.explodedHashedShingles(docs, col("doc_id"), col("text"), 3)
    val k = 8
    val minCols = (0 until k).map(s => min(xxhash64(col("h"), lit(s))).as(s"m$s"))
    val declarative = ex.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until k).map(s => col(s"m$s")): _*).as("sig"))
    val native = Dedup.shingleArrays(docs, col("doc_id"), col("text"), 3)
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), MinHash.minhashSig(col("sh"), k).as("sig"))
    val joined = declarative.as("d").join(native.as("n"), "doc_id")
      .where(col("d.sig") =!= col("n.sig"))
    assert(joined.count() == 0)
  }

  test("lsh_band_keys agrees with the concat_ws/slice formulation") {
    val k = 8; val bands = 4; val rows = 2
    val sigs = Dedup.shingleArrays(docs, col("doc_id"), col("text"), 3)
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), MinHash.minhashSig(col("sh"), k).as("sig"))
    val declarative = sigs.select(col("doc_id"),
      Dedup.lshBands(col("sig"), bands, rows).as("bk"))
    val native = sigs.select(col("doc_id"),
      MinHash.lshBandKeys(col("sig"), bands, rows).as("bk"))
    val joined = declarative.as("d").join(native.as("n"), "doc_id")
      .where(col("d.bk") =!= col("n.bk"))
    assert(joined.count() == 0)
  }

  test("simhash64 agrees with the explode + 64-sum aggregate") {
    // declarative reference: the round-1 aggregate formulation
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$i")
    }
    val agged = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sig = (0 until 64).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val declarative = agged.select(col("doc_id"), sig.as("sig"))
    val native = Dedup.simhashSignatures(docs, col("doc_id"), col("text"))
    val joined = declarative.as("d").join(native.as("n"), "doc_id")
      .where(col("d.sig") =!= col("n.sig"))
    assert(joined.count() == 0)
    // whitespace-only doc 5 is dropped by both formulations
    assert(native.count() == declarative.count())
  }

  test("portable_minhash_sig agrees with the declarative portableHash60 formulation") {
    val k = 8
    val declarative = docs
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("shs"))
      .where(size(col("shs")) > 0)
      .select(col("doc_id"), Dedup.portableMinhashSignature(col("shs"), k).as("sig"))
    val native = docs
      .where(size(MinHash.shingleHashes(col("text"), 3)) > 0)
      .select(col("doc_id"), MinHash.portableMinhashSig(col("text"), 3, k).as("sig"))
    val joined = declarative.as("d").join(native.as("n"), "doc_id")
      .where(col("d.sig") =!= col("n.sig"))
    assert(joined.count() == 0)
    assert(native.count() == declarative.count())
  }

  test("simhash60_md5 agrees with the declarative simhash60Portable formulation") {
    val declarative = docs.where(col("text").rlike("\\S"))
      .select(col("doc_id"), Dedup.simhash60Portable(col("text")).as("sig"))
    val native = docs.where(col("text").rlike("\\S"))
      .select(col("doc_id"), MinHash.simhash60md5(col("text")).as("sig"))
    val joined = declarative.as("d").join(native.as("n"), "doc_id")
      .where(col("d.sig") =!= col("n.sig"))
    assert(joined.count() == 0)
  }

  test("expressions are SQL-callable through the session extension") {
    val r = spark.sql(
      """SELECT size(shingle_hashes('a b c d', 3)) AS n_sh,
        |       size(minhash_sig(shingle_hashes('a b c d', 3), 16)) AS n_sig,
        |       size(lsh_band_keys(minhash_sig(shingle_hashes('a b c d', 3), 16), 4, 4)) AS n_bands,
        |       simhash64('hello world') AS sh
        |""".stripMargin).head()
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 16)
    assert(r.getInt(2) == 4)
  }

  test("lsh_band_keys rejects bands*rows beyond the signature length") {
    // UnsafeArrayData.getLong does not bounds-check in production —
    // without the guard this read returns nondeterministic heap garbage
    val e = intercept[Exception] {
      spark.sql("SELECT lsh_band_keys(minhash_sig(shingle_hashes('a b c d', 3), 8), 4, 4)").head()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("exceeds signature length")))
  }

  test("expressions are null-preserving, matching the declarative formulations") {
    val r = spark.sql(
      """SELECT shingle_hashes(CAST(NULL AS STRING), 3) IS NULL AS sh_null,
        |       simhash64(CAST(NULL AS STRING)) IS NULL AS sim_null,
        |       minhash_sig(CAST(NULL AS ARRAY<BIGINT>), 8) IS NULL AS sig_null,
        |       lsh_band_keys(CAST(NULL AS ARRAY<BIGINT>), 2, 4) IS NULL AS bk_null
        |""".stripMargin).head()
    (0 until 4).foreach(i => assert(r.getBoolean(i), s"column $i not null-preserving"))
  }

  test("SQL misuse fails at analysis with a clear message, not an internal error") {
    // wrong arity
    val e1 = intercept[Exception] { spark.sql("SELECT shingle_hashes('a b')").head() }
    assert(e1.getMessage.contains("expects 2 arguments"))
    // non-integer literal for a count argument
    val e2 = intercept[Exception] { spark.sql("SELECT minhash_sig(array(1L), 'x')").head() }
    assert(e2.getMessage.contains("integer literal"))
    // wrong child type: analysis-time data type mismatch
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_hashes(123, 3)").head()
    }
  }

  test("minhash plan is shuffle-free up to banding") {
    val banded = Dedup.shingleArrays(docs, col("doc_id"), col("text"), 3)
      .where(size(col("sh")) > 0)
      .select(col("doc_id"),
        explode(MinHash.lshBandKeys(MinHash.minhashSig(col("sh"), 32), 8, 4)).as("band"))
    assert(!graft.operators.Scale.hasShuffle(banded))
  }
}
