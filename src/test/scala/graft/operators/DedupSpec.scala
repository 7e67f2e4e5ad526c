package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase

class DedupSpec extends SparkTestBase {

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"),    // near dup of 0
    (3L, "completely different content about spark engines"),
    (4L, "THE  QUICK brown fox jumps over the lazy dog"))     // case/ws variant of 0

  test("exactDedup groups case/whitespace-normalized duplicates") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val groups = Dedup.exactDedup(df, col("doc_id"), col("text"))
      .select("keep_id", "n_dups").as[(Long, Long)].collect().sortBy(_._1)
    // 0,1,4 normalize equal; 2 and 3 singletons
    assert(groups.toSeq == Seq((0L, 3L), (2L, 1L), (3L, 1L)))
  }

  test("dedupLines: first occurrence survives, blanks kept, order preserved") {
    import spark.implicits._
    val df = Seq(
      (0L, "alpha\nshared line\n\nomega"),
      (1L, "shared line\nbeta"),          // "shared line" first seen in doc 0
      (2L, "  shared line \ngamma"),      // trim-keyed: also a repeat
      (3L, "\n\n")                        // blanks only: all kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, col("doc_id"), col("text"))
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 4L, 4L, "alpha\nshared line\n\nomega"),
      (1L, 2L, 1L, "beta"),
      (2L, 2L, 1L, "gamma"),
      (3L, 3L, 3L, "\n\n")))
  }

  test("dedupLines: within-doc repeats also collapse to the first occurrence") {
    import spark.implicits._
    val df = Seq((7L, "x\ny\nx\nx")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(df, col("doc_id"), col("text"))
      .select("n_lines", "n_kept", "text_dedup").as[(Long, Long, String)].head()
    assert(out == ((4L, 2L, "x\ny")))
  }

  test("duplicateSpans: cross-doc and within-doc repeated windows counted, rest not") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d e f"),        // windows(3): abc bcd cde def
      (1L, "x a b c d y"),        // xab abc bcd cdy -> abc,bcd duplicated
      (2L, "p q r p q r p q"),    // pqr qrp rpq pqr qrp rpq -> all 6 dup'd (within-doc)
      (3L, "u v")                 // < 3 tokens: absent
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(df, col("doc_id"), col("text"), k = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_windows", "n_dup_windows")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 4L, 2L), (1L, 4L, 2L), (2L, 6L, 6L)))
    // hashed-key scale path: identical result — including on text with
    // leading non-space whitespace (tokens() and the native tokensOf
    // must agree that "\ta b c d e f" has no phantom empty token)
    val tabbed = df.withColumn("text",
      when(col("doc_id") === 0L, concat(lit("\t"), col("text"))).otherwise(col("text")))
    for (frame <- Seq(df, tabbed)) {
      val exact = Dedup.duplicateSpans(frame, col("doc_id"), col("text"), k = 3)
        .orderBy("doc_id").select("doc_id", "n_windows", "n_dup_windows")
        .as[(Long, Long, Long)].collect().toSeq
      val hashed = Dedup.duplicateSpans(frame, col("doc_id"), col("text"), k = 3, hashKeys = true)
        .orderBy("doc_id").select("doc_id", "n_windows", "n_dup_windows")
        .as[(Long, Long, Long)].collect().toSeq
      assert(hashed == exact)
      assert(exact == out)
    }
  }

  test("removeDuplicateSpans: covered positions cut, case-insensitive, originals kept") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c d e"),         // "a b c" duplicated with doc 1 -> cut 0..2
      (1L, "x A B C y"),         // match is case-insensitive; survivors keep case
      (2L, "u v w"),             // unique window: intact
      (3L, "s t"),               // < k tokens: intact
      (4L, "p q r z p q r")      // within-doc repeat: covers 0..2 and 4..6
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(df, col("doc_id"), col("text"), k = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 5L, 3L, "d e"),
      (1L, 5L, 3L, "x y"),
      (2L, 3L, 0L, "u v w"),
      (3L, 2L, 0L, "s t"),
      (4L, 7L, 6L, "z")))
    // hashed-key scale path: identical output
    val hashed = Dedup.removeDuplicateSpans(df, col("doc_id"), col("text"), k = 3,
      hashKeys = true)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(hashed == out)
    // consistency with the detection signal (q83's operator): a doc
    // loses tokens iff duplicateSpans reports dup windows for it. A
    // second pass is a no-op HERE because no survivor has k tokens —
    // in general cuts can make remnants coincide, so removal is
    // convergent (re-run until clean), not one-shot idempotent.
    val flagged = Dedup.duplicateSpans(df, col("doc_id"), col("text"), k = 3)
      .where(col("n_dup_windows") > 0).select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._3 > 0).map(_._1).toSet == flagged)
    val again = Dedup.removeDuplicateSpans(
      Dedup.removeDuplicateSpans(df, col("doc_id"), col("text"), k = 3)
        .select(col("doc_id"), col("cleaned_text").as("text")),
      col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, String)].collect()
    assert(again.forall(_._3 == 0L), s"second pass removed tokens: ${again.mkString(",")}")
  }

  test("maximalDuplicateSpans: variable-length merged runs — hand-computed") {
    import spark.implicits._
    // common1 = 12 shared tokens (A<->B), common2 = 9 shared (A<->C);
    // A carries both regions separated by 9 unique tokens
    val common1 = (1 to 12).map(i => s"c$i").mkString(" ")
    val common2 = (1 to 9).map(i => s"d$i").mkString(" ")
    val uniq = (1 to 9).map(i => s"u$i").mkString(" ")
    val df = Seq(
      (0L, s"$common1 $uniq $common2"), // spans [0,12) and [21,30)
      (1L, common1),                    // span [0,12)
      (2L, s"v1 v2 $common2")           // span [2,11)
    ).toDF("doc_id", "text")
    val out = Dedup.maximalDuplicateSpans(df, col("doc_id"), col("text"), k = 8)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 12L, common1),
      (0L, 21L, 9L, common2),
      (1L, 0L, 12L, common1),
      (2L, 2L, 9L, common2)))
    // union-of-spans equals exactly what removeDuplicateSpans cuts
    // (spans are disjoint maximal runs, so their lengths sum to the
    // covered-position count)
    val sums = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val removed = Dedup.removeDuplicateSpans(df, col("doc_id"), col("text"), k = 8)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(removed.filter(_._2 > 0) == sums)
    // fixed-k equivalence: duplicates of EXACTLY k tokens yield spans
    // of length exactly k — the k-gram window set itself
    val exact = Seq(
      (0L, "p q r s t u v w a1 a2"),
      (1L, "b1 b2 p q r s t u v w")).toDF("doc_id", "text")
    val spans = Dedup.maximalDuplicateSpans(exact, col("doc_id"), col("text"), k = 8)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(spans == Seq(
      (0L, 0L, 8L, "p q r s t u v w"),
      (1L, 2L, 8L, "p q r s t u v w")))
    // hashed-key scale path: identical spans
    val hashed = Dedup.maximalDuplicateSpans(df, col("doc_id"), col("text"), k = 8,
      hashKeys = true).orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(hashed == out)
  }

  test("removeBenchmarkSpans: only benchmark-matching spans cut — hand-computed") {
    import spark.implicits._
    val secret = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token eval string
    val docs = Seq(
      (0L, s"a b $secret c d"),  // contains the eval string -> positions 2..11 cut
      (1L, "a b c d e f g h"),   // clean 8 tokens: intact
      (2L, s"${secret.toUpperCase} tail") // case-insensitive match -> 0..9 cut
    ).toDF("doc_id", "text")
    val bench = Seq(secret, "q r s t u v w x y z").toDF("btext") // 2nd entry matches nothing
    val out = Dedup.removeBenchmarkSpans(docs, col("doc_id"), col("text"),
      bench, col("btext"), k = 8)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (0L, 14L, 10L, "a b c d"),
      (1L, 8L, 0L, "a b c d e f g h"),
      (2L, 11L, 10L, "tail")))
    // self-duplication without benchmark membership must NOT cut:
    // two identical corpus docs, benchmark disjoint
    val selfdup = Seq((0L, "m n o p q r s t"), (1L, "m n o p q r s t")).toDF("doc_id", "text")
    val clean = Dedup.removeBenchmarkSpans(selfdup, col("doc_id"), col("text"),
      bench, col("btext"), k = 8)
      .as[(Long, Long, Long, String)].collect()
    assert(clean.forall(_._3 == 0L), "corpus-internal dups are not contamination")
    // hashed-key scale path identical
    val hashed = Dedup.removeBenchmarkSpans(docs, col("doc_id"), col("text"),
      bench, col("btext"), k = 8, hashKeys = true)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(hashed == out)
  }

  test("incrementalDedup keeps only fingerprints unseen in the known set") {
    import spark.implicits._
    val corpus = Seq((0L, "alpha beta"), (1L, "gamma delta")).toDF("doc_id", "text")
    val known = corpus.select(
      graft.operators.TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
    val batch = Seq(
      (10L, "ALPHA   beta"),  // dup of known 0 (normalization)
      (11L, "epsilon zeta"),  // new
      (12L, "epsilon zeta"),  // in-batch dup of 11
      (13L, "eta theta")      // new
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, col("doc_id"), col("text"), known)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L))
  }

  test("minhash near-dups finds the one-word-change pair and not the unrelated doc") {
    import spark.implicits._
    val df = docs.take(4).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, col("doc_id"), col("text"), threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical texts have distance 0, near texts small, far texts large") {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
    val sigs = df.as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(1L))
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(dist(0L, 2L) < dist(0L, 3L))
  }

  test("dedupGroups: connected components labeled by min id") {
    import spark.implicits._
    // components: {1,2,3,7} via chain, {4,5}, singleton pairs absent
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 7L), (4L, 5L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 4L -> 4L, 5L -> 4L)
    // driver union-find path (small graph)
    val small = Dedup.dedupGroups(pairs).as[(Long, Long)].collect().toMap
    assert(small == expected)
    // distributed min-label path (force with threshold 0)
    val dist = Dedup.dedupGroups(pairs, driverThreshold = 0L).as[(Long, Long)].collect().toMap
    assert(dist == expected)
  }

  test("dedupGroups: 30-link chain converges distributed (pointer doubling) or fails loudly") {
    import spark.implicits._
    // a diameter-30 path graph: the worst case for plain min-label
    // propagation (needs 30 linear rounds); pointer doubling closes it
    // in ~log2(30) rounds, well inside the default maxIter
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val dist = Dedup.dedupGroups(chain, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist.keySet == (0L to 30L).toSet)
    assert(dist.values.forall(_ == 0L), s"all 31 nodes label to 0: $dist")
    // starved of rounds, the operator must throw — never silently
    // return labels that split one true group into several
    val e = intercept[IllegalStateException] {
      Dedup.dedupGroups(chain, maxIter = 2, driverThreshold = 0L).count()
    }
    assert(e.getMessage.contains("did not reach a fixpoint"))
  }

  test("survivorship: longest non-null wins per field, ties ascending, singletons intact") {
    import spark.implicits._
    // entity {1,2,10}: name longest from 10, brand only on 1-2 (tie by
    // value), city null everywhere -> null; entity {4,5}: one-sided
    // fields stitch; record 9 unmatched -> its own entity, n_records 1
    val records = Seq(
      (1L, "acme", "BB", null.asInstanceOf[String]),
      (2L, "acme co", "AA", null.asInstanceOf[String]),
      (10L, "acme corp", null.asInstanceOf[String], null.asInstanceOf[String]),
      (4L, "zenith", null.asInstanceOf[String], "berlin"),
      (5L, "zenith gmbh", "ZZ", null.asInstanceOf[String]),
      (9L, "solo", "SS", "paris")).toDF("id", "name", "brand", "city")
    val pairs = Seq((1L, 2L), (2L, 10L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.survivorship(records, col("id"),
      Seq("name" -> col("name"), "brand" -> col("brand"),
        "city" -> col("city")), pairs)
      .as[(Long, Long, String, String, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, "acme corp", "AA", null),
      (4L, 2L, "zenith gmbh", "ZZ", "berlin"),
      (9L, 1L, "solo", "SS", "paris")))
  }

  test("keepBest keeps the highest-score duplicate, ties to the smallest id") {
    import spark.implicits._
    val df = Seq(
      (0L, "same text", 10L), (1L, "same text", 30L), (2L, "SAME   text", 30L),
      (3L, "other", 5L)).toDF("doc_id", "text", "quality")
    val groups = Dedup.keepBest(df, col("doc_id"), col("text"), col("quality"))
      .select("keep_id", "n_dups", "best_score").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // 0,1,2 normalize equal; best score 30 held by 1 and 2 -> smallest id 1
    assert(groups.toSeq == Seq((1L, 3L, 30L), (3L, 1L, 5L)))
  }

  test("contamination flags corpus docs sharing shingles with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"), // contaminated
      (1L, "completely unrelated corpus text about databases")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text"), n = 3, minShared = 3L)
      .select("doc_id", "bench_id", "n_shared").as[(Long, Long, Long)].collect()
    // doc 0 shares the benchmark's 7 distinct 3-gram shingles; doc 1 none
    assert(hits.toSeq == Seq((0L, 100L, 7L)))
  }

  test("simhash skew guard: a degenerate corpus of identical docs stays bounded") {
    import spark.implicits._
    // 60 identical docs: every signature is equal, so all 4 chunk
    // buckets hold all 60 docs. With the cap the quadratic bucket is
    // dropped and the join stays empty; without a cap this shape is a
    // stuck executor at corpus scale.
    val boiler = (0L until 60L).map(i => (i, "exact same boilerplate text repeated everywhere"))
    val capped = Dedup.simhashNearDups(boiler.toDF("doc_id", "text"),
      col("doc_id"), col("text"), maxDist = 3, maxBucket = 10)
    assert(capped.count() == 0)
    // generous cap: all C(60,2) distance-0 pairs come back
    val uncapped = Dedup.simhashNearDups(boiler.toDF("doc_id", "text"),
      col("doc_id"), col("text"), maxDist = 3, maxBucket = 1000)
    assert(uncapped.count() == 60L * 59 / 2)
  }

  // Seeded corpus for the recall properties: `nBase` random docs plus
  // a near-dup of each even-id doc (a few tokens swapped). Hashing is
  // deterministic, so with a pinned seed the recall below is a fixed
  // number — the assertion is a real regression gate, not flaky.
  private def seededCorpus(nBase: Int, vocab: Int, docLen: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = (0 until vocab).map(i => s"w$i")
    val base = (0 until nBase).map { i =>
      i.toLong * 2 -> Seq.fill(docLen)(words(rnd.nextInt(vocab))).mkString(" ")
    }
    val dups = base.collect { case (id, text) if id % 4 == 0 =>
      val toks = text.split(" ")
      val k = 1 + rnd.nextInt(2)
      (0 until k).foreach(_ => toks(rnd.nextInt(toks.length)) = words(rnd.nextInt(vocab)))
      (id + 1) -> toks.mkString(" ")
    }
    base ++ dups
  }

  test("ngram jaccard hot-shingle cap: no-op below the cap, drops boilerplate pairs above it") {
    import spark.implicits._
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon eta"),   // near dup of 0
      (2L, "one two three four five six"),
      (3L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    def run(cap: Int) = Dedup.ngramJaccardNearDups(df, col("doc_id"), col("text"),
      col("lang"), col("n_chars"), threshold = 0.4, bucketWidth = 1000, maxShingleFreq = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // no shingle is shared by more than 2 docs: cap=2 must equal exact
    assert(run(Int.MaxValue) == Set((0L, 1L)))
    assert(run(2) == Set((0L, 1L)))

    // a boilerplate header shared by ALL docs: uncapped, it alone links
    // every pair; capped, only the genuinely similar pair survives
    val boiler = Seq(
      (0L, "standard header text here alpha beta gamma delta"),
      (1L, "standard header text here alpha beta gamma zeta"),
      (2L, "standard header text here completely different body one"),
      (3L, "standard header text here another unrelated body two"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    def runB(cap: Int) = Dedup.ngramJaccardNearDups(boiler, col("doc_id"), col("text"),
      col("lang"), col("n_chars"), threshold = 0.15, bucketWidth = 1000, maxShingleFreq = cap)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(runB(Int.MaxValue).contains((2L, 3L))) // boilerplate alone links 2-3
    val capped = runB(3)
    assert(capped.contains((0L, 1L)), capped)     // real near-dup survives
    assert(!capped.contains((2L, 3L)), capped)    // boilerplate-only pair gone
  }

  test("minhash-LSH recall: candidates cover the exact high-jaccard pairs") {
    import spark.implicits._
    val df = seededCorpus(nBase = 40, vocab = 500, docLen = 30, seed = 42L).toDF("doc_id", "text")
    // ground truth: brute-force pairwise jaccard over the same hashed
    // shingle sets (the all-pairs shape the LSH path must avoid at
    // scale, affordable at 60 docs)
    val sh = Dedup.shingleArrays(df, col("doc_id"), col("text"), 3).where(size(col("sh")) > 0)
    val exact = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .where(col("j") >= 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus must contain high-jaccard pairs")
    val found = Dedup.minhashNearDups(df, col("doc_id"), col("text"), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = exact.count(found.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall below 0.8 (exact=${exact.size}, found ${exact.count(found.contains)})")
  }

  test("simhash recall: bucketed candidates equal brute-force hamming pairs") {
    import spark.implicits._
    val df = seededCorpus(nBase = 40, vocab = 50, docLen = 40, seed = 7L).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(df, col("doc_id"), col("text"))
    val exact = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.hamming(col("a.sig"), col("b.sig")).as("d"))
      .where(col("d") <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = Dedup.simhashNearDups(df, col("doc_id"), col("text"), maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // pigeonhole bucketing is EXACT for hamming <= 3 with 4 chunks:
    // candidates must equal the brute-force pair set, not approximate it
    assert(found == exact)
  }

  test("portableHash60: matches an independent md5 computation (the cross-engine contract)") {
    import spark.implicits._
    def expected(seed: Int, v: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val vals = Seq("hello world foo", "", "a", "wörd ünïcode")
    val got = vals.toDF("v")
      .select(Dedup.portableHash60(col("v"), 0), Dedup.portableHash60(col("v"), 7))
      .as[(Long, Long)].collect()
    vals.zip(got).foreach { case (v, (h0, h7)) =>
      assert(h0 == expected(0, v), s"seed 0 mismatch for '$v'")
      assert(h7 == expected(7, v), s"seed 7 mismatch for '$v'")
    }
  }

  test("portable simhash near-dups: output equals brute-force hamming pairs") {
    import spark.implicits._
    val df = seededCorpus(nBase = 40, vocab = 50, docLen = 40, seed = 7L).toDF("doc_id", "text")
    val sigs = df.where(col("text").rlike("\\S"))
      .select(col("doc_id"), Dedup.simhash60Portable(col("text")).as("sig"))
    val exact = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.hamming(col("a.sig"), col("b.sig")).as("d"))
      .where(col("d") <= 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus must contain close simhash pairs")
    val found = Dedup.simhashNearDupsPortable(df, col("doc_id"), col("text"), maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found == exact)
    // 60-bit contract: every signature fits in the positive long range
    assert(sigs.where(col("sig") < 0 || col("sig") >= (1L << 60)).count() == 0)
  }

  test("portable minhash-LSH: verified-exact precision, recall >= 0.8 vs exact pairs") {
    import spark.implicits._
    val df = seededCorpus(nBase = 40, vocab = 500, docLen = 30, seed = 42L).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val exactAll = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
    val exactHigh = exactAll.where(col("j") >= 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactAbove = exactAll.where(col("j") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exactHigh.nonEmpty, "corpus must contain high-jaccard pairs")
    val found = Dedup.minhashNearDupsPortable(df, col("doc_id"), col("text"), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precision is exact by construction (candidates are verified)
    assert(found.subsetOf(exactAbove), s"unverified pair leaked: ${found -- exactAbove}")
    val recall = exactHigh.count(found.contains).toDouble / exactHigh.size
    assert(recall >= 0.8, s"LSH recall $recall below 0.8")
  }

  // The verify tail both MinHash-LSH operators had before they shared
  // one pipelined chain: persisted candidate pairs, read three times
  // (the id union for a semi-join of the shingle sets, then both set
  // joins). Kept as the reference the single-chain form must equal row
  // for row.
  private def threeJoinVerify(withSh: org.apache.spark.sql.DataFrame, bandKeys: Column,
      threshold: Double, maxBucket: Int): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    val cached = withSh.persist()
    cached.count()
    val banded = cached.select(col("doc_id"), explode(bandKeys).as("band"))
    val hot = banded.groupBy("band").agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket).select("band")
    val small = banded.join(broadcast(hot), Seq("band"), "left_anti")
    val candidates = small.select(col("band"), col("doc_id").as("id_a"))
      .join(small.select(col("band"), col("doc_id").as("id_b")), Seq("band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .persist()
    val candIds = candidates.select(col("id_a").as("doc_id"))
      .union(candidates.select(col("id_b")))
      .distinct()
    val sets = cached.join(candIds, "doc_id")
    val out = candidates
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    candidates.unpersist()
    cached.unpersist()
    out
  }

  test("minhash-LSH verify: both variants equal the three-join reference row for row") {
    import spark.implicits._
    // 0/1: exact copies (jaccard 1.0); 2/3: 3-gram sets {abc,bcd,cde}
    // and {abc,bcd,cdx}, jaccard exactly 0.5 = the threshold; 10..15:
    // six identical boilerplate docs, which every band puts in one
    // bucket of 6 > maxBucket 4; 20/21: empty and whitespace-only
    val fixed = Seq(
      (0L, "north wind carries the smell of rain over dry hills"),
      (1L, "north wind carries the smell of rain over dry hills"),
      (2L, "qa qb qc qd qe"),
      (3L, "qa qb qc qd qx"),
      (20L, ""),
      (21L, " \t  \n ")) ++
      (10L to 15L).map(i => (i, "standard footer text repeated on every single page"))
    val df = (fixed ++ seededCorpus(nBase = 30, vocab = 200, docLen = 20, seed = 5L)
      .map { case (i, t) => (i + 100, t) }).toDF("doc_id", "text")
    val (k, bands, threshold) = (32, 32, 0.5)
    val variants = Seq(
      "minhashNearDups" -> ((mb: Int) =>
        Dedup.minhashNearDups(df, col("doc_id"), col("text"), k = k, bands = bands,
          threshold = threshold, maxBucket = mb)),
      "minhashNearDupsPortable" -> ((mb: Int) =>
        Dedup.minhashNearDupsPortable(df, col("doc_id"), col("text"), k = k, bands = bands,
          threshold = threshold, maxBucket = mb)))
    val xxSh = Dedup.shingleArrays(df, col("doc_id"), col("text"), 3).where(size(col("sh")) > 0)
    val portableSh = df.select(col("doc_id"),
        graft.functions.MinHash.shingleHashes(col("text"), 3).as("sh"),
        graft.functions.MinHash.portableMinhashSig(col("text"), 3, k).as("sig"))
      .where(size(col("sh")) > 0)
    val references = Map(
      "minhashNearDups" -> ((mb: Int) => threeJoinVerify(xxSh, graft.functions.MinHash.lshBandKeys(
        graft.functions.MinHash.minhashSig(col("sh"), k), bands, k / bands), threshold, mb)),
      "minhashNearDupsPortable" -> ((mb: Int) => threeJoinVerify(portableSh,
        graft.functions.MinHash.lshBandKeys(col("sig"), bands, k / bands), threshold, mb)))
    for ((name, run) <- variants; maxBucket <- Seq(4, 1000)) {
      val res = run(maxBucket)
      val got = res.as[(Long, Long, Double)].collect().toSeq.sorted
      res.unpersist()
      assert(got == references(name)(maxBucket), s"$name, maxBucket $maxBucket")
      val byPair = got.map(r => (r._1, r._2) -> r._3).toMap
      assert(byPair.get((0L, 1L)).contains(1.0), s"$name: exact copies")
      assert(byPair.get((2L, 3L)).contains(0.5), s"$name: pair at the threshold")
      assert(!got.exists(r => Set(20L, 21L)(r._1) || Set(20L, 21L)(r._2)), s"$name: blank docs")
      val boiler = got.count(r => r._1 >= 10L && r._2 <= 15L)
      // the guard drops every bucket of the boilerplate docs at 4, none at 1000
      assert(boiler == (if (maxBucket == 4) 0 else 15), s"$name, maxBucket $maxBucket: $boiler")
    }
  }

  private def cachedEntries: Int = org.apache.spark.sql.CacheEntries(spark)

  test("near-dup operators leave exactly one cache entry, the result, which unpersist frees") {
    import spark.implicits._
    val text = seededCorpus(nBase = 20, vocab = 60, docLen = 15, seed = 11L)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.99f, 0.01f)),
      (3L, Seq(0.01f, 0.99f)), (4L, Seq(-1.0f, 0.0f))).toDF("doc_id", "vec")
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashNearDups" -> (() => Dedup.minhashNearDups(text, col("doc_id"), col("text"))),
      "minhashNearDupsPortable" -> (() =>
        Dedup.minhashNearDupsPortable(text, col("doc_id"), col("text"))),
      "simhashNearDups" -> (() => Dedup.simhashNearDups(text, col("doc_id"), col("text"))),
      "simhashNearDupsPortable" -> (() =>
        Dedup.simhashNearDupsPortable(text, col("doc_id"), col("text"))),
      "embeddingNearDups" -> (() =>
        Dedup.embeddingNearDups(vecs, col("doc_id"), col("vec"), threshold = 0.9, nBuckets = 2)),
      "ngramJaccardNearDups" -> (() => Dedup.ngramJaccardNearDups(text, col("doc_id"),
        col("text"), col("lang"), col("n_chars"), maxShingleFreq = 3)))
    for ((name, op) <- ops) {
      val before = cachedEntries
      val out = op()
      assert(cachedEntries == before + 1, s"$name: cache entries ${before} -> $cachedEntries")
      assert(out.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        s"$name: the new entry is not the returned result")
      out.unpersist()
      assert(cachedEntries == before, s"$name: unpersist left $cachedEntries of $before entries")
    }
  }

  test("jaccard: exact on known sets") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(math.abs(df.head().getDouble(0) - 0.5) < 1e-12)
  }

  test("shingles: 3-gram count and short-text fallback") {
    import spark.implicits._
    val df = Seq((1, "a b c d"), (2, "a b")).toDF("i", "t")
      .select(col("i"), Dedup.shingles(col("t"), 3).as("sh"))
    val m = df.as[(Int, Seq[String])].collect().toMap
    assert(m(1) == Seq("a b c", "b c d"))
    assert(m(2) == Seq("a b"))
  }

  test("word_ngrams: native kernel equals the declarative multiplicity formula (property)") {
    import spark.implicits._
    val edges = Seq(
      null, "", "   ", "\t\n", "one", "one two", "a b c d e",
      "A B a b A B a b", "x y z w", "é É SS ss I İ",
      "a  b\tc\nd", " lead and trail ", "😀 a 😀 a 😀 a",
      "repeat repeat repeat repeat repeat")
    val rnd = new scala.util.Random(23)
    val alphabet = "ab XY\t é😀\n"
    val fuzz = Seq.fill(300)(
      (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    def declarative(t: org.apache.spark.sql.Column, n: Int) = {
      val toks = filter(split(lower(trim(t)), "\\s+"), x => x =!= "")
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    for (n <- Seq(1, 2, 3, 5)) {
      val df = (edges ++ fuzz).zipWithIndex.map(_.swap).toDF("i", "t")
      val got = df.select(col("i"),
          coalesce(graft.functions.TextOps.wordNgrams(col("t"), n),
            array().cast("array<string>")).as("g"))
        .as[(Int, Seq[String])].collect().toMap
      val ref = df.select(col("i"), declarative(col("t"), n).as("g"))
        .as[(Int, Seq[String])].collect().toMap
      assert(got == ref, s"n=$n: native word_ngrams diverge from declarative reference")
    }
  }

  test("shingles: native kernel equals the declarative formula (property)") {
    import spark.implicits._
    // hand-picked contract edges: blanks/tabs/odd whitespace, case
    // folding, duplicate shingles (first-occurrence order), short
    // texts, non-\s unicode whitespace (NBSP stays IN a token), null
    val edges = Seq(
      null, "", "   ", "\t\n", "one", "one two", "a b c d e",
      "A B a b A B a b", "x y z w", "é É SS ss I İ",
      "a  b\tc\nd", " lead and trail ", "😀 a 😀 a 😀 a",
      "repeat repeat repeat repeat repeat")
    val rnd = new scala.util.Random(7)
    val alphabet = "ab XY\t é😀\n"
    val fuzz = Seq.fill(300)(
      (0 until rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    for (n <- Seq(1, 2, 3, 5)) {
      val df = (edges ++ fuzz).zipWithIndex.map(_.swap).toDF("i", "t")
      val got = df.select(col("i"), Dedup.shingles(col("t"), n).as("sh"))
        .as[(Int, Seq[String])].collect().toMap
      val ref = df.select(col("i"), Dedup.shinglesDeclarative(col("t"), n).as("sh"))
        .as[(Int, Seq[String])].collect().toMap
      assert(got == ref, s"n=$n: native shingles diverge from declarative reference")
    }
  }

  test("incrementalNearDup: batch vs corpus pairs at exact jaccard") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines")).toDF("doc_id", "text")
    val corpusShingles = Dedup.shingleArrays(corpus, col("doc_id"), col("text"), 3)
    val batch = Seq(
      (100L, "the quick brown fox jumps over the sleepy dog"), // near-dup of 0
      (101L, "nothing in common with anything here at all")).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(
      batch, col("doc_id"), col("text"), corpusShingles, threshold = 0.3)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((100L, 0L)))
  }

  test("incrementalNearDup: corpus side never shuffles (batch broadcasts)") {
    import spark.implicits._
    val corpus = (0L until 100L).map(i => (i, s"corpus doc $i with shared words alpha beta gamma"))
      .toDF("doc_id", "text")
    val corpusShingles = Dedup.shingleArrays(corpus, col("doc_id"), col("text"), 3)
    val batch = Seq((1000L, "corpus doc 7 with shared words alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(
      batch, col("doc_id"), col("text"), corpusShingles, threshold = 0.5)
    // the only exchanges may carry (batch_id, corpus_id, counts) agg
    // rows — never a corpus shingle column partitioned by h
    val exchanges = Scale.shuffleOutputColumns(out)
    assert(exchanges.forall(cols => !cols.contains("h")),
      s"corpus shingles crossed an exchange: $exchanges")
    assert(out.count() == 1)
  }

  test("bloomContamination equals the exact formulation (prefilter only cuts work)") {
    import spark.implicits._
    // corpus: 40 docs, half quoting a bench sentence verbatim inside
    // filler, half clean; bench: 3 short docs
    val benchDocs = Seq(
      (1000L, "the capital of france is paris indeed"),
      (1001L, "photosynthesis converts light into chemical energy"),
      (1002L, "entirely unrelated benchmark prompt about chess openings"))
    val corpus = (0L until 40L).map { i =>
      val filler = s"doc $i filler words alpha beta gamma delta epsilon zeta"
      val text = if (i % 2 == 0) s"$filler the capital of france is paris indeed trailing" else filler
      (i, text)
    }
    val corpusDf = corpus.toDF("doc_id", "text")
    val benchDf = benchDocs.toDF("doc_id", "text")

    val got = Dedup.bloomContamination(
      corpusDf, col("doc_id"), col("text"), benchDf, col("text"), n = 3)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq

    // exact reference: per-doc distinct shingles joined to the bench
    // shingle union, NO bloom anywhere
    val benchH = benchDf
      .select(explode(graft.functions.MinHash.shingleHashes(col("text"), 3)).as("h")).distinct()
    val exact = corpusDf
      .select(col("doc_id"), explode(graft.functions.MinHash.shingleHashes(col("text"), 3)).as("h"))
      .join(benchH, "h").groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq

    assert(got == exact)
    assert(got.map(_._1) == (0L until 40L by 2).toSeq, "exactly the quoting docs flagged")
  }

  test("semanticDedup: keeps the min-id representative per cosine component, columns intact") {
    import spark.implicits._
    // two tight direction clusters plus a loner; the first two ids (the
    // IVF init centroids) sit in DIFFERENT clusters so bucketing is
    // unambiguous; extra column must survive
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f), "a"),
      (1L, Seq(0.0f, 1.0f), "b"),
      (2L, Seq(0.99f, 0.01f), "c"),
      (3L, Seq(0.01f, 0.99f), "d"),
      (4L, Seq(-1.0f, 0.0f), "e"),
      (5L, Seq(0.995f, 0.005f), "f"))
    val df = rows.toDF("vec_id", "vec", "tag")
    val out = Dedup.semanticDedup(df, col("vec_id"), col("vec"),
      threshold = 0.95, nBuckets = 2)
      .select("vec_id", "tag").as[(Long, String)].collect().toSet
    // components at cos >= 0.95: {0,2,5}, {1,3}, {4}
    assert(out == Set(0L -> "a", 1L -> "b", 4L -> "e"))
  }

  test("semanticDedupKeepBest: highest score wins per component, score ties to min id") {
    import spark.implicits._
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f), 10L),
      (1L, Seq(0.0f, 1.0f), 7L),
      (2L, Seq(0.99f, 0.01f), 30L), // beats 0 and 5 in {0,2,5}
      (3L, Seq(0.01f, 0.99f), 7L),  // ties 1 -> min id 1 wins {1,3}
      (4L, Seq(-1.0f, 0.0f), 1L),
      (5L, Seq(0.995f, 0.005f), 20L))
    val df = rows.toDF("vec_id", "vec", "score")
    val out = Dedup.semanticDedupKeepBest(df, col("vec_id"), col("vec"),
      col("score"), threshold = 0.95, nBuckets = 2)
      .select("vec_id", "score").as[(Long, Long)].collect().toSet
    assert(out == Set(2L -> 30L, 1L -> 7L, 4L -> 1L))
  }

  test("exactDedup over nfc_normalize merges decomposed/precomposed duplicates") {
    import spark.implicits._
    // same word, two Unicode spellings: byte-level dedup sees two
    // documents; NFC-normalized dedup sees one — the reason the
    // normalization expressions exist
    val df = Seq(
      (1L, "caf\u00e9 menu"),        // precomposed e-acute
      (2L, "cafe\u0301 menu"),       // e + combining acute
      (3L, "other doc")).toDF("doc_id", "text")
    val raw = Dedup.exactDedup(df, col("doc_id"), col("text")).count()
    assert(raw == 3L, "byte-level fingerprints treat the spellings as distinct")
    val normalized = Dedup.exactDedup(df, col("doc_id"),
      graft.functions.TextOps.nfcNormalize(col("text")))
    assert(normalized.count() == 2L)
    val kept = normalized.select("keep_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), "smallest id represents the merged pair")
  }

  test("pairEval: hand-checked counts, per-mille floors, empty-side NULLs") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (3L, 4L), (7L, 8L), (9L, 10L)).toDF("id_a", "id_b")
    val out = Dedup.pairEval(truth, cand).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((3L, 4L, 2L)))
    assert(out.getLong(3) == 666L)  // 2*1000 div 3
    assert(out.getLong(4) == 500L)  // 2*1000 div 4
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val e = Dedup.pairEval(empty, cand).collect().head
    assert(e.getLong(0) == 0L && e.isNullAt(3) && e.getLong(4) == 0L)
    val e2 = Dedup.pairEval(truth, empty).collect().head
    assert(e2.getLong(1) == 0L && e2.getLong(3) == 0L && e2.isNullAt(4))
  }

  test("pairEval over LSH vs exact-unblocked: candidates are a verified subset") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    // pairs of docs sharing a long prefix land near/above the 0.4
    // jaccard line; banding may or may not catch each — precision
    // stays 1000 because candidates are exact-verified
    val docs = (0 until 120).map { i =>
      val seed = Seq.fill(12)(vocab(rnd.nextInt(vocab.size)))
      val text = if (i % 3 == 0 && i > 0)
        (seed.take(9) ++ Seq.fill(3)(vocab(rnd.nextInt(vocab.size)))).mkString(" ")
      else seed.mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val truth = Dedup.ngramJaccardNearDups(docs, col("doc_id"), col("text"),
      lit("x"), lit(0L), n = 3, threshold = 0.4, bucketWidth = 100)
    val cand = Dedup.minhashNearDupsPortable(docs, col("doc_id"), col("text"),
      nShingle = 3, k = 16, bands = 8, threshold = 0.4)
    val out = Dedup.pairEval(truth, cand).collect().head
    val (nTruth, nCand, nHit) = (out.getLong(0), out.getLong(1), out.getLong(2))
    assert(nHit == nCand, "every verified candidate must be a true pair")
    assert(nCand <= nTruth)
    if (nCand > 0) assert(out.getLong(4) == 1000L)
    else assert(out.isNullAt(4))
  }

  test("contaminationRate: hand-computed 3-gram hits") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat"),    // 3-grams: 4 distinct
      (2L, "dogs bark loudly at night"), // 3 distinct, no hits
      (3L, "too short")                  // < 3 tokens -> absent
    ).toDF("id", "text")
    val bench = Seq("the cat sat on a rug").toDF("text") // shares "the cat sat", "cat sat on"
    val r = Dedup.contaminationRate(corpus, col("id"), col("text"),
        bench, col("text"), n = 3)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, 4L, 2L, 500000L),
      (2L, 3L, 0L, 0L)))
  }

  test("contaminationRate: per-doc grams deduped; repeated grams count once") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c a b c a b c")).toDF("id", "text")
    // 3-grams: a b c, b c a, c a b (each repeated) -> 3 distinct
    val bench = Seq("x a b c y").toDF("text")
    val r = Dedup.contaminationRate(corpus, col("id"), col("text"),
        bench, col("text"), n = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(r == ((1L, 3L, 1L, 333333L)))
  }

  test("fuzzyLink: token blocking + edit-distance verify — hand-computed") {
    import spark.implicits._
    val left = Seq((1L, "Acme Corp"), (2L, "Globex Inc"), (3L, "Umbrella")).toDF("id", "n")
    val right = Seq((10L, "acme corpp"),  // shares "acme", dist 1 -> match
      (11L, "globex co"),                 // shares "globex", dist 3 -> cut
      (12L, "umbrela"),                   // NO shared token -> never a candidate
      (13L, "acme corp")).toDF("id", "n") // exact (lowercased) -> dist 0
    val r = Dedup.fuzzyLink(left, col("id"), col("n"), right, col("id"), col("n"),
        maxDist = 2)
      .orderBy("left_id", "right_id")
      .as[(Long, Long, String, String, Long)].collect().toSeq
    assert(r == Seq(
      (1L, 10L, "acme corp", "acme corpp", 1L),
      (1L, 13L, "acme corp", "acme corp", 0L)))
  }

  test("fuzzyLink: hot-token cap drops stopword blocks") {
    import spark.implicits._
    // "inc" appears in 3 left rows; cap 2 drops the block, so the
    // only candidate route is the distinctive token
    val left = Seq((1L, "alpha inc"), (2L, "beta inc"), (3L, "gamma inc")).toDF("id", "n")
    val right = Seq((10L, "alpha incc"), (11L, "delta inc")).toDF("id", "n")
    val r = Dedup.fuzzyLink(left, col("id"), col("n"), right, col("id"), col("n"),
        maxDist = 2, maxBlock = 2)
      .as[(Long, Long, String, String, Long)].collect().toSeq
    // (1,10) via "alpha"; (*,11) only shared "inc" -> capped away
    assert(r == Seq((1L, 10L, "alpha inc", "alpha incc", 1L)))
  }

  test("dedupStats: hand-computed cluster-size histogram") {
    import spark.implicits._
    // "x" x3, "y" x2, "z" x1 (whitespace-normalized fingerprints merge
    // "y" and " y ")
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"), (5L, " y "),
      (6L, "z")).toDF("id", "text")
    val r = Dedup.dedupStats(docs, col("id"), col("text"))
      .orderBy("cluster_size").as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, 1L, 1L, 166666L),
      (2L, 1L, 2L, 333333L),
      (3L, 1L, 3L, 500000L)))
  }

  test("dedupStats: all-unique corpus is one size-1 row; partition-invariant") {
    import spark.implicits._
    val docs = spark.range(900).select(col("id"), col("id").cast("string").as("text"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.dedupStats(d, col("id"), col("text")).collect().toSeq
    val r = run(docs.repartition(1))
    assert(r == Seq(org.apache.spark.sql.Row(1L, 900L, 900L, 1000000L)))
    assert(r == run(docs.repartition(7)))
  }

  test("contaminationRate: deterministic across partitionings") {
    val docs = spark.range(600).select(col("id"),
      concat_ws(" ", (0 to 15).map(j =>
        ((col("id") * (j + 3)) % 19).cast("string")): _*).as("text"))
    val bench = spark.range(20).select(
      concat_ws(" ", (0 to 9).map(j =>
        ((col("id") + j) % 19).cast("string")): _*).as("text"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.contaminationRate(d, col("id"), col("text"), bench, col("text"), n = 3)
        .orderBy("id").collect().toSeq
    assert(run(docs.repartition(1)) == run(docs.repartition(13)))
  }
}
