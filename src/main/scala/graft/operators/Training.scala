package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed model TRAINING for the quality-classifier loop — the
  * missing half of [[TextAnalysis.classifierFilter]] (inference): a
  * pipeline that trains its own filter inside the engine needs the
  * training step to be as deterministic as everything else.
  *
  * The model is the batch (a.k.a. parallel) perceptron over hashed
  * bag-of-words counts: per iteration, every misclassified document
  * (y·margin ≤ 0 — margin zero counts as wrong, so iteration 1
  * updates on ALL documents from w=0) contributes y·count to each of
  * its feature buckets, and the weight vector moves by the SUM of
  * those contributions. Unlike the classic online perceptron the
  * update is ORDER-INDEPENDENT (a sum over a set), so the trained
  * weights are bit-reproducible across engines, partitionings and
  * runs — and every intermediate is 64-bit integer arithmetic (no
  * learning-rate floats; the unit rate is absorbed into the integer
  * weights).
  */
object Training {

  /** Train `iters` batch-perceptron rounds; returns (bucket, weight)
    * for ALL `buckets` rows (unseen buckets weigh 0).
    *
    * Scale shape: features build ONCE — one map-side-combined
    * aggregate to (doc, y, bucket, count), persisted and reused every
    * round (document text is read exactly once, never re-tokenized);
    * each round is margin-aggregate → misclassified semi-join →
    * gradient-aggregate, all keyed on doc/bucket with only longs on
    * the wire, and the driver collects AT MOST `buckets` gradient
    * rows per round (driver-bounded by construction — the model IS
    * broadcast-scale). The weight vector enters each round as a plan
    * literal, so margin scoring is a broadcast-free map-side
    * expression.
    */
  def trainBatchPerceptron(
      df: DataFrame,
      id: Column,
      text: Column,
      label: Column,
      buckets: Int = 64,
      iters: Int = 3): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(iters > 0, s"iters must be positive, got $iters")
    val spark = df.sparkSession
    import spark.implicits._
    val feats = df.select(id.cast("long").as("doc_id"),
        when(label, 1L).otherwise(-1L).as("y"),
        explode(TextAnalysis.tokens(lower(text))).as("token"))
      .select(col("doc_id"), col("y"),
        TextAnalysis.tokenBucket(col("token"), buckets).as("b"))
      .groupBy("doc_id", "y", "b").agg(count(lit(1)).as("c"))
      .persist()
    feats.count() // materialize once; every round reuses the cache
    val w = new Array[Long](buckets)
    for (_ <- 1 to iters) {
      val wLit = typedlit(w.toSeq)
      val misclassified = feats
        .withColumn("m", col("c") * element_at(wLit, (col("b") + 1).cast("int")))
        .groupBy("doc_id", "y").agg(sum("m").as("margin"))
        .where(col("y") * col("margin") <= 0)
        .select("doc_id")
      val grad = feats.join(misclassified, Seq("doc_id"))
        .groupBy("b").agg(sum(col("y") * col("c")).as("g"))
        .as[(Long, Long)].collect() // <= buckets rows — the model itself
      grad.foreach { case (b, g) => w(b.toInt) += g }
    }
    feats.unpersist()
    w.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }.toSeq
      .toDF("bucket", "weight")
  }

  /** Train on `df`, then score and filter it with the trained model —
    * the end-to-end self-training loop, reusing
    * [[TextAnalysis.classifierFilter]]'s inference plan with the
    * trained weights as a plan-literal array (map-only scoring, zero
    * exchanges downstream of training).
    */
  def trainAndFilter(
      df: DataFrame,
      id: Column,
      text: Column,
      label: Column,
      buckets: Int = 64,
      iters: Int = 3,
      threshold: Long = 0L): DataFrame =
    filterWithModel(df, id, text,
      trainBatchPerceptron(df, id, text, label, buckets, iters),
      buckets, threshold)

  /** Score and filter `df` with an ALREADY-TRAINED perceptron model
    * (the (bucket, weight) table [[trainBatchPerceptron]] emits) —
    * the production inference split: train once, filter many. The
    * weights fold in as a plan-literal array, so inference is
    * map-only with zero exchanges.
    */
  def filterWithModel(
      df: DataFrame,
      id: Column,
      text: Column,
      model: DataFrame,
      buckets: Int = 64,
      threshold: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = model.orderBy("bucket").select("weight").as[Long].collect().toSeq
    val wLit = typedlit(w)
    TextAnalysis.classifierFilter(df, id, text, threshold, buckets,
      weightOf = b => element_at(wLit, (b + 1).cast("int")))
  }

  /** Distributed BPE tokenizer TRAINING — the merge-learning loop, not
    * just round-0 pair counts ([[TextAnalysis.bpePairCounts]]): learn
    * `nMerges` merges by repeatedly taking the globally most-frequent
    * adjacent symbol pair (count desc, then (left, right) asc — fully
    * deterministic) and fusing every occurrence corpus-wide.
    *
    * Classic BPE scale shape: the corpus collapses ONCE into the
    * word-frequency table (one map-side-combined aggregate — the only
    * corpus-sized stage); every merge round then runs on that
    * vocab-sized table only: one pair-count aggregate (shuffle =
    * distinct symbol pairs), a 1-row TakeOrdered collect (driver-
    * bounded by construction), and a map-only string rewrite. A 100 TB
    * corpus with a 10M-word vocabulary pays 10M-row rounds, not
    * corpus-sized ones.
    *
    * Words are represented as symbol strings where every symbol owns
    * BOTH a leading and a trailing double-space delimiter
    * (`"  c    a    t  "` — four spaces between symbols), so the
    * merge rewrite `replace("  A    B  " -> "  AB  ")` is exactly one
    * greedy left-to-right BPE pass: the pattern is anchored on both
    * symbol boundaries (a leading-delimiter-only encoding would let
    * merge (a,b) fuse `a` with the PREFIX of a following multi-char
    * symbol `bc`), and because each replacement re-emits the
    * delimiters it consumed, `[a,a,a,a]` still fuses to `[aa,aa]`
    * like real BPE.
    *
    * Returns (merge_idx, sym_a, sym_b, pair_count) for the learned
    * merges in order; stops early if the corpus runs out of pairs.
    */
  def trainBpe(df: DataFrame, text: Column, nMerges: Int): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val words0 = df.select(explode(TextAnalysis.tokens(lower(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    var cur = words0.select(
      concat(lit("  "), concat_ws("    ", split(col("word"), "")), lit("  ")).as("s"),
      col("cnt")).persist()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var exhausted = false
    // ONE job per round: the argmax collect is the first action over
    // the round's persisted frame and materializes it as a side
    // effect, so the dedicated warm-up count per round is pure job
    // overhead. The SUPERSEDED frame unpersists one round late —
    // only after the collect has materialized its successor — so no
    // reference ever recomputes through an evicted parent.
    var prev: DataFrame = null
    for (i <- 1 to nMerges if !exhausted) {
      val syms = split(trim(col("s")), "  +")
      // 1 row to the driver per round: the argmax pair
      val top = cur
        .select(col("cnt"), explode(graft.functions.TextOps.adjacentPairs(syms)).as("pr"))
        .groupBy("pr").agg(sum("cnt").as("c"))
        .withColumn("l", split(col("pr"), " ").getItem(0))
        .withColumn("r", split(col("pr"), " ").getItem(1))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (prev != null) { prev.unpersist(); prev = null }
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top.head.getAs[String]("l"), top.head.getAs[String]("r"), top.head.getAs[Long]("c"))
        merges += ((i.toLong, l, r, c))
        val next = cur.select(
          org.apache.spark.sql.functions.replace(col("s"),
            lit(s"  $l    $r  "), lit(s"  $l$r  ")).as("s"), col("cnt")).persist()
        prev = cur
        cur = next
      }
    }
    if (prev != null) prev.unpersist()
    cur.unpersist()
    merges.result().toDF("merge_idx", "sym_a", "sym_b", "pair_count")
  }

  /** WordPiece tokenizer TRAINING (Schuster & Nakajima 2012): the
    * third tokenizer family beside BPE ([[trainBpe]]) and unigram-LM
    * ([[trainUnigramLm]]). Same merge loop as BPE but the selection
    * criterion is LIKELIHOOD GAIN, not raw frequency: the next merge
    * maximizes count(l,r) / (count(l)·count(r)) — merge the pair whose
    * co-occurrence most exceeds what its parts' frequencies predict.
    *
    * Integer-exact scoring: score_ppt = (pair_count · 10¹²) div
    * (count(l) · count(r)), computed in DECIMAL(38,0) so trillion-
    * token symbol counts cannot overflow, floored to a long —
    * engine-identical, ties broken by (l, r) ascending. Since
    * pair_count ≤ min(count(l), count(r)), score_ppt ≤ 10¹²: always
    * long-safe.
    *
    * Scale shape per round — [[trainBpe]]'s, plus one symbol-count
    * aggregate: the corpus collapses ONCE to the word-frequency table
    * (the only corpus-sized stage); each round is two vocab-sized
    * aggregates (symbols, adjacent pairs), a vocab-sized scoring join,
    * a 1-row TakeOrdered collect, and a map-only rewrite.
    *
    * Returns (merge_idx, sym_a, sym_b, pair_count, score_ppt).
    */
  def trainWordPiece(
      df: DataFrame,
      text: Column,
      nMerges: Int,
      scoreScale: Long = 1000000000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (words, merges) = trainWordPieceMerges(df, text, nMerges, scoreScale)
    words.unpersist()
    merges.toDF("merge_idx", "sym_a", "sym_b", "pair_count", "score_ppt")
  }

  /** Train WordPiece merges, then apply the resulting vocabulary back
    * by GREEDY LONGEST-MATCH-FIRST segmentation (the real WordPiece
    * inference rule — native [[graft.functions.WordPieceSegment]], a
    * map-only projection over the vocab-sized word table): per
    * distinct word its corpus count, piece count, and segmentation —
    * the tokens-per-word fertility table, [[unigramFertility]]'s
    * WordPiece sibling. The vocabulary is every single character of
    * the corpus plus the merge-produced pieces, so every trained-on
    * word segments.
    */
  def wordpieceFertility(
      df: DataFrame,
      text: Column,
      nMerges: Int,
      scoreScale: Long = 1000000000000L): DataFrame = {
    val (words, merges) = trainWordPieceMerges(df, text, nMerges, scoreScale)
    val spark = df.sparkSession
    import spark.implicits._
    val singles = words
      .select(explode(split(col("word"), "")).as("ch"))
      .where(col("ch") =!= "").distinct().as[String].collect()
    val vocab = (singles.toSeq ++ merges.map(m => m._2 + m._3)).distinct
    val seg = graft.functions.WordPieceOps.wordpieceSegment(col("word"), vocab)
    val out = words
      .select(col("word"), col("cnt"), seg.as("pieces"))
      .select(col("word"), col("cnt"),
        size(col("pieces")).cast("long").as("n_pieces"),
        concat_ws(" ", col("pieces")).as("seg"))
      .persist()
    out.count()
    words.unpersist()
    out
  }

  /** Per-DOCUMENT WordPiece fertility — [[unigramFertilityDocs]]'s
    * WordPiece sibling: greedy segmentation is word-LOCAL, so the
    * vocab-sized per-word fertility table ([[wordpieceFertility]])
    * joins onto the exploded tokens (UNHINTED — AQE broadcasts it
    * exactly when it fits) and one doc-keyed aggregate sums it.
    * Corpus rows pay one explode + two skinny exchanges, never the
    * segmentation.
    */
  def wordpieceFertilityDocs(
      df: DataFrame,
      id: Column,
      text: Column,
      nMerges: Int,
      scoreScale: Long = 1000000000000L): DataFrame = {
    val wordFert = wordpieceFertility(df, text, nMerges, scoreScale)
    val out = wordpieceFertilityDocsOf(df, id, text, wordFert).persist()
    out.count()
    wordFert.unpersist()
    out
  }

  /** The per-document aggregation over an ALREADY-TRAINED per-word
    * fertility table ([[wordpieceFertility]]'s output) — the
    * train-once/apply-many split, so callers holding a memoized
    * fertility table don't re-run the merge loop per application.
    */
  def wordpieceFertilityDocsOf(
      df: DataFrame,
      id: Column,
      text: Column,
      wordFert: DataFrame): DataFrame = df
    .select(id.cast("long").as("doc_id"),
      explode(TextAnalysis.tokens(lower(text))).as("word"))
    .join(wordFert.select(col("word"), col("n_pieces")), "word")
    .groupBy("doc_id")
    .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_pieces"))

  /** Shared WordPiece loop: returns the PERSISTED word-frequency table
    * (caller unpersists) and the learned merges in order.
    */
  private def trainWordPieceMerges(
      df: DataFrame,
      text: Column,
      nMerges: Int,
      scoreScale: Long): (DataFrame, Seq[(Long, String, String, Long, Long)]) = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(scoreScale > 0, s"scoreScale must be positive, got $scoreScale")
    val words0 = df.select(explode(TextAnalysis.tokens(lower(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist()
    words0.count()
    var cur = words0.select(
      concat(lit("  "), concat_ws("    ", split(col("word"), "")), lit("  ")).as("s"),
      col("cnt")).persist()
    val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
    var exhausted = false
    // one job per round — same deferred-unpersist discipline as
    // [[trainBpe]]: the argmax collect materializes the round's
    // persisted frame (it reads it twice — symbol counts + pair
    // counts — so the persist itself stays load-bearing), and the
    // superseded frame releases only after its successor is resident
    var prev: DataFrame = null
    for (i <- 1 to nMerges if !exhausted) {
      val syms = split(trim(col("s")), "  +")
      val symCounts = cur
        .select(col("cnt"), explode(syms).as("sym"))
        .groupBy("sym").agg(sum("cnt").as("sc"))
      val top = cur
        .select(col("cnt"), explode(graft.functions.TextOps.adjacentPairs(syms)).as("pr"))
        .groupBy("pr").agg(sum("cnt").as("c"))
        .withColumn("l", split(col("pr"), " ").getItem(0))
        .withColumn("r", split(col("pr"), " ").getItem(1))
        .join(symCounts.select(col("sym").as("l"), col("sc").as("cl")), "l")
        .join(symCounts.select(col("sym").as("r"), col("sc").as("cr")), "r")
        .select(col("l"), col("r"), col("c"),
          expr(s"(CAST(c AS DECIMAL(38,0)) * $scoreScale) div " +
            "(CAST(cl AS DECIMAL(38,0)) * cr)").as("score"))
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1).collect()
      if (prev != null) { prev.unpersist(); prev = null }
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c, sc) = (top.head.getAs[String]("l"), top.head.getAs[String]("r"),
          top.head.getAs[Long]("c"), top.head.getAs[Long]("score"))
        merges += ((i.toLong, l, r, c, sc))
        val next = cur.select(
          org.apache.spark.sql.functions.replace(col("s"),
            lit(s"  $l    $r  "), lit(s"  $l$r  ")).as("s"), col("cnt")).persist()
        prev = cur
        cur = next
      }
    }
    if (prev != null) prev.unpersist()
    cur.unpersist()
    (words0, merges.result())
  }

  /** Vocab-scale BPE training: [[trainBpe]]'s exact semantics at a
    * per-round (not per-merge) driver cost. Where the sequential loop
    * pays one pair-count aggregate + collect + rewrite PER MERGE
    * (~30k Spark jobs for a real tokenizer), this selects up to
    * `maxBatch` merges from ONE pair-count aggregate and applies them
    * in ONE chained rewrite — ~30k merges in ~30k/maxBatch rounds.
    *
    * Output is spec-pinned EQUAL to the sequential loop, not an
    * approximation. The batch is the PREFIX of the (count desc, l, r)
    * sorted pair list up to the first candidate that interacts with an
    * already-selected merge, where "interacts" means: shares a symbol
    * with a selected pair, uses a selected pair's produced string as a
    * symbol, or produces a string some selected pair already produced.
    * The selection is then truncated to counts STRICTLY above the
    * stopping candidate's count (the barrier). Why this is exact:
    *  - every pair that interacts with the selected set sorts at or
    *    below the barrier (the stopping candidate is the FIRST such),
    *    so applying earlier selected merges can only change counts in
    *    the ≤ barrier region;
    *  - a merge can only create new pair occurrences out of parent
    *    adjacencies that touch its symbols — interacting pairs — so
    *    every new or inflated pair count is ≤ barrier as well;
    *  - selected counts are > barrier STRICTLY, so neither a changed
    *    count nor a (count, l, r) tie can displace any selected pair
    *    from being the running argmax at its turn.
    * Hence sequential BPE, replayed from the same table, picks exactly
    * the selected pairs in selection order with the same counts. When
    * the stop leaves nothing above the barrier, the round falls back
    * to the single global argmax (count desc, then (l, r) asc — the
    * same tiebreak as [[trainBpe]]), so progress is always ≥ 1
    * merge/round and worst-case degrades to the sequential loop.
    *
    * Scale shape per round: one vocab-sized pair aggregate, a
    * (maxBatch+1)-row TakeOrdered collect (driver-bounded by the
    * PARAMETER, not the data), and one map-only rewrite projection
    * carrying the whole batch.
    *
    * Threshold dispatch: when the distinct-word table fits
    * `driverVocabLimit` rows, the entire merge loop instead runs
    * driver-local over the collected table ([[localBpe]] — incremental
    * pair counts, zero Spark jobs per merge); the distributed rounds
    * are the above-threshold path. Both paths are spec-pinned equal to
    * [[trainBpe]].
    */
  def trainBpeBatched(
      df: DataFrame,
      text: Column,
      nMerges: Int,
      maxBatch: Int = 256,
      driverVocabLimit: Long = 1000000L): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(maxBatch > 0, s"maxBatch must be positive, got $maxBatch")
    val spark = df.sparkSession
    import spark.implicits._
    val words0 = df.select(explode(TextAnalysis.tokens(lower(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // The word-frequency table is the MODEL-sized artifact (the corpus
    // collapsed in one aggregate); when it fits the driver threshold,
    // the whole merge loop runs in memory with incremental pair
    // counts — ZERO Spark jobs per merge, same thresholded-fallback
    // pattern as Dedup.dedupGroups. The distributed batched loop below
    // is the above-threshold path (10M+ distinct words).
    val limit = math.min(driverVocabLimit, Int.MaxValue - 2L).toInt
    val head = words0.limit(limit + 1).as[(String, Long)].collect()
    if (head.length <= limit)
      return localBpe(head, nMerges).toDF("merge_idx", "sym_a", "sym_b", "pair_count")
    // localCheckpoint (not persist) each round: at hundreds of rounds
    // a persisted-but-lineage-carrying chain makes the analyzer and
    // codegen walk EVERY previous round's projection — quadratic
    // driver time and eventually janino limits. Checkpointing keeps
    // each round's plan one projection deep over a vocab-sized cache.
    var cur = words0.select(
      concat(lit("  "), concat_ws("    ", split(col("word"), "")), lit("  ")).as("s"),
      col("cnt")).localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var done = 0
    var exhausted = false
    while (done < nMerges && !exhausted) {
      val want = math.min(maxBatch, nMerges - done)
      val syms = split(trim(col("s")), "  +")
      val cands = cur
        .select(col("cnt"), explode(graft.functions.TextOps.adjacentPairs(syms)).as("pr"))
        .groupBy("pr").agg(sum("cnt").as("c"))
        .withColumn("l", split(col("pr"), " ").getItem(0))
        .withColumn("r", split(col("pr"), " ").getItem(1))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(want + 1)
        .select("l", "r", "c").as[(String, String, Long)].collect()
      if (cands.isEmpty) exhausted = true
      else {
        val symbols = scala.collection.mutable.Set.empty[String]
        val producedStrs = scala.collection.mutable.Set.empty[String]
        val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var barrier = -1L
        var stopped = false
        for (cand @ (l, r, c) <- cands if !stopped) {
          val interacts = symbols(l) || symbols(r) ||
            producedStrs(l) || producedStrs(r) || producedStrs(l + r)
          if (sel.size == want || interacts) { barrier = c; stopped = true }
          else { sel += cand; symbols += l; symbols += r; producedStrs += l + r }
        }
        val kept =
          if (!stopped) sel.toSeq // complete pair table selected, no interactions
          else {
            val strict = sel.takeWhile(_._3 > barrier).toSeq
            if (strict.nonEmpty) strict else sel.take(1).toSeq
          }
        kept.foreach { case (l, r, c) =>
          done += 1
          merges += ((done.toLong, l, r, c))
        }
        val rewritten = kept.foldLeft(col("s")) { case (acc, (l, r, _)) =>
          org.apache.spark.sql.functions.replace(acc,
            lit(s"  $l    $r  "), lit(s"  $l$r  "))
        }
        cur = cur.select(rewritten.as("s"), col("cnt")).localCheckpoint(true)
      }
    }
    merges.result().toDF("merge_idx", "sym_a", "sym_b", "pair_count")
  }

  /** Driver-local BPE merge loop over a collected word-frequency
    * table — [[trainBpeBatched]]'s under-threshold path. Exactly
    * [[trainBpe]]'s recurrence (argmax pair by count desc then (l, r)
    * asc; one greedy left-to-right fuse per merge), implemented with
    * INCREMENTAL pair counts: each merge touches only the words that
    * contain the merged pair (indexed per pair), and the argmax comes
    * from a lazy-deletion priority queue — so 30k merges cost seconds,
    * not 30k table scans, and never a Spark job.
    */
  private[operators] def localBpe(
      vocab: Array[(String, Long)],
      nMerges: Int): Seq[(Long, String, String, Long)] = {
    // symbol sequences per distinct word (merging never changes word
    // identity, so frequencies stay fixed). Split by CODEPOINT, not
    // `String.split("")`: Java's regex split cuts surrogate pairs into
    // lone halves while Spark's split(col, "") keeps supplementary
    // characters whole — a code-unit alphabet here would give the
    // driver-local path different base symbols (and different merges)
    // than the distributed rounds on any emoji-bearing corpus.
    val words: Array[Array[String]] =
      vocab.map { case (w, _) => splitCodePoints(w) }
    val freq: Array[Long] = vocab.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val where = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def addPair(p: (String, String), c: Long, wi: Int): Unit = {
      val n = counts.getOrElse(p, 0L) + c
      if (n == 0L) counts.remove(p) else counts(p) = n
      if (c > 0) where.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
    }
    words.indices.foreach { wi =>
      val s = words(wi)
      var i = 0
      while (i + 1 < s.length) { addPair((s(i), s(i + 1)), freq(wi), wi); i += 1 }
    }
    // lazy-deletion PQ: entries carry the count at push time; a popped
    // entry is live only if it still matches counts(pair)
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.by { case (c, l, r) => (c, ReverseLex(l), ReverseLex(r)) }
    val pq = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)]
    counts.foreach { case ((l, r), c) => pq.enqueue((c, l, r)) }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var made = 0
    while (made < nMerges && pq.nonEmpty) {
      val (c, l, r) = pq.dequeue()
      if (counts.get((l, r)).contains(c)) {
        made += 1
        out += ((made.toLong, l, r, c))
        val touched = scala.collection.mutable.HashSet.empty[(String, String)]
        val hits = where.remove((l, r)).getOrElse(scala.collection.mutable.Set.empty)
        // (l, r)'s count zeroes naturally through the per-word
        // decrement/increment below (a fuse can never create a new
        // (l, r) adjacency: the merged symbol l+r differs from both)
        hits.foreach { wi =>
          val s = words(wi)
          val f = freq(wi)
          var i = 0
          while (i + 1 < s.length) {
            touched += ((s(i), s(i + 1)))
            addPair((s(i), s(i + 1)), -f, wi); i += 1
          }
          // greedy left-to-right fuse of (l, r)
          val b = Array.newBuilder[String]
          i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += l + r; i += 2 }
            else { b += s(i); i += 1 }
          }
          val ns = b.result()
          words(wi) = ns
          i = 0
          while (i + 1 < ns.length) {
            touched += ((ns(i), ns(i + 1)))
            addPair((ns(i), ns(i + 1)), f, wi); i += 1
          }
        }
        touched.foreach { p =>
          counts.get(p).foreach(c2 => pq.enqueue((c2, p._1, p._2)))
        }
      }
    }
    out.result()
  }

  /** Max-heap tie-break helper: the argmax wants count DESC but (l, r)
    * ASC; wrapping strings in a reversed ordering inside the max-heap
    * key achieves the ascending lexicographic tie-break.
    *
    * Comparison is by CODEPOINT, not UTF-16 code unit: the distributed
    * path and the DuckDB oracle both order strings by UTF-8 bytes
    * (= codepoint order), while `String.compareTo` sorts surrogate
    * pairs (U+10000+) BELOW U+E000..U+FFFF — a count tie between an
    * emoji symbol and a private-use symbol would pick different merges
    * on the two paths and silently change the learned vocab at the
    * driverVocabLimit dispatch boundary.
    */
  private case class ReverseLex(s: String) extends Ordered[ReverseLex] {
    override def compare(that: ReverseLex): Int = codePointCompare(that.s, this.s)
  }

  /** Split a string into one-codepoint symbols (surrogate pairs kept
    * whole — the same alphabet Spark's `split(col, "")` produces).
    */
  private[operators] def splitCodePoints(w: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      b += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    b.result()
  }

  /** Codepoint-order string compare (== UTF-8 byte order). */
  private[operators] def codePointCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return java.lang.Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    java.lang.Integer.compare(a.length - i, b.length - j)
  }

  /** Vocabulary construction — the tokenizer's final artifact: the
    * corpus token table pruned by `minCount`, capped at `maxSize`
    * rows by (count desc, token asc), with DENSE token ids assigned
    * in that order (id 0 = most frequent). Deterministic: ties break
    * alphabetically, so two runs — or two engines — assign identical
    * ids.
    *
    * Scale shape: one map-side-combined token-count aggregate (the
    * only corpus-sized stage), a TakeOrdered cap (per-partition heap,
    * maxSize·partitions rows to the driver's collect-free sort), and
    * id assignment as a window over the CAPPED table — maxSize rows,
    * a model-sized artifact by definition, never the corpus.
    */
  def buildVocab(
      df: DataFrame,
      text: Column,
      maxSize: Int,
      minCount: Long = 1L): DataFrame = {
    require(maxSize > 0, s"maxSize must be positive, got $maxSize")
    val counts = df.select(explode(TextAnalysis.tokens(lower(text))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .orderBy(col("n").desc, col("token"))
      .limit(maxSize)
    graft.operators.Relational.withRankId(counts,
      Seq(col("n").desc, col("token")), idCol = "token_id")
      .select(col("token_id"), col("token"), col("n"))
  }

  /** Unigram-LM tokenizer training (SentencePiece's other family,
    * beside BPE) — the engine's integer-exact hard-EM variant: no
    * float log-probs, every round reproducible bit-for-bit in any
    * engine.
    *
    *  - SEED: every substring of every distinct word up to
    *    `maxPieceLen` chars, scored by its total corpus occurrence
    *    count (word count × positions); single characters are always
    *    kept (coverage guarantee), longer pieces are capped to the
    *    top `maxSeed` by (count desc, piece asc).
    *  - E-step (hard): each word takes its Viterbi-best tiling under
    *    the current scores — fewest pieces, then highest total score,
    *    then lexicographically smallest joined segmentation
    *    ([[graft.functions.UnigramSegment]]).
    *  - M-step: a piece's new score is its segmentation USAGE
    *    (Σ word count × occurrences in the word's best tiling);
    *    multi-char pieces with zero usage are pruned (SentencePiece's
    *    prune step, taken to its integer-exact limit), single chars
    *    survive at score 0.
    *
    * `iters` rounds of E+M; returns the final model
    * (piece, piece_len, score).
    *
    * Scale shape — [[trainBpe]]'s exactly: the corpus collapses ONCE
    * into the word-frequency table (the only corpus-sized stage);
    * seeding is one vocab-sized substring aggregate; each EM round is
    * a map-only segmentation expression over the vocab-sized word
    * table (model = plan-bound reference object, no join) plus one
    * piece-keyed usage aggregate whose result — the model itself —
    * is the only driver collect, bounded by maxSeed + alphabet.
    */
  def trainUnigramLm(
      df: DataFrame,
      text: Column,
      maxPieceLen: Int = 3,
      iters: Int = 2,
      maxSeed: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (words, model) = trainUnigramModel(df, text, maxPieceLen, iters, maxSeed)
    words.unpersist()
    model.toSeq.sortBy(_._1)
      .map { case (p, s) => (p, p.length.toLong, s) }
      .toDF("piece", "piece_len", "score")
  }

  /** Train a unigram-LM model ([[trainUnigramLm]]) and apply it back:
    * per distinct word, its corpus count, Viterbi piece count, and the
    * segmentation itself — the tokens-per-word fertility table, the
    * unigram sibling of [[applyBpe]]'s per-document fertility.
    * Scoring is map-only over the vocab-sized word table.
    */
  def unigramFertility(
      df: DataFrame,
      text: Column,
      maxPieceLen: Int = 3,
      iters: Int = 2,
      maxSeed: Int = 100000): DataFrame = {
    val (words, model) = trainUnigramModel(df, text, maxPieceLen, iters, maxSeed)
    val (ps, ss) = model.toSeq.sortBy(_._1).unzip
    val seg = graft.functions.UnigramOps.unigramSegment(col("word"), ps, ss)
    val out = words
      .select(col("word"), col("cnt"), seg.as("pieces"))
      .select(col("word"), col("cnt"),
        size(col("pieces")).cast("long").as("n_pieces"),
        concat_ws(" ", col("pieces")).as("seg"))
      .persist()
    out.count()
    words.unpersist()
    out
  }

  /** Per-DOCUMENT unigram fertility — [[applyBpe]]'s unigram sibling:
    * train ([[trainUnigramLm]]'s loop), then report each document's
    * (n_words, n_pieces) under the model. A word's Viterbi tiling is
    * word-LOCAL, so documents never re-segment row by row: the
    * vocab-sized per-word fertility table ([[unigramFertility]])
    * joins onto the exploded tokens — UNHINTED, because real
    * vocabularies reach tens of millions of words (the UnigramSmoke
    * corpus has 30M; `git show
    * f46c792:src/main/scala/graft/dev/UnigramSmoke.scala`) where a forced broadcast would OOM the driver;
    * the table is persisted, so AQE broadcasts it exactly when it
    * fits — and one doc-keyed aggregate sums it. Corpus rows pay one
    * explode + two skinny exchanges, never the DP.
    */
  def unigramFertilityDocs(
      df: DataFrame,
      id: Column,
      text: Column,
      maxPieceLen: Int = 3,
      iters: Int = 2,
      maxSeed: Int = 100000): DataFrame = {
    val wordFert = unigramFertility(df, text, maxPieceLen, iters, maxSeed)
    val out = df
      .select(id.cast("long").as("doc_id"),
        explode(TextAnalysis.tokens(lower(text))).as("word"))
      .join(wordFert.select(col("word"), col("n_pieces")), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_pieces"))
      .persist()
    out.count()
    wordFert.unpersist()
    out
  }

  /** Shared train loop: returns the PERSISTED word-frequency table
    * (caller unpersists) and the final (piece → score) model.
    */
  private def trainUnigramModel(
      df: DataFrame,
      text: Column,
      maxPieceLen: Int,
      iters: Int,
      maxSeed: Int): (DataFrame, Map[String, Long]) = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(maxSeed >= 0, s"maxSeed must be >= 0, got $maxSeed")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(TextAnalysis.tokens(lower(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist()
    words.count() // materialize: every round reuses the cache
    val subs = words.select(col("cnt"), explode(expr(
      s"flatten(transform(sequence(1, length(word)), i -> " +
        s"transform(sequence(1, least($maxPieceLen, length(word) - i + 1)), " +
        s"l -> substr(word, i, l))))")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("c"))
    val singles = subs.where(length(col("piece")) === 1)
      .as[(String, Long)].collect()
    val multis = subs.where(length(col("piece")) > 1)
      .orderBy(col("c").desc, col("piece")).limit(maxSeed)
      .as[(String, Long)].collect()
    var model: Map[String, Long] = (singles ++ multis).toMap
    for (_ <- 1 to iters) {
      val (ps, ss) = model.toSeq.sortBy(_._1).unzip
      val segCol = graft.functions.UnigramOps.unigramSegment(col("word"), ps, ss)
      val usage = words.select(col("cnt"), explode(segCol).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("u"))
        .as[(String, Long)].collect().toMap
      model = model.flatMap { case (p, _) =>
        val u = usage.getOrElse(p, 0L)
        if (u > 0 || p.length == 1) Some(p -> u) else None
      }
    }
    (words, model)
  }

  /** Apply learned BPE merges ([[trainBpe]]'s output order matters) to
    * every document and report tokenizer fertility: (doc_id, n_words,
    * n_tokens) where n_tokens counts the BPE symbols after all merges
    * — the tokens-per-word ratio is THE tokenizer-quality metric a
    * data pipeline tracks per corpus slice.
    *
    * Map-only, zero exchanges: the document renders once into the
    * same delimiter-encoded symbol string as training (each symbol
    * owns leading AND trailing double spaces — four spaces between
    * symbols; between words the boundary is SIX spaces, which no
    * '  A    B  ' merge pattern can span, since the pattern requires
    * exactly four spaces between its symbols and symbols are
    * space-free), then the merge list applies as a chain of M literal
    * `replace` passes inside one projection.
    */
  def applyBpe(
      df: DataFrame,
      id: Column,
      text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val words = TextAnalysis.tokens(lower(text))
    val sym0 = concat_ws("  ", transform(words, w =>
      concat(lit("  "), concat_ws("    ", split(w, "")), lit("  "))))
    val merged = merges.foldLeft(sym0) { case (acc, (l, r)) =>
      org.apache.spark.sql.functions.replace(acc,
        lit(s"  $l    $r  "), lit(s"  $l$r  "))
    }
    df.select(id.cast("long").as("doc_id"),
      size(words).cast("long").as("n_words"),
      when(size(words) === 0, 0L)
        .otherwise(size(split(trim(merged), "  +")).cast("long")).as("n_tokens"))
  }

  /** Classifier-calibration bins: fixed-width buckets of a ppm-scaled
    * score (expected in [0, 10⁶]) against a boolean label — per bin,
    * the item count, positive count, exact ppm positive rate, and the
    * bin's midpoint score in ppm. A calibrated scorer has
    * pos_rate_ppm ≈ bin_mid_ppm per bin; the drift is the curve a
    * curation pipeline inspects before trusting a quality scorer's
    * thresholds.
    *
    * Bin index is `least(score·nBins div 10⁶, nBins−1)` (the clamp
    * folds the exact-10⁶ score into the top bin), so the binning is
    * floor-division exact and engine-identical. Empty bins are absent
    * from the output (no row, rather than a 0/0 rate).
    *
    * Scale: map-only bin assignment + ONE map-side-combined aggregate
    * keyed by the ≤ nBins bin index.
    */
  def calibrationBins(
      df: DataFrame,
      scorePpm: Column,
      label: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    df.select(
        least(scorePpm.cast("long") * nBins, lit(1000000L * nBins - 1)).as("sb"),
        label.cast("boolean").cast("long").as("y"))
      .select(expr("sb div 1000000L").as("bin"), col("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .select(col("bin"),
        expr(s"(bin * 2 + 1) * 1000000L div ${2L * nBins}L").as("bin_mid_ppm"),
        col("n"), col("n_pos"),
        expr("n_pos * 1000000L div n").as("pos_rate_ppm"))
  }

  /** Exact ROC AUC of an integer score against a boolean label, as the
    * tie-aware Mann–Whitney rank statistic — the threshold-free
    * companion to [[calibrationBins]] (is the scorer's ORDERING right,
    * independent of calibration). With per-distinct-score counts c_s,
    * positives p_s, negatives n_s = c_s − p_s and negBelow_s the
    * negatives at strictly lower scores:
    *
    *   2U      = Σ_s (2·p_s·negBelow_s + p_s·n_s)   (ties count half)
    *   auc_ppm = 2U·10⁶ div (2·n_pos·n_neg)
    *
    * — concordant pairs plus half the tied pairs, all in longs, so the
    * statistic is exact and engine-identical (no sort-order luck: ties
    * are COUNTED, not broken). One summary row (n, n_pos, n_neg,
    * auc_ppm); a label-constant input (n_pos·n_neg = 0, AUC undefined)
    * reports 0 by convention. Overflow: 2U ≤ 2·n_pos·n_neg ≤ n²/2 —
    * a long to n ≈ 4·10⁹ — and the final ppm ratio multiplies that by
    * 10⁶, so the single division runs in DECIMAL(38,0) (exact, and
    * cross-engine: DuckDB's BIGINT sums are already HUGEINT). Good to
    * n ≈ 10⁹ items, ANSI-mode safe.
    *
    * Scale: ONE map-side-combined aggregate keyed by the distinct
    * score (bounded by the score DOMAIN — ppm scores have ≤ 10⁶+1
    * values — not the data), a cumulative window over that bounded
    * table, and a 1-row final aggregate. The items themselves shuffle
    * once, as (score, 0/1) longs.
    */
  def aucExact(df: DataFrame, score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = df
      .select(score.cast("long").as("s"),
        label.cast("boolean").cast("long").as("y"))
      .groupBy("s").agg(count(lit(1)).as("c"), sum("y").as("p"))
    val below = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .select(col("c"), col("p"),
        coalesce(sum(col("c") - col("p")).over(below), lit(0L)).as("neg_below"))
      .agg(sum("c").as("n"), sum("p").as("n_pos"),
        (sum("c") - sum("p")).as("n_neg"),
        sum(expr("p * 2 * neg_below + p * (c - p)")).as("u2"))
      .select(col("n"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(0L))
          .otherwise(expr(
            "CAST((CAST(u2 AS DECIMAL(38,0)) * 1000000)" +
              " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"))
          .as("auc_ppm"))
  }

  /** Precision / recall / F1 sweep over every DISTINCT score as the
    * decision threshold (predict positive when score ≥ threshold) —
    * the curve that picks [[TextAnalysis.classifierFilter]]'s cutoff:
    * per threshold, the predicted-positive count, true positives, and
    * exact ppm precision, recall, and F1, where
    *
    *   f1_ppm = 2·tp·10⁶ div (pred_pos + n_pos)
    *
    * (the single-fraction form of 2PR/(P+R) — one floor division, no
    * compounding of two rounded ppm values; same algebra discipline
    * as [[aucExact]]'s single-division kappa sibling). Thresholds
    * descend from the max score, so the first row is the strictest
    * cut; recall is monotone non-decreasing down the output.
    *
    * Scale: identical shape to [[aucExact]] — the items shuffle once
    * into a per-distinct-score aggregate (bounded by the score
    * DOMAIN), then two cumulative windows run over that bounded
    * table, never the data.
    */
  /** Per-group exact ROC AUC — [[aucExact]] sliced by a group key
    * (source, language, tenant…): the eval-slice / fairness question
    * "does the scorer rank as well on EVERY slice as in aggregate".
    * Same tie-aware Mann–Whitney algebra per group; groups where the
    * label is constant (AUC undefined) report 0 by convention, same
    * as the global statistic.
    *
    * Scale: the per-distinct-(group, score) aggregate is ONE map-side
    * combined exchange; the cumulative window is PARTITIONED BY GROUP
    * (parallel across groups, each window over that group's bounded
    * score domain), and the final aggregate is group-keyed.
    */
  def aucByGroup(
      df: DataFrame,
      group: Column,
      score: Column,
      label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = df
      .select(group.as("grp"), score.cast("long").as("s"),
        label.cast("boolean").cast("long").as("y"))
      .groupBy("grp", "s").agg(count(lit(1)).as("c"), sum("y").as("p"))
    val below = Window.partitionBy("grp").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .select(col("grp"), col("c"), col("p"),
        coalesce(sum(col("c") - col("p")).over(below), lit(0L)).as("neg_below"))
      .groupBy("grp")
      .agg(sum("c").as("n"), sum("p").as("n_pos"),
        (sum("c") - sum("p")).as("n_neg"),
        sum(expr("p * 2 * neg_below + p * (c - p)")).as("u2"))
      .select(col("grp"), col("n"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(0L))
          .otherwise(expr(
            "CAST((CAST(u2 AS DECIMAL(38,0)) * 1000000)" +
              " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"))
          .as("auc_ppm"))
  }

  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = df
      .select(score.cast("long").as("s"),
        label.cast("boolean").cast("long").as("y"))
      .groupBy("s").agg(count(lit(1)).as("c"), sum("y").as("p"))
    // ≥-threshold cumulatives: everything at this score or above
    val atOrAbove = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val total = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    byScore
      .select(col("s").as("threshold"),
        sum("c").over(atOrAbove).as("pred_pos"),
        sum("p").over(atOrAbove).as("tp"),
        sum("p").over(total).as("n_pos"))
      .select(col("threshold"), col("pred_pos"), col("tp"),
        expr("tp * 1000000L div pred_pos").as("precision_ppm"),
        when(col("n_pos") === 0, lit(0L))
          .otherwise(expr("tp * 1000000L div n_pos")).as("recall_ppm"),
        expr("2 * tp * 1000000L div (pred_pos + n_pos)").as("f1_ppm"))
  }
}
