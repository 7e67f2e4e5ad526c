package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * near-dup. Designed scale-first:
  *
  *  - exact / fingerprint dedup: one hash-shuffle groupBy, map-side
  *    partial agg; no row ever carries the full text through the
  *    shuffle when `fingerprintOnly` projections are used upstream.
  *  - MinHash-LSH: candidate generation is groupBy(band-hash) — only
  *    documents sharing a band bucket ever meet, so the quadratic
  *    verify step runs per-bucket, not globally. All hashing is
  *    xxhash64 (codegen'd, deterministic across runs and executors).
  *  - SimHash: 64-bit signature via bit-vote aggregation; near-dup =
  *    hamming distance <= k on bucket-joined candidates.
  *  - n-gram Jaccard: exact verify metric, computed only on LSH or
  *    length-bucket candidates.
  */
object Dedup {

  /** Materialize `result` into the block cache (persist + one count
    * job), then release the cached intermediates that fed it. Near-dup
    * outputs are tiny relative to the corpus, so pinning the result
    * while freeing the (much larger) shingle/candidate caches is the
    * right trade — without this, repeated calls in a long-lived
    * session accumulate cached blocks until LRU pressure.
    *
    * Deliberately persist + count, NOT localCheckpoint(true): a local
    * checkpoint truncates lineage and stores blocks non-reliably on
    * executors, so on a real cluster an executor loss (or
    * dynamic-allocation decommission) makes the result unrecoverable
    * and fails the job. Persist keeps the lineage — a lost block is
    * recomputed (slowly, since the inputs were released, but
    * correctly). Callers that are done with the result should
    * `unpersist()` it.
    */
  private def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.persist()
    out.count()
    cached.foreach(_.unpersist())
    out
  }

  /** Word n-gram shingles of the lowercased text (the unit of
    * near-dup comparison). Returns array<string>, distinct, first
    * occurrence order. Native codegen'd kernel
    * ([[graft.functions.TextRuntime.wordShingles]]); the coalesce
    * preserves the declarative formula's null contract (null text →
    * empty array, because `when` over a null size condition falls
    * through to the empty-array branch). [[shinglesDeclarative]] keeps
    * the built-ins formulation as the spec-pinned reference.
    */
  def shingles(text: Column, n: Int = 3): Column =
    coalesce(graft.functions.TextOps.wordShingles(text, n),
      array().cast("array<string>"))

  /** The declarative shingle formula the native kernel is property-
    * pinned against (DedupSpec): per-shingle interpreted lambda +
    * O(n) slice — correct, but ~30× the per-shingle cost, which is why
    * [[shingles]] compiles to one fused scan instead.
    */
  private[operators] def shinglesDeclarative(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val nT = size(toks)
    array_distinct(
      when(nT >= n,
        transform(sequence(lit(0), nT - n), i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
        .otherwise(when(nT > 0, array(concat_ws(" ", toks))).otherwise(array())))
  }

  /** Exact dedup: keep the first (minimum id) document per distinct
    * normalized-content fingerprint. One shuffle on the 16-byte md5 —
    * the text itself never shuffles.
    */
  def exactDedup(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), TextAnalysis.fingerprint(text).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Blocked fuzzy record linkage (entity resolution) between two
    * tables on a name-ish string column: candidate pairs share at
    * least one lowercased word token (the classic blocking key), then
    * verify with a THRESHOLDED codegen'd edit distance — matches are
    * pairs with levenshtein ≤ maxDist. The dedup family's cross-table
    * sibling: [[exactDedup]] finds identical records, this finds the
    * same ENTITY spelled differently across sources.
    *
    * Scale: token blocking is an equi-join on the token (longs +
    * short names on the wire); tokens whose block exceeds `maxBlock`
    * rows on EITHER side are dropped before the join (the stopword-
    * token guard — same role as the LSH hot-bucket caps; "inc" or
    * "the" would otherwise generate block² candidates while carrying
    * no signal). Candidates dedup by pair in one aggregate, and the
    * levenshtein carries the threshold (Spark prunes its DP band to
    * O(name·maxDist) and returns −1 early) so verify cost is bounded
    * per pair.
    */
  def fuzzyLink(
      left: DataFrame,
      leftId: Column,
      leftName: Column,
      right: DataFrame,
      rightId: Column,
      rightName: Column,
      maxDist: Int,
      maxBlock: Int = 1000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlock >= 1, s"maxBlock must be >= 1, got $maxBlock")
    def toks(name: Column) =
      explode(array_distinct(filter(split(lower(trim(name)), "\\s+"),
        t => t =!= ""))).as("tok")
    def capped(side: DataFrame): DataFrame = {
      val small = side.groupBy("tok").agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxBlock).select("tok")
      side.join(small, "tok")
    }
    val l = capped(left.select(leftId.as("left_id"),
      lower(trim(leftName)).as("left_name"), toks(leftName)))
    val r = capped(right.select(rightId.as("right_id"),
      lower(trim(rightName)).as("right_name"), toks(rightName)))
    l.join(r, "tok")
      .groupBy("left_id", "right_id", "left_name", "right_name")
      .agg(count(lit(1)).as("__shared"))
      .withColumn("dist",
        levenshtein(col("left_name"), col("right_name"), maxDist))
      .where(col("dist") >= 0)
      .select(col("left_id"), col("right_id"), col("left_name"),
        col("right_name"), col("dist").cast("long").as("dist"))
  }

  /** Entity canonicalization — the merge step that closes the
    * resolution loop [[fuzzyLink]] opens: matched pairs → connected
    * components ([[dedupGroups]]) → ONE canonical record per entity
    * with per-field survivorship. The survivorship rule is
    * deterministic keep-best: per entity and field, the LONGEST
    * non-null value wins (more-complete beats less-complete — the
    * standard MDM completeness rule), ties break by ascending value —
    * no arrival-order or partitioning luck anywhere. Entities with no
    * surviving non-null value for a field emit null. Output: one row
    * per entity — `entity_id` (the minimum record id reachable
    * through the match graph; unmatched records are their own
    * entity), `n_records` merged, and one survived column per field.
    *
    * Scale: the pair graph is resolution OUTPUT (tiny vs the record
    * corpus), so `dedupGroups` and the label table are pair-sized;
    * the label join is left UNHINTED — dedupGroups materializes its
    * output, so AQE broadcasts it when it fits and falls back to a
    * skinny (id, keep_id) shuffle join when a pathological dup rate
    * makes it driver-unsafe (a forced broadcast would OOM exactly
    * there). The merge itself is ONE map-side-combined aggregate
    * keyed by entity — per-field min over (−length, value) structs,
    * so only (id, field values) cross the exchange and a
    * million-record entity still combines partially on the map side.
    */
  def survivorship(
      records: DataFrame,
      id: Column,
      fields: Seq[(String, Column)],
      pairs: DataFrame): DataFrame = {
    require(fields.nonEmpty, "survivorship needs at least one field")
    val groups = dedupGroups(pairs) // (id, keep_id) — pair-graph-sized
    val base = records.select(
      (id.cast("long").as("id") +:
        fields.map { case (n, c) => c.cast("string").as(n) }): _*)
    val labeled = base
      .join(groups, Seq("id"), "left")
      .withColumn("entity_id", coalesce(col("keep_id"), col("id")))
    val survived = fields.map { case (n, _) =>
      min(when(col(n).isNotNull,
        struct((-length(col(n))).as("nl"), col(n).as("v"))))
        .getField("v").as(n)
    }
    labeled.groupBy("entity_id")
      .agg(count(lit(1)).as("n_records"), survived: _*)
  }

  /** Duplication profile of the corpus — the numbers a dedup pass
    * reports before anyone trusts it: per exact-duplicate CLUSTER SIZE
    * (1 = unique), how many clusters have that size, the document
    * mass they hold, and that mass's ppm share of the corpus. The
    * reduction ratio falls out: kept docs = Σ n_clusters, total =
    * Σ n_docs.
    *
    * Scale: [[exactDedup]]'s one fingerprint-keyed shuffle, then a
    * second map-side-combined aggregate keyed by the cluster size
    * (bounded by the max duplication depth), plus a 1-row total
    * broadcast back in. Text never rides any exchange.
    */
  def dedupStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val clusters = df
      .select(id.as("doc_id"), TextAnalysis.fingerprint(text).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("sz"))
    val bySize = clusters.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val total = bySize.agg(sum("n_docs").as("n_total"))
    bySize.crossJoin(broadcast(total))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("n_docs * 1000000L div n_total").as("doc_share_ppm"))
  }

  /** URL-keyed dedup (web-crawl ingest): canonicalize each document's
    * URL ([[TextAnalysis.canonicalizeUrl]]) and keep the smallest id
    * per canonical URL. Same scale shape as [[exactDedup]] — one
    * map-side-combined shuffle on the canonical key, document payloads
    * never ride the exchange.
    */
  def urlDedup(df: DataFrame, id: Column, url: Column): DataFrame =
    df.select(id.as("doc_id"), TextAnalysis.canonicalizeUrl(url).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup — the PRODUCTION ingest shape: dedup an
    * arriving batch against the fingerprints of everything already in
    * the corpus, without touching the corpus documents themselves.
    * `knownFps` carries one `fp` column (persist it bucketed by fp via
    * [[Scale.writeBucketed]] and both sides of the anti-join arrive
    * pre-partitioned); the batch is first deduped within itself
    * (min-id per fingerprint), then anti-joined against the known
    * set. Only fingerprints ride the join — never text. Returns
    * (doc_id, fp) of the batch's genuinely-new documents.
    */
  def incrementalDedup(batch: DataFrame, id: Column, text: Column,
      knownFps: DataFrame): DataFrame =
    batch.select(id.as("doc_id"), TextAnalysis.fingerprint(text).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .join(knownFps.select(col("fp")), Seq("fp"), "left_anti")
      .select("doc_id", "fp")

  /** Line-level exact dedup — the CCNet/RefinedWeb paragraph-dedup
    * shape: across the whole corpus each distinct non-blank line
    * (trim-keyed) survives only at its FIRST occurrence (smallest
    * (doc_id, line_idx)) and is removed everywhere else; blank lines
    * are document structure and always survive. One row per document:
    * (doc_id, n_lines, n_kept, text_dedup) with surviving lines
    * rejoined by "\n" in original order.
    *
    * Scale shape — three shuffles, all skew-safe:
    *  1. first-occurrence aggregate BY LINE KEY: map-side combine
    *     collapses every repeat of a hot boilerplate line to one row
    *     per map task before the exchange (a window row_number() over
    *     the line key would funnel a 100M-copy line into one task);
    *  2. survivor join back BY (doc_id, line_idx): near-unique keys,
    *     no text on the build side;
    *  3. reassembly BY doc_id: the text rides this one exchange once.
    * At extreme line cardinality swap the `lkey` grouping for
    * xxhash64(lkey) to keep line text off shuffle 1 (2^-64 collision
    * odds per pair); the string key is kept here for engine-exact
    * oracle parity.
    */
  def dedupLines(df: DataFrame, id: Column, text: Column): DataFrame = {
    val lines = df
      .select(id.as("doc_id"), posexplode(split(text, "\n")).as(Seq("line_idx", "line")))
      .withColumn("lkey", trim(col("line")))
    val firsts = lines.where(col("lkey") =!= "")
      .groupBy("lkey")
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.line_idx").as("line_idx"), lit(1).as("__first"))
    lines.join(firsts, Seq("doc_id", "line_idx"), "left")
      .withColumn("keep", col("lkey") === "" || col("__first").isNotNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the null produced when keep=false, so only
        // surviving lines enter; array_sort on (line_idx, line) structs
        // restores original order independent of partitioning
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("line_idx"), col("line"))))),
            s => s.getField("line")),
          "\n").as("text_dedup"))
  }

  /** Exact dedup keeping the BEST representative per group instead of
    * the first: for each distinct normalized-content fingerprint, keep
    * the document with the highest `score` (ties to the smallest id).
    * The common LLM-pipeline shape — dedup against a quality signal
    * (length, quality classifier output) rather than arrival order.
    *
    * One hash-shuffle on the fingerprint with map-side-combined
    * max_by — the text never shuffles, and no per-group window/sort.
    */
  def keepBest(df: DataFrame, id: Column, text: Column, score: Column): DataFrame =
    df.select(id.as("doc_id"), TextAnalysis.fingerprint(text).as("fp"),
        score.cast("long").as("score"))
      .groupBy("fp")
      .agg(
        max_by(col("doc_id"), struct(col("score"), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_dups"),
        max("score").as("best_score"))

  /** Duplicated-span detection (the Lee et al. "Deduplicating Training
    * Data" exact-substring signal, at window granularity): every
    * k-token sliding window of the lowercased text is a span; a span
    * is DUPLICATED if its window occurs more than once corpus-wide
    * (across documents or within one). Returns one row per document
    * with >= 1 window: (doc_id, n_windows, n_dup_windows, dup_frac) —
    * the retain/trim decision signal (docs with high dup_frac are
    * mostly memorized boilerplate).
    *
    * Scale shape mirrors [[dedupLines]]: the occurrence count per
    * window aggregates with map-side combine (a boilerplate window
    * repeated 100M times arrives at its reducer pre-collapsed), the
    * duplicated set then joins back on the window key. With
    * `hashKeys=false` (default) window STRINGS ride both shuffles —
    * engine-exact for oracle parity; `hashKeys=true` generates 8-byte
    * window hashes with the native codegen'd `window_hashes`
    * expression (no interpreted slice/concat lambdas, no strings on
    * any exchange) — the corpus-scale path, identical output barring
    * a 2^-64-per-pair collision (ScaleSmoke runs it; the spec pins
    * equality on a real corpus).
    */
  def duplicateSpans(df: DataFrame, id: Column, text: Column, k: Int,
      hashKeys: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val wins =
      if (hashKeys)
        df.select(id.as("doc_id"),
          explode(graft.functions.MinHash.windowHashes(text, k)).as("win"))
      else {
        // bind the token array to a column BEFORE the window lambda:
        // transform() is interpreted, so a lambda body referencing the
        // tokenization expression directly would re-run the regex
        // split once per window position instead of once per document
        val toks = col("__toks")
        df.select(id.as("doc_id"), TextAnalysis.tokens(lower(text)).as("__toks"))
          .select(col("doc_id"),
            explode(when(size(toks) >= k,
                transform(sequence(lit(0), size(toks) - k),
                  i => concat_ws(" ", slice(toks, i + lit(1), lit(k)))))
              .otherwise(array().cast("array<string>"))).as("win"))
      }
    val dups = wins.groupBy("win").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("win"), lit(1).as("__dup"))
    wins.join(dups, Seq("win"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac", col("n_dup_windows").cast("double") / col("n_windows"))
  }

  /** Surgical duplicated-span REMOVAL — the scrub that
    * [[duplicateSpans]]' signal feeds: every token position covered by
    * a corpus-duplicated k-token window (case-insensitive match, all
    * copies) is cut, and the survivors re-join single-spaced. Output
    * one row per input document: (doc_id, n_tokens, n_removed,
    * cleaned_text); documents with no duplicated window pass through
    * with n_removed = 0.
    *
    * Scale shape: the window-occurrence count is map-side-combined
    * (hot boilerplate collapses before its reducer); only DUPLICATED
    * windows join back (shuffle ∝ true duplication, not corpus size);
    * only dup-window START positions aggregate per doc (one skinny
    * int per duplicated window — the k-fold covered-position explode
    * never happens; coverage is reconstructed in the final projection
    * from `p <= i < p + k`); and the final left join is the only
    * place document tokens meet the covered sets — docs sharded by id
    * on both sides, text crossing that one exchange. The cut itself
    * is a per-row array filter.
    *
    * `hashKeys=false` (default) keys both exchanges with the window
    * STRINGS — engine-exact for oracle parity. `hashKeys=true` keys
    * them with the native codegen'd `window_hashes` 8-byte values
    * (same tokenization, no strings on any exchange) — the
    * corpus-scale path, identical output barring a 2^-64-per-pair
    * collision (the spec pins equality on a real corpus).
    */
  def removeDuplicateSpans(df: DataFrame, id: Column, text: Column, k: Int,
      hashKeys: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toksC = col("__toks")
    val docs = df.select(id.as("doc_id"), TextAnalysis.tokens(text).as("__toks"))
    val wins =
      if (hashKeys)
        docs.select(col("doc_id"),
          posexplode(graft.functions.MinHash.windowHashes(concat_ws(" ", toksC), k)))
          .toDF("doc_id", "p", "win")
      else docs.select(col("doc_id"),
        posexplode(when(size(toksC) >= k,
            transform(sequence(lit(0), size(toksC) - k),
              i => lower(concat_ws(" ", slice(toksC, i + lit(1), lit(k))))))
          .otherwise(array().cast("array<string>"))))
        .toDF("doc_id", "p", "win")
    val dups = wins.groupBy("win").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("win"))
    val covered = wins.join(dups, "win")
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("__ps"))
    val kept = filter(
      transform(toksC, (t, i) => struct(t.as("t"), i.as("i"))),
      s => col("__ps").isNull ||
        !exists(col("__ps"), p =>
          p <= s.getField("i") && s.getField("i") < p + lit(k)))
    docs.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), toksC, kept.as("__kept"))
      .select(col("doc_id"),
        size(toksC).cast("long").as("n_tokens"),
        (size(toksC) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(transform(col("__kept"), s => s.getField("t")), " ")
          .as("cleaned_text"))
  }

  /** BENCHMARK-anchored span decontamination — [[removeDuplicateSpans]]
    * with the duplication test replaced by membership in an evaluation
    * corpus: every token position covered by a k-token window that
    * ALSO occurs in `bench` is cut (the Lee et al. 2022 / GPT-3-style
    * eval-decontamination scrub at span granularity, vs the per-doc
    * contamination RATE q196 reports and the whole-doc bloom drop
    * q85 applies). Same k-gram coverage equivalence as
    * [[maximalDuplicateSpans]]: the cut set is exactly the union of
    * all corpus substrings of length ≥ k that appear verbatim in the
    * benchmark. Output: (doc_id, n_tokens, n_removed, cleaned_text),
    * every input doc present.
    *
    * Scale shape: the benchmark side collapses to DISTINCT windows
    * (an eval suite is tiny next to a training corpus, but nothing
    * here requires it — the semi-join is windows-keyed either way);
    * only matching windows' START positions aggregate per doc; text
    * meets the covered sets in one id-keyed join. `hashKeys=true`
    * swaps window strings for the native 8-byte `window_hashes` on
    * every exchange — the corpus-scale path.
    */
  def removeBenchmarkSpans(df: DataFrame, id: Column, text: Column,
      bench: DataFrame, benchText: Column, k: Int,
      hashKeys: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toksC = col("__toks")
    def windows(docs: DataFrame): DataFrame =
      if (hashKeys)
        docs.select(col("doc_id"),
          posexplode(graft.functions.MinHash.windowHashes(concat_ws(" ", toksC), k)))
          .toDF("doc_id", "p", "win")
      else docs.select(col("doc_id"),
        posexplode(when(size(toksC) >= k,
            transform(sequence(lit(0), size(toksC) - k),
              i => lower(concat_ws(" ", slice(toksC, i + lit(1), lit(k))))))
          .otherwise(array().cast("array<string>"))))
        .toDF("doc_id", "p", "win")
    val docs = df.select(id.as("doc_id"), TextAnalysis.tokens(text).as("__toks"))
    val benchWins = windows(
      bench.select(lit(0L).as("doc_id"), TextAnalysis.tokens(benchText).as("__toks")))
      .select("win").distinct()
    val covered = windows(docs).join(benchWins, Seq("win"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("__ps"))
    val kept = filter(
      transform(toksC, (t, i) => struct(t.as("t"), i.as("i"))),
      s => col("__ps").isNull ||
        !exists(col("__ps"), p =>
          p <= s.getField("i") && s.getField("i") < p + lit(k)))
    docs.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), toksC, kept.as("__kept"))
      .select(col("doc_id"),
        size(toksC).cast("long").as("n_tokens"),
        (size(toksC) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(transform(col("__kept"), s => s.getField("t")), " ")
          .as("cleaned_text"))
  }

  /** VARIABLE-LENGTH maximal duplicated-span inventory — the
    * suffix-array dedup's span report (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better")
    * computed WITHOUT a suffix array, via the k-gram coverage
    * equivalence:
    *
    *   a token position is covered by some duplicated substring of
    *   length ≥ k  ⟺  it is covered by some duplicated k-gram.
    *
    * (⇒ every position of a duplicated substring s, |s| ≥ k, lies in
    * at least one length-k window of s, and every such window occurs
    * wherever s occurs — so it is itself duplicated. ⇐ a duplicated
    * k-gram IS a duplicated substring of length ≥ k.) The union of
    * Lee-et-al removal spans at threshold k therefore equals the
    * union of duplicated-k-gram coverage, and the MAXIMAL spans are
    * the maximal runs of that coverage: dup-window starts p cover
    * [p, p+k), and two starts p₁ < p₂ belong to one span iff
    * p₂ ≤ p₁ + k. Returns one row per maximal span:
    * (doc_id, span_start, span_len, span_text) — span_start is the
    * 0-based token index, span_text the ORIGINAL-case tokens
    * (matching is case-insensitive, [[removeDuplicateSpans]]'s
    * convention). [[removeDuplicateSpans]] removes exactly the union
    * of these spans (DedupSpec pins the per-doc count equality), and
    * on corpora whose duplicates are exactly k tokens long every
    * span has length exactly k (the fixed-k equivalence the spec
    * pins).
    *
    * Scale shape: window-occurrence counts map-side-combine; only
    * DUPLICATED windows join back (shuffle ∝ true duplication); the
    * run-merge window partitions by doc over dup-window STARTS only
    * (skinny ints, bounded by the doc's token count — never a
    * corpus-wide sort); span text is sliced in the final projection
    * where spans meet their doc's tokens in one id-keyed join.
    */
  def maximalDuplicateSpans(df: DataFrame, id: Column, text: Column, k: Int,
      hashKeys: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toksC = col("__toks")
    val docs = df.select(id.as("doc_id"), TextAnalysis.tokens(text).as("__toks"))
    val wins =
      if (hashKeys)
        docs.select(col("doc_id"),
          posexplode(graft.functions.MinHash.windowHashes(concat_ws(" ", toksC), k)))
          .toDF("doc_id", "p", "win")
      else docs.select(col("doc_id"),
        posexplode(when(size(toksC) >= k,
            transform(sequence(lit(0), size(toksC) - k),
              i => lower(concat_ws(" ", slice(toksC, i + lit(1), lit(k))))))
          .otherwise(array().cast("array<string>"))))
        .toDF("doc_id", "p", "win")
    val dups = wins.groupBy("win").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("win"))
    val starts = wins.join(dups, "win").select(col("doc_id"), col("p"))
    // classic interval merge over per-doc dup starts: a gap > k between
    // consecutive starts breaks the run ([p1, p1+k) and [p2, p2+k)
    // overlap-or-abut iff p2 <= p1 + k)
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val spans = starts
      .withColumn("__new", when(
        col("p") - lag(col("p"), 1).over(byDoc) > k || lag(col("p"), 1).over(byDoc).isNull,
        1L).otherwise(0L))
      .withColumn("__span", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__span"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(k) - min(col("p"))).cast("long").as("span_len"))
    spans.join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_len"),
        array_join(slice(toksC, col("span_start") + 1, col("span_len").cast("int")), " ")
          .as("span_text"))
  }

  /** Shingles pre-hashed to 64-bit values: set operations (jaccard,
    * minhash) on longs are several times cheaper than on strings, and
    * at 2^-64 collision odds the jaccard value is unchanged. Hash once,
    * compare many.
    */
  def hashedShingles(text: Column, n: Int = 3): Column =
    transform(shingles(text, n), s => xxhash64(s))

  /** Per-document array of distinct hashed word n-gram shingles:
    * (doc_id, sh: array<long>) — a pure projection through the native
    * [[graft.functions.MinHashRuntime.shingleHashes]] expression, no
    * shuffle at all (the round-1 posexplode + window-lead + distinct
    * formulation spent three shuffles rebuilding what is per-row
    * math). Documents with no tokens yield an empty array.
    */
  def shingleArrays(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("doc_id"), graft.functions.MinHash.shingleHashes(text, n).as("sh"))

  /** Exploded, hashed, per-doc-distinct word n-gram shingles:
    * (doc_id, h) rows — explode of [[shingleArrays]]; documents with
    * no tokens contribute no rows.
    */
  def explodedHashedShingles(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    shingleArrays(df, id, text, n)
      .select(col("doc_id"), explode(col("sh")).as("h"))

  /** MinHash signature: array of `k` minima of seeded re-hashes of the
    * (already hashed) shingle set. Re-hashing an 8-byte long per seed
    * beats hashing the full shingle string k times.
    */
  def minhashSignature(sh: Column, k: Int = 32): Column =
    array((0 until k).map { seed =>
      array_min(transform(sh, s => xxhash64(s, lit(seed))))
    }: _*)

  /** LSH band keys from a MinHash signature: `bands` hashes, each over
    * a contiguous rows-sized slice of the signature. Two docs collide
    * on a band iff that slice matches exactly.
    */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(concat_ws(",", transform(slice(sig, b * rows + 1, rows), _.cast("string"))), lit(b))
    }: _*)

  /** MinHash-LSH candidate pairs: explode band keys, self-join within
    * buckets (a < b to emit each pair once), then verify with exact
    * Jaccard over shingle sets. Only bucket-mates are compared — the
    * global cross product never materializes. Skew guard: buckets
    * larger than `maxBucket` are dropped (they are degenerate —
    * near-identical boilerplate — and would otherwise produce a
    * quadratic hot key; at 100 TB this is the difference between a
    * bounded shuffle and a stuck executor).
    *
    * Verify: the band-mate pairs join straight back to the one cached
    * shingle projection for both sets, in one chain ([[lshVerify]]).
    */
  def minhashNearDups(
      df: DataFrame,
      id: Column,
      text: Column,
      nShingle: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.6,
      maxBucket: Int = 1000): DataFrame = {
    // document -> shingle array -> signature -> band keys is all
    // per-row native expressions: ZERO shuffles before banding (the
    // declarative formulation spent three — explode window, distinct,
    // and a k-way min aggregate). The signature is not cached: the
    // band keys pipeline from the cached shingle arrays, and
    // recomputing the native signature expression per consumer
    // measures cheaper than materializing + re-reading the exploded
    // (doc, band) rows from the block cache
    val withSh = shingleArrays(df, id, text, nShingle).where(size(col("sh")) > 0)
    lshVerify(withSh, graft.functions.MinHash.lshBandKeys(
      graft.functions.MinHash.minhashSig(col("sh"), k), bands, k / bands), threshold, maxBucket)
  }

  /** The band → candidate → verify tail of both MinHash-LSH operators.
    * `withSh` is the per-doc projection (doc_id, sh, …) and `bandKeys`
    * an array of band keys computed from its columns.
    *
    * A frame read more than once inside one action must be
    * materialized eagerly or not persisted at all: a lazily persisted
    * frame is built concurrently by every stage that reads it, so the
    * cache saves nothing and the duplicate builds cost jobs and tasks.
    * Hence `withSh` is persisted AND counted up front — every read
    * below (the hot-bucket count, both self-join sides, both verify
    * joins) is then a cache read. The band-mate pairs are NOT
    * persisted: their single consumer is the verify join chain, so
    * they pipeline through it. Only the result stays cached.
    */
  private def lshVerify(withSh: DataFrame, bandKeys: Column, threshold: Double,
      maxBucket: Int): DataFrame = {
    withSh.persist().count()
    val banded = withSh.select(col("doc_id"), explode(bandKeys).as("band"))
    // skew guard as a broadcast ANTI-join against the hot buckets:
    // only degenerate buckets exceed maxBucket, so the hot list is
    // tiny by definition and the banded rows themselves never shuffle
    // for the guard (the count aggregate partial-combines to band keys)
    val hot = banded.groupBy("band")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
      .select("band")
    val small = banded.join(broadcast(hot), Seq("band"), "left_anti")
    val pairs = small.select(col("band"), col("doc_id").as("id_a"))
      .join(small.select(col("band"), col("doc_id").as("id_b")), Seq("band"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val result = pairs
      .join(withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    materializeAndRelease(result, withSh)
  }

  /** Exact Jaccard similarity of two SET-valued arrays (elements
    * assumed distinct, as produced by [[shingles]]): |A∩B| via one
    * intersect, |A∪B| = |A|+|B|-|A∩B| — no union materialized.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(a) + size(b) - inter
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** SimHash-64 signature: per token, xxhash64 votes +1/-1 on each of
    * 64 bit positions; the sign of each accumulated vote is the
    * signature bit. Built-in array aggregate -> codegen, one pass.
    */
  def simhash(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    // Bit loop unrolled at plan-build time (64 is a constant), so each
    // vote is a codegen'd when() on a statically-shifted hash.
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        val bitVotes = array((0 until 64).map { i =>
          when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
        }: _*)
        zip_with(acc, bitVotes, (v, b) => v + b)
      })
    (0 until 64).map { i =>
      when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash signatures at scale: a pure projection through the native
    * [[graft.functions.MinHashRuntime.simhash]] expression — zero
    * shuffles (round 1's explode + 64-conditional-sum aggregate spent
    * one shuffle of per-token rows). Documents with no tokens are
    * dropped (`rlike "\\S"`), matching the aggregate formulation where
    * a doc with no token rows never surfaced.
    */
  def simhashSignatures(df: DataFrame, id: Column, text: Column): DataFrame =
    df.where(text.rlike("\\S"))
      .select(id.as("doc_id"), graft.functions.MinHash.simhash64(text).as("sig"))

  /** SimHash near-dups: bucket by the 4 16-bit chunks of the signature
    * (pigeonhole: any pair within hamming distance 3 shares at least
    * one exact chunk), then verify hamming <= maxDist within buckets.
    *
    * Skew guard (mirrors [[minhashNearDups]]): chunk buckets larger
    * than `maxBucket` are dropped — a boilerplate-heavy corpus puts
    * thousands of near-identical signatures in one (chunk_i, chunk_v)
    * bucket, and the self-join on that hot key is quadratic. At 100 TB
    * that is a stuck executor; the dropped pairs are degenerate
    * boilerplate a near-dup pass does not need pairwise.
    */
  def simhashNearDups(
      df: DataFrame,
      id: Column,
      text: Column,
      maxDist: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    // feeds BOTH sides of the self-join: persist AND materialize
    // eagerly — without the count the two join sides race to compute
    // the signature partitions concurrently (double compute)
    val sigs = simhashSignatures(df, id, text).persist()
    sigs.count()
    val chunked = sigs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("chunk_i"),
          shiftrightunsigned(col("sig"), i * 16).bitwiseAND(0xFFFFL).as("chunk_v"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk_i"), col("c.chunk_v"))
    // same broadcast anti-join skew guard as minhash: the hot-bucket
    // list is tiny, the chunked rows never shuffle for the guard
    val hot = chunked.groupBy("chunk_i", "chunk_v")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
      .select("chunk_i", "chunk_v")
    val small = chunked.join(broadcast(hot), Seq("chunk_i", "chunk_v"), "left_anti")
    val a = small.select(col("chunk_i"), col("chunk_v"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = small.select(col("chunk_i"), col("chunk_v"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    // filter BEFORE distinct: the hamming predicate is free inside the
    // join stage, so the distinct's shuffle carries only near pairs —
    // not every candidate pair (each of which appears up to 4x, far
    // pairs included)
    val result = a.join(b, Seq("chunk_i", "chunk_v"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
    materializeAndRelease(result, sigs)
  }

  /** Engine-portable 60-bit hash: the first 15 hex chars of
    * `md5("<seed>:" + v)`, parsed base-16. Built ONLY from functions
    * every SQL engine ships (md5, substring, base conversion), so an
    * external system can replicate minhash/simhash SIGNATURES
    * bit-for-bit — unlike xxhash64, whose value is a Spark
    * implementation detail. 60 bits keeps the value positive in a
    * signed 64-bit integer in any engine. This is the reproducibility
    * contract for PERSISTED sketches: a corpus release that ships
    * minhash signatures next to the documents must let any downstream
    * tool (DuckDB audit job, Python checker, another engine's
    * incremental-dedup pass) recompute and extend them; the xxhash64
    * variants stay the intra-Spark fast path (~4× cheaper).
    */
  def portableHash60(v: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), v)), 1, 15), 16, 10).cast("long")

  /** Portable MinHash signature over STRING shingles: k minima of
    * [[portableHash60]] re-hashes — every value reproducible outside
    * Spark (see [[portableHash60]]).
    */
  def portableMinhashSignature(sh: Column, k: Int): Column =
    array((0 until k).map { seed =>
      array_min(transform(sh, s => portableHash60(s, seed)))
    }: _*)

  /** MinHash-LSH near-dups, engine-portable variant: identical
    * pipeline shape to [[minhashNearDups]] (band → bucket self-join →
    * exact-jaccard verify, same hot-bucket anti-join skew guard), but
    * signatures come from [[portableHash60]], so an external engine
    * replicates the signatures value-for-value. Band keys are an
    * xxhash64 of the rendered (comma-joined) signature slice: bucket
    * EQUALITY is hash-of-slice equality, which coincides with the
    * oracle's literal slice equality up to 2^-64 collisions — and a
    * colliding non-equal pair is discarded by the exact-jaccard verify
    * unless it is a true near-dup anyway. This is what makes the
    * operator end-to-end oracle-checkable (q21), and what a persisted
    * signature release needs anyway.
    *
    * Verify: the same one-chain join of band-mate pairs to the cached
    * (doc_id, sh, sig) projection as [[minhashNearDups]] ([[lshVerify]]).
    */
  def minhashNearDupsPortable(
      df: DataFrame,
      id: Column,
      text: Column,
      nShingle: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.4,
      maxBucket: Int = 1000): DataFrame = {
    // one native pass over the text computes BOTH the (xxhash64)
    // shingle sets for the exact-jaccard verify and the portable md5
    // signature — the verify jaccard over hashed shingle sets equals
    // the string-set jaccard the oracle computes (2^-64 collisions
    // aside), exactly as q23 pins; only the SIGNATURE must be portable
    // for the candidate sets to match
    val withSh = df.select(id.as("doc_id"),
        graft.functions.MinHash.shingleHashes(text, nShingle).as("sh"),
        graft.functions.MinHash.portableMinhashSig(text, nShingle, k).as("sig"))
      .where(size(col("sh")) > 0)
    // band keys: xxhash64 of the rendered signature slice — bucket
    // EQUALITY is what must match the oracle's slice-equality join,
    // and hash(slice) equality coincides with slice equality up to
    // 2^-64 collisions (which the exact verify then discards unless
    // the pair is also above threshold)
    lshVerify(withSh, graft.functions.MinHash.lshBandKeys(col("sig"), bands, k / bands),
      threshold, maxBucket)
  }

  /** Portable 60-bit SimHash: per token-occurrence, [[portableHash60]]
    * votes ±1 on each of 60 bit positions; the sign of each
    * accumulated vote is the signature bit (ties → 0, in every
    * engine). Same construction as [[simhash]] but reproducible
    * outside Spark.
    */
  def simhash60Portable(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 60),
      (acc, t) => {
        val h = portableHash60(t, 0)
        val bitVotes = array((0 until 60).map { i =>
          when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
        }: _*)
        zip_with(acc, bitVotes, (v, b) => v + b)
      })
    (0 until 60).map { i =>
      when(element_at(votes, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash near-dups, engine-portable variant: 60-bit
    * [[simhash60Portable]] signatures, pigeonhole-bucketed by the 4
    * 15-bit chunks. With 4 chunks the candidate stage is EXACT for
    * `maxDist <= 3` (at most 3 differing bits can touch at most 3
    * chunks, so one chunk always matches) — the output is the
    * complete hamming-≤-maxDist pair set, not a recall-limited
    * approximation, and any engine that can md5 reproduces it
    * value-for-value (q22's oracle does, all-pairs). Same hot-bucket
    * skew guard as [[simhashNearDups]].
    */
  def simhashNearDupsPortable(
      df: DataFrame,
      id: Column,
      text: Column,
      maxDist: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(maxDist <= 3, s"4-chunk pigeonhole is exact only for maxDist <= 3, got $maxDist")
    val sigs = df.where(text.rlike("\\S"))
      .select(id.as("doc_id"), graft.functions.MinHash.simhash60md5(text).as("sig"))
      .persist()
    sigs.count()
    val chunked = sigs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("chunk_i"),
          shiftrightunsigned(col("sig"), i * 15).bitwiseAND(0x7FFFL).as("chunk_v"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk_i"), col("c.chunk_v"))
    val hot = chunked.groupBy("chunk_i", "chunk_v")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
      .select("chunk_i", "chunk_v")
    val small = chunked.join(broadcast(hot), Seq("chunk_i", "chunk_v"), "left_anti")
    val a = small.select(col("chunk_i"), col("chunk_v"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = small.select(col("chunk_i"), col("chunk_v"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    val result = a.join(b, Seq("chunk_i", "chunk_v"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
    materializeAndRelease(result, sigs)
  }

  /** n-gram Jaccard near-dups with length+language blocking: only
    * documents in the same (lang, length-bucket) block are compared.
    *
    * Fully relational shape: shingles are exploded and the self-join
    * keys on (block, shingle), so the intersection size per pair is a
    * count aggregate — no per-pair array scans, no pair ever forms
    * unless it shares >= 1 shingle. That is the shape that survives a
    * 100x scale-up: work is proportional to actual shingle overlap,
    * shuffled by shingle, instead of |block|^2 array intersections.
    *
    * `maxShingleFreq` is the hot-key guard for that join (the analog
    * of minhash/simhash's `maxBucket`): a boilerplate shingle shared
    * by k documents of one block contributes k^2 join rows while
    * carrying almost no Jaccard evidence. Capped shingles are dropped
    * from BOTH the intersection and each document's shingle count
    * `nsh`, so the jaccard stays a true set similarity over the
    * remaining (discriminative) shingles. The default (MaxValue) is
    * exact — matching the DuckDB oracle; at 100 TB set a cap (e.g.
    * 1000) like `ScaleSmoke` does.
    */
  def ngramJaccardNearDups(
      df: DataFrame,
      id: Column,
      text: Column,
      lang: Column,
      nChars: Column,
      n: Int = 3,
      threshold: Double = 0.5,
      bucketWidth: Int = 100,
      maxShingleFreq: Int = Int.MaxValue): DataFrame = {
    // one shuffle-free projection carries everything the blocked
    // self-join needs: block keys, the per-doc shingle count (size of
    // the native shingle array — round 1 spent a window shuffle and a
    // doc-metadata join recovering it), and the exploded shingles
    val raw = df.select(id.as("doc_id"), lang.as("lang"),
        floor(nChars / bucketWidth).as("lb"),
        graft.functions.MinHash.shingleHashes(text, n).as("sh"))
      .withColumn("nsh", size(col("sh")).cast("long"))
      .where(col("nsh") > 0)
      .select(col("doc_id"), col("lang"), col("lb"), col("nsh"), explode(col("sh")).as("h"))
    val ex = (if (maxShingleFreq == Int.MaxValue) raw
      else {
        // broadcast anti-join against the (tiny) hot-shingle list, then
        // recompute nsh over the surviving shingles so jaccard remains
        // a true set similarity
        val hot = raw.groupBy("lang", "lb", "h")
          .agg(count(lit(1)).as("freq"))
          .where(col("freq") > maxShingleFreq)
          .select(col("lang"), col("lb"), col("h"))
        raw.join(broadcast(hot), Seq("lang", "lb", "h"), "left_anti")
          .withColumn("nsh",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id")))
      }).persist()
    // eager materialization: both self-join sides read the cache
    // instead of racing to compute the exploded shingles twice
    ex.count()
    val a = ex.select(col("lang"), col("lb"), col("h").as("s"),
      col("doc_id").as("id_a"), col("nsh").as("nsh_a"))
    val b = ex.select(col("lang"), col("lb"), col("h").as("s"),
      col("doc_id").as("id_b"), col("nsh").as("nsh_b"))
    val inter = a.join(b, Seq("lang", "lb", "s"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "nsh_a", "nsh_b")
      .agg(count(lit(1)).as("inter"))
    val result = inter
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
    materializeAndRelease(result, ex)
  }

  /** Benchmark decontamination: for every corpus document, the
    * benchmark documents it shares at least `minShared` distinct word
    * n-gram shingles with — the standard train/test contamination
    * check before training on scraped data.
    *
    * Scale shape: the benchmark side is small by nature, so its
    * exploded shingles BROADCAST — the corpus never shuffles to meet
    * it; the only exchange is the (doc, bench) partial-count
    * aggregate, whose rows exist only where a shingle actually
    * matches. Work is proportional to true overlap, like the blocked
    * jaccard path.
    */
  def contamination(
      corpus: DataFrame,
      corpusId: Column,
      corpusText: Column,
      bench: DataFrame,
      benchId: Column,
      benchText: Column,
      n: Int = 3,
      minShared: Long = 5L): DataFrame = {
    val c = explodedHashedShingles(corpus, corpusId, corpusText, n)
    val b = explodedHashedShingles(bench, benchId, benchText, n)
      .select(col("doc_id").as("bench_id"), col("h"))
    // shingles are per-doc distinct, so the match count IS the
    // intersection size
    c.join(broadcast(b), "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Per-document n-gram contamination RATE against a benchmark set —
    * the drop-vs-keep statistic behind published LM decontamination
    * (remove a training doc when too many of its word n-grams appear
    * in any eval set): for every corpus document, its distinct
    * word-token n-gram count, how many of those appear anywhere in
    * the benchmark, and the exact ppm rate (hit·10⁶ div total).
    * [[contamination]] answers "WHICH bench doc does this overlap"
    * (pairwise, char shingles); this answers "HOW MUCH of this doc is
    * benchmark text" (per-doc, word n-grams), which is what the
    * keep/drop threshold reads. Documents with fewer than `n` tokens
    * have no n-grams and are absent from the output.
    *
    * Scale shape: n-grams come from the native codegen'd `word_ngrams`
    * kernel (one fused scan per document) and per-doc dedup is
    * MAP-SIDE (array_distinct before the explode), so the corpus takes
    * exactly ONE exchange — the final per-doc count aggregate; the
    * benchmark n-gram set is distinct'd and BROADCAST (eval sets are
    * small by nature). No corpus-vs-corpus stage exists.
    */
  def contaminationRate(
      corpus: DataFrame,
      id: Column,
      text: Column,
      bench: DataFrame,
      benchText: Column,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    def grams(t: Column): Column =
      array_distinct(coalesce(graft.functions.TextOps.wordNgrams(t, n),
        array().cast("array<string>")))
    val docGrams = corpus.select(id.as("id"), explode(grams(text)).as("g"))
    val benchGrams = bench.select(explode(grams(benchText)).as("g"))
      .distinct().withColumn("hit", lit(1L))
    docGrams
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("id"), col("n_ngrams"), col("n_hit"),
        expr("n_hit * 1000000L div n_ngrams").as("hit_ppm"))
  }

  /** Near-duplicate pairs between an arriving BATCH and the existing
    * corpus — the fuzzy sibling of [[incrementalDedup]]: at ingest
    * time, which new documents are near-dups of something already
    * kept? `corpusShingles` is the (doc_id, sh: array<long>) table
    * [[shingleArrays]] produces — persisted ONCE when the corpus was
    * built, so the corpus text is neither read nor re-shingled per
    * batch (the entire point of incremental ingest).
    *
    * Scale shape: the batch is small by nature, so its exploded
    * shingles BROADCAST; the corpus side is a map-only scan of the
    * shingle table — no corpus shuffle, no corpus re-hash. The only
    * exchange is the (batch, corpus) partial-count aggregate, whose
    * rows exist only where a shingle actually matches: work is
    * proportional to true overlap, like [[ngramJaccardNearDups]]'s
    * verify stage. Exact jaccard (n-gram, not minhash), so the result
    * is oracle-checkable and threshold-sharp.
    */
  def incrementalNearDup(
      batch: DataFrame,
      batchId: Column,
      batchText: Column,
      corpusShingles: DataFrame,
      threshold: Double,
      n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    val b = shingleArrays(batch, batchId, batchText, n)
      .select(col("doc_id").as("batch_id"), col("sh"))
      .where(size(col("sh")) > 0)
      .select(col("batch_id"), size(col("sh")).cast("long").as("nsh_b"),
        explode(col("sh")).as("h"))
    val c = corpusShingles
      .select(col("doc_id").as("corpus_id"), size(col("sh")).cast("long").as("nsh_c"),
        explode(col("sh")).as("h"))
    val inter = c.join(broadcast(b), "h")
      .groupBy("batch_id", "corpus_id", "nsh_b", "nsh_c")
      .agg(count(lit(1)).as("inter"))
    inter
      .select(col("batch_id"), col("corpus_id"),
        (col("inter").cast("double") /
          (col("nsh_b") + col("nsh_c") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination with a BLOOM-FILTER prefilter: same
    * answer as [[contamination]] restated per corpus document (which
    * documents share >= minShared distinct shingles with the benchmark
    * UNION), but the corpus-side explode+join runs only for documents
    * whose shingle array probes positive against a bloom filter of the
    * benchmark shingle set — evaluated INSIDE the corpus scan
    * (`exists` over the native shingle_hashes array + the codegen'd
    * [[graft.functions.BloomMightContain]] probe), map-only, no
    * exchange.
    *
    * Exactness: the bloom filter has NO false negatives, so every
    * truly-contaminated document survives the prefilter; false
    * positives (rate `fpp`) are dropped by the exact join that
    * follows. The output is therefore bit-identical to the exact
    * formulation — the filter only cuts work.
    *
    * Scale: at 100 TB the decontamination bottleneck is touching every
    * corpus shingle against the benchmark table. The serialized filter
    * costs ~1.2 bytes per distinct benchmark shingle at 1% fpp (vs 8+
    * bytes per entry in a broadcast hash-join table), ships once per
    * stage as a plan constant, and turns the non-contaminated ~all of
    * the corpus into a scan-local reject — only probe hits (true
    * contamination + fpp noise) ever explode or shuffle.
    */
  def bloomContamination(
      corpus: DataFrame,
      corpusId: Column,
      corpusText: Column,
      bench: DataFrame,
      benchText: Column,
      n: Int = 3,
      fpp: Double = 0.01,
      minShared: Long = 1L): DataFrame = {
    import graft.functions.{BloomOps, MinHash}
    val benchH = bench.select(explode(MinHash.shingleHashes(benchText, n)).as("h"))
      .distinct().persist()
    val nItems = benchH.count()
    val bf = benchH.stat.bloomFilter("h", math.max(nItems, 1024L), fpp)
    val bytes = BloomOps.serialize(bf)
    val candidates = corpus
      .select(corpusId.as("doc_id"), MinHash.shingleHashes(corpusText, n).as("sh"))
      .where(exists(col("sh"), h => BloomOps.mightContain(h, bytes)))
    val result = candidates
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .join(broadcast(benchH), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    // the persist served the two driver actions (count + filter build);
    // release it NOW — the verify join recomputes the small bench
    // shingles lazily, so the result is leak-free with no caller
    // unpersist obligation (unlike the candidate-pair operators, whose
    // persisted outputs feed several downstream passes)
    benchH.unpersist()
    result
  }

  /** Connected components over near-dup pairs -> dedup groups: every
    * doc labeled with the minimum id reachable through the pair graph
    * (the id to KEEP for its group). Iterative min-label propagation
    * with POINTER DOUBLING: each round takes the min over neighbour
    * labels, then follows the winning label's own label one more hop
    * (label(label(i))), so a component of diameter d converges in
    * O(log d) rounds, not O(d) — a pathological 1M-link chain needs
    * ~20 rounds instead of 1M. Spark-idiomatic Pregel-lite without
    * GraphX.
    *
    * Throws IllegalStateException if `maxIter` rounds pass without a
    * fixpoint (possible only for diameter > ~2^maxIter): silently
    * returning unconverged labels would split one true group into
    * several and the caller's dedup would keep spurious "bests".
    */
  def dedupGroups(pairs: DataFrame, maxIter: Int = 20, driverThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val dedupedPairs = pairs.select(col("id_a"), col("id_b")).distinct().persist()
    val nPairs = dedupedPairs.count()
    if (nPairs <= driverThreshold) {
      // the pair set is near-dup OUTPUT — tiny relative to the corpus.
      // Below the threshold a driver union-find replaces ~diameter
      // Spark rounds (each a join + count job) with microseconds; the
      // distributed loop below only earns its overhead past ~1M pairs.
      val es = dedupedPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      dedupedPairs.unpersist()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      import spark.implicits._
      return rows.toDF("id", "keep_id")
    }
    val edges = dedupedPairs
      .union(dedupedPairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persist()
    // localCheckpoint, not persist: the doubling self-join below
    // references each round's frame TWICE, so without lineage
    // truncation the LOGICAL plan doubles per round and Catalyst
    // analysis goes exponential by round ~15 (persist caches data but
    // not the analyzer's work). Eager localCheckpoint gives each round
    // a flat leaf plan — the standard Spark iterative-algorithm shape.
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neigh = edges.join(labels, edges("id_b") === labels("id"))
        .groupBy(edges("id_a").as("id"))
        .agg(min("label").as("nlabel"))
      val prop = labels.as("l").join(neigh.as("n"), Seq("id"), "left")
        .select(col("id"),
          least(col("l.label"), coalesce(col("n.nlabel"), col("l.label"))).as("label"))
      // pointer doubling: label values are themselves node ids, so one
      // self-join follows label(label(i)) — the hop that turns linear
      // convergence into logarithmic
      val updated = prop.as("p")
        .join(prop.select(col("id").as("pid"), col("label").as("plabel")).as("pp"),
          col("p.label") === col("pp.pid"), "left")
        .select(col("p.id").as("id"),
          least(col("p.label"), coalesce(col("pp.plabel"), col("p.label"))).as("label"))
        .localCheckpoint(true)
      val changed = updated.as("u")
        .join(labels.withColumnRenamed("label", "old"), "id")
        .where(col("label") =!= col("old")).count()
      labels.unpersist()
      labels = updated
      converged = changed == 0
      i += 1
    }
    if (!converged) {
      labels.unpersist(); edges.unpersist(); dedupedPairs.unpersist()
      throw new IllegalStateException(
        s"dedupGroups: min-label propagation did not reach a fixpoint in $maxIter rounds " +
          "(component diameter > ~2^maxIter); raise maxIter — returning unconverged labels " +
          "would split true dedup groups")
    }
    materializeAndRelease(
      labels.withColumnRenamed("label", "keep_id"),
      labels, edges, dedupedPairs)
  }

  /** Embedding near-dups: pairs with cosine similarity above the
    * threshold, candidates restricted by IVF-style coarse buckets
    * (see Similarity.ivfAssign) so the cross product stays per-bucket.
    */
  def embeddingNearDups(
      df: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      nBuckets: Int = 16): DataFrame = {
    // feeds BOTH sides of the self-join: persist, or the centroid
    // assignment (a cross join + aggregate) runs twice
    val assigned = Similarity.ivfAssign(
      df.select(id.as("doc_id"), vec.as("v")), col("doc_id"), col("v"), nBuckets)
      .persist()
    val a = assigned.select(col("bucket"), col("doc_id").as("id_a"),
      col("v").as("v_a"), col("v_norm").as("n_a"))
    val b = assigned.select(col("bucket"), col("doc_id").as("id_b"),
      col("v").as("v_b"), col("v_norm").as("n_b"))
    val result = a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineFromNorms(Similarity.dot(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")).as("cos"))
      .where(col("cos") >= threshold)
    materializeAndRelease(result, assigned)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): embedding-space near-duplicate detection
    * ([[embeddingNearDups]] — IVF-bucketed candidates, exact cosine
    * verify), connected components over the resulting pair graph
    * ([[dedupGroups]]), then keep exactly ONE representative per
    * semantic cluster — the minimum id, the same keep rule every other
    * dedup operator here uses. Returns the surviving rows of `df` with
    * their original columns.
    *
    * Scale shape inherits from its parts: candidate generation is
    * per-IVF-bucket (no all-pairs stage), components are
    * pointer-doubled min-label propagation over the PAIR set (≪
    * corpus), and the final keep is a left-anti join against the drop
    * set — near-dup-set-sized, broadcastable at real dup rates. The
    * full-row df never shuffles: the anti join's probe side is the
    * scan itself.
    */
  def semanticDedup(
      df: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      nBuckets: Int = 16): DataFrame = {
    val pairs = embeddingNearDups(df, id, vec, threshold, nBuckets)
      .select("id_a", "id_b")
    val drops = dedupGroups(pairs)
      .where(col("id") =!= col("keep_id"))
      .select(col("id").as("__sd_id"))
    df.withColumn("__sd_id", id.cast("long"))
      .join(drops, Seq("__sd_id"), "left_anti")
      .drop("__sd_id")
  }

  /** [[semanticDedup]] with a QUALITY keep rule: per semantic cluster,
    * keep the member with the highest `score` (ties to the smallest
    * id) instead of the smallest id — the "keep the best page of the
    * near-dup set" policy ([[keepBest]]'s rule, lifted from exact
    * fingerprint groups to embedding-cosine components).
    *
    * Scale shape: the ranking window runs ONLY over component members
    * (a semi-join against the pair-set-sized group map selects them),
    * never the corpus — unpaired documents pass through an anti join
    * untouched, so corpus rows cross zero width-of-corpus windows and
    * the two membership joins broadcast at real dup rates.
    */
  def semanticDedupKeepBest(
      df: DataFrame,
      id: Column,
      vec: Column,
      score: Column,
      threshold: Double,
      nBuckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = embeddingNearDups(df, id, vec, threshold, nBuckets)
      .select("id_a", "id_b")
    val groups = dedupGroups(pairs)
      .select(col("id").as("__sdb_id"), col("keep_id").as("__sdb_grp"))
    val keyed = df.withColumn("__sdb_id", id.cast("long"))
    val unpaired = keyed.join(groups.select("__sdb_id"), Seq("__sdb_id"), "left_anti")
    val winners = keyed.join(groups, Seq("__sdb_id"))
      .withColumn("__sdb_rn", row_number().over(
        Window.partitionBy("__sdb_grp").orderBy(score.desc, col("__sdb_id"))))
      .where(col("__sdb_rn") === 1)
      .drop("__sdb_grp", "__sdb_rn")
    unpaired.unionByName(winners).drop("__sdb_id")
  }

  /** Candidate-generation quality gate for pair-producing dedup
    * stages: compare a candidate pair set (e.g. MinHash-LSH banding)
    * against a ground-truth pair set (e.g. exact unblocked n-gram
    * Jaccard) and return ONE row of integer-exact counts —
    * (n_truth, n_cand, n_hit, recall_per_mille, precision_per_mille).
    * Recall is the probability a true near-dup pair survives the
    * candidate generator — THE number that decides a banding
    * configuration (k, bands, rows) before a production dedup run.
    * Per-mille values are NULL when their denominator is empty.
    *
    * Inputs are (id_a, id_b) frames with id_a < id_b unique pairs
    * (every pair operator here emits that shape). Scale shape: both
    * sides are near-dup-pair-sized (overlap-proportional, not
    * corpus-sized); one join + one 1-row aggregate.
    */
  def pairEval(truth: DataFrame, candidate: DataFrame): DataFrame = {
    val t = truth.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b"), lit(1L).as("__t"))
    val c = candidate.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b"), lit(1L).as("__c"))
    t.join(c, Seq("id_a", "id_b"), "full")
      .agg(
        coalesce(sum(col("__t")), lit(0L)).as("n_truth"),
        coalesce(sum(col("__c")), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("__t").isNotNull && col("__c").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_hit"))
      .withColumn("recall_per_mille",
        when(col("n_truth") > 0, expr("n_hit * 1000L div n_truth")))
      .withColumn("precision_per_mille",
        when(col("n_cand") > 0, expr("n_hit * 1000L div n_cand")))
  }
}
