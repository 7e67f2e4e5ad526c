package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (array<float>).
  *
  * Vector math is pure built-ins (`zip_with` + `aggregate`), evaluated
  * inside whole-stage codegen — no UDF boxing per element. Arithmetic
  * is double-precision left-to-right, which keeps results reproducible
  * across engines for oracle comparison.
  *
  * Scale path: brute force is the correctness baseline (its cross
  * product is broadcast-able only while the query set is small); the
  * IVF variant buckets both sides by nearest coarse centroid so each
  * query only scans one bucket — the 100 TB plan is
  * partition-by-bucket, co-locating the join.
  */
object Similarity {

  /** Dot product of two float/double array columns — the native
    * codegen'd [[graft.functions.VecRuntime]] expression (the
    * zip_with + aggregate formulation is CodegenFallback: every
    * candidate-pair comparison would run interpreted lambdas with
    * boxed intermediates; see [[dotDeclarative]]). Identical
    * arithmetic: left-to-right double accumulation.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecOps.dot(a, b)

  /** The built-ins-only formulation, kept as the equivalence baseline
    * the native expression is tested against (and for callers with
    * non-float/double numeric arrays).
    */
  def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Cosine from a pair dot product and per-vector precomputed norms.
    * Array lambdas are interpreted (CodegenFallback), so in pairwise
    * stages each vector's norm is computed ONCE upstream and carried
    * as a scalar column — same arithmetic (dot / (na*nb)), a third of
    * the lambda evaluations per pair.
    */
  def cosineFromNorms(d: Column, na: Column, nb: Column): Column = {
    val n = na * nb
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries` and `corpus` both carry (id, vec). The query side is
    * expected small -> broadcast it so the corpus never shuffles; the
    * per-query ranking is a window over (query_id) partitions.
    * Self-matches (same id) are excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      norm(col("vec")).as("q_norm"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
      norm(col("vec")).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
    // bounded top-k AGGREGATE instead of a ranking window (guide
    // §2.3 "aggregate before you shuffle"): the window shipped the
    // ENTIRE query×corpus pair web through the exchange and sorted
    // it; the aggregate's map-side partials carry at most k pairs
    // per (query × task), so the exchange is ~corpus/k-fold smaller.
    // Content and tie-breaks (cos desc, neighbor_id asc) are
    // identical — TopKPairsSpec pins equality with the window form.
    scored
      .groupBy("query_id")
      .agg(graft.functions.TopK.pairs(col("cos"), col("neighbor_id"), k).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__e"))
      .select(col("query_id"),
        col("__e.neighbor_id").as("neighbor_id"), col("__e.cos").as("cos"))
  }

  /** Hard-negative mining for retrieval/classifier training: for each
    * query (id, vec, label), the top-k most-cosine-similar CORPUS
    * vectors with a DIFFERENT label (and different id) — the
    * "confusable but wrong" examples contrastive training wants.
    *
    * Same scale shape as [[bruteForceTopK]]: the query batch
    * broadcasts, the corpus never shuffles, scoring is the native
    * codegen'd `vec_dot`, and only (query_id, neighbor_id, cos) rows
    * — never vectors — reach the per-query ranking window. For
    * corpus-scale query sets, run the same label filter through
    * [[ivfTopKIndexed]]'s bucketed serve instead.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      col("label").as("q_label"), norm(col("vec")).as("q_norm"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
      col("label").as("c_label"), norm(col("vec")).as("c_norm"))
    c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id") &&
        col("q_label") =!= col("c_label"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      // same bounded-top-k aggregate as [[bruteForceTopK]] — k pairs
      // per (query × task) cross the exchange, not the pair web
      .groupBy("query_id")
      .agg(graft.functions.TopK.pairs(col("cos"), col("neighbor_id"), k).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__e"))
      .select(col("query_id"),
        col("__e.neighbor_id").as("neighbor_id"), col("__e.cos").as("cos"))
  }

  /** Contrastive triplet mining: one row per anchor with its hardest
    * POSITIVE (most-similar same-label corpus vector, self excluded)
    * and hardest NEGATIVE (most-similar different-label vector) — the
    * (anchor, positive, negative) manifest contrastive/metric-learning
    * training consumes directly. Anchors missing either side (a label
    * with a single member has no positive) are dropped.
    *
    * One broadcast-scored corpus pass serves BOTH picks: the ranking
    * window partitions by (anchor, same-label?) so positives and
    * negatives rank in the same shuffle, then the two rank-1 rows
    * per anchor meet in a skinny self-join keyed on the anchor id —
    * vectors never leave the scoring projection.
    */
  def tripletMining(anchors: DataFrame, corpus: DataFrame): DataFrame = {
    val q = anchors.select(col("id").as("anchor_id"), col("vec").as("q_vec"),
      col("label").as("q_label"), norm(col("vec")).as("q_norm"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
      col("label").as("c_label"), norm(col("vec")).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("anchor_id") =!= col("neighbor_id"))
      .select(col("anchor_id"), col("neighbor_id"),
        (col("q_label") === col("c_label")).as("same"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("anchor_id", "same")
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") === 1)
    scored.where(col("same"))
      .select(col("anchor_id"), col("neighbor_id").as("positive_id"),
        col("cos").as("pos_cos"))
      .join(scored.where(!col("same"))
        .select(col("anchor_id"), col("neighbor_id").as("negative_id"),
          col("cos").as("neg_cos")), "anchor_id")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    * CCMatrix/LASER recipe for building parallel training corpora):
    * a raw cosine threshold can't separate true translations from
    * "hub" sentences that are close to everything, so each candidate
    * pair is scored by its cosine RELATIVE to both sentences' k-NN
    * neighborhoods (the ratio margin), and the mined pairs are the
    * MUTUAL best — x's best target whose own best source is x.
    *
    * Integer-exact for the oracle gate: cosines quantize to exact
    * micro units (c6 = round(cos·10⁶), a BIGINT), neighborhood sums
    * are order-independent integer sums, and
    *
    *   margin_ppm = c6 · 2k · 10⁶ div (Σ_fwd c6 + Σ_bwd c6)
    *
    * (max |c6·2k·10⁶| ≈ 8·10¹², comfortably inside BIGINT). Pairs
    * whose denominator is ≤ 0 (degenerate all-negative
    * neighborhoods) are dropped, documented rather than scored.
    *
    * Output: per src id its best tgt by (margin desc, tgt_id) with
    * (src_id, tgt_id, margin_ppm, mutual). Scale shape: the scoring
    * pass broadcasts the smaller side (the brute baseline — compose
    * the candidate stage with [[ivfTopKIndexed]]/[[binaryTopK]] for
    * corpus×corpus mining); neighborhood sums are per-side windowed
    * aggregates over (id, c6) rows — vectors never reach them.
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val s = src.select(col("id").as("src_id"), col("vec").as("s_vec"),
      norm(col("vec")).as("s_norm"))
    val tg = tgt.select(col("id").as("tgt_id"), col("vec").as("t_vec"),
      norm(col("vec")).as("t_norm"))
    // NOT persisted: the plan is referenced by both neighborhood sums
    // and the margin join, but each reference is the same broadcast
    // map-pass — re-evaluation is cheaper than pinning a cache entry
    // per invocation (callers mining at corpus scale persist the
    // candidate-stage output themselves)
    val scored = tg.crossJoin(broadcast(s))
      .select(col("src_id"), col("tgt_id"),
        round(cosineFromNorms(dot(col("s_vec"), col("t_vec")),
          col("s_norm"), col("t_norm")) * 1000000.0, 0).cast("long").as("c6"))
    def nnSum(key: String) = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(key).orderBy(col("c6").desc,
          col(if (key == "src_id") "tgt_id" else "src_id"))))
      .where(col("rk") <= k)
      .groupBy(key).agg(sum(col("c6")).as(s"${key.take(3)}_nn_sum"))
    // c6 > 0: anti-correlated pairs are never minable, and keeping
    // the numerator positive makes the integer division portable
    // (truncation vs floor only differ on negatives)
    val margins = scored
      .where(col("c6") > 0)
      .join(nnSum("src_id"), Seq("src_id"))
      .join(nnSum("tgt_id"), Seq("tgt_id"))
      .where(col("src_nn_sum") + col("tgt_nn_sum") > 0)
      .select(col("src_id"), col("tgt_id"),
        expr(s"c6 * ${2L * k}L * 1000000L div (src_nn_sum + tgt_nn_sum)")
          .as("margin_ppm"))
    val bestF = margins
      .withColumn("rk", row_number().over(
        Window.partitionBy("src_id").orderBy(col("margin_ppm").desc, col("tgt_id"))))
      .where(col("rk") === 1).drop("rk")
    val bestB = margins
      .withColumn("rk", row_number().over(
        Window.partitionBy("tgt_id").orderBy(col("margin_ppm").desc, col("src_id"))))
      .where(col("rk") === 1)
      .select(col("tgt_id"), col("src_id").as("b_src_id"))
    bestF.join(bestB, Seq("tgt_id"), "left")
      .select(col("src_id"), col("tgt_id"), col("margin_ppm"),
        (col("b_src_id").isNotNull && col("b_src_id") === col("src_id")).as("mutual"))
  }

  /** IVF coarse assignment: centroids are the corpus vectors with
    * id < nBuckets (deterministic, seedless — at real scale these
    * would come from a k-means job, but a fixed pseudo-random subset
    * is the standard bootstrap). Each vector goes to its
    * nearest-by-cosine centroid; ties break to the smallest centroid
    * id. Centroids are broadcast; the corpus never shuffles to be
    * assigned.
    */
  def ivfAssign(df: DataFrame, id: Column, vec: Column, nBuckets: Int): DataFrame = {
    val in = df.select(id.as("doc_id"), vec.as("v"))
    val cents = in.where(col("doc_id") < nBuckets)
      .select(col("doc_id").as("cent_id"), col("v").as("cent_v"))
    ivfAssignWith(in, cents)
  }

  /** Coarse-assign each (doc_id, v) row to its nearest centroid from an
    * explicit centroid table (cent_id, cent_v) — the centroid set MUST
    * be shared between corpus and query assignment or the buckets don't
    * line up.
    */
  def ivfAssignWith(in: DataFrame, cents: DataFrame): DataFrame = {
    // nearest centroid as a max_by AGGREGATE, not a row_number window:
    // the aggregate partial-combines map-side, so the shuffle carries
    // one row per document instead of one per (document, centroid) —
    // an nBuckets-fold reduction at the exchange. Tie-break matches
    // the previous (cent_cos desc, cent_id asc) window order via the
    // (cent_cos, -cent_id) ordering struct.
    in.withColumn("v_norm", norm(col("v")))
      .crossJoin(broadcast(cents.withColumn("cent_norm", norm(col("cent_v")))))
      .select(col("doc_id"), col("v"), col("v_norm"), col("cent_id"),
        round(cosineFromNorms(dot(col("v"), col("cent_v")),
          col("v_norm"), col("cent_norm")), 6).as("cent_cos"))
      .groupBy("doc_id")
      .agg(
        first(col("v")).as("v"),           // constant within the group
        first(col("v_norm")).as("v_norm"), // constant within the group
        max_by(col("cent_id"), struct(col("cent_cos"), -col("cent_id"))).as("bucket"))
      .select(col("doc_id"), col("v"), col("v_norm"), col("bucket"))
  }

  /** Train IVF coarse centroids with k-means (spark.ml) — the
    * production path: the seedless id<nBuckets bootstrap in
    * [[ivfAssign]] is for oracle-reproducible tests, while real
    * recall wants centroids that follow the data distribution.
    * Returns a (cent_id, cent_v) DataFrame directly usable by
    * [[ivfAssignWith]]. Deterministic for a fixed seed and input.
    */
  def trainCentroids(df: DataFrame, vec: Column, k: Int, seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val input = df.select(array_to_vector(vec.cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").fit(input)
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toArray) }
      .toDF("cent_id", "cent_v")
  }

  /** Multi-probe query assignment: each query explodes to its
    * `nProbe` nearest coarse buckets (higher nProbe = higher recall,
    * linearly more candidate scans — the standard IVF tuning knob).
    * The ranking window partitions by query id; the query batch is
    * the small side by design, so this never sees corpus-scale data.
    */
  def ivfProbe(in: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    in.withColumn("v_norm", norm(col("v")))
      .crossJoin(broadcast(cents.withColumn("cent_norm", norm(col("cent_v")))))
      .select(col("doc_id"), col("v"), col("v_norm"), col("cent_id"),
        round(cosineFromNorms(dot(col("v"), col("cent_v")),
          col("v_norm"), col("cent_norm")), 6).as("cent_cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("cent_cos").desc, col("cent_id"))))
      .where(col("rk") <= nProbe)
      .select(col("doc_id"), col("v"), col("v_norm"), col("cent_id").as("bucket"))

  /** A built IVF index: the centroid table and the coarse-assigned
    * corpus (bucket, neighbor_id, c_vec, c_norm). The N*nBuckets
    * assignment cost lives HERE, paid once at build time — persist
    * `assigned` (or write it bucket-partitioned/bucketed to parquet)
    * and serve every query batch against it via [[ivfTopKIndexed]];
    * per-batch work is then only the probe + in-bucket scan.
    */
  final case class IvfIndex(cents: DataFrame, assigned: DataFrame)

  /** Build an IVF index with the deterministic id<nBuckets centroid
    * bootstrap (swap in [[trainCentroids]] output via [[ivfIndexWith]]
    * for data-distribution-following centroids).
    */
  def ivfIndex(corpus: DataFrame, nBuckets: Int): IvfIndex = {
    val corpusIn = corpus.select(col("id").as("doc_id"), col("vec").as("v"))
    val cents = corpusIn.where(col("doc_id") < nBuckets)
      .select(col("doc_id").as("cent_id"), col("v").as("cent_v"))
    ivfIndexWith(corpus, cents)
  }

  /** Build an IVF index against an explicit centroid table. */
  def ivfIndexWith(corpus: DataFrame, cents: DataFrame): IvfIndex = {
    val corpusIn = corpus.select(col("id").as("doc_id"), col("vec").as("v"))
    val assigned = ivfAssignWith(corpusIn, cents)
      .select(col("bucket"), col("doc_id").as("neighbor_id"), col("v").as("c_vec"),
        col("v_norm").as("c_norm"))
    IvfIndex(cents, assigned)
  }

  /** Incrementally extend an index with a batch of new vectors — the
    * ingest path that never rebuilds: ONLY the batch pays the
    * assignment cost (batch_size × nBuckets dot products, map-side),
    * the existing corpus is untouched, and the result unions the old
    * assigned table with the newly assigned rows under the SAME
    * centroid set (centroids must stay fixed or buckets stop lining
    * up — re-centering is an offline index rebuild by definition).
    * With `index.assigned` backed by a bucketed warehouse table, the
    * batch rows land via an append write to the same table instead of
    * a plan-level union — the union form here keeps the operator
    * storage-agnostic; [[graft.operators.Scale.writeBucketed]]-backed
    * callers append and re-read the table.
    *
    * Serving the extended index equals serving a from-scratch index
    * over old ∪ batch by construction: assignment is per-row and
    * centroid-deterministic, so the union of assignments IS the
    * assignment of the union (`SimilaritySpec` pins it; q115 checks
    * it against the full-corpus oracle).
    */
  def ivfIndexAppend(index: IvfIndex, batch: DataFrame): IvfIndex = {
    val batchIn = batch.select(col("id").as("doc_id"), col("vec").as("v"))
    val assignedBatch = ivfAssignWith(batchIn, index.cents)
      .select(col("bucket"), col("doc_id").as("neighbor_id"), col("v").as("c_vec"),
        col("v_norm").as("c_norm"))
    IvfIndex(index.cents, index.assigned.unionByName(assignedBatch))
  }

  /** Centroid re-training MIGRATION diff: re-assign every indexed
    * vector under a NEW centroid table and emit ONLY the rows whose
    * bucket changes — (neighbor_id, old_bucket, new_bucket). The
    * continuously-crawled-corpus path [[ivfIndexAppend]] pins
    * centroids by contract; eventually the drifted corpus wants
    * re-trained centroids WITHOUT a full index rebuild, and this is
    * that diff (the [[Snapshot.applyChanges]] idea applied to the
    * index).
    *
    * MAP-ONLY — zero exchanges: the new centroids (model-sized,
    * k·d values) collect once and re-enter the plan as a literal
    * array; the nearest-bucket fold reuses the EXACT arithmetic of
    * [[ivfAssignWith]] (same [[dot]] kernel, same
    * [[cosineFromNorms]], same round-to-6, same
    * (cos desc, cent_id asc) tie-break — centroids fold in ascending
    * cent_id order with a strict `>`, so ties keep the smaller id),
    * which is what makes [[ivfApplyMoves]]' migrated index
    * serve-EQUAL to a from-scratch rebuild.
    */
  def ivfRetrainMoves(index: IvfIndex, newCents: DataFrame): DataFrame = {
    val cents = newCents
      .select(col("cent_id").cast("long").as("cent_id"),
        col("cent_v").cast("array<double>").as("cent_v"))
      .withColumn("cent_norm", norm(col("cent_v")))
      .orderBy("cent_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .toSeq
    require(cents.nonEmpty, "ivfRetrainMoves needs at least one centroid")
    val centLit = typedlit(cents)
    // fold (cos, cent_id) over the literal: strict > keeps the first
    // (smallest-id) centroid on ties — max_by(struct(cos, -id)) exactly
    val best = aggregate(centLit,
      struct(lit(-2.0).as("cos"), lit(-1L).as("cid")),
      (acc, c) => {
        val cos = round(cosineFromNorms(dot(col("c_vec"), c.getField("_2")),
          col("c_norm"), c.getField("_3")), 6)
        when(cos > acc.getField("cos"),
          struct(cos.as("cos"), c.getField("_1").as("cid"))).otherwise(acc)
      })
    index.assigned
      .withColumn("new_bucket", best.getField("cid"))
      .where(col("new_bucket") =!= col("bucket"))
      .select(col("neighbor_id"), col("bucket").as("old_bucket"),
        col("new_bucket"))
  }

  /** Apply a [[ivfRetrainMoves]] diff: moved rows re-bucket, everything
    * else stays byte-identical in place. The moves side is re-train
    * OUTPUT (small after any sane re-train), so both the anti and the
    * inner join broadcast — the existing assigned table never
    * shuffles, and the only re-written rows are the moved ones (with a
    * bucketed warehouse table underneath: delete+append of exactly the
    * moved rows). Serving the result equals serving
    * `ivfIndexWith(corpus, newCents)` rebuilt from scratch
    * (SimilaritySpec pins it; q219 checks it against the
    * direct-new-centroid oracle).
    */
  def ivfApplyMoves(index: IvfIndex, newCents: DataFrame, moves: DataFrame): IvfIndex = {
    val stay = index.assigned.join(
      broadcast(moves.select(col("neighbor_id"))), Seq("neighbor_id"), "left_anti")
    val moved = index.assigned.join(broadcast(moves), Seq("neighbor_id"))
      .where(col("bucket") === col("old_bucket"))
      .select(col("new_bucket").as("bucket"), col("neighbor_id"),
        col("c_vec"), col("c_norm"))
    IvfIndex(
      newCents.select(col("cent_id"), col("cent_v")),
      stay.select(col("bucket"), col("neighbor_id"), col("c_vec"), col("c_norm"))
        .unionByName(moved))
  }

  /** Durable bucket-partitioned backing for an IVF index: write the
    * assigned table `partitionBy(bucket)` and re-back the index on the
    * read-back — every bucket is its own partition DIRECTORY, which is
    * what makes [[ivfApplyMovesPartitioned]]'s migration touch only
    * moved buckets (dynamic partition overwrite) and probe-time serve
    * prune to the probed buckets' files.
    */
  def ivfWritePartitioned(index: IvfIndex, path: String): IvfIndex = {
    index.assigned
      .select(col("neighbor_id"), col("c_vec"), col("c_norm"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    index.copy(assigned = readPartitionedAssigned(index.cents.sparkSession, path))
  }

  private def readPartitionedAssigned(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      // partition-column type inference reads bucket=N as int
      .select(col("bucket").cast("long").as("bucket"), col("neighbor_id"),
        col("c_vec"), col("c_norm"))

  /** STORAGE-level application of a [[ivfRetrainMoves]] diff to a
    * [[ivfWritePartitioned]] index: only the AFFECTED bucket
    * partitions — those that lose or gain a moved row — are read
    * (partition pruning: the isin filter reaches the scan) and
    * rewritten via a STAGED sibling-temp write + per-bucket rename
    * swap (a mid-write failure leaves the live index intact); every
    * other bucket's files stay byte-identical on disk, which
    * `SimilaritySpec` pins by file listing. Buckets fully drained by
    * the migration have no staged directory, so the swap deletes
    * theirs — same read-back contract as a rewrite.
    *
    * Scale: the moves table is re-train output (small), so the
    * affected-bucket set is a moves-bounded driver collect and both
    * joins broadcast; I/O is bounded by the affected buckets' row
    * counts on BOTH sides of the rewrite, never the index size.
    */
  def ivfApplyMovesPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      newCents: DataFrame,
      moves: DataFrame): IvfIndex = {
    val movesLocal = moves
      .select(col("neighbor_id"), col("old_bucket"), col("new_bucket"))
      .persist()
    val affected = movesLocal
      .select(col("old_bucket").as("bucket"))
      .unionByName(movesLocal.select(col("new_bucket").as("bucket")))
      .distinct().collect().map(_.getLong(0)).sorted
    if (affected.nonEmpty) {
      val stored = readPartitionedAssigned(spark, path)
        .where(col("bucket").isin(affected: _*))
      val stay = stored.join(
        broadcast(movesLocal.select(col("neighbor_id"))),
        Seq("neighbor_id"), "left_anti")
      val movedIn = stored.join(broadcast(movesLocal), Seq("neighbor_id"))
        .where(col("bucket") === col("old_bucket"))
        .select(col("new_bucket").as("bucket"), col("neighbor_id"),
          col("c_vec"), col("c_norm"))
      // STAGE the rewrite to a sibling temp directory, then swap per
      // bucket: the rewritten plan reads the very partitions an
      // in-place write would overwrite, and even a lineage-severing
      // localCheckpoint only protects against recompute — an executor
      // loss mid-overwrite still left the live index partially
      // destroyed with no recovery path. Writing to `tmp` first means
      // a failure at ANY point before the swap leaves the old index
      // byte-identical on disk; the swap itself is a per-bucket
      // directory rename (affected buckets only — the spec pins every
      // other bucket's files untouched).
      val rewritten = stay
        .select(col("neighbor_id"), col("c_vec"), col("c_norm"), col("bucket"))
        .unionByName(movedIn
          .select(col("neighbor_id"), col("c_vec"), col("c_norm"), col("bucket")))
      val tmp = path + ".rewrite.tmp"
      rewritten.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      val hPath = new org.apache.hadoop.fs.Path(path)
      val hTmp = new org.apache.hadoop.fs.Path(tmp)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.foreach { b =>
        val dst = new org.apache.hadoop.fs.Path(hPath, s"bucket=$b")
        val src = new org.apache.hadoop.fs.Path(hTmp, s"bucket=$b")
        fs.delete(dst, true)
        // a bucket fully drained by the migration has no staged dir —
        // deleting its old dir IS its rewrite
        if (fs.exists(src) && !fs.rename(src, dst))
          throw new java.io.IOException(
            s"ivfApplyMovesPartitioned: failed to swap $src into $dst")
      }
      fs.delete(hTmp, true)
    }
    movesLocal.unpersist()
    IvfIndex(newCents.select(col("cent_id"), col("cent_v")),
      readPartitionedAssigned(spark, path))
  }

  /** Serve a query batch against a built index: probe `nProbe` nearest
    * buckets per query, scan + rank within them. The join key is the
    * bucket — at scale, the persisted `assigned` side pre-partitioned
    * by bucket makes this a co-located join with no corpus shuffle per
    * batch.
    */
  def ivfTopKIndexed(queries: DataFrame, index: IvfIndex, k: Int, nProbe: Int = 1): DataFrame = {
    val queriesAssigned = ivfProbe(
      queries.select(col("id").as("doc_id"), col("vec").as("v")), index.cents, nProbe)
      .select(col("bucket"), col("doc_id").as("query_id"), col("v").as("q_vec"),
        col("v_norm").as("q_norm"))
    queriesAssigned.join(index.assigned, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** IVF top-k in one shot (index built inline): with nProbe = nBuckets
    * the result equals [[bruteForceTopK]] exactly (every bucket is
    * scanned) — the property `SimilaritySpec` pins.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nBuckets: Int, nProbe: Int = 1): DataFrame =
    ivfTopKIndexed(queries, ivfIndex(corpus, nBuckets), k, nProbe)

  /** COMPOSED IVF×PQ persisted index — the billion-vector serving
    * layout: PQ codes stored AS COLUMNS of the bucket-PARTITIONED IVF
    * table ([[ivfWritePartitioned]]'s layout +
    * [[graft.operators.Clustering.pqEncode]]'s codes). A probe then
    * reads only the probed buckets' partition directories (dynamic
    * partition pruning) and, within them, only the (neighbor_id,
    * codes) columns — m small ints per candidate instead of a float
    * vector (4-32× less I/O and exchange). The exact vectors live in
    * the SAME table for the re-rank stage, which fetches them only
    * for the ADC survivors (again partition-pruned + column-pruned).
    */
  final case class IvfPqIndex(
      cents: DataFrame,
      model: Array[Array[Array[Long]]],
      path: String,
      fpScale: Double,
      residual: Boolean = false)

  /** Coarse residuals x − centroid(bucket) of a corpus under a
    * centroid table — the vectors the RESIDUAL IVF×PQ codebook trains
    * on (IVFADC, Jégou et al. 2011 §V: PQ-encoding the residual
    * instead of the raw vector is what keeps m-code accuracy as
    * cluster spread grows, because the codebook only has to cover the
    * within-bucket displacement, not the whole space). Map-only: one
    * broadcast assignment pass + one broadcast centroid join; the
    * corpus never shuffles. Output (id, vec array<double>), directly
    * [[graft.operators.Clustering.pqTrain]]-able.
    *
    * Arithmetic contract: element-wise double subtraction AFTER the
    * float→double widening — [[ivfPqWritePartitioned]] (residual =
    * true) and [[ivfPqTopK]]'s query-side LUT must use the identical
    * expression or codes and lookup tables live in different spaces.
    */
  def ivfResiduals(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val corpusIn = corpus.select(col("id").as("doc_id"), col("vec").as("v"))
    ivfAssignWith(corpusIn, cents)
      .join(broadcast(cents.select(col("cent_id").as("bucket"), col("cent_v"))),
        Seq("bucket"))
      .select(col("doc_id").as("id"), residualOf(col("v"), col("cent_v")).as("vec"))
  }

  /** The one residual expression (see [[ivfResiduals]]'s contract). */
  private def residualOf(v: Column, centV: Column): Column =
    zip_with(v, centV, (a, b) => a.cast("double") - b.cast("double"))

  /** Build + persist the composed index: coarse-assign the corpus to
    * IVF buckets ([[ivfAssignWith]] — map-only against broadcast
    * centroids, one map-side-combined exchange), PQ-encode every
    * vector against the trained codebook (zero-shuffle: the model
    * rides as a plan literal), and write `partitionBy(bucket)` with
    * columns (neighbor_id, codes, c_vec, c_norm).
    *
    * Corpus carries (id, vec); `cents` (cent_id, cent_v); `model` is
    * [[graft.operators.Clustering.pqTrain]] output (m × k × d/m
    * fixed-point centroids).
    *
    * `residual = true` is the IVFADC formulation proper (Jégou et al.
    * 2011 §V): each vector PQ-encodes its coarse residual
    * x − centroid(bucket) instead of x itself — train `model` on
    * [[ivfResiduals]] output — and [[ivfPqTopK]] computes the query
    * LUT per probed bucket on the SAME residual, which is exactly the
    * "add the coarse term back at serve" identity
    * (q − c_b) − code(x − c_b) = q − (c_b + code(x − c_b)). The
    * residual join is one extra broadcast against the model-sized
    * centroid table; everything else about the layout and serve is
    * unchanged.
    */
  def ivfPqWritePartitioned(
      corpus: DataFrame,
      cents: DataFrame,
      model: Array[Array[Array[Long]]],
      path: String,
      fpScale: Double = 1000.0,
      residual: Boolean = false): IvfPqIndex = {
    val corpusIn = corpus.select(col("id").as("doc_id"), col("vec").as("v"))
    val assigned = ivfAssignWith(corpusIn, cents)
    pqEncodeMaybeResidual(assigned, cents, model, fpScale, residual)
      .select(col("doc_id").as("neighbor_id"), col("codes"),
        col("v").as("c_vec"), col("v_norm").as("c_norm"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    val idx = IvfPqIndex(cents.select(col("cent_id"), col("cent_v")), model, path,
      fpScale, residual)
    // self-describing store: centroids persist beside the buckets
    // (underscore dir — invisible to partition discovery) and the
    // manifest (full codebook + scale + residual flag) publishes
    // LAST, so [[ivfPqOpen]] reconstructs a servable handle from the
    // directory alone and a half-written build has no manifest
    idx.cents
      .coalesce(1).write.mode("overwrite").parquet(ivfPqCentsPath(path))
    ivfPqManifestWrite(corpus.sparkSession, idx,
      ivfPqManifestOf(idx, epoch = 0L, appends = 0L))
    idx
  }

  /** PQ-encode an [[ivfAssignWith]]-shaped frame, against either the
    * raw vector or its coarse residual (one broadcast centroid join).
    */
  private def pqEncodeMaybeResidual(
      assigned: DataFrame,
      cents: DataFrame,
      model: Array[Array[Array[Long]]],
      fpScale: Double,
      residual: Boolean): DataFrame = {
    val withEnc =
      if (residual)
        assigned
          .join(broadcast(cents.select(col("cent_id").as("bucket"), col("cent_v"))),
            Seq("bucket"))
          .withColumn("__enc", residualOf(col("v"), col("cent_v")))
      else assigned.withColumn("__enc", col("v"))
    graft.operators.Clustering.pqEncode(withEnc, col("__enc"), model, fpScale)
  }

  /** Two-stage serve against a composed [[IvfPqIndex]]:
    *
    *  1. PROBE — each query finds its `nProbe` nearest coarse buckets
    *     ([[ivfProbe]], broadcast centroids) and computes its m·k ADC
    *     lookup table ONCE (native `pq_lut` over the plan-literal
    *     codebook).
    *  2. ADC SCAN — the stored table is read selecting ONLY
    *     (bucket, neighbor_id, codes); the broadcast bucket-join
    *     dynamically prunes to the probed partitions, every candidate
    *     costs m integer table lookups (native `pq_adc`), and the
    *     per-query ADC top-`rerank` survive (ties by neighbor_id).
    *  3. RE-RANK — ONLY the survivors' exact vectors are fetched back
    *     from the same table by a broadcast (bucket, neighbor_id)
    *     join (partition-pruned again), scored with the exact rounded
    *     cosine, and the top-`k` emitted — (query_id, neighbor_id,
    *     cos), [[ivfTopKIndexed]]'s exact shape.
    *
    * Scale: serve-time I/O is proportional to the probed buckets'
    * CODE columns (m bytes-ish per candidate), not the index — the
    * float vectors are touched for queries×rerank rows only. With
    * `rerank` at least the probed buckets' candidate count the result
    * equals [[ivfTopKIndexed]] exactly (SimilaritySpec pins it); at
    * production rerank ≪ bucket size the ADC stage bounds the exact
    * work and recall follows PQ quality (Jégou et al. 2011).
    * Self-matches are excluded, as everywhere in this module.
    */
  def ivfPqTopK(
      spark: org.apache.spark.sql.SparkSession,
      index: IvfPqIndex,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 1,
      rerank: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // serve guard: ADC-ranking codes against LUTs from a codebook the
    // store was not encoded with produces plausible-looking garbage —
    // fail loudly instead (one driver-side manifest read)
    ivfPqRequireCompatible(spark, index)
    val m = index.model.length
    val flat = index.model.flatten.flatten
    val probed0 = ivfProbe(
      queries.select(col("id").as("doc_id"), col("vec").as("v")),
      index.cents, nProbe)
    // residual (IVFADC) indexes compare the query's per-bucket coarse
    // residual against the stored residual codes — the LUT is computed
    // per (query, probed bucket) on q − c_b, the identical expression
    // the build used (see ivfResiduals' contract); raw indexes LUT the
    // query vector itself. Either way it's one small-side projection.
    val lutIn =
      if (index.residual)
        probed0
          .join(broadcast(index.cents
            .select(col("cent_id").as("bucket"), col("cent_v"))), Seq("bucket"))
          .withColumn("__qv", residualOf(col("v"), col("cent_v")))
      else probed0.withColumn("__qv", col("v"))
    val probed = lutIn
      .select(col("bucket"), col("doc_id").as("query_id"),
        graft.functions.VecOps.pqLut(
          graft.functions.VecOps.fixedPoint(col("__qv"), index.fpScale),
          typedlit(flat), m).as("__lut"))
    // stage 2: only (bucket, neighbor_id, codes) ride the probe scan —
    // parquet column pruning keeps c_vec/c_norm pages unread here
    val codesOnly = spark.read.parquet(index.path)
      .select(col("bucket").cast("long").as("bucket"),
        col("neighbor_id"), col("codes"))
    val cands = codesOnly
      .join(broadcast(probed), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("bucket"), col("query_id"), col("neighbor_id"),
        graft.functions.VecOps.pqAdc(col("codes"), col("__lut")).as("adc_dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc_dist"), col("neighbor_id"))))
      .where(col("rk") <= rerank)
      .select(col("bucket"), col("query_id"), col("neighbor_id"))
    // stage 3: exact vectors for the survivors only — broadcast the
    // queries×rerank candidate set against the stored table keyed on
    // (bucket, neighbor_id); the bucket key partition-prunes the read
    val vecs = spark.read.parquet(index.path)
      .select(col("bucket").cast("long").as("bucket"),
        col("neighbor_id"), col("c_vec"), col("c_norm"))
    val qVecs = queries.select(col("id").as("query_id"),
      col("vec").as("q_vec"), norm(col("vec")).as("q_norm"))
    vecs
      .join(broadcast(cands), Seq("bucket", "neighbor_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** Incrementally extend a PERSISTED composed [[IvfPqIndex]] with a
    * batch of new vectors — [[ivfIndexAppend]]'s storage-level sibling
    * for the IVF×PQ layout: ONLY the batch pays assignment + PQ
    * encoding (map-only against the broadcast centroids / plan-literal
    * codebook), and the coded rows land via an APPEND write into the
    * same bucket partition directories — existing files are never
    * rewritten (AvroArchive-style certainty is spec-pinned by file
    * inventory). Centroids and codebook stay fixed by contract (the
    * [[ivfIndexAppend]] argument); re-centering is
    * [[ivfApplyMovesPartitioned]]'s job.
    *
    * Serving the extended index equals serving a from-scratch
    * [[ivfPqWritePartitioned]] over old ∪ batch: assignment and
    * encoding are per-row deterministic, so the union of coded
    * assignments IS the coded assignment of the union (q241 pins it
    * under the DuckDB gate with q234's oracle verbatim; the spec pins
    * the storage inventory).
    */
  def ivfPqAppend(index: IvfPqIndex, batch: DataFrame): IvfPqIndex = {
    val man = ivfPqRequireCompatible(batch.sparkSession, index)
    val batchIn = batch.select(col("id").as("doc_id"), col("vec").as("v"))
    val assigned = ivfAssignWith(batchIn, index.cents)
    pqEncodeMaybeResidual(assigned, index.cents, index.model, index.fpScale,
      index.residual)
      .select(col("doc_id").as("neighbor_id"), col("codes"),
        col("v").as("c_vec"), col("v_norm").as("c_norm"), col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(index.path)
    ivfPqManifestWrite(batch.sparkSession, index,
      man.copy(epoch = man.epoch + 1,
        appendsSinceCompact = man.appendsSinceCompact + 1))
    index
  }

  /** Compact a PERSISTED composed [[IvfPqIndex]] after many
    * [[ivfPqAppend]] batches: rewrite the table back under its own
    * layout with ONE file per bucket partition (appends leave a file
    * per batch per touched bucket — probe-time I/O then pays a
    * per-file open cost that grows with ingest history, the same
    * degradation [[graft.operators.Retrieval.compactInvertedIndex]]
    * fixes for postings). Rows re-sort by (bucket, neighbor_id)
    * within partitions so the rewrite is deterministic. The compacted
    * table is STAGED to a sibling temp directory and swapped into
    * place with a whole-path rename — the rewrite reads the very
    * files it replaces, and an in-place overwrite (even behind a
    * lineage-severing localCheckpoint) left the live index partially
    * destroyed if the job died mid-write; with staging, a failure at
    * any point before the swap leaves the old index untouched.
    * Serving the compacted index equals serving the input exactly
    * (q245 pins it with q234's oracle; the spec pins
    * one-file-per-bucket).
    */
  def ivfPqCompact(
      spark: org.apache.spark.sql.SparkSession,
      index: IvfPqIndex): IvfPqIndex = {
    val man = ivfPqRequireCompatible(spark, index)
    val tmp = index.path + ".compact.tmp"
    spark.read.parquet(index.path)
      .select(col("neighbor_id"), col("codes"), col("c_vec"), col("c_norm"),
        col("bucket").cast("long").as("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "neighbor_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    val hPath = new org.apache.hadoop.fs.Path(index.path)
    val hTmp = new org.apache.hadoop.fs.Path(tmp)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stage cents + the bumped manifest INSIDE the temp before the
    // swap: the whole-root rename then publishes data, cents, and
    // manifest together, and a failure at any point leaves the old
    // index (old epoch, old counter) fully intact
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(ivfPqCentsPath(index.path)),
      fs, new org.apache.hadoop.fs.Path(ivfPqCentsPath(tmp)),
      false, spark.sparkContext.hadoopConfiguration)
    ivfPqManifestWrite(spark, index,
      man.copy(epoch = man.epoch + 1, appendsSinceCompact = 0L), Some(tmp))
    fs.delete(hPath, true)
    if (!fs.rename(hTmp, hPath))
      throw new java.io.IOException(
        s"ivfPqCompact: failed to swap $hTmp into ${index.path}")
    index
  }

  /** Delete a batch of vectors from a PERSISTED composed
    * [[IvfPqIndex]] — the lifecycle leg a crawl corpus that FORGETS
    * documents needs beside build/append/compact/migrate: the
    * membership probe reads ONLY the (bucket, neighbor_id) columns of
    * the index (column-pruned — codes and vectors never ride it; it
    * does touch every partition, since a bare id gives nothing to
    * prune by), then only the bucket partitions that actually contain
    * a deleted row are re-read (partition-pruned isin scan) and
    * rewritten without the deleted rows, via the staged sibling-temp
    * write +
    * per-bucket rename swap ([[ivfApplyMovesPartitioned]]'s
    * discipline — a mid-write failure leaves the live index intact).
    * Every untouched bucket's files stay byte-identical
    * (spec-pinned); a bucket fully emptied by the delete has its
    * directory removed.
    *
    * `deletes` carries one `id` column and is a delete BATCH —
    * model-sized by contract, so it broadcasts and the affected-bucket
    * set is a deletes-bounded driver collect; I/O is bounded by the
    * affected buckets' row counts, never the index size. Serving the
    * result equals a from-scratch [[ivfPqWritePartitioned]] over the
    * surviving rows (same cents/model — assignment and encoding are
    * per-row, so deletion commutes with the build; q253 pins it under
    * the DuckDB gate with q234's oracle filtered to survivors).
    */
  def ivfPqDelete(
      spark: org.apache.spark.sql.SparkSession,
      index: IvfPqIndex,
      deletes: DataFrame): IvfPqIndex = {
    val man = ivfPqRequireCompatible(spark, index)
    val del = deletes.select(col("id").cast("long").as("neighbor_id")).persist()
    val affected = spark.read.parquet(index.path)
      .select(col("bucket").cast("long").as("bucket"), col("neighbor_id"))
      .join(broadcast(del), Seq("neighbor_id"))
      .select("bucket").distinct().collect().map(_.getLong(0)).sorted
    if (affected.nonEmpty) {
      val stored = spark.read.parquet(index.path)
        .select(col("neighbor_id"), col("codes"), col("c_vec"), col("c_norm"),
          col("bucket").cast("long").as("bucket"))
        .where(col("bucket").isin(affected: _*))
      val kept = stored.join(broadcast(del), Seq("neighbor_id"), "left_anti")
      val tmp = index.path + ".delete.tmp"
      kept.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      val hPath = new org.apache.hadoop.fs.Path(index.path)
      val hTmp = new org.apache.hadoop.fs.Path(tmp)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.foreach { b =>
        val dst = new org.apache.hadoop.fs.Path(hPath, s"bucket=$b")
        val src = new org.apache.hadoop.fs.Path(hTmp, s"bucket=$b")
        fs.delete(dst, true)
        if (fs.exists(src) && !fs.rename(src, dst))
          throw new java.io.IOException(
            s"ivfPqDelete: failed to swap $src into $dst")
      }
      fs.delete(hTmp, true)
      // commit marker: the bumped epoch publishes only after every
      // per-bucket swap landed
      ivfPqManifestWrite(spark, index, man.copy(epoch = man.epoch + 1))
    }
    del.unpersist()
    index
  }

  /** Stored-format version of the composed [[IvfPqIndex]] manifest
    * (v1 = `_manifest.json` + `_cents/` beside the bucket partitions;
    * underscore prefixes keep both invisible to Spark's partition
    * discovery and file listing, so the data path still reads as a
    * plain bucket-partitioned table).
    */
  val IvfPqFormatVersion: Int = 1

  /** Durable descriptor + mutation commit marker of a persisted
    * composed [[IvfPqIndex]] — the graph index's manifest discipline
    * applied to the IVF family. The codes in the table are
    * meaningless without EXACTLY the codebook/scale/residual-flag
    * they were encoded under: a handle carrying the wrong model
    * serves silently-garbage ADC ranks today, which is the same
    * silent-mismatch class the graph manifest closed for anchor
    * depth. The manifest stores the FULL codebook (model-sized by
    * contract: m·k·(d/m) longs), so [[ivfPqOpen]] can reconstruct a
    * servable handle from the directory alone — no side-channel
    * model object — and [[ivfPqRequireCompatible]] can deep-compare
    * a caller's handle against what the codes were actually encoded
    * with. `epoch` bumps on every mutation and is written LAST (the
    * commit marker); `appendsSinceCompact` counts append BATCHES —
    * each leaves a file per touched bucket, and probe-time I/O pays
    * a per-file open cost that grows with ingest history — so
    * [[ivfPqMaybeCompact]] can trigger the rewrite at a file-count
    * threshold the same way [[knnGraphMaybeRefresh]] triggers on
    * drift.
    */
  final case class IvfPqManifest(
      formatVersion: Int,
      fpScale: Double,
      residual: Boolean,
      m: Int,
      kCodes: Int,
      dSub: Int,
      model: List[List[List[Long]]],
      epoch: Long,
      appendsSinceCompact: Long)

  private def ivfPqManifestOf(
      index: IvfPqIndex, epoch: Long, appends: Long): IvfPqManifest =
    IvfPqManifest(IvfPqFormatVersion, index.fpScale, index.residual,
      index.model.length, index.model.headOption.map(_.length).getOrElse(0),
      index.model.headOption.flatMap(_.headOption).map(_.length).getOrElse(0),
      index.model.map(_.map(_.toList).toList).toList, epoch, appends)

  private def ivfPqManifestPath(root: String): String = s"$root/_manifest.json"
  private def ivfPqCentsPath(root: String): String = s"$root/_cents"

  /** Publish the manifest (staged tmp + rename — the mutation's
    * commit point). `atRoot` lets [[ivfPqCompact]] stage it inside
    * the sibling temp so the whole-root swap publishes data, cents,
    * and manifest together.
    */
  def ivfPqManifestWrite(
      spark: org.apache.spark.sql.SparkSession,
      index: IvfPqIndex,
      m: IvfPqManifest,
      atRoot: Option[String] = None): Unit = {
    import org.json4s.JsonDSL._
    val root = atRoot.getOrElse(index.path)
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("formatVersion" -> m.formatVersion) ~ ("fpScale" -> m.fpScale) ~
          ("residual" -> m.residual) ~ ("m" -> m.m) ~ ("kCodes" -> m.kCodes) ~
          ("dSub" -> m.dSub) ~ ("model" -> m.model) ~ ("epoch" -> m.epoch) ~
          ("appendsSinceCompact" -> m.appendsSinceCompact)))
    val dst = new org.apache.hadoop.fs.Path(ivfPqManifestPath(root))
    val tmp = new org.apache.hadoop.fs.Path(s"$root/._manifest.json.tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"ivfPqManifestWrite: failed to publish $dst")
  }

  def ivfPqManifestRead(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[IvfPqManifest] = {
    val p = new org.apache.hadoop.fs.Path(ivfPqManifestPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      Some(org.json4s.jackson.JsonMethods.parse(txt).extract[IvfPqManifest])
    }
  }

  /** The serve/mutation guard: the stored manifest must exist and
    * agree with the handle's format version, scale, residual flag,
    * and FULL codebook — a pre-manifest store, a foreign directory,
    * or a handle carrying a retrained model fails HERE, loudly,
    * instead of ADC-ranking codes against the wrong lookup tables
    * downstream.
    */
  def ivfPqRequireCompatible(
      spark: org.apache.spark.sql.SparkSession,
      index: IvfPqIndex): IvfPqManifest = {
    val m = ivfPqManifestRead(spark, index.path).getOrElse(
      throw new IllegalStateException(
        s"IvfPqIndex at ${index.path} has no _manifest.json — a pre-v" +
          s"$IvfPqFormatVersion store (or a foreign directory); rebuild with " +
          "ivfPqWritePartitioned before serving or mutating"))
    require(m.formatVersion == IvfPqFormatVersion,
      s"IvfPqIndex at ${index.path}: stored formatVersion ${m.formatVersion} != " +
        s"supported $IvfPqFormatVersion")
    require(m.fpScale == index.fpScale && m.residual == index.residual,
      s"IvfPqIndex at ${index.path}: handle (fpScale=${index.fpScale}, " +
        s"residual=${index.residual}) disagrees with stored " +
        s"(fpScale=${m.fpScale}, residual=${m.residual})")
    val handleModel = index.model.map(_.map(_.toList).toList).toList
    require(m.model == handleModel,
      s"IvfPqIndex at ${index.path}: the handle's codebook is not the one " +
        s"the stored codes were encoded with (stored m=${m.m} k=${m.kCodes} " +
        s"dSub=${m.dSub}); serving would ADC-rank against the wrong LUTs")
    m
  }

  /** Reconstruct a servable [[IvfPqIndex]] from its directory alone —
    * the handle a serving fleet opens without the build job's
    * in-memory objects: codebook/scale/residual from the manifest,
    * centroids from the `_cents` table the build persisted.
    */
  def ivfPqOpen(
      spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex = {
    val m = ivfPqManifestRead(spark, path).getOrElse(
      throw new IllegalStateException(
        s"ivfPqOpen: no _manifest.json under $path"))
    require(m.formatVersion == IvfPqFormatVersion,
      s"ivfPqOpen: $path stored formatVersion ${m.formatVersion} != " +
        s"supported $IvfPqFormatVersion")
    IvfPqIndex(
      spark.read.parquet(ivfPqCentsPath(path)).select(col("cent_id"), col("cent_v")),
      m.model.map(_.map(_.toArray).toArray).toArray,
      path, m.fpScale, m.residual)
  }

  /** The compaction TRIGGER ([[knnGraphMaybeRefresh]]'s sibling for
    * the IVF family): compact iff at least `maxAppendBatches` append
    * batches landed since the last build/compact — each append leaves
    * one file per touched bucket, so probe-time I/O degrades with
    * ingest history at a rate the manifest counter measures exactly.
    * Below the threshold the call costs one manifest read. Returns
    * true when a compaction ran.
    */
  def ivfPqMaybeCompact(
      spark: org.apache.spark.sql.SparkSession,
      index: IvfPqIndex,
      maxAppendBatches: Long = 8L): Boolean = {
    require(maxAppendBatches > 0L,
      s"maxAppendBatches must be positive, got $maxAppendBatches")
    val m = ivfPqRequireCompatible(spark, index)
    if (m.appendsSinceCompact < maxAppendBatches) false
    else { ivfPqCompact(spark, index); true }
  }

  /** Embedding-column HEALTH profile — the gate an embedding table
    * passes before any index build or training run trusts it (a
    * handful of NaN vectors silently poison every cosine they touch;
    * zero-norm vectors make cosine undefined; a dim mismatch breaks
    * PQ slicing): one row with n, null-vector / NaN-element /
    * zero-norm counts, min/max dimensionality, and integer-exact
    * micro-unit norm stats (norm6 = round(‖v‖·10⁶) as BIGINT — sums
    * of doubles are summation-order-dependent and would not
    * cross-engine compare; integer sums are exact).
    *
    * One map-side-combined aggregate over per-row flags — no shuffle
    * of vectors, no window; the profile is a single row regardless of
    * corpus size.
    */
  def vecProfile(df: DataFrame, vec: Column): DataFrame = {
    val v = vec
    val isNull = v.isNull
    val hasNan = when(isNull, lit(false))
      .otherwise(exists(v, x => isnan(x.cast("double"))))
    val norm6 = when(isNull || hasNan, lit(null).cast("long"))
      .otherwise(round(norm(v) * 1000000.0, 0).cast("long"))
    df.select(isNull.as("__null"), hasNan.as("__nan"),
      when(isNull, lit(null).cast("int")).otherwise(size(v)).as("__dim"),
      norm6.as("__n6"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("__null").cast("long")), lit(0L)).as("n_null"),
        coalesce(sum(col("__nan").cast("long")), lit(0L)).as("n_nan"),
        coalesce(sum((col("__n6") === 0L).cast("long")), lit(0L)).as("n_zero_norm"),
        min(col("__dim")).cast("long").as("dim_min"),
        max(col("__dim")).cast("long").as("dim_max"),
        min(col("__n6")).as("min_norm6"),
        max(col("__n6")).as("max_norm6"),
        sum(col("__n6")).as("sum_norm6"))
  }

  /** Sign-bit BINARY quantization of an embedding — 1 bit per
    * dimension, the most aggressive of the compression ladder
    * (float32 → int8 → PQ codes → sign bits; 32× smaller than float
    * through every scan and exchange): bit i of word j is 1 iff
    * vec[16·j + i] > 0 (strict — zeros and negatives quantize to 0).
    * Packed 16 dims per INT via exact power-of-two arithmetic (never
    * a 64-bit shift: bit 63 arithmetic wraps in Spark but OVERFLOWS
    * in DuckDB/ANSI engines, so the portable packing stays far below
    * 2³¹). Requires dims = 16·words (pad upstream otherwise).
    */
  def binarySign(vec: Column, words: Int): Column = {
    require(words > 0, s"words must be positive, got $words")
    array((0 until words).map { j =>
      aggregate(sequence(lit(0), lit(15)), lit(0),
        (acc, i) => acc + when(
          element_at(vec, lit(j * 16) + i + 1).cast("double") > 0.0,
          pow(lit(2.0), i).cast("int")).otherwise(lit(0)))
    }: _*)
  }

  /** Hamming distance between two [[binarySign]] signatures — the
    * generic array form (interpreted lambdas; fine for row-at-a-time
    * use). The PAIR-loop hot path in [[binaryTopK]] uses the unrolled
    * scalar form instead: array lambdas are CodegenFallback, and an
    * interpreted fold per candidate pair made the binary rung SLOWER
    * than the native-dot brute scan (the dotDeclarative lesson,
    * measured again in AnnLadderSmoke, since deleted:
    * `git show f46c792:src/main/scala/graft/dev/AnnLadderSmoke.scala`).
    */
  def binaryHamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("int")),
      lit(0), (acc, v) => acc + v)

  /** Unrolled scalar Hamming over pre-projected signature WORD columns
    * — bit_count(xor) per word, summed: pure codegen'd builtins, no
    * array access in the pair loop.
    */
  private def hammingUnrolled(qWords: Seq[Column], cWords: Seq[Column]): Column =
    qWords.zip(cWords)
      .map { case (a, b) => bit_count(a.bitwiseXOR(b)).cast("int") }
      .reduce(_ + _)

  /** Two-stage binary-quantized top-k — the sign-bit serving mode
    * (binary flat index + exact re-rank, the vector-DB default when
    * memory bounds the corpus): stage 1 scans ONLY (id, signature) —
    * `words` ints per candidate instead of a float vector — ranks by
    * Hamming distance to the broadcast query signatures, and keeps
    * the per-query top-`rerank` (ties by neighbor_id); stage 2
    * fetches exact vectors for the survivors alone and re-ranks by
    * the exact rounded cosine to top-`k`. With `rerank` ≥ corpus size
    * the cut is lossless and the result equals [[bruteForceTopK]]
    * exactly (spec-pinned). At production scale the signature column
    * is precomputed and stored (one int-array column beside the
    * vector — parquet prunes the floats out of stage 1); recall
    * follows sign-bit agreement and `rerank` is the knob.
    */
  def binaryTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      rerank: Int,
      words: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      norm(col("vec")).as("q_norm"), binarySign(col("vec"), words).as("q_sig"))
    // signature WORDS projected to scalar columns once per row (the
    // packing fold runs per ROW, never per pair), so the pair loop is
    // whole-stage-codegen bit_count(xor) sums with zero array access
    def explodeWords(df: DataFrame, sig: String, prefix: String): DataFrame =
      df.select(df.columns.map(col) ++
        (0 until words).map(w => element_at(col(sig), w + 1).as(s"$prefix$w")): _*)
        .drop(sig)
    // stage 1: signatures only — the floats never ride the scan
    val cand = explodeWords(
      corpus.select(col("id").as("neighbor_id"),
        binarySign(col("vec"), words).as("c_sig")), "c_sig", "__c")
      .crossJoin(broadcast(explodeWords(
        q.select(col("query_id"), col("q_sig")), "q_sig", "__q")))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hammingUnrolled(
          (0 until words).map(w => col(s"__q$w")),
          (0 until words).map(w => col(s"__c$w"))).as("ham"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("ham"), col("neighbor_id"))))
      .where(col("rk") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    // stage 2: exact vectors for survivors only
    cand
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
        norm(col("vec")).as("c_norm")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("q_vec"), col("q_norm"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** Persist a corpus with its sign-bit signature as SCALAR WORD
    * COLUMNS (s0..s{words−1}) beside the vector — the storage layout
    * that makes [[binaryTopKStored]]'s candidate stage read `words`
    * ints per row instead of the float vector (32× less scan I/O at
    * d = 64; the ReadSchema pin is the proof). The signature packing
    * fold runs once per row at WRITE time; serves never recompute it.
    */
  def binaryWriteSigned(corpus: DataFrame, path: String, words: Int = 4): Unit = {
    val sig = binarySign(col("vec"), words)
    corpus.select(
      Seq(col("id"), col("vec"), norm(col("vec")).as("nrm")) ++
        (0 until words).map(w => element_at(sig, w + 1).as(s"s$w")): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Two-stage binary serve against a [[binaryWriteSigned]] table:
    * stage 1 scans ONLY (id, s0..s{words−1}) — the spec pins the
    * scan's ReadSchema excludes the vector — ranks by the unrolled
    * scalar Hamming, keeps the per-query top-`rerank`; stage 2
    * fetches (id, vec, nrm) for the survivors alone and re-ranks by
    * exact cosine. Result equals the inline [[binaryTopK]] exactly
    * (spec-pinned; q259 pins it under the DuckDB gate with q256's
    * oracle verbatim).
    */
  def binaryTopKStored(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      rerank: Int,
      words: Int = 4): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val qSig = binarySign(col("vec"), words)
    val q = queries.select(
      Seq(col("id").as("query_id"), col("vec").as("q_vec"),
        norm(col("vec")).as("q_norm")) ++
        (0 until words).map(w => element_at(qSig, w + 1).as(s"__q$w")): _*)
    val sigCols = (0 until words).map(w => col(s"s$w"))
    val cand = spark.read.parquet(path)
      .select(col("id").as("neighbor_id") +: sigCols: _*)
      .crossJoin(broadcast(q.select(
        col("query_id") +: (0 until words).map(w => col(s"__q$w")): _*)))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hammingUnrolled((0 until words).map(w => col(s"__q$w")), sigCols).as("ham"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("ham"), col("neighbor_id"))))
      .where(col("rk") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    cand
      .join(spark.read.parquet(path)
        .select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
          col("nrm").as("c_norm")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("q_vec"), col("q_norm"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) two-stage top-k: stage 1
    * scores cosine on only the FIRST `dPrefix` dimensions — MRL-style
    * embeddings front-load information, so the prefix is itself a
    * usable lower-dim embedding — and keeps the per-query
    * top-`rerank`; stage 2 re-ranks the survivors with the full-dim
    * exact cosine. Candidate-stage I/O and arithmetic drop by
    * d/dPrefix; with `rerank` ≥ corpus size the cut is lossless and
    * the result equals [[bruteForceTopK]] exactly (spec-pinned). At
    * storage scale the prefix lives as its own column (parquet prunes
    * the tail out of stage 1).
    */
  def matryoshkaTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      rerank: Int,
      dPrefix: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(dPrefix > 0, s"dPrefix must be positive, got $dPrefix")
    def prefix(c: Column) = slice(c, 1, dPrefix)
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      norm(col("vec")).as("q_norm"),
      prefix(col("vec")).as("q_pre"), norm(prefix(col("vec"))).as("q_pre_norm"))
    val cand = corpus
      .select(col("id").as("neighbor_id"),
        prefix(col("vec")).as("c_pre"), norm(prefix(col("vec"))).as("c_pre_norm"))
      .crossJoin(broadcast(q.select(col("query_id"), col("q_pre"), col("q_pre_norm"))))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_pre"), col("c_pre")),
          col("q_pre_norm"), col("c_pre_norm")), 6).as("pre_cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("pre_cos").desc, col("neighbor_id"))))
      .where(col("rk") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    cand
      .join(corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
        norm(col("vec")).as("c_norm")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("q_vec"), col("q_norm"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** Symmetric per-vector int8 quantization: scale = 127/max|x|,
    * q_i = floor(x_i*scale + 0.5) (round-half-up — engine-exact, no
    * banker's-rounding divergence). 4× smaller vectors on disk and
    * through every exchange; cosine over quantized vectors needs NO
    * dequantization because cosine is per-vector-scale invariant.
    * Zero vectors quantize to all-zero with qscale 0. Returns
    * (id, qvec array<int>, qscale); reconstruct as qvec/qscale.
    *
    * Uses the native codegen'd
    * [[graft.functions.VecQuantizeInt8]] expression: the declarative
    * form ([[quantizeInt8Declarative]], kept as the equivalence
    * baseline) had its scale column inlined by CollapseProject into the
    * per-element transform lambda — O(d²) interpreted work per vector.
    */
  def quantizeInt8(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val q = graft.functions.VecOps.quantizeInt8(vec)
    df.select(id.as("id"),
      q.getField("qvec").as("qvec"), q.getField("qscale").as("qscale"))
  }

  /** The built-ins-only quantization formulation — identical arithmetic
    * to [[quantizeInt8]] (SimilaritySpec pins the equivalence), but a
    * pathological executed plan: CollapseProject inlines `scale` (which
    * itself contains an O(d) array_max pass) into the per-element
    * lambda body, recomputing it for every element. Kept only as the
    * oracle-shaped baseline the native expression is tested against.
    */
  def quantizeInt8Declarative(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = when(mx > 0.0, lit(127.0) / mx).otherwise(lit(0.0))
    df.select(id.as("id"),
      transform(vec, x => floor(x.cast("double") * scale + lit(0.5)).cast("int")).as("qvec"),
      scale.as("qscale"))
  }

  /** Brute-force top-k cosine over int8-QUANTIZED vectors — the
    * memory-bound serve shape: dot products are sums of int*int
    * (exactly representable in doubles, so bit-reproducible across
    * engines and summation orders), 4× less data per comparison.
    * Same contract as [[bruteForceTopK]]; ranking quality differs only
    * by quantization error.
    */
  /** Retrieval-quality gate: per-query recall of a candidate top-k
    * list against exact ground truth — the metric an ANN index
    * rollout is gated on (recall@k of the approximate serve vs the
    * brute-force answer on a query sample). Inputs are
    * (query_id, neighbor_id) frames with unique pairs per query
    * (every top-k operator here emits that shape). Output per truth
    * query: n_truth, n_hit, and the integer-exact
    * recall_per_mille = n_hit·1000 div n_truth.
    *
    * Scale shape: both sides are query-batch-sized by construction
    * (|queries|·k rows — the corpus was already reduced by the top-k
    * operators), so the join and aggregate are model-sized no matter
    * the corpus.
    */
  def topKRecall(truth: DataFrame, candidate: DataFrame): DataFrame = {
    val t = truth.select(col("query_id").cast("long").as("query_id"),
      col("neighbor_id").cast("long").as("neighbor_id"))
    val c = candidate.select(col("query_id").cast("long").as("query_id"),
      col("neighbor_id").cast("long").as("neighbor_id"), lit(1L).as("__hit"))
    t.join(c, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .withColumn("recall_per_mille", expr("n_hit * 1000L div n_truth"))
  }

  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def prep(df: DataFrame, idName: String, vecName: String, normName: String) =
      quantizeInt8(df, col("id"), col("vec"))
        .select(col("id").as(idName),
          col("qvec").cast("array<double>").as(vecName))
        .withColumn(normName, norm(col(vecName)))
    val q = prep(queries, "query_id", "q_vec", "q_norm")
    val c = prep(corpus, "neighbor_id", "c_vec", "c_norm")
    c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
          col("q_norm"), col("c_norm")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rk") <= k)
      .drop("rk")
  }

  /** IVF bucket-occupancy balance — the index health gate run before
    * trusting an IVF serve's latency: per coarse bucket, its document
    * count and exact ppm load factor
    *
    *   load_ppm = n·nBuckets·10⁶ div total
    *
    * (10⁶ = perfectly balanced; a bucket at 5·10⁶ serves 5× the
    * average scan and is the p99 the cap/salting decisions read).
    * Buckets no document chose are ABSENT from the output (their load
    * is 0 by omission) — count the rows to see coverage.
    *
    * Scale: [[ivfAssign]]'s broadcast-centroid map assignment (the
    * corpus never shuffles to be assigned), then ONE map-side-combined
    * aggregate keyed by the ≤ nBuckets bucket id and a 1-row total
    * broadcast back in.
    */
  def ivfBalance(
      df: DataFrame,
      id: Column,
      vec: Column,
      nBuckets: Int): DataFrame = {
    val counts = ivfAssign(df, id, vec, nBuckets)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("n_total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), col("n"),
        expr(s"n * ${nBuckets}L * 1000000L div n_total").as("load_ppm"))
  }

  // ───── graph-based ANN: NN-Descent k-NN graph + beam-search serve ─────

  /** Deterministic NN-Descent (Dong, Charikar & Li, WWW 2011) with an
    * LSH seed: build an approximate k-NN graph by iterating "a
    * neighbor of a neighbor is likely a neighbor". The published
    * algorithm starts from uniform random edges; uniform seeds
    * converge hopelessly on high-dimensional weakly-clustered data
    * (measured here: recall@4 0.05 after 2 rounds on the fixture), so
    * the seed is the standard LSH hybrid — `lshTables` sign-bit
    * sketches (SimHash hyperplanes = the coordinate axes, bits
    * `lshBits·t … lshBits·(t+1)-1`), candidates = co-bucketed pairs.
    * Deterministic end to end. Each round then:
    *
    *   1. symmetrizes the current graph (forward ∪ reverse edges —
    *      the paper's "general neighbors"),
    *   2. caps each node's adjacency at `revCap` (the paper's reverse
    *      sampling ρK, here a deterministic Knuth-hash-ordered cut —
    *      reproducible pseudo-uniform sampling — so hub nodes cannot
    *      quadratically explode the candidate set),
    *   3. proposes every neighbor-of-neighbor pair,
    *   4. keeps each node's top-k proposals by cosine.
    *
    * The graph family completes the ANN ladder (brute / IVF / PQ /
    * binary / matryoshka): graph indexes trade build-time joins for
    * serve-time locality — [[knnGraphServe]] touches O(beam·k) nodes
    * per query instead of a bucket scan.
    *
    * Scale shape: the state between rounds is ONLY the skinny edge
    * table (N·k (i, j) longs — vectors never persist between rounds);
    * each round is two self-joins of the capped edge table (shuffle
    * ∝ N·revCap²) plus two hash joins against the vector table to
    * score, and the per-node top-k ranks ≤ revCap + revCap² candidate
    * rows per node — bounded by construction, no all-pairs stage
    * anywhere. The seed join's bucket sizes are N/2^lshBits — at
    * corpus scale lshBits grows with log₂N so buckets stay
    * constant-sized (the q21 banding story), keeping the seed stage
    * linear. Convergence needs few rounds (3 saturate the fixture's
    * recall gate, q264).
    */
  def knnGraphBuild(
      corpus: DataFrame,
      k: Int,
      rounds: Int = 3,
      revCap: Int = 32,
      lshBits: Int = 5,
      lshTables: Int = 3,
      anchorsPerBucket: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rounds > 0, s"rounds must be positive, got $rounds")
    require(revCap >= k, s"revCap must be >= k, got $revCap < $k")
    require(lshBits > 0 && lshTables > 0,
      s"need positive LSH shape, got bits=$lshBits tables=$lshTables")
    require(anchorsPerBucket > 0,
      s"anchorsPerBucket must be positive, got $anchorsPerBucket")
    val vecs = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm")).persist()
    val pairs = knnLshSeedEdges(corpus, lshBits, lshTables, anchorsPerBucket)
    val init = capEdgesPerNode(pairs, revCap)
    // each round references the previous graph ~6 times (symmetrize
    // ×2, neighbor-of-neighbor self-join ×2, candidate union ×2), so
    // raw lineage grows exponentially in `rounds` — localCheckpoint
    // truncates the plan to the materialized skinny edge table (same
    // executor-loss tradeoff as the index-rewrite paths; the state is
    // N·k longs, rebuilt from scratch in seconds if lost). Each
    // round's blocks unpersist as soon as the next round
    // materializes — before r16 they accumulated for the whole build
    // (rounds × N·k dead cached rows plus the rounds' dead broadcast
    // exchanges pinned behind them; the i/j-side vector lookups never
    // canonicalize equal, so every round leaves two ~280MB-at-1M
    // exchange broadcasts for the ContextCleaner — BuildPlanProbe, since
    // deleted, pinned the plan shape: `git show
    // f46c792:src/main/scala/graft/dev/BuildPlanProbe.scala`). Two measured dead ends, so nobody re-digs
    // them: a broadcast-once mapPartitions scoring kernel lost to the
    // codegen'd broadcast-hash joins at 500k (Dataset-encoding +
    // binary-search overhead > the rebuild cost), and a per-round
    // System.gc() to hurry the ContextCleaner cost ~50% wall
    // (147.9/149.1s vs 98.8/91.5s interleaved at 500k×5 rounds).
    var nb = init.localCheckpoint()
    var r = 0
    while (r < rounds) {
      val scored = VecOpsScore.score(capEdgesAndExpand(nb, revCap), vecs)
      // bounded top-k aggregate, not a ranking window — see
      // [[topKEdgesPerNode]]: ≤ k pairs per (node × task) cross the
      // round's exchange instead of the full revCap² candidate web
      val next = topKEdgesPerNode(scored, k)
        .select("i", "j", "cos", "nb_rank")
        .localCheckpoint()
      unpersistCheckpoint(nb)
      nb = next
      r += 1
    }
    val out = nb.select(col("i").as("node_id"), col("nb_rank").cast("long").as("nb_rank"),
      col("j").as("neighbor_id"), col("cos"))
    vecs.unpersist()
    out
  }

  /** The build's pairwise scoring joins, shared by every round: two
    * broadcast-hash lookups against the persisted (id, vec, nrm)
    * projection, then the rounded cosine — codegen end to end.
    */
  private object VecOpsScore {
    def score(cand: DataFrame, vecs: DataFrame): DataFrame = cand
      .join(vecs.select(col("id").as("i"), col("vec").as("vi"), col("nrm").as("ni")), Seq("i"))
      .join(vecs.select(col("id").as("j"), col("vec").as("vj"), col("nrm").as("nj")), Seq("j"))
      .select(col("i"), col("j"),
        round(cosineFromNorms(dot(col("vi"), col("vj")), col("ni"), col("nj")), 6).as("cos"))
  }

  /** ONE NN-Descent round over an existing k-NN graph in
    * [[knnGraphBuild]]'s output schema — the build loop's body as a
    * standalone operator, because it is ALSO the drift remedy: an
    * append-mutated graph's recall sags as arrivals accumulate
    * (measured 0.986→0.904→0.779 at 0/10/30% appended,
    * dev/KnnGraphScaleSmoke), and one descent round over the mutated
    * graph recovers most of it at a fraction of a rebuild
    * ([[knnGraphRefreshPartitioned]] runs this against the stored
    * tables). `corpus` is the graph's CURRENT node universe (id,
    * vec). Candidates are re-scored from scratch (the round's
    * candidate set includes every existing edge), so the result is a
    * pure function of (graph edges, corpus) — oracle-replicable. The
    * corpus projection is deliberately NOT persisted here: a single
    * round reads it into its two broadcast lookups and nothing else,
    * unlike the build's cross-round reuse.
    */
  def knnGraphDescentRound(
      graph: DataFrame,
      corpus: DataFrame,
      k: Int,
      revCap: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(revCap >= k, s"revCap must be >= k, got $revCap < $k")
    val vecs = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
    val nb = graph.select(col("node_id").as("i"), col("neighbor_id").as("j"))
    topKEdgesPerNode(VecOpsScore.score(capEdgesAndExpand(nb, revCap), vecs), k)
      .select(col("i").as("node_id"), col("nb_rank").cast("long").as("nb_rank"),
        col("j").as("neighbor_id"), col("cos"))
  }

  /** One NN-Descent candidate round: symmetrize, cap per node
    * (pseudo-random hash order — see [[capEdgesPerNode]]), one
    * neighbor-of-neighbor hop, dedup. Factored from the build loop so
    * the scoring kernel swap couldn't drift the candidate semantics.
    */
  private def capEdgesAndExpand(nb: DataFrame, revCap: Int): DataFrame = {
    val fwd = nb.select("i", "j")
    val und = fwd.union(fwd.select(col("j").as("i"), col("i").as("j"))).distinct()
    val capped = capEdgesPerNode(und, revCap)
    val hop2 = capped.as("a").join(capped.as("b"), col("a.j") === col("b.i"))
      .select(col("a.i").as("i"), col("b.j").as("j"))
    capped.union(hop2).where(col("i") =!= col("j")).distinct()
  }

  /** Drop a [[DataFrame.localCheckpoint]]'s cached blocks eagerly —
    * the checkpointed RDD rides in the plan's LogicalRDD leaf. No-op
    * on non-checkpointed frames.
    */
  private[graft] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Per-node bounded top-k over scored (i, j, cos) candidate rows —
    * the aggregate form of
    * `row_number().over(partitionBy(i).orderBy(cos desc, j)) <= k`
    * shared by the build round, the descent round and both mutation
    * merges (guide §2.3 "aggregate before you shuffle"): the window
    * shipped EVERY candidate row (≤ revCap + revCap² per node in the
    * build) through its exchange and sorted it; the bounded aggregate's
    * map-side partials carry at most k pairs per (node × task), so the
    * exchange shrinks ~candidates/k-fold. Content and tie-breaks are
    * identical (TopKPairsSpec pins window equality, including ties);
    * nb_rank is the explode position + 1 — the same 1-based dense
    * ranking row_number produced over the unique (i, j) inputs every
    * caller feeds this (all are post-`distinct`).
    */
  private def topKEdgesPerNode(scored: DataFrame, k: Int): DataFrame = scored
    .groupBy("i")
    .agg(graft.functions.TopK.pairs(col("cos"), col("j"), k).as("__tk"))
    .select(col("i"), posexplode(col("__tk")))
    .select(col("i"), col("col.neighbor_id").as("j"), col("col.cos").as("cos"),
      (col("pos") + 1).as("nb_rank"))

  /** Adjacency cap shared by the graph family's build/delete legs:
    * keep `revCap` edges per node in a deterministic PSEUDO-RANDOM
    * order (Knuth-hash of the edge), the reproducible stand-in for
    * NN-Descent's uniform neighbor sampling — a smallest-id cut would
    * bias every oversized neighborhood's survivors toward low ids and
    * strand high-id nodes outside the candidate web (measured: recall
    * 0.66 vs 1.0 on a two-cluster fixture). Operands are pre-bounded
    * so the product also fits DuckDB's non-wrapping BIGINT in the
    * mirrored oracle arithmetic.
    *
    * The (__h asc, j asc) bottom-revCap cut runs as the bounded
    * heap aggregate with score = −__h (exact: __h < 2^31 « 2^53, and
    * h₁ < h₂ ⇔ −h₁ > −h₂ with the j-asc tie-break unchanged), so at
    * most revCap edges per (node × task) cross the exchange instead
    * of the node's whole adjacency. Inputs are (i, j)-unique by
    * contract (every caller dedups first — same precondition the
    * window form had).
    */
  private[graft] def capEdgesPerNode(edges: DataFrame, revCap: Int): DataFrame = edges
    .withColumn("__h", expr(
      "((i % 1000003L) * 2654435761L + (j % 1000003L) * 40503L) % 2147483647L"))
    .groupBy("i")
    .agg(graft.functions.TopK.pairs(-col("__h").cast("double"), col("j"), revCap)
      .as("__tk"))
    .select(col("i"), explode(col("__tk.neighbor_id")).as("j"))

  /** The LSH seed-edge generator behind [[knnGraphBuild]], public
    * because the edges are useful BEYOND the build: a pure k-NN graph
    * has only short-range edges, so beam search cannot traverse far
    * from its entry points — the navigable-small-world fix (Malkov et
    * al.) is to serve over graph ∪ long-range links, and the
    * hash-random in-bucket anchor edges ARE such links.
    *
    * Every member of a sign-bit LSH bucket pairs with the bucket's
    * first `anchorsPerBucket` hash-ordered members — NOT within-bucket
    * all-pairs, which is quadratic in bucket size (sign-bit LSH cannot
    * split a tight cluster no matter how many bits, so a fat-clustered
    * corpus would explode the seed join; anchors bound seed edges at
    * N·anchors·tables). With anchorsPerBucket >= the bucket size the
    * seed degenerates to exactly all-pairs. Deterministic end to end;
    * directed (member → anchor) — symmetrize downstream if needed.
    */
  def knnLshSeedEdges(
      corpus: DataFrame,
      lshBits: Int,
      lshTables: Int,
      anchorsPerBucket: Int): DataFrame = {
    val sig = knnLshSignatures(corpus, lshBits, lshTables)
    val anchors = knnLshAnchorsOf(sig, anchorsPerBucket)
    sig.join(anchors.select(col("tb"), col("bkt"), col("id").as("__aid")),
        Seq("tb", "bkt"))
      .where(col("id") =!= col("__aid"))
      .select(col("id").as("i"), col("__aid").as("j"))
      .distinct()
  }

  /** The sign-bit LSH signatures behind [[knnLshSeedEdges]] — one
    * (tb, id, bkt) row per node per hash table. Public because the
    * batch-proportional append path signs ONLY the arriving batch and
    * joins against a persisted anchor table instead of re-signing the
    * corpus. Map-only, per-row deterministic (a node's signature never
    * depends on the rest of the corpus).
    *
    * Bucket bit b of table t reads vec[t·bits+b], WRAPPED modulo the
    * vector's own dimension: without the wrap, dim < lshBits·lshTables
    * makes element_at return null, the bit silently reads 0, and the
    * upper tables collapse into one fat near-constant bucket with no
    * signal to the caller. Wrapped, every table reads real coordinates
    * (upper tables re-read lower ones on short vectors — degraded
    * diversity, never degenerate buckets). For dim >= lshBits·lshTables
    * the wrap is the identity, so the contract fixtures (dim 64 >= 15)
    * are byte-unchanged and the DuckDB oracles keep the plain index.
    */
  def knnLshSignatures(corpus: DataFrame, lshBits: Int, lshTables: Int): DataFrame = {
    require(lshBits > 0 && lshTables > 0,
      s"need positive LSH shape, got bits=$lshBits tables=$lshTables")
    (0 until lshTables).map { t =>
      val bkt = (0 until lshBits).map { b =>
        val idx = pmod(lit(t * lshBits + b), size(col("vec"))) + 1
        when(element_at(col("vec"), idx) >= 0f, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
      corpus.select(lit(t).as("tb"), col("id"), bkt.as("bkt"))
    }.reduce(_ union _)
  }

  /** Per-bucket anchor cut over a signature table: the first
    * `anchorsPerBucket` members of each (tb, bkt) in Knuth-hash order
    * — (tb, bkt, id) rows. Key algebraic property the incremental
    * paths lean on: the cut is a per-bucket TOP-K in a total order, so
    * anchorsOf(anchorsOf(old) ∪ newSigs) == anchorsOf(old ∪ newSigs)
    * — a persisted anchor table (≤ tables·2^bits·anchorsPerBucket
    * rows, model-sized) plus batch signatures reproduces the
    * full-corpus anchors EXACTLY without touching the corpus. The
    * same superset argument makes a DEEPER stored cut equally valid
    * input: anchorsOf(top-D cut, A) == anchorsOf(full corpus, A) for
    * any D >= A, which is what lets [[knnGraphWritePartitioned]]
    * store depth 2A as delete slack (see
    * [[knnGraphDeleteAnchorRecut]]) while the append algebra keeps
    * recutting at A.
    */
  def knnLshAnchorsOf(sig: DataFrame, anchorsPerBucket: Int): DataFrame = {
    require(anchorsPerBucket > 0,
      s"anchorsPerBucket must be positive, got $anchorsPerBucket")
    // bounded heap aggregate, not a ranking window (same trick as
    // [[capEdgesPerNode]]): the (__h asc, id asc) bottom-k cut is the
    // top-k by score −__h (exact below 2^53), so at most
    // anchorsPerBucket ids per (bucket × task) cross the exchange
    // instead of the bucket's full membership. Input (tb, bkt, id)
    // rows are unique by contract (signature tables are; incremental
    // callers dedup their unions first — the same precondition the
    // window form documented).
    sig.select(col("tb"), col("bkt"), col("id"))
      .withColumn("__h", expr("(id % 1000003L) * 2654435761L % 2147483647L"))
      .groupBy("tb", "bkt")
      .agg(graft.functions.TopK.pairs(
        -col("__h").cast("double"), col("id"), anchorsPerBucket).as("__tk"))
      .select(col("tb"), col("bkt"), explode(col("__tk.neighbor_id")).as("id"))
  }

  /** Batch-proportional anchor recut after a delete — the stored-cut
    * twin of the append algebra, so a small delete never pays a
    * full-corpus signature scan. The stored table holds each bucket's
    * top-`depth` members in Knuth-hash order (or the whole bucket
    * when smaller — deducible as stored count < depth, the invariant
    * [[KnnGraphIndex.anchorDepth]] documents). Per bucket:
    *
    *   - complete (count < depth): stored rows ARE the bucket —
    *     dropping tombstones reproduces the full recut exactly;
    *   - saturated, no stored tombstone: a tombstone can only sit
    *     BEYOND the cut, which leaves the top-`depth` unchanged;
    *   - saturated AND losing stored members: members past the cut
    *     are unknown, so ONLY these buckets re-sign — and the re-sign
    *     filter pushes into the survivor signature pass, so its
    *     output is bucket-sized.
    *
    * Returns the new stored cut plus the re-signed bucket list (a
    * model-sized driver collect — ≤ tables·2^bits pairs). When the
    * list is empty the returned plan touches the corpus ONLY for the
    * tombstone id list — no signature computation anywhere in it
    * (spec-pinned).
    */
  private[graft] def knnGraphDeleteAnchorRecut(
      storedAnchors: DataFrame,
      corpus: DataFrame,
      deleteFilter: Column,
      lshBits: Int,
      lshTables: Int,
      depth: Int): (DataFrame, Seq[(Int, Long)]) = {
    require(depth > 0, s"depth must be positive, got $depth")
    val tomb = corpus.where(deleteFilter).select(col("id"))
    val st = storedAnchors.select(col("tb"), col("bkt"), col("id"))
    val stats = st
      .join(broadcast(tomb.withColumn("__dead", lit(1))), Seq("id"), "left")
      .groupBy("tb", "bkt")
      .agg(count(lit(1)).as("__n"), sum(coalesce(col("__dead"), lit(0))).as("__ndead"))
    val allStats = stats
      .select(col("tb"), col("bkt"),
        (col("__n") === depth && col("__ndead") > 0).as("__resign"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)))
    val resign = allStats.collect { case (t, b, true) => (t, b) }.toSeq.sorted
    val survivors = st.join(broadcast(tomb), Seq("id"), "left_anti")
      .select("tb", "bkt", "id")
    // single-long bucket key (tb ⋅ 2^32 + bkt — bkt < 2^lshBits «
    // 2^32) so the small-resign filter plans as one isin instead of a
    // pathological OR chain
    def bKey(tb: Column, bkt: Column): Column = tb.cast("long") * 4294967296L + bkt
    if (resign.isEmpty) (survivors, resign)
    else if (resign.size * 4 >= allStats.length) {
      // mass-delete shortcut: when a wide tombstone batch re-signs a
      // sizable share of buckets (≥ 1/4), the one-pass full survivor
      // recut IS the cheapest correct plan — the signature scan's
      // INPUT is the survivor corpus either way, and past this point
      // the filtered path's smaller window no longer pays for its
      // extra union branch (it's what this op always cost before the
      // deep cut); identical output, fewer plan nodes
      (knnLshAnchorsOf(
        knnLshSignatures(corpus.where(!deleteFilter), lshBits, lshTables),
        depth), resign)
    } else {
      val keys = resign.map { case (t, b) => t.toLong * 4294967296L + b }
      val resigned = knnLshAnchorsOf(
        knnLshSignatures(corpus.where(!deleteFilter), lshBits, lshTables)
          .where(bKey(col("tb"), col("bkt")).isin(keys: _*)),
        depth)
      (survivors.where(!bKey(col("tb"), col("bkt")).isin(keys: _*))
        .union(resigned), resign)
    }
  }

  /** Incremental append to a [[knnGraphBuild]] graph — the lifecycle
    * leg (the composed-index family's q241 for the graph family): a
    * batch of new vectors joins WITHOUT a full rebuild.
    *
    *   1. new nodes seed against the FULL corpus's LSH anchor edges
    *      ([[knnLshSeedEdges]] — the arriving nodes land in the same
    *      sign-bit buckets their neighbors occupy),
    *   2. each seed expands one hop through the OLD graph (the
    *      anchors' refined neighborhoods — NN-Descent's
    *      neighbor-of-neighbor step applied once, which is what makes
    *      the append approximate-but-good instead of seed-quality),
    *   3. every scored (new, candidate) edge also REVERSE-proposes the
    *      new node to its candidate (cosine is symmetric — one scoring
    *      pass serves both directions),
    *   4. one global per-node top-k re-rank over old edges ∪ proposals
    *      — untouched nodes re-rank their own k rows (identity), so
    *      only proposal-touched neighborhoods can change, and only by
    *      IMPROVING (a kept edge is never displaced by a worse one).
    *
    * Deterministic end to end; the oracle (q268) replicates all four
    * steps. Scale shape (the composed index's O(batch) append,
    * matched): with `oldAnchors` supplied (the persisted anchor table
    * of the PRE-append corpus), only the BATCH is signed — the
    * full-corpus anchor set is recovered exactly as
    * anchorsOf(oldAnchors ∪ batchSigs) (see [[knnLshAnchorsOf]]'s
    * top-k algebra) — and the top-k merge WINDOWS ONLY
    * proposal-touched nodes: untouched graph rows pass through
    * verbatim (their re-rank is the identity — a kept edge is never
    * displaced except by a better proposal, so recomputing their
    * window reproduces their stored nb_rank bit-for-bit). Proposals ∝
    * |batch|·anchors·tables·(k+1) skinny rows; no stage touches
    * N-sized state except the untouched rows' pass-through scan.
    * Without `oldAnchors` the function re-signs the corpus (one
    * map-only pass — the from-scratch fallback) and produces the SAME
    * output.
    *
    * INPUT CONTRACT: `graph` must carry [[knnGraphBuild]]'s schema
    * INCLUDING a consistent `nb_rank` column (nb_rank == row_number
    * over (cos DESC, neighbor_id) per node, as the build and every
    * lifecycle op emit). Untouched nodes pass their stored ranks
    * through VERBATIM — that identity is what keeps the merge window
    * touched-sized — so a graph with inconsistent ranks produces
    * silently re-ordered output instead of being re-ranked, and a
    * graph without the column fails analysis.
    */
  def knnGraphAppend(
      graph: DataFrame,
      corpus: DataFrame,
      newFilter: Column,
      k: Int,
      lshBits: Int = 5,
      lshTables: Int = 3,
      anchorsPerBucket: Int = 32,
      oldAnchors: Option[DataFrame] = None): DataFrame =
    knnGraphAppendParts(graph, corpus, newFilter, k, lshBits, lshTables,
      anchorsPerBucket, oldAnchors)._3

  /** [[knnGraphAppend]]'s internals, exposing the proposal-touched
    * node set and its merged rows alongside the full graph so the
    * PARTITIONED append can rewrite only the storage partitions
    * holding touched rows. Returns (touched node ids, the touched
    * nodes' merged rows, the full merged graph).
    */
  private[graft] def knnGraphAppendParts(
      graph: DataFrame,
      corpus: DataFrame,
      newFilter: Column,
      k: Int,
      lshBits: Int = 5,
      lshTables: Int = 3,
      anchorsPerBucket: Int = 32,
      oldAnchors: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    // no persist: the returned plan is lazy and nothing inside this
    // function runs an action, so a persist/unpersist pair here never
    // materializes — the two scoring joins each re-read the (columnar,
    // pruned) corpus projection instead, which is the cheaper honest
    // plan
    val vecs = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
    val newSig = knnLshSignatures(corpus.where(newFilter), lshBits, lshTables)
    val anchors = oldAnchors match {
      case Some(a) =>
        // distinct: a batch retried after a mid-swap failure (or any
        // non-disjoint batch) may re-sign ids already in the stored
        // cut — duplicate (tb, bkt, id) rows would inflate row_number
        // inside knnLshAnchorsOf and evict legitimate anchors
        knnLshAnchorsOf(
          a.select(col("tb"), col("bkt"), col("id"))
            .union(newSig.select(col("tb"), col("bkt"), col("id")))
            .distinct(),
          anchorsPerBucket)
      case None =>
        knnLshAnchorsOf(knnLshSignatures(corpus, lshBits, lshTables), anchorsPerBucket)
    }
    val newSeed = newSig
      .join(anchors.select(col("tb"), col("bkt"), col("id").as("__aid")),
        Seq("tb", "bkt"))
      .where(col("id") =!= col("__aid"))
      .select(col("id").as("i"), col("__aid").as("j"))
      .distinct()
    val expand = newSeed.select(col("i"), col("j").as("node_id"))
      .join(graph.select(col("node_id"), col("neighbor_id").as("j")), Seq("node_id"))
      .select("i", "j")
    val cand = newSeed.select("i", "j").union(expand)
      .where(col("i") =!= col("j")).distinct()
    val scored = cand
      .join(vecs.select(col("id").as("i"), col("vec").as("vi"), col("nrm").as("ni")), Seq("i"))
      .join(vecs.select(col("id").as("j"), col("vec").as("vj"), col("nrm").as("nj")), Seq("j"))
      .select(col("i"), col("j"),
        round(cosineFromNorms(dot(col("vi"), col("vj")), col("ni"), col("nj")), 6).as("cos"))
    // scored is referenced from THREE branches below (both proposal
    // directions feeding the touched set, the untouched anti-join's
    // key side, the merge union) — left lazy, the batch-scoring joins
    // would execute once per branch (measured 3.7× on q268's bench
    // row). localCheckpoint pins the skinny (i, j, cos) scored rows —
    // proposal-sized by contract — so scoring runs exactly once.
    // (Rebuilt from the checkpointed RDD rather than used directly:
    // the checkpoint's LogicalRDD carries origin constraints from the
    // scoring plan, and the swapped self-union below trips Spark's
    // Union.rewriteConstraints on them — "key not found" on a
    // pre-projection attribute. createDataFrame over the same RDD
    // keeps the materialization and drops the constraint baggage.)
    val scoredCk0 = scored.localCheckpoint()
    val scoredCk = scoredCk0.sparkSession.createDataFrame(
      scoredCk0.rdd, scoredCk0.schema)
    val proposals = scoredCk.select(col("j").as("i"), col("i").as("j"), col("cos"))
      .union(scoredCk)
    val touched = proposals.select(col("i")).distinct()
    val graphEdges = graph
      .select(col("node_id").as("i"), col("neighbor_id").as("j"), col("cos"),
        col("nb_rank"))
    // untouched nodes: stored rows pass through verbatim (ranks are
    // already 1..min(k, deg) in stored order — the re-rank identity)
    val untouched = graphEdges
      .join(touched, Seq("i"), "left_anti")
      .where(col("nb_rank") <= k)
      .select(col("i").as("node_id"), col("nb_rank").cast("long").as("nb_rank"),
        col("j").as("neighbor_id"), col("cos"))
    val touchedMerged = topKEdgesPerNode(
      graphEdges.select("i", "j", "cos")
        .join(touched, Seq("i"), "left_semi")
        .union(proposals)
        .distinct(), k)
      .select(col("i").as("node_id"), col("nb_rank").cast("long").as("nb_rank"),
        col("j").as("neighbor_id"), col("cos"))
    (touched.select(col("i").as("node_id")), touchedMerged,
      untouched.union(touchedMerged))
  }

  /** Delete leg for the k-NN graph — completes the lifecycle
    * (build / serve / recall / navigable / append / DELETE, mirroring
    * the composed index's q253): drop the departing nodes AND every
    * edge pointing at them, then BACKFILL the survivors that lost
    * neighbors with one NN-Descent round restricted to those affected
    * nodes (symmetrize the surviving graph, cap, neighbor-of-neighbor,
    * score, merge with the kept edges, per-node top-k). Unaffected
    * nodes re-rank their own rows — identity. A node can end under k
    * edges only if its entire reachable neighborhood died.
    *
    * Scale shape: the tombstone set broadcasts into two anti-joins;
    * the backfill round is the build round's plan restricted to
    * |affected| nodes — candidates ∝ affected·revCap², never N — and
    * the top-k merge WINDOWS ONLY the affected nodes: unaffected
    * survivors kept all their rows, so their re-rank is the identity
    * and they pass through verbatim with their stored nb_rank.
    *
    * INPUT CONTRACT: same as [[knnGraphAppend]]'s — `graph` must
    * carry a consistent `nb_rank` (row_number over (cos DESC,
    * neighbor_id) per node); unaffected survivors' stored ranks pass
    * through verbatim, so inconsistent ranks yield silently
    * re-ordered output and a missing column fails analysis.
    */
  def knnGraphDelete(
      graph: DataFrame,
      corpus: DataFrame,
      deleteFilter: Column,
      k: Int,
      revCap: Int = 32): DataFrame =
    knnGraphDeleteParts(graph, corpus, deleteFilter, k, revCap)._3

  /** [[knnGraphDelete]]'s internals, exposing the set of nodes whose
    * rows can change (tombstoned owners ∪ backfill-affected survivors)
    * so the PARTITIONED delete can rewrite only the storage partitions
    * holding them. Returns (changed node ids, the affected survivors'
    * re-ranked rows, the full surviving graph).
    */
  private[graft] def knnGraphDeleteParts(
      graph: DataFrame,
      corpus: DataFrame,
      deleteFilter: Column,
      k: Int,
      revCap: Int = 32): (DataFrame, DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    // lazy plan, no action inside — see knnGraphAppend's note on why a
    // persist/unpersist pair here would never materialize
    val vecs = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
    val del = corpus.where(deleteFilter).select(col("id"))
    val g = graph.select(col("node_id").as("i"), col("neighbor_id").as("j"),
      col("cos"), col("nb_rank"))
    val kept = g
      .join(broadcast(del.select(col("id").as("i"))), Seq("i"), "left_anti")
      .join(broadcast(del.select(col("id").as("j"))), Seq("j"), "left_anti")
      .select("i", "j", "cos", "nb_rank")
    // the affected set is referenced from four branches (backfill
    // candidate semi-join, unaffected anti-join, affected semi-join,
    // changed union) — checkpoint the affected-sized id list so the
    // tombstone probe over the graph runs once
    val affected = g
      .join(broadcast(del.select(col("id").as("j"))), Seq("j"), "left_semi")
      .join(broadcast(del.select(col("id").as("i"))), Seq("i"), "left_anti")
      .select("i").distinct()
      .localCheckpoint()
    val fwd = kept.select("i", "j")
    val und = fwd.union(fwd.select(col("j").as("i"), col("i").as("j"))).distinct()
    val capped = capEdgesPerNode(und, revCap)
    val hop2 = capped.as("a").join(capped.as("b"), col("a.j") === col("b.i"))
      .select(col("a.i").as("i"), col("b.j").as("j"))
    val cand = capped.union(hop2).where(col("i") =!= col("j")).distinct()
      .join(affected, Seq("i"), "left_semi")
    val scored = cand
      .join(vecs.select(col("id").as("i"), col("vec").as("vi"), col("nrm").as("ni")), Seq("i"))
      .join(vecs.select(col("id").as("j"), col("vec").as("vj"), col("nrm").as("nj")), Seq("j"))
      .select(col("i"), col("j"),
        round(cosineFromNorms(dot(col("vi"), col("vj")), col("ni"), col("nj")), 6).as("cos"))
    // unaffected survivors kept every row — identity re-rank, pass
    // through with the stored ranks
    val unaffected = kept
      .join(affected, Seq("i"), "left_anti")
      .where(col("nb_rank") <= k)
      .select(col("i").as("node_id"), col("nb_rank").cast("long").as("nb_rank"),
        col("j").as("neighbor_id"), col("cos"))
    val affectedOut = topKEdgesPerNode(
      kept.select("i", "j", "cos")
        .join(affected, Seq("i"), "left_semi")
        .union(scored)
        .distinct(), k)
      .select(col("i").as("node_id"), col("nb_rank").cast("long").as("nb_rank"),
        col("j").as("neighbor_id"), col("cos"))
    val changed = affected.select(col("i").as("node_id"))
      .union(del.select(col("id").as("node_id"))).distinct()
    (changed, affectedOut, unaffected.union(affectedOut))
  }

  /** FLAT beam-search serve over a [[knnGraphBuild]] graph: each query
    * starts from a fixed entry set (corpus ids ≡ 0 mod `entryStride` —
    * deterministic), scores the beam, and per hop expands the current
    * beam's graph neighbors, re-ranking to the best `beam` candidates;
    * after `hops` rounds the top-k survivors (self-matches excluded)
    * are the answer.
    *
    * Scale shape: the per-HOP frontier is ≤ queries·beam·(k+1) skinny
    * (query_id, candidate) rows — the expansion join touches only the
    * graph's edge table, and the scoring join fetches exactly the
    * frontier's vectors (queries broadcast). The ENTRY stage is the
    * flat serve's scale ceiling: it scores N/entryStride candidates
    * per query — linear in corpus size — and the fixed entry density
    * is also its measured recall ceiling (0.996→0.801→0.714 at
    * 200k/500k/1M, dev/KnnGraphScaleSmoke). Use
    * [[knnGraphServeLayered]] for the corpus-independent path
    * (HNSW-style hierarchy — entries = the top layer's node set,
    * constant when levels grow with log N); the flat serve remains
    * the right tool at bounded corpus sizes where one layer's
    * simplicity wins.
    */
  def knnGraphServe(
      queries: DataFrame,
      graph: DataFrame,
      corpus: DataFrame,
      k: Int,
      beam: Int = 8,
      hops: Int = 2,
      entryStride: Long = 61L): DataFrame = {
    require(k > 0 && beam >= k, s"need beam >= k > 0, got beam=$beam k=$k")
    val vecs = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm")).persist()
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      norm(col("vec")).as("q_norm"))
    def score(cand: DataFrame): DataFrame =
      cand
        .join(vecs.select(col("id").as("cand"), col("vec").as("c_vec"),
          col("nrm").as("c_norm")), Seq("cand"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("cand"),
          round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
            col("q_norm"), col("c_norm")), 6).as("cos"))
    def cut(scored: DataFrame, keep: Int): DataFrame = scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))))
      .where(col("__rk") <= keep).drop("__rk")
    val entries = vecs.where(pmod(col("id"), lit(entryStride)) === 0)
      .select(col("id").as("cand"))
    // Lineage-truncation cadence (same rationale as the layered
    // serve): each hop references the beam twice, so checkpoint every
    // SECOND hop — duplication stays ≤2 lazy levels of skinny-frontier
    // windows/joins while the serve drops half its eager jobs. The
    // ENTRY beam stays checkpointed: its scoring stage is the flat
    // serve's one corpus-proportional stage (N/entryStride candidates
    // per query) and re-running it 4× inside a depth-2 lazy tree is
    // the one duplication that would not be frontier-sized.
    var beamDf = cut(score(q.select("query_id").crossJoin(entries)), beam).localCheckpoint()
    // Frontier-sized hop shuffles: past the entry stage every shuffle
    // in this loop carries ≤ queries·beam·(k+1) skinny rows — a bound
    // the operator documents as corpus-INDEPENDENT — yet each one
    // inherits the session's corpus-sized spark.sql.shuffle.partitions
    // (32 near-empty tasks per window/distinct at fixture scale; the
    // task fleet, not the data, was the measured serve cost). Derive
    // the hop partition count from the materialized entry beam
    // (queries·beam rows, a cached count): ~250k frontier rows per
    // partition, so a 1M-query serve batch still fans out to hundreds
    // of partitions while a 100-query batch plans single-task stages.
    // Guide §2: partition by data size, not by a constant tuned for
    // either local mode or the cluster.
    val sess = queries.sparkSession
    val frontierParts = math.max(1L,
      beamDf.count() * (k + 1) / 250000L).toString
    // r18: the frontier-sized partition count and the Bloom-filter
    // opt-out live on a CHILD session (shared context/cache manager,
    // own SQLConf) instead of set/restore on the caller's session —
    // not thread-safe on a shared serving session. Rebinding the
    // materialized entry beam is enough: every hop frame chains from
    // it (a Dataset plans under ITS session), and the final result is
    // an eager checkpoint re-bound to the caller below.
    // (The injected runtime Bloom filter — might_contain scalar
    // subquery, one extra job per hop, over query_id with broadcast q
    // as creation side — is semantically a no-op here at ANY scale:
    // every beam row's query_id comes FROM q by construction.)
    val child = org.apache.spark.sql.graftbridge.SessionBridge.scoped(sess, Seq(
      "spark.sql.shuffle.partitions" -> frontierParts,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false"))
    beamDf = org.apache.spark.sql.graftbridge.SessionBridge.rebind(beamDf, child)
    var lastCkpt = beamDf
    var sinceCkpt = 0
    var h = 0
    while (h < hops) {
      val expand = beamDf.select(col("query_id"), col("cand").as("node_id"))
        .join(graph.select(col("node_id"), col("neighbor_id").as("cand")), Seq("node_id"))
        .select("query_id", "cand")
      // one explicit frontier exchange per hop: repartition by
      // query_id, then BOTH the dedup aggregate (keys ⊇ query_id) and
      // the window cut (partitionBy query_id) reuse that partitioning
      // — the plan shape is one Exchange where ENSURE_REQUIREMENTS
      // placed three (distinct + window each re-exchanged the union)
      val next = cut(score(
        beamDf.select("query_id", "cand").union(expand)
          .repartition(col("query_id")).distinct()), beam)
      if (sinceCkpt >= 1 && h < hops - 1) {
        // two lazy hops are stacked and another follows: truncate
        val materialized = next.localCheckpoint()
        unpersistCheckpoint(lastCkpt)
        lastCkpt = materialized
        beamDf = materialized
        sinceCkpt = 0
      } else {
        beamDf = next
        sinceCkpt += 1
      }
      h += 1
    }
    // materialize before releasing the caches: the tail hops are lazy
    // now, so the final tree still runs scoring joins against `vecs`
    val res = beamDf.where(col("cand") =!= col("query_id"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))))
      .where(col("__rk") <= k)
      .select(col("query_id"), col("cand").as("neighbor_id"), col("cos"))
      .localCheckpoint()
    vecs.unpersist()
    if (lastCkpt != null) unpersistCheckpoint(lastCkpt)
    org.apache.spark.sql.graftbridge.SessionBridge.rebind(res, sess)
  }

  /** Deterministic HNSW-style layer membership: a node belongs to
    * every layer `L' <= L` where L is the number of times
    * `layerFactor` divides its Knuth id-hash — the reproducible
    * stand-in for HNSW's geometric level draw (Malkov & Yashunin,
    * TPAMI 2020: P(level >= L) = p^L with p = 1/layerFactor). The
    * hash (same pre-bounded Knuth form as [[knnLshSeedEdges]]'s
    * anchor order, DuckDB-safe) decorrelates membership from id
    * assignment order, and the divisibility chain makes layers NEST:
    * member(L+1) ⊂ member(L), the property greedy descent relies on
    * (a beam carried down never leaves the graph).
    */
  def knnLayerMemberFilter(id: Column, level: Int, layerFactor: Int): Column = {
    require(level >= 0, s"level must be >= 0, got $level")
    require(layerFactor > 1, s"layerFactor must be > 1, got $layerFactor")
    if (level == 0) lit(true)
    else {
      val mod = math.pow(layerFactor.toDouble, level.toDouble)
      require(mod < 2147483647.0,
        s"layerFactor^level must stay under the hash modulus, got $mod")
      pmod(id % 1000003L * 2654435761L % 2147483647L, lit(mod.toLong)) === 0L
    }
  }

  /** Hierarchical (HNSW-style) layer graphs over one corpus: layer L
    * is [[knnGraphBuild]] run on the [[knnLayerMemberFilter]](L)
    * subsample, returned TOP-FIRST (coarsest layer at the head, the
    * full layer-0 graph last) — the shape [[knnGraphServeLayered]]
    * consumes. Build cost is dominated by layer 0 (the flat build);
    * upper layers shrink geometrically (Σ N/f^L < N/(f-1) extra
    * rows), so the hierarchy costs < 1/(f-1) more than the flat
    * graph it replaces at serve time.
    */
  def knnGraphBuildLayers(
      corpus: DataFrame,
      k: Int,
      levels: Int,
      layerFactor: Int = 8,
      rounds: Int = 3,
      revCap: Int = 32,
      lshBits: Int = 5,
      lshTables: Int = 3,
      anchorsPerBucket: Int = 32): Seq[DataFrame] = {
    require(levels >= 0, s"levels must be >= 0, got $levels")
    (levels to 0 by -1).map { l =>
      knnGraphBuild(corpus.where(knnLayerMemberFilter(col("id"), l, layerFactor)),
        k, rounds, revCap, lshBits, lshTables, anchorsPerBucket)
    }
  }

  /** Hierarchical beam serve over nested layer graphs — the fix for
    * the flat serve's one measured scale ceiling: [[knnGraphServe]]'s
    * entry stage scores N/entryStride candidates per query (linear in
    * corpus size, and the fixed entry density is also its recall
    * ceiling — measured 0.996→0.714 at 200k→1M in
    * dev/KnnGraphScaleSmoke). Here the entry set is the TOP layer's
    * ENTIRE node set — N/layerFactor^levels rows, a constant when the
    * builder grows `levels` with log(N) — and each layer down runs
    * `hopsPerLayer` beam-expansion rounds over that layer's graph
    * before handing its beam to the next denser layer (greedy descent;
    * nesting guarantees every carried-down candidate has edges below).
    *
    * Scale shape per layer: the frontier is ≤ queries·beam·(k+1)
    * skinny (query_id, cand) rows; the expansion join touches only
    * that layer's edge table and the scoring join fetches exactly the
    * frontier's vectors (queries broadcast). Total serve cost is
    * levels·hopsPerLayer frontier rounds + one constant-size entry
    * scoring — corpus-independent end to end, which the flat serve
    * never was.
    */
  def knnGraphServeLayered(
      queries: DataFrame,
      layers: Seq[DataFrame],
      corpus: DataFrame,
      k: Int,
      beam: Int = 8,
      hopsPerLayer: Int = 2): DataFrame = {
    require(layers.nonEmpty, "need at least one layer graph (the base layer)")
    require(k > 0 && beam >= k, s"need beam >= k > 0, got beam=$beam k=$k")
    require(hopsPerLayer > 0, s"hopsPerLayer must be positive, got $hopsPerLayer")
    val vecs = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm")).persist()
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      norm(col("vec")).as("q_norm"))
    def score(cand: DataFrame): DataFrame =
      cand
        .join(vecs.select(col("id").as("cand"), col("vec").as("c_vec"),
          col("nrm").as("c_norm")), Seq("cand"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("cand"),
          round(cosineFromNorms(dot(col("q_vec"), col("c_vec")),
            col("q_norm"), col("c_norm")), 6).as("cos"))
    def cut(scored: DataFrame, keep: Int): DataFrame = scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))))
      .where(col("__rk") <= keep).drop("__rk")
    // entries = every node of the coarsest layer (its graph's distinct
    // node set — constant-size by construction); broadcast into the
    // per-query fan-out
    val entries = layers.head.select(col("node_id").as("cand")).distinct()
    // Lineage-truncation cadence: each hop references the beam twice
    // (expand + union), so an un-checkpointed hop doubles its subtree
    // in the next materialization. Checkpointing EVERY hop caps the
    // duplication at 1× but pays one eager job per hop — and at
    // serve-sized frontiers (queries·beam skinny rows) the job
    // scheduling overhead dominates the duplicated work. Checkpoint
    // every SECOND hop instead: duplication stays ≤2× (the doubled
    // subtree is one window + two broadcast joins over a tiny
    // frontier) and the serve drops half its eager actions. The
    // previous checkpoint's blocks are released only once a LATER
    // checkpoint materializes (a lazy hop still references them).
    // The entry beam is materialized eagerly: it seeds every hop AND
    // its cached row count (queries·beam) is what sizes the hop
    // shuffles below — same frontier-partitioning rationale as
    // [[knnGraphServe]]: every post-entry shuffle carries
    // ≤ queries·beam·(k+1) skinny rows (corpus-independent by this
    // operator's documented scale shape), so the hop loop derives its
    // partition count from the frontier instead of inheriting the
    // session's corpus-sized spark.sql.shuffle.partitions (which
    // planned 32 near-empty tasks per window/distinct at fixture
    // scale — the measured serve cost was that task fleet).
    var beamDf = cut(score(
      q.select("query_id").crossJoin(broadcast(entries))), beam).localCheckpoint()
    val sess = queries.sparkSession
    val frontierParts = math.max(1L,
      beamDf.count() * (k + 1) / 250000L).toString
    // r18: child-session conf scope + entry-beam rebind — see
    // knnGraphServe (same rationale: thread-safe on a shared serving
    // session; the injected runtime Bloom filter over query_id is a
    // no-op by construction and costs one scalar-subquery job per hop)
    val child = org.apache.spark.sql.graftbridge.SessionBridge.scoped(sess, Seq(
      "spark.sql.shuffle.partitions" -> frontierParts,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false"))
    beamDf = org.apache.spark.sql.graftbridge.SessionBridge.rebind(beamDf, child)
    var lastCkpt: DataFrame = beamDf
    var sinceCkpt = 0
    val totalHops = layers.size * hopsPerLayer
    var hopNo = 0
    layers.foreach { g =>
      val edges = g.select(col("node_id"), col("neighbor_id").as("cand"))
      var h = 0
      while (h < hopsPerLayer) {
        val expand = beamDf.select(col("query_id"), col("cand").as("node_id"))
          .join(edges, Seq("node_id"))
          .select("query_id", "cand")
        // one explicit frontier exchange per hop (see knnGraphServe):
        // repartition by query_id; dedup aggregate and window cut
        // both reuse that partitioning instead of re-exchanging
        val next = cut(score(
          beamDf.select("query_id", "cand").union(expand)
            .repartition(col("query_id")).distinct()), beam)
        hopNo += 1
        // never materialize the final hop — the caller consumes it once
        if (sinceCkpt >= 2 && hopNo < totalHops) {
          val materialized = next.localCheckpoint()
          if (lastCkpt != null) unpersistCheckpoint(lastCkpt)
          lastCkpt = materialized
          beamDf = materialized
          sinceCkpt = 0
        } else {
          beamDf = next
          sinceCkpt += 1
        }
        h += 1
      }
    }
    // materialize before releasing the caches: the tail hops are lazy
    // now, so the final tree still runs scoring joins against `vecs`
    val res = beamDf.where(col("cand") =!= col("query_id"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand"))))
      .where(col("__rk") <= k)
      .select(col("query_id"), col("cand").as("neighbor_id"), col("cos"))
      .localCheckpoint()
    vecs.unpersist()
    if (lastCkpt != null) unpersistCheckpoint(lastCkpt)
    org.apache.spark.sql.graftbridge.SessionBridge.rebind(res, sess)
  }

  /** A PERSISTED k-NN graph index — the graph family's counterpart of
    * the composed [[IvfPqIndex]]'s storage leg, so a serving fleet can
    * read the graph instead of depending on one session's memoized
    * DataFrame. Layout under `path`:
    *
    *   edges/part=P/…   — the edge table, hash-partitioned by
    *                      pmod(node_id, parts) and sorted within
    *                      partitions by (node_id, nb_rank) so every
    *                      rewrite is deterministic and untouched
    *                      partitions stay byte-identical across
    *                      append/delete (spec-pinned);
    *   anchors/…        — the LSH anchor table (tb, bkt, id), the
    *                      model-sized seed source that makes
    *                      [[knnGraphAppendPartitioned]] O(batch)
    *                      (see [[knnLshAnchorsOf]]'s top-k algebra).
    *                      Stored at DEPTH 2·anchorsPerBucket
    *                      ([[anchorDepth]]): the top half is the seed
    *                      cut the append algebra recuts at A; the
    *                      bottom half is DELETE SLACK, letting
    *                      [[knnGraphDeleteAnchorRecut]] rebuild the
    *                      post-delete cut from the stored table alone
    *                      unless a bucket's survivors fall below the
    *                      stored depth's guarantee.
    *
    * `k`/`lshBits`/`lshTables`/`anchorsPerBucket` ride in the handle
    * so the lifecycle legs replay the build's exact shape.
    */
  final case class KnnGraphIndex(
      path: String,
      parts: Int,
      k: Int,
      lshBits: Int,
      lshTables: Int,
      anchorsPerBucket: Int,
      layerFactor: Int = 8) {
    def edgesPath: String = s"$path/edges"
    def anchorsPath: String = s"$path/anchors"
    /** The persisted scoring corpus a streaming ingest maintains
      * beside the index ([[knnGraphCorpusInit]]/[[knnGraphIngestBatch]]
      * — one `batch=N` subdir per arrival batch, so retries overwrite
      * idempotently and a reader sees a plain partitioned table).
      */
    def corpusPath: String = s"$path/corpus"
    def layerEdgesPath(level: Int): String = s"$path/layer$level/edges"
    def layerAnchorsPath(level: Int): String = s"$path/layer$level/anchors"
    /** Stored anchor depth: anchorsPerBucket of seed cut + an equal
      * slack band for batch-proportional delete recuts. Invariant
      * maintained by every lifecycle op: each stored (tb, bkt) holds
      * the bucket's first `anchorDepth` members in Knuth-hash order —
      * or the ENTIRE bucket when it has fewer (deducible: stored
      * count < anchorDepth ⇔ complete).
      */
    def anchorDepth: Int = 2 * anchorsPerBucket
    def manifestPath: String = s"$path/manifest.json"
  }

  /** The stored-format version the lifecycle ops require. Version 2 =
    * deep (2A) anchor cuts + layerL/{edges,anchors} layout + this
    * manifest; pre-manifest stores (implicit v1, anchors at depth A)
    * have no manifest file and are rejected loudly — silently
    * recutting a v1 store at the wrong depth would break the
    * stored-anchors == full-corpus-cut invariant the whole append
    * algebra rests on.
    */
  val KnnGraphFormatVersion: Int = 2

  /** Durable descriptor + mutation commit marker of a persisted
    * [[KnnGraphIndex]], written LAST by every lifecycle op (build,
    * layer write, append, delete, refresh): a mutation whose
    * per-table swaps were interrupted leaves the PREVIOUS epoch in
    * place, so readers and retries can detect a half-applied op
    * (epoch unchanged + staging dirs present) instead of trusting a
    * silently mixed corpus state. `baseCount` /
    * `appendedSinceRefresh` / `deletedSinceRefresh` are the
    * refresh-trigger counters: the measured drift rule (recall
    * 0.986→0.904→0.779 at 0/10/30% appended,
    * dev/KnnGraphScaleSmoke) says refresh at 10-20% appended
    * fraction.
    */
  final case class KnnGraphManifest(
      formatVersion: Int,
      anchorDepth: Int,
      parts: Int,
      k: Int,
      lshBits: Int,
      lshTables: Int,
      anchorsPerBucket: Int,
      layerFactor: Int,
      epoch: Long,
      baseCount: Long,
      appendedSinceRefresh: Long,
      deletedSinceRefresh: Long) {
    def appendedFraction: Double =
      if (baseCount <= 0L) 0.0 else appendedSinceRefresh.toDouble / baseCount
  }

  private def manifestOf(index: KnnGraphIndex, epoch: Long, baseCount: Long,
      appended: Long, deleted: Long): KnnGraphManifest =
    KnnGraphManifest(KnnGraphFormatVersion, index.anchorDepth, index.parts,
      index.k, index.lshBits, index.lshTables, index.anchorsPerBucket,
      index.layerFactor, epoch, baseCount, appended, deleted)

  /** Write the manifest (staged tmp + rename — the op's commit
    * point). `at` defaults to the index root; the build writes it
    * inside the staging dir so the whole-index rename publishes
    * manifest and tables together.
    */
  def knnGraphManifestWrite(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      m: KnnGraphManifest,
      atRoot: Option[String] = None): Unit = {
    import org.json4s.JsonDSL._
    val root = atRoot.getOrElse(index.path)
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("formatVersion" -> m.formatVersion) ~ ("anchorDepth" -> m.anchorDepth) ~
          ("parts" -> m.parts) ~ ("k" -> m.k) ~ ("lshBits" -> m.lshBits) ~
          ("lshTables" -> m.lshTables) ~
          ("anchorsPerBucket" -> m.anchorsPerBucket) ~
          ("layerFactor" -> m.layerFactor) ~ ("epoch" -> m.epoch) ~
          ("baseCount" -> m.baseCount) ~
          ("appendedSinceRefresh" -> m.appendedSinceRefresh) ~
          ("deletedSinceRefresh" -> m.deletedSinceRefresh)))
    val dst = new org.apache.hadoop.fs.Path(s"$root/manifest.json")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/.manifest.json.tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"knnGraphManifestWrite: failed to publish $dst")
  }

  def knnGraphManifestRead(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): Option[KnnGraphManifest] = {
    val p = new org.apache.hadoop.fs.Path(index.manifestPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val j = org.json4s.jackson.JsonMethods.parse(txt)
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      Some(j.extract[KnnGraphManifest])
    }
  }

  /** The lifecycle ops' read guard: the stored manifest must exist
    * and agree with the handle's format version, anchor depth, and
    * every structural parameter — a pre-r16 store (anchors at depth
    * A, no manifest) or a handle built with the wrong knobs fails
    * HERE, loudly, instead of silently recutting anchors at the
    * wrong depth downstream.
    */
  def knnGraphRequireCompatible(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): KnnGraphManifest = {
    val m = knnGraphManifestRead(spark, index).getOrElse(throw new IllegalStateException(
      s"KnnGraphIndex at ${index.path} has no manifest.json — a pre-v" +
        s"$KnnGraphFormatVersion store (or a foreign directory); rebuild with " +
        "knnGraphWritePartitioned before mutating"))
    require(m.formatVersion == KnnGraphFormatVersion,
      s"KnnGraphIndex at ${index.path}: stored formatVersion ${m.formatVersion} != " +
        s"supported $KnnGraphFormatVersion")
    require(m.anchorDepth == index.anchorDepth &&
        m.parts == index.parts && m.k == index.k &&
        m.lshBits == index.lshBits && m.lshTables == index.lshTables &&
        m.anchorsPerBucket == index.anchorsPerBucket &&
        m.layerFactor == index.layerFactor,
      s"KnnGraphIndex at ${index.path}: handle parameters " +
        s"(parts=${index.parts}, k=${index.k}, lshBits=${index.lshBits}, " +
        s"lshTables=${index.lshTables}, anchorsPerBucket=${index.anchorsPerBucket}, " +
        s"layerFactor=${index.layerFactor}, anchorDepth=${index.anchorDepth}) " +
        s"disagree with the stored manifest $m")
    m
  }

  /** Write a [[knnGraphBuild]] graph (plus its corpus's anchor table)
    * as a persisted [[KnnGraphIndex]]. The whole index is STAGED to a
    * sibling temp directory and swapped in with one rename
    * ([[ivfPqCompact]]'s discipline) — a failure before the swap
    * leaves any previous index untouched. One file per edge partition
    * (`repartition(part)`), rows sorted by (node_id, nb_rank) inside
    * it, so the same logical graph always produces the same bytes.
    */
  def knnGraphWritePartitioned(
      spark: org.apache.spark.sql.SparkSession,
      graph: DataFrame,
      corpus: DataFrame,
      path: String,
      parts: Int = 8,
      k: Int = 8,
      lshBits: Int = 5,
      lshTables: Int = 3,
      anchorsPerBucket: Int = 32,
      layerFactor: Int = 8): KnnGraphIndex = {
    require(parts > 0, s"parts must be positive, got $parts")
    val idx = KnnGraphIndex(path, parts, k, lshBits, lshTables, anchorsPerBucket,
      layerFactor)
    val tmp = path + ".build.tmp"
    graph.select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))
      .withColumn("part", pmod(col("node_id"), lit(parts.toLong)))
      .repartition(col("part"))
      .sortWithinPartitions("part", "node_id", "nb_rank")
      .write.mode("overwrite").partitionBy("part").parquet(s"$tmp/edges")
    knnLshAnchorsOf(knnLshSignatures(corpus, lshBits, lshTables), idx.anchorDepth)
      .orderBy("tb", "bkt", "id")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/anchors")
    // manifest staged INSIDE tmp — the whole-index rename publishes
    // tables and manifest together (epoch 0, counters zeroed)
    knnGraphManifestWrite(spark, idx,
      manifestOf(idx, epoch = 0L, baseCount = corpus.count(),
        appended = 0L, deleted = 0L), atRoot = Some(tmp))
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hTmp = new org.apache.hadoop.fs.Path(tmp)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hPath, true)
    if (!fs.rename(hTmp, hPath))
      throw new java.io.IOException(
        s"knnGraphWritePartitioned: failed to swap $hTmp into $path")
    idx
  }

  /** The stored edge table of a [[KnnGraphIndex]], in
    * [[knnGraphBuild]]'s schema (the `part` column dropped) — ready
    * for [[knnGraphServe]]/[[knnGraphServeLayered]]; serving from
    * storage equals serving the in-memory graph (q273 pins it with
    * q263's oracle verbatim).
    */
  def knnGraphReadEdges(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): DataFrame =
    spark.read.parquet(index.edgesPath)
      .select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))

  /** Persist a HIERARCHY layer's graph beside a [[KnnGraphIndex]]'s
    * base edges (`path`/layerL/edges/part=P/… plus the layer's OWN
    * deep anchor cut at `path`/layerL/anchors/ — same partitioning,
    * sorting, and staged-swap discipline as the base table) — the
    * storage leg of [[knnGraphServeLayered]], so a serving fleet
    * reads the SHIPPING serve path (hierarchical descent) from disk,
    * not just the flat baseline. The per-layer anchor table is what
    * lets [[knnGraphAppendPartitioned]]/[[knnGraphDeletePartitioned]]
    * maintain the layer batch-proportionally, exactly like the base.
    * Layer L is expected to be the [[knnGraphBuild]] of the
    * [[knnLayerMemberFilter]](L) subsample and `layerCorpus` that
    * subsample's rows; nothing enforces it here — the layered-serve
    * contract queries (q277/q278) pin the end-to-end equality
    * instead.
    */
  def knnGraphWriteLayer(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      level: Int,
      graph: DataFrame,
      layerCorpus: DataFrame): KnnGraphIndex = {
    require(level > 0, s"layer level must be positive, got $level")
    val dst = s"${index.path}/layer$level"
    val tmp = s"${index.path}/.layer$level.tmp"
    graph.select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))
      .withColumn("part", pmod(col("node_id"), lit(index.parts.toLong)))
      .repartition(col("part"))
      .sortWithinPartitions("part", "node_id", "nb_rank")
      .write.mode("overwrite").partitionBy("part").parquet(s"$tmp/edges")
    knnLshAnchorsOf(
        knnLshSignatures(layerCorpus, index.lshBits, index.lshTables),
        index.anchorDepth)
      .orderBy("tb", "bkt", "id")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/anchors")
    val hDst = new org.apache.hadoop.fs.Path(dst)
    val hTmp = new org.apache.hadoop.fs.Path(tmp)
    val fs = hDst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hDst, true)
    if (!fs.rename(hTmp, hDst))
      throw new java.io.IOException(
        s"knnGraphWriteLayer: failed to swap $hTmp into $dst")
    // commit marker: epoch bump AFTER the layer is live
    val m = knnGraphRequireCompatible(spark, index)
    knnGraphManifestWrite(spark, index, m.copy(epoch = m.epoch + 1))
    index
  }

  /** Read back a [[knnGraphWriteLayer]] layer in [[knnGraphBuild]]'s
    * schema — feed `Seq(readLayer(L_max), …, readEdges)` to
    * [[knnGraphServeLayered]] for the stored hierarchical serve.
    */
  def knnGraphReadLayer(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      level: Int): DataFrame =
    spark.read.parquet(index.layerEdgesPath(level))
      .select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))

  /** Serve-tier binary handoff of a [[KnnGraphIndex]]'s edge table —
    * a fixed-width, offset-indexed neighbor-array file per storage
    * partition (`edges_bin/part=P.knng` beside the parquet), the
    * format an mmap-based point-lookup tier consumes without a JVM or
    * a parquet decoder:
    *
    *   magic 'GKNN' (int) · version 1 (int) · nNodes (int)
    *   offset table — nNodes × (node_id: long, firstEdge: long,
    *     nEdges: int), node_ids ascending (binary-searchable)
    *   payload — totalEdges × (neighbor_id: long,
    *     cos: IEEE-754 bits as long), rank order within each node
    *
    * All integers big-endian; ranks are implicit in array order
    * (the stored table's nb_rank is always contiguous 1..deg). The
    * write is staged + renamed like every other index mutation, one
    * file per partition from one task each, and the same logical
    * graph always produces the same bytes (spec-pinned rerun
    * stability; q281 certifies the written bytes against the parquet
    * edges through the read-back oracle).
    */
  def knnGraphWriteBinary(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): Unit =
    writeBinaryEdges(spark, index.edgesPath, index.path)

  /** A hierarchy layer's edges in the same mmap format, at
    * `layer$L/edges_bin/` — with [[knnGraphWriteBinaryEntries]] this
    * puts the SHIPPING serve path (layered descent) fully inside the
    * binary tier: a point-lookup server needs the layer graphs and
    * the entry set, not just the base edges q281 certified.
    */
  def knnGraphWriteBinaryLayer(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      level: Int): Unit =
    writeBinaryEdges(spark, index.layerEdgesPath(level),
      s"${index.path}/layer$level")

  private def writeBinaryEdges(
      spark: org.apache.spark.sql.SparkSession,
      edgesPath: String,
      root: String): Unit = {
    val dst = s"$root/edges_bin"
    val tmp = s"$root/.edges_bin.tmp"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp))
    val tmpStr = tmp
    spark.read.parquet(edgesPath)
      .select(col("part").cast("long").as("part"), col("node_id"),
        col("nb_rank"), col("neighbor_id"), col("cos"))
      .repartition(col("part"))
      .sortWithinPartitions("part", "node_id", "nb_rank")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // a task may own several storage partitions (hash-assigned);
        // rows arrive sorted by (part, node_id, nb_rank), so each
        // part is one contiguous run
        val byPart = scala.collection.mutable.LinkedHashMap
          .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]]
        it.foreach { r =>
          byPart.getOrElseUpdate(r.getLong(0),
            scala.collection.mutable.ArrayBuffer.empty) +=
            ((r.getLong(1), r.getLong(3), r.getDouble(4)))
        }
        val conf = new org.apache.hadoop.conf.Configuration()
        byPart.foreach { case (p, rows) =>
          val nodes = rows.toArray.groupBy(_._1).toArray.sortBy(_._1)
          val totalEdges = rows.length
          // single-ByteBuffer layout: one storage partition must fit a
          // 2 GB file (~134M edges at 16 B/edge + 20 B/node) — fail
          // with the remedy named instead of an opaque allocate error
          val byteSize = 12L + nodes.length * 20L + totalEdges.toLong * 16L
          require(byteSize <= Int.MaxValue,
            s"knnGraphWriteBinary: partition part=$p holds $totalEdges edges " +
              s"($byteSize bytes) — over the 2 GB single-file bound (~134M " +
              "edges); raise the index's `parts` so partitions shrink")
          val buf = java.nio.ByteBuffer.allocate(byteSize.toInt)
          buf.order(java.nio.ByteOrder.BIG_ENDIAN)
          buf.putInt(0x474B4E4E); buf.putInt(1); buf.putInt(nodes.length)
          var first = 0L
          nodes.foreach { case (nid, es) =>
            buf.putLong(nid); buf.putLong(first); buf.putInt(es.length)
            first += es.length
          }
          nodes.foreach { case (_, es) =>
            es.foreach { case (_, nb, cos) =>
              buf.putLong(nb)
              buf.putLong(java.lang.Double.doubleToLongBits(cos))
            }
          }
          val path = new org.apache.hadoop.fs.Path(tmpStr, s"part=$p.knng")
          val out = path.getFileSystem(conf).create(path, true)
          try out.write(buf.array(), 0, buf.position())
          finally out.close()
        }
      }
    val hDst = new org.apache.hadoop.fs.Path(dst)
    fs.delete(hDst, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hDst))
      throw new java.io.IOException(
        s"knnGraphWriteBinary: failed to swap $tmp into $dst")
  }

  /** Parse the [[knnGraphWriteBinary]] files back into
    * [[knnGraphBuild]]'s schema — the certification read for q281
    * (binary bytes must reproduce the parquet edges row-for-row) and
    * a JVM-side reference decoder for the mmap tier's format.
    */
  def knnGraphReadBinary(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): DataFrame =
    readBinaryEdges(spark, index.path)

  /** Parse a layer's [[knnGraphWriteBinaryLayer]] files — the
    * q281-style certification read for the hierarchy tier.
    */
  def knnGraphReadBinaryLayer(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      level: Int): DataFrame =
    readBinaryEdges(spark, s"${index.path}/layer$level")

  private def readBinaryEdges(
      spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$root/edges_bin/*.knng")
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        val buf = java.nio.ByteBuffer.wrap(bytes)
        buf.order(java.nio.ByteOrder.BIG_ENDIAN)
        val magic = buf.getInt()
        require(magic == 0x474B4E4E, f"bad magic 0x$magic%08x")
        val version = buf.getInt()
        require(version == 1, s"unsupported version $version")
        val nNodes = buf.getInt()
        val nodes = Array.fill(nNodes)((buf.getLong(), buf.getLong(), buf.getInt()))
        val edgeBase = 12 + nNodes * 20
        nodes.iterator.flatMap { case (nid, first, count) =>
          (0 until count).iterator.map { r =>
            val off = edgeBase + (first + r).toInt * 16
            val nb = buf.getLong(off)
            val cos = java.lang.Double.longBitsToDouble(buf.getLong(off + 8))
            (nid, (r + 1).toLong, nb, cos)
          }
        }
      }
      .toDF("node_id", "nb_rank", "neighbor_id", "cos")
  }

  /** The layered serve's ENTRY SET — the top persisted layer's node
    * ids — as one mmap-able binary file (`entries_bin/entries.knne`):
    *
    *   magic 'GKNE' (int) · version 1 (int) · nEntries (int)
    *   nEntries × (node_id: long), ascending
    *
    * big-endian like the edge files; ascending ids make the file
    * binary-searchable and its bytes a pure function of the entry
    * set (rerun byte-stable). With the layer edge files this
    * completes the binary tier for the SHIPPING serve path: descend
    * from these entries through layer graphs to the base graph,
    * no JVM or parquet decoder required. Model-sized (the top layer
    * is corpus/factor^L nodes), so it is written driver-side in one
    * staged file.
    */
  def knnGraphWriteBinaryEntries(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): Unit = {
    val levels = knnGraphLayerLevels(spark, index)
    require(levels.nonEmpty,
      s"knnGraphWriteBinaryEntries: no persisted layers under ${index.path} — " +
        "the entry set is the TOP layer's node set")
    val top = levels.head
    val ids = spark.read.parquet(index.layerEdgesPath(top))
      .select(col("node_id")).distinct()
      .orderBy("node_id").collect().map(_.getLong(0))
    val buf = java.nio.ByteBuffer.allocate(12 + ids.length * 8)
    buf.order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.putInt(0x474B4E45); buf.putInt(1); buf.putInt(ids.length)
    ids.foreach(buf.putLong)
    val fs = new org.apache.hadoop.fs.Path(index.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"${index.path}/entries_bin")
    val tmp = new org.apache.hadoop.fs.Path(s"${index.path}/.entries_bin.tmp")
    fs.delete(tmp, true)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(tmp, "entries.knne"), true)
    try out.write(buf.array(), 0, buf.position()) finally out.close()
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"knnGraphWriteBinaryEntries: failed to swap $tmp into $dst")
  }

  /** Reference decoder for [[knnGraphWriteBinaryEntries]] — one
    * (node_id) row per entry, the certification read.
    */
  def knnGraphReadBinaryEntries(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"${index.path}/entries_bin/*.knne")
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        val buf = java.nio.ByteBuffer.wrap(bytes)
        buf.order(java.nio.ByteOrder.BIG_ENDIAN)
        val magic = buf.getInt()
        require(magic == 0x474B4E45, f"bad entries magic 0x$magic%08x")
        val version = buf.getInt()
        require(version == 1, s"unsupported entries version $version")
        val n = buf.getInt()
        (0 until n).map(_ => buf.getLong())
      }
      .toDF("node_id")
  }

  /** Levels of the persisted hierarchy layers present under
    * `index.path`, TOP-FIRST (the order
    * [[knnGraphServeLayered]] consumes) — a deterministic directory
    * listing, so the lifecycle ops discover what they must maintain
    * without any manifest.
    */
  def knnGraphLayerLevels(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(index.path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.matches("layer\\d+") =>
        s.stripPrefix("layer").toInt }
      .sorted.reverse
  }

  /** Append a batch of new vectors to a PERSISTED [[KnnGraphIndex]] —
    * the graph family's [[ivfPqAppend]]: the batch is signed map-only
    * and seeded against the STORED anchor table (never a corpus
    * re-sign — [[knnLshAnchorsOf]]'s top-k algebra recovers the
    * full-corpus anchors from anchors ∪ batch signatures exactly),
    * proposals expand one hop through the stored graph, and ONLY the
    * edge partitions holding proposal-touched or arriving nodes are
    * rewritten, via the staged sibling-temp write + per-partition
    * rename swap ([[ivfPqDelete]]'s discipline). Untouched partitions
    * stay byte-identical (spec-pinned). The anchor table is replaced
    * by the merged cut (staged the same way). The affected-partition
    * set is a touched-bounded driver collect of ≤ `parts` longs.
    *
    * The resulting stored graph equals the in-memory
    * [[knnGraphAppend]] over old ∪ batch (q275 pins it with q268's
    * oracle verbatim). Persisted hierarchy layers
    * ([[knnGraphWriteLayer]]) are maintained SYMMETRICALLY: each
    * layer's member slice of the batch runs the same cycle against
    * the layer's own stored anchors, so the stored layered serve
    * stays live across mutations (q278 pins the appended+deleted
    * layered serve end to end).
    */
  def knnGraphAppendPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      corpus: DataFrame,
      newFilter: Column): KnnGraphIndex = {
    val man = knnGraphRequireCompatible(spark, index)
    val batchCount = corpus.where(newFilter).count()
    if (batchCount == 0L) return index
    // PHASE 1 — stage every table (base + each persisted layer) to
    // its sibling tmp, touching nothing live: a failure here leaves
    // the index bit-identical. Hierarchy symmetry: each layer takes
    // its OWN member slice of the batch through the SAME algebra,
    // against its own stored anchor table — nesting (member(L) ⊂
    // member(L-1)) means a batch node simply appears in every layer
    // up to its level, and a layer whose batch slice is empty is
    // untouched (common: layers thin geometrically). Every staging
    // read sees the PRE-mutation store (each table's cycle reads only
    // its own edges/anchors, so stage order is immaterial).
    val pending =
      stageAppendTable(spark, corpus, newFilter,
        index.edgesPath, index.anchorsPath, index.path + ".append.tmp",
        index.parts, index.k, index.lshBits, index.lshTables,
        index.anchorsPerBucket, index.anchorDepth,
        "knnGraphAppendPartitioned").toSeq ++
      knnGraphLayerLevels(spark, index).flatMap { l =>
        stageAppendTable(spark,
          corpus.where(knnLayerMemberFilter(col("id"), l, index.layerFactor)),
          newFilter,
          index.layerEdgesPath(l), index.layerAnchorsPath(l),
          s"${index.path}.append.layer$l.tmp",
          index.parts, index.k, index.lshBits, index.lshTables,
          index.anchorsPerBucket, index.anchorDepth,
          "knnGraphAppendPartitioned")
      }
    // PHASE 2 — swap everything, then publish the manifest with the
    // bumped epoch LAST (the commit marker: a crash between swaps
    // leaves the old epoch in place, so a reader or retry can detect
    // the half-applied op instead of trusting mixed layer states)
    pending.foreach(swapStagedTable(spark, _))
    invalidateBinaryEntries(spark, index)
    knnGraphManifestWrite(spark, index, man.copy(epoch = man.epoch + 1,
      appendedSinceRefresh = man.appendedSinceRefresh + batchCount))
    index
  }

  /** Mutations drop the root-level entry file with the per-table
    * edges_bin files ([[swapStagedTable]]): a top-layer append or
    * delete changes the entry SET, and a stale entry list pointing at
    * tombstoned nodes breaks the layered descent's first hop.
    */
  private def invalidateBinaryEntries(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${index.path}/entries_bin")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** A fully-staged single-table mutation awaiting its swap: the
    * tmp dir holds the staged edges/anchors, `affectedParts` the
    * edge partitions to move. Staging every table BEFORE any swap is
    * what makes a multi-table (base + layers) lifecycle op safe: the
    * live index is untouched until the all-or-mostly swap phase, and
    * the manifest epoch published after the last swap is the commit
    * marker.
    */
  private final case class PendingSwap(
      tmp: String,
      edgesPath: String,
      anchorsPath: String,
      affectedParts: Array[Long],
      opName: String)

  /** One stored edge table's append cycle — [[knnGraphAppendParts]]
    * against the table's own stored anchors, touched-partition-only
    * staged rewrite, merged deep anchor cut; returns the staged swap
    * (None when the table is untouched). `corpusOfTable` is the
    * universe the table indexes (the full corpus for the base table;
    * the layer's member slice for a hierarchy layer) — the anchor
    * algebra, batch slice, and emptiness gates are all relative to
    * it.
    */
  private def stageAppendTable(
      spark: org.apache.spark.sql.SparkSession,
      corpusOfTable: DataFrame,
      newFilter: Column,
      edgesPath: String,
      anchorsPath: String,
      tmp: String,
      parts: Int,
      k: Int,
      lshBits: Int,
      lshTables: Int,
      anchorsPerBucket: Int,
      anchorDepth: Int,
      opName: String): Option[PendingSwap] = {
    val oldAnchors = spark.read.parquet(anchorsPath)
    val stored = spark.read.parquet(edgesPath)
      .select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))
    val (touched, touchedRows, _) = knnGraphAppendParts(
      stored, corpusOfTable, newFilter, k, lshBits, lshTables,
      anchorsPerBucket, Some(oldAnchors))
    val affectedParts = touched
      .select(pmod(col("node_id"), lit(parts.toLong)).as("part"))
      .distinct().collect().map(_.getLong(0)).sorted
    // the anchor merge is gated on the BATCH being non-empty, not on
    // affectedParts: a non-empty batch can legally produce zero seed
    // proposals (every arriving node lands only in buckets with no
    // other anchor), but its signatures must still enter the stored
    // cut or the pinned invariant (stored anchors == full-corpus cut)
    // silently breaks for every subsequent append. The short-circuit
    // keeps the common case (proposals exist) free of the extra
    // emptiness probe.
    if (affectedParts.isEmpty && corpusOfTable.where(newFilter).isEmpty) None
    else {
      if (affectedParts.nonEmpty) {
        // rows the affected partitions must hold after the append: the
        // touched nodes' merged rows plus the partitions' untouched rows
        // (partition-pruned scan; anti-join against the touched set)
        val storedAff = spark.read.parquet(edgesPath)
          .where(col("part").isin(affectedParts: _*))
          .select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))
        val untouchedAff = storedAff
          .join(touched, Seq("node_id"), "left_anti")
          .where(col("nb_rank") <= k)
        val outRows = untouchedAff.union(touchedRows)
          .withColumn("part", pmod(col("node_id"), lit(parts.toLong)))
        outRows
          .repartition(col("part"))
          .sortWithinPartitions("part", "node_id", "nb_rank")
          .write.mode("overwrite").partitionBy("part").parquet(s"$tmp/edges")
      }
      // merged anchors (exact full-corpus cut) staged beside the edges
      // — distinct defends a non-disjoint batch (e.g. an append retried
      // after a mid-swap failure) from inflating the per-bucket window
      val newSig = knnLshSignatures(
        corpusOfTable.where(newFilter), lshBits, lshTables)
      knnLshAnchorsOf(
          oldAnchors.select(col("tb"), col("bkt"), col("id"))
            .union(newSig.select(col("tb"), col("bkt"), col("id")))
            .distinct(),
          anchorDepth)
        .orderBy("tb", "bkt", "id")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/anchors")
      Some(PendingSwap(tmp, edgesPath, anchorsPath, affectedParts, opName))
    }
  }

  /** The per-partition rename swap shared by the append/delete
    * cycles: affected `part=P` dirs move from the staged sibling into
    * the live table (a partition fully emptied by a delete has no
    * staged dir — its live dir stays deleted), then the staged anchor
    * cut replaces the live one, then the staging root drops. Any
    * serve-tier binary beside the table ([[knnGraphWriteBinary]]'s
    * `edges_bin`) is DELETED here: the mutated parquet is now the
    * truth, and a stale mmap file silently serving pre-mutation
    * neighbors (including tombstoned nodes) is strictly worse than a
    * consumer's loud re-export.
    */
  private def swapStagedTable(
      spark: org.apache.spark.sql.SparkSession,
      pend: PendingSwap): Unit = {
    import pend._
    val fs = new org.apache.hadoop.fs.Path(edgesPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    affectedParts.foreach { p =>
      val dst = new org.apache.hadoop.fs.Path(edgesPath, s"part=$p")
      val src = new org.apache.hadoop.fs.Path(s"$tmp/edges", s"part=$p")
      fs.delete(dst, true)
      if (fs.exists(src) && !fs.rename(src, dst))
        throw new java.io.IOException(s"$opName: failed to swap $src into $dst")
    }
    val anchorsDst = new org.apache.hadoop.fs.Path(anchorsPath)
    val anchorsSrc = new org.apache.hadoop.fs.Path(s"$tmp/anchors")
    fs.delete(anchorsDst, true)
    if (!fs.rename(anchorsSrc, anchorsDst))
      throw new java.io.IOException(
        s"$opName: failed to swap $anchorsSrc into $anchorsDst")
    fs.delete(new org.apache.hadoop.fs.Path(
      edgesPath.stripSuffix("/edges") + "/edges_bin"), true)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** Delete a batch of nodes from a PERSISTED [[KnnGraphIndex]] — the
    * graph family's [[ivfPqDelete]]: tombstoned owners' rows and every
    * edge into them drop, backfill runs restricted to the affected
    * survivors ([[knnGraphDelete]]'s exact semantics), and ONLY the
    * edge partitions holding changed nodes (tombstoned ∪ affected) are
    * rewritten via the staged sibling-temp + per-partition rename
    * swap; untouched partitions stay byte-identical (spec-pinned). A
    * partition fully emptied by the delete has its directory removed.
    *
    * The anchor table recuts from the STORED deep cut
    * ([[knnGraphDeleteAnchorRecut]]): the 2A stored depth means a
    * bucket only re-signs when it was saturated AND lost stored
    * members — so a small delete's anchor maintenance is
    * batch-proportional, never a survivor-corpus signature pass
    * (which this op paid unconditionally before the deep cut).
    *
    * The resulting stored graph equals the in-memory
    * [[knnGraphDelete]] (q276 pins it with q269's oracle verbatim).
    * Persisted hierarchy layers are maintained symmetrically — the
    * tombstones' member slice drops from each layer through the same
    * cycle (see [[knnGraphAppendPartitioned]]).
    */
  def knnGraphDeletePartitioned(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      corpus: DataFrame,
      deleteFilter: Column): KnnGraphIndex = {
    val man = knnGraphRequireCompatible(spark, index)
    // PHASE 1 — stage every table, live index untouched; PHASE 2 —
    // swap all, manifest (bumped epoch) last as the commit marker.
    // Hierarchy symmetry: tombstones drop from every persisted layer
    // they are a member of (the member filter is a deterministic
    // function of id, so the layer slice of the tombstone set is
    // exact); a layer with no member tombstones is untouched. The
    // base table's universe is the whole corpus, so its staged tomb
    // count IS the global count — the manifest counter rides the
    // staging collect instead of paying a standalone corpus-scan job.
    val (basePending, tombCount) =
      stageDeleteTable(spark, corpus, deleteFilter,
        index.edgesPath, index.anchorsPath, index.path + ".delete.tmp",
        index.parts, index.k, index.lshBits, index.lshTables,
        index.anchorDepth, "knnGraphDeletePartitioned")
    if (tombCount == 0L) return index
    val pending = basePending.toSeq ++
      knnGraphLayerLevels(spark, index).flatMap { l =>
        stageDeleteTable(spark,
          corpus.where(knnLayerMemberFilter(col("id"), l, index.layerFactor)),
          deleteFilter,
          index.layerEdgesPath(l), index.layerAnchorsPath(l),
          s"${index.path}.delete.layer$l.tmp",
          index.parts, index.k, index.lshBits, index.lshTables,
          index.anchorDepth, "knnGraphDeletePartitioned")._1
      }
    pending.foreach(swapStagedTable(spark, _))
    invalidateBinaryEntries(spark, index)
    knnGraphManifestWrite(spark, index, man.copy(epoch = man.epoch + 1,
      deletedSinceRefresh = man.deletedSinceRefresh + tombCount))
    index
  }

  /** One stored edge table's delete cycle — [[knnGraphDeleteParts]]
    * over the table's universe, changed-partition-only staged
    * rewrite, batch-proportional anchor recut
    * ([[knnGraphDeleteAnchorRecut]]); returns the staged swap (None
    * when untouched). `corpusOfTable` as in [[stageAppendTable]]. A
    * delete whose tombstone slice misses this table entirely is a
    * no-op (`changed` is empty exactly when no tombstone is in the
    * table's universe, because every tombstone in it is an edge
    * owner). Returns the staged swap plus the table's tombstone
    * count, folded into the affected-partition collect (one
    * broadcast probe of the small tombstone set) so the caller's
    * manifest counter needs no standalone count job.
    */
  private def stageDeleteTable(
      spark: org.apache.spark.sql.SparkSession,
      corpusOfTable: DataFrame,
      deleteFilter: Column,
      edgesPath: String,
      anchorsPath: String,
      tmp: String,
      parts: Int,
      k: Int,
      lshBits: Int,
      lshTables: Int,
      anchorDepth: Int,
      opName: String): (Option[PendingSwap], Long) = {
    val stored = spark.read.parquet(edgesPath)
      .select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))
    val (changed, affectedRows, _) = knnGraphDeleteParts(
      stored, corpusOfTable, deleteFilter, k)
    // changed ⊇ the tombstone set (every tombstone is a changed node),
    // so one stats pass yields both the partitions to rewrite and the
    // tombstone count
    val stats = changed
      .join(broadcast(corpusOfTable.where(deleteFilter)
        .select(col("id").as("node_id")).withColumn("__t", lit(1L))),
        Seq("node_id"), "left")
      .groupBy(pmod(col("node_id"), lit(parts.toLong)).as("part"))
      .agg(sum(coalesce(col("__t"), lit(0L))).as("nt"))
      .collect()
    val affectedParts = stats.map(_.getLong(0)).sorted
    val tombCount = stats.map(_.getLong(1)).sum
    if (affectedParts.isEmpty) (None, tombCount)
    else {
      val storedAff = spark.read.parquet(edgesPath)
        .where(col("part").isin(affectedParts: _*))
        .select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))
      val unaffectedAff = storedAff
        .join(changed, Seq("node_id"), "left_anti")
        .where(col("nb_rank") <= k)
      val outRows = unaffectedAff.union(affectedRows)
        .withColumn("part", pmod(col("node_id"), lit(parts.toLong)))
      outRows
        .repartition(col("part"))
        .sortWithinPartitions("part", "node_id", "nb_rank")
        .write.mode("overwrite").partitionBy("part").parquet(s"$tmp/edges")
      val (newAnchors, _) = knnGraphDeleteAnchorRecut(
        spark.read.parquet(anchorsPath), corpusOfTable, deleteFilter,
        lshBits, lshTables, anchorDepth)
      newAnchors
        .orderBy("tb", "bkt", "id")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/anchors")
      (Some(PendingSwap(tmp, edgesPath, anchorsPath, affectedParts, opName)),
        tombCount)
    }
  }

  /** Initialize the persisted scoring corpus of a streaming ingest
    * ([[KnnGraphIndex.corpusPath]]): the base corpus the index was
    * built over lands as `corpus/batch=0`, once — an already-present
    * corpus table is left untouched (a restarted stream resumes the
    * table it was maintaining, it does not reset it). This table is
    * what bounds a long-running ingest's state: each batch reads the
    * table back (constant-depth plan regardless of how many batches
    * preceded it) instead of stacking a driver-side union per batch.
    */
  def knnGraphCorpusInit(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      baseCorpus: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(index.corpusPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      baseCorpus.select(col("id"), col("vec"))
        .write.mode("overwrite").parquet(s"${index.corpusPath}/batch=0")
  }

  /** The ingest's scoring corpus, read back from the persisted table
    * — every vector the index currently knows (base ∪ all ingested
    * batches), in (id, vec) shape.
    */
  def knnGraphCorpusRead(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex): DataFrame =
    spark.read.parquet(index.corpusPath).select(col("id"), col("vec"))

  /** The corpus ∪ batch frame one ingest batch scores against —
    * split out so the growth contract is testable: its analyzed plan
    * is a parquet read + one union whatever the batch count, never a
    * union chain over every prior batch (the pre-r17 accumulator
    * shape, whose plan depth — and per-batch re-analysis cost — grew
    * linearly with batches ingested).
    */
  def knnGraphIngestScoringCorpus(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      batch: DataFrame): DataFrame =
    knnGraphCorpusRead(spark, index)
      .select(col("id"), col("vec"), lit(false).as("__new"))
      .union(batch.select(col("id"), col("vec"), lit(true).as("__new")))

  /** One streaming-ingest batch against a live [[KnnGraphIndex]]:
    * the batch appends into the stored graph (and any persisted
    * hierarchy layers) through [[knnGraphAppendPartitioned]]'s
    * stored-anchor algebra, scored against the PERSISTED corpus
    * table, then lands in the corpus as `batch=<batchId+1>` — an
    * idempotent overwrite, so a foreachBatch retry after a mid-batch
    * failure converges (the index append tolerates the replayed
    * non-disjoint batch by construction; the corpus dir is simply
    * rewritten). Per-batch cost is batch-proportional index work plus
    * one corpus-table scan; nothing grows with the NUMBER of batches
    * ingested.
    */
  def knnGraphIngestBatch(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      batch: DataFrame,
      batchId: Long): Unit = {
    val b = batch.select(col("id"), col("vec")).localCheckpoint()
    knnGraphAppendPartitioned(
      spark, index, knnGraphIngestScoringCorpus(spark, index, b), col("__new"))
    b.write.mode("overwrite")
      .parquet(s"${index.corpusPath}/batch=${batchId + 1}")
    unpersistCheckpoint(b)
  }

  /** REFRESH a persisted [[KnnGraphIndex]] in place: one
    * [[knnGraphDescentRound]] over each stored table's read-back
    * (base + every hierarchy layer, each against its own member
    * slice of `corpus`), staged-swap written with the same
    * all-tables-staged-then-swapped discipline as append/delete. The
    * drift remedy the lifecycle was missing: appends keep a graph
    * CORRECT (every node present, edges valid) but approximate —
    * recall sags with the appended fraction (measured
    * 0.986→0.904→0.779 at 0/10/30%) — and until now the only remedy
    * was a full rebuild + rewrite. One refresh round re-runs the
    * descent's candidate web over the CURRENT edges, recovering most
    * of the drift at a fraction of rebuild cost (no LSH seeding, no
    * multi-round loop — one scored expansion per table).
    *
    * Anchors are NOT touched: they are a pure function of the
    * member corpus, which a refresh leaves unchanged (they re-stage
    * byte-identically so the swap machinery stays uniform). The
    * manifest commits last with a bumped epoch and RESET drift
    * counters — `baseCount` becomes the current corpus size,
    * appended/deleted zero — so the 10-20%-appended refresh trigger
    * re-arms.
    *
    * `corpus` must be the index's current node universe (id, vec) —
    * e.g. the base corpus with arrivals appended and tombstones
    * dropped, or [[knnGraphCorpusRead]] for an ingest-maintained
    * index.
    */
  def knnGraphRefreshPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      corpus: DataFrame,
      revCap: Int = 32): KnnGraphIndex = {
    val man = knnGraphRequireCompatible(spark, index)
    val allParts = (0L until index.parts.toLong).toArray
    def stageRefresh(edgesPath: String, anchorsPath: String, tmp: String,
        corpusOfTable: DataFrame): PendingSwap = {
      val stored = spark.read.parquet(edgesPath)
        .select(col("node_id"), col("nb_rank"), col("neighbor_id"), col("cos"))
      knnGraphDescentRound(stored, corpusOfTable, index.k, revCap)
        .withColumn("part", pmod(col("node_id"), lit(index.parts.toLong)))
        .repartition(col("part"))
        .sortWithinPartitions("part", "node_id", "nb_rank")
        .write.mode("overwrite").partitionBy("part").parquet(s"$tmp/edges")
      spark.read.parquet(anchorsPath)
        .orderBy("tb", "bkt", "id")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/anchors")
      PendingSwap(tmp, edgesPath, anchorsPath, allParts,
        "knnGraphRefreshPartitioned")
    }
    val pending =
      stageRefresh(index.edgesPath, index.anchorsPath,
        index.path + ".refresh.tmp", corpus) +:
      knnGraphLayerLevels(spark, index).map { l =>
        stageRefresh(index.layerEdgesPath(l), index.layerAnchorsPath(l),
          s"${index.path}.refresh.layer$l.tmp",
          corpus.where(knnLayerMemberFilter(col("id"), l, index.layerFactor)))
      }
    pending.foreach(swapStagedTable(spark, _))
    invalidateBinaryEntries(spark, index)
    knnGraphManifestWrite(spark, index, man.copy(epoch = man.epoch + 1,
      baseCount = corpus.count(),
      appendedSinceRefresh = 0L, deletedSinceRefresh = 0L))
    index
  }

  /** The production refresh TRIGGER: run
    * [[knnGraphRefreshPartitioned]] iff the manifest's appended
    * fraction has reached `threshold` (default 0.10 — the measured
    * drift curve says recall has sagged ~5 points by then and one
    * descent round recovers most of it at ~a tenth of rebuild cost;
    * by 30% a round recovers only a third and a rebuild starts
    * paying for itself). Returns true when a refresh ran. A
    * maintenance job calls this after every append batch — cheap
    * when below threshold (one manifest read, nothing else touched).
    */
  def knnGraphMaybeRefresh(
      spark: org.apache.spark.sql.SparkSession,
      index: KnnGraphIndex,
      corpus: DataFrame,
      threshold: Double = 0.10,
      revCap: Int = 32): Boolean = {
    require(threshold > 0.0, s"threshold must be positive, got $threshold")
    val man = knnGraphRequireCompatible(spark, index)
    if (man.appendedFraction < threshold) false
    else {
      knnGraphRefreshPartitioned(spark, index, corpus, revCap)
      true
    }
  }
}
