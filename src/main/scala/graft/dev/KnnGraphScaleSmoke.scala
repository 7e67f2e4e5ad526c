package graft.dev

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** LSH-seeded NN-Descent at volume: build the k-NN graph over N
  * synthetic CENTERED clustered 64-dim vectors (sign-bit LSH needs
  * roughly centered data — an all-positive corpus collapses into one
  * bucket), measure build wall time, recall vs brute force on a node
  * sample, and beam-serve latency vs brute-force per query.
  *
  * The anchor-seeding bound is what makes this run at all: the seed
  * is N·anchors·tables edges regardless of bucket fatness, where the
  * within-bucket all-pairs formulation would be quadratic per cluster
  * (256 clusters of N/256 members -> 256·(N/256)² pairs, 155M at
  * N=200k and growing quadratically).
  *
  * Usage: runMain graft.dev.KnnGraphScaleSmoke
  *   [nVectors] [rounds] [topBound] [hopsPerLayer]
  *
  * Recorded (local[32], 125 GiB box, rounds=5, SPARK_DRIVER_MEM=16g,
  * broadcast threshold 512m, partitions ∝ n — 2026-08-16 round 15;
  * r14 figures in parentheses ran the SAME build code with the 10MB
  * default threshold, which planned the scoring joins as sort-merge
  * — two sorted exchanges of vector-laden candidate rows per round,
  * ~76GB at 1M, past page cache into real disk; flipping them to
  * broadcast-hash is worth 2.7-4.9×):
  *   n=200k: build 36.1s (was 97.5s; 1.6M edges), graph recall@8
  *     1539/1600 = 0.962; FLAT serve (beam 24, hops 9, 4 long
  *     edges/node, odd entry stride n/4096) recall@10 0.996;
  *     HIER serve (topBound 4096 → levels 2, top 3125 entries,
  *     hopsPerLayer 4) recall@10 998/1000 = 0.998 in 10.1s
  *   n=500k: build 77.7s (was 225.3s — 2.15× for 2.5× data,
  *     SUB-linear), graph recall@8 0.977; FLAT serve 0.801;
  *     HIER serve (levels 3, top 976) 984/1000 = 0.984
  *   n=1M: build 207.4s (was 803.4s — 2.67× for the last doubling;
  *     the residue past 2× is page-cache/GC territory, not a plan
  *     change: every remaining exchange is skinny pairs), graph
  *     recall@8 0.974; FLAT serve 0.714 — the entry-density coupling
  *     unchanged from r14 and kept as the baseline the hierarchy is
  *     measured against; HIER serve (levels 3, top 1956) 986/1000 =
  *     0.986 in 16-42s, FASTER than the flat serve (37.7s) and than
  *     brute (28.6s) at 1M.
  *   HEADLINE: hier serve recall is FLAT at scale — 0.998 / 0.984 /
  *     0.986 at 200k/500k/1M with a topBound-ed (corpus-independent)
  *     entry set, vs the flat serve's 0.996 → 0.801 → 0.714 decay.
  *     The r14 `weak` (entry stage linear in corpus, recall decaying
  *     with extent) is closed by measurement, not argument.
  *   Marginal descent round (r16, eager per-round checkpoint
  *     unpersist landed — same-day interleaved ladder, 2026-08-16):
  *     500k: r1 40.9s, r5 95.2s (mean of 98.8/91.5) → marginal
  *     13.6s/round; 1M: r1 94.3s, r5 210.6s → marginal 29.1s/round =
  *     2.14× per doubling — the r15 `weak` (3.2×: 10.4s→33.6s) is
  *     closed by dropping each round's dead cache blocks as the next
  *     round materializes. On the same host-day the OLD code measured
  *     241.5s at 500k×r5 vs the new 95.2s (the r15-recorded 77.7s was
  *     a faster host-day; the ratio, not the absolute, is the claim).
  *     Recall is bit-unchanged (graph 0.974, hier serve 0.986 at 1M).
  *     Two measured DEAD ENDS, recorded so nobody re-digs them:
  *     (1) a broadcast-once mapPartitions scoring kernel (fix for the
  *     two per-round exchange-broadcast rebuilds — BroadcastExchange=2
  *     ReusedExchange=0 even after AQE, dev/BuildPlanProbe) was
  *     SLOWER than the codegen'd broadcast-hash joins at 500k
  *     (105.8s vs 95.2s; Dataset-encoding + binary-search overhead
  *     exceeds the rebuild cost); (2) a per-round System.gc() to
  *     hurry the ContextCleaner cost ~50%: 147.9/149.1s vs
  *     98.8/91.5s interleaved at 500k×r5.
  *   Append-fraction sweep (r16, the lifecycle's recall consequence —
  *     10%/30% of the corpus arrives POST-build via the same
  *     per-layer knnGraphAppend algebra the partitioned lifecycle
  *     persists, truth recomputed over the grown corpus):
  *       200k base: hier recall@10 0.998 (0%) → 0.942 (10%) → 0.824 (30%)
  *       1M base:   hier recall@10 0.986 (0%) → 0.904 (10%) → 0.779 (30%)
  *     — the drift is SCALE-STABLE (~5-6 pts at 10% appended, ~17-21
  *     at 30%), i.e. a property of the append algebra (seed + one
  *     expansion, no full descent by design), not of corpus size.
  *     The measured rule of thumb is a rebuild (or a descent-round
  *     refresh) around 10-20% appended fraction, and q272's contract
  *     gate holds the SERVED floor.
  *   Refresh leg (r17 — knnGraphDescentRound per layer over the
  *     MUTATED graphs, what knnGraphRefreshPartitioned persists;
  *     200k base, rounds=5, same day as the drift points above):
  *       10% appended: 0.942 → 0.972 refreshed — 54%% of the drift
  *         recovered in 6.1s vs the 59s rebuild floor (35.0s base
  *         build + 24.1s layer builds) ≈ 10%% of rebuild cost;
  *       30% appended: 0.824 → 0.888 — 37%% recovered in 7.9s.
  *     So at the 10-20%% trigger the refresh IS the remedy (most of
  *     the drift back for a tenth of the rebuild); past ~30%% one
  *     round recovers only a third and the rebuild starts paying for
  *     itself — the manifest's appendedSinceRefresh counter is what
  *     lets an operator act at the right point.
  *   In THIS single-box Spark-job harness each hop pays job latency,
  *   so sub-second point lookups need an external serving tier
  *   reading the same (now persisted, q273) graph — the claim the
  *   numbers support is recall and the candidate-count bound.
  * Two measured traps this smoke exists to document: (1) an EVEN
  * entry stride shares a factor with the power-of-two cluster count
  * and strands most clusters entry-less (gcd(48,256)=16 left 240/256
  * clusters uncovered; serve recall 0.70 -> 0.996 on switching to an
  * odd stride); (2) exact twin clusters (centers repeating under a
  * small modulus) give every node cos=1.0 duplicates that consume all
  * graph-edge slots and collapse traversal degree to ~3.
  */
object KnnGraphScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 200000
    val rounds = if (args.length > 1) args(1).toInt else 2
    val nClusters = 256
    val (k, cap, bits, tables, anchors) = (8, 16, 8, 2, 16)
    // spill-aware partitioning: each descent round shuffles
    // ~n·(cap + cap²) candidate pairs and the scoring join carries a
    // 64-float vector per side, so a FIXED 32 partitions puts
    // multi-GB sort buffers per task at n=1M and the build goes
    // super-linear on spill (measured r14: 225s at 500k but 803s at
    // 1M). Scaling partitions with n keeps per-task sort volume flat
    // — on a real cluster AQE does this re-plan at runtime.
    val parts = math.max(32, n / 4000)
    // broadcast threshold sized to the box, not the 10MB default: the
    // descent's scoring joins attach a 264B vector to each of the
    // n·(cap+cap²) candidate rows, and under the default threshold
    // Spark plans them as sort-merge joins — two sorted exchanges of
    // ~76GB per round at n=1M, past page cache and into real disk
    // (the measured super-linear wall: 330s at 500k → 1015s at 1M on
    // r15's first pass). The (id, vec, norm) projection is ~280MB at
    // 1M — comfortably broadcastable — so raising the threshold flips
    // both scoring joins to broadcast-hash and the candidate table
    // never rides a sorted exchange with vectors aboard. On a real
    // cluster the same knob (or an explicit broadcast hint at the
    // call site) is sized per executor memory; past broadcastable
    // corpus sizes, shuffled-hash join (spark.sql.join
    // .preferSortMergeJoin=false) keeps the no-sort property.
    // (a spark.* system property lands in the SparkConf, so every
    // session on the context, scoped children included, inherits it)
    System.setProperty("spark.sql.autoBroadcastJoinThreshold", (512L * 1024 * 1024).toString)
    val spark = graft.Session.build("local[32]", parts)
    println(s"PARTS shuffle partitions: $parts (broadcast threshold 512m)")

    // centered clustered corpus with a SMOOTH within-cluster manifold:
    // cluster center (id % nClusters) sets integer dim values in
    // [-50, 50); the displacement varies sinusoidally with the node's
    // position inside its cluster, so similarity decays smoothly with
    // position distance — the local structure NN-Descent's
    // "neighbor-of-neighbor" assumption needs (real embeddings are
    // manifolds; with pure white jitter there is no gradient to climb
    // and ANY graph method degenerates to random sampling)
    // two-frequency displacement: the fast term separates ADJACENT
    // positions well above the 6-digit cosine rounding (single-digit
    // position ties would make brute-force "truth" an arbitrary
    // smallest-id pick no serve could be expected to match), the slow
    // term disambiguates fast-phase wraps
    // center multiplier 37 is coprime to the 256 modulus, so all 256
    // cluster centers are DISTINCT (a smaller modulus would mint exact
    // twin clusters: every node gets cos=1.0 duplicates that eat all
    // its graph-edge slots and collapse traversal degree); verified
    // cross-cluster max cos 0.915 vs within-cluster neighbors 0.999+
    val vecs = spark.range(n.toLong).select(col("id"),
      expr(s"""transform(sequence(0, 63), d ->
        CAST(((id % $nClusters) * 37 + d * 17) % $nClusters - 128 AS FLOAT)
        + CAST(20.0 * sin(CAST(id DIV $nClusters AS DOUBLE) * 0.2 + CAST(d AS DOUBLE) * 0.7) AS FLOAT)
        + CAST(6.0 * sin(CAST(id DIV $nClusters AS DOUBLE) * 0.013 + CAST(d AS DOUBLE) * 1.3) AS FLOAT))""").as("vec"))
      .persist()
    vecs.count()

    val t0 = System.nanoTime()
    val g = Similarity.knnGraphBuild(vecs, k = k, rounds = rounds, revCap = cap,
      lshBits = bits, lshTables = tables, anchorsPerBucket = anchors).persist()
    val edges = g.count()
    println(f"TIME build (n=$n k=$k rounds=$rounds cap=$cap lsh=${bits}x$tables anchors=$anchors): " +
      f"${(System.nanoTime() - t0) / 1e9}%.1fs ($edges edges)")

    // recall vs brute force on a 200-node sample
    val sample = vecs.where(col("id") % (n / 200) === 3).limit(200).persist()
    sample.count()
    val t1 = System.nanoTime()
    val truth = Similarity.bruteForceTopK(sample, vecs, k = k).persist()
    truth.count()
    val bruteS = (System.nanoTime() - t1) / 1e9
    val rec = Similarity.topKRecall(truth,
        g.select(col("node_id").as("query_id"), col("neighbor_id")))
      .agg(sum("n_hit").as("h"), sum("n_truth").as("t")).collect()(0)
    println(f"RECALL@$k vs brute (200 nodes): ${rec.getLong(0)}/${rec.getLong(1)} " +
      f"= ${rec.getLong(0).toDouble / rec.getLong(1)}%.3f (brute truth pass: $bruteS%.1fs)")

    // beam serve vs brute for 100 out-of-sample queries. The serve
    // graph is knn-graph ∪ a few long-range LSH anchor edges per node
    // (the navigable-small-world trick): pure k-NN edges are all
    // short-range, so the beam could never traverse from an entry
    // point to a far neighborhood — long edges jump, short edges
    // refine.
    val longEdges = Similarity.knnLshSeedEdges(vecs, lshBits = bits,
      lshTables = tables, anchorsPerBucket = 4)
      .select(col("i").as("node_id"), col("j").as("neighbor_id"))
    val serveGraph = g.select("node_id", "neighbor_id").union(longEdges).persist()
    serveGraph.count()
    val queries = vecs.where(col("id") % (n / 100) === 11).limit(100).persist()
    val nq = queries.count()
    val t2 = System.nanoTime()
    // flat-graph entry density must scale with cluster extent: the
    // beam reaches ~hops·(typical edge span) positions from its entry,
    // so entries/cluster ~ clusterSize / hop-reach (a hierarchy à la
    // HNSW would decouple this; the flat graph buys it with entries).
    // Stride is forced ODD: an even stride shares a factor with the
    // power-of-two cluster count and strands entire clusters without
    // any entry (measured: gcd(48,256)=16 left 240/256 clusters
    // entry-less and serve recall fell from 0.86 to 0.70)
    val served = Similarity.knnGraphServe(queries, serveGraph, vecs,
      k = 10, beam = 24, hops = 9, entryStride = ((n / 4096) | 1).toLong)
    val servedRows = served.count()
    val serveS = (System.nanoTime() - t2) / 1e9
    val t3 = System.nanoTime()
    Similarity.bruteForceTopK(queries, vecs, k = 10).count()
    val bq = (System.nanoTime() - t3) / 1e9
    println(f"TIME beam serve ($nq queries, beam=24, hops=9, +long edges): $serveS%.1fs ($servedRows rows, " +
      f"per-query ${serveS / nq}%.4fs) vs brute $bq%.1fs (per-query ${bq / nq}%.4fs)")
    // serve quality: do the beam answers match brute truth?
    val truthQ = Similarity.bruteForceTopK(queries, vecs, k = 10)
    val recQ = Similarity.topKRecall(truthQ,
        served.select(col("query_id"), col("neighbor_id")))
      .agg(sum("n_hit").as("h"), sum("n_truth").as("t")).collect()(0)
    println(f"SERVE recall@10 (100 queries): ${recQ.getLong(0)}/${recQ.getLong(1)} " +
      f"= ${recQ.getLong(0).toDouble / recQ.getLong(1)}%.3f")

    // ---- hierarchical (HNSW-layer) serve: the entry-coupling fix ----
    // levels grow with log(n) so the top layer lands in (64, 512]
    // nodes — entry cost is then corpus-INDEPENDENT by construction,
    // where the flat serve above needs entries ∝ n/4096 and its
    // recall still decays with cluster extent (0.996→0.801→0.714 at
    // 200k/500k/1M, the r14 measurement this section exists to fix).
    // the top-layer size bound is a CLUSTER-COVERAGE knob, not a
    // latency knob: the descent can only find a cluster the beam can
    // reach, and a top layer much smaller than the corpus's cluster
    // count strands queries whose cluster has no top member
    // (measured: top=392 over 256 clusters → 0.878; top=3125 → see
    // header). The bound stays corpus-INDEPENDENT — levels grow with
    // log(n) so top ∈ (topBound/8, topBound] regardless of n.
    val topBound = if (args.length > 2) args(2).toInt else 4096
    val hopsPerLayer = if (args.length > 3) args(3).toInt else 4
    val layerFactor = 8
    val levels = Iterator.iterate(0)(_ + 1)
      .dropWhile(l => n.toDouble / math.pow(layerFactor.toDouble, l.toDouble) > topBound)
      .next()
    // each layer serves over its k-NN graph ∪ its OWN LSH anchor long
    // edges (q267's navigable-small-world fix, applied per layer): a
    // beam descending into a layer may sit in a neighboring cluster,
    // and pure k-NN edges are all short-range — the long edges are
    // what lets it JUMP to the right cluster before refining. Without
    // them, clusters unrepresented in the sparse top layer stay
    // unreachable (measured: 0.878 plain vs with long edges below).
    val tH0 = System.nanoTime()
    def nswGraph(members: org.apache.spark.sql.DataFrame,
        graph: org.apache.spark.sql.DataFrame) =
      graph.select("node_id", "neighbor_id").union(
        Similarity.knnLshSeedEdges(members, lshBits = bits, lshTables = tables,
          anchorsPerBucket = 4)
          .select(col("i").as("node_id"), col("j").as("neighbor_id")))
    val upperPlain = (levels to 1 by -1).map { l =>
      val members = vecs.where(Similarity.knnLayerMemberFilter(col("id"), l, layerFactor))
      val lg = Similarity.knnGraphBuild(
        members, k = k, rounds = rounds, revCap = cap,
        lshBits = bits, lshTables = tables, anchorsPerBucket = anchors).persist()
      lg.count()
      (l, members, lg)
    }
    val upperLayers = upperPlain.map { case (_, members, lg) =>
      val nsw = nswGraph(members, lg).persist()
      nsw.count()
      nsw
    }
    val layerBuildS = (System.nanoTime() - tH0) / 1e9
    val layers = upperLayers :+ serveGraph
    val topEntries = layers.head.select("node_id").distinct().count()
    println(f"TIME layer builds (levels=$levels factor=$layerFactor top=$topEntries entries): " +
      f"$layerBuildS%.1fs (vs base build — upper layers are Σ n/8^L nodes)")
    val tH1 = System.nanoTime()
    val servedH = Similarity.knnGraphServeLayered(queries, layers, vecs,
      k = 10, beam = 24, hopsPerLayer = hopsPerLayer)
    val servedHRows = servedH.count()
    val serveHS = (System.nanoTime() - tH1) / 1e9
    val recH = Similarity.topKRecall(truthQ,
        servedH.select(col("query_id"), col("neighbor_id")))
      .agg(sum("n_hit").as("h"), sum("n_truth").as("t")).collect()(0)
    println(f"HIER serve recall@10 ($nq queries, beam=24, hopsPerLayer=$hopsPerLayer, " +
      f"${levels + 1} layers): ${recH.getLong(0)}/${recH.getLong(1)} " +
      f"= ${recH.getLong(0).toDouble / recH.getLong(1)}%.3f " +
      f"($serveHS%.1fs, $servedHRows rows, entry set $topEntries — corpus-independent)")

    // ---- appended-fraction sweep: does hierarchical recall HOLD on a
    // MUTATED graph? ---- r16's layer-maintenance lifecycle keeps the
    // stored layers current through appends; this measures the recall
    // consequence: 10% / 30% of the corpus arrives POST-build through
    // knnGraphAppend (per layer, member slice — exactly the algebra
    // knnGraphAppendPartitioned persists), and the layered serve +
    // brute truth re-run over the grown corpus. The append path is
    // approximate by design (seed + one expansion, no full descent),
    // so this is the measured answer to "how much recall does an
    // append-heavy index drift before a rebuild pays for itself".
    Seq(0.1, 0.3).foreach { frac =>
      val nNew = (n * frac).toInt
      val extra = spark.range(n.toLong, (n + nNew).toLong).select(col("id"),
        expr(s"""transform(sequence(0, 63), d ->
          CAST(((id % $nClusters) * 37 + d * 17) % $nClusters - 128 AS FLOAT)
          + CAST(20.0 * sin(CAST(id DIV $nClusters AS DOUBLE) * 0.2 + CAST(d AS DOUBLE) * 0.7) AS FLOAT)
          + CAST(6.0 * sin(CAST(id DIV $nClusters AS DOUBLE) * 0.013 + CAST(d AS DOUBLE) * 1.3) AS FLOAT))""").as("vec"))
      val full = vecs.union(extra).persist()
      full.count()
      val tA0 = System.nanoTime()
      // append each layer's member slice into its graph (layer 0 = all)
      val grownKnn = (levels to 0 by -1).map { l =>
        val memberL = Similarity.knnLayerMemberFilter(col("id"), l, layerFactor)
        val baseG = if (l == 0) g
          else upperPlain.collectFirst { case (`l`, _, lg) => lg }.get
        Similarity.knnGraphAppend(
          baseG, full.where(memberL), col("id") >= n,
          k = k, lshBits = bits, lshTables = tables, anchorsPerBucket = anchors)
          .localCheckpoint()
      }
      val appendS = (System.nanoTime() - tA0) / 1e9
      val grownLayers = grownKnn.zipWithIndex.map { case (lg, idx0) =>
        val l = levels - idx0
        val memberL = Similarity.knnLayerMemberFilter(col("id"), l, layerFactor)
        nswGraph(full.where(memberL), lg)
      }
      val tA1 = System.nanoTime()
      val servedA = Similarity.knnGraphServeLayered(queries, grownLayers, full,
        k = 10, beam = 24, hopsPerLayer = hopsPerLayer)
      servedA.count()
      val serveAS = (System.nanoTime() - tA1) / 1e9
      val truthA = Similarity.bruteForceTopK(queries, full, k = 10)
      val recA = Similarity.topKRecall(truthA,
          servedA.select(col("query_id"), col("neighbor_id")))
        .agg(sum("n_hit").as("h"), sum("n_truth").as("t")).collect()(0)
      println(f"HIER serve recall@10 AFTER ${(frac * 100).toInt}%% append " +
        f"(corpus ${n + nNew}, truth recomputed over grown corpus): " +
        f"${recA.getLong(0)}/${recA.getLong(1)} " +
        f"= ${recA.getLong(0).toDouble / recA.getLong(1)}%.3f " +
        f"(appends $appendS%.1fs, serve $serveAS%.1fs)")
      // ---- REFRESH: one knnGraphDescentRound per layer over the
      // MUTATED graphs (exactly what knnGraphRefreshPartitioned runs
      // against the stored tables) — the drift remedy, measured:
      // recall recovered vs the drifted serve above, wall cost vs the
      // from-scratch build (the only pre-r17 remedy). The refresh is
      // one scored expansion per layer — no LSH seeding, no
      // multi-round loop — so its cost sits well under one build.
      val tR0 = System.nanoTime()
      val refreshedKnn = grownKnn.zipWithIndex.map { case (lg, idx0) =>
        val l = levels - idx0
        val memberL = Similarity.knnLayerMemberFilter(col("id"), l, layerFactor)
        Similarity.knnGraphDescentRound(lg, full.where(memberL),
          k = k, revCap = cap).localCheckpoint()
      }
      val refreshS = (System.nanoTime() - tR0) / 1e9
      val refreshedLayers = refreshedKnn.zipWithIndex.map { case (lg, idx0) =>
        val l = levels - idx0
        val memberL = Similarity.knnLayerMemberFilter(col("id"), l, layerFactor)
        nswGraph(full.where(memberL), lg)
      }
      val servedR = Similarity.knnGraphServeLayered(queries, refreshedLayers, full,
        k = 10, beam = 24, hopsPerLayer = hopsPerLayer)
      val recR = Similarity.topKRecall(truthA,
          servedR.select(col("query_id"), col("neighbor_id")))
        .agg(sum("n_hit").as("h"), sum("n_truth").as("t")).collect()(0)
      println(f"HIER serve recall@10 AFTER ${(frac * 100).toInt}%% append + REFRESH " +
        f"(one descent round/layer): ${recR.getLong(0)}/${recR.getLong(1)} " +
        f"= ${recR.getLong(0).toDouble / recR.getLong(1)}%.3f " +
        f"(refresh $refreshS%.1fs vs base build above — the rebuild lower bound)")
      full.unpersist()
    }
    spark.stop()
  }
}
