package graft.dev

import org.apache.spark.sql.functions._

/** Composed IVF×PQ index at volume: build the persisted
  * bucket-partitioned coded index over N synthetic 64-dim vectors,
  * then serve a query batch two-stage (partition-pruned codes-only
  * ADC scan → exact re-rank) and compare against the brute-force
  * top-k on a query subsample for wall time and true recall.
  *
  * The synthetic corpus is CLUSTERED (vector i orbits center
  * i % nBuckets with a small deterministic offset), so the coarse
  * quantizer is meaningful and the id<nBuckets bootstrap centroids
  * land one per cluster.
  *
  * Usage: runMain graft.dev.IvfPqScaleSmoke [nVectors] [nQueries]
  *
  * Recorded (local[32], 125 GiB box, SPARK_DRIVER_MEM=16g, n=1M,
  * 256 buckets, PQ m=8 k=16, 1000 queries, nProbe=4, rerank=100,
  * kNN=10, 2026-08-15 round 13):
  *   build (train + assign + encode + partitioned write): 18.9s
  *   two-stage serve, 1000 queries:                         6.4s
  *   brute-force top-10, 100 queries:                        7.4s
  *     -> brute per-query 0.074s vs composed 0.006s = ~12x at 1M;
  *        the gap widens linearly with corpus size (brute scans all
  *        N vectors per query; the composed serve scans ~nProbe/256
  *        of the CODE columns only)
  *   recall@10 vs brute force (100 queries): 958/1000 per-mille —
  *   the ADC rerank=100 cut inside ~3.9k-member probed clusters;
  *   nProbe/rerank are the standard knobs to buy the tail back.
  *
  * Residual (IVFADC) twin, same box, round 14, identical
  * (m, k, nProbe, rerank): recall@10 = 1000/1000 vs raw 958/1000
  * (delta +42 per-mille), build 35.3s (residuals persisted across the
  * m per-subspace Lloyd passes), serve 5.4s/1000 queries — on this
  * clustered corpus the residual codebook spends all its centroids on
  * the within-cluster displacement instead of the cluster offsets,
  * which is exactly the published IVFADC claim (Jégou et al. 2011 §V).
  */
object IvfPqScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val nq = if (args.length > 1) args(1).toInt else 1000
    val nBuckets = 256
    val spark = graft.Session.build("local[32]", 32)
    import graft.operators.{Clustering, Similarity}

    // clustered synthetic vectors: center (i % nBuckets) + offset
    val vecs = spark.range(n.toLong).select(col("id"),
      expr(s"""transform(sequence(0, 63), d ->
        CAST(((id % $nBuckets) * 31 + d * 17) % 100 AS DOUBLE)
        + CAST((id * 13 + d * 7) % 5 AS DOUBLE) / 10.0)""").as("vec"))
      .persist()
    vecs.count()
    val cents = vecs.where(col("id") < nBuckets)
      .select(col("id").as("cent_id"), col("vec").as("cent_v"))

    val dir = java.nio.file.Files.createTempDirectory("ivfpq_smoke").toString + "/idx"
    val t0 = System.nanoTime()
    val model = Clustering.pqTrain(vecs, col("id"), col("vec"), m = 8, k = 16, iters = 1)
    val idx = Similarity.ivfPqWritePartitioned(vecs, cents, model, dir)
    println(f"TIME build(train+assign+encode+write, n=$n): ${(System.nanoTime() - t0) / 1e9}%.1fs")

    val queries = vecs.where(col("id") % (n / nq) === 7).limit(nq).persist()
    val nQueries = queries.count()
    val t1 = System.nanoTime()
    val served = Similarity.ivfPqTopK(spark, idx, queries, k = 10, nProbe = 4, rerank = 100)
      .persist()
    val nServed = served.count()
    val serveS = (System.nanoTime() - t1) / 1e9
    println(f"TIME two-stage serve ($nQueries queries, nProbe=4, rerank=100): $serveS%.1fs ($nServed rows)")

    // brute-force ground truth on a subsample for wall + recall
    val qSub = queries.limit(100).persist()
    qSub.count()
    val t2 = System.nanoTime()
    val brute = Similarity.bruteForceTopK(qSub, vecs, k = 10).persist()
    brute.count()
    val bruteS = (System.nanoTime() - t2) / 1e9
    println(f"TIME brute-force top-10 (100 queries): $bruteS%.1fs " +
      f"(per-query ${bruteS / 100}%.3fs vs composed ${serveS / nQueries}%.3fs)")
    val rec = Similarity.topKRecall(brute,
      served.join(qSub.select(col("id").as("query_id")), "query_id"))
      .agg(avg("recall_per_mille")).head().getDouble(0)
    println(f"RESULT n=$n queries=$nQueries recall_at10_vs_brute=$rec%.0f/1000 " +
      f"serve_s=$serveS%.1f brute100_s=$bruteS%.1f")

    // residual (IVFADC) twin at IDENTICAL (m, k, nProbe, rerank): the
    // codebook trains on coarse residuals, vectors store residual
    // codes, the serve LUTs the query's per-bucket residual — the
    // recall delta vs the raw-vector encode above is the measured
    // value of the Jégou-et-al residual trick at volume
    val dirR = java.nio.file.Files.createTempDirectory("ivfpq_smoke_r").toString + "/idx"
    val t3 = System.nanoTime()
    // persist: pqTrain runs one Lloyd per subspace (m passes), and the
    // residual plan (assign + centroid join) would re-execute each time
    val resid = Similarity.ivfResiduals(vecs, cents).persist()
    resid.count()
    val modelR = Clustering.pqTrain(
      resid, col("id"), col("vec"), m = 8, k = 16, iters = 1)
    val idxR = Similarity.ivfPqWritePartitioned(vecs, cents, modelR, dirR,
      residual = true)
    println(f"TIME residual build: ${(System.nanoTime() - t3) / 1e9}%.1fs")
    val t4 = System.nanoTime()
    val servedR = Similarity.ivfPqTopK(spark, idxR, queries, k = 10, nProbe = 4, rerank = 100)
      .persist()
    val nServedR = servedR.count()
    val serveRS = (System.nanoTime() - t4) / 1e9
    println(f"TIME residual two-stage serve ($nQueries queries): $serveRS%.1fs ($nServedR rows)")
    val recR = Similarity.topKRecall(brute,
      servedR.join(qSub.select(col("id").as("query_id")), "query_id"))
      .agg(avg("recall_per_mille")).head().getDouble(0)
    println(f"RESULT residual recall_at10_vs_brute=$recR%.0f/1000 " +
      f"(raw=$rec%.0f, delta=${recR - rec}%+.0f per-mille) serve_s=$serveRS%.1f")
    spark.stop()
  }
}
