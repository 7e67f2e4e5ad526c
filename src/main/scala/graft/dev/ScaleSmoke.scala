package graft.dev

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Scale smoke test: run the near-dup operators over a synthetic
  * corpus two orders of magnitude larger than the sf0.1 documents
  * table (default 200k docs, ~45 tokens each) and print wall times.
  * The corpus is generated distributed (spark.range + hash-derived
  * words — no driver-side data, no files), planted with one near-dup
  * per 20 docs so candidate stages do real work.
  *
  * Usage: runMain graft.dev.ScaleSmoke [nDocs]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 200000L
    val spark = graft.Session.build("local[32]", 32)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"TIME $label: ${(System.nanoTime() - t0) / 1e9}%.1fs"); r
    }
    // base id: near-dups share all but the last few words of their base
    val base = spark.range(nDocs)
      .withColumn("base", when(col("id") % 20 === 1, col("id") - 1).otherwise(col("id")))
    val words = (0 until 45).map { i =>
      // word k of a doc: deterministic hash of (base, k); the last 3
      // words of a near-dup differ from its base
      val seed = when(col("base") =!= col("id") && lit(i) >= 42, col("id")).otherwise(col("base"))
      concat(lit("w"), pmod(xxhash64(seed * 100 + i), lit(5000)))
    }
    val docs = base.select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text")).persist()
    time("corpus materialize")(docs.count())

    val mh = time("minhashNearDups")(
      Dedup.minhashNearDups(docs, col("doc_id"), col("text"), threshold = 0.5).count())
    val sh = time("simhashNearDups")(
      Dedup.simhashNearDups(docs, col("doc_id"), col("text"), maxDist = 3).count())
    val kb = time("keepBest")(
      Dedup.keepBest(docs, col("doc_id"), col("text"), col("doc_id") % 100).count())
    // single giant block (uniform lengths) — worst case for blocking;
    // the hot-shingle cap keeps the shuffle-by-shingle join bounded
    val ng = time("ngramJaccard (capped, 1 block)")(
      Dedup.ngramJaccardNearDups(docs, col("doc_id"), col("text"),
        lit("en"), length(col("text")), threshold = 0.5,
        bucketWidth = 1 << 30, maxShingleFreq = 1000).count())
    val bench = docs.where(col("doc_id") % 1000 === 7)
      .select(col("doc_id"), col("text"))
    val ct = time("contamination")(
      Dedup.contamination(docs, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), minShared = 5L).count())
    val tf = time("tfidfTopTerms")(
      TextAnalysis.tfidfTopTerms(docs, col("doc_id"), col("text")).count())
    val pk = time("packSequences (cap 2048, 64 shards)")(
      TextAnalysis.packSequences(docs, col("doc_id"), col("text"),
        capacity = 2048L, nShards = 64).count())
    val af = time("adaptiveQualityFilter (per-stratum median)")(
      TextAnalysis.adaptiveQualityFilter(
        docs.withColumn("lang", (col("doc_id") % 5).cast("string")),
        col("lang"), length(col("text")), 0.5).count())
    // budget = ~half the corpus tokens, coarse 0..99 score so every
    // shard carries heavy ties — the two-phase prefix at its worst
    val tb = time("selectTokenBudget (half-corpus budget, 64 shards)") {
      val sel = graft.operators.Curation.selectTokenBudget(
        docs, col("doc_id"), col("text"), col("doc_id") % 100,
        budgetTokens = nDocs * 45L / 2, nShards = 64)
      val n = sel.count(); sel.unpersist(); n
    }

    // embedding stage: nDocs 64-dim unit-ish vectors, IVF ANN top-k
    // for a 1k query slice + embedding near-dup over the full corpus
    val vecs = spark.range(nDocs).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("id") * 64 + i), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("vec")).persist()
    time("embeddings materialize")(vecs.count())
    // Bucket-count sizing differs by workload. Near-dup runs all-pairs
    // WITHIN buckets: assignment costs N*B dot products, pairwise
    // ~N^2/B — balanced at B = sqrt(N); a fixed B turns the pairwise
    // stage quadratic as the corpus grows (B=64 at 1M docs =
    // 15.6k-vector buckets = 150s; B=1000 = 54s). ANN serving is the
    // opposite: per-query work is bucketSize = N/B, but every ivfTopK
    // call re-pays the N*B corpus assignment — in production that is a
    // one-time INDEX BUILD amortized over query batches, so the smoke
    // uses a modest B for it rather than charging sqrt(N) assignment
    // to a 1k-query batch.
    val ndBuckets = math.sqrt(nDocs.toDouble).toInt.max(64)
    val annBuckets = 256
    val index = graft.operators.Similarity.ivfIndex(
      vecs.select(col("id"), col("vec")), nBuckets = annBuckets)
    index.assigned.persist()
    time(s"ivf index build (B=$annBuckets)")(index.assigned.count())
    val ann = time("ivfTopK serve (1k queries, indexed)")(
      graft.operators.Similarity.ivfTopKIndexed(
        vecs.where(col("id") < 1000), index, k = 5).count())
    val nd = time(s"embeddingNearDups (B=$ndBuckets)")(
      Dedup.embeddingNearDups(vecs, col("id"), col("vec"),
        threshold = 0.95, nBuckets = ndBuckets).count())
    // diversity selection: 8 farthest-first rounds, each one codegen'd
    // map scan + TakeOrdered(1) — cost is k linear passes, k bounded
    val kc = time("kCenterGreedy (k=8 farthest-first picks)")(
      graft.operators.Clustering.kCenterGreedy(
        vecs, col("id"), col("vec"), k = 8).count())
    require(kc == 8L, s"expected 8 k-center picks, got $kc")

    // IVF recall@10 vs brute-force ground truth on a 100k-vector slice
    // (or the full corpus if smaller): the timing stages above prove
    // the plans scale; this pins what the approximation actually
    // RETURNS. 100 queries, same tie-break (cos desc, id) both paths.
    val recallCorpus = vecs.where(col("id") < 100000L)
    val recallQueries = vecs.where(col("id") >= 1000L && col("id") < 1100L)
    val bfTruth = graft.operators.Similarity
      .bruteForceTopK(recallQueries, recallCorpus, k = 10).persist()
    val bfRows = time("bruteForceTopK ground truth (100 q x 100k corpus)")(bfTruth.count())
    val recallIdx = graft.operators.Similarity.ivfIndex(recallCorpus, nBuckets = annBuckets)
    recallIdx.assigned.persist()
    recallIdx.assigned.count()
    val recalls = Seq(1, 2).map { nProbe =>
      val hits = time(s"ivf recall pass (nProbe=$nProbe)")(
        graft.operators.Similarity.ivfTopKIndexed(recallQueries, recallIdx, k = 10, nProbe)
          .join(bfTruth, Seq("query_id", "neighbor_id"), "left_semi").count())
      val r = hits.toDouble / bfRows
      println(f"RECALL ivf@10 nProbe=$nProbe B=$annBuckets corpus=${100000L.min(nDocs)}: $r%.3f")
      nProbe -> r
    }
    // asof-join skew: ONE key holds half of all events (the bot-user
    // shape). The per-key window serializes that key through a single
    // task; the bucketed variant spreads it over time buckets —
    // measured here side by side on identical inputs
    val nEv = (nDocs * 2).min(2000000L)
    val events = spark.range(nEv).select(
      when(col("id") % 2 === 0, 0L).otherwise(pmod(col("id"), lit(1000L))).as("key"),
      pmod(xxhash64(col("id")), lit(nEv * 10)).as("time"),
      col("id").as("id"),
      (col("id") % 3 === 0).as("is_left")).persist()
    events.count()
    val evL = events.where(col("is_left")).select("key", "time", "id")
    val evR = events.where(!col("is_left")).select("key", "time", "id")
    // agreement check must hash the MATCHED ids, not count rows (both
    // variants emit one row per left row by construction)
    def asofSig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(hash(col("key"), col("id"), col("asof_id")).cast("long")))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val asofPlain = time(s"asofJoin (hot key = 50% of $nEv rows)")(
      asofSig(graft.operators.Relational.asofJoin(evL, evR)))
    val asofBucketed = time("asofJoinBucketed (same input, width=nEv/32)")(
      asofSig(graft.operators.Relational.asofJoinBucketed(evL, evR, (nEv * 10 / 32).max(1L))))
    require(asofPlain == asofBucketed, s"asof variants disagree: $asofPlain vs $asofBucketed")

    // sessionization on the same hot-key distribution: the bucketed
    // variant must agree exactly while bounding the hot key's task at
    // its per-bucket fragment count
    def sessSig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(hash(col("key"), col("session_idx"), col("n_events"),
          col("t_start"), col("t_end")).cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val evAll = evL.unionByName(evR)
    val sessPlain = time(s"sessionize (hot key = 50% of rows)")(
      sessSig(graft.operators.Relational.sessionize(evAll, col("key"), col("time"), gap = 15L)))
    val sessBucketed = time("sessionizeBucketed (same input, width=nEv/32)")(
      sessSig(graft.operators.Relational.sessionizeBucketed(
        evAll, col("key"), col("time"), gap = 15L, bucketWidth = (nEv * 10 / 32).max(1L))))
    require(sessPlain == sessBucketed, s"sessionize variants disagree: $sessPlain vs $sessBucketed")

    // line dedup: break each doc into 9-word lines (non-overlapping
    // regexp groups); near-dups share whole lines with their base, so
    // the first-occurrence pass does real elimination work
    val mdocs = docs.select(col("doc_id"),
      regexp_replace(col("text"),
        "(\\S+ \\S+ \\S+ \\S+ \\S+ \\S+ \\S+ \\S+ \\S+) ", "$1\n").as("text"))
    val ld = time("dedupLines (9-word lines)")(
      Dedup.dedupLines(mdocs, col("doc_id"), col("text"))
        .agg(sum(col("n_lines") - col("n_kept"))).head().getLong(0))
    val bp = time("bpePairCounts (top 50)")(
      TextAnalysis.bpePairCounts(docs, col("text"), topK = 50).count())
    val ds = time("duplicateSpans (k=8, hashed keys)")(
      Dedup.duplicateSpans(docs, col("doc_id"), col("text"), k = 8, hashKeys = true)
        .where(col("n_dup_windows") > 0).count())
    // per-key cap with a monster key (half the corpus): the salted
    // variant bounds any single window task; outputs must be identical
    val keyed = docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, "hot").otherwise(pmod(col("doc_id"), lit(100)).cast("string"))
        .as("source"))
    def capSig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(hash(col("source"), col("doc_id")).cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val capExact = time(s"capPerKey (hot key = 50% of $nDocs)")(
      capSig(graft.operators.Sampling.capPerKey(keyed, col("source"), col("doc_id"), cap = 1000)))
    val capSalted = time("capPerKeySalted (same input, salt=64)")(
      capSig(graft.operators.Sampling.capPerKeySalted(keyed, col("source"), col("doc_id"),
        cap = 1000, salt = 64)))
    require(capExact == capSalted, s"cap variants disagree: $capExact vs $capSalted")
    val qt = time("quantizedTopK (100 queries, int8)")(
      graft.operators.Similarity.quantizedTopK(
        vecs.where(col("id") < 100).select(col("id"), col("vec")),
        vecs.select(col("id"), col("vec")), k = 5).count())

    // bloom decontamination vs the broadcast-join formulation on the
    // same bench set: identical counts required, the bloom path's win
    // is that non-contaminated docs never explode
    val bc = time("bloomContamination (prefilter + exact verify)")(
      Dedup.bloomContamination(docs, col("doc_id"), col("text"),
        bench, col("text"), minShared = 5L).count())
    val ctPerDoc = Dedup.contamination(docs, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text"), minShared = 1L)
      .select("doc_id").distinct().count()
    val bcAll = Dedup.bloomContamination(docs, col("doc_id"), col("text"),
      bench, col("text"), minShared = 1L).count()
    require(bcAll == ctPerDoc, s"bloom path disagrees: $bcAll vs $ctPerDoc")

    // incremental ingest near-dup: 1% batch against the persisted
    // corpus shingle table — the corpus side must stay a map-only scan
    val corpusShingles = Dedup.shingleArrays(
      docs.where(col("doc_id") % 100 =!= 0), col("doc_id"), col("text"), 3)
      .where(size(col("sh")) > 0).persist()
    time("corpus shingle table materialize")(corpusShingles.count())
    val ind = time("incrementalNearDup (1% batch)")(
      Dedup.incrementalNearDup(docs.where(col("doc_id") % 100 === 0),
        col("doc_id"), col("text"), corpusShingles, threshold = 0.5).count())

    // deterministic range shards over token counts: boundary compute is
    // histogram-sized, assignment map-only
    val rs = time("rangeShardManifest (64 shards)")(
      graft.operators.Scale.rangeShardManifest(docs, length(col("text")), 64).count())

    // round-7 operators at volume: URL-keyed dedup (canonicalize +
    // one fp-style shuffle), C4 line filter (map-only), duplicated-
    // span scrub (window-count shuffle, join-back ∝ true dups), OOV
    // rate (broadcast vocabulary probe)
    val urls = docs.select(col("doc_id"),
      concat(lit("HTTPS://Example.COM:443/site/"),
        (col("doc_id") % (nDocs / 4).max(1L)).cast("string"),
        when(col("doc_id") % 4 === 0, lit("?utm_source=feed")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
    val ud = time("urlDedup")(
      Dedup.urlDedup(urls, col("doc_id"), col("url")).count())
    val multiline = docs.select(col("doc_id"),
      concat(col("text"), lit(".\n"), col("text")).as("text"))
    val c4 = time("c4LineFilter (2-line docs, 1 junk line)")(
      TextAnalysis.c4LineFilter(multiline, col("doc_id"), col("text"))
        .agg(sum("n_kept")).head().getLong(0))
    val rd = time("removeDuplicateSpans (k=13, hashed keys)")(
      Dedup.removeDuplicateSpans(docs, col("doc_id"), col("text"), k = 13,
        hashKeys = true)
        .agg(sum("n_removed")).head().getLong(0))
    val ov = time("oovRate (V=1000)")(
      TextAnalysis.oovRate(docs, col("doc_id"), col("text"), vocabSize = 1000)
        .where(col("n_oov") > 0).count())

    // round-8 operators at volume: integer k-means over the full
    // vector corpus (k=16, 3 assignment passes — per-iteration cost is
    // one map pass + a k*d partial-sum exchange), collocation mining
    // (distinct-bigram counts + TakeOrdered), weighted sampling (one
    // stratum exchange), SemDeDup (pairs ∝ planted dups + components)
    val km = time("kmeansFixedPoint (k=16, iters=3, full corpus)")(
      graft.operators.Clustering.kmeansFixedPoint(
        vecs, col("id"), col("vec"), k = 16, iters = 3)
        .groupBy("cluster").count().count())
    val cl = time("collocations (top 100)")(
      TextAnalysis.collocations(docs, col("text"), topK = 100).count())
    val ws = time("weightedSample (100 strata, n=1000)")(
      graft.operators.Sampling.weightedSample(
        docs.withColumn("st", pmod(col("doc_id"), lit(100L))),
        col("doc_id"), length(col("text")), col("st"), n = 1000).count())
    // PQ: train 4x16 codebooks on the full corpus, encode it (64 dims
    // -> 4 ints), serve ADC top-5 — the compressed-corpus serve path
    val pqModel = time("pqTrain (m=4, k=16, iters=2)")(
      graft.operators.Clustering.pqTrain(
        vecs, col("id"), col("vec"), m = 4, k = 16, iters = 2))
    val pqCoded = graft.operators.Clustering.pqEncode(vecs, col("vec"), pqModel)
      .select(col("id"), col("codes")).persist()
    time("pqEncode materialize")(pqCoded.count())
    val pq = time("pqTopK serve (100 queries, ADC)")(
      graft.operators.Clustering.pqTopK(
        vecs.where(col("id") < 100), col("id"), col("vec"),
        pqCoded, col("id"), pqModel, kNN = 5).count())

    // plant one exact-duplicate vector per 20 (the hash-random corpus
    // has no natural cosine near-dups), so the drop path does real work
    val sdVecs = spark.range(nDocs).select(col("id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(
            when(col("id") % 20 === 1, col("id") - 1).otherwise(col("id")) * 64 + i),
          lit(1000)).cast("double") / 500.0 - 1.0).cast("float")).as("vec"))
    val sd = time("semanticDedup (1-in-20 planted dups, threshold=0.95)")(
      Dedup.semanticDedup(sdVecs, col("id"), col("vec"),
        threshold = 0.95, nBuckets = ndBuckets).count())

    // round-9 operators at volume: sampled-frame video near-dup (each
    // video reduces to k*16 bytes inside the decode scan — the payload
    // bytes never shuffle) and CDC chunk dedup (chunks md5'd in the
    // scan stage; planted near-dups share their base's chunks, so the
    // duplicate counting does real work). Video fixture: 8x8x8 GVID
    // twins per (i div 2) with a brightness shift on odd ids; frame
    // planes keyed on a wide seed so hash buckets hold ~2 members
    // (twins), keeping the (frame_idx, hash) join linear in corpus.
    val nVids = (nDocs / 2).max(1000L)
    val vidSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val vidRdd = spark.range(nVids).rdd.map { i0 =>
      val i: Long = i0
      val b = i / 2
      val frames: Array[Array[Byte]] = Array.tabulate(8) { f =>
        val sd = b * (f + 1) % 1000003L
        Array.tabulate(64)(j =>
          (((sd >> (j % 11)) + sd * 31 + j * 7) % 200 + (i % 2) * 10).toByte)
      }
      org.apache.spark.sql.Row(i, graft.multimodal.Multimodal.gvidEncode(8, 8, 5, frames))
    }
    val vidDf = spark.createDataFrame(vidRdd, vidSchema).persist()
    time(s"video corpus materialize ($nVids GVIDs)")(vidDf.count())
    val vn = time(s"videoNearDups (k=4, minMatches=3)")(
      graft.multimodal.Multimodal.videoNearDups(vidDf, k = 4, minMatches = 3).count())
    vidDf.unpersist()
    // round-10: the COMPRESSED container through the same near-dup
    // plan — every sampled frame is a real JPEG decode (k=3 decodes
    // per video, indexed; the stream is never decoded whole)
    val nVidsM = (nDocs / 20).max(500L)
    val mjpgRdd = spark.range(nVidsM).rdd.map { i0 =>
      val i: Long = i0
      val b = i / 2
      val frames: Array[Array[Byte]] = Array.tabulate(4) { f =>
        val sd = b * (f + 1) % 1000003L
        Array.tabulate(256) { j =>
          val x = j % 16; val y = j / 16
          (((sd >> (x % 11)) + sd * 31 + x * 16 + y * 2) % 200).toByte
        }
      }
      org.apache.spark.sql.Row(i, graft.multimodal.Multimodal.mjpgEncode(16, 16, 5, frames))
    }
    val mjpgDf = spark.createDataFrame(mjpgRdd, vidSchema).persist()
    time(s"mjpg corpus materialize ($nVidsM JPEG-frame videos)")(mjpgDf.count())
    val vnM = time("videoNearDups over MJPG (k=3, real JPEG decodes)")(
      graft.multimodal.Multimodal.videoNearDups(mjpgDf, k = 3, minMatches = 3).count())
    require(vnM >= nVidsM / 2 - 1, s"MJPG twins not recovered: $vnM of ${nVidsM / 2}")
    mjpgDf.unpersist()
    val cd = time("cdcDuplicateChunks (w=16, d=32)")(
      TextAnalysis.cdcDuplicateChunks(docs, col("doc_id"), col("text")).count())
    // heavy hitters over a domain ~= corpus size (nDocs/2 cold keys +
    // 20 hot keys with 2.5% of rows each): the k=64 sketch keeps every
    // task at 64 counters where exact groupBy would shuffle nDocs/2
    // distinct keys; certification recomputes exact counts for the
    // top-10 only
    val hhItems = spark.range(nDocs).select(
      when(col("id") % 2 === 0, concat(lit("hot"), expr("id div 2") % 20))
        .otherwise(concat(lit("cold"), col("id"))).as("it"))
    val hh = time("heavyHittersCertify (k=64, domain ~ nDocs/2)")(
      graft.operators.Profiling.heavyHittersCertify(
        hhItems, col("it"), k = 64, topM = 10)
        .where(col("in_sketch") && col("within_bound")).count())
    require(hh == 10L, s"heavy-hitter certification failed at volume: $hh of 10")

    // round-9 batch 2 at volume: retrieval, map-only profiling,
    // layout, selection, the CMS sketch, and archive interchange —
    // every stage is a pure scan, a skinny aggregate, or file IO, so
    // all are expected linear in nDocs
    val bm = time("bm25TopK (3 terms, zero-explode)")(
      graft.operators.Retrieval.bm25TopK(docs, col("doc_id"), col("text"),
        Seq("w1", "w42", "w4999"), topK = 25).count())
    require(bm == 25L, s"bm25 top-k short: $bm of 25")
    // round-10: the batched serve — 8 queries, corpus cost must stay
    // one shared term_freqs scan (compare against 8x the single-query
    // time above to see the batching win)
    val bmb = time("bm25BatchTopK (8 queries, one corpus scan)")(
      graft.operators.Retrieval.bm25BatchTopK(docs, col("doc_id"), col("text"),
        Seq(0L -> Seq("w1", "w42", "w4999"), 1L -> Seq("w7"),
          2L -> Seq("w100", "w200"), 3L -> Seq("w13", "w99", "w500"),
          4L -> Seq("w1000"), 5L -> Seq("w2000", "w3000"),
          6L -> Seq("w123"), 7L -> Seq("w4998", "w4997")), topK = 25).count())
    require(bmb == 8 * 25L, s"batched bm25 short: $bmb of 200")
    val blk = time("blocklistFilter + charProfile (map-only scans)")(
      TextAnalysis.blocklistFilter(docs, col("doc_id"), col("text"),
        Seq("w7", "w13", "w99")).where(col("kept")).count() +
        TextAnalysis.charProfile(docs, col("doc_id"), col("text"))
          .where(col("kept")).count())
    val zo = time("zorderBucketStats (100k x 100k domain)")(
      graft.operators.Scale.zorderBucketStats(
        spark.range(nDocs).select(
          pmod(xxhash64(col("id")), lit(100000L)).as("x"),
          pmod(xxhash64(col("id") + 1), lit(100000L)).as("y")),
        col("x"), col("y"), bucketWidth = 1L << 26).count())
    val iw = time("importanceWeights (V=2000, 1-in-5 target)")(
      graft.operators.Sampling.importanceWeights(docs, col("doc_id"),
        col("text"), col("doc_id") % 5 === 0, vocabSize = 2000).count())
    val cms = time("cmsCertify (d=4, w=8192, domain ~ nDocs/2)")(
      graft.operators.Profiling.cmsCertify(hhItems, col("it"),
        d = 4, w = 8192, topM = 10)
        .where(col("no_undercount") && col("within_bound")).count())
    require(cms == 10L, s"CMS certification failed at volume: $cms of 10")
    val mp = time("multiPatternFilter (6-phrase Aho-Corasick scan)")(
      TextAnalysis.multiPatternFilter(docs, col("doc_id"), col("text"),
        Seq("w1 w2", "w42", "w999 w1000", "w123", "w7 w8 w9", "w4999"),
        maxMatches = 0L).where(col("kept")).count())
    val tr = time("trainBatchPerceptron (B=256, 3 rounds)")(
      graft.operators.Training.trainBatchPerceptron(docs, col("doc_id"),
        col("text"), col("doc_id") % 2 === 0, buckets = 256, iters = 3).count())
    val warcDir = java.nio.file.Files.createTempDirectory("graft_warc_scale").toString
    val wa = time(s"warc write+read roundtrip (${nDocs / 4} docs, 8 shards)")(
      graft.sink.WarcArchive.write(docs.where(col("doc_id") % 4 === 0),
        col("doc_id"), concat(lit("http://x/"), col("doc_id")), col("text"),
        warcDir, nShards = 8).agg(sum("n_records")).head().getLong(0))

    // distributed connected-components path: 2M near-dup pairs forming
    // ~700k 3-node chains — above the 1M driver-union-find threshold,
    // so this exercises the iterative min-label propagation loop
    val pairs = spark.range(2000000L)
      .where(col("id") % 3 =!= 2)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val cc = time("dedupGroups (2M pairs, distributed)")(
      Dedup.dedupGroups(pairs).where(col("id") =!= col("keep_id")).count())

    // round-9 batch 3: training-order permutation (one shuffle +
    // per-shard windows), cross-source overlap (distinct (src,
    // shingle) reduction — the only full-shingle-volume exchange),
    // graph ops (see GraphSmoke for dedicated scaling), triplets
    // (broadcast-scored, corpus never shuffles)
    val sf = time("shuffleShards (64 shards)")(
      graft.operators.Sampling.shuffleShards(docs, col("doc_id"), seed = 7L, nShards = 64)
        .groupBy("shard").agg(max("pos")).count())
    require(sf == 64L, s"expected 64 occupied shards, got $sf")
    val so = time("crossSourceOverlap (5 synthetic sources)")(
      graft.operators.Profiling.crossSourceOverlap(
        docs.withColumn("src", (col("doc_id") % 5).cast("string")),
        col("src"), col("text"), n = 3, hashKeys = true).count())
    require(so == 10L, s"expected 10 source pairs, got $so")
    val tm = time("tripletMining (100 anchors x 200k corpus)")(
      graft.operators.Similarity.tripletMining(
        vecs.where(col("id") < 100)
          .select(col("id"), col("vec"), (col("id") % 10).cast("int").as("label")),
        vecs.where(col("id") < 200000)
          .select(col("id"), col("vec"), (col("id") % 10).cast("int").as("label"))).count())

    println(s"RESULT nDocs=$nDocs minhashPairs=$mh simhashPairs=$sh keepBestGroups=$kb " +
      s"ngramPairs=$ng contaminated=$ct tfidfRows=$tf packed=$pk adaptiveKept=$af " +
      s"budgetSelected=$tb " +
      s"annRows=$ann embNearDups=$nd ccRelabels=$cc linesDropped=$ld bpePairs=$bp " +
      s"dupSpanDocs=$ds capKept=${capExact._1} quantTopK=$qt bloomContaminated=$bc " +
      s"incNearDups=$ind rangeShards=$rs " +
      s"urlGroups=$ud c4Kept=$c4 spanTokensRemoved=$rd oovDocs=$ov " +
      s"kmeansClusters=$km collocations=$cl weightedSampled=$ws semDedupSurvivors=$sd pqTop=$pq " +
      s"videoPairs=$vn mjpgPairs=$vnM cdcDupChunks=$cd hhCertified=$hh " +
      s"bm25Top=$bm bm25BatchTop=$bmb blockCharKept=$blk zorderBuckets=$zo iwDocs=$iw " +
      s"cmsCertified=$cms warcDocs=$wa mpKept=$mp perceptronBuckets=$tr " +
      s"shuffleShards=$sf overlapPairs=$so triplets=$tm " +
      recalls.map { case (p, r) => f"ivfRecall10_probe$p=$r%.3f" }.mkString(" "))
    spark.stop()
  }
}
