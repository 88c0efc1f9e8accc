package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{IVF, PQ, Similarity}

/** Batch ANN at scale: n hash-derived vectors (dim 32) and a 200-query
  * frame through the batch search paths. Evidence that the bucket/probe
  * join shapes hold far beyond the harness embeddings table (~800x
  * sf0.1): LSH scores only same-bucket candidates, IVF only probed lists
  * — the exact path runs at a reduced query count as the honest
  * O(corpus x queries) baseline. At large n, filter to the scale paths,
  * e.g. `Smoke ann 8000000 'nc=256|PQ|IVFADC'`. */
private[tools] object SmokeAnn {
  def run(r: Smoke.Run): Unit = {
    import r._
    val dim = 32
    val nq = 200
    val corpus = spark.range(0, n, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(xxhash64(col("id"), i), lit(997)).cast("double") - 498.0) / 498.0)
          .as("embedding"))
      .persist()
    timed(s"corpus materialize ($n x $dim)")(corpus.count())
    def firstQueries(m: Int) = corpus.filter(col("vec_id") < m)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val queries = firstQueries(nq)
    val q20 = firstQueries(20)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact20 = Similarity.bruteForceKnnBatch(corpus, q20,
      "vec_id", "embedding", "query_id", 10)
    lazy val bruteSet = pairSet(exact20)

    time(s"brute batch (20 queries)")(say(s"brute rows=${exact20.count()}"))
    time(s"LSH batch ($nq queries, 8 planes)")(say("lsh rows=" +
      Similarity.lshKnnBatch(corpus, queries, "vec_id", "embedding",
        "query_id", 10, planes = 8).count()))
    val model = time("IVF train (nc=32, iters=2)")(
      IVF.train(corpus.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
        nc = 32, iters = 2))
    val assigned = time("IVF assign (full corpus)") {
      val a = IVF.assign(corpus, "embedding", model()).persist()
      a.count(); a
    }
    time(s"IVF batch ($nq queries, nprobe=4)")(say("ivf rows=" +
      IVF.searchBatch(assigned(), queries, "vec_id", "embedding", "query_id",
        model(), k = 10, nprobe = 4).count()))

    // the recall@10 readout over the exact top-10 (20-query subset —
    // the brute baseline is the expensive leg): what the approximate
    // paths actually give up at this scale on a structure-free corpus
    def recall(approx: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(approx, exact20, "query_id", "vec_id")
        .agg(avg(col("recall"))).head().getDouble(0)
    val lshRec = time("recall@10 of LSH (8 planes)")(recall(
      Similarity.lshKnnBatch(corpus, q20, "vec_id", "embedding",
        "query_id", 10, planes = 8)))
    time("recall@10 of IVF (nprobe=4)") {
      val ivfRec = recall(IVF.searchBatch(assigned(), q20, "vec_id",
        "embedding", "query_id", model(), k = 10, nprobe = 4))
      say(f"mean recall@10: lsh=${lshRec()}%.3f ivf=$ivfRec%.3f")
    }

    // bucketed index table: probe pruning becomes FILE SKIPPING. The
    // related-query batch (small perturbations of one corpus vector — a
    // topic-coherent retrieval batch) is the workload where it pays: the
    // probe union covers a few lists, and the bucketed path opens only
    // those bucket files while the in-memory path scans the whole corpus
    // into the probe join regardless. (This uniform hash-derived corpus
    // is IVF's worst case — a DIVERSE batch's probe union covers every
    // list, which is what probedLists is for: route such batches to
    // searchBatch instead.)
    lazy val clustered = {
      val c = spark.range(nq)
        .crossJoin(corpus.filter(col("vec_id") === 0).select(col("embedding").as("v")))
        .select(col("id").as("query_id"),
          transform(col("v"), (x, i) =>
            x * (lit(1.0) +
              (pmod(xxhash64(col("id"), i), lit(3)).cast("double") - 1.0) * 0.02))
            .as("qvec"))
        .persist()
      c.count(); c
    }
    val bucketed = time("IVF writeIndex (bucketed by centroid_id, 32 buckets)") {
      IVF.writeIndex(assigned(), "graft_ann_idx", numBuckets = 32)
      say(s"probe union: diverse=" +
        s"${IVF.probedLists(queries, "query_id", model(), 4).length}/32 " +
        s"clustered=${IVF.probedLists(clustered, "query_id", model(), 4).length}/32")
    }
    for (rep <- 1 to 2) {
      val inmem = time(s"IVF batch in-memory (clustered $nq) rep$rep")(
        IVF.searchBatch(assigned(), clustered, "vec_id", "embedding",
          "query_id", model(), k = 10, nprobe = 4).count())
      time(s"IVF batch bucketed (clustered $nq) rep$rep") {
        bucketed()
        val b = IVF.searchBatchBucketed(spark, "graft_ann_idx", clustered,
          "vec_id", "embedding", "query_id", model(), k = 10, nprobe = 4).count()
        if (rep == 2) say(s"ivf clustered rows: inmem=${inmem()} bucketed=$b")
      }
    }
    spark.sql("DROP TABLE IF EXISTS graft_ann_idx")

    // APPENDABLE index: ingest a 2% shard against the persisted centroids —
    // one map-only assign over the shard, the existing index never read —
    // vs the rebuild alternative (re-assign + rewrite the whole corpus)
    val approot = path("ann_app")
    val appendable = time("appendable writeIndex (partitioned)")(
      IVF.writeIndexAppendable(assigned(), approot, model(), "init"))
    val shardN = n / 50
    val shard = spark.range(n, n + shardN, 1, 4)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(xxhash64(col("id"), i, lit(3)), lit(2000)) / 1000.0 - 1.0)
            .cast("float")).as("embedding"))
    val appended = time(s"appendVectors ($shardN shard)") {
      appendable()
      IVF.appendVectors(spark, approot, shard, "vec_id", "embedding", "s1")
    }
    time("vs full rebuild (the alternative)")(
      IVF.writeIndexAppendable(
        IVF.assign(corpus.unionByName(shard), "embedding", model()),
        approot + "_rebuild", model(), "init"))
    time("searchBatch over appended index") {
      appended()
      say("appended-index batch rows=" + IVF.searchBatchAppendable(spark,
        approot, queries, "vec_id", "embedding", "query_id", k = 10,
        nprobe = 4).count())
    }
    // r8: the int8 two-stage path at the exact baseline's query count —
    // the crossed stage carries codes only; recall vs brute measured live
    time("int8 quantized rerank (20 queries, rerank=4)") {
      val got = pairSet(Similarity.knnQuantizedRerank(corpus, q20, "vec_id",
        "embedding", "query_id", k = 10, rerank = 4))
      say(s"int8-rerank recall@10 = " +
        s"${got.intersect(bruteSet).size}/${bruteSet.size}")
    }
    // r8: SemDeDup at a 100k slice with 256 centroids — the pairwise
    // stage is sum(|cluster|^2) ~ (n/k)*n cosines, not n^2
    val sdCorpus = corpus.filter(col("vec_id") < 100000)
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
    val sdCents = sdCorpus.filter(col("vec_id") < 256)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    def removed(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(when(col("kept"), 0).otherwise(1))).head().getLong(0)
    time("SemDeDup (100k vectors, 256 centroids)")(say("semdedup removed=" +
      removed(graft.ops.Dedup.semanticDedup(sdCorpus, "vec_id", "v",
        sdCents, "cid", "cv", 0.95)) + " of 100000"))
    // r9: the giant-cluster hazard, measured — 10k vectors forced into
    // ONE cluster (a single centroid: the degenerate k that every
    // under-clustered corpus approaches) = 5e7 pairwise cosines; the
    // number this prints is what the maxClusterSize guard protects
    // against, and the guard itself is exercised first (count-by-cluster
    // aggregate only, fails fast)
    val giant = sdCorpus.filter(col("vec_id") < 10000)
    val farCents = spark.range(0, 1).select(col("id").as("cid"),
      transform(sequence(lit(1), lit(64)), i => lit(1.0)).as("cv"))
    time("SemDeDup giant cluster (10k in ONE cluster)") {
      val guardT0 = System.nanoTime()
      try {
        graft.ops.Dedup.semanticDedup(giant, "vec_id", "v", farCents,
          "cid", "cv", 0.95, maxClusterSize = 5000L)
        say("ERROR: giant-cluster guard did not trip")
      } catch { case e: IllegalArgumentException =>
        say(f"guard tripped in ${(System.nanoTime() - guardT0) / 1e9}%.2fs: ${e.getMessage.take(60)}...")
      }
      say("giant-cluster removed=" + removed(graft.ops.Dedup.semanticDedup(
        giant, "vec_id", "v", farCents, "cid", "cv", 0.95)) + " of 10000")
    }
    // r9: the retrieval-training and QA additions at the full corpus
    val grouped = corpus.withColumn("grp", pmod(col("vec_id"), lit(16)))
    time(s"embedding health ($n vectors, 16 groups)")(
      Similarity.embeddingHealth(grouped, "grp", "embedding")
        .agg(sum("n_zero"), avg("norm_mean")).head())
    time(s"mean-pool ($n vectors -> 16 centroids)")(
      Similarity.meanPoolVectors(grouped, "grp", "embedding")
        .agg(count(lit(1)), avg("v")).head())
    time("hard negatives (20 queries, 2 positives each)") {
      val hp = q20.select(col("query_id"), col("query_id").as("vec_id"))
        .unionByName(q20.select(col("query_id"),
          (col("query_id") + 7).as("vec_id")))
      Similarity.hardNegatives(corpus, q20, hp, "vec_id",
        "embedding", "query_id", k = 10).count()
    }
    // r10: LARGE-nc phase — train/assign/search at nc=256, the scale the
    // SemDeDup/IVF literature actually runs, only compilable since the
    // NearestCentroidId(s) loop expressions (the unrolled literal argmax
    // aborted Janino's 64KB method limit here and fell back interpreted)
    val model256 = time("IVF train nc=256 (iters=2, 4% sample)")(
      IVF.train(corpus.filter(col("vec_id") % 25 === 0), "vec_id",
        "embedding", nc = 256, iters = 2))
    val assigned256 = time(s"IVF assign nc=256 (full $n corpus, loop expression)") {
      val a = IVF.assign(corpus, "embedding", model256()).persist()
      a.count(); a
    }
    time(s"IVF batch nc=256 ($nq queries, nprobe=8)") {
      IVF.searchBatch(assigned256(), queries, "vec_id", "embedding",
        "query_id", model256(), k = 10, nprobe = 8).count()
      assigned256().unpersist()
    }

    // r10: PQ / IVFADC phase — codes are 8 ints per row (vs 32 floats),
    // ADC scoring is m array reads inside codegen; train on the same 4%
    // sample convention, encode the FULL corpus, then the composed
    // IVFADC path over the nc=32 coarse model. Recall of ADC vs brute
    // measured live on the 20-query subset (PQ is lossy by design — the
    // number quantifies the compression trade at m=8, ks=64).
    val pqModel = time("PQ train (m=8, ks=64, iters=2, 4% sample)")(
      PQ.train(corpus.filter(col("vec_id") % 25 === 0), "vec_id",
        "embedding", m = 8, ks = 64, iters = 2))
    val pqCodes = time(s"PQ encode (full $n corpus)") {
      val c = PQ.encode(assigned(), "embedding", pqModel())
        .select(col("vec_id"), col("centroid_id"), col("pq_code")).persist()
      c.count(); c
    }
    def adc(q: org.apache.spark.sql.DataFrame) = PQ.searchAdc(
      pqCodes().select(col("vec_id"), col("pq_code")), q, "vec_id",
      "query_id", pqModel(), k = 10)
    time(s"ADC batch ($nq queries, full scan)") {
      adc(queries).count()
      val got = pairSet(adc(q20))
      say(s"ADC recall@10 vs brute = " +
        s"${got.intersect(bruteSet).size}/${bruteSet.size}")
    }
    time(s"IVFADC batch ($nq queries, nprobe=4)")(
      PQ.searchIvfAdc(pqCodes(), queries, "vec_id", "query_id", model(),
        pqModel(), k = 10, nprobe = 4).count())
    // partitioned code index: the clustered batch probes a few lists,
    // so the scan opens only those directories of m-int codes — the
    // cheapest retrieval shape in the whole portfolio
    val pqIdx = path("pq_idx")
    val pqIndex = time("PQ writeIndexPartitioned (by centroid_id)")(
      IVF.writeIndexPartitioned(pqCodes(), pqIdx))
    time(s"IVFADC over partitioned codes (clustered $nq, nprobe=4)") {
      pqIndex()
      PQ.searchIvfAdcPartitioned(spark, pqIdx, clustered, "vec_id",
        "query_id", model(), pqModel(), k = 10, nprobe = 4).count()
    }

    // bitext margin mining at corpus-sized SIDES: both sides are n/10
    // vectors, so the exact |S|x|T| cross-score would be (n/10)^2 pairs —
    // the approx path's SRP bucket joins only score same-bucket
    // candidates, the shape that keeps BOTH sides unbounded. The planted
    // copies (tgt = src shifted) give a live correctness readout: every
    // identical pair shares its bucket by construction, so recovery
    // should be total.
    val sideN = n / 10
    time(s"bitext approx ($sideN x $sideN sides, 8 planes)") {
      val bsrc = corpus.filter(col("vec_id") < sideN)
        .select(col("vec_id"), col("embedding"))
      val btgt = bsrc.select((col("vec_id") + 10000000L).as("vec_id"),
        col("embedding"))
      val mined = Similarity.bitextMarginMineApprox(bsrc, btgt, "vec_id",
        "embedding", k = 4, planes = 8)
      val identity = mined
        .filter(col("tgt_id") === col("src_id") + 10000000L).count()
      say(s"bitext mined=${mined.count()} identity=$identity/$sideN")
    }
    // r11 s5: ColBERT MaxSim over token-level vectors — each corpus
    // vector reshaped to 4 token-vectors x 8 dims (4n token rows), one
    // 4-token query on a broadcast. The corpus token scan never
    // shuffles for scoring; the doc-keyed aggregates are the only
    // exchanges — the shape that holds when n is the whole lake.
    time(s"MaxSim top-10 (${n * 4} token rows, 4-tok query)") {
      def toks(c: org.apache.spark.sql.Column) = transform(
        sequence(lit(0), lit(3)), kk => slice(c, kk * 8 + 1, lit(8)))
      val docToks = corpus.select(col("vec_id"),
        explode(toks(col("embedding"))).as("tvec"))
      val qToks = corpus.filter(col("vec_id") === 7)
        .select(posexplode(toks(col("embedding"))).as(Seq("q_tok", "tvec")))
      say("maxsim rows=" + Similarity.maxSimTopK(docToks, qToks, "vec_id",
        "q_tok", "tvec", k = 10).count())
    }
  }
}
