package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, SemDedupStore}
import graft.queries.ParityQueries
import graft.transform.TransactionTransform

/** The small [[Smoke]] suites. */
private[tools] object SmokeSuites {

  /** 100x-the-bench scale probe: n synthetic events (hash-derived, fully
    * distributed generation via spark.range — no driver-side rows) over
    * 100k users, through the flagship transform chain and the heavy
    * window/agg path. Evidence that the plan shape (single account_id
    * exchange, broadcast stats, partial aggs) holds when data outgrows a
    * single partition's memory. */
  def etl(r: Smoke.Run): Unit = {
    import r._
    val events = spark.range(0, n, 1, 32)
      .select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          pmod(xxhash64(col("id"), lit(1)), lit(2592000000000L))).as("ts"),
        pmod(xxhash64(col("id"), lit(2)), lit(100000L)).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"),
          lit("signup"), lit("error")),
          (pmod(xxhash64(col("id"), lit(3)), lit(5)) + 1).cast("int")).as("event_type"),
        round(pmod(xxhash64(col("id"), lit(4)), lit(50000)) / lit(100.0), 2).as("value"),
        lit("{}").as("props"))
    timed(s"generate+count $n rows")(events.count())
    val out = TransactionTransform.all(ParityQueries.eventsAsTransactions(events))
    time("flagship pipeline (2 windows+agg+join)")(
      say(s"pipeline rows=${out.count()}"))
    time("fraud aggregation")(say("fraud breakdown=" +
      out.groupBy("potential_fraud").count().collect().mkString(", ")))
    time("top-100 accounts by 30d spend")(say("top rows=" +
      out.groupBy("account_id").agg(max("total_spend_30d").as("peak"))
        .orderBy(col("peak").desc).limit(100).count()))
  }

  /** PageRank at iteration-loop scale: a formula graph (3 coprime-stride
    * out-edges per node) large enough that the per-round join+aggregate
    * dominates — evidence the Pregel-lite loop holds when edges stop
    * fitting a single task. */
  def graph(r: Smoke.Run): Unit = {
    import r._
    val nodes = spark.range(0, n, 1, 32).select(col("id").as("src"))
    val edges = Seq((7, 3), (13, 5), (31, 11)).map { case (m, c) =>
      nodes.select(col("src"), ((col("src") * m + c) % n).as("dst"))
    }.reduce(_ unionByName _)
    def pageRank(iters: Int) = graft.ops.Graph.pageRank(edges, "src", "dst",
      iters = iters).agg(sum("rank").as("mass"), max("rank").as("max_rank")).head()
    time(s"pageRank ($n nodes, ${3 * n} edges, 5 iters)") {
      val p = pageRank(5)
      say(s"mass=${p.getDouble(0)} max=${p.getDouble(1)}")
    }
    // r9: the long-chain regime checkpointEvery exists for — 25 rounds
    // with mid-loop lineage truncation every 10; without it the analyzer
    // cost of the ~50-operator chain dwarfs the actual compute
    time(s"pageRank ($n nodes, 25 iters, checkpointEvery=10)") {
      val p = pageRank(25)
      say(s"25-iter mass=${p.getDouble(0)} max=${p.getDouble(1)}")
    }
  }

  /** Winnow joins at scale: [[graft.ops.Dedup.winnowOverlapPairs]]
    * (df-capped fingerprint self-join) and
    * [[graft.ops.Dedup.winnowContamination]] (small broadcast bench
    * side) on the zipf corpus, whose 5k planted copies share their first
    * 32 of 40 tokens (a ~200-char span, far past the k+w−1 = 19
    * guarantee), and a 2k-doc bench side sliced out of corpus texts (the
    * x166 fixture shape at 2000× the bench size). xxhash64 production
    * family throughout. Run at two sizes to read the scaling exponent
    * per stage. */
  def winnow(r: Smoke.Run): Unit = {
    import r._
    val corpus = zipfCorpus
    timed(s"corpus count (${n + 5000})")(corpus.count())
    val fps = time("fingerprints (k=16, w=4)") {
      val f = Dedup.winnowFingerprints(corpus, "doc_id", "text").persist()
      say(s"fingerprint rows=${f.count()}")
      f
    }
    time("overlap pairs (maxDf=64, minShared=3)") {
      val d = Dedup.winnowOverlapPairs(fps(), maxDf = 64, minShared = 3)
        .persist()
      say(s"overlap pairs=${d.count()} planted=${Smoke.planted(d)}/5000")
      fps().unpersist(); d.unpersist()
    }
    val bench = corpus.filter(col("doc_id") < 2000)
      .select(col("doc_id").as("bench_id"),
        substring(col("text"), 40, 160).as("text"))
    time("contamination (2k bench, minShared=3)") {
      val d = Dedup.winnowContamination(corpus, "doc_id", "text",
        bench, "bench_id", "text").persist()
      val selfHits = d.filter(col("doc_id") === col("bench_id")).count()
      say(s"contamination rows=${d.count()} self-hits=$selfHits/2000")
    }
  }

  /** SemDedupStore at scale: an n-vector store (nc=256), then a 2% shard
    * ingested incrementally vs the full-union batch re-dedup a
    * store-less pipeline would have to run. The ingest pays
    * shard-internal + shard×prior cosines in the touched clusters; the
    * rebuild pays EVERY in-cluster pair of the union again
    * (~(n/nc)²·nc/2), which is where the ~an-order-of-magnitude gap comes
    * from and why it widens linearly with history. Batch-vs-store flag
    * totals are checked equal (the x157 contract at smoke scale). */
  def semstore(r: Smoke.Run): Unit = {
    import r._
    val dim = 32
    def vecs(ids: DataFrame, salt: Int) =
      ids.select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(xxhash64(lit(salt), col("id"), i), lit(997))
            .cast("double") - 498.0) / 498.0).as("v"))
    def flags(state: DataFrame) = state.agg(
      sum(when(col("is_dup"), 1).otherwise(0)),
      sum(when(col("kept"), 0).otherwise(1))).head()

    val corpus = vecs(spark.range(0, n, 1, 32).toDF("id"), 7).persist()
    timed(s"corpus materialize ($n x $dim)")(corpus.count())
    // centroids: 256 corpus vectors — spread enough on a hash corpus
    val cents = corpus.filter(col("vec_id") < 256)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val root = path("semstore")
    timed(s"buildStore ($n vectors, nc=256)")(
      SemDedupStore.buildStore(corpus, "vec_id", "v",
        cents, "cid", "cv", 0.95, root, "base").count())

    // 2% fresh shard + 1k planted near-dups of corpus vectors (tiny
    // elementwise perturbation keeps cosine ~0.9996 >> 0.95)
    val fresh = vecs(spark.range(n, n + n / 50, 1, 8).toDF("id"), 11)
    val planted = corpus.filter(col("vec_id") < 1000)
      .select((col("vec_id") + 20000000L).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * (lit(1.0) + (pmod(xxhash64(col("vec_id"), i), lit(3))
            .cast("double") - 1.0) * 0.01)).as("v"))
    val shard = fresh.unionByName(planted).persist()
    shard.count()

    // force INSIDE every timed block — addShard writes eagerly but the
    // returned state frame (and batch semanticDedup below) is lazy; an
    // outside agg would charge the whole computation to the readout line
    val storeDups = timed(s"addShard (${n / 50 + 1000} rows)")(flags(
      SemDedupStore.addShard(spark, root, shard, "vec_id", "v", "s1")))
    say(s"store: is_dup=${storeDups.getLong(0)} removed=${storeDups.getLong(1)}")
    time("vs full batch semanticDedup (union)") {
      val batchDups = flags(Dedup.semanticDedup(corpus.unionByName(shard),
        "vec_id", "v", cents, "cid", "cv", 0.95))
      say(s"batch: is_dup=${batchDups.getLong(0)} removed=${batchDups.getLong(1)}")
      say(s"store==batch flag totals: ${storeDups == batchDups}")
    }
    // r16: the compaction leg — global mode rewrites base+shard (the
    // cost tiering avoids on the accumulated base) and the state must
    // read back identical
    time("compactShards (global)") {
      val c = SemDedupStore.compactShards(spark, root)
      say(s"compacted assign ${c._1._1} -> ${c._1._2}, flags ${c._2._1} -> ${c._2._2}")
    }
    val postDups = flags(SemDedupStore.currentState(spark, root))
    require(postDups == storeDups,
      s"post-compaction state drifted: $postDups vs $storeDups")
    say("post-compaction state identical")
  }
}
