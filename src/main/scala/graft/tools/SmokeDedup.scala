package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, ExactSubstrStore, IncrementalDedup}

/** Dedup at scale: n word-soup docs (~40 tokens each) with 5k planted
  * near-duplicates (docs 0..4999 cloned at id + 10M with the last 8 words
  * re-drawn) through MinHash+LSH candidate generation, cluster
  * resolution, the incremental MinHash index, the ExactSubstr store, and
  * — on the zipf corpus — prefix-filter Jaccard and ICWS. Evidence that
  * the (band, bucket) shuffle shape and the explode+agg signature job
  * hold far beyond the harness corpus (40x sf0.1). Run at two
  * `SPARK_GRAFT_CPUS` counts to read operator parallelism: the sf0.1
  * sweep is scheduling-bound and flat across core counts.
  *
  * Filter `exsub` runs only the ExactSubstr-store legs (add
  * `|ExactSubstr batch` for the full-batch contrast, ~16 min at 10M). */
private[tools] object SmokeDedup {
  def run(r: Smoke.Run): Unit = {
    import r._
    val planted = materialize("planted", spark.range(0, 5000, 1, 8)
      .select((col("id") + 10000000L).as("doc_id"),
        Smoke.soup(col("id"), 7, tailSalt = Some(8)).as("text")))
    val corpus = soupCorpus.unionByName(planted)
    timed(s"corpus count (${n + 5000})")(corpus.count())

    // shard fixture (used by both the MinHash-incremental and the
    // ExactSubstr-store phases): 2% of corpus size — half fresh docs,
    // half near-dups of indexed docs (same salt-7 prefix, re-drawn tail)
    val shardN = math.max(n / 100, 1000L)
    val shard = materialize("shard", spark.range(0, shardN, 1, 4)
      .select((col("id") + 20000000L).as("doc_id"),
        Smoke.soup(col("id"), 11).as("text"))
      .unionByName(spark.range(5000, 5000 + shardN, 1, 4)
        .select((col("id") + 30000000L).as("doc_id"),
          Smoke.soup(col("id"), 7, tailSalt = Some(8)).as("text"))))
    val lsh = (df: org.apache.spark.sql.DataFrame) => Dedup.minhashLshPairs(
      df, "doc_id", "text", shingleW = 3, k = 32, bands = 8, threshold = 0.5)

    // NOTE: minhashLshPairs materializes its candidate pairs EAGERLY in the
    // constructor — construct INSIDE the timed block or the heavy half of
    // the work escapes the timer (it did, in earlier rounds of this smoke)
    val pairs = time("minhash LSH pairs") {
      val ps = lsh(corpus)
      say(s"pairs=${ps.count()} (planted 5000)")
      say(s"planted recovered=${Smoke.planted(ps)}/5000")
      ps
    }
    time("cluster dedup")(say(s"survivors=" +
      s"${Dedup.dedupByClusters(corpus, "doc_id", pairs()).count()} of ${n + 5000}"))

    // INCREMENTAL phase: build the persisted index once over the corpus,
    // then ingest the 2% shard. The claim under test: shard ingest cost
    // is shard-sized — it re-reads NO corpus text (only the narrow
    // persisted buckets + the candidate-pruned shingle rows), where the
    // alternative a production pipeline avoids (re-running full dedup on
    // corpus+shard at every arrival) pays the corpus-sized LSH pass above
    // every time.
    val root = path("incdedup")
    val p = IncrementalDedup.Params(shingleW = 3, k = 32,
      bands = 8, threshold = 0.5, maxBucket = 256)
    val index = time("index build (once)")(IncrementalDedup.buildIndex(
      corpus, "doc_id", "text", root, p, "init").count())
    val shardDropped = time(s"shard ingest (${2 * shardN})") {
      index()
      val d = IncrementalDedup.addShard(spark, root, shard, "doc_id", "text",
        "s1").filter(!col("survived")).count()
      say(s"shard dropped=$d (planted $shardN)")
      d
    }
    time("vs full re-dedup (the alternative)") {
      val union = corpus.unionByName(shard)
      say(s"full re-dedup survivors=" +
        Dedup.dedupByClusters(union, "doc_id", lsh(union)).count())
    }

    // FLAT-INGEST phase — the scale contract of the append-only label
    // delta log: ingesting the SAME shard against an index whose
    // PRE-EXISTING duplicate population is 10x larger must cost the same
    // wall-time (per-shard cost is bounded by shard size + touched
    // components, never by accumulated duplicate history — the old
    // full-label re-resolve+rewrite design failed exactly this probe).
    val nDups10 = math.min(10L * 5000L, n / 2)
    val root10 = path("incdedup_x10")
    val index10 = time(s"index build ($nDups10 dups)") {
      val dups10 = materialize("planted_x10", spark.range(0, nDups10, 1, 8)
        .select((col("id") + 10000000L).as("doc_id"),
          Smoke.soup(col("id"), 7, tailSalt = Some(8)).as("text")))
      IncrementalDedup.buildIndex(soupCorpus.unionByName(dups10), "doc_id",
        "text", root10, p, "init").count()
      shardDropped()
      say(s"label history: base=${spark.read.parquet(s"$root/labels").count()} " +
        s"x10=${spark.read.parquet(s"$root10/labels").count()}")
    }
    // localHistoryBytes = 0 forces the TOUCHED-COMPONENT broadcast path on
    // both roots (the default gate would route these small histories to
    // the driver fast path) — the contract under test is the AT-SCALE
    // shape. Re-ingesting s1 on the base root is an idempotent replay:
    // the in-flight shard is excluded from every read, so the timed work
    // is identical to a first ingest against the same history.
    def twoScan(at: String) = IncrementalDedup.addShard(spark, at, shard,
      "doc_id", "text", "s1", localHistoryBytes = 0L)
      .filter(!col("survived")).count()
    time("shard ingest base (two-scan)") {
      val expected = shardDropped()
      require(twoScan(root) == expected, "replayed ingest drifted")
    }
    val x10 = time("shard ingest vs x10 history (two-scan)") {
      index10()
      say(s"x10 shard dropped=${twoScan(root10)} " +
        "(flat vs base two-scan = contract holds)")
    }
    // the retraction feed must also be touched-sized: it reads one
    // partition-pruned delta dir + semi-joined prior rows, so its cost
    // against the x10 history should match the base one
    val retrBase = time("retraction feed (base)") {
      shardDropped()
      IncrementalDedup.retractionsForShard(spark, root, "s1").count()
    }
    time("retraction feed (x10)") {
      x10()
      val retr10 = IncrementalDedup.retractionsForShard(spark, root10, "s1")
        .count()
      say(s"retraction rows: base=${retrBase()} x10=$retr10")
    }

    // r15: ExactSubstr store — the touched-sized-vs-corpus-sized point
    // for the LAST dedup family to get an ingest twin. The shard's dup
    // half shares a 32-token prefix with indexed docs (salt 7, ids
    // 5000..), so with minLen=20 every shard dup carries 13 duplicated
    // windows whose canonical (smaller id) lives in the index. The
    // claim under test: ingest re-reads NO corpus text — its one
    // index-sized input is the narrow windows/ scan under a broadcast
    // key semi-join — where the batch alternative re-pays the full
    // corpus-wide window aggregate per arrival.
    val esRoot = path("exsub")
    val esIndex = time("exsub index build (once)")(ExactSubstrStore.buildIndex(
      corpus, "doc_id", "text", esRoot,
      ExactSubstrStore.Params(minLen = 20, digestKeys = true)))
    val esIngest = time(s"exsub shard ingest (${2 * shardN})") {
      esIndex()
      val trimmed = ExactSubstrStore.addShard(spark, esRoot, shard,
        "doc_id", "text", "s1").filter(col("n_removed") > 0).count()
      say(s"exsub shard docs trimmed=$trimmed (planted $shardN)")
      require(trimmed == shardN,
        s"expected exactly the $shardN planted prefix dups trimmed, got $trimmed")
    }
    // fixed-size second ingest: the SAME 4k-doc shard shape at every
    // corpus size, so runs at different n isolate the ingest cost's
    // index-size dependence (the only index-sized leg is the narrow
    // windows/ scan — wall should grow far slower than corpus size)
    val fixedShard = materialize("fixed_shard", spark.range(0, 2000, 1, 4)
      .select((col("id") + 40000000L).as("doc_id"),
        Smoke.soup(col("id"), 17).as("text"))
      .unionByName(spark.range(100000, 102000, 1, 4)
        .select((col("id") + 50000000L).as("doc_id"),
          Smoke.soup(col("id"), 7, tailSalt = Some(8)).as("text"))))
    val esFixed = time("exsub fixed-4k-shard ingest") {
      esIndex()
      say("exsub fixed-shard trimmed=" + ExactSubstrStore.addShard(spark,
        esRoot, fixedShard, "doc_id", "text", "s_fixed")
        .filter(col("n_removed") > 0).count() +
        " (planted 2000 iff corpus >= 102k docs)")
    }
    // the store's remaining legs, measured at the same points: the
    // retraction feed for the 2% shard — touched-sized, so it must track
    // the shard ingest's curve, not the corpus's — and compaction, which
    // rewrites whatever it absorbs (global here: the size-tiered mode's
    // whole point is that production never pays this number on the
    // accumulated base, only on the small-shard tail)
    time(s"exsub retraction feed (${2 * shardN} shard)") {
      esIngest()
      say("exsub retraction rows=" +
        ExactSubstrStore.retractionsForShard(spark, esRoot, "s1").count())
    }
    time("vs full ExactSubstr batch (the alternative)")(say(
      "full exsub batch trimmed=" + Dedup.exactSubstrDedup(
          corpus.unionByName(shard), "doc_id", "text", minLen = 20,
          digestKeys = true)
        .agg(sum(when(col("n_removed") > 0, 1).otherwise(0))).head().getLong(0)))
    // tiered FIRST (absorb only the two shards, base untouched — the
    // production posture), then global (the full-rewrite cost tiering
    // exists to avoid paying on the accumulated base)
    time("exsub compactShards (tiered: shard tail only)") {
      esIngest(); esFixed()
      val fs = new org.apache.hadoop.fs.Path(esRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tier = Seq("s1", "s_fixed").map(s => fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$esRoot/windows/ingest_shard=$s"))
        .getLength).max
      val c = ExactSubstrStore.compactShards(spark, esRoot, tier)
      say(s"exsub tiered compaction partitions ${c._1} -> ${c._2} (base untouched)")
    }
    time("exsub compactShards (global)") {
      esIngest(); esFixed()
      val c = ExactSubstrStore.compactShards(spark, esRoot)
      say(s"exsub compacted partitions ${c._1} -> ${c._2}")
    }
    // the last store leg: a FULL-union republish readout — inherently
    // corpus-sized (it rebuilds every doc's text), run from the stored
    // windows instead of re-windowing; the store's savings live on the
    // ingest path, this prices the occasional full republish
    time("exsub store full-union readout (republish)") {
      esIngest(); esFixed()
      say("exsub readout trimmed=" + ExactSubstrStore.dedupWithIndex(spark,
          esRoot, corpus.unionByName(shard).unionByName(fixedShard),
          "doc_id", "text")
        .agg(sum(when(col("n_removed") > 0, 1).otherwise(0))).head().getLong(0))
    }

    // r12: prefix-filter EXACT Jaccard and ICWS on the zipf corpus. The
    // word soup above is prefix filtering's documented worst case — a
    // CLOSED 5k vocabulary has no rare tokens, so prefixes cannot prune
    // (the phase ran past 15 min at 200k). Its operating regime is an
    // OPEN vocabulary (real text's long tail), and 5-gram shingles keep
    // token df flat in N where word-level df grows WITH the corpus on
    // this fixture (the r13 finding: raw tokens gave 239M candidates at
    // 1M docs, which the guard below now refuses). Planted copies share
    // their first 32 of 40 words = 28 of 36 shingles -> J = 28/44 =
    // 0.636 >= 0.6.
    val zipf = time(s"zipf corpus count (${n + 5000})") {
      zipfCorpus.count(); zipfCorpus
    }
    val shingled = time("shingled corpus count") {
      val toks = split(col("text"), " ")
      val s = materialize("zipf_5gram", zipf().select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), size(toks) - 5),
          i => concat_ws("_", slice(toks, i + 1, lit(5))))).as("text")))
      s.count(); s
    }
    // count INSIDE the timed block — the operator is fully lazy
    time("prefix-filter jaccard 5-gram (t=0.6)") {
      val d = Dedup.prefixFilterJaccardPairs(shingled(), "doc_id", "text", 0.6)
        .persist()
      say(s"prefix-jaccard pairs=${d.count()} planted=${Smoke.planted(d)}/5000")
      d.unpersist()
    }
    // the out-of-regime spelling refuses loudly instead of dying in the
    // verify join's spill
    time("raw-token guard (maxCandidates=50M)") {
      try {
        Dedup.prefixFilterJaccardPairs(zipf(), "doc_id", "text", 0.6,
          maxCandidates = 50000000L).count()
        say("raw-token call COMPLETED under the cap")
      } catch {
        case e: IllegalArgumentException =>
          say(s"guard fired: ${e.getMessage.take(160)}")
      }
    }
    // ICWS weighted minhash (hashed=true — the xxhash64 production
    // family; the md5 path is the oracle surface). Near-unique tokens
    // keep unrelated bags near-disjoint, so buckets stay duplicate-
    // group-sized; the planted copies sit at J_w ~ 0.67 (32/48 token
    // mass shared). rowsPerBand=2 squares the noise-collision rate:
    // single-sample buckets flooded verify with 6.5M candidates for 5k
    // true pairs; 12 two-sample bands keep planted pairs at
    // 1-(1-4/9)^12 ~ 0.9991 expected recall (measured 4993/5000)
    time("ICWS weighted jaccard (t=0.6, k=24, r=2)") {
      val tf = zipf().select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("w"))
        .persist() // three consumers inside the op (draw + both verify legs)
      val d = Dedup.weightedJaccardPairs(tf, "doc_id", "tok", "w", k = 24,
        threshold = 0.6, hashed = true, rowsPerBand = 2).persist()
      say(s"icws pairs=${d.count()} planted=${Smoke.planted(d)}/5000")
      d.unpersist(); tf.unpersist()
    }
  }
}
