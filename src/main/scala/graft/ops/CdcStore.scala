package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted chunk-digest store — the shard-ingest twin of
  * [[Cdc.chunkReuse]], completing the CDC family the way every dedup
  * family here is completed (MinHash → [[IncrementalDedup]],
  * ExactSubstr → [[ExactSubstrStore]], SemDeDup → [[SemDedupStore]]):
  * a re-crawl pipeline ingests a daily shard against ALL versions seen
  * so far, and re-chunking every prior crawl to answer "seen this
  * chunk before?" is exactly the corpus-sized re-pay the store
  * families exist to avoid. State is the SET of chunk digests ever
  * ingested — deliberately id-free: membership is the re-crawl dedup
  * question, set union is monotone (which is why this store has no
  * retraction surface: nothing is ever displaced), and a digest row is
  * ~8–40 B where the chunk text is hundreds.
  *
  * Layout under one root (the [[ExactSubstrStore]] v2 conventions):
  *   - `digests/` — one row per distinct REUSABLE digest (chunks of
  *     length >= minLen; sub-min forced tails are not content-defined
  *     units and would junk-match across unrelated docs) PER SHARD,
  *     partitioned by `ingest_shard` and then `__bkt =
  *     pmod(xxhash64(digest), nBuckets)`. Bucket is a map-side column
  *     (never a repartition);
  *     the one exchange a shard write pays is its own shard-sized
  *     DISTINCT. Cross-shard duplicate digests are allowed —
  *     membership semantics absorb them and [[compactShards]] folds
  *     them away — so ingest never has to anti-join against the
  *     accumulated base.
  *   - `meta/` — the chunker parameters ([[Params]]): the store OWNS
  *     its keying (family, bounds, fanout), so every probe chunks
  *     bit-identically to the build.
  *   - `reports/<shard>/` — per-shard reuse reports (write-through;
  *     the streaming sink passes its own batch partition dir).
  *
  * Probe scale shape: the store side NEVER rides an exchange. Within
  * the broadcast gate the shard's digests broadcast into a semi-join
  * over a narrow columnar scan of prior shards; past the gate
  * ([[MaxBroadcastKeys]]) the probe runs sequential per-bucket legs,
  * partition-pruned on BOTH sides, broadcast memory leg-bounded — the
  * jumbo-shard shape measured on the window store (10M: 219s
  * whole-index exchange → 40s bucketed legs). The matched set is
  * touched-sized (≤ shard digests) and joins back to the shard's
  * chunk rows for the per-doc report, pinned by spec to equal
  * [[Cdc.chunkReuse]](prior versions' chunks, shard chunks).
  *
  * Reference has no chunking/crawl-store surface; extension op
  * (LBFS/FastCDC lineage, see [[Cdc]]). */
object CdcStore {

  /** Chunker + layout parameters, persisted in `meta/` and read back
    * by every probe. `family` = "gear" (production: xxhash64 digests,
    * maskBits controls expected chunk length) or "md5" (the
    * oracle-portable family: k/divisor candidate cuts, hex-string
    * digests). minLen/maxLen bound chunks for both. */
  final case class Params(family: String = "gear", maskBits: Int = 6,
      k: Int = 16, divisor: Int = 64, minLen: Int = 64, maxLen: Int = 512,
      nBuckets: Int = 16) {
    require(family == "gear" || family == "md5",
      s"family must be gear|md5, got $family")
    require(nBuckets >= 1, "nBuckets must be >= 1")
  }

  /** Broadcast-probe gate: a shard with more distinct digests than
    * this probes bucket by bucket ([[ShardTiers.MaxBroadcastKeys]]). */
  val MaxBroadcastKeys: Long = ShardTiers.MaxBroadcastKeys

  private def digestsPath(root: String) = s"$root/digests"
  private def metaPath(root: String) = s"$root/meta"
  private def reportsPath(root: String) = s"$root/reports"

  private def digestType(p: Params): DataType =
    if (p.family == "gear") LongType else StringType

  private def digestsSchema(p: Params) = StructType(Seq(
    StructField("digest", digestType(p)),
    StructField("ingest_shard", StringType),
    StructField("__bkt", IntegerType)))

  private val reportSchema = StructType(Seq(
    StructField("id", LongType), StructField("n_chunks", LongType),
    StructField("n_reused", LongType), StructField("total_len", LongType),
    StructField("reused_len", LongType),
    StructField("reused_frac", DoubleType)))

  private def bucketOf(p: Params) =
    pmod(xxhash64(col("digest")), lit(p.nBuckets)).cast("int")

  private def writeMeta(spark: SparkSession, root: String, p: Params): Unit = {
    spark.range(1).select(lit(p.family).as("family"),
      lit(p.maskBits).as("mask_bits"), lit(p.k).as("k"),
      lit(p.divisor).as("divisor"), lit(p.minLen).as("min_len"),
      lit(p.maxLen).as("max_len"), lit(p.nBuckets).as("n_buckets"))
      .write.mode("overwrite").parquet(metaPath(root))
    StoreMeta.put(spark, "cdc", metaPath(root), p)
  }

  /** The parameters this store was built with (memoized per root —
    * [[StoreMeta]]: params are immutable between builds, so the
    * per-call parquet read was one pure-overhead Spark execution). */
  def readMeta(spark: SparkSession, root: String): Params =
    StoreMeta.cached(spark, "cdc", metaPath(root)) {
      val r = spark.read.parquet(metaPath(root)).head()
      Params(r.getAs[String]("family"), r.getAs[Int]("mask_bits"),
        r.getAs[Int]("k"), r.getAs[Int]("divisor"), r.getAs[Int]("min_len"),
        r.getAs[Int]("max_len"), r.getAs[Int]("n_buckets"))
    }

  /** The store's keying: chunk exactly as the build did. */
  private def chunkFrame(docs: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    if (p.family == "gear")
      Cdc.chunks(docs, idCol, textCol, p.maskBits, p.minLen, p.maxLen)
    else
      Cdc.chunksPortable(docs, idCol, textCol, p.k, p.divisor, p.minLen,
        p.maxLen)

  /** Land one shard's DISTINCT REUSABLE digests as its partition
    * (dynamic overwrite — a crash replay rewrites identical rows over
    * any half-written attempt). Only chunks of length >= minLen enter
    * the set: the walk emits shorter chunks only as forced tails, and
    * a tail shorter than the hash window is not a content-defined
    * unit — tiny tails digest-match across UNRELATED documents
    * (measured: a 2-char tail matched hundreds of docs), the junk-hit
    * class that would make every doc in a large store read "partially
    * reused" (see [[Cdc.chunkReuse]]'s minReuseLen). The distinct is
    * the shard-sized exchange; the bucket column is map-side. */
  private def writeShardDigests(chunks: DataFrame, path: String,
      shardId: String, p: Params): Unit =
    ShardTiers.writeShard(
      chunks.filter(col("len") >= p.minLen).select(col("digest")).distinct(),
      path, shardId, Some(bucketOf(p)))

  private def digestsRaw(spark: SparkSession, root: String,
      p: Params): DataFrame =
    spark.read.schema(digestsSchema(p)).parquet(digestsPath(root))

  /** Build the store from the initial corpus version (may be empty for
    * a cold start: the dir lands with schema only). One shard-sized
    * distinct, no other exchange. */
  def build(docs: DataFrame, idCol: String, textCol: String, root: String,
      params: Params = Params()): Unit = {
    val spark = docs.sparkSession
    writeMeta(spark, root, params)
    writeShardDigests(chunkFrame(docs, idCol, textCol, params),
      digestsPath(root), "base", params)
  }

  /** The distinct digest set currently stored (test/QA view — a full
    * store scan; production probes never call this). */
  def currentDigests(spark: SparkSession, root: String): DataFrame =
    digestsRaw(spark, root, readMeta(spark, root))
      .select(col("digest")).distinct()

  /** Ingest one corpus shard (a day's re-crawl): chunk it with the
    * store's own parameters, land its digest partition, and return the
    * per-doc reuse report AGAINST PRIOR STATE — pinned by spec to
    * [[Cdc.chunkReuse]](all prior versions' chunks, this shard's
    * chunks). Steps, each idempotent under crash replay:
    *
    *  1. The shard's distinct digests land as its `digests/` partition
    *     (write-first, dynamic overwrite). The in-flight shard is then
    *     excluded from the probe by partition pruning, so a replay
    *     probes identical pre-shard state.
    *  2. Probe: matched = prior ∩ shard digests. Within the gate the
    *     shard's digests broadcast (the store side is a pruned
    *     columnar scan, no exchange); past it, sequential per-bucket
    *     broadcast legs, both sides partition-pruned, appended to a
    *     probe temp.
    *  3. The touched-sized matched set joins back to the shard's chunk
    *     rows (broadcast under the same gate), per-doc rollup, and the
    *     report WRITES THROUGH to `reportDir` (default
    *     `reports/<shardId>`) — the returned frame is a plain scan,
    *     zero executor-pinned blocks.
    *
    * Intra-shard duplicate chunks do NOT count as reused (reuse is vs
    * prior versions only — the chunkReuse contract); they fold into
    * the shard's stored digest set all the same. The narrow chunk
    * projection persists spillable (MEMORY_AND_DISK, shard-sized,
    * released before return) across its two consumers — digest write
    * and report join — so the shard is chunked exactly once. */
  def addShard(spark: SparkSession, root: String, shard: DataFrame,
      idCol: String, textCol: String, shardId: String,
      maxBroadcastKeys: Long = MaxBroadcastKeys,
      reportDir: Option[String] = None): DataFrame = {
    val p = readMeta(spark, root)
    // the chunk frame has two consumers (digest write + report join);
    // persist the NARROW projection so the shard is chunked once —
    // MEMORY_AND_DISK spills rather than pins (shard-sized, id +
    // digest + len only; released before return)
    val chunks = chunkFrame(shard, idCol, textCol, p)
      .select(col("id"), col("digest"), col("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    graft.bench.StageTimers.time("cdcstore.shard_write") {
      writeShardDigests(chunks, digestsPath(root), shardId, p)
    }
    val all = digestsRaw(spark, root, p)
    val shardD = all.filter(col("ingest_shard") === lit(shardId))
      .select(col("digest"), col("__bkt"))
    val counts = ShardTiers.bucketCounts(shardD)
    val totalKeys = counts.map(_._2).sum
    val (priorHits, probeTmp) = ShardTiers.probe(root, "__probe_ingest",
      "cdcstore.probe_legs",
      all.filter(col("ingest_shard") =!= lit(shardId))
        .select(col("digest"), col("__bkt")),
      shardD, "digest", totalKeys, maxBroadcastKeys)(counts)
    val matched = priorHits.distinct()
    val hit = matched.withColumn("__hit", lit(1))
    val gatedHit = if (totalKeys <= maxBroadcastKeys) broadcast(hit) else hit
    // the [[Cdc.chunkReuse]] minReuseLen semantics with minReuseLen =
    // p.minLen: sub-min tails count in n_chunks/total_len but neither
    // match (their digests were never stored) nor dilute the
    // denominator — pinned ≡ chunkReuse(prior, shard, p.minLen) by spec
    val report = chunks
      .join(gatedHit, Seq("digest"), "left")
      .withColumn("__use", (col("len") >= p.minLen).cast("int"))
      .withColumn("__r",
        when(col("__hit").isNotNull && col("__use") === 1, 1).otherwise(0))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__r")).cast("long").as("n_reused"),
        sum(col("len")).cast("long").as("total_len"),
        sum(when(col("__r") === 1, col("len")).otherwise(lit(0)))
          .cast("long").as("reused_len"),
        sum(col("__use")).cast("long").as("__reusable"))
      .withColumn("reused_frac",
        when(col("__reusable") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("n_reused").cast("double") / col("__reusable"), 6)))
      .drop("__reusable")
    val dir = reportDir.getOrElse(s"${reportsPath(root)}/$shardId")
    graft.bench.StageTimers.time("cdcstore.report_write") {
      report.write.mode("overwrite").parquet(dir)
    }
    ShardTiers.dropTemp(spark, probeTmp)
    spark.read.schema(reportSchema).parquet(dir)
    } finally chunks.unpersist(false)
  }

  /** Size-tiered compaction of `digests/` under the [[ShardTiers]]
    * protocol. Consolidation rule: a membership set, so the tier keeps one
    * row per digest (leftover duplicates fold away), bucket dirs kept.
    * Returns (shards before, shards after). */
  def compactShards(spark: SparkSession, root: String,
      tierMaxBytes: Long = Long.MaxValue): (Int, Int) =
    ShardTiers.compact(spark, tierMaxBytes, ShardTiers.Table(
      digestsPath(root), digestsSchema(readMeta(spark, root)),
      _.dropDuplicates("digest"), Seq("__bkt")))
}
