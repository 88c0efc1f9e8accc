package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted chunk-digest store: every ingest report must equal
  * [[Cdc.chunkReuse]] of (all prior versions' chunks, the shard's
  * chunks) — the store is that operator's incremental twin — and store
  * state must equal the distinct digests of everything ingested.
  * Exercised on BOTH chunker families (the store owns its keying via
  * meta). */
class CdcStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(tag: String): String = {
    val d = System.getProperty("java.io.tmpdir") +
      s"/graft_cdc_store_spec_${tag}_p" + ProcessHandle.current().pid()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    d
  }

  private def text(n: Int, seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => s"w${rnd.nextInt(997)}").mkString(" ")
  }

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def chunksOf(d: DataFrame, p: CdcStore.Params): DataFrame =
    if (p.family == "gear")
      Cdc.chunks(d, "doc_id", "text", p.maskBits, p.minLen, p.maxLen)
    else Cdc.chunksPortable(d, "doc_id", "text", p.k, p.divisor, p.minLen,
      p.maxLen)

  private def rep(df: DataFrame): Set[(Long, Long, Long, Long, Long, Double)] =
    df.select(col("id"), col("n_chunks"), col("n_reused"),
        col("total_len"), col("reused_len"), col("reused_frac"))
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet

  private val families = Seq(
    CdcStore.Params(family = "gear", maskBits = 5, minLen = 24, maxLen = 96),
    CdcStore.Params(family = "md5", k = 16, divisor = 16, minLen = 24,
      maxLen = 96))

  test("ingest report equals chunkReuse of prior-union vs shard; state = distinct union digests") {
    for (p <- families) {
      val root = tmpRoot(s"twin_${p.family}")
      val v1 = docs(1L -> text(80, 1), 2L -> text(80, 2), 3L -> text(80, 3))
      val shardA = docs(10L -> text(80, 10), 11L -> text(80, 2)) // 11 = copy of 2
      val shardB = docs(
        20L -> ("EDIT " + text(80, 10)), // head-edit of A's doc 10
        21L -> text(80, 21))
      CdcStore.build(v1, "doc_id", "text", root, p)
      val repA = CdcStore.addShard(spark, root, shardA, "doc_id", "text", "a")
      assert(rep(repA) == rep(Cdc.chunkReuse(chunksOf(v1, p),
        chunksOf(shardA, p), minReuseLen = p.minLen)),
        s"${p.family}: shard A report = chunkReuse twin")
      val repB = CdcStore.addShard(spark, root, shardB, "doc_id", "text", "b")
      assert(rep(repB) == rep(Cdc.chunkReuse(
        chunksOf(v1.unionByName(shardA), p), chunksOf(shardB, p),
        minReuseLen = p.minLen)),
        s"${p.family}: shard B reuse is vs v1 UNION shard A")
      // the planted structure: 11 reuses everything from 2; 20 resyncs
      // against A's 10; 21 is fresh
      val m = rep(repB).map(r => r._1 -> r._6).toMap ++
        rep(repA).map(r => r._1 -> r._6).toMap
      assert(m(11L) == 1.0, s"${p.family}: verbatim copy fully reused")
      assert(m(20L) >= 0.5, s"${p.family}: head-edited doc resyncs")
      // state = distinct REUSABLE digests of everything ingested
      // (sub-minLen forced tails never enter the set)
      val expect = chunksOf(v1.unionByName(shardA).unionByName(shardB), p)
        .filter(col("len") >= p.minLen)
        .select("digest").distinct().collect().toSet
      assert(CdcStore.currentDigests(spark, root).collect().toSet == expect,
        s"${p.family}: state is the distinct reusable union digest set")
    }
  }

  test("crash replay: re-ingesting the same shard id is idempotent on state AND report") {
    val p = families.head
    val root = tmpRoot("replay")
    CdcStore.build(docs(1L -> text(60, 1)), "doc_id", "text", root, p)
    val shard = docs(5L -> text(60, 1), 6L -> text(60, 6))
    val r1 = rep(CdcStore.addShard(spark, root, shard, "doc_id", "text", "s"))
    val state1 = CdcStore.currentDigests(spark, root).collect().toSet
    val r2 = rep(CdcStore.addShard(spark, root, shard, "doc_id", "text", "s"))
    assert(r1 == r2, "replayed report identical (probe excludes in-flight shard)")
    assert(CdcStore.currentDigests(spark, root).collect().toSet == state1,
      "replayed state identical (dynamic partition overwrite)")
    assert(r1.find(_._1 == 5L).get._6 == 1.0,
      "doc 5 duplicates a BASE doc, so it reads fully reused even on replay")
  }

  test("cold start: empty build, first shard reuses nothing, intra-shard dups don't count") {
    val p = families.head
    val root = tmpRoot("cold")
    CdcStore.build(docs().limit(0)
      .select(col("doc_id"), col("text")), "doc_id", "text", root, p)
    val t0 = text(60, 42)
    val shard = docs(1L -> t0, 2L -> t0) // intra-shard duplicate pair
    val r = rep(CdcStore.addShard(spark, root, shard, "doc_id", "text", "s0"))
    assert(r.forall(_._3 == 0L),
      "reuse is vs PRIOR versions only — intra-shard duplicates read 0")
    val second = rep(CdcStore.addShard(spark, root,
      docs(3L -> t0), "doc_id", "text", "s1"))
    assert(second.head._6 == 1.0, "the NEXT shard sees s0's digests")
  }

  test("jumbo path (maxBroadcastKeys = 0) is result-identical to the broadcast path") {
    val p = families.head
    val rootA = tmpRoot("jumboA")
    val rootB = tmpRoot("jumboB")
    val v1 = docs((1L to 6L).map(i => i -> text(70, i.toInt)): _*)
    val shard = docs(10L -> text(70, 3), 11L -> text(70, 99))
    for (root <- Seq(rootA, rootB))
      CdcStore.build(v1, "doc_id", "text", root, p)
    val viaBroadcast = rep(CdcStore.addShard(spark, rootA, shard,
      "doc_id", "text", "s"))
    val viaLegs = rep(CdcStore.addShard(spark, rootB, shard,
      "doc_id", "text", "s", maxBroadcastKeys = 0L))
    assert(viaBroadcast == viaLegs, "per-bucket legs = broadcast result")
    assert(CdcStore.currentDigests(spark, rootA).collect().toSet ==
      CdcStore.currentDigests(spark, rootB).collect().toSet)
    assert(!new java.io.File(s"$rootB/__probe_ingest").exists(),
      "probe temp cleaned up")
  }

  test("tiered compaction folds the shard tail, state identical; rename-done crash detected and finished") {
    // sized so parquet DATA dominates footers (size comparisons are
    // meaningless at footer scale), few buckets for the same reason
    val p = CdcStore.Params(family = "gear", maskBits = 4, minLen = 12,
      maxLen = 48, nBuckets = 2)
    val root = tmpRoot("compact")
    def corpus(idBase: Long, n: Int): DataFrame =
      (0 until n).map(i => (idBase + i, text(12, (idBase + i).toInt)))
        .toDF("doc_id", "text")
    CdcStore.build(corpus(0, 500), "doc_id", "text", root, p)
    CdcStore.addShard(spark, root, corpus(1000, 200), "doc_id", "text", "s1")
    CdcStore.addShard(spark, root, corpus(2000, 200), "doc_id", "text", "s2")
    val stateBefore = CdcStore.currentDigests(spark, root).collect().toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ddir = new org.apache.hadoop.fs.Path(s"$root/digests")
    def sizeOf(s: String): Long = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(ddir, s"ingest_shard=$s")).getLength
    def shards(): Set[String] = fs.listStatus(ddir)
      .filter(_.getPath.getName.startsWith("ingest_shard="))
      .map(_.getPath.getName.stripPrefix("ingest_shard=")).toSet
    val tier = math.max(sizeOf("s1"), sizeOf("s2"))
    require(sizeOf("base") > tier, "fixture: base must sit above the tier")
    // snapshot the small shards so the crash window can be recreated
    val snap = new org.apache.hadoop.fs.Path(root + "_snap")
    for (s <- Seq("s1", "s2"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(ddir, s"ingest_shard=$s"), fs,
        new org.apache.hadoop.fs.Path(snap, s"ingest_shard=$s"),
        false, spark.sparkContext.hadoopConfiguration)
    assert(CdcStore.compactShards(spark, root, tier) == ((3, 2)),
      "s1 + s2 fold into one tier, base untouched")
    val tierName = (shards() - "base").head
    assert(tierName.startsWith("compacted_"))
    assert(CdcStore.currentDigests(spark, root).collect().toSet == stateBefore,
      "compaction is invisible to membership state")
    // recreate the documented crash window: rename completed (the tier
    // partition exists) but source deletion never ran
    for (s <- Seq("s1", "s2"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(snap, s"ingest_shard=$s"), fs,
        new org.apache.hadoop.fs.Path(ddir, s"ingest_shard=$s"),
        false, spark.sparkContext.hadoopConfiguration)
    require(sizeOf(tierName) > tier,
      "fixture: the merged tier must sit above the threshold so the " +
        "re-run selects exactly the crashed run's source set")
    assert(CdcStore.compactShards(spark, root, tier) == ((4, 2)),
      "detection branch: finish the deletion, write nothing")
    assert(shards() == Set("base", tierName))
    assert(CdcStore.currentDigests(spark, root).collect().toSet == stateBefore)
    // global pass folds tier + base into one deduplicated partition
    val (b2, a2) = CdcStore.compactShards(spark, root)
    assert(b2 == 2 && a2 == 1, "global pass folds the rest")
    assert(CdcStore.currentDigests(spark, root).collect().toSet == stateBefore)
  }

  test("tiered re-compaction of batch-id shards {2,3} after {1,4} loses no digests") {
    // streaming sinks name shards by batch id; a tier name derived from
    // the sum of the ids' hash codes gave {1,4} and {2,3} the same name,
    // and the second pass took it for a finished crash and deleted 2, 3
    val p = CdcStore.Params(family = "gear", maskBits = 4, minLen = 12,
      maxLen = 48, nBuckets = 2)
    val root = tmpRoot("batchids")
    def corpus(idBase: Long, n: Int): DataFrame =
      (0 until n).map(i => (idBase + i, text(12, (idBase + i).toInt)))
        .toDF("doc_id", "text")
    CdcStore.build(corpus(0, 500), "doc_id", "text", root, p)
    for (s <- Seq(1, 4))
      CdcStore.addShard(spark, root, corpus(s * 1000L, 200), "doc_id",
        "text", s.toString)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sizeOf(s: String): Long = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$root/digests/ingest_shard=$s"))
      .getLength
    val tier = math.max(sizeOf("1"), sizeOf("4")) * 6 / 5
    require(sizeOf("base") > tier, "fixture: base must sit above the tier")
    assert(CdcStore.compactShards(spark, root, tier) == ((3, 2)))
    val tier14 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/digests"))
      .map(_.getPath.getName.stripPrefix("ingest_shard="))
      .filter(_.startsWith("compacted_")).head
    require(sizeOf(tier14) > tier,
      "fixture: the {1,4} tier must sit above the tier")
    for (s <- Seq(2, 3))
      CdcStore.addShard(spark, root, corpus(s * 1000L, 200), "doc_id",
        "text", s.toString)
    require(Seq("2", "3").forall(sizeOf(_) <= tier),
      "fixture: the new shards must sit under the tier")
    val before = CdcStore.currentDigests(spark, root).collect().toSet
    assert(CdcStore.compactShards(spark, root, tier) == ((4, 3)),
      "2 + 3 fold into a second tier next to the first")
    assert(CdcStore.currentDigests(spark, root).collect().toSet == before,
      "no digest of shards 2 and 3 is lost")
  }

  test("readMeta sees a meta/ rewritten out of band") {
    val p1 = CdcStore.Params(family = "gear", nBuckets = 4)
    val p2 = CdcStore.Params(family = "md5", k = 12, divisor = 8,
      nBuckets = 8)
    val root = tmpRoot("fresh")
    val other = tmpRoot("fresh_other")
    CdcStore.build(docs(1L -> text(30, 1)), "doc_id", "text", root, p1)
    CdcStore.build(docs(1L -> text(30, 1)), "doc_id", "text", other, p2)
    assert(CdcStore.readMeta(spark, root) == p1)
    // replace root's meta/ with another store's, bypassing the build path
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(s"$root/meta")
    fs.delete(meta, true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$other/meta"), fs, meta, false,
      spark.sparkContext.hadoopConfiguration)
    assert(CdcStore.readMeta(spark, root) == p2)
  }

  test("meta round-trips and probes refuse a missing store") {
    val p = CdcStore.Params(family = "md5", k = 12, divisor = 8,
      minLen = 10, maxLen = 50, nBuckets = 4)
    val root = tmpRoot("meta")
    CdcStore.build(docs(1L -> text(30, 1)), "doc_id", "text", root, p)
    assert(CdcStore.readMeta(spark, root) == p)
    intercept[Exception] {
      CdcStore.addShard(spark, tmpRoot("absent"), docs(1L -> "x"),
        "doc_id", "text", "s")
    }
  }
}
