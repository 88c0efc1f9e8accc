package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** The shard-tier kernel ([[ShardTiers]]) as every store sees it:
  * compaction never changes a store's readout, for any shard-id set,
  * any tier thresholds and a crash between rename and source deletion;
  * and a tier whose `_sources` manifest names other shards is refused. */
class ShardTiersSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def tmpRoot(tag: String): String = {
    val d = System.getProperty("java.io.tmpdir") +
      s"/graft_shard_tiers_spec_${tag}_p" + ProcessHandle.current().pid()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    d
  }

  private def text(seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    (0 until 24).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
  }

  private val base: Seq[(Long, String)] = (0L until 4L).map(i => i -> text(i))

  /** Shard `s`: a copy of a base doc, a copy of the previous batch id's
    * fresh doc, and a fresh doc — cross-shard duplicates for every store. */
  private def shardRows(s: Int): Seq[(Long, String)] = Seq(
    (s * 100L, text(s % 4)),
    (s * 100L + 1, text((s - 1) * 100L + 2)),
    (s * 100L + 2, text(s * 100L + 2)))

  private def frame(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def emb(df: DataFrame): DataFrame = {
    val theta = pmod(xxhash64(col("text")), lit(64)).cast("double") *
      lit(0.025)
    df.select(col("doc_id"), array(cos(theta), sin(theta)).as("v"))
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Distinct rows of a store table, columns by name: shard and tier
    * files may order their columns differently. */
  private def distinctRows(path: String): Set[Row] = {
    val df = spark.read.parquet(path).drop("ingest_shard")
    rows(df.select(df.columns.sorted.map(col).toSeq: _*).distinct())
  }

  /** A store under test: build from the base docs, ingest one shard,
    * compact at a threshold, and read its state: the public readout, or
    * the distinct rows of a table whose consolidation keeps every row. */
  private case class Store(name: String, tables: Seq[String],
      build: (String, DataFrame) => Unit,
      add: (String, DataFrame, String) => Unit,
      compact: (String, Long) => Unit,
      readout: String => Seq[Set[Row]])

  private val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
    .toDF("cid", "cv")

  private val stores = Seq(
    Store("incdedup", Seq("buckets", "shingles", "labels"),
      (root, d) => IncrementalDedup.buildIndex(d, "doc_id", "text", root,
        IncrementalDedup.Params(k = 16, bands = 4), "base"),
      (root, d, id) =>
        IncrementalDedup.addShard(spark, root, d, "doc_id", "text", id),
      (root, t) => IncrementalDedup.compactShards(spark, root, t),
      root => Seq(rows(IncrementalDedup.currentLabels(spark, root)),
        distinctRows(s"$root/buckets"), distinctRows(s"$root/shingles"))),
    Store("semdedup", Seq("assign", "flags"),
      (root, d) => SemDedupStore.buildStore(emb(d), "doc_id", "v", cents,
        "cid", "cv", 0.95, root, "base"),
      (root, d, id) =>
        SemDedupStore.addShard(spark, root, emb(d), "doc_id", "v", id),
      (root, t) => SemDedupStore.compactShards(spark, root, t),
      root => Seq(rows(SemDedupStore.currentState(spark, root)))),
    Store("cdc", Seq("digests"),
      (root, d) => CdcStore.build(d, "doc_id", "text", root,
        CdcStore.Params(maskBits = 3, minLen = 8, maxLen = 32, nBuckets = 2)),
      (root, d, id) =>
        CdcStore.addShard(spark, root, d, "doc_id", "text", id),
      (root, t) => CdcStore.compactShards(spark, root, t),
      root => Seq(rows(CdcStore.currentDigests(spark, root)))),
    Store("bm25", Seq("postings", "terms"),
      (root, d) => Bm25Store.build(d, "doc_id", "text", root,
        Bm25Store.Params(nBuckets = 2)),
      (root, d, id) =>
        Bm25Store.addShard(spark, root, d, "doc_id", "text", id),
      (root, t) => Bm25Store.compactShards(spark, root, t),
      root => Seq(rows(Bm25Store.currentStats(spark, root)),
        distinctRows(s"$root/postings"), distinctRows(s"$root/terms"))),
    Store("exsub", Seq("windows"),
      (root, d) => ExactSubstrStore.buildIndex(d, "doc_id", "text", root,
        ExactSubstrStore.Params(minLen = 5, nBuckets = 2)),
      (root, d, id) =>
        ExactSubstrStore.addShard(spark, root, d, "doc_id", "text", id),
      (root, t) => ExactSubstrStore.compactShards(spark, root, t),
      root => Seq(distinctRows(s"$root/windows"))))

  private def shardDirs(root: String, tables: Seq[String]): Seq[Path] =
    tables.flatMap(t => ShardTiers.shards(spark, s"$root/$t")
      .map(s => new Path(s"$root/$t/ingest_shard=$s")))

  /** A compaction pass: tier threshold as a fraction of the largest
    * shard dir (None = fold everything), and whether to replay the
    * rename-done crash window after it. */
  private val pass = Gen.zip(Gen.option(Gen.choose(0.0, 1.0)),
    Gen.oneOf(false, true))

  /** Batch-id shards ingested in batch order, each optionally followed by
    * a compaction pass (the last one always), as a streaming sink that
    * compacts between micro-batches would. */
  private val scenario = for {
    n <- Gen.choose(2, 3)
    ids <- Gen.pick(n, 1 to 12)
    between <- Gen.listOfN(n - 1, Gen.option(pass))
    last <- pass
  } yield ids.sorted.map(_.toString).zip(between :+ Some(last))

  for ((store, k) <- stores.zipWithIndex)
    test(s"property: ${store.name} readout is invariant under tiered compaction and its crash replay") {
      var trial = 0
      val prop = Prop.forAllNoShrink(scenario) { steps =>
        trial += 1
        val root = tmpRoot(s"${store.name}_$trial")
        store.build(root, frame(base))
        for ((id, p) <- steps) {
          store.add(root, frame(shardRows(id.toInt)), id)
          for ((frac, crash) <- p) {
            val expect = store.readout(root)
            val dirs = shardDirs(root, store.tables)
            val t = frac.fold(Long.MaxValue)(f =>
              (dirs.map(fs.getContentSummary(_).getLength).max * f).toLong)
            val snap = new Path(root + "_snap")
            fs.delete(snap, true)
            def saved(d: Path) =
              new Path(snap, s"${d.getParent.getName}/${d.getName}")
            dirs.foreach(d => FileUtil.copy(fs, d, fs, saved(d), false,
              spark.sparkContext.hadoopConfiguration))
            def check(what: String): Unit = {
              val got = store.readout(root)
              assert(got == expect, s"${store.name}: $steps, $what after " +
                s"$id at $t lost/gained " + expect.zip(got)
                  .map { case (e, g) => (e -- g, g -- e) })
            }
            store.compact(root, t)
            check("pass")
            if (crash) {
              // the rename-done crash window: every absorbed source is back
              dirs.filterNot(fs.exists).foreach(d => FileUtil.copy(fs,
                saved(d), fs, d, false, spark.sparkContext.hadoopConfiguration))
              store.compact(root, t)
              check("crash replay")
            }
          }
        }
        fs.delete(new Path(root), true)
        fs.delete(new Path(root + "_snap"), true)
        true
      }
      val res = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(2).withWorkers(1)
        .withInitialSeed(Seed(20261017L + k)), prop)
      assert(res.passed,
        Pretty.pretty(Pretty.prettyTestRes(res), Pretty.Params(2)))
    }

  test("a tier whose _sources lists other shards is refused and no source is deleted") {
    val root = tmpRoot("manifest")
    val p = CdcStore.Params(maskBits = 4, minLen = 12, maxLen = 48,
      nBuckets = 2)
    def corpus(idBase: Long, n: Int): DataFrame =
      frame((0 until n).map(i => (idBase + i, text(idBase + i))))
    CdcStore.build(corpus(0, 300), "doc_id", "text", root, p)
    CdcStore.addShard(spark, root, corpus(1000, 60), "doc_id", "text", "s1")
    CdcStore.addShard(spark, root, corpus(2000, 60), "doc_id", "text", "s2")
    val dir = s"$root/digests"
    def part(s: String) = new Path(s"$dir/ingest_shard=$s")
    val tier = Seq("s1", "s2").map(s => fs.getContentSummary(part(s))
      .getLength).max
    require(fs.getContentSummary(part("base")).getLength > tier,
      "fixture: base must sit above the tier")
    // the tier name {s1, s2} derives, holding a copy of base's rows and a
    // manifest naming other shards
    val planted = part(ShardTiers.tierId(Seq("s1", "s2")))
    FileUtil.copy(fs, part("base"), fs, planted, false,
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(planted, "_sources"), true)
    try out.write("s7\ns9".getBytes("UTF-8")) finally out.close()
    val before = rows(CdcStore.currentDigests(spark, root))
    intercept[IllegalStateException] {
      CdcStore.compactShards(spark, root, tier)
    }
    assert(Seq("base", "s1", "s2").forall(s => fs.exists(part(s))),
      "every source dir survives")
    assert(rows(CdcStore.currentDigests(spark, root)) == before)
  }
}
