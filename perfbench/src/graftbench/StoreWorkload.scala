package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bm25Store, Dedup, IncrementalDedup}

/** `store_ingest`: write-beside-read on the shard stores. Each op is one
  * micro-batch: from the set-up snapshot of an `IncrementalDedup` index and
  * a `Bm25Store` built over the same base corpus, it ingests a shard into
  * both (a planted share of the shard is near-duplicates of base docs) and
  * serves one `Bm25Store.topK` batch. Shards are small, so the cost is
  * dominated by the fixed per-execution overhead of the store code.
  *
  * The traced run also probes compaction of both stores and the batch
  * dedup layer the index is built from (`Dedup.minhashSignatures`,
  * `minhashLshPairs`, `dedupByClusters`) over the same documents. */
final class StoreWorkload(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  import StoreWorkload.Result

  private val nBase = (600 * scale).toInt.max(200)
  private val nShards = 1
  private val shardDocs = (100 * scale).toInt.max(40)
  private val plantedPerShard = shardDocs / 10
  private val nQueries = 25
  private val k = 10

  private var dir: String = _
  private def incRoot = s"$dir/stores/incdedup"
  private def bmRoot = s"$dir/stores/bm25"
  private def snapshot = s"$dir/snapshot"
  private var shards: Seq[DataFrame] = Nil
  private var queries: Seq[DataFrame] = Nil
  private var planted: Seq[Set[Long]] = Nil
  private var textBytes = 0L
  private var basePath: String = _
  private var last: Result = _

  def setup(d: String): Unit = {
    dir = d
    val r = new SplittableRandom(seed)
    val base = Array.fill(nBase)(Gen.randomDoc(r, 40, 80))
    var nextId = nBase.toLong
    val shardRows = (0 until nShards).map { _ =>
      val docs = (0 until shardDocs).map { j =>
        val id = nextId + j
        if (j < plantedPerShard) id -> Gen.nearDup(r, base(r.nextInt(nBase)))
        else id -> Gen.randomDoc(r, 40, 80)
      }
      nextId += shardDocs
      docs
    }
    planted = shardRows.map(_.take(plantedPerShard).map(_._1).toSet)
    val corpus = base.toSeq ++ shardRows.flatten.map(_._2)
    textBytes = corpus.map(_.mkString(" ").length.toLong).sum
    // a query is a few consecutive words of some document
    queries = (0 until nShards).map { s =>
      val q = (0 until nQueries).map { i =>
        val doc = corpus(r.nextInt(corpus.size))
        val from = r.nextInt(doc.length - 6)
        (i.toLong, doc.slice(from, from + 3 + r.nextInt(4)).mkString(" "))
      }
      val path = s"$dir/input/queries_$s"
      LocalFiles.writeDocs(spark, q, ("qid", "q"), path, 1)
      spark.read.parquet(path)
    }
    shards = shardRows.zipWithIndex.map { case (docs, s) =>
      val path = s"$dir/input/shard_$s"
      LocalFiles.writeDocs(spark, docs.map { case (id, t) => (id, t.mkString(" ")) },
        ("id", "text"), path, 1)
      spark.read.parquet(path)
    }
    basePath = s"$dir/input/base"
    LocalFiles.writeDocs(spark, base.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) },
      ("id", "text"), basePath, 4)
    val baseDf = spark.read.parquet(basePath)
    IncrementalDedup.buildIndex(baseDf, "id", "text", incRoot)
    Bm25Store.build(baseDf, "id", "text", bmRoot)
    LocalFiles.copyTree(s"$dir/stores", snapshot)
  }

  def restore(): Unit = LocalFiles.copyTree(snapshot, s"$dir/stores")

  private def timed[T](acc: scala.collection.mutable.ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    acc += (System.nanoTime() - t0) / 1e9
    v
  }

  def run(): Op = {
    import scala.collection.mutable.ArrayBuffer
    val ingest, query = ArrayBuffer[Double]()
    val reports, bmReports, hits = ArrayBuffer[Array[Row]]()
    shards.zipWithIndex.foreach { case (shard, s) =>
      timed(ingest) {
        reports += Trace.span("ops.incdedup.add") {
          IncrementalDedup.addShard(spark, incRoot, shard, "id", "text", s"s$s").collect()
        }
        bmReports += Trace.span("ops.bm25.add") {
          Bm25Store.addShard(spark, bmRoot, shard, "id", "text", s"s$s").collect()
        }
      }
      hits += timed(query) {
        Trace.span("ops.bm25.topk") {
          Bm25Store.topK(spark, bmRoot, queries(s), "qid", "q", k).collect()
        }
      }
    }
    val batches = ingest.zip(query).map { case (a, b) => a + b }
    last = Result(reports.toSeq, bmReports.toSeq, hits.toSeq)
    val res = last
    Op(nShards.toLong * shardDocs,
      Map("ingest" -> ingest.toSeq, "query" -> query.toSeq, "batch" -> batches.toSeq),
      () => check(res))
  }

  private def check(res: Result): Checked = {
    val failures = Seq.newBuilder[String]
    var flagged = 0L
    res.reports.zip(planted).zipWithIndex.foreach { case ((rows, plant), s) =>
      if (rows.length != shardDocs) failures += s"shard $s report has ${rows.length} rows"
      val dropped = rows.filterNot(_.getAs[Boolean]("survived")).map(_.getAs[Long]("id")).toSet
      val stray = dropped -- plant
      if (stray.nonEmpty) failures += s"shard $s dropped unplanted docs ${stray.take(3)}"
      val found = (dropped & plant).size
      // LSH recall on a 1-token edit of a 40-80 token doc is ~0.9998 per doc
      if (found < plant.size * 0.95) failures += s"shard $s found $found of ${plant.size} planted"
      flagged += found
    }
    res.bmReports.zipWithIndex.foreach { case (rows, s) =>
      if (rows.length != 1 || rows(0).getAs[Long]("n_docs") != shardDocs)
        failures += s"bm25 shard $s report ${rows.map(_.toString).mkString}"
    }
    res.hits.zipWithIndex.foreach { case (rows, s) =>
      val byQ = rows.groupBy(_.getAs[Long]("qid"))
      if (byQ.size != nQueries) failures += s"batch $s answered ${byQ.size} of $nQueries queries"
      byQ.foreach { case (q, rs) =>
        val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
        if (rs.length > k) failures += s"batch $s query $q returned ${rs.length} > $k rows"
        else if (ranks != (1 to rs.length)) failures += s"batch $s query $q ranks $ranks"
      }
    }
    val dropped = IncrementalDedup.droppedIds(spark, incRoot).count()
    if (dropped != flagged) failures += s"index dropped $dropped != reported $flagged"
    val nDocs = Bm25Store.currentStats(spark, bmRoot).head().getLong(0)
    val total = nBase.toLong + nShards * shardDocs
    if (nDocs != total) failures += s"bm25 n_docs $nDocs != $total"
    val storeBytes = LocalFiles.bytes(s"$dir/stores")
    val digest = res.hits.map(_.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
      r.getAs[Int]("rank"))).sorted.mkString(",")).mkString(";").hashCode
    val shardDirs = Seq(s"$incRoot/buckets", s"$incRoot/shingles", s"$incRoot/labels",
      s"$bmRoot/postings").map { p =>
      Option(new java.io.File(p).listFiles()).toSeq.flatten.count(_.getName.startsWith("ingest_shard="))
    }.sum
    Checked(failures.result(), s"$dropped:$digest",
      Map("ops.store.bytes" -> storeBytes.toDouble,
        "ops.store.shard_dirs" -> shardDirs.toDouble,
        "store.bytes_per_input_byte" -> storeBytes.toDouble / textBytes))
  }

  /** Layer probes: compaction of both stores (maintenance that a
    * micro-batch does not wait for), then, over the base corpus and the
    * shards, the signature kernels alone into a no-op sink, batch LSH pairs
    * and cluster dedup, and the LSH candidate count the pair verify
    * filters. */
  override def ledger(): Map[String, Double] = {
    Trace.span("ops.incdedup.compact")(IncrementalDedup.compactShards(spark, incRoot))
    Trace.span("ops.bm25.compact")(Bm25Store.compactShards(spark, bmRoot))
    val docs = shards.foldLeft(spark.read.parquet(basePath))(_ unionByName _)
    val sigs = Dedup.minhashSignatures(docs, "id", "text", 5, 32)
    Trace.span("functions.minhash_sigs")(sigs.write.format("noop").mode("overwrite").save())
    val pairs = Trace.span("ops.dedup.lsh_pairs")(Dedup.minhashLshPairs(docs, "id", "text").collect())
    Trace.span("ops.dedup.clusters") {
      val pdf = spark.createDataFrame(pairs.toSeq.map(r => (r.getLong(0), r.getLong(1))))
        .toDF("id_a", "id_b")
      Dedup.dedupByClusters(docs, "id", pdf).count()
    }
    val buckets = sigs.select(col("id"), explode(Dedup.lshBandHashes(col("sig"), 32, 8)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bucket").as("bucket"))
    val candidates = buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id")).select(col("x.id"), col("y.id")).distinct().count()
    Map("ops.dedup.pairs" -> pairs.length.toDouble, "ops.dedup.candidates" -> candidates.toDouble,
      "functions.docs" -> (nBase + nShards * shardDocs).toDouble)
  }

  /** Pads one query of the last batch to k + 1 hits. */
  def corrupt(): Op = {
    val h = last.hits.last
    val q = h.head.getAs[Long]("qid")
    val extra = Array.fill(k + 1 - h.count(_.getAs[Long]("qid") == q))(h.head)
    val bad = last.copy(hits = last.hits.init :+ (h ++ extra))
    Op(0, Map.empty, () => check(bad))
  }
}

object StoreWorkload {
  /** Collected outputs of one op: per shard, the dedup report, the BM25
    * ingest report and the topK hits. */
  final case class Result(reports: Seq[Array[Row]], bmReports: Seq[Array[Row]],
      hits: Seq[Array[Row]])
}
