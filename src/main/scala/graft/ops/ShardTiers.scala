package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The shard lifecycle shared by the five persisted stores
  * ([[IncrementalDedup]], [[SemDedupStore]], [[CdcStore]], [[Bm25Store]],
  * [[ExactSubstrStore]]): shard listing, size-tiered compaction with its
  * crash protocol, and the gated store-side probe.
  *
  * LAYOUT. A store table is one parquet dir partitioned by `ingest_shard`:
  * every ingest lands its own `ingest_shard=<id>` dir by dynamic partition
  * overwrite, so a replay rewrites exactly that dir.
  *
  * TIERS ([[compact]]). The sources are the shard dirs of at most
  * `tierMaxBytes` (default ∞ = fold everything); with two or more, their
  * rows fold by the table's own consolidation rule into ONE tier dir
  * `ingest_shard=compacted_<hex>`, where `<hex>` is a truncated SHA-256 of
  * the sorted source list, so distinct source sets get distinct names
  * (names derived from a sum of hash codes collided: batch ids {1,4} and
  * {2,3} shared one). Protocol:
  *  1. write the folded rows to the sibling `<table>__compact_stage` (a
  *     stray subdir under the table would break partition discovery, and
  *     Spark refuses to overwrite a path it is reading);
  *  2. write the sorted source list into the stage as `_sources` — Spark's
  *     file index skips `_`-prefixed names, so no read ever sees it;
  *  3. rename the stage into place as the tier dir;
  *  4. delete the sources.
  * A crash before 3 leaves the sources intact and a stage the re-run
  * discards. A crash between 3 and 4 leaves the tier next to its sources:
  * the re-run selects the same sources, derives the same name, finds the
  * target and only finishes 4 — never re-reading sources next to their
  * absorbed copy — and it does so only when the target's `_sources` equals
  * the source set. Any other target throws [[IllegalStateException]] and
  * deletes nothing. A crash inside 4 leaves a partial source set, which the
  * re-run folds into a new tier, duplicating its rows; every consolidation
  * rule is idempotent on duplicates, so a compact-everything run repairs it.
  *
  * CONTRACT. Single writer: one ingest or compaction at a time per store.
  * Compact only shards whose ingest has completed, and never re-ingest a
  * compacted shard id — a tier is identified by its sources' names, and
  * the absorbed shard no longer owns the dir a replay would overwrite.
  *
  * PROBES ([[probe]]). Within the broadcast gate the shard's keys broadcast
  * whole; past it the probe runs per-bucket legs pruned to one `__bkt` on
  * both sides, so store rows never ride an exchange at any shard size. */
private[ops] object ShardTiers {

  /** Broadcast gate for the store-side probes: a shard with more distinct
    * keys than this probes bucket by bucket, since an unconditional
    * broadcast is an un-refusable driver OOM. The legs replaced a
    * whole-index shuffle: 219s at the 10M-doc 2%-shard ExactSubstr smoke
    * point against 33.6–40.4s for the legs (`Smoke dedup`, 4 cores,
    * BASELINE.md r16). Size a store's `nBuckets` so a worst-case shard's
    * distinct keys divided by it stay under the gate. */
  val MaxBroadcastKeys: Long = 4000000L

  private val Part = "ingest_shard="
  private val Manifest = "_sources"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Shard ids with a partition dir under `path` (none if it is absent). */
  def shards(spark: SparkSession, path: String): Seq[String] = {
    val dir = new Path(path)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(Part))
      .map(_.getPath.getName.stripPrefix(Part))
  }

  /** Idempotent shard write: dynamic partition overwrite replaces exactly
    * `path/ingest_shard=<shardId>`, leaving every other shard's files
    * untouched. A `bucket` column is computed per row into `__bkt=`
    * subdirs, never repartitioned, so the write stays exchange-free
    * (the planned V1 write sorts within tasks by partition columns and
    * streams one open file at a time). */
  def writeShard(df: DataFrame, path: String, shardId: String,
      bucket: Option[Column]): Unit = {
    val tagged = df.withColumn("ingest_shard", lit(shardId))
    bucket.fold(tagged)(b => tagged.withColumn("__bkt", b))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(("ingest_shard" +: bucket.map(_ => "__bkt").toSeq): _*)
      .parquet(path)
  }

  /** Bytes under `path`, 0 if it is absent. */
  def bytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** The tier's shard id: a digest of the sorted source list. */
  def tierId(sources: Seq[String]): String =
    "compacted_" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(manifest(sources).getBytes(UTF_8)).take(8)
      .map(b => f"${b & 0xff}%02x").mkString

  private def manifest(sources: Seq[String]): String =
    sources.sorted.mkString("\n")

  /** One shard-partitioned table: `consolidate` maps the sources' rows
    * (read with `schema`, `ingest_shard` dropped) to the tier's rows,
    * written partitioned by `partitionBy`. */
  final case class Table(path: String, schema: StructType,
      consolidate: DataFrame => DataFrame, partitionBy: Seq[String] = Nil)

  /** Fold the shard dirs of `lead` at or under `tierMaxBytes` into one
    * tier (see the protocol above). Each `follower` is a sidecar table
    * keyed by the same shard ids: it folds the same sources, where it has
    * them, under the same tier id. The lead's sources are deleted last, so
    * a crash anywhere re-selects the same source set. Returns the lead's
    * (shard dirs before, after). */
  def compact(spark: SparkSession, tierMaxBytes: Long, lead: Table,
      followers: Table*): (Int, Int) = {
    val before = shards(spark, lead.path)
    val sources = before.filter(s =>
      bytes(spark, s"${lead.path}/$Part$s") <= tierMaxBytes)
    if (sources.size <= 1) return (before.size, before.size)
    val id = tierId(sources)
    val absorbed = (lead +: followers).map(promote(spark, _, sources, id))
    absorbed.reverse.flatten.foreach(p => fsOf(spark, p).delete(p, true))
    (before.size, shards(spark, lead.path).size)
  }

  /** Steps 1-3 for one table, or the manifest check when the tier is
    * already in place. Returns the source dirs the caller deletes. */
  private def promote(spark: SparkSession, t: Table, sources: Seq[String],
      id: String): Seq[Path] = {
    val dir = new Path(t.path)
    val fs = fsOf(spark, dir)
    val present = sources.filter(s => fs.exists(new Path(dir, Part + s)))
    val target = new Path(dir, Part + id)
    if (fs.exists(target)) {
      val m = new Path(target, Manifest)
      val found = if (!fs.exists(m)) "" else {
        val in = fs.open(m)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      if (found != manifest(sources))
        throw new IllegalStateException(
          s"tier $target exists but its $Manifest does not list exactly " +
            s"the sources [${sources.sorted.mkString(", ")}]; refusing to " +
            "delete them")
    } else if (present.nonEmpty) {
      val stage = new Path(t.path + "__compact_stage")
      fs.delete(stage, true) // leftover from a crashed attempt
      t.consolidate(spark.read.schema(t.schema).parquet(t.path)
          .filter(col("ingest_shard").isin(present: _*))
          .drop("ingest_shard"))
        .write.mode("overwrite").partitionBy(t.partitionBy: _*)
        .parquet(stage.toString)
      val out = fs.create(new Path(stage, Manifest), true)
      try out.write(manifest(sources).getBytes(UTF_8)) finally out.close()
      require(fs.rename(stage, target), s"compact promote failed: $stage")
    }
    present.map(s => new Path(dir, Part + s))
  }

  /** Distinct keys per bucket of a (key, `__bkt`) frame of distinct keys,
    * sorted by bucket: one collect of at most nBuckets rows. */
  def bucketCounts(keys: DataFrame): Seq[(Int, Long)] =
    keys.groupBy(col("__bkt")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Rows of `prior` (store rows plus `__bkt`) whose `key` is among `keys`
    * (the shard's distinct keys plus `__bkt`), without `__bkt`.
    *
    * Within the gate (`totalKeys <= maxBroadcastKeys`): one broadcast
    * left_semi join, lazily composed. Past it: sequential per-bucket legs,
    * each pruned to one `__bkt` on both sides and broadcasting only that
    * bucket's keys (a single bucket over the gate shuffles its 1/nBuckets
    * slice instead), appending its matches to `root/tmpName`. Broadcast
    * memory stays leg-bounded, which is why the legs are a driver loop and
    * not one unioned plan. The result then scans the temp, returned as the
    * second element for the caller to [[dropTemp]] once it is consumed.
    * `counts` ([[bucketCounts]] of `keys`) is forced only past the gate; the
    * legs run under the StageTimers stage `timer`. */
  def probe(root: String, tmpName: String, timer: String, prior: DataFrame,
      keys: DataFrame, key: String, totalKeys: Long, maxBroadcastKeys: Long)(
      counts: => Seq[(Int, Long)]): (DataFrame, Option[String]) = {
    val rows = prior.drop("__bkt")
    if (totalKeys <= maxBroadcastKeys)
      return (rows.join(broadcast(keys.select(col(key))), Seq(key),
        "left_semi"), None)
    val spark = prior.sparkSession
    val tmp = s"$root/$tmpName"
    dropTemp(spark, Some(tmp))
    val legs = counts
    // no seed write: the first leg's append creates the dir, and the
    // explicit-schema read below is empty-safe
    graft.bench.StageTimers.time(timer) {
      legs.foreach { case (b, n) =>
        val keysB = keys.filter(col("__bkt") === lit(b)).select(col(key))
        prior.filter(col("__bkt") === lit(b)).drop("__bkt")
          .join(if (n <= maxBroadcastKeys) broadcast(keysB) else keysB,
            Seq(key), "left_semi")
          .write.mode("append").parquet(tmp)
      }
    }
    (spark.read.schema(rows.schema).parquet(tmp), Some(tmp))
  }

  /** Delete a probe temp returned by [[probe]]. */
  def dropTemp(spark: SparkSession, tmp: Option[String]): Unit =
    tmp.foreach { t =>
      val p = new Path(t)
      fsOf(spark, p).delete(p, true)
    }
}
