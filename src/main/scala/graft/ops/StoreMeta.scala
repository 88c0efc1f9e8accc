package graft.ops

import org.apache.spark.sql.SparkSession

/** Driver-side memo of persisted-store LAYOUT STATE that is immutable
  * between (re)builds — the `meta/` parameter rows every store writes
  * once at build time, and SemDedupStore's frozen centroid array.
  *
  * Why: every addShard / probe / report call re-ran a full Spark
  * execution (parquet listing + head/collect job + driver round-trip)
  * to re-learn a handful of scalars that cannot have changed — one
  * pure-overhead execution per micro-batch across the whole streaming
  * store-sink family, and one per probe. The memo answers from the
  * driver after the first read.
  *
  * Coherence: each entry carries a freshness token, the name of the
  * first part file of the state dir it was loaded from. Spark names
  * every written file with a fresh job UUID, so any overwrite of the dir
  * — by a rebuild, another session or a copy from elsewhere — changes
  * the token, and the next read reloads. The check is one driver-side
  * directory listing, no Spark execution. Build paths refresh the entry
  * when they (re)write the state, so the first probe after a build
  * needs no load. Values are tiny (params case classes, one centroid
  * array per live store root).
  */
private[ops] object StoreMeta {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Any)]()

  private def token(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) ""
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("part-")).minOption.getOrElse("")
  }

  /** Memoized load of the state in `dir`: `kind` namespaces the store
    * family so two stores rooted at the same path can never read each
    * other's entry. */
  def cached[T](spark: SparkSession, kind: String, dir: String)(
      load: => T): T = {
    val t = token(spark, dir)
    val hit = cache.get((kind, dir))
    if (hit != null && hit._1 == t) hit._2.asInstanceOf[T]
    else {
      val v = load
      cache.put((kind, dir), (t, v))
      v
    }
  }

  /** Refresh after a (re)write of the state in `dir`. */
  def put[T](spark: SparkSession, kind: String, dir: String, v: T): Unit =
    cache.put((kind, dir), (token(spark, dir), v))
}
