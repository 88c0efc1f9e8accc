package graft

import org.apache.spark.sql.SparkSession

/** Standard session builder for graft deployments: the engine's recommended
  * runtime configuration in one place (the analogue of the reference's
  * `create_spark_session`, `/root/reference/src/utils/spark_session.py:7-33`,
  * minus the cloud-credential plumbing).
  *
  * Settings and why:
  *  - AQE + coalescing + skew-join: runtime re-planning is the first-line
  *    answer to stale stats and skew at 100 TB.
  *  - shuffle partitions sized to the caller's parallelism (cluster deploys
  *    pass cores x executors x 2-3; never the 200 default).
  *  - UTC session timezone: deterministic calendar functions.
  *  - legacy nanos-as-long: tolerate TIMESTAMP(NANOS) parquet inputs.
  *  - legacy time-parser policy + legacy parquet datetime rebase on write
  *    (`spark_session.py:21-22` config parity): `to_timestamp` keeps the
  *    reference's permissive SimpleDateFormat semantics — a matching
  *    prefix parses despite trailing text, unpadded fields are accepted
  *    (see SessionSpec) — and pre-1582 timestamps written to parquet use
  *    the hybrid Julian calendar the reference's downstream readers
  *    expect. Deployments reading modern-only data may flip these
  *    back to CORRECTED; the recommended session matches the reference so
  *    parse behavior doesn't silently change on migration.
  *  - native vector functions registered for SQL users.
  *  - plan-string rendering bounded (1 MB): unbounded treeString output
  *    is a driver OOM/latency hazard on deep cached-pipeline lineage —
  *    see the conf comment below.
  */
object GraftSession {

  /** The recommended runtime configuration as data — what [[builder]]
    * applies, exposed so deployments (and the config-parity spec) can
    * audit or selectively override it. */
  def recommendedConfs(shufflePartitions: Int = 32): Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.legacy.timeParserPolicy" -> "LEGACY",
    // the reference (Spark 3) spells this spark.sql.legacy.parquet.
    // datetimeRebaseModeInWrite; Spark 4 REMOVED that alias and session
    // construction fails on it — same semantics under the new key
    "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY",
    // Spark's default plan-string cap (~2^31 chars) exceeds what a Java
    // String can HOLD (2^30): a long pipeline whose cached frames nest —
    // every persist() renders the plan via treeString, and rendering
    // expands the shared plan DAG into a tree, so join branches reusing
    // an upstream cached frame multiply the rendered size per lineage
    // level — dies with `OutOfMemoryError: UTF16 String size is ...`
    // before truncation ever engages (the 10M-doc `Smoke corpus` run hit
    // exactly this at its 7th chained persist, BASELINE.md r11). Plan
    // strings are diagnostics; 1M chars is plenty, and the cap also
    // bounds the RENDER COST itself, which grows multiplicatively with
    // pipeline depth while data scales — a 100 TB job with deep cached
    // lineage would otherwise burn minutes per persist building
    // gigabyte strings nobody reads.
    "spark.sql.maxPlanStringLength" -> "1048576")

  def builder(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Int = 32): SparkSession.Builder = {
    var b = SparkSession.builder().appName(appName)
    recommendedConfs(shufflePartitions).foreach { case (k, v) => b = b.config(k, v) }
    master.foreach(m => b = b.master(m))
    b
  }

  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val s = builder(appName, Some(s"local[$cores]"), shufflePartitions = cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(s)
    s
  }
}
