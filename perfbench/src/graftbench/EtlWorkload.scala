package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Config, Orchestrator}
import graft.quality.DataQuality
import graft.schema.Schemas
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.TransactionTransform

/** `etl_txn`: the reference banking pipeline, `Orchestrator.runAll` over a
  * seeded customer / account / transaction delivery. Every pipeline lands
  * in a keyed upsert target that set-up has already loaded with a first
  * delivery, so each op takes the merge path: CSV parse, the one
  * `account_id` window exchange, the broadcast stats join, the fused
  * quality scan and the partitioned write.
  *
  * The second delivery re-sends a share of already-loaded transaction ids
  * (as status "reversed"), puts a few hot accounts far above 100 rows per
  * 30 days, mixes currencies and carries dirty rows, so the clean stage's
  * drop rule, the window frames and the merge's update leg all do work. */
final class EtlWorkload(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  private val nCust = (1000 * scale).toInt.max(50)
  private val nAcct = (2000 * scale).toInt.max(80)
  private val nTxn = (20000 * scale).toInt.max(1000)
  private val redeliver = nTxn / 10

  private val config = Config.fromJson(
    """{"pipelines_to_run": ["customer", "account", "transaction"],
      | "pipelines": {
      |  "customer": {"source_type": "local", "source_path": "customers",
      |   "target_type": "redshift", "target_table": "dim_customer",
      |   "key_columns": ["customer_id"], "fail_on_quality_check": true,
      |   "data_quality": {"table_name": "dim_customer",
      |    "required_columns": ["customer_id", "first_name", "last_name", "email"],
      |    "key_columns": ["customer_id"], "range_checks": {"credit_score": [300, 850]}}},
      |  "account": {"source_type": "local", "source_path": "accounts",
      |   "target_type": "redshift", "target_table": "dim_account",
      |   "key_columns": ["account_id"], "fail_on_quality_check": true,
      |   "data_quality": {"table_name": "dim_account",
      |    "required_columns": ["account_id", "customer_id", "account_type", "open_date"],
      |    "key_columns": ["account_id"],
      |    "range_checks": {"balance": [0, 10000000], "interest_rate": [0, 30]}}},
      |  "transaction": {"source_type": "local", "source_path": "transactions",
      |   "target_type": "redshift", "target_table": "fact_transaction",
      |   "key_columns": ["transaction_id"],
      |   "partition_cols": ["transaction_year", "transaction_month"],
      |   "fail_on_quality_check": false,
      |   "data_quality": {"table_name": "fact_transaction",
      |    "required_columns": ["transaction_id", "account_id", "transaction_date", "amount"],
      |    "key_columns": ["transaction_id"], "range_checks": {"amount": [0, 1000000]}}}
      | }}""".stripMargin)

  private var dir: String = _
  private def out = s"$dir/out"
  private def snapshot = s"$dir/snapshot"
  private def delivery = s"$dir/delivery"
  // expectations, from the generator
  private var expectTxn = 0L
  private var expectReversed = 0L
  private var expectCust = 0L
  private var expectAcct = 0L

  def setup(d: String): Unit = {
    dir = d
    val first = s"$dir/first"
    val custFirst = 0 until nCust
    val custNext = (nCust * 4 / 5) until (nCust * 11 / 10)
    val acctFirst = 0 until nAcct
    val acctNext = (nAcct * 4 / 5) until (nAcct * 11 / 10)
    Gen.writeCustomers(s"$first/customers/part-0.csv", seed, custFirst)
    Gen.writeAccounts(s"$first/accounts/part-0.csv", seed + 1, acctFirst, nCust)
    val t0 = Gen.writeTransactions(s"$first/transactions/part-0.csv", seed + 2,
      0, nTxn, nAcct, 5, 650, None, 0)
    Gen.writeCustomers(s"$delivery/customers/part-0.csv", seed + 3, custNext)
    Gen.writeAccounts(s"$delivery/accounts/part-0.csv", seed + 4, acctNext, nCust)
    val t1 = Gen.writeTransactions(s"$delivery/transactions/part-0.csv", seed + 5,
      nTxn, nTxn, nAcct, 5, 650, Some(t0), redeliver)
    def kept(b: Gen.TxnBatch) = b.ids.indices.filterNot(b.dropped).map(b.ids)
    expectTxn = (kept(t0) ++ kept(t1)).distinct.size
    expectReversed = t1.redelivered
    expectCust = (custFirst ++ custNext).distinct.size
    expectAcct = (acctFirst ++ acctNext).distinct.size
    new Orchestrator(spark, config, first, snapshot).runAll()
  }

  def restore(): Unit = LocalFiles.copyTree(snapshot, out)

  def run(): Op = {
    val orch = new Orchestrator(spark, config, delivery, out)
    config.pipelinesToRun.foreach { p =>
      Trace.span(s"pipeline.$p")(orch.runPipeline(p))
    }
    Op(nTxn, Map.empty, () => check())
  }

  private def fact: DataFrame = spark.read.parquet(s"$out/fact_transaction")

  private def check(): Checked = {
    val r = fact.agg(count(lit(1)), countDistinct(col("transaction_id")),
      sum(when(col("transaction_status") === "reversed", 1).otherwise(0)),
      max(col("transaction_count_30d")),
      bit_xor(xxhash64(col("transaction_id"), col("transaction_type"), col("amount"),
        col("currency"), col("transaction_count_30d"),
        col("days_since_last_transaction"))))
      .head()
    def keyed(table: String, key: String): (Long, Long) = {
      val k = spark.read.parquet(s"$out/$table")
        .agg(count(lit(1)), countDistinct(col(key))).head()
      (k.getLong(0), k.getLong(1))
    }
    val (nCustOut, nCustKeys) = keyed("dim_customer", "customer_id")
    val (nAcctOut, nAcctKeys) = keyed("dim_account", "account_id")
    val failures = Seq(
      (r.getLong(0) == expectTxn) -> s"fact rows ${r.getLong(0)} != $expectTxn",
      (r.getLong(1) == r.getLong(0)) -> s"fact keys not unique: ${r.getLong(1)} of ${r.getLong(0)}",
      (r.getLong(2) == expectReversed) -> s"updated rows ${r.getLong(2)} != $expectReversed",
      (r.getLong(3) > 100) -> s"no hot account above 100 rows/30d (max ${r.getLong(3)})",
      (nCustOut == expectCust && nCustKeys == nCustOut) -> s"dim_customer $nCustOut/$nCustKeys != $expectCust",
      (nAcctOut == expectAcct && nAcctKeys == nAcctOut) -> s"dim_account $nAcctOut/$nAcctKeys != $expectAcct")
      .collect { case (false, msg) => msg }
    val files = Option(new java.io.File(s"$out/fact_transaction").listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten.flatMap(m => Option(m.listFiles()).toSeq.flatten))
      .count(_.getName.endsWith(".parquet"))
    Checked(failures, s"${r.getLong(0)}:${r.getLong(4)}:$nCustOut:$nAcctOut",
      Map("sinks.files_written" -> files.toDouble))
  }

  /** Layer probes for the transaction pipeline. Each transform stage is
    * timed as a materialized prefix (source, source+clean, ...); the stage's
    * self time is the difference of successive prefixes. Quality and the
    * upsert then run on the materialized transform output, the upsert
    * written beside the target. */
  override def ledger(): Map[String, Double] = {
    val spec = config.pipelines("transaction")
    val src = Sources.csv(spark, s"$delivery/transactions", Some(Schemas.transactionRaw))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val stages = Seq[(String, DataFrame => DataFrame)](
      "clean" -> TransactionTransform.clean, "enrich" -> TransactionTransform.enrich,
      "metrics" -> TransactionTransform.metrics, "anomalies" -> TransactionTransform.anomalies)
    Trace.span("prefix.sources")(noop(src))
    val transformed = stages.foldLeft(src) { case (df, (name, f)) =>
      val next = f(df)
      Trace.span(s"prefix.$name")(noop(next))
      next
    }.persist()
    try {
      transformed.count()
      Trace.span("quality.checks")(DataQuality.runAllChecks(transformed, spec.dataQuality))
      Trace.span("sinks.upsert") {
        Sinks.writePartitioned(Sinks.upsert(fact, transformed, spec.keyColumns),
          s"$dir/upsert_probe", "overwrite", spec.partitionCols)
      }
    } finally transformed.unpersist()
    Map.empty
  }

  /** Drops one row from the loaded fact table. */
  def corrupt(): Op = {
    val tmp = s"$dir/corrupt_tmp"
    fact.orderBy("transaction_id").offset(1).write.mode("overwrite").parquet(tmp)
    LocalFiles.copyTree(tmp, s"$out/fact_transaction")
    Op(nTxn, Map.empty, () => check())
  }
}
