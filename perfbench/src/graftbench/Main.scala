package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one timed operation produced. `items` is the unit of work the
  * throughput metric counts; `latencies` holds named sub-operation wall
  * times (seconds); `check` runs after the clock stops and returns the
  * failed invariants (empty when the output is correct), a content digest
  * and any facts the ledger reports. */
final case class Op(items: Long, latencies: Map[String, Seq[Double]],
    check: () => Checked)

final case class Checked(failures: Seq[String], digest: String,
    facts: Map[String, Double] = Map.empty)

/** A closed-loop workload: one client issuing its next call only after the
  * previous one returned. */
trait Workload {
  /** Generate the inputs under `dir` (empty) and build the snapshots every
    * op starts from. */
  def setup(dir: String): Unit
  /** Put the mutable state back to the set-up snapshot. */
  def restore(): Unit
  /** The timed operation. */
  def run(): Op
  /** Trace-only layer probes, run after a traced op outside its clock. */
  def ledger(): Map[String, Double] = Map.empty
  /** The last op with its output damaged the way a defect would damage it
    * (self-test only): its check must report the damage. */
  def corrupt(): Op
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, scale: Double): Workload =
    name match {
      case "etl_txn" => new EtlWorkload(spark, seed, scale)
      case "store_ingest" => new StoreWorkload(spark, seed, scale)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  val names = Seq("etl_txn", "store_ingest")
}

object LocalFiles {
  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }
  def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val it = Files.walk(src)
    try it.forEach { (p: Path) =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally it.close()
  }
  /** Writes (id, text) rows as parquet through an RDD: a local-rows
    * DataFrame would carry every row in its plan. */
  def writeDocs(spark: SparkSession, rows: Seq[(Long, String)], cols: (String, String),
      path: String, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files))
      .toDF(cols._1, cols._2).write.parquet(path)

  def bytes(p: String): Long = {
    val f = new File(p)
    if (!f.exists()) 0L else org.apache.commons.io.FileUtils.sizeOfDirectory(f)
  }
}

/** Runs one workload for a fixed time and writes the raw samples as JSON.
  * Statistics are computed from this record by perfbench/ledger.py.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workdir> <out.json>
  *        Main selftest <workdir> <out.json> */
object Main {
  val SetupReps = 2
  val WarmupOps = 1

  private def session(cores: Int): SparkSession =
    graft.GraftSession.local(cores = cores, appName = "perfbench")

  private def log(msg: String): Unit = System.err.println("[perfbench] " + msg)

  private def hygiene(spark: SparkSession, w: Workload): Unit = {
    graft.ops.Caching.releaseAll()
    spark.catalog.clearCache()
    w.restore()
    System.gc()
  }

  /** The op's check result; an op or check that threw is a failed op. */
  private def checked(op: Try[Op]): Checked =
    op.flatMap(o => Try(o.check())).fold(e => Checked(Seq(s"op failed: $e"), ""), identity)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def write(out: String, doc: Map[String, Any]): Unit = {
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(out), m.writeValueAsBytes(doc))
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "selftest") selftest(args(1), args(2))
    else bench(args(0), args(1).toLong, args(2).toDouble, args(3) == "1", args(4), args(5))

  private def bench(name: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores)
    Trace.install(spark, trace)
    val w = Workload(name, spark, seed, 1.0)
    val setupS = (1 to SetupReps).map { _ =>
      LocalFiles.deleteTree(work)
      new File(work).mkdirs()
      val t0 = System.nanoTime()
      w.setup(work)
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"setup $dt%.2fs")
      dt
    }
    val warmFailures = ArrayBuffer[String]()
    for (_ <- 1 to WarmupOps) {
      hygiene(spark, w)
      val t0 = System.nanoTime()
      warmFailures ++= checked(Try(w.run())).failures
      log(f"warm-up ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    val ops = ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    var i = 0
    // a traced run needs one op of each kind
    val minOps = if (trace) 2 else 1
    while (i < minOps || (System.nanoTime() - start) / 1e9 < seconds) {
      hygiene(spark, w)
      // traced runs alternate untraced and traced ops, so the tracing
      // overhead is measured under the same conditions as the ops it slows
      val traced = trace && i % 2 == 1
      Trace.drain()
      val execs0 = Trace.sqlExecs.get
      Trace.enabled = traced
      val t0 = System.nanoTime()
      val op = Try(Trace.span("op")(w.run()))
      val wall = (System.nanoTime() - t0) / 1e9
      Trace.drain()
      val execs = Trace.sqlExecs.get - execs0
      val ledger =
        if (traced && op.isSuccess) Trace.span("ledger")(w.ledger()) else Map.empty[String, Double]
      Trace.enabled = false
      val c = checked(op)
      log(f"op $i traced=$traced wall=$wall%.2fs execs=$execs failures=${c.failures.size}")
      ops += Map("traced" -> traced, "wall_s" -> wall, "items" -> op.map(_.items).getOrElse(0L),
        "latencies" -> op.map(_.latencies).getOrElse(Map.empty), "sql_execs" -> execs,
        "failures" -> c.failures, "digest" -> c.digest,
        "facts" -> (c.facts ++ ledger), "spans" -> Trace.take())
      i += 1
    }
    val confs = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.") &&
      !k.contains("dir") && !k.contains("host") && !k.contains("port") &&
      !k.contains(".id") && !k.contains("startTime") }
    write(out, Map("workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "spark_confs" -> confs,
      "setup_s" -> setupS, "warmup_failures" -> warmFailures.toSeq,
      "ops" -> ops.toSeq, "peak_rss_mb" -> peakRssMb()))
    spark.stop()
  }

  /** Each workload at a small scale: a clean op must pass its checks, and
    * the same op with its output damaged must fail them. */
  private def selftest(work: String, out: String): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors())
    Trace.install(spark, traced = false)
    val results = Workload.names.map { name =>
      val w = Workload(name, spark, 7L, 0.1)
      LocalFiles.deleteTree(work)
      new File(work).mkdirs()
      w.setup(work)
      hygiene(spark, w)
      val clean = w.run().check().failures
      hygiene(spark, w)
      w.run()
      val damaged = w.corrupt().check().failures
      name -> Map("clean_failures" -> clean, "corrupt_failures" -> damaged)
    }.toMap
    write(out, results)
    spark.stop()
  }
}
