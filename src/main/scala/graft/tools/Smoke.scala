package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale smokes, one entry point:
  *
  *   runMain graft.tools.Smoke <suite> [n] [stage-filter]
  *
  * Suites: `etl`, `graph`, `winnow`, `semstore`, `dedup`, `ann`, `text`,
  * `corpus` ([[suites]]). `n` is the corpus size (each suite has its own
  * default). The filter keeps the stages whose label contains one of its
  * `|`-separated parts (quote it for the shell), e.g. `CDC|BM25` for the
  * text suite's two stores or `exsub` for the dedup suite's ExactSubstr
  * legs. A filtered-out stage still runs when a kept stage reads its
  * result, and fixture stages (corpus generation) always run. Cores come
  * from `SPARK_GRAFT_CPUS`, else the machine's count.
  *
  * Every stage prints `[tag] label seconds`, readouts print `[tag] ...`,
  * and planted fixtures are checked by in-run `require`s. Generated
  * corpora are materialized to parquet under one scratch root, which is
  * deleted when the run ends, so operators are timed over files rather
  * than over re-generation of a computed column. */
object Smoke {

  /** One suite: its default size, its output tag and its body. */
  final case class Suite(defaultN: Long, tag: String, body: Run => Unit)

  val suites: Map[String, Suite] = scala.collection.immutable.ListMap(
    "etl" -> Suite(10000000L, "scale-smoke", SmokeSuites.etl),
    "graph" -> Suite(2000000L, "graph-scale", SmokeSuites.graph),
    "winnow" -> Suite(1000000L, "winnow-scale", SmokeSuites.winnow),
    "semstore" -> Suite(300000L, "semstore-scale", SmokeSuites.semstore),
    "dedup" -> Suite(200000L, "dedup-scale", SmokeDedup.run),
    "ann" -> Suite(500000L, "ann-scale", SmokeAnn.run),
    "text" -> Suite(1000000L, "text-scale", SmokeText.run),
    "corpus" -> Suite(1000000L, "corpus-build", SmokeCorpus.run))

  private def suite(name: String): Suite = suites.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown suite '$name'; suites: ${suites.keys.mkString(", ")}"))

  /** A suite's run: the session, the corpus size, timing, the filter and
    * the scratch root every generated file lives under. */
  final class Run(val spark: SparkSession, val n: Long, tag: String,
      only: Option[String], scratch: String) {
    private val parts = only.map(_.split('|').toSeq)

    def say(msg: String): Unit = println(s"[$tag] $msg")

    private var nestedNs = 0L

    /** Runs and times `f`. The printed time excludes the stages `f`
      * forces, which print their own. */
    def timed[T](label: String)(f: => T): T = {
      val outer = nestedNs
      nestedNs = 0L
      val t0 = System.nanoTime()
      val r = f
      val total = System.nanoTime() - t0
      say(f"$label%-44s ${(total - nestedNs) / 1e9}%8.2fs")
      nestedNs = outer + total
      r
    }

    /** A filtered stage: it runs here when the filter keeps `label`,
      * else on the first call of the returned result, from a later stage
      * that reads it; otherwise never. */
    def time[T](label: String)(f: => T): () => T = {
      lazy val r = timed(label)(f)
      if (parts.forall(_.exists(label.contains))) r
      () => r
    }

    def path(name: String): String = s"$scratch/$name"

    /** `df` written once to `path(name)` and read back. */
    def materialize(name: String, df: DataFrame): DataFrame = {
      df.write.parquet(path(name))
      spark.read.parquet(path(name))
    }

    /** (doc_id, text): n word-soup docs, salt 7 ([[Smoke.soup]]). */
    lazy val soupCorpus: DataFrame = materialize("soup",
      spark.range(0, n, 1, 32).select(col("id").as("doc_id"),
        soup(col("id"), 7).as("text")))

    /** (doc_id, text): n zipf docs plus 5,000 planted copies of docs
      * 0..4999 at id + 10M with positions 32..39 re-drawn
      * ([[Smoke.zipf]]). */
    lazy val zipfCorpus: DataFrame = materialize("zipf",
      spark.range(0, n, 1, 32).select(col("id").as("doc_id"),
          zipf(col("id"), mutateTail = false).as("text"))
        .unionByName(spark.range(0, 5000, 1, 8)
          .select((col("id") + 10000000L).as("doc_id"),
            zipf(col("id"), mutateTail = true).as("text"))))
  }

  /** 40 words per doc drawn from a 5,000-word vocab by hashing
    * (salt, id, position); `tailSalt` re-draws positions 32..39. */
  def words(id: Column, salt: Int, prefix: String = "w",
      tailSalt: Option[Int] = None): Column =
    array((0 until 40).map { p =>
      val s = if (p >= 32) tailSalt.getOrElse(salt) else salt
      concat(lit(prefix), pmod(xxhash64(lit(s), id, lit(p)), lit(5000))
        .cast("string"))
    }: _*)

  def soup(id: Column, salt: Int, prefix: String = "w",
      tailSalt: Option[Int] = None): Column =
    concat_ws(" ", words(id, salt, prefix, tailSalt))

  /** Zipf-ish open vocabulary: w = h mod (h2 mod 999983 + 1) gives every
    * doc several near-unique tokens (real text's long tail), the regime
    * prefix filters and fingerprints are built for. Planted copies
    * (`mutateTail`) share their first 32 of 40 words. */
  def zipf(id: Column, mutateTail: Boolean): Column =
    concat_ws(" ", (0 until 40).map { p =>
      val h = xxhash64(lit(if (mutateTail && p >= 32) 13 else 12), id, lit(p))
      val h2 = xxhash64(lit(99), id, lit(p))
      concat(lit("z"), pmod(h, pmod(h2, lit(999983)) + 1).cast("string"))
    }: _*)

  /** Planted pairs recovered: `id_b` is the copy of `id_a` at id + 10M. */
  def planted(pairs: DataFrame): Long =
    pairs.filter(col("id_b") === col("id_a") + 10000000L).count()

  /** Runs `name` on `spark` (left running) at size `n` (the suite's
    * default when absent), under a fresh scratch root. */
  def run(spark: SparkSession, name: String, n: Option[Long] = None,
      only: Option[String] = None): Unit = {
    val s = suite(name)
    withScratch(root => runIn(spark, s, n, only, root))
  }

  private def runIn(spark: SparkSession, s: Suite, n: Option[Long],
      only: Option[String], root: String): Unit = {
    val r = new Run(spark, n.getOrElse(s.defaultN), s.tag, only, root)
    s.body(r)
    graft.bench.StageTimers.drain().toSeq.sortBy(-_._2).foreach {
      case (k, v) => r.say(f"  stage $k%-32s $v%8.2fs")
    }
  }

  private def withScratch[T](f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_smoke_").toFile
    try f(root.getPath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  def main(args: Array[String]): Unit = {
    val s = suite(args.headOption.getOrElse(""))
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    withScratch { root =>
      // managed tables (the ann suite's bucketed index) land in scratch too
      sys.props("spark.sql.warehouse.dir") = s"$root/warehouse"
      val spark = graft.GraftSession.local(cores = cores)
      try runIn(spark, s, args.lift(1).map(_.toLong), args.lift(2), root)
      finally spark.stop()
    }
  }
}
