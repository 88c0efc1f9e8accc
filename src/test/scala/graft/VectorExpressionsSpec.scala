package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.ops.Similarity

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 2.0f, 3.0f), Seq(1.0, 2.0, 3.0)),
    (1L, Seq(-1.0f, 0.5f, 2.5f), Seq(4.0, -2.0, 0.1)),
    (2L, Seq(0.0f, 0.0f, 0.0f), Seq(0.0, 0.0, 0.0)))
    .toDF("id", "f", "d")

  test("native cosine_sim matches the built-ins fold bit-for-bit (float and double)") {
    val rows = vecs.crossJoin(vecs.select($"f".as("f2"), $"d".as("d2")))
      .select(
        VectorFunctions.cosine_sim($"f", $"f2").as("native_ff"),
        Similarity.cosineBuiltins($"f", $"f2").as("fold_ff"),
        VectorFunctions.cosine_sim($"d", $"d2").as("native_dd"),
        Similarity.cosineBuiltins($"d", $"d2").as("fold_dd"),
        VectorFunctions.cosine_sim($"f", $"d2").as("native_fd"),
        Similarity.cosineBuiltins($"f", $"d2").as("fold_fd"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "float/float")
      assert(r.getDouble(2) == r.getDouble(3), "double/double")
      assert(r.getDouble(4) == r.getDouble(5), "float/double mixed")
    }
  }

  test("zero vectors yield 0.0, not NaN; nulls propagate") {
    val out = vecs.filter($"id" === 2)
      .select(VectorFunctions.cosine_sim($"f", $"f")).as[Double].head()
    assert(out == 0.0)
    val withNull = Seq((Some(Seq(1.0f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
      .select(VectorFunctions.cosine_sim($"a", $"b")).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("dot_product computes exact dot; SQL registration exposes both functions") {
    val d = vecs.filter($"id" === 0)
      .select(VectorFunctions.dot_product($"f", $"d")).as[Double].head()
    assert(d == 14.0) // 1+4+9
    VectorFunctions.register(spark)
    vecs.createOrReplaceTempView("vecs_tmp")
    val viaSql = spark.sql(
      "SELECT cosine_sim(f, f) c, dot_product(d, d) p FROM vecs_tmp WHERE id = 0")
      .as[(Double, Double)].head()
    assert(math.abs(viaSql._1 - 1.0) < 1e-12 && viaSql._2 == 14.0)
  }

  test("type check rejects non-array inputs with a clear error") {
    val e = intercept[Exception] {
      vecs.select(VectorFunctions.cosine_sim($"id", $"f")).collect()
    }
    assert(e.getMessage.contains("array") || e.getMessage.contains("DATATYPE"))
  }

  test("nearest_centroid_id matches the unrolled array_max formulation, incl. ties") {
    // the contract the loop expression replaces: array_max over
    // struct(cos, cid) literals — best cosine, ties to the HIGHEST cid.
    // Fixture includes an exact tie (centroids 1 and 2 are identical, so
    // doc vectors nearest them must pick cid 2), a zero vector (cosine
    // 0.0 against everything -> ties across ALL centroids -> last cid),
    // and float input (the cast path).
    val cents: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.5, 0.5, 0.7))
    def unrolled(vec: org.apache.spark.sql.Column) =
      array_max(array(cents.zipWithIndex.map { case (c, i) =>
        struct(VectorFunctions.cosine_sim(vec,
          array(c.map(lit(_)): _*)).as("cos"), lit(i).as("cid"))
      }: _*)).getField("cid")
    val probes = Seq(
      (0L, Seq(0.9f, 0.1f, 0.0f)), (1L, Seq(0.1f, 0.95f, 0.05f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)), (3L, Seq(0.5f, 0.5f, 0.69f)),
      (4L, Seq(-1.0f, -1.0f, -1.0f)),
      (5L, Seq(0.9f, 0.1f)),          // RAGGED: shorter than the centroids
      (6L, Seq(0.1f, 0.9f, 0.0f, 0.7f)) // RAGGED: longer than the centroids
    ).toDF("id", "v")
    val rows = probes.select($"id",
        VectorFunctions.nearest_centroid_id($"v", cents).as("native"),
        unrolled($"v").as("unrolled"),
        VectorFunctions.nearest_centroid_id(
          transform($"v", x => x.cast("double")), cents).as("native_d"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"float path diverged: $r")
      assert(r.getInt(3) == r.getInt(2), s"double path diverged: $r")
    }
    assert(rows.find(_.getLong(0) == 1L).get.getInt(1) == 2, "tie must take highest cid")
    assert(rows.find(_.getLong(0) == 2L).get.getInt(1) == 3, "all-tie zero vector -> last cid")
  }

  test("nearest_centroid_ids matches reverse(array_sort((cos,-cid))) slice, incl. ties") {
    // the probe-order contract: cosine desc, centroid id ASC on ties —
    // exactly what IVF.probeFrame's old sort/reverse/slice formulation
    // produced. Duplicate centroids (1 and 2) force an equal-cosine tie
    // that must list cid 1 BEFORE cid 2; zero vector ties everything.
    val cents: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.5, 0.5, 0.7), Array(-1.0, 0.0, 0.0))
    def unrolled(vec: org.apache.spark.sql.Column, nprobe: Int) =
      slice(reverse(array_sort(array(cents.zipWithIndex.map { case (c, i) =>
        struct(VectorFunctions.cosine_sim(vec,
          array(c.map(lit(_)): _*)).as("cos"), lit(-i).as("negcid"))
      }: _*))), 1, nprobe)
    val probes = Seq(
      (0L, Seq(0.9, 0.1, 0.0)), (1L, Seq(0.1, 0.95, 0.05)),
      (2L, Seq(0.0, 0.0, 0.0)), (3L, Seq(0.5, 0.5, 0.69)),
      (4L, Seq(-1.0, -1.0, -1.0)),
      (5L, Seq(0.9, 0.1)) // ragged: both norms must truncate
    ).toDF("id", "v")
    for (np <- Seq(1, 3, 7)) { // 7 > nc exercises the clamp
      val rows = probes.select($"id",
          VectorFunctions.nearest_centroid_ids($"v", cents, np).as("native"),
          transform(unrolled($"v", np),
            s => (-s.getField("negcid")).cast("int")).as("ref"))
        .as[(Long, Seq[Int], Seq[Int])].collect()
      rows.foreach { case (id, native, ref) =>
        assert(native == ref, s"nprobe=$np id=$id: native=$native ref=$ref")
      }
    }
  }

  test("nearest_centroid_id stays whole-stage-codegen at nc=256 (the unrolled form cannot)") {
    // 256 centroids x 16 dims: the unrolled formulation exceeds Janino's
    // 64KB method limit here and de-codegens the whole stage (measured in
    // `Smoke corpus`); the loop expression must keep the projection
    // inside WholeStageCodegen with zero codegen fallbacks
    val cents: Array[Array[Double]] = Array.tabulate(256) { c =>
      Array.tabulate(16)(d => ((c * 31 + d * 7) % 101) / 101.0)
    }
    // plain array() of codegen-able elements on purpose: a higher-order
    // transform() lambda here would itself block whole-stage codegen and
    // mask what this test pins
    val df = spark.range(0, 1000)
      .select($"id", array((0 until 16).map(d =>
        pmod(xxhash64($"id", lit(d)), lit(97)).cast("double") / 97.0): _*)
        .as("v"))
    val out = df.select($"id",
      VectorFunctions.nearest_centroid_id($"v", cents).as("cid"))
    // the `*(n)` prefix is how toString marks WholeStageCodegen membership
    val plan = out.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[[^\\]]*nearestcentroidid".r
      .findFirstIn(plan).isDefined,
      s"assign projection left whole-stage codegen:\n${plan.take(500)}")
    // executes without InternalCompilerException fallbacks and assigns
    // the full centroid range deterministically
    val cids = out.select(countDistinct($"cid")).as[Long].head()
    assert(cids > 5, s"suspiciously few clusters used: $cids")
  }
}
