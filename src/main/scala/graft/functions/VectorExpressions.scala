package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `array<float|double>`
  * columns — the hot path of similarity search.
  *
  * Why a custom Expression instead of `aggregate(zip_with(...))`: Spark's
  * higher-order functions evaluate interpreted (no whole-stage codegen) with
  * per-element lambda dispatch and boxing; a native expression runs a tight
  * primitive loop and participates in codegen via `doGenCode`. Semantics are
  * kept bit-identical to the fold-based formulation (same left-to-right
  * accumulation order, `dot / (sqrt(na) * sqrt(nb))`, 0.0 when a norm is 0)
  * so DuckDB oracle comparisons are unaffected.
  *
  * Preference order per the engine's design rules: built-ins first, custom
  * `Expression` second, UDF never — this is the one operation where the
  * built-in composition genuinely leaves performance on the table.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
    }

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = elemIsFloat(left)
    val yf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0) dot / denom else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val yGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $x.$xGet($i);
         |  double $yv = (double) $y.$yGet($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom > 0) ? ($dot / $denom) : 0.0;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Dot product with the same native-loop/codegen treatment. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"requires array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
    }

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = elemIsFloat(left)
    val yf = elemIsFloat(right)
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += (if (xf) x.getFloat(i).toDouble else x.getDouble(i)) *
        (if (yf) y.getFloat(i).toDouble else y.getDouble(i))
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val yGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $x.$xGet($i)) * ((double) $y.$yGet($i));
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment as ONE native expression: argmax of cosine
  * over a centroid MATRIX that rides along as a reference object, with the
  * [[graft.ops.IVF]] tie order (best cosine, then HIGHEST centroid id — the
  * lexicographic `array_max(struct(cos, cid))` contract, reproduced
  * bit-identically: same per-centroid accumulation order, same `>=` tie
  * take on ascending-cid iteration).
  *
  * Why this exists: the unrolled literal formulation (one
  * [[CosineSimilarity]] + struct per centroid inside `array_max`) grows
  * linearly in generated code and blows Janino's 64 KB method limit at
  * nc=256 (found by `Smoke corpus`) — whole-stage codegen then
  * aborts and EVERY row pays interpreted eval. A runtime loop is constant
  * code size at any nc, keeps the assign stage map-only (no join, no
  * shuffle), and codegens at the paper-scale tens-of-thousands of
  * centroids where unrolling could never compile. Centroid norms are
  * precomputed once per plan, not per row (identical arithmetic: the
  * per-element accumulation order of the norm sum is unchanged). */
case class NearestCentroidId(child: Expression,
    centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(centroids.nonEmpty, "need at least one centroid")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<float|double> input, got $other")
  }

  override def dataType: DataType = IntegerType

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // per-centroid squared norms, computed once per plan in the exact
  // element order the inline formulation used
  @transient private lazy val normsSq: Array[Double] = centroids.map { c =>
    var nb = 0.0; var i = 0
    while (i < c.length) { nb += c(i) * c(i); i += 1 }
    nb
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val xf = elemIsFloat
    var best = -1; var bestCos = 0.0
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      val n = math.min(x.numElements(), cv.length)
      var dot = 0.0; var na = 0.0; var i = 0
      while (i < n) {
        val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
        dot += xv * cv(i); na += xv * xv
        i += 1
      }
      // ragged input: [[CosineSimilarity]] truncates BOTH norms to the
      // common length, so the precomputed full-length centroid norm is
      // only valid when the vector covers the centroid — recompute the
      // truncated norm otherwise (bit-identity with the unrolled form,
      // spec-pinned incl. the ragged case)
      val nb = if (n == cv.length) normsSq(c) else {
        var s = 0.0; var i2 = 0
        while (i2 < n) { s += cv(i2) * cv(i2); i2 += 1 }
        s
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val cos = if (denom > 0) dot / denom else 0.0
      if (best < 0 || cos >= bestCos) { best = c; bestCos = cos }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat) "getFloat" else "getDouble"
    val centRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val normRef = ctx.addReferenceObj("normsSq", normsSq, "double[]")
    nullSafeCodeGen(ctx, ev, { x =>
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val cv = ctx.freshName("cv"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i2 = ctx.freshName("i2")
      val xv = ctx.freshName("xv"); val denom = ctx.freshName("denom")
      val cos = ctx.freshName("cos")
      val best = ctx.freshName("best"); val bestCos = ctx.freshName("bestCos")
      s"""
         |int $best = -1; double $bestCos = 0.0;
         |for (int $c = 0; $c < $centRef.length; $c++) {
         |  double[] $cv = $centRef[$c];
         |  int $n = java.lang.Math.min($x.numElements(), $cv.length);
         |  double $dot = 0.0; double $na = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = (double) $x.$xGet($i);
         |    $dot += $xv * $cv[$i]; $na += $xv * $xv;
         |  }
         |  // ragged input: truncate BOTH norms (CosineSimilarity contract)
         |  double $nb = $normRef[$c];
         |  if ($n != $cv.length) {
         |    $nb = 0.0;
         |    for (int $i2 = 0; $i2 < $n; $i2++) { $nb += $cv[$i2] * $cv[$i2]; }
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  double $cos = ($denom > 0) ? ($dot / $denom) : 0.0;
         |  if ($best < 0 || $cos >= $bestCos) { $best = $c; $bestCos = $cos; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`nprobe` nearest centroid ids (cosine desc, centroid id asc on
  * ties — the [[graft.ops.IVF]] probe order: `reverse(array_sort((cos,
  * -cid)))` sliced to nprobe) as ONE native loop expression. Same
  * motivation as [[NearestCentroidId]]: the unrolled literal struct
  * array + full sort grows generated code linearly in nc (and sorts all
  * nc scores to take the top handful); the loop keeps a bounded
  * insertion list — O(nc·nprobe) worst case with nprobe tiny — at
  * constant code size, so query-side probe selection codegens at any
  * centroid count. Output length is min(nprobe, nc). */
case class NearestCentroidIds(child: Expression,
    centroids: Array[Array[Double]], nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(centroids.nonEmpty, "need at least one centroid")
  require(nprobe >= 1, "need nprobe >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"requires array<float|double> input, got $other")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val normsSq: Array[Double] = centroids.map { c =>
    var nb = 0.0; var i = 0
    while (i < c.length) { nb += c(i) * c(i); i += 1 }
    nb
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val xf = elemIsFloat
    val k = math.min(nprobe, centroids.length)
    val topCos = new Array[Double](k)
    val topCid = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      val n = math.min(x.numElements(), cv.length)
      var dot = 0.0; var na = 0.0; var i = 0
      while (i < n) {
        val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
        dot += xv * cv(i); na += xv * xv
        i += 1
      }
      // ragged input: truncate BOTH norms (CosineSimilarity contract;
      // see NearestCentroidId)
      val nb = if (n == cv.length) normsSq(c) else {
        var s = 0.0; var i2 = 0
        while (i2 < n) { s += cv(i2) * cv(i2); i2 += 1 }
        s
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val cos = if (denom > 0) dot / denom else 0.0
      // first j with cos STRICTLY greater -> equal-cos keeps earlier
      // (smaller) cid first: the cid-asc tie order
      var j = 0
      while (j < filled && cos <= topCos(j)) j += 1
      if (j < k) {
        var m = math.min(filled, k - 1)
        while (m > j) { topCos(m) = topCos(m - 1); topCid(m) = topCid(m - 1); m -= 1 }
        topCos(j) = cos; topCid(j) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(topCid)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat) "getFloat" else "getDouble"
    val centRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val normRef = ctx.addReferenceObj("normsSq", normsSq, "double[]")
    val k = math.min(nprobe, centroids.length)
    nullSafeCodeGen(ctx, ev, { x =>
      val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val cv = ctx.freshName("cv"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i2 = ctx.freshName("i2")
      val xv = ctx.freshName("xv"); val denom = ctx.freshName("denom")
      val cos = ctx.freshName("cos"); val j = ctx.freshName("j")
      val m = ctx.freshName("m"); val filled = ctx.freshName("filled")
      val topCos = ctx.freshName("topCos"); val topCid = ctx.freshName("topCid")
      s"""
         |double[] $topCos = new double[$k];
         |int[] $topCid = new int[$k];
         |int $filled = 0;
         |for (int $c = 0; $c < $centRef.length; $c++) {
         |  double[] $cv = $centRef[$c];
         |  int $n = java.lang.Math.min($x.numElements(), $cv.length);
         |  double $dot = 0.0; double $na = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = (double) $x.$xGet($i);
         |    $dot += $xv * $cv[$i]; $na += $xv * $xv;
         |  }
         |  // ragged input: truncate BOTH norms (CosineSimilarity contract)
         |  double $nb = $normRef[$c];
         |  if ($n != $cv.length) {
         |    $nb = 0.0;
         |    for (int $i2 = 0; $i2 < $n; $i2++) { $nb += $cv[$i2] * $cv[$i2]; }
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  double $cos = ($denom > 0) ? ($dot / $denom) : 0.0;
         |  int $j = 0;
         |  while ($j < $filled && $cos <= $topCos[$j]) $j++;
         |  if ($j < $k) {
         |    for (int $m = java.lang.Math.min($filled, $k - 1); $m > $j; $m--) {
         |      $topCos[$m] = $topCos[$m - 1]; $topCid[$m] = $topCid[$m - 1];
         |    }
         |    $topCos[$j] = $cos; $topCid[$j] = $c;
         |    if ($filled < $k) $filled++;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($topCid);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column wrappers + SQL registration for the native vector expressions
    * (Spark 4's Column wraps a ColumnNode; conversion goes through the
    * graftbridge shim over the classic backend). */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def nearest_centroid_id(vec: Column, centroids: Array[Array[Double]]): Column =
    Bridge.column(NearestCentroidId(Bridge.expression(vec), centroids))

  def nearest_centroid_ids(vec: Column, centroids: Array[Array[Double]],
      nprobe: Int): Column =
    Bridge.column(NearestCentroidIds(Bridge.expression(vec), centroids, nprobe))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Bridge.registerFunction(spark, "cosine_sim",
      exprs => CosineSimilarity(exprs.head, exprs(1)))
    Bridge.registerFunction(spark, "dot_product",
      exprs => DotProduct(exprs.head, exprs(1)))
  }
}
