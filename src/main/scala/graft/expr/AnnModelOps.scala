package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the IVF/PQ model family (SURVEY §7.2
  * M4 ANN).
  *
  * Why custom expressions: the previous formulation unrolled the
  * centroid/codebook model into LITERAL expression trees (one
  * `vec_cosine(v, typedLit(c))` struct per centroid, `array_max` over the
  * lot). That is codegen'd in principle, but the generated Java method
  * grows linearly with nlist·dim — at the shipped parameters Janino hits
  * the 64 KB method limit and whole-stage codegen SILENTLY falls back to
  * interpreted execution for every ANN hot loop (assignment, probing, PQ
  * encode, ADC reconstruct). These expressions instead hold the model as
  * a plain `double[]` field (shipped once per task via the codegen
  * references array, not re-parsed per row) and emit a compact nested
  * loop in `doGenCode` — constant code size at ANY nlist/k/dim, so the
  * scan stays inside whole-stage codegen at production parameters
  * (nlist ≈ √n, not just the test 16).
  *
  * Bit-exactness contract (the correctness gates hash results): each
  * expression reproduces the literal-tree arithmetic EXACTLY —
  *  - cosine accumulates dot/na/nb in element order with double math,
  *    `d == 0 → 0.0` (graft.expr.VectorOps.CosineSimilarity semantics);
  *  - [[NearestCentroid]] ties break to the HIGHER index (`array_max`
  *    over struct(cos, idx));
  *  - [[ProbeCentroids]] orders by (cos desc, idx desc) (`sort_array`
  *    desc over the same structs);
  *  - [[PqEncode]] scores `dot(v_j, c) − |c|²/2`
  *    and tie to the LOWER index (the negIdx trick);
  *  - [[PqReconstruct]] is the `element_at` chain as one array copy.
  * Comparisons use `Double.compare` (the struct-ordering total order).
  */
abstract class AnnVectorExpression extends UnaryExpression {
  protected def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  protected def getElem(arr: String, i: String): String =
    if (elemIsFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
  protected def getElemEval(a: ArrayData, i: Int): Double =
    if (elemIsFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case d => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> input, got ${d.simpleString}")
  }
}

/** Index of the max-cosine centroid over a flattened nlist×dim model;
  * ties → higher index. Replaces the literal-unrolled
  * `array_max(array(struct(cosine(v, lit(c)), idx)…))` tree. */
case class NearestCentroid(child: Expression, flat: Array[Double],
                           nlist: Int, dim: Int)
    extends AnnVectorExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_nearest_centroid"

  // |c|² per centroid, accumulated in element order (bitwise identical to
  // the in-loop accumulation when the input vector covers all dim elems)
  private lazy val norms: Array[Double] = Array.tabulate(nlist) { c =>
    var s = 0.0; var i = 0
    while (i < dim) { val y = flat(c * dim + i); s += y * y; i += 1 }
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    var na = 0.0
    var i = 0
    while (i < n) { val x = getElemEval(v, i); na += x * x; i += 1 }
    var best = -1; var bestCos = 0.0
    var c = 0
    while (c < nlist) {
      val base = c * dim
      var dot = 0.0; var nb = 0.0
      if (n == dim) {
        nb = norms(c)
        i = 0
        while (i < n) { dot += getElemEval(v, i) * flat(base + i); i += 1 }
      } else {
        i = 0
        while (i < n) {
          val y = flat(base + i)
          dot += getElemEval(v, i) * y; nb += y * y; i += 1
        }
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      val cos = if (d == 0.0) 0.0 else dot / d
      if (best < 0 || java.lang.Double.compare(cos, bestCos) >= 0) {
        bestCos = cos; best = c
      }
      c += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("centroids", flat, "double[]")
      val normsRef = ctx.addReferenceObj("centroidNorms", norms, "double[]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val na = ctx.freshName("na"); val c = ctx.freshName("c")
      val base = ctx.freshName("base"); val dot = ctx.freshName("dot")
      val nb = ctx.freshName("nb"); val d = ctx.freshName("d")
      val cos = ctx.freshName("cos"); val best = ctx.freshName("best")
      val bestCos = ctx.freshName("bestCos")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |double $na = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = ${getElem(v, i)}; $na += x * x;
         |}
         |int $best = -1; double $bestCos = 0.0;
         |for (int $c = 0; $c < $nlist; $c++) {
         |  int $base = $c * $dim;
         |  double $dot = 0.0; double $nb;
         |  if ($n == $dim) {
         |    $nb = $normsRef[$c];
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += ${getElem(v, i)} * $flatRef[$base + $i];
         |    }
         |  } else {
         |    $nb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double y = $flatRef[$base + $i];
         |      $dot += ${getElem(v, i)} * y; $nb += y * y;
         |    }
         |  }
         |  double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  double $cos = ($d == 0.0) ? 0.0 : $dot / $d;
         |  if ($best < 0 || java.lang.Double.compare($cos, $bestCos) >= 0) {
         |    $bestCos = $cos; $best = $c;
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `nprobe` highest-cosine centroid indices, ordered (cos desc,
  * idx desc) — the `sort_array(desc)+slice` literal tree as one pass. */
case class ProbeCentroids(child: Expression, flat: Array[Double],
                          nlist: Int, dim: Int, nprobe: Int)
    extends AnnVectorExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_probe_centroids"

  private lazy val norms: Array[Double] = Array.tabulate(nlist) { c =>
    var s = 0.0; var i = 0
    while (i < dim) { val y = flat(c * dim + i); s += y * y; i += 1 }
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    var na = 0.0
    var i = 0
    while (i < n) { val x = getElemEval(v, i); na += x * x; i += 1 }
    val cosArr = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      val base = c * dim
      var dot = 0.0; var nb = 0.0
      if (n == dim) {
        nb = norms(c)
        i = 0
        while (i < n) { dot += getElemEval(v, i) * flat(base + i); i += 1 }
      } else {
        i = 0
        while (i < n) {
          val y = flat(base + i)
          dot += getElemEval(v, i) * y; nb += y * y; i += 1
        }
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      cosArr(c) = if (d == 0.0) 0.0 else dot / d
      c += 1
    }
    val p = math.min(nprobe, nlist)
    val out = new Array[Int](p)
    val used = new Array[Boolean](nlist)
    var s = 0
    while (s < p) {
      var bi = -1; var bc = 0.0
      c = 0
      while (c < nlist) {
        if (!used(c) && (bi < 0 || java.lang.Double.compare(cosArr(c), bc) >= 0)) {
          bc = cosArr(c); bi = c
        }
        c += 1
      }
      used(bi) = true; out(s) = bi; s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("centroids", flat, "double[]")
      val normsRef = ctx.addReferenceObj("centroidNorms", norms, "double[]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val na = ctx.freshName("na"); val c = ctx.freshName("c")
      val base = ctx.freshName("base"); val dot = ctx.freshName("dot")
      val nb = ctx.freshName("nb"); val d = ctx.freshName("d")
      val cosArr = ctx.freshName("cosArr"); val p = ctx.freshName("p")
      val out = ctx.freshName("out"); val used = ctx.freshName("used")
      val s = ctx.freshName("s"); val bi = ctx.freshName("bi")
      val bc = ctx.freshName("bc")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |double $na = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = ${getElem(v, i)}; $na += x * x;
         |}
         |double[] $cosArr = new double[$nlist];
         |for (int $c = 0; $c < $nlist; $c++) {
         |  int $base = $c * $dim;
         |  double $dot = 0.0; double $nb;
         |  if ($n == $dim) {
         |    $nb = $normsRef[$c];
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += ${getElem(v, i)} * $flatRef[$base + $i];
         |    }
         |  } else {
         |    $nb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double y = $flatRef[$base + $i];
         |      $dot += ${getElem(v, i)} * y; $nb += y * y;
         |    }
         |  }
         |  double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  $cosArr[$c] = ($d == 0.0) ? 0.0 : $dot / $d;
         |}
         |int $p = java.lang.Math.min($nprobe, $nlist);
         |int[] $out = new int[$p];
         |boolean[] $used = new boolean[$nlist];
         |for (int $s = 0; $s < $p; $s++) {
         |  int $bi = -1; double $bc = 0.0;
         |  for (int $c = 0; $c < $nlist; $c++) {
         |    if (!$used[$c] && ($bi < 0 || java.lang.Double.compare($cosArr[$c], $bc) >= 0)) {
         |      $bc = $cosArr[$c]; $bi = $c;
         |    }
         |  }
         |  $used[$bi] = true; $out[$s] = $bi;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused PQ encode: all m subspaces of a vector against a flattened
  * m×k×sub codebook model in ONE pass — no per-subspace `slice` copies.
  * Element j is the lower-tie argmax of (v_j·c − |c|²/2) over subspace
  * j's k sub-centroids, v_j being `slice(v, j·sub+1, sub)`. */
case class PqEncode(child: Expression, flat: Array[Double],
                    m: Int, k: Int, sub: Int)
    extends AnnVectorExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  private lazy val half: Array[Double] = Array.tabulate(m * k) { jc =>
    var s = 0.0; var i = 0
    while (i < sub) { val y = flat(jc * sub + i); s += y * y; i += 1 }
    s / 2.0
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val vlen = v.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * sub
      val lim = math.min(sub, math.max(0, vlen - off))
      var best = -1; var bestScore = 0.0
      var c = 0
      while (c < k) {
        val base = (j * k + c) * sub
        var dot = 0.0
        var i = 0
        while (i < lim) { dot += getElemEval(v, off + i) * flat(base + i); i += 1 }
        val score = dot - half(j * k + c)
        if (best < 0 || java.lang.Double.compare(score, bestScore) > 0) {
          bestScore = score; best = c
        }
        c += 1
      }
      out(j) = best
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("codebooks", flat, "double[]")
      val halfRef = ctx.addReferenceObj("codebookHalfNorms", half, "double[]")
      val vlen = ctx.freshName("vlen"); val out = ctx.freshName("out")
      val j = ctx.freshName("j"); val off = ctx.freshName("off")
      val lim = ctx.freshName("lim"); val c = ctx.freshName("c")
      val base = ctx.freshName("base"); val dot = ctx.freshName("dot")
      val i = ctx.freshName("i"); val score = ctx.freshName("score")
      val best = ctx.freshName("best"); val bestScore = ctx.freshName("bestScore")
      val vi = ctx.freshName("vi")
      s"""
         |int $vlen = $v.numElements();
         |int[] $out = new int[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  int $off = $j * $sub;
         |  int $lim = java.lang.Math.min($sub, java.lang.Math.max(0, $vlen - $off));
         |  int $best = -1; double $bestScore = 0.0;
         |  for (int $c = 0; $c < $k; $c++) {
         |    int $base = ($j * $k + $c) * $sub;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $lim; $i++) {
         |      int $vi = $off + $i;
         |      $dot += ${getElem(v, vi)} * $flatRef[$base + $i];
         |    }
         |    double $score = $dot - $halfRef[$j * $k + $c];
         |    if ($best < 0 || java.lang.Double.compare($score, $bestScore) > 0) {
         |      $bestScore = $score; $best = $c;
         |    }
         |  }
         |  $out[$j] = $best;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Reconstruct the quantized vector (array<double>, length m·sub) from
  * its m-int code against a flattened m×k×sub codebook model — the
  * `flatten(array(element_at…))` chain as one array copy. */
case class PqReconstruct(child: Expression, flat: Array[Double],
                         m: Int, k: Int, sub: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_reconstruct"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case d => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<int> code input, got ${d.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val code = input.asInstanceOf[ArrayData]
    val out = new Array[Double](m * sub)
    var j = 0
    while (j < m) {
      val base = (j * k + code.getInt(j)) * sub
      var i = 0
      while (i < sub) { out(j * sub + i) = flat(base + i); i += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, code => {
      val flatRef = ctx.addReferenceObj("codebooks", flat, "double[]")
      val out = ctx.freshName("out"); val j = ctx.freshName("j")
      val base = ctx.freshName("base"); val i = ctx.freshName("i")
      s"""
         |double[] $out = new double[${m * sub}];
         |for (int $j = 0; $j < $m; $j++) {
         |  int $base = ($j * $k + $code.getInt($j)) * $sub;
         |  for (int $i = 0; $i < $sub; $i++) {
         |    $out[$j * $sub + $i] = $flatRef[$base + $i];
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AnnModelOps {
  private def flatten2(a: Array[Array[Double]]): Array[Double] = {
    val dim = if (a.isEmpty) 0 else a(0).length
    val out = new Array[Double](a.length * dim)
    var i = 0
    while (i < a.length) {
      System.arraycopy(a(i), 0, out, i * dim, dim); i += 1
    }
    out
  }

  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "nearestCentroid: empty centroid model")
    GraftBridge.column(NearestCentroid(GraftBridge.expression(v),
      flatten2(centroids), centroids.length, centroids(0).length))
  }

  def probeCentroids(v: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    require(centroids.nonEmpty, "probeCentroids: empty centroid model")
    GraftBridge.column(ProbeCentroids(GraftBridge.expression(v),
      flatten2(centroids), centroids.length, centroids(0).length, nprobe))
  }

  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    require(codebooks.nonEmpty && codebooks(0).nonEmpty, "pqEncode: empty codebooks")
    val m = codebooks.length; val k = codebooks(0).length
    val sub = codebooks(0)(0).length
    GraftBridge.column(PqEncode(GraftBridge.expression(v),
      flatten2(codebooks.flatten), m, k, sub))
  }

  def pqReconstruct(code: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    require(codebooks.nonEmpty && codebooks(0).nonEmpty, "pqReconstruct: empty codebooks")
    val m = codebooks.length; val k = codebooks(0).length
    val sub = codebooks(0)(0).length
    GraftBridge.column(PqReconstruct(GraftBridge.expression(code),
      flatten2(codebooks.flatten), m, k, sub))
  }
}
