package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector arithmetic over ARRAY<DOUBLE> — the hot inner loop of
  * every kNN/ANN operator. The composed `zip_with`+`aggregate` form has
  * the same semantics but evaluates its lambdas interpreted, per element;
  * these are one-pass JVM loops reached via a single codegen'd static
  * call.
  *
  * Bit-compatibility contract (same as the oracle twins): per-element ops
  * are exact IEEE-754 doubles, accumulation is index order — identical
  * bits to the HOF fold and DuckDB's list_sum comprehension.
  *
  * Length mismatch returns null, mirroring `zip_with`'s null padding
  * poisoning the sum (can't happen for fixed-dim embedding columns, but
  * semantics must not silently differ).
  */
object VectorMath {

  def l2sq(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      // null element poisons the fold, as in the composed zip_with form
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  def dot(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def normSq(a: ArrayData): Any = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getDouble(i); acc += v * v; i += 1
    }
    acc
  }
}

/** Static kernel for [[SignedProjExpr]] — quantize-then-project in one
  * JVM loop. Parity contract with the composed form (and the DuckDB
  * oracle): quantization is Spark `round()` semantics (BigDecimal
  * HALF_UP on the float→double value times 1e6 — identical to
  * `round(x * 1e6)`), signs come from the same (i, j) integer mixer,
  * and accumulation is exact LONG math (order-free). */
object ProjMath {
  private val Scale = 1000000L

  def sign(i: Int, j: Int): Long =
    if ((i.toLong * 73856093L + j.toLong * 19349663L) % 97 < 48) 1L
    else -1L

  def quantize(x: Double): Long =
    java.math.BigDecimal.valueOf(x * Scale)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  def project(a: ArrayData, projDim: Int): Any = {
    val n = a.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      q(i) = quantize(a.getFloat(i).toDouble)
      i += 1
    }
    val out = new Array[Long](projDim)
    var j = 0
    while (j < projDim) {
      var acc = 0L
      i = 0
      while (i < n) { acc += q(i) * sign(i + 1, j + 1); i += 1 }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Quantized signed random projection ARRAY<FLOAT> → ARRAY<LONG>
  * ([[graft.operators.Cluster.embedProject]]'s hot path): one static
  * call inside whole-stage codegen, replacing a projDim×dim flat
  * expression tree whose Janino compile dominated cold runs. */
case class SignedProjExpr(child: Expression, projDim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    ProjMath.project(input.asInstanceOf[ArrayData], projDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("proj")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $r = graft.expr.ProjMath.project($c, $projDim);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $r; }
    """)
  }
  override protected def withNewChildInternal(c: Expression): SignedProjExpr =
    copy(child = c)
}

/** Base for the binary double-array expressions. */
abstract class VectorBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  protected def staticName: String
  override protected def nullSafeEval(a: Any, b: Any): Any =
    call(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  protected def call(a: ArrayData, b: ArrayData): Any
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = s"graft.expr.VectorMath.$staticName"
    val r = ctx.freshName("vec")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $r = $f($a, $b);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Double) $r).doubleValue(); }
    """)
  }
}

case class L2SqExpr(left: Expression, right: Expression)
    extends VectorBinary {
  override protected def staticName: String = "l2sq"
  override protected def call(a: ArrayData, b: ArrayData): Any =
    VectorMath.l2sq(a, b)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): L2SqExpr = copy(left = l, right = r)
}

case class DotExpr(left: Expression, right: Expression)
    extends VectorBinary {
  override protected def staticName: String = "dot"
  override protected def call(a: ArrayData, b: ArrayData): Any =
    VectorMath.dot(a, b)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotExpr = copy(left = l, right = r)
}

/** Static kernel for [[NearestCentroidExpr]] — the exact argmin/argmax
  * nearest-centroid scan as one flat JVM loop.
  *
  * Bit-compatibility contract with the Column-space fold it replaces
  * (`aggregate` over a literal centroid array, strict `<`/`>` compare,
  * first-in-order wins ties — see [[graft.operators.IvfIndex]]): dot and
  * normSq accumulate in index order; cosine = dot / (norm(x) · norm(c))
  * with the product formed in that order; a zero denominator, a length
  * mismatch, or a null input/element skips exactly the centroids the
  * composed form's null cosine/distance skipped (a null never wins a
  * strict compare), so an all-null row yields the fold's init cid −1.
  * norm(x) is computed ONCE per row instead of once per centroid — the
  * same double reused, identical bits. */
object CentroidMath {

  def normSq(c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  }

  def nearest(a: ArrayData, cids: Array[Long], cents: Array[Array[Double]],
      norms: Array[Double], cosine: Boolean): Long = {
    if (a == null) return -1L
    val n = a.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return -1L
      x(i) = a.getDouble(i)
      i += 1
    }
    var bestCid = -1L
    var j = 0
    if (cosine) {
      val xn = math.sqrt(normSq(x))
      var best = -2.0
      while (j < cents.length) {
        val c = cents(j)
        if (c.length == n) {
          val den = xn * norms(j)
          if (den != 0.0) {
            var d = 0.0
            var k = 0
            while (k < n) { d += x(k) * c(k); k += 1 }
            val cc = d / den
            // Spark SQL compares doubles NaN-SAFE (NaN > any non-NaN,
            // NaN == NaN), so the fold's when(cc > acc) lets a NaN
            // cosine WIN once and then hold (NaN > NaN is false) —
            // replicate exactly
            if (cc > best ||
                (java.lang.Double.isNaN(cc) &&
                  !java.lang.Double.isNaN(best))) {
              best = cc; bestCid = cids(j)
            }
          }
        }
        j += 1
      }
    } else {
      var best = Double.MaxValue
      while (j < cents.length) {
        val c = cents(j)
        if (c.length == n) {
          var d2 = 0.0
          var k = 0
          while (k < n) { val d = x(k) - c(k); d2 += d * d; k += 1 }
          // nan-safe `<`: a NaN distance never wins (NaN > MaxValue in
          // Spark's ordering), so plain primitive compare suffices —
          // best can never become NaN on this branch
          if (d2 < best) { best = d2; bestCid = cids(j) }
        }
        j += 1
      }
    }
    bestCid
  }
}

/** Static kernel for [[CosineDupRemovedExpr]] — SemDeDup's in-cluster
  * prune as one native call per cluster.
  *
  * Semantics contract (the composed form it replaces, and the DuckDB
  * oracle): expand pairs (a, b) with `b.id > a.id` inside the cluster,
  * keep pairs with `cosineSim(emb_a, emb_b) >= tau` (Spark nan-safe
  * `>=`: a NaN cosine PASSES; a null cosine — zero vector, length
  * mismatch, null element — is dropped by the filter), output the
  * DISTINCT id_b set. Existence short-circuits: b is removed on its
  * FIRST qualifying earlier-id partner, which is the same set as
  * all-pairs + distinct at a fraction of the compares. Cosine
  * arithmetic is [[VectorMath]]'s: index-order dot and norms,
  * dot / (norm(a) · norm(b)). */
object CosineDupMath {

  def removed(ms: ArrayData, tau: Double): ArrayData = {
    val m = ms.numElements()
    val ids = new Array[Long](m)
    val embs = new Array[Array[Double]](m) // null = poisoned (skip)
    val norms = new Array[Double](m)
    var i = 0
    while (i < m) {
      val s = ms.getStruct(i, 2)
      ids(i) = s.getLong(0)
      if (!s.isNullAt(1)) {
        val a = s.getArray(1)
        val n = a.numElements()
        val x = new Array[Double](n)
        var k = 0
        var ok = true
        while (ok && k < n) {
          if (a.isNullAt(k)) ok = false else { x(k) = a.getDouble(k); k += 1 }
        }
        if (ok) { embs(i) = x; norms(i) = math.sqrt(CentroidMath.normSq(x)) }
      }
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var b = 0
    while (b < m) {
      val eb = embs(b)
      if (eb != null) {
        var hit = false
        var a = 0
        while (!hit && a < m) {
          val ea = embs(a)
          if (ea != null && ids(a) < ids(b) && ea.length == eb.length) {
            val den = norms(a) * norms(b)
            if (den != 0.0) {
              var d = 0.0
              var k = 0
              while (k < ea.length) { d += ea(k) * eb(k); k += 1 }
              val cc = d / den
              // nan-safe >=: NaN qualifies (NaN > any non-NaN in
              // Spark's ordering)
              if (cc >= tau || java.lang.Double.isNaN(cc)) hit = true
            }
          }
          a += 1
        }
        if (hit) out += ids(b)
      }
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** SemDeDup's within-cluster removed-id set in ONE native call per
  * cluster ([[graft.operators.Dedup.dedupSemantic]]): replaces the
  * interpreted transform/filter/flatten/explode pair expansion, which
  * materialized every candidate pair as a (id, id, emb, emb) struct —
  * ~18.5M such structs at the sf10 rung — before the native cosine
  * even ran. Existence short-circuit + zero pair materialization; the
  * output array explodes straight into the LEFT ANTI join's build
  * side. See [[CosineDupMath]] for the exact semantics contract. */
case class CosineDupRemovedExpr(child: Expression, tau: Double)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_dup_removed"
  override protected def nullSafeEval(input: Any): Any =
    CosineDupMath.removed(input.asInstanceOf[ArrayData], tau)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expr.CosineDupMath.removed($c, $tau);
    """)
  override protected def withNewChildInternal(c: Expression)
      : CosineDupRemovedExpr = copy(child = c)
}

/** Nearest-centroid id over a broadcast-sized centroid table in ONE
  * native call — the assignment kernel under every IVF/KMeans/SemDeDup
  * operator ([[graft.operators.IvfIndex.assignCid]] and its cosine
  * twin).
  *
  * Replaces the `aggregate` HOF fold over k literal centroid structs,
  * whose interpreted lambdas made assignment the superlinear term of
  * the grown-k SemDeDup dial at the sf10 rung (k grows with the corpus,
  * so the fold paid interpreter overhead × N·k·Dim — BASELINE.md r12).
  * Semantics are the fold's, bit-for-bit (see [[CentroidMath]]);
  * centroids ride the expression as plain arrays (driver-broadcast with
  * the serialized plan, like the literal array they replace), and the
  * per-centroid norms are recomputed lazily per JVM rather than
  * serialized. Result is never null: bad input reproduces the fold's
  * init cid −1.
  */
case class NearestCentroidExpr(child: Expression, cids: Array[Long],
    cents: Array[Array[Double]], cosine: Boolean)
    extends UnaryExpression {
  require(cids.length == cents.length,
    s"cids(${cids.length}) and cents(${cents.length}) must align")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid"
  // keep k·dim doubles out of every explain/treeString dump
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"k=${cids.length}", s"cosine=$cosine")

  @transient private lazy val norms: Array[Double] =
    cents.map(c => math.sqrt(CentroidMath.normSq(c)))

  def assign(a: ArrayData): Long =
    CentroidMath.nearest(a, cids, cents, norms, cosine)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    assign(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("nearestCentroidExpr", this)
    val childGen = child.genCode(ctx)
    val arr = ctx.freshName("ncArr")
    ev.copy(code =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData $arr =
          ${childGen.isNull} ? null : ${childGen.value};
        long ${ev.value} = $ref.assign($arr);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression)
      : NearestCentroidExpr = copy(child = c)
}

case class NormSqExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    VectorMath.normSq(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("normSq")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $r = graft.expr.VectorMath.normSq($c);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Double) $r).doubleValue(); }
    """)
  }
  override protected def withNewChildInternal(c: Expression): NormSqExpr =
    copy(child = c)
}
