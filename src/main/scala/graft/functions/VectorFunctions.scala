package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Static vector kernels, called from generated code: tight primitive loops
  * over Tungsten ArrayData (no boxing, no per-element Catalyst eval). All
  * accumulation is double, strictly left-to-right — bit-reproducible and
  * mirrored exactly by the DuckDB `list_reduce` oracle formulation.
  */
object VectorOps {
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero-vector guard: 0/0 would be NaN, and NaN silently fails every
    // downstream threshold AND poisons aggregates — an all-zeros
    // embedding (padding row, failed encode) scores 0 ("no similarity"),
    // mirrored by duckCosine's CASE guard
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Squared L2 between `b` and the window of `a` starting at 0-based
    * `off` (|b| elements). Same per-element double math and strictly
    * left-to-right accumulation as the DuckDB oracle's `list_reduce`
    * form — bit-reproducible. The window is CLAMPED to `a`'s length
    * (the [[cosine]]/[[dot]] min-length contract): subvector_l2 is a
    * user-facing SQL function, and an offset past the left array must
    * not read adjacent Tungsten buffer memory. */
  def subL2(a: ArrayData, b: ArrayData, off: Int): Double = {
    val n = math.min(b.numElements(), math.max(0, a.numElements() - off))
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(off + i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Cosine similarity of two ARRAY<FLOAT> columns — a codegen'd native
  * Catalyst expression (SURVEY build plan: custom Expression beats UDF):
  * stays inside WholeStageCodegen, one fused loop per row pair. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity requires ARRAY<FLOAT> inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_similarity"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Dot product of two ARRAY<FLOAT> columns — same codegen'd shape as
  * [[CosineSimilarity]]; used with constant hyperplane literals for LSH
  * bucketing (the literal array folds into the generated loop). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires ARRAY<FLOAT> inputs, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Squared L2 distance between a window of the left ARRAY<FLOAT> (0-based
  * element offset `offset`, right's length) and the right ARRAY<FLOAT> —
  * the product-quantization subspace kernel. One codegen'd loop per row;
  * with a literal codeword on the right the whole candidate-distance set
  * of a PQ encode stays a handful of expression nodes instead of an
  * unrolled per-element tree (which serialized to ~10 MB task binaries).
  */
case class SubvectorL2(left: Expression, right: Expression, offset: Int)
    extends BinaryExpression {
  private def ok(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType) && offset >= 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"subvector_l2 requires ARRAY<FLOAT> inputs and offset >= 0, got " +
        s"${left.dataType.sql}, ${right.dataType.sql}, $offset")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "subvector_l2"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.subL2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], offset)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.subL2($a, $b, $offset)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SubvectorL2 =
    copy(left = l, right = r)
}

object VectorFunctions {
  def cosine_similarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** See [[SubvectorL2]]. `offset` is a 0-based element offset into `a`. */
  def subvector_l2(a: Column, b: Column, offset: Int): Column =
    Bridge.column(SubvectorL2(Bridge.expression(a), Bridge.expression(b), offset))

  /** Fixed random hyperplanes for sign-LSH over up to 64-dim embeddings:
    * small INTEGER-VALUED coefficients, so every product float×coeff is an
    * exact double and the left-to-right dot accumulation is bit-identical
    * in any engine (the DuckDB oracle regenerates the same sum from these
    * very values — the q26 MinHashCoeffs pattern). Seeded, never changes
    * across runs/replays. 48 planes cover up to e.g. 12 tables × 4 bits. */
  val HyperPlanes: Array[Array[Float]] = {
    val rnd = new scala.util.Random(0x9e3779b9L)
    Array.fill(48, 64)((rnd.nextInt(17) - 8).toFloat)
  }

  /** Hash-table `tbl`'s LSH bucket of an ARRAY<FLOAT> column: `bits` sign
    * bits of dot products against fixed random hyperplanes (planes
    * `tbl*bits until tbl*bits+bits` of [[HyperPlanes]]). Random hyperplanes
    * rather than leading-dimension signs: bucket balance then depends only
    * on the data's spread along random directions, not on correlated or
    * zero-heavy leading dims. */
  def hyperplaneBucket(e: Column, tbl: Int, bits: Int): Column = {
    require(tbl * bits + bits <= HyperPlanes.length,
      s"tables*bits exceeds the ${HyperPlanes.length} fixed hyperplanes")
    (0 until bits).map { i =>
      val plane = typedlit(HyperPlanes(tbl * bits + i).toSeq)
      when(dot_product(e, plane) > lit(0d), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
