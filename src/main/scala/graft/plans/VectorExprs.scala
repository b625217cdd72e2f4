package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, GraftColumnBridge}

/** `graft_cosine_sim(a, b)` — native codegen cosine similarity between two
  * embedding columns (`array<float>` or `array<double>`).
  *
  * This is the pair-verification kernel of every LSH verify join (MinHash/
  * SRP candidate verification, the ANN recall gates) — the hottest
  * non-sketch path. Spark's higher-order-function formulation evaluates
  * lambdas interpretively per element (measured ~40x slower), and the
  * round-2 Scala UDF fixed that but still paid the encoder boundary
  * (UnsafeArrayData -> Array[Float] copy) per row. This expression reads
  * the UnsafeArrayData in place inside whole-stage codegen.
  *
  * Zero-norm vectors yield -1.0, never NaN: Spark orders NaN above every
  * double, so a NaN would rank first in top-k and pass >= thresholds.
  * Null elements count as 0.0. Lengths may differ; the common prefix is
  * used (mirrors the prior UDF's min-length semantics).
  */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sim"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<float>/array<double> columns, " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  private lazy val leftIsFloat: Boolean = elemType(left).contains(FloatType)
  private lazy val rightIsFloat: Boolean = elemType(right).contains(FloatType)

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    val lf = leftIsFloat
    val rf = rightIsFloat
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (b.isNullAt(i)) 0.0 else if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / math.sqrt(na * nb)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("cosineExpr", this, classOf[CosineSimExpr].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$selfRef.cosine($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_srp_bands(emb, b, chunks)` -> `array<int>` — native codegen
  * signed-random-projection banding (Charikar sign bits split into LSH band
  * keys), the per-row kernel of `Similarity.srpNearDups`/`srpAnnRecall`.
  *
  * Replaces the last Scala UDF in a per-row scale path (round-3 VERDICT
  * #8): the UDF paid one UnsafeArrayData -> Array[Float] encoder copy per
  * row before the b x dim dot products; this expression reads the
  * UnsafeArrayData in place inside whole-stage codegen, exactly like
  * [[CosineSimExpr]]. Semantics mirror `Similarity.srpBitsWith`: the
  * deterministic ±1 hyperplanes come from `Similarity.planeMatrix` (SipHash
  * over (plane, dim) — identical bits to the UDF path, tested), the dot
  * runs over the common prefix, null elements count 0.0, `dot > 0` sets the
  * bit. The plane matrix is cached per expression instance and rebuilt only
  * if a longer embedding appears (one instance per task — Spark's
  * per-task expression deserialization — so the mutable cache is
  * single-threaded by construction). */
case class SrpBandsExpr(child: Expression, b: Int, chunks: Int) extends UnaryExpression {

  require(b >= 1 && b <= 64, s"graft_srp_bands: b must be in [1, 64], got $b")
  require(chunks >= 1 && chunks <= b && b % chunks == 0,
    s"graft_srp_bands: chunks ($chunks) must divide b ($b)")
  private val bitsPerChunk = b / chunks
  require(bitsPerChunk <= 31, s"graft_srp_bands: bits per chunk ($bitsPerChunk) must fit an Int key")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_srp_bands"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    elemType(child) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an array<float>/array<double> embedding, got ${child.dataType.simpleString}")
    }

  private lazy val childIsFloat: Boolean = elemType(child).contains(FloatType)

  @transient private var planes: Array[Array[Double]] = _

  def bands(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (planes == null || planes(0).length < n)
      planes = graft.operators.Similarity.planeMatrix(b, n)
    // copy the elements ONCE into a primitive array, then run the b dot
    // products as tight primitive loops: unlike the one-pass cosine kernel,
    // this kernel reads every element b times, so per-element ArrayData
    // getter calls in the inner loop cost ~2x the single up-front copy
    // (measured, BASELINE.md — the copy-once shape beats the UDF,
    // the getter-in-loop shape lost to it)
    val isFloat = childIsFloat
    val v = new Array[Double](n)
    var j = 0
    while (j < n) {
      v(j) = if (a.isNullAt(j)) 0.0 else if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      j += 1
    }
    var bits = 0L
    var i = 0
    while (i < b) {
      val row = planes(i)
      val m = math.min(n, row.length)
      var dot = 0.0
      var k = 0
      while (k < m) { dot += v(k) * row(k); k += 1 }
      if (dot > 0) bits |= 1L << i
      i += 1
    }
    val out = new Array[Int](chunks)
    val mask = (1L << bitsPerChunk) - 1
    var c = 0
    while (c < chunks) { out(c) = ((bits >>> (c * bitsPerChunk)) & mask).toInt; c += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = bands(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("srpBands", this, classOf[SrpBandsExpr].getName)
    defineCodeGen(ctx, ev, a => s"$selfRef.bands($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native nearest-centroid assignment (`graft_ivf_assign`) — ivfBuild's
  * full-table assignment pass without the UDF encoder boundary. The
  * kernel reads every element once per centroid, so it follows the
  * measured copy-once rule (BASELINE.md, ivf assignment: the encoder copy
  * was ~half the assign-UDF's cost at dim 64 × 16 centroids — material,
  * unlike the text kernels). Byte-for-byte the same per-centroid cosine
  * loop as `Similarity.nearestCluster` (same truncation to the shorter
  * length, same zero-norm -1 convention, same first-wins tie break), so
  * the stored index is identical to the UDF formulation's — tested.
  * Centroids are index-build-time DATA, not literals, so it has no SQL
  * name; ivfBuild constructs it directly. */
case class IvfAssignExpr(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ivf_assign"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    elemType(child) match {
      case Some(_) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an array<float>/array<double> embedding, got ${child.dataType.simpleString}")
    }

  private lazy val childIsFloat: Boolean = elemType(child).contains(FloatType)

  def assign(a: ArrayData): Int = {
    val n = a.numElements()
    val isFloat = childIsFloat
    val v = new Array[Double](n)
    var j = 0
    while (j < n) {
      v(j) = if (a.isNullAt(j)) 0.0 else if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      j += 1
    }
    var best = 0
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val row = centroids(c)
      val m = math.min(n, row.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var k = 0
      while (k < m) {
        val x = v(k); val y = row(k).toDouble
        dot += x * y; na += x * x; nb += y * y
        k += 1
      }
      val cos = if (na == 0.0 || nb == 0.0) -1.0 else dot / math.sqrt(na * nb)
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  override def nullSafeEval(v: Any): Any = assign(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("ivfAssign", this, classOf[IvfAssignExpr].getName)
    defineCodeGen(ctx, ev, a => s"$selfRef.assign($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {

  val CosineSimName = "graft_cosine_sim"
  val SrpBandsName = "graft_srp_bands"

  private[plans] def cosineBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(a, b) => CosineSimExpr(a, b)
    case _ => throw new IllegalArgumentException(s"$CosineSimName expects (a ARRAY, b ARRAY)")
  }

  // range-check BEFORE narrowing: a Long literal like 2^32+64 must be
  // rejected, not silently wrapped to a valid-looking Int
  private def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) if v >= Int.MinValue && v <= Int.MaxValue => Some(v.toInt)
    case _ => None
  }

  private[plans] def srpBandsBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(emb, bE, cE) if intLit(bE).isDefined && intLit(cE).isDefined =>
      SrpBandsExpr(emb, intLit(bE).get, intLit(cE).get)
    case _ => throw new IllegalArgumentException(
      s"$SrpBandsName expects (emb ARRAY, b INT literal, chunks INT literal)")
  }

  def cosineSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimExpr(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def srpBands(emb: Column, b: Int, chunks: Int): Column =
    GraftColumnBridge.column(SrpBandsExpr(GraftColumnBridge.expression(emb), b, chunks))

  /** Centroids are runtime data, carried in the expression (see
    * [[IvfAssignExpr]]). */
  def ivfAssign(emb: Column, centroids: Array[Array[Float]]): Column =
    GraftColumnBridge.column(IvfAssignExpr(GraftColumnBridge.expression(emb), centroids))
}
