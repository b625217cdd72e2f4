package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

import graft.operators.SketchReader

/** Decodes a sketch ONCE per distinct byte array through a small
  * content-verified LRU: the key is a sampled hash, and a hit is trusted
  * only after a full `Arrays.equals`, so the cache never returns the wrong
  * sketch. `load` gets the cache's own copy of the bytes, which it may
  * keep. Thread-safety follows Spark's per-task expression deserialization:
  * one instance per task, single-threaded by construction.
  */
private[plans] final class ReaderCache[S <: AnyRef](load: Array[Byte] => S) extends Serializable {
  @transient private lazy val cache =
    new java.util.LinkedHashMap[Long, (Array[Byte], S)](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, (Array[Byte], S)]): Boolean =
        size() > 64
    }

  private def sampleKey(bytes: Array[Byte]): Long = {
    val n = bytes.length
    var h = 0xcbf29ce484222325L ^ n.toLong
    var i = 0
    while (i < n) { h = (h ^ bytes(i)) * 0x100000001b3L; i += math.max(1, n / 64) }
    h
  }

  def get(bytes: Array[Byte]): S = {
    val key = sampleKey(bytes)
    val hit = cache.get(key)
    if (hit != null && java.util.Arrays.equals(hit._1, bytes)) hit._2
    else {
      val copy = bytes.clone()
      val loaded = load(copy)
      cache.put(key, (copy, loaded))
      loaded
    }
  }
}

/** EMPTY-PAYLOAD CONVENTION for the read path: the serialized merges
  * (`graft_*_merge`) finish an empty group to `Array.emptyByteArray`, so
  * chained merge levels can skip it; reading that payload yields SQL NULL,
  * the standard "aggregate over no rows" answer, instead of a decode
  * exception. [[SketchRead]] applies it to every reader with
  * `emptyIsNull`; the set functions instead skip the empty side, as the
  * merges do. `guard` bakes the check into the generated code of
  * [[BloomMightContain]]. */
private[plans] object EmptyNull {
  /** Codegen body: NULL out on an empty payload, else assign the call. */
  def guard(ev: ExprCode, bytesVar: String, assign: String): String =
    s"""
       |if ($bytesVar.length == 0) {
       |  ${ev.isNull} = true;
       |} else {
       |  $assign
       |}
     """.stripMargin
}

/** The one native expression behind every SQL read function over
  * serialized sketches (the [[graft.operators.SketchReader]]s of
  * `SketchKinds.readers`): estimates, pairwise set estimates, summaries,
  * samples, and the KMV and Bloom set functions.
  *
  * `children` are the reader's sketch arguments, then its value argument
  * if it has one. The reader fixes the types, checked at analysis, and
  * the result type. Per row: any NULL argument gives NULL; with
  * `emptyIsNull`, an empty payload gives NULL; otherwise each sketch is
  * decoded once per distinct payload (one [[ReaderCache]] per sketch
  * argument, so two alternating inputs do not evict each other) and the
  * reader computes the answer. Generated code is one direct call on this
  * instance, so the readers run inside whole-stage codegen.
  */
case class SketchRead(fn: SketchReader[_ <: AnyRef], children: Seq[Expression]) extends Expression {

  private def r: SketchReader[AnyRef] = fn.asInstanceOf[SketchReader[AnyRef]]
  private def hasValue: Boolean = fn.valueTypes.nonEmpty

  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = fn.emptyIsNull || children.exists(_.nullable)
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(s"${fn.name}: $msg")
    if (children.length != fn.arity) fail(s"expects (${fn.signature}), got ${children.length} arguments")
    else children.take(fn.sketches).find(_.dataType != BinaryType) match {
      case Some(e) => fail(s"sketch arguments must be BINARY, got ${e.dataType.catalogString}")
      case None if hasValue && !fn.valueTypes.contains(children.last.dataType) =>
        fail(s"value argument must be ${fn.valueTypes.map(_.catalogString).mkString(" or ")}, " +
          s"got ${children.last.dataType.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  @transient private lazy val caches = Array.fill(fn.sketches)(new ReaderCache[AnyRef](r.decode))

  private def load(i: Int, x: Array[Byte]): AnyRef = if (x.isEmpty) null else caches(i).get(x)

  /** One row of non-null arguments: `b` is null for a one-sketch reader,
    * `v` without a value argument. */
  def read(a: Array[Byte], b: Array[Byte], v: Any): Any =
    if (fn.emptyIsNull && (a.isEmpty || (b != null && b.isEmpty))) null
    else r.read(load(0, a), if (b == null) null else load(1, b), v)

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input))
    if (args.contains(null)) null
    else read(args.head.asInstanceOf[Array[Byte]],
      if (fn.sketches == 2) args(1).asInstanceOf[Array[Byte]] else null,
      if (hasValue) args.last else null)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("sketchRead", this, classOf[SketchRead].getName)
    val args = children.map(_.genCode(ctx))
    val b = if (fn.sketches == 2) args(1).value.toString else "null"
    val v = if (hasValue) args.last.value.toString else "null"
    val result = ctx.freshName("read")
    ev.copy(code =
      code"""
        ${args.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = true;
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!(${args.map(_.isNull.toString).mkString(" || ")})) {
          Object $result = $self.read(${args.head.value}, $b, $v);
          if ($result != null) {
            ${ev.isNull} = false;
            ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $result;
          }
        }""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SketchRead =
    copy(children = newChildren)
}

object SketchRead {

  /** SQL fractional literals parse as DECIMAL: a DOUBLE value argument
    * takes int, bigint, float and decimal too, cast (never a string). */
  private def asDouble(e: Expression): Expression = e.dataType match {
    case _: DecimalType | FloatType | IntegerType | LongType => Cast(e, DoubleType)
    case _ => e
  }

  /** The SQL builder of `fn`: its arguments, then optional `k0, k1`
    * integer literals for a reader with keys. */
  def builder(fn: SketchReader[_ <: AnyRef])(exprs: Seq[Expression]): Expression = {
    val keys = exprs.drop(fn.arity).map(GraftFunctions.keyLit)
    val read =
      if (exprs.length == fn.arity) fn
      else if (fn.keys.isDefined && keys.length == 2 && keys.forall(_.isDefined)) fn.withKeys(keys(0).get, keys(1).get)
      else throw new IllegalArgumentException(s"${fn.name} expects (${fn.signature})")
    val args = exprs.take(fn.arity)
    SketchRead(read,
      if (fn.valueTypes == Seq(DoubleType)) args.init :+ asDouble(args.last) else args)
  }
}
