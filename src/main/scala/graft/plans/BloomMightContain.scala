package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BlockedBloom, BloomConfig, Keys, SipHash}

/** Deserialized, probe-ready blocked Bloom filter — the object referenced
  * from generated code (one instance per plan, shipped once per task). */
final class LoadedBloomFilter(val cfg: BloomConfig, val words: Array[Long], val typeTag: Long)
    extends Serializable {
  def containsInt(x: Int): Boolean = BlockedBloom.containsInt(words, cfg, x)
  def containsLong(x: Long): Boolean = BlockedBloom.containsLong(words, cfg, x)
  def containsUTF8(s: UTF8String): Boolean =
    if (cfg.hash64Enough)
      BlockedBloom.containsHash64(words, cfg, SipHash.hash64(cfg.k0, cfg.k1, s.getBytes))
    else {
      val (hi, lo) = SipHash.hash128(cfg.k0, cfg.k1, s.getBytes)
      BlockedBloom.containsHash128(words, cfg, hi, lo)
    }
}

object LoadedBloomFilter {
  def load(k0: Long, k1: Long, bytes: Array[Byte]): LoadedBloomFilter = {
    val (cfg, words, tag) = BlockedBloom.fromBytes(k0, k1, bytes)
    new LoadedBloomFilter(cfg, words, tag)
  }

  /** Load + enforce the serialized element-type tag (the reference's
    * typeHash check, `Internal.hs:789`): a filter built over one element
    * type refuses to be probed as another — cross-type probes would
    * silently return garbage membership. */
  def loadTyped(k0: Long, k1: Long, bytes: Array[Byte], expectedTag: Long): LoadedBloomFilter = {
    val f = load(k0, k1, bytes)
    BlockedBloom.requireTypeTag(expectedTag, f.typeTag)
    f
  }
}

/** Native Catalyst predicate `graft_bloom_might_contain(sketch, elem)` —
  * the reference's `lookup` (reference `Internal.hs:464-469`) as a
  * whole-stage-codegen participant (preferred over the UDF per the
  * build plan's extension ladder, SURVEY.md §7).
  *
  * When the sketch argument is foldable (the common case: a built sketch
  * broadcast as a literal), it is deserialized ONCE per task and the
  * generated code is a direct virtual call on the loaded filter — the same
  * cost shape as the reference's one-word-read lookup, inside codegen, with
  * no UDF encoder boundary. A non-foldable sketch column falls back to a
  * content-checked single-entry cache per expression instance.
  */
case class BloomMightContain(left: Expression, right: Expression, k0: Long, k1: Long)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"sketch argument must be BINARY, got ${left.dataType}")
    else right.dataType match {
      case IntegerType | LongType | StringType =>
        // A foldable sketch whose serialized type tag contradicts the probe
        // column's type is rejected HERE, at analysis — not from inside
        // doGenCode, where the thrown IllegalArgumentException used to be
        // swallowed by Spark's codegen fallback (WARN + interpreted re-run)
        // before surfacing at eval.
        foldedLoad match {
          case Some(scala.util.Left(msg)) => TypeCheckResult.TypeCheckFailure(msg)
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case t => TypeCheckResult.TypeCheckFailure(s"element type $t not supported (int/bigint/string)")
    }

  /** Element-type tag the probe side implies — enforced against the
    * serialized filter's tag at load time (once per task / per distinct
    * sketch, never per row). */
  private def expectedTag: Long = right.dataType match {
    case IntegerType => BlockedBloom.TypeTag.Int
    case LongType => BlockedBloom.TypeTag.Long
    case StringType => BlockedBloom.TypeTag.String
    case t => throw new IllegalStateException(s"unreachable: checked type $t")
  }

  /** Foldable sketch, loaded ONCE (per plan instance): None = not foldable
    * or null literal; Left = loadable-but-wrong (validation / type-tag
    * failure, reported at analysis); Right = probe-ready. Loading never
    * throws from this lazy, so doGenCode can force it safely — a throwing
    * doGenCode loses whole-stage codegen to Spark's swallowed-exception
    * fallback (round-2 VERDICT #8). */
  @transient private lazy val foldedLoad: Option[Either[String, LoadedBloomFilter]] =
    if (left.foldable && childrenResolved) {
      val bytes = left.eval(null)
      // null or EMPTY literal: not loadable; the runtime path returns NULL
      // per the family's empty-payload convention (plans.EmptyNull)
      if (bytes == null || bytes.asInstanceOf[Array[Byte]].isEmpty) None
      else
        try Some(scala.util.Right(LoadedBloomFilter.loadTyped(k0, k1, bytes.asInstanceOf[Array[Byte]], expectedTag)))
        catch { case e: IllegalArgumentException => Some(scala.util.Left(e.getMessage)) }
    } else None

  @transient private lazy val foldedFilter: LoadedBloomFilter = foldedLoad match {
    case Some(scala.util.Right(f)) => f
    case Some(scala.util.Left(msg)) => throw new IllegalArgumentException(msg)
    case None => null
  }

  // Non-foldable path: bounded content-verified LRU (shared ReaderCache
  // implementation — see its scaladoc for the sampled-key + Arrays.equals
  // design and the per-task-instance thread-safety assumption). A probe
  // stream joined onto per-group sketches interleaves the groups' byte
  // arrays row-to-row, so a single-entry cache would re-deserialize on
  // every group switch; an adversarial stream of unique sketches just
  // degrades to load-per-row, same as no cache.
  @transient private lazy val cache =
    new ReaderCache[LoadedBloomFilter](b => LoadedBloomFilter.loadTyped(k0, k1, b, expectedTag))

  private def filterFor(bytes: Array[Byte]): LoadedBloomFilter =
    if (foldedFilter != null) foldedFilter else cache.get(bytes)

  def probeInt(bytes: Array[Byte], x: Int): Boolean = filterFor(bytes).containsInt(x)
  def probeLong(bytes: Array[Byte], x: Long): Boolean = filterFor(bytes).containsLong(x)
  def probeUTF8(bytes: Array[Byte], s: UTF8String): Boolean = filterFor(bytes).containsUTF8(s)

  override def nullable: Boolean = true

  override def nullSafeEval(sketchVal: Any, elemVal: Any): Any = {
    val bytes = sketchVal.asInstanceOf[Array[Byte]]
    // empty payload (a serialized merge over an empty group) -> NULL, the
    // family's read-path convention (see plans.EmptyNull) — in a WHERE
    // clause NULL filters like false, preserving no-false-negatives trivially
    if (bytes.isEmpty) null
    else right.dataType match {
      case IntegerType => probeInt(bytes, elemVal.asInstanceOf[Int])
      case LongType => probeLong(bytes, elemVal.asInstanceOf[Long])
      case StringType => probeUTF8(bytes, elemVal.asInstanceOf[UTF8String])
    }
  }

  private def probeMethod: String = right.dataType match {
    case IntegerType => "probeInt"
    case LongType => "probeLong"
    case StringType => "probeUTF8"
  }

  private def containsMethod: String = right.dataType match {
    case IntegerType => "containsInt"
    case LongType => "containsLong"
    case StringType => "containsUTF8"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (foldedLoad.exists(_.isRight)) {
      // literal sketch: deserialize once, generate a direct probe call —
      // only the element child is evaluated per row
      val fRef = ctx.addReferenceObj("graftBloom", foldedFilter, classOf[LoadedBloomFilter].getName)
      val elemGen = right.genCode(ctx)
      ev.copy(code =
        code"""
          ${elemGen.code}
          boolean ${ev.isNull} = ${elemGen.isNull};
          boolean ${ev.value} = false;
          if (!${ev.isNull}) {
            ${ev.value} = $fRef.$containsMethod(${elemGen.value});
          }""")
    } else {
      val selfRef = ctx.addReferenceObj("graftBloomExpr", this, classOf[BloomMightContain].getName)
      nullSafeCodeGen(ctx, ev, (sketch, elem) =>
        EmptyNull.guard(ev, sketch, s"${ev.value} = $selfRef.$probeMethod($sketch, $elem);"))
    }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codec for a PACK of keyed serialized filters — the foldable literal the
  * keyed probe expression ([[BloomKeyedProbe]]) carries: `[int32 n]` then
  * per entry `[int32 keyLen][utf8 key][int32 filterLen][filter bytes]`,
  * big-endian. Collected once on the driver (one entry per group — the
  * per-source / per-window sketch tables are group-count-sized by
  * construction), folded into the plan as ONE binary literal, decoded once
  * per plan instance. */
object BloomFilterPack {
  def encode(filters: Seq[(String, Array[Byte])]): Array[Byte] = {
    val keyBytes = filters.map { case (k, v) =>
      (k.getBytes(java.nio.charset.StandardCharsets.UTF_8), v)
    }
    val total = 4 + keyBytes.map { case (k, v) => 8 + k.length + v.length }.sum
    val bb = java.nio.ByteBuffer.allocate(total).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(filters.length)
    keyBytes.foreach { case (k, v) =>
      bb.putInt(k.length); bb.put(k); bb.putInt(v.length); bb.put(v)
    }
    bb.array()
  }

  def decode(blob: Array[Byte]): Seq[(String, Array[Byte])] = {
    val bb = java.nio.ByteBuffer.wrap(blob).order(java.nio.ByteOrder.BIG_ENDIAN)
    val n = bb.getInt()
    require(n >= 0, s"filter pack: negative entry count $n")
    (0 until n).map { _ =>
      val k = new Array[Byte](bb.getInt()); bb.get(k)
      val v = new Array[Byte](bb.getInt()); bb.get(v)
      (new String(k, java.nio.charset.StandardCharsets.UTF_8), v)
    }
  }
}

/** Keyed probe `graft_bloom_might_contain_keyed(pack, key, elem)` — the
  * probe-side companion of [[BloomMightContain]] for PER-GROUP sketches.
  *
  * Why it exists (optimization round, guide §2.3 "shuffle keys and metadata
  * instead of payloads"): probing per-group filters used to ride a
  * broadcast join that attached the serialized sketch COLUMN to every probe
  * row — each row then re-extracted an 8-32 KB byte array from the joined
  * row and content-verified it against the expression cache
  * (`Arrays.equals`), making every probed row cost O(sketch bytes) of pure
  * memory traffic. With group counts bounded by construction (<= #sources,
  * <= #windows), the sketches are instead collected once, packed into ONE
  * foldable binary literal, deserialized ONCE per plan instance into a
  * hash table, and the per-row work drops to one short-string hash lookup
  * plus the O(1) one-cache-line probe — no join, no per-row byte copies.
  *
  * A missing or empty-payload entry yields NULL (the family's
  * empty-payload convention, plans.EmptyNull) — in a WHERE clause that
  * filters exactly like the inner join it replaces. */
case class BloomKeyedProbe(pack: Expression, key: Expression, elem: Expression,
    k0: Long, k1: Long) extends TernaryExpression {

  override def first: Expression = pack
  override def second: Expression = key
  override def third: Expression = elem
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bloom_might_contain_keyed"

  private def expectedTag: Long = elem.dataType match {
    case IntegerType => BlockedBloom.TypeTag.Int
    case LongType => BlockedBloom.TypeTag.Long
    case StringType => BlockedBloom.TypeTag.String
    case t => throw new IllegalStateException(s"unreachable: checked type $t")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (pack.dataType != BinaryType || !pack.foldable)
      TypeCheckResult.TypeCheckFailure("pack argument must be a foldable BINARY filter pack")
    else if (key.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"key argument must be STRING, got ${key.dataType}")
    else elem.dataType match {
      case IntegerType | LongType | StringType =>
        loadedTable match {
          case scala.util.Left(msg) => TypeCheckResult.TypeCheckFailure(msg)
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case t => TypeCheckResult.TypeCheckFailure(s"element type $t not supported (int/bigint/string)")
    }

  /** Pack decoded + every filter loaded ONCE per plan instance; every
    * validation / type-tag failure surfaces at ANALYSIS (Left), never from
    * generated code (the BloomMightContain rule: a throwing doGenCode loses
    * whole-stage codegen to the swallowed-exception fallback). Empty
    * payloads load as null entries -> NULL probes. */
  @transient private lazy val loadedTable:
      Either[String, java.util.HashMap[UTF8String, LoadedBloomFilter]] =
    if (!childrenResolved || !pack.foldable) scala.util.Left("pack not foldable")
    else {
      val blob = pack.eval(null)
      if (blob == null) scala.util.Left("filter pack must not be NULL")
      else
        try {
          val entries = BloomFilterPack.decode(blob.asInstanceOf[Array[Byte]])
          val m = new java.util.HashMap[UTF8String, LoadedBloomFilter](entries.size * 2)
          entries.foreach { case (k, bytes) =>
            m.put(UTF8String.fromString(k),
              if (bytes.isEmpty) null
              else LoadedBloomFilter.loadTyped(k0, k1, bytes, expectedTag))
          }
          scala.util.Right(m)
        } catch {
          case e: IllegalArgumentException => scala.util.Left(e.getMessage)
        }
    }

  @transient private lazy val table: java.util.HashMap[UTF8String, LoadedBloomFilter] =
    loadedTable match {
      case scala.util.Right(m) => m
      case scala.util.Left(msg) => throw new IllegalArgumentException(msg)
    }

  /** Null-boxed probes: Java `Boolean` so a missing/empty entry can yield
    * SQL NULL from both eval and generated code through one call. */
  def probeKeyedInt(k: UTF8String, x: Int): java.lang.Boolean = {
    val f = table.get(k)
    if (f == null) null else java.lang.Boolean.valueOf(f.containsInt(x))
  }
  def probeKeyedLong(k: UTF8String, x: Long): java.lang.Boolean = {
    val f = table.get(k)
    if (f == null) null else java.lang.Boolean.valueOf(f.containsLong(x))
  }
  def probeKeyedUTF8(k: UTF8String, s: UTF8String): java.lang.Boolean = {
    val f = table.get(k)
    if (f == null) null else java.lang.Boolean.valueOf(f.containsUTF8(s))
  }

  private def probeMethod: String = elem.dataType match {
    case IntegerType => "probeKeyedInt"
    case LongType => "probeKeyedLong"
    case StringType => "probeKeyedUTF8"
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = key.eval(input)
    if (k == null) return null
    val e = elem.eval(input)
    if (e == null) return null
    val r = elem.dataType match {
      case IntegerType => probeKeyedInt(k.asInstanceOf[UTF8String], e.asInstanceOf[Int])
      case LongType => probeKeyedLong(k.asInstanceOf[UTF8String], e.asInstanceOf[Long])
      case StringType => probeKeyedUTF8(k.asInstanceOf[UTF8String], e.asInstanceOf[UTF8String])
    }
    if (r == null) null else r.booleanValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("graftKeyedProbe", this, classOf[BloomKeyedProbe].getName)
    val keyGen = key.genCode(ctx)
    val elemGen = elem.genCode(ctx)
    val boxed = ctx.freshName("boxedProbe")
    ev.copy(code =
      code"""
        ${keyGen.code}
        ${elemGen.code}
        boolean ${ev.isNull} = true;
        boolean ${ev.value} = false;
        if (!${keyGen.isNull} && !${elemGen.isNull}) {
          java.lang.Boolean $boxed = $selfRef.$probeMethod(${keyGen.value}, ${elemGen.value});
          if ($boxed != null) {
            ${ev.isNull} = false;
            ${ev.value} = $boxed.booleanValue();
          }
        }""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(pack = newFirst, key = newSecond, elem = newThird)
}

/** Native scalar `graft_sip_hash64(elem [, k0, k1])` — the library's keyed
  * hash exposed to SQL (reference `siphash64`, `Internal.hs:395`); useful
  * for bucketing/salting expressions that must agree with sketch contents. */
case class SipHash64Expr(child: Expression, k0: Long, k1: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sip_hash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case IntegerType | LongType | StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"type $t not supported (int/bigint/string/binary)")
  }

  def hashInt(x: Int): Long = SipHash.hashInt(k0, k1, x)
  def hashLong(x: Long): Long = SipHash.hashLong(k0, k1, x)
  def hashUTF8(s: UTF8String): Long = SipHash.hash64(k0, k1, s.getBytes)
  def hashBytes(b: Array[Byte]): Long = SipHash.hash64(k0, k1, b)

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case IntegerType => hashInt(v.asInstanceOf[Int])
    case LongType => hashLong(v.asInstanceOf[Long])
    case StringType => hashUTF8(v.asInstanceOf[UTF8String])
    case BinaryType => hashBytes(v.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("sipExpr", this, classOf[SipHash64Expr].getName)
    val m = child.dataType match {
      case IntegerType => "hashInt"
      case LongType => "hashLong"
      case StringType => "hashUTF8"
      case BinaryType => "hashBytes"
    }
    defineCodeGen(ctx, ev, c => s"$selfRef.$m($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native scalar `graft_double_bits(x DOUBLE)` — the IEEE-754 bit pattern
  * of a double as BIGINT. For NON-NEGATIVE doubles the raw bits order
  * exactly like the values (the [[graft.core.BottomK.esKey]] property), so
  * the bits of a weighted-sampling key are a range-shardable integer: the
  * ES-weighted mixture-selection scan buckets on `bits div 2^shardBits`,
  * a monotone coarsening of the key order. Codegen is a single static
  * call — stays inside whole-stage codegen. */
case class DoubleBitsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_double_bits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"type $t not supported (double)")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Double.doubleToLongBits($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL/Column registration for the native expressions. */
object GraftFunctions {

  val BloomMightContainName = "graft_bloom_might_contain"
  val BloomKeyedProbeName = "graft_bloom_might_contain_keyed"
  val SipHash64Name = "graft_sip_hash64"
  val DoubleBitsName = "graft_double_bits"

  private[plans] def doubleBitsBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(e) => DoubleBitsExpr(e)
    case _ => throw new IllegalArgumentException(s"$DoubleBitsName expects (x DOUBLE)")
  }

  private[plans] def sipBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(e) => SipHash64Expr(e, Keys.DefaultK0, Keys.DefaultK1)
    case Seq(e, kk0, kk1) if keyLit(kk0).isDefined && keyLit(kk1).isDefined =>
      SipHash64Expr(e, keyLit(kk0).get, keyLit(kk1).get)
    case _ => throw new IllegalArgumentException(
      s"$SipHash64Name expects (elem [, k0 BIGINT, k1 BIGINT])")
  }

  /** SQL integer literals default to INT; accept both widths for keys. */
  private[plans] def keyLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case _ => None
  }

  private[plans] def keyedBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(p, k, e) => BloomKeyedProbe(p, k, e, Keys.DefaultK0, Keys.DefaultK1)
    case Seq(p, k, e, kk0, kk1) if keyLit(kk0).isDefined && keyLit(kk1).isDefined =>
      BloomKeyedProbe(p, k, e, keyLit(kk0).get, keyLit(kk1).get)
    case _ => throw new IllegalArgumentException(
      s"$BloomKeyedProbeName expects (pack BINARY, key STRING, elem, [k0 BIGINT, k1 BIGINT])")
  }

  private[plans] def builder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(s, e) => BloomMightContain(s, e, Keys.DefaultK0, Keys.DefaultK1)
    case Seq(s, e, kk0, kk1) if keyLit(kk0).isDefined && keyLit(kk1).isDefined =>
      BloomMightContain(s, e, keyLit(kk0).get, keyLit(kk1).get)
    case _ => throw new IllegalArgumentException(
      s"$BloomMightContainName expects (sketch BINARY, elem, [k0 BIGINT, k1 BIGINT])")
  }

  /** SINGLE SOURCE OF TRUTH for the native-expression SQL surface:
    * (function name, implementing class, builder). Both registration paths
    * — `registerExpressions` on a live session and the
    * `spark.sql.extensions` injector (`GraftExtensions`) — iterate this
    * list, so a new expression cannot be added to one and forgotten in the
    * other. */
  private[plans] val nativeExpressions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (BloomMightContainName, classOf[BloomMightContain], builder _),
    (BloomKeyedProbeName, classOf[BloomKeyedProbe], keyedBuilder _),
    (SipHash64Name, classOf[SipHash64Expr], sipBuilder _),
    (DoubleBitsName, classOf[DoubleBitsExpr], doubleBitsBuilder _),
    (VectorFunctions.CosineSimName, classOf[CosineSimExpr], VectorFunctions.cosineBuilder _),
    (VectorFunctions.SrpBandsName, classOf[SrpBandsExpr], VectorFunctions.srpBandsBuilder _)) ++
    graft.operators.SketchKinds.readers.map(r => (r.name, classOf[SketchRead], SketchRead.builder(r) _)) ++
    NativeAggs.sqlAggregates.map { case (name, b) =>
      (name, if (name == NativeAggs.FusedName) classOf[FusedTokensNative] else classOf[SketchAgg], b)
    }

  /** Register every native expression and aggregate (cheap, idempotent). */
  def registerExpressions(spark: SparkSession): Unit =
    nativeExpressions.foreach { case (name, _, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "built-in")
    }

  /** Registers the whole library on an existing session, so it is
    * reachable from pure SQL:
    * `SELECT source, graft_hll_estimate(graft_hll_tokens(tokens)) FROM t GROUP BY source`. */
  def register(spark: SparkSession): Unit = registerExpressions(spark)

  /** Column-API entry points (require `register(spark)` once per session). */
  def bloomMightContain(sketch: Column, elem: Column): Column =
    org.apache.spark.sql.functions.call_function(BloomMightContainName, sketch, elem)

  /** Keyed probe over a driver-collected (group key -> serialized filter)
    * table — packed into one foldable binary literal (see
    * [[BloomKeyedProbe]] for why this beats joining the sketch column onto
    * the probe stream). */
  def bloomMightContainKeyed(filters: Seq[(String, Array[Byte])],
      key: Column, elem: Column): Column =
    org.apache.spark.sql.functions.call_function(BloomKeyedProbeName,
      org.apache.spark.sql.functions.lit(BloomFilterPack.encode(filters)), key, elem)

  def sipHash64(elem: Column): Column =
    org.apache.spark.sql.functions.call_function(SipHash64Name, elem)

  def sipHash64(elem: Column, k0: Long, k1: Long): Column =
    org.apache.spark.sql.functions.call_function(SipHash64Name, elem,
      org.apache.spark.sql.functions.lit(k0), org.apache.spark.sql.functions.lit(k1))

  def doubleBits(x: Column): Column =
    org.apache.spark.sql.functions.call_function(DoubleBitsName, x)
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions` injection —
  * iterates the SAME `GraftFunctions.nativeExpressions` table the session
  * registrar uses, so the two registration paths cannot drift. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.nativeExpressions.foreach { case (name, cls, b) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        exprs => b(exprs)))
    }
}
