package graft.plans

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{BlockedBloom, BloomConfig, Keys, SipHash}
import graft.operators.SketchKinds.{BloomPack, BloomProbe, KeyedBloomProbe}

/** Deserialized, probe-ready blocked Bloom filter: what the
  * `graft_bloom_might_contain` reader decodes, and what generated code
  * probes directly when the sketch is a literal. */
final class LoadedBloomFilter(val cfg: BloomConfig, val words: Array[Long], val typeTag: Long)
    extends Serializable {
  def containsInt(x: Int): Boolean = BlockedBloom.containsInt(words, cfg, x)
  def containsLong(x: Long): Boolean = BlockedBloom.containsLong(words, cfg, x)
  def containsUTF8(s: UTF8String): Boolean = BlockedBloom.containsUtf8(words, cfg, s.getBytes)

  /** Membership of a Catalyst int, bigint or string value. */
  def contains(v: Any): Boolean = v match {
    case x: Int => containsInt(x)
    case x: Long => containsLong(x)
    case s: UTF8String => containsUTF8(s)
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

  /** The `contains*` method generated code calls for an element of type `dt`. */
  def method(dt: DataType): String = dt match {
    case IntegerType => "containsInt"
    case LongType => "containsLong"
    case _ => "containsUTF8"
  }
}

/** A decoded [[BloomFilterPack]]: group key -> probe-ready filter, null
  * for an empty entry. A key with no filter probes as NULL, so in a WHERE
  * clause the pack filters like the inner join onto per-group sketches it
  * replaces. */
final class LoadedBloomPack(table: java.util.HashMap[UTF8String, LoadedBloomFilter]) extends Serializable {
  def probe(key: UTF8String, v: Any): java.lang.Boolean = {
    val f = table.get(key)
    if (f == null) null else java.lang.Boolean.valueOf(f.contains(v))
  }
  def probeInt(key: UTF8String, x: Int): java.lang.Boolean = {
    val f = table.get(key)
    if (f == null) null else java.lang.Boolean.valueOf(f.containsInt(x))
  }
  def probeLong(key: UTF8String, x: Long): java.lang.Boolean = {
    val f = table.get(key)
    if (f == null) null else java.lang.Boolean.valueOf(f.containsLong(x))
  }
  def probeUTF8(key: UTF8String, s: UTF8String): java.lang.Boolean = {
    val f = table.get(key)
    if (f == null) null else java.lang.Boolean.valueOf(f.containsUTF8(s))
  }
}

object LoadedBloomPack {
  /** Decodes `blob` and loads every non-empty filter under the key and
    * element-type tag; throws `IllegalArgumentException` on any malformed
    * pack or filter. */
  def load(k0: Long, k1: Long, blob: Array[Byte], expectedTag: Long): LoadedBloomPack = {
    val entries = BloomFilterPack.decode(blob)
    val m = new java.util.HashMap[UTF8String, LoadedBloomFilter](entries.size * 2)
    entries.foreach { case (k, bytes) =>
      m.put(UTF8String.fromString(k),
        if (bytes.isEmpty) null else LoadedBloomFilter.loadTyped(k0, k1, bytes, expectedTag))
    }
    new LoadedBloomPack(m)
  }

  /** The `probe*` method generated code calls for an element of type `dt`. */
  def method(dt: DataType): String = dt match {
    case IntegerType => "probeInt"
    case LongType => "probeLong"
    case _ => "probeUTF8"
  }
}

/** Codec for a PACK of keyed serialized filters, the sketch argument of
  * `graft_bloom_might_contain_keyed`: `[int32 n]` then per entry
  * `[int32 keyLen][utf8 key][int32 filterLen][filter bytes]`, big-endian.
  * The `graft_bloom_pack` aggregate builds one inside the query, where the
  * probe reads it as a scalar subquery, decoded once per expression
  * instance. A pack is reachable from SQL (`X'…'`), so `decode` checks
  * every length against the bytes left. */
object BloomFilterPack {

  /** The most groups, and sketch bytes in total, one pack may hold. */
  val MaxEntries: Long = 1L << 16
  val MaxSketchBytes: Long = 128L << 20

  def encode(filters: Seq[(String, Array[Byte])]): Array[Byte] = {
    val keyBytes = filters.map { case (k, v) => (k.getBytes(UTF_8), v) }
    val total = 4L + keyBytes.map { case (k, v) => 8L + k.length + v.length }.sum
    require(total <= Int.MaxValue, s"filter pack of ${filters.length} entries needs $total bytes, " +
      s"more than one array holds (${Int.MaxValue})")
    val bb = ByteBuffer.allocate(total.toInt).order(ByteOrder.BIG_ENDIAN)
    bb.putInt(filters.length)
    keyBytes.foreach { case (k, v) =>
      bb.putInt(k.length); bb.put(k); bb.putInt(v.length); bb.put(v)
    }
    bb.array()
  }

  def decode(blob: Array[Byte]): Seq[(String, Array[Byte])] = {
    val bb = ByteBuffer.wrap(blob).order(ByteOrder.BIG_ENDIAN)
    def int(what: String): Int = {
      require(bb.remaining >= 4, s"filter pack truncated: no $what at byte ${bb.position()} of ${blob.length}")
      bb.getInt()
    }
    def bytes(what: String): Array[Byte] = {
      val n = int(s"$what length")
      require(n >= 0 && n <= bb.remaining,
        s"filter pack: $what length $n at byte ${bb.position() - 4} exceeds the ${bb.remaining} bytes left")
      val a = new Array[Byte](n)
      bb.get(a)
      a
    }
    val n = int("entry count")
    // every entry holds at least its two 4-byte lengths
    require(n >= 0 && n <= bb.remaining / 8,
      s"filter pack: entry count $n does not fit its ${blob.length} bytes")
    val entries = (0 until n).map(_ => (new String(bytes("key"), UTF_8), bytes("filter")))
    require(!bb.hasRemaining, s"filter pack: ${bb.remaining} bytes after the last entry")
    entries
  }

  /** Fails unless `entries` groups holding `sketchBytes` bytes of sketches
    * fit one pack ([[MaxEntries]], [[MaxSketchBytes]]). */
  def checkBounds(entries: Long, sketchBytes: Long): Unit =
    if (entries > MaxEntries || sketchBytes > MaxSketchBytes) throw new IllegalArgumentException(
      s"keyed probe pack of $entries groups and $sketchBytes sketch bytes exceeds the bound of " +
        s"$MaxEntries groups and $MaxSketchBytes bytes")

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

/** The library's SQL surface and its Column-API entry points. The Column
  * helpers build their expressions directly, so they need no session
  * registration; [[register]] is the one entry point that makes the
  * `graft_*` names callable from SQL. */
object GraftFunctions {

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

  /** SINGLE SOURCE OF TRUTH for the native-expression SQL surface:
    * (function name, implementing class, builder). Both registration paths
    * — [[register]] on a live session and the `spark.sql.extensions`
    * injector (`GraftExtensions`) — iterate this list, so a new expression
    * cannot be added to one and forgotten in the other. */
  private[plans] val nativeExpressions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (SipHash64Name, classOf[SipHash64Expr], sipBuilder _),
    (DoubleBitsName, classOf[DoubleBitsExpr], doubleBitsBuilder _),
    (VectorFunctions.CosineSimName, classOf[CosineSimExpr], VectorFunctions.cosineBuilder _),
    (VectorFunctions.SrpBandsName, classOf[SrpBandsExpr], VectorFunctions.srpBandsBuilder _)) ++
    graft.operators.SketchKinds.readers.map(r => (r.name, classOf[SketchRead], SketchRead.builder(r) _)) ++
    NativeAggs.sqlAggregates.map { case (name, b) => (name, classOf[SketchAgg], b) }

  /** Makes every `graft_*` function callable from SQL on `spark`:
    * `SELECT source, graft_hll_estimate(graft_hll_tokens(tokens)) FROM t GROUP BY source`.
    * Binds only the names the session lacks, so calling it again changes
    * nothing, and a `NativeAggs.register` binding stays in place. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    nativeExpressions.foreach { case (name, _, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  private def column(e: Expression): Column = GraftColumnBridge.column(e)
  private def expression(c: Column): Expression = GraftColumnBridge.expression(c)

  /** `graft_bloom_might_contain(sketch, elem)`: a constant sketch (a
    * literal, or a scalar subquery such as `frame.agg(…).scalar()`) is
    * decoded once per expression instance and probed directly in generated
    * code. */
  def bloomMightContain(sketch: Column, elem: Column): Column = BloomProbe().column(sketch, elem)

  /** `graft_bloom_might_contain_keyed(pack, key, elem)`: probes `elem`
    * against the filter `key` names in a [[BloomFilterPack]], typically
    * `frame.agg(bloomPack(key, sketch)).scalar()`. Per row: one hash lookup
    * of the key, then one probe; no join carries the sketches to the probe
    * rows. */
  def bloomMightContainKeyed(pack: Column, key: Column, elem: Column): Column =
    KeyedBloomProbe().column(pack, key, elem)

  /** `graft_bloom_pack(key, sketch)`: the aggregate that packs per-group
    * filters for [[bloomMightContainKeyed]]. */
  def bloomPack(key: Column, sketch: Column): Column =
    NativeAggs.column(BloomPack(Keys.DefaultK0, Keys.DefaultK1), struct(key, sketch))

  def sipHash64(elem: Column): Column = sipHash64(elem, Keys.DefaultK0, Keys.DefaultK1)

  def sipHash64(elem: Column, k0: Long, k1: Long): Column = column(SipHash64Expr(expression(elem), k0, k1))

  def doubleBits(x: Column): Column = column(DoubleBitsExpr(expression(x)))
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
