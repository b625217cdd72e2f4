package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.core.BlockedBloom.TypeTag
import graft.plans.{LoadedBloomFilter, LoadedBloomPack}

/** What an aggregate reads from its first input column, fixed by that
  * column's type at analysis time. `Sketches` (a `binary` column of
  * serialized sketches) is merge mode; every other input is a build. */
sealed abstract class SketchInput(val sqlType: String, val typeTag: Long)

object SketchInput {
  /** `array<int>`: every non-null element is inserted (token ids). */
  case object Tokens extends SketchInput("array<int>", TypeTag.Int)
  case object Ints extends SketchInput("int", TypeTag.Int)
  /** Any integral column, widened to `bigint`. */
  case object Longs extends SketchInput("bigint", TypeTag.Long)
  case object Strings extends SketchInput("string", TypeTag.String)
  /** Any fixed-width numeric column, widened to `double`. */
  case object Doubles extends SketchInput("double", 0L)
  /** Serialized sketches of the same kind: merge mode. */
  case object Sketches extends SketchInput("binary", 0L)
  /** A `(key, serialized sketch)` struct: one entry of a keyed pack. */
  case object KeyedSketches extends SketchInput("struct<key: string, sketch: binary>", 0L)

  def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** A boxed integral Catalyst value, widened to `Long`. */
  def longOf(v: Any): Long = v.asInstanceOf[Number].longValue()
}

/** One mergeable sketch: the monoid and its wire format — insert, union,
  * serialize and validated deserialize, the whole API of the reference's
  * one structure (reference `Internal.hs:443-454,485-550`). The generic
  * native aggregate `graft.plans.SketchAgg` runs every kind, in build and
  * merge mode, and ships its buffers through the shuffle and the streaming
  * state store as `toBytes` output.
  *
  * A kind is parameterized by its sketch config and SipHash key. Buffers
  * are mutable: `update` and `merge` may mutate and return their left
  * argument (the aggregate owns it); `merge` never mutates its right one
  * unless that becomes the result.
  */
abstract class SketchKind[B <: AnyRef] extends Serializable {

  /** Default display name of an aggregate over this kind. */
  def name: String

  /** The build input this kind reads from a column of type `dt`. */
  protected def buildInput(dt: DataType): Option[SketchInput]

  /** Whether serialized sketches of this kind merge (a `binary` input). */
  def mergeable: Boolean = true

  /** Whether a build accepts / requires a second integral weight column. */
  def acceptsWeight: Boolean = false
  def requiresWeight: Boolean = false

  final def inputOf(dt: DataType): Option[SketchInput] =
    if (dt == BinaryType) (if (mergeable) Some(SketchInput.Sketches) else None)
    else buildInput(dt)

  /** The empty sketch a build over `in` starts from. */
  def empty(in: SketchInput): B

  /** Adds one non-null input row `v` (a Catalyst value: `ArrayData`,
    * boxed number or `UTF8String`) of weight `w` (1 without a weight
    * column). One call per row: array elements are looped here. */
  def update(b: B, in: SketchInput, v: Any, w: Long): B

  def merge(a: B, b: B): B

  /** The published serialized format (golden-pinned). A build-only kind
    * (not [[mergeable]]) publishes [[eval]]'s result instead; its
    * `toBytes` is only the shuffle form of its partial buffers. */
  def toBytes(b: B): Array[Byte]

  /** Validated decode: throws `IllegalArgumentException` on any payload
    * that is not a sketch this kind may merge (wrong key, shape, type or
    * version, or corrupt bytes). */
  def fromBytes(x: Array[Byte]): B

  /** The aggregate's result type and value. */
  def dataType: DataType = BinaryType
  def eval(b: B): Any = toBytes(b)
}

/** One SQL function that reads serialized sketches: the read side of a
  * [[SketchKind]]. The generic expression `graft.plans.SketchRead` runs
  * every reader, in whole-stage codegen or interpreted. It checks the
  * argument types at analysis, maps NULL arguments to NULL and, where
  * [[emptyIsNull]], an empty payload (what a merge over no rows returns)
  * to NULL. It decodes a constant sketch (a literal, a scalar subquery or
  * a read function over those) once per expression instance, and every
  * other payload once per distinct value through a content-verified cache.
  * A reader states only its signature, its validated decode and the
  * per-row function.
  *
  * Arguments: [[sketches]] binary sketches, then the [[values]] arguments
  * (a DOUBLE value also accepts int, bigint, float and decimal, cast to
  * double), then, for a reader with [[keys]], optional `k0, k1` integer
  * literals: the SipHash key its decode checks.
  */
abstract class SketchReader[D <: AnyRef](val name: String, val dataType: DataType) extends Serializable {

  /** Sketch arguments: 1, or 2 for the pairwise functions. */
  def sketches: Int = 1

  /** The types each value argument may take, in order (at most two). */
  def values: Seq[Seq[DataType]] = Nil

  /** The SipHash key of a reader that takes one, and the same reader
    * under another key. */
  def keys: Option[(Long, Long)] = None
  def withKeys(k0: Long, k1: Long): SketchReader[D] = this

  /** This reader for value arguments of the (resolved, checked) types
    * `types`; the expression binds once, before it decodes anything. A
    * reader whose decode depends on the value type overrides it. */
  def bind(types: Seq[DataType]): SketchReader[D] = this

  /** Whether an empty payload reads as NULL. When false, `read` gets
    * `null` for an empty sketch argument. */
  def emptyIsNull: Boolean = true

  /** Validated decode, once per distinct payload; throws
    * `IllegalArgumentException` on a payload this reader cannot read. */
  def decode(x: Array[Byte]): D

  /** One row: the decoded sketches (`b` is null for a one-sketch reader)
    * and the value arguments `v`, `w` as Catalyst values (null where there
    * is none). Must not mutate `a` or `b`: they are cached across rows. */
  def read(a: D, b: D, v: Any, w: Any): Any

  /** For a one-sketch reader, the Java expression of one row's answer
    * that generated code evaluates on a constant sketch decoded once, given
    * the decoded object's reference and the value arguments' variables;
    * the result is boxed, null for SQL NULL. None calls [[read]]. */
  def readCode: Option[(String, Seq[String]) => String] = None

  final def arity: Int = sketches + values.length

  /** The SQL argument list, for error messages. */
  final def signature: String =
    (if (sketches == 1) "sketch BINARY" else "a BINARY, b BINARY") +
      values.map(ts => s", value ${ts.map(_.sql).mkString("|")}").mkString +
      (if (keys.isEmpty) "" else " [, k0 BIGINT, k1 BIGINT]")

  /** This function as a `Column`, built directly (no session
    * registration); a reader with keys carries them in the expression. */
  def column(args: Column*): Column = graft.plans.SketchRead.column(this, args)
}

/** A reader whose whole answer is its decoded payload (estimates,
  * summaries, samples): computed once per distinct sketch. */
abstract class DecodedReader[D <: AnyRef](name: String, dataType: DataType)
    extends SketchReader[D](name, dataType) {
  def read(a: D, b: D, v: Any, w: Any): Any = a
}

object SketchKinds {
  import SketchInput._

  private def keyHash(k0: Long, k1: Long): Long = SipHash.hashLong(k0, k1, k0 ^ k1)

  private def utf8(v: Any): Array[Byte] = v.asInstanceOf[UTF8String].getBytes

  // ------------------------------------------------------------- Bloom

  /** Decoded blocked Bloom filter: words under `cfg`, element `typeTag`. */
  final case class BloomBuf(words: Array[Long], cfg: BloomConfig, typeTag: Long)

  /** Blocked Bloom filter over token arrays, ints, longs or strings. Merges
    * accept mixed sizes, folding larger filters down to the smallest (the
    * distributed analogue of the reference's different-size `unionInto`,
    * `Internal.hs:509-550`); key, k, element type and hash width must
    * match. */
  final case class Bloom(cfg: BloomConfig) extends SketchKind[BloomBuf] {
    def name: String = "graft_bloom"
    protected def buildInput(dt: DataType): Option[SketchInput] = dt match {
      case ArrayType(IntegerType, _) => Some(Tokens)
      case ByteType | ShortType | IntegerType => Some(Ints)
      case LongType => Some(Longs)
      case StringType => Some(Strings)
      case _ => None
    }
    def empty(in: SketchInput): BloomBuf = BloomBuf(new Array[Long](cfg.l), cfg, in.typeTag)
    def update(b: BloomBuf, in: SketchInput, v: Any, w: Long): BloomBuf = {
      in match {
        case Tokens =>
          val a = v.asInstanceOf[ArrayData]
          var i = 0
          while (i < a.numElements()) {
            if (!a.isNullAt(i)) BlockedBloom.insertInt(b.words, cfg, a.getInt(i))
            i += 1
          }
        case Ints => BlockedBloom.insertInt(b.words, cfg, v.asInstanceOf[Number].intValue())
        case Longs => BlockedBloom.insertLong(b.words, cfg, longOf(v))
        case _ => BlockedBloom.insertUtf8(b.words, cfg, utf8(v))
      }
      b
    }
    def merge(a: BloomBuf, b: BloomBuf): BloomBuf = {
      require(a.cfg.k == b.cfg.k, s"bloom merge: k mismatch ${a.cfg.k} vs ${b.cfg.k}")
      require(a.typeTag == b.typeTag, s"bloom merge: element type mismatch ${a.typeTag} vs ${b.typeTag}")
      require(a.cfg.hash64Enough == b.cfg.hash64Enough,
        "bloom merge: hash-width mismatch (different-size filters must share the hash path)")
      if (a.cfg.log2l <= b.cfg.log2l) {
        val src = if (a.cfg.log2l == b.cfg.log2l) b.words else BlockedBloom.fold(b.words, a.cfg.log2l)
        BlockedBloom.unionInPlace(a.words, src)
        a
      } else {
        val folded = BlockedBloom.fold(a.words, b.cfg.log2l)
        BlockedBloom.unionInPlace(folded, b.words)
        BloomBuf(folded, b.cfg, a.typeTag)
      }
    }
    def toBytes(b: BloomBuf): Array[Byte] = BlockedBloom.toBytes(b.words, b.cfg, b.typeTag)
    def fromBytes(x: Array[Byte]): BloomBuf = {
      val (c, words, tag) = BlockedBloom.fromBytes(cfg.k0, cfg.k1, x)
      BloomBuf(words, c, tag)
    }
  }

  /** A keyed pack under construction: entries by key, and their total
    * sketch bytes. */
  final class PackBuf(val entries: java.util.TreeMap[String, Array[Byte]], var sketchBytes: Long)

  /** `graft_bloom_pack(key, sketch)`: the per-group filters of its rows as
    * one [[graft.plans.BloomFilterPack]], entries in key order, built in
    * the query that probes it. A repeated key merges by Bloom union under
    * the kind's key (`graft_bloom_union`: an empty sketch contributes
    * nothing); a row with a NULL key or sketch is skipped; no rows give
    * the empty pack. The pack is held to `BloomFilterPack`'s bounds as it
    * grows. Builds only. */
  final case class BloomPack(k0: Long, k1: Long) extends SketchKind[PackBuf] {
    def name: String = "graft_bloom_pack"
    protected def buildInput(dt: DataType): Option[SketchInput] = dt match {
      case StructType(Array(StructField(_, StringType, _, _), StructField(_, BinaryType, _, _))) =>
        Some(KeyedSketches)
      case _ => None
    }
    override def mergeable: Boolean = false
    private val union = BloomCombine(intersection = false, k0, k1)
    private def load(x: Array[Byte]) = if (x.isEmpty) null else union.decode(x)
    private def add(b: PackBuf, key: String, x: Array[Byte]): Unit = {
      val prev = b.entries.get(key)
      val merged =
        if (prev == null) x else union.read(load(prev), load(x), null, null).asInstanceOf[Array[Byte]]
      b.entries.put(key, merged)
      b.sketchBytes += merged.length - (if (prev == null) 0 else prev.length)
      graft.plans.BloomFilterPack.checkBounds(b.entries.size, b.sketchBytes)
    }
    def empty(in: SketchInput): PackBuf = new PackBuf(new java.util.TreeMap, 0L)
    def update(b: PackBuf, in: SketchInput, v: Any, w: Long): PackBuf = {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1)) add(b, row.getUTF8String(0).toString, row.getBinary(1))
      b
    }
    def merge(a: PackBuf, b: PackBuf): PackBuf = { b.entries.forEach((k, x) => add(a, k, x)); a }
    def toBytes(b: PackBuf): Array[Byte] = graft.plans.BloomFilterPack.encode(b.entries.asScala.toSeq)
    def fromBytes(x: Array[Byte]): PackBuf = {
      val b = empty(KeyedSketches)
      graft.plans.BloomFilterPack.decode(x).foreach { case (k, s) => add(b, k, s) }
      b
    }
  }

  /** Bloom words plus the count of inserts that set at least one new bit. */
  final class NewCountBuf(val words: Array[Long], var newCount: Long)

  /** Bloom build over token arrays that also surfaces the reference
    * insert's "probably new" Bool (`Internal.hs:449-454`) as a count:
    * within one task it is exactly the number of inserts that set at least
    * one new bit (<= distinct, equal up to in-filter collisions); across
    * merged partials the counts sum, an UPPER bound on that quantity (the
    * same element can be first-seen in two partitions). Use HLL when a
    * tight distributed distinct estimate is the goal. Result:
    * `struct<bloom: binary, approx_new: bigint>`; the wire form is the
    * filter bytes followed by the 8-byte count. Builds only. */
  final case class BloomNewCount(cfg: BloomConfig) extends SketchKind[NewCountBuf] {
    def name: String = "graft_bloom_tokens_newcount"
    protected def buildInput(dt: DataType): Option[SketchInput] = dt match {
      case ArrayType(IntegerType, _) => Some(Tokens)
      case _ => None
    }
    override def mergeable: Boolean = false
    def empty(in: SketchInput): NewCountBuf = new NewCountBuf(new Array[Long](cfg.l), 0L)
    def update(b: NewCountBuf, in: SketchInput, v: Any, w: Long): NewCountBuf = {
      val a = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < a.numElements()) {
        if (!a.isNullAt(i) && BlockedBloom.insertInt(b.words, cfg, a.getInt(i))) b.newCount += 1L
        i += 1
      }
      b
    }
    def merge(a: NewCountBuf, b: NewCountBuf): NewCountBuf = {
      BlockedBloom.unionInPlace(a.words, b.words)
      a.newCount += b.newCount
      a
    }
    private def bloomBytes(b: NewCountBuf) = BlockedBloom.toBytes(b.words, cfg, TypeTag.Int)
    def toBytes(b: NewCountBuf): Array[Byte] = {
      val f = bloomBytes(b)
      ByteBuffer.allocate(f.length + 8).put(f).putLong(b.newCount).array()
    }
    def fromBytes(x: Array[Byte]): NewCountBuf = {
      require(x.length == cfg.sizeBytes + 64 + 8, s"bloom new-count buffer of ${x.length} bytes")
      val (c, words, tag) = BlockedBloom.fromBytes(cfg.k0, cfg.k1, java.util.Arrays.copyOf(x, x.length - 8))
      require(c == cfg && tag == TypeTag.Int, "bloom new-count buffer built under another config")
      val n = ByteBuffer.wrap(x, x.length - 8, 8).getLong()
      require(n >= 0L, s"bloom new-count buffer count $n")
      new NewCountBuf(words, n)
    }
    override def dataType: DataType = StructType(Seq(
      StructField("bloom", BinaryType, nullable = true),
      StructField("approx_new", LongType, nullable = false)))
    override def eval(b: NewCountBuf): Any =
      org.apache.spark.sql.catalyst.InternalRow(bloomBytes(b), b.newCount)
  }

  // --------------------------------------------------------------- HLL

  /** Decoded HLL registers with the header they serialize under. */
  final case class HllBuf(regs: Array[Byte], p: Int, typeTag: Long, keyHash: Long)

  /** HyperLogLog distinct count over token arrays, integral columns or
    * strings. Merges stamp the INPUT sketches' key hash (re-stamping under
    * this kind's key would silently relabel it, defeating the cross-key
    * rejection) and require equal precision, type and key. */
  final case class HllKind(k0: Long, k1: Long, p: Int) extends SketchKind[HllBuf] {
    def name: String = "graft_hll"
    protected def buildInput(dt: DataType): Option[SketchInput] = dt match {
      case ArrayType(IntegerType, _) => Some(Tokens)
      case t if isIntegral(t) => Some(Longs)
      case StringType => Some(Strings)
      case _ => None
    }
    def empty(in: SketchInput): HllBuf = HllBuf(Hll.empty(p), p, in.typeTag, keyHash(k0, k1))
    def update(b: HllBuf, in: SketchInput, v: Any, w: Long): HllBuf = {
      in match {
        case Tokens =>
          val a = v.asInstanceOf[ArrayData]
          var i = 0
          while (i < a.numElements()) {
            if (!a.isNullAt(i)) Hll.addHash(b.regs, p, SipHash.hashInt(k0, k1, a.getInt(i)))
            i += 1
          }
        case Longs => Hll.addHash(b.regs, p, SipHash.hashLong(k0, k1, longOf(v)))
        case _ => Hll.addHash(b.regs, p, SipHash.hash64(k0, k1, utf8(v)))
      }
      b
    }
    def merge(a: HllBuf, b: HllBuf): HllBuf = {
      require(a.p == b.p && a.typeTag == b.typeTag,
        s"HLL merge: precision/type mismatch (${a.p}/${a.typeTag} vs ${b.p}/${b.typeTag})")
      require(a.keyHash == b.keyHash, "HLL merge: sketches built under different SipHash keys")
      Hll.merge(a.regs, b.regs)
      a
    }
    def toBytes(b: HllBuf): Array[Byte] = Hll.toBytes(b.regs, b.p, b.typeTag, b.keyHash)
    def fromBytes(x: Array[Byte]): HllBuf = {
      val (pp, regs, tag, kh) = Hll.fromBytesFull(x)
      HllBuf(regs, pp, tag, kh)
    }
  }

  // --------------------------------------------------------- count-min

  /** Decoded count-min counters with the header they serialize under. */
  final case class CmsBuf(counters: Array[Long], depth: Int, log2Width: Int, typeTag: Long, keyHash: Long)

  /** Count-min over token arrays: one increment per token occurrence.
    * Merges stamp the input key hash and require equal shape, type and
    * key. */
  final case class Cms(cfg: CmsConfig) extends SketchKind[CmsBuf] {
    def name: String = "graft_cms"
    protected def buildInput(dt: DataType): Option[SketchInput] = dt match {
      case ArrayType(IntegerType, _) => Some(Tokens)
      case _ => None
    }
    def empty(in: SketchInput): CmsBuf =
      CmsBuf(CountMin.empty(cfg), cfg.depth, cfg.log2Width, in.typeTag, keyHash(cfg.k0, cfg.k1))
    def update(b: CmsBuf, in: SketchInput, v: Any, w: Long): CmsBuf = {
      val a = v.asInstanceOf[ArrayData]
      val scratch = new Array[Long](2) // one allocation per row, not per token
      var i = 0
      while (i < a.numElements()) {
        if (!a.isNullAt(i)) {
          SipHash.hash128IntInto(cfg.k0, cfg.k1, a.getInt(i), scratch)
          CountMin.addHash(b.counters, cfg, scratch(1), scratch(0) | 1L)
        }
        i += 1
      }
      b
    }
    def merge(a: CmsBuf, b: CmsBuf): CmsBuf = {
      require(a.depth == b.depth && a.log2Width == b.log2Width && a.typeTag == b.typeTag,
        "CMS merge: shape/type mismatch")
      require(a.keyHash == b.keyHash, "CMS merge: sketches built under different SipHash keys")
      CountMin.merge(a.counters, b.counters)
      a
    }
    def toBytes(b: CmsBuf): Array[Byte] =
      CountMin.toBytesWithKeyHash(b.counters, b.depth, b.log2Width, b.typeTag, b.keyHash)
    def fromBytes(x: Array[Byte]): CmsBuf = {
      val (d, lw, c, tag, kh) = CountMin.fromBytesFull(x)
      CmsBuf(c, d, lw, tag, kh)
    }
  }

  // ------------------------------------------------ fused Bloom+HLL+CMS

  /** Ids hashed per structure-at-a-time pass of [[FusedTokens]]: bounds the
    * gather scratch to 24 KB per dense buffer however many ids a densify
    * inserts. */
  private final val FusedInsertChunk = 1024

  /** [[FusedTokens]]' mutable buffer, sparse until dense is smaller (the
    * HLL++ sparse→dense rule of Heule–Nunkesser–Hall 2013, applied to the
    * whole bloom + HLL + CMS buffer).
    *
    * Sparse (`bloom == null`): `ids(0 until n)` holds the non-null token ids
    * seen so far, duplicates kept (the CMS counts multiplicity). All three
    * sketches depend only on the multiset of inserted tokens (inserts
    * commute; union is OR / max / add), so deferring the inserts changes no
    * output byte. Dense: `bloom`/`hll`/`cms` hold the sketches and `ids` is
    * only the staging area for one row. h64/hi/lo are the hash-gather
    * scratch of the insert kernel, at most [[FusedInsertChunk]] long
    * (transient by construction: `fromBytes` recreates them empty). */
  final class FusedBuf {
    var ids: Array[Int] = Array.emptyIntArray
    var n: Int = 0
    var bloom: Array[Long] = null
    var hll: Array[Byte] = null
    var cms: Array[Long] = null
    val scratch = new Array[Long](2)
    var h64: Array[Long] = Array.emptyLongArray
    var hi: Array[Long] = Array.emptyLongArray
    var lo: Array[Long] = Array.emptyLongArray

    def isDense: Boolean = bloom != null

    /** Room for `need` ids; doubling growth is capped at `limit`, so a
      * sparse buffer never holds more than `limit` slots. */
    def ensureIds(need: Int, limit: Int): Unit =
      if (ids.length < need)
        ids = java.util.Arrays.copyOf(ids, math.max(need, math.min(math.max(16, 2 * ids.length), limit)))

    def ensureGather(need: Int): Unit =
      if (h64.length < need) {
        val cap = math.min(FusedInsertChunk, math.max(need, math.max(64, h64.length * 2)))
        h64 = new Array[Long](cap); hi = new Array[Long](cap); lo = new Array[Long](cap)
      }
  }

  /** `graft_fused_tokens_native(tokens)`: Bloom, HLL and count-min over
    * token arrays in one pass, the flagship build of `SketchJob`'s
    * increment, valid for every `SketchJob.JobConfig`. All three hash under
    * the one SipHash key the bloom and CMS configs must share: per token one
    * 64-bit hash (bloom, HLL) and one 128-bit hash (CMS, and a bloom whose
    * 6k + log2l > 64). Result: `struct<bloom, hll, cms>`, each member
    * byte-identical to its own kind's build. Builds only.
    *
    * The buffer stays sparse (token ids, 4 bytes each) while that is
    * smaller than the dense sketches ([[sparseLimit]] ids) and densifies
    * past it, so a partial group that sees a few thousand tokens crosses
    * the shuffle as its ids, not as ~119 KB of sketch (the
    * `DefaultConfig` size). Hashing happens where a buffer densifies (in
    * the final aggregate or `eval` for small groups, in the partial for
    * large ones), still once per token. The shuffle form: sparse, `~n`
    * (negative, where the dense form starts with its positive bloom word
    * count) then the n ids, 4 + 4n bytes; dense, the bloom and CMS lengths,
    * bloom words, HLL registers, CMS counters. Both little-endian. */
  final case class FusedTokens(bloom: BloomConfig, hllP: Int, cms: CmsConfig) extends SketchKind[FusedBuf] {
    require(bloom.k0 == cms.k0 && bloom.k1 == cms.k1, "fused build: bloom and CMS must share one SipHash key")
    private val k0 = bloom.k0
    private val k1 = bloom.k1

    /** Bytes of the dense buffer: bloom words + HLL registers + CMS counters. */
    val denseBytes: Long = 8L * bloom.l + Hll.numRegisters(hllP) + 8L * cms.bufferLen

    /** The most ids a buffer holds sparse: one more and 4 bytes per id
      * exceed the dense form (29,698 at `SketchJob.DefaultConfig`). */
    val sparseLimit: Int = math.min(denseBytes / 4, Int.MaxValue - 16L).toInt

    def name: String = "graft_fused_tokens_native"
    protected def buildInput(dt: DataType): Option[SketchInput] = dt match {
      case ArrayType(IntegerType, _) => Some(Tokens)
      case _ => None
    }
    override def mergeable: Boolean = false
    def empty(in: SketchInput): FusedBuf = new FusedBuf

    def update(b: FusedBuf, in: SketchInput, v: Any, w: Long): FusedBuf = {
      val a = v.asInstanceOf[ArrayData]
      val m = a.numElements()
      if (!b.isDense && b.n + m > sparseLimit) densify(b)
      b.ensureIds(b.n + m, sparseLimit)
      var n = b.n
      var i = 0
      while (i < m) {
        if (!a.isNullAt(i)) { b.ids(n) = a.getInt(i); n += 1 }
        i += 1
      }
      if (b.isDense) { insert(b, b.ids, n); n = 0 }
      b.n = n
      b
    }

    def merge(a: FusedBuf, b: FusedBuf): FusedBuf =
      if (!b.isDense) { addIds(a, b.ids, b.n); a }
      else if (!a.isDense) { insert(b, a.ids, a.n); b }
      else {
        BlockedBloom.unionInPlace(a.bloom, b.bloom)
        Hll.merge(a.hll, b.hll)
        CountMin.merge(a.cms, b.cms)
        a
      }

    def toBytes(b: FusedBuf): Array[Byte] =
      if (!b.isDense) {
        val bb = ByteBuffer.allocate(4 + 4 * b.n).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(~b.n)
        bb.asIntBuffer().put(b.ids, 0, b.n)
        bb.array()
      } else {
        val bb = ByteBuffer.allocate(8 + denseBytes.toInt).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(b.bloom.length).putInt(b.cms.length)
        bb.asLongBuffer().put(b.bloom)
        bb.position(bb.position() + 8 * b.bloom.length)
        bb.put(b.hll)
        bb.asLongBuffer().put(b.cms)
        bb.array()
      }

    /** Decodes either shuffle form after checking its lengths against this
      * config, so no array is sized by an unchecked header. */
    def fromBytes(x: Array[Byte]): FusedBuf = {
      require(x.length >= 4, s"fused buffer of ${x.length} bytes")
      val bb = ByteBuffer.wrap(x).order(ByteOrder.LITTLE_ENDIAN)
      val head = bb.getInt()
      val b = new FusedBuf
      if (head < 0) {
        val n = ~head
        require(n <= sparseLimit && x.length == 4L + 4L * n,
          s"sparse fused buffer of $n ids has ${x.length} bytes (at most $sparseLimit ids)")
        b.ids = new Array[Int](n)
        bb.asIntBuffer().get(b.ids)
        b.n = n
      } else {
        require(x.length == 8L + denseBytes && head == bloom.l && bb.getInt(4) == cms.bufferLen,
          s"dense fused buffer of ${x.length} bytes does not match $bloom, p=$hllP, $cms")
        bb.position(8)
        b.bloom = new Array[Long](bloom.l)
        bb.asLongBuffer().get(b.bloom)
        bb.position(bb.position() + 8 * bloom.l)
        b.hll = Hll.empty(hllP)
        bb.get(b.hll)
        b.cms = CountMin.empty(cms)
        bb.asLongBuffer().get(b.cms)
      }
      b
    }

    override def dataType: DataType = StructType(Seq(
      StructField("bloom", BinaryType, nullable = false),
      StructField("hll", BinaryType, nullable = false),
      StructField("cms", BinaryType, nullable = false)))

    override def eval(b: FusedBuf): Any = {
      if (!b.isDense) densify(b)
      InternalRow(BlockedBloom.toBytes(b.bloom, bloom, TypeTag.Int),
        Hll.toBytes(b.hll, hllP, TypeTag.Int, keyHash(k0, k1)),
        CountMin.toBytes(b.cms, cms, TypeTag.Int))
    }

    /** Adds ids(0 until n) to `b`: appended while the result stays within
      * [[sparseLimit]], inserted into the dense sketches otherwise. */
    private def addIds(b: FusedBuf, ids: Array[Int], n: Int): Unit = {
      if (!b.isDense && b.n + n > sparseLimit) densify(b)
      if (b.isDense) insert(b, ids, n)
      else {
        b.ensureIds(b.n + n, sparseLimit)
        System.arraycopy(ids, 0, b.ids, b.n, n)
        b.n += n
      }
    }

    /** Allocates the dense sketches and inserts the held ids into them. */
    private def densify(b: FusedBuf): Unit = {
      b.bloom = new Array[Long](bloom.l)
      b.hll = Hll.empty(hllP)
      b.cms = CountMin.empty(cms)
      val ids = b.ids
      val n = b.n
      b.ids = Array.emptyIntArray
      b.n = 0
      insert(b, ids, n)
    }

    /** The insert kernel of `update`, `merge` and densify: ids(0 until n)
      * into the dense sketches of `b`, [[FusedInsertChunk]] ids at a time.
      *
      * STRUCTURE-AT-A-TIME passes (optimization r07): hashes are gathered
      * once per chunk, then each sketch is updated in its own tight loop —
      * the interleaved per-token form touched ~8 random locations across a
      * bloom+HLL+CMS working set of ~200 KB per group every token; the split
      * loops keep one structure (and for CMS one 16 KB depth row) hot at a
      * time. Every per-token operation is commutative (bloom OR, HLL max,
      * CMS add), so the reordering is byte-identical — asserted by the
      * fused ≡ individual-aggregator identity tests. */
    private def insert(b: FusedBuf, ids: Array[Int], n: Int): Unit = {
      b.ensureGather(math.min(n, FusedInsertChunk))
      val width = cms.width
      val mask = cms.widthMask
      var off = 0
      while (off < n) {
        val cnt = math.min(FusedInsertChunk, n - off)
        var i = 0
        while (i < cnt) {
          val t = ids(off + i)
          b.h64(i) = SipHash.hashInt(k0, k1, t)
          SipHash.hash128IntInto(k0, k1, t, b.scratch)
          b.hi(i) = b.scratch(0)
          b.lo(i) = b.scratch(1)
          i += 1
        }
        i = 0
        if (bloom.hash64Enough)
          while (i < cnt) { BlockedBloom.insertHash64(b.bloom, bloom, b.h64(i)); i += 1 }
        else // 6k + log2l > 64: the 128-bit hashes gathered for the CMS feed the bloom too
          while (i < cnt) { BlockedBloom.insertHash128(b.bloom, bloom, b.hi(i), b.lo(i)); i += 1 }
        i = 0
        while (i < cnt) { Hll.addHash(b.hll, hllP, b.h64(i)); i += 1 }
        var j = 0
        while (j < cms.depth) {
          val rowOff = j * width
          i = 0
          while (i < cnt) {
            b.cms(rowOff + ((b.lo(i) + j * (b.hi(i) | 1L)) & mask).toInt) += 1L
            i += 1
          }
          j += 1
        }
        off += cnt
      }
      b.cms(cms.depth * width) += n.toLong
    }
  }

  // --------------------------------------------------------------- KMV

  /** KMV hashes (capacity = array length) and the valid prefix length. */
  final class KmvBuf(var hashes: Array[Long], var size: Int, val typeTag: Long)

  /** KMV distinct sketch (cardinality, intersection, Jaccard; see
    * [[graft.core.Kmv]]) over token arrays, integral columns or strings.
    * Merges fold mixed capacities down to the smallest and require this
    * kind's key and equal element types. */
  final case class KmvKind(k0: Long, k1: Long, k: Int) extends SketchKind[KmvBuf] {
    def name: String = "graft_kmv"
    protected def buildInput(dt: DataType): Option[SketchInput] = dt match {
      case ArrayType(IntegerType, _) => Some(Tokens)
      case t if isIntegral(t) => Some(Longs)
      case StringType => Some(Strings)
      case _ => None
    }
    def empty(in: SketchInput): KmvBuf = new KmvBuf(Kmv.emptyHashes(k), 0, in.typeTag)
    def update(b: KmvBuf, in: SketchInput, v: Any, w: Long): KmvBuf = {
      in match {
        case Tokens =>
          val a = v.asInstanceOf[ArrayData]
          var i = 0
          while (i < a.numElements()) {
            if (!a.isNullAt(i)) b.size = Kmv.add(b.hashes, b.size, SipHash.hashInt(k0, k1, a.getInt(i)))
            i += 1
          }
        case Longs => b.size = Kmv.add(b.hashes, b.size, SipHash.hashLong(k0, k1, longOf(v)))
        case _ => b.size = Kmv.add(b.hashes, b.size, SipHash.hash64(k0, k1, utf8(v)))
      }
      b
    }
    def merge(a: KmvBuf, b: KmvBuf): KmvBuf = {
      require(a.typeTag == b.typeTag, s"KMV merge: element type mismatch ${a.typeTag} vs ${b.typeTag}")
      val (h, s) = Kmv.merge(a.hashes, a.size, b.hashes, b.size)
      a.hashes = h
      a.size = s
      a
    }
    def toBytes(b: KmvBuf): Array[Byte] = Kmv.toBytes(b.hashes, b.size, b.typeTag, keyHash(k0, k1))
    def fromBytes(x: Array[Byte]): KmvBuf = {
      val (h, s, tag, kh) = Kmv.fromBytes(x)
      require(kh == keyHash(k0, k1), "KMV merge: sketch was built with a different SipHash key")
      new KmvBuf(h, s, tag)
    }
  }

  // ----------------------------------------------------------- quantiles

  private def doubleInput(dt: DataType): Option[SketchInput] = dt match {
    case t if isIntegral(t) => Some(Doubles)
    case FloatType | DoubleType => Some(Doubles)
    case _ => None
  }

  /** KLL quantile sketch over a numeric column (widened to double). Merges
    * require equal k (enforced by [[KllSketch.merge]]); the wire form keeps
    * the compaction-offset state, so a buffer decodes to the sketch it was. */
  final case class KllKind(k: Int) extends SketchKind[KllSketch] {
    def name: String = "graft_kll"
    protected def buildInput(dt: DataType): Option[SketchInput] = doubleInput(dt)
    def empty(in: SketchInput): KllSketch = new KllSketch(k)
    def update(b: KllSketch, in: SketchInput, v: Any, w: Long): KllSketch = {
      b.add(v.asInstanceOf[Number].doubleValue()); b
    }
    def merge(a: KllSketch, b: KllSketch): KllSketch = a.merge(b)
    def toBytes(b: KllSketch): Array[Byte] = b.toBytes
    def fromBytes(x: Array[Byte]): KllSketch = Kll.fromBytes(x)
  }

  /** Merging t-digest over a numeric column (widened to double). Merges
    * require equal compression (enforced by [[TDigest.merge]]). */
  final case class TDigestKind(compression: Double) extends SketchKind[TDigest] {
    def name: String = "graft_tdigest"
    protected def buildInput(dt: DataType): Option[SketchInput] = doubleInput(dt)
    def empty(in: SketchInput): TDigest = new TDigest(compression)
    def update(b: TDigest, in: SketchInput, v: Any, w: Long): TDigest = {
      b.add(v.asInstanceOf[Number].doubleValue()); b
    }
    def merge(a: TDigest, b: TDigest): TDigest = a.merge(b)
    def toBytes(b: TDigest): Array[Byte] = b.toBytes
    def fromBytes(x: Array[Byte]): TDigest = TDigest.fromBytes(x)
  }

  // ---------------------------------------------- frequent items (MG/SS)

  /** Misra-Gries heavy hitters over an integral key column, optionally
    * weighted by a second integral column (token-mass ranking). Exact
    * invariants (est <= true <= est + D; true > D => present;
    * D <= N/capacity) hold for any partitioning and merge order, with
    * N = total weight. Negative weights are rejected by the core; merges
    * require equal capacity. */
  final case class HeavyHitters(capacity: Int) extends SketchKind[FrequentItems.Summary] {
    def name: String = "graft_heavyhitter"
    protected def buildInput(dt: DataType): Option[SketchInput] =
      if (isIntegral(dt)) Some(Longs) else None
    override def acceptsWeight: Boolean = true
    def empty(in: SketchInput): FrequentItems.Summary = new FrequentItems.Summary(capacity)
    def update(b: FrequentItems.Summary, in: SketchInput, v: Any, w: Long): FrequentItems.Summary = {
      b.add(longOf(v), w); b
    }
    def merge(a: FrequentItems.Summary, b: FrequentItems.Summary): FrequentItems.Summary =
      a.mergeInPlace(b)
    def toBytes(b: FrequentItems.Summary): Array[Byte] = FrequentItems.toBytes(b)
    def fromBytes(x: Array[Byte]): FrequentItems.Summary = FrequentItems.fromBytes(x)
  }

  // ------------------------------------------------- bottom-k value sample

  /** Parallel (slot key, value) arrays, capacity = array length, and the
    * valid prefix length. */
  final class SampleBuf[V](var hashes: Array[Long], var values: Array[V], var size: Int, val typeTag: Long)

  private def requireKey(stored: Long, k0: Long, k1: Long): Unit =
    require(stored == keyHash(k0, k1), "BottomK merge: sample was built with a different SipHash key")

  private def sampleVersion(weighted: Boolean): Long =
    if (weighted) BottomK.SerialVersionWeighted else BottomK.SerialVersion

  /** Mergeable sample of k distinct values per group (see
    * [[graft.core.BottomK]]; deterministic for a fixed SipHash key; the
    * shuffle carries one <= k-entry summary per partial group).
    *
    * `valueType`: LONG samples read an integral column,
    * STRING samples a string column (values kept as UTF-8 bytes, hashed
    * with SipHash-2-4 like the Bloom/KMV string convention); it also fixes
    * the weighted tie-break order (signed, or unsigned bytes: Spark's
    * UTF8_BINARY) and the payload layout, and a decode refuses the other
    * layout.
    *
    * Uniform (`weighted = false`, version-1 layout): the k values with the
    * smallest hashes. ES-weighted (`weighted = true`, version-2 layout, a
    * weight column is required): the k smallest Efraimidis–Spirakis keys
    * -ln(u)/w; rows with weight <= 0 are skipped, and the weight must be a
    * function of the value. The two layouts never merge with each other. */
  final case class Sample[V](k0: Long, k1: Long, k: Int, weighted: Boolean, valueType: BottomK.ValueType[V])
      extends SketchKind[SampleBuf[V]] {
    private def longs: Boolean = valueType == BottomK.LongValues
    // uniform samples dedup by hash identity (the version-1 strict-ascending
    // invariant); ES-weighted ones by (key, value) pair
    private def cmp: (V, V) => Int = if (weighted) valueType.cmp else null
    def name: String =
      (if (weighted) "graft_sample_weighted" else "graft_sample_bottomk") + (if (longs) "" else "_str")
    protected def buildInput(dt: DataType): Option[SketchInput] =
      if (longs) { if (isIntegral(dt)) Some(Longs) else None }
      else if (dt == StringType) Some(Strings) else None
    override def acceptsWeight: Boolean = weighted
    override def requiresWeight: Boolean = weighted
    def empty(in: SketchInput): SampleBuf[V] =
      new SampleBuf(BottomK.emptyBuffers(k)._1, valueType.newArray(k), 0, in.typeTag)
    def update(b: SampleBuf[V], in: SketchInput, v: Any, w: Long): SampleBuf[V] = {
      if (!weighted || w > 0L) {
        // a string value is a private copy: the sample keeps the bytes beyond this row
        val x = (if (longs) longOf(v) else v.asInstanceOf[UTF8String].copy().getBytes).asInstanceOf[V]
        val h = if (longs) SipHash.hashLong(k0, k1, longOf(x))
          else SipHash.hash64(k0, k1, x.asInstanceOf[Array[Byte]])
        b.size = BottomK.add(b.hashes, b.values, b.size, if (weighted) BottomK.esKey(h, w.toDouble) else h, x, cmp)
      }
      b
    }
    def merge(a: SampleBuf[V], b: SampleBuf[V]): SampleBuf[V] = {
      require(a.typeTag == b.typeTag, s"BottomK merge: element type mismatch ${a.typeTag} vs ${b.typeTag}")
      val (h, v, s) = BottomK.merge(a.hashes, a.values, a.size, b.hashes, b.values, b.size, cmp)
      new SampleBuf(h, v, s, a.typeTag)
    }
    def toBytes(b: SampleBuf[V]): Array[Byte] =
      BottomK.toBytes(b.hashes, b.values, b.size, b.typeTag, keyHash(k0, k1), sampleVersion(weighted), valueType)
    def fromBytes(x: Array[Byte]): SampleBuf[V] = {
      val (h, v, s, tag, kh) = BottomK.fromBytes(x, sampleVersion(weighted), valueType)
      requireKey(kh, k0, k1)
      new SampleBuf(h, v, s, tag)
    }
  }

  // ------------------------------------------------------------ readers
  //
  // Every SQL read function, next to its kind, decoding with the core
  // decoders the kinds' `fromBytes` use. The HLL, KMV and sample readers
  // take no key argument, so they check no key; the pairwise KMV functions
  // check that both sides share one.

  /** `graft_hll_estimate(sketch)` -> double; the O(m) register scan runs
    * once per distinct sketch. */
  case object HllEstimate extends DecodedReader[java.lang.Double]("graft_hll_estimate", DoubleType) {
    def decode(x: Array[Byte]): java.lang.Double = Hll.estimate(Hll.fromBytes(x)._2)
  }

  /** Decoded count-min counters under the reader's key. */
  final class CmsRead(val cfg: CmsConfig, val counters: Array[Long], val typeTag: Long)

  private def cmsRead(k0: Long, k1: Long, x: Array[Byte]): CmsRead = {
    val (d, lw, c, tag, kh) = CountMin.fromBytesFull(x)
    require(kh == keyHash(k0, k1), "CMS sketch was built with a different SipHash key")
    new CmsRead(CmsConfig(k0, k1, d, lw), c, tag)
  }

  /** `graft_cms_estimate(sketch, elem [, k0, k1])` -> bigint: the point
    * frequency (one-sided, >= exact) of an int or string element. The
    * element type must be the one the sketch was built over. */
  final case class CmsEstimate(k0: Long = Keys.DefaultK0, k1: Long = Keys.DefaultK1)
      extends SketchReader[CmsRead]("graft_cms_estimate", LongType) {
    override def values: Seq[Seq[DataType]] = Seq(Seq(IntegerType, StringType))
    override def keys: Option[(Long, Long)] = Some((k0, k1))
    override def withKeys(a: Long, b: Long): CmsEstimate = CmsEstimate(a, b)
    def decode(x: Array[Byte]): CmsRead = cmsRead(k0, k1, x)
    private def requireTag(c: CmsRead, tag: Long): Unit =
      require(c.typeTag == tag, s"$name: the sketch holds ${TypeTag.name(c.typeTag)} elements, " +
        s"probed as ${TypeTag.name(tag)}")
    def read(c: CmsRead, b: CmsRead, v: Any, w: Any): Any = v match {
      case s: UTF8String =>
        requireTag(c, TypeTag.String)
        CountMin.estimateBytes(c.counters, c.cfg, s.getBytes)
      case x =>
        requireTag(c, TypeTag.Int)
        CountMin.estimateInt(c.counters, c.cfg, x.asInstanceOf[Int])
    }
  }

  /** `graft_cms_total(sketch [, k0, k1])` -> bigint: the inserted weight N. */
  final case class CmsTotal(k0: Long = Keys.DefaultK0, k1: Long = Keys.DefaultK1)
      extends DecodedReader[java.lang.Long]("graft_cms_total", LongType) {
    override def keys: Option[(Long, Long)] = Some((k0, k1))
    override def withKeys(a: Long, b: Long): CmsTotal = CmsTotal(a, b)
    def decode(x: Array[Byte]): java.lang.Long = {
      val c = cmsRead(k0, k1, x)
      CountMin.totalCount(c.counters, c.cfg)
    }
  }

  /** `graft_kll_quantile(sketch, q)` -> double: the retained items are
    * sorted once per distinct sketch; each row is a binary search. */
  case object KllQuantile extends SketchReader[KllSortedView]("graft_kll_quantile", DoubleType) {
    override def values: Seq[Seq[DataType]] = Seq(Seq(DoubleType))
    def decode(x: Array[Byte]): KllSortedView = new KllSortedView(Kll.fromBytes(x))
    def read(a: KllSortedView, b: KllSortedView, v: Any, w: Any): Any = a.quantile(v.asInstanceOf[Double])
  }

  /** `graft_kll_rank(sketch, x)` -> bigint: the estimated count <= x. */
  case object KllRank extends SketchReader[KllSketch]("graft_kll_rank", LongType) {
    override def values: Seq[Seq[DataType]] = Seq(Seq(DoubleType))
    def decode(x: Array[Byte]): KllSketch = Kll.fromBytes(x)
    def read(a: KllSketch, b: KllSketch, v: Any, w: Any): Any = a.rank(v.asInstanceOf[Double])
  }

  /** `graft_tdigest_quantile(sketch, q)` -> double. */
  case object TDigestQuantile extends SketchReader[TDigest]("graft_tdigest_quantile", DoubleType) {
    override def values: Seq[Seq[DataType]] = Seq(Seq(DoubleType))
    def decode(x: Array[Byte]): TDigest = TDigest.fromBytes(x)
    def read(a: TDigest, b: TDigest, v: Any, w: Any): Any = a.quantile(v.asInstanceOf[Double])
  }

  /** `graft_tdigest_cdf(sketch, x)` -> double: the estimated mass <= x. */
  case object TDigestCdf extends SketchReader[TDigest]("graft_tdigest_cdf", DoubleType) {
    override def values: Seq[Seq[DataType]] = Seq(Seq(DoubleType))
    def decode(x: Array[Byte]): TDigest = TDigest.fromBytes(x)
    def read(a: TDigest, b: TDigest, v: Any, w: Any): Any = a.cdf(v.asInstanceOf[Double])
  }

  /** `graft_kmv_estimate(sketch)` -> double: the distinct count (exact
    * below saturation, (k-1)/U(k) at it; see [[graft.core.Kmv]]). */
  case object KmvEstimate extends DecodedReader[java.lang.Double]("graft_kmv_estimate", DoubleType) {
    def decode(x: Array[Byte]): java.lang.Double = {
      val (h, s, _, _) = Kmv.fromBytes(x)
      Kmv.estimate(h, s)
    }
  }

  /** A decoded KMV sketch and the payload it came from. */
  final class KmvRead(val bytes: Array[Byte]) {
    val (hashes, size, typeTag, keyHash) = Kmv.fromBytes(bytes)
  }

  /** The pairwise KMV functions (Beyer et al. 2007, section 5): both
    * sketches must hold the same element type under the same key, else
    * the estimate means nothing; capacities may differ. */
  sealed abstract class KmvPair(name: String, dataType: DataType) extends SketchReader[KmvRead](name, dataType) {
    override def sketches: Int = 2
    def decode(x: Array[Byte]): KmvRead = new KmvRead(x)
    protected def pair(a: KmvRead, b: KmvRead): Unit = {
      require(a.typeTag == b.typeTag,
        s"$name: sketches hold different element types (${a.typeTag} vs ${b.typeTag})")
      require(a.keyHash == b.keyHash, s"$name: sketches were built under different SipHash keys")
    }
  }

  /** `graft_kmv_jaccard(a, b)` -> double. */
  case object KmvJaccard extends KmvPair("graft_kmv_jaccard", DoubleType) {
    def read(a: KmvRead, b: KmvRead, v: Any, w: Any): Any = {
      pair(a, b)
      Kmv.jaccardAndIntersection(a.hashes, a.size, b.hashes, b.size)._1
    }
  }

  /** `graft_kmv_intersect(a, b)` -> double: |A ∩ B|. */
  case object KmvIntersect extends KmvPair("graft_kmv_intersect", DoubleType) {
    def read(a: KmvRead, b: KmvRead, v: Any, w: Any): Any = {
      pair(a, b)
      Kmv.jaccardAndIntersection(a.hashes, a.size, b.hashes, b.size)._2
    }
  }

  /** `graft_kmv_difference(a, b)` -> double: |A \ B| (asymmetric). */
  case object KmvDifference extends KmvPair("graft_kmv_difference", DoubleType) {
    def read(a: KmvRead, b: KmvRead, v: Any, w: Any): Any = {
      pair(a, b)
      Kmv.difference(a.hashes, a.size, b.hashes, b.size)
    }
  }

  /** `graft_kmv_union(a, b)` -> binary: the serialized union, folded to the
    * smaller capacity. An empty payload contributes nothing (the union is
    * the other side), as in a chained `graft_kmv_merge`. */
  case object KmvUnion extends KmvPair("graft_kmv_union", BinaryType) {
    override def emptyIsNull: Boolean = false
    def read(a: KmvRead, b: KmvRead, v: Any, w: Any): Any =
      if (a == null || b == null) Option(if (a == null) b else a).fold(Array.emptyByteArray)(_.bytes)
      else {
        pair(a, b)
        val (h, s) = Kmv.merge(a.hashes, a.size, b.hashes, b.size)
        Kmv.toBytes(h, s, a.typeTag, a.keyHash)
      }
  }

  /** `graft_heavyhitter_summary(sketch)` -> `struct<topk: array<struct<key:
    * bigint, est: bigint>>, error: bigint, total: bigint>`: every stored
    * entry ordered by (est desc, key asc), the cumulative decrement D
    * (est <= true <= est + D, and any key with true > D is present) and
    * the inserted weight N. The row is immutable, so every row of a group
    * may share it. */
  case object HeavyHitterSummary extends DecodedReader[InternalRow]("graft_heavyhitter_summary",
    StructType(Seq(
      StructField("topk", ArrayType(StructType(Seq(
        StructField("key", LongType, nullable = false),
        StructField("est", LongType, nullable = false))), containsNull = false), nullable = false),
      StructField("error", LongType, nullable = false),
      StructField("total", LongType, nullable = false)))) {
    def decode(x: Array[Byte]): InternalRow = {
      val s = FrequentItems.fromBytes(x)
      val entries = s.topK(s.capacity).map { case (k, c) => InternalRow(k, c) }
      InternalRow(new GenericArrayData(entries.toArray), s.decremented, s.total)
    }
  }

  /** `graft_sample_values(sample)` / `graft_sample_weighted_values(sample)`
    * -> `array<bigint>`, and `graft_sample_strings(sample)` /
    * `graft_sample_weighted_strings(sample)` -> `array<string>`: a
    * [[Sample]]'s values in slot-key order (a uniform random permutation
    * for a fixed key). Each reads only its own version and layout. */
  final case class SampleValues(weighted: Boolean, valueType: BottomK.ValueType[_])
      extends DecodedReader[GenericArrayData](
        s"graft_sample_${if (weighted) "weighted_" else ""}" +
          (if (valueType == BottomK.LongValues) "values" else "strings"),
        ArrayType(if (valueType == BottomK.LongValues) LongType else StringType, containsNull = false)) {
    def decode(x: Array[Byte]): GenericArrayData = {
      val (_, v, s, _, _) = BottomK.fromBytes(x, sampleVersion(weighted), valueType)
      v match {
        case longs: Array[Long] => new GenericArrayData(longs.take(s))
        case strings: Array[Array[Byte]] =>
          new GenericArrayData(strings.take(s).map(b => UTF8String.fromBytes(b): Any))
      }
    }
  }

  /** A decoded Bloom filter and the payload it came from. */
  final class BloomRead(val bytes: Array[Byte], val f: BloomBuf)

  /** `graft_bloom_union(a, b [, k0, k1])` / `graft_bloom_intersect(...)` ->
    * binary: word-wise OR / AND of two filters (the reference's
    * `unionInto` / `intersectionInto`, `Internal.hs:494-550`), folding the
    * larger down to the smaller first. The filters must share key, k,
    * hash width and element type. An empty payload is what a merge over no
    * rows returns: the union is the other side (still validated), the
    * intersection is the empty payload. */
  final case class BloomCombine(intersection: Boolean, k0: Long = Keys.DefaultK0, k1: Long = Keys.DefaultK1)
      extends SketchReader[BloomRead](if (intersection) "graft_bloom_intersect" else "graft_bloom_union",
        BinaryType) {
    override def sketches: Int = 2
    override def keys: Option[(Long, Long)] = Some((k0, k1))
    override def withKeys(a: Long, b: Long): BloomCombine = BloomCombine(intersection, a, b)
    override def emptyIsNull: Boolean = false
    def decode(x: Array[Byte]): BloomRead = {
      val (c, words, tag) = BlockedBloom.fromBytes(k0, k1, x)
      new BloomRead(x, BloomBuf(words, c, tag))
    }
    def read(a: BloomRead, b: BloomRead, v: Any, w: Any): Any =
      if (a == null || b == null) {
        val survivor = Option(if (a == null) b else a)
        if (intersection) Array.emptyByteArray else survivor.fold(Array.emptyByteArray)(_.bytes)
      } else {
        val (fa, fb) = (a.f, b.f)
        if (fa.typeTag != fb.typeTag)
          throw new IllegalArgumentException(
            s"$name: cannot merge a ${TypeTag.name(fa.typeTag)}-element filter " +
              s"with a ${TypeTag.name(fb.typeTag)}-element filter")
        val (w, cfg) =
          if (intersection) BlockedBloom.intersectFold(fa.words, fa.cfg, fb.words, fb.cfg)
          else BlockedBloom.unionFold(fa.words, fa.cfg, fb.words, fb.cfg)
        BlockedBloom.toBytes(w, cfg, fa.typeTag)
      }
  }

  /** The element-type tag an int, bigint or string probe implies. */
  private def elemTag(dt: DataType): Long = dt match {
    case IntegerType => TypeTag.Int
    case LongType => TypeTag.Long
    case _ => TypeTag.String
  }

  private val elemTypes: Seq[DataType] = Seq(IntegerType, LongType, StringType)

  /** `graft_bloom_might_contain(sketch, elem [, k0, k1])` -> boolean: the
    * reference's `lookup` (`Internal.hs:464-469`), no false negatives. The
    * filter must hold the probe's element type (the reference's typeHash
    * check, `Internal.hs:789`), checked once per decode: a literal filter
    * of another type fails at analysis. On a constant filter (a literal or
    * a scalar subquery), generated code calls the decoded filter directly.
    * `elem` is the bound element type. */
  final case class BloomProbe(k0: Long = Keys.DefaultK0, k1: Long = Keys.DefaultK1, elem: DataType = NullType)
      extends SketchReader[LoadedBloomFilter]("graft_bloom_might_contain", BooleanType) {
    override def values: Seq[Seq[DataType]] = Seq(elemTypes)
    override def keys: Option[(Long, Long)] = Some((k0, k1))
    override def withKeys(a: Long, b: Long): BloomProbe = copy(k0 = a, k1 = b)
    override def bind(types: Seq[DataType]): BloomProbe = copy(elem = types.last)
    def decode(x: Array[Byte]): LoadedBloomFilter =
      LoadedBloomFilter.loadTyped(k0, k1, x, elemTag(elem))
    def read(f: LoadedBloomFilter, b: LoadedBloomFilter, v: Any, w: Any): Any =
      f.contains(v)
    override def readCode: Option[(String, Seq[String]) => String] = Some((f, vs) =>
      s"java.lang.Boolean.valueOf($f.${LoadedBloomFilter.method(elem)}(${vs.head}))")
  }

  /** `graft_bloom_might_contain_keyed(pack, key, elem [, k0, k1])` ->
    * boolean: probes `elem` against the filter `key` names in a
    * [[graft.plans.BloomFilterPack]] of per-group filters (built in the
    * query by [[BloomPack]] and read as a scalar subquery), decoded once
    * per expression instance, so per-group sketches need no join onto the
    * probe rows. A key with no filter, or an empty one, probes as NULL.
    * Every filter must hold the probe's element type. */
  final case class KeyedBloomProbe(k0: Long = Keys.DefaultK0, k1: Long = Keys.DefaultK1,
      elem: DataType = NullType)
      extends SketchReader[LoadedBloomPack]("graft_bloom_might_contain_keyed", BooleanType) {
    override def values: Seq[Seq[DataType]] = Seq(Seq(StringType), elemTypes)
    override def keys: Option[(Long, Long)] = Some((k0, k1))
    override def withKeys(a: Long, b: Long): KeyedBloomProbe = copy(k0 = a, k1 = b)
    override def bind(types: Seq[DataType]): KeyedBloomProbe = copy(elem = types.last)
    def decode(x: Array[Byte]): LoadedBloomPack =
      LoadedBloomPack.load(k0, k1, x, elemTag(elem))
    def read(p: LoadedBloomPack, b: LoadedBloomPack, key: Any, v: Any): Any =
      p.probe(key.asInstanceOf[UTF8String], v)
    override def readCode: Option[(String, Seq[String]) => String] = Some((p, vs) =>
      s"$p.${LoadedBloomPack.method(elem)}(${vs(0)}, ${vs(1)})")
  }

  /** Every SQL read function with its default key. */
  val readers: Seq[SketchReader[_ <: AnyRef]] = Seq(
    HllEstimate, CmsEstimate(), CmsTotal(), KllQuantile, KllRank, TDigestQuantile, TDigestCdf,
    KmvEstimate, KmvJaccard, KmvIntersect, KmvDifference, KmvUnion, HeavyHitterSummary,
    SampleValues(weighted = false, BottomK.LongValues), SampleValues(weighted = false, BottomK.StringValues),
    SampleValues(weighted = true, BottomK.LongValues), SampleValues(weighted = true, BottomK.StringValues),
    BloomCombine(intersection = false), BloomCombine(intersection = true), BloomProbe(), KeyedBloomProbe())
}
