package graft

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.operators.SketchAggs._
import graft.operators.SketchKinds._
import graft.plans.{DirectSketchAgg, NativeAggs}

/** Edge cases through the Spark surface: null/empty token arrays, empty
  * relations, single rows, cross-size filter merging. */
class EdgeCaseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-edge-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import SketchQueries.{K0, K1}
  val cfg = BloomConfig(K0, K1, 3, 8)

  val schema = StructType(Seq(
    StructField("source", StringType),
    StructField("tokens", ArrayType(IntegerType))))

  def df(rows: Seq[Row], parts: Int = 2) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  test("null and empty token arrays are no-ops, not errors") {
    val d = df(Seq(
      Row("a", Seq(1, 2, 3)),
      Row("a", null),
      Row("a", Seq.empty[Int]),
      Row("b", null)))
    val bloomU = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    val out = d.groupBy(col("source")).agg(bloomU(col("tokens")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val (c, w, _) = BlockedBloom.fromBytes(K0, K1, out("a"))
    Seq(1, 2, 3).foreach(t => assert(BlockedBloom.containsInt(w, c, t)))
    // source b saw only nulls: its sketch is the empty filter
    val (_, wb, _) = BlockedBloom.fromBytes(K0, K1, out("b"))
    assert(wb.forall(_ == 0L))
  }

  test("aggregating an empty relation yields the empty sketch") {
    val d = df(Seq.empty)
    val bloomU = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    val bytes = d.agg(bloomU(col("tokens"))).head().getAs[Array[Byte]](0)
    val (c, w, _) = BlockedBloom.fromBytes(K0, K1, bytes)
    assert(w.forall(_ == 0L) && c == cfg)
  }

  test("BloomMergeAgg folds mixed filter sizes to the smallest, losslessly") {
    import spark.implicits._
    val big = BloomConfig(K0, K1, 3, 12)
    val small = BloomConfig(K0, K1, 3, 8)
    def build(c: BloomConfig, toks: Seq[Int]): Array[Byte] = {
      val w = new Array[Long](c.l)
      toks.foreach(BlockedBloom.insertInt(w, c, _))
      BlockedBloom.toBytes(w, c, BlockedBloom.TypeTag.Int)
    }
    val sketches = Seq(build(big, 1 to 100), build(small, 200 to 300)).toDF("sk")
    val merged = sketches.agg(NativeAggs.column(Bloom(cfg), col("sk"))).head().getAs[Array[Byte]](0)
    val (mc, mw, _) = BlockedBloom.fromBytes(K0, K1, merged)
    assert(mc.log2l === 8, "merge must fold down to the smallest size")
    ((1 to 100) ++ (200 to 300)).foreach(t =>
      assert(BlockedBloom.containsInt(mw, mc, t), s"lost element $t in cross-size merge"))
    // lossless: equals direct build at the small config
    val direct = build(small, (1 to 100) ++ (200 to 300))
    assert(java.util.Arrays.equals(merged, direct))
  }

  test("KLL/t-digest aggs on empty and single-value input") {
    import spark.implicits._
    val kllU = (c: org.apache.spark.sql.Column) => NativeAggs.column(KllKind(64), c)
    val one = Seq(42.0).toDF("x").agg(kllU(col("x"))).head().getAs[Array[Byte]](0)
    assert(Kll.fromBytes(one).quantile(0.5) === 42.0)
    val tdU = (c: org.apache.spark.sql.Column) => NativeAggs.column(TDigestKind(50), c)
    val oneTd = Seq(42.0).toDF("x").agg(tdU(col("x"))).head().getAs[Array[Byte]](0)
    assert(TDigest.fromBytes(oneTd).quantile(0.5) === 42.0)
    val emptyKll = spark.emptyDataset[Double].toDF("x").agg(kllU(col("x"))).head().getAs[Array[Byte]](0)
    assert(Kll.fromBytes(emptyKll).n === 0L)
    assert(Kll.fromBytes(emptyKll).quantile(0.5).isNaN)
  }

  test("cross-size intersectFold/unionFold: common elements survive, key/k mismatches rejected") {
    val small = BloomConfig(K0, K1, 3, 8)
    val large = BloomConfig(K0, K1, 3, 11)
    val setA = (1 to 300).toSet
    val setB = (200 to 500).toSet
    val wa = new Array[Long](small.l)
    setA.foreach(BlockedBloom.insertInt(wa, small, _))
    val wb = new Array[Long](large.l)
    setB.foreach(BlockedBloom.insertInt(wb, large, _))
    // intersection across sizes: folds to log2l=8; no common element lost
    val (wi, ci) = BlockedBloom.intersectFold(wa, small, wb, large)
    assert(ci.log2l === 8)
    (setA intersect setB).foreach(t =>
      assert(BlockedBloom.containsInt(wi, ci, t), s"intersection lost common element $t"))
    // union across sizes: every element of either side present
    val (wu, cu) = BlockedBloom.unionFold(wa, small, wb, large)
    (setA union setB).foreach(t => assert(BlockedBloom.containsInt(wu, cu, t)))
    // inputs not mutated (combine clones/folds)
    val waCheck = new Array[Long](small.l)
    setA.foreach(BlockedBloom.insertInt(waCheck, small, _))
    assert(wa.sameElements(waCheck), "combine must not mutate its inputs")
    // guards
    assertThrows[IllegalArgumentException](
      BlockedBloom.intersectFold(wa, small, wb, BloomConfig(K0 + 1, K1, 3, 11)))
    assertThrows[IllegalArgumentException](
      BlockedBloom.intersectFold(wa, small, new Array[Long](1 << 11), BloomConfig(K0, K1, 4, 11)))
  }

  test("approxNewCount: exact sequential new-count per task, summed across partitions") {
    // direct Aggregator semantics: replicate the reference's sequential
    // insert loop and require the SAME count (deterministic, fixed key)
    val agg = new DirectSketchAgg(BloomNewCount(cfg), ArrayType(IntegerType))
    val rows = Seq(Array(1, 2, 3), Array(2, 3, 4), Array(1, 1, 5), Array.empty[Int])
    val buf = rows.foldLeft(agg.zero)(agg.reduce(_, _))
    val expectedWords = new Array[Long](cfg.l)
    var expectedNew = 0L
    rows.flatten.foreach(t => if (BlockedBloom.insertInt(expectedWords, cfg, t)) expectedNew += 1L)
    val out = agg.finish(buf).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(out.getLong(1) === expectedNew)
    assert(BlockedBloom.fromBytes(K0, K1, out.getBinary(0))._2.sameElements(expectedWords))
    // distributed: counts sum across merged partials (upper bound on the
    // sequential count: 2 and 3 are double-counted here by design)
    val b1 = agg.reduce(agg.zero, Array(1, 2, 3))
    val b2 = agg.reduce(agg.zero, Array(2, 3, 4))
    val merged = agg.finish(agg.merge(b1, b2)).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(merged.getLong(1) === 6L)
    // and through the Spark surface
    val d = df(Seq(Row("a", Seq(1, 2, 3)), Row("a", Seq(2, 3, 4))), parts = 1)
    val row = d.groupBy(col("source")).agg(NativeAggs.column(BloomNewCount(cfg), col("tokens")).as("s")).head()
    val s = row.getStruct(1)
    assert(s.getAs[Long]("approx_new") === 4L, "single-partition build must be sequential-exact")
  }

  test("cms_topk exactness precondition: vocabulary much smaller than CMS width") {
    // q_cms_topk's exactness argument (SketchQueries.cmsTopK) requires the
    // fixture vocabulary to stay far below the CMS width; fail loudly here
    // if a fixture change ever breaks that silent assumption.
    val vocab = graft.sources.Tokens.vocabSize(spark, "/root/testdata/sf0.001")
    val width = 1 << SketchQueries.cmsCfg.log2Width
    assert(vocab * 8 <= width,
      s"vocab $vocab too close to CMS width $width: q_cms_topk estimates may collide")
  }

  test("KMV edge cases: empty group, null tokens, cross-capacity SQL merge, cross-type rejection") {
    import graft.core.{Kmv, SipHash}
    // empty + null inputs through the Aggregator surface
    val agg = new DirectSketchAgg(KmvKind(K0, K1, 16), ArrayType(IntegerType))
    val empty = agg.finishBytes(agg.zero)
    val (h0, s0, _, _) = Kmv.fromBytes(empty)
    assert(s0 === 0 && Kmv.estimate(h0, s0) === 0.0)
    assert(agg.reduce(agg.zero, null).asInstanceOf[KmvBuf].size === 0)
    // pairwise ops on an empty sketch: exact zeros, no crash
    val (hx, sx) = {
      val h = Kmv.emptyHashes(16); var s = 0
      (1 to 9).foreach(e => s = Kmv.add(h, s, SipHash.hashInt(K0, K1, e))); (h, s)
    }
    val (j, inter) = Kmv.jaccardAndIntersection(hx, sx, h0, s0)
    assert(j === 0.0 && inter === 0.0)
    // cross-capacity serialized merge folds to the smaller k
    val keyHash = SipHash.hashLong(K0, K1, K0 ^ K1)
    def ser(k: Int, elems: Range): Array[Byte] = {
      val h = Kmv.emptyHashes(k); var s = 0
      elems.foreach(e => s = Kmv.add(h, s, SipHash.hashInt(K0, K1, e)))
      Kmv.toBytes(h, s, BlockedBloom.TypeTag.Int, keyHash)
    }
    val m = new DirectSketchAgg(KmvKind(K0, K1, 16), BinaryType)
    val merged = m.finishBytes(m.reduce(m.reduce(m.zero, ser(64, 1 to 1000)), ser(16, 500 to 1500)))
    val (hm, sm, _, _) = Kmv.fromBytes(merged)
    assert(hm.length === 16 && sm === 16)
    assert(math.abs(Kmv.estimate(hm, sm) - 1500) <= 5 * Kmv.stdError(16) * 1500)
    // cross-type serialized merge rejected
    val typed = Kmv.toBytes(Kmv.emptyHashes(16), 0, BlockedBloom.TypeTag.String, keyHash)
    assertThrows[IllegalArgumentException](
      m.merge(m.reduce(m.zero, ser(16, 1 to 10)), m.reduce(m.zero, typed)))
    // wrong-key serialized input rejected at decode
    val wrongKey = Kmv.toBytes(Kmv.emptyHashes(16), 0, BlockedBloom.TypeTag.Int, keyHash + 1)
    assertThrows[IllegalArgumentException](m.reduce(m.zero, wrongKey))
  }

  test("KMV difference and BottomK sample edge cases: empties, cross-key/type rejection, null SQL") {
    import graft.core.{BottomK, Kmv, SipHash}
    // difference against / from an empty sketch: exact, no crash
    val (hx, sx) = {
      val h = Kmv.emptyHashes(16); var s = 0
      (1 to 9).foreach(e => s = Kmv.add(h, s, SipHash.hashInt(K0, K1, e))); (h, s)
    }
    val (h0, s0) = (Kmv.emptyHashes(16), 0)
    assert(Kmv.difference(h0, s0, hx, sx) === 0.0)
    assert(Kmv.difference(hx, sx, h0, s0) === 9.0)
    // BottomK merge agg: empty group -> empty payload; chained level skips it
    val keyHash = SipHash.hashLong(K0, K1, K0 ^ K1)
    val m = new DirectSketchAgg(Sample(K0, K1, 8, weighted = false, BottomK.LongValues), BinaryType)
    assert(m.finishBytes(m.zero).isEmpty)
    def serBk(k: Int, elems: Range): Array[Byte] = {
      val (h, v) = BottomK.emptyBuffers(k); var s = 0
      elems.foreach(e => s = BottomK.add(h, v, s, SipHash.hashLong(K0, K1, e.toLong), e.toLong))
      BottomK.toBytes(h, v, s, BlockedBloom.TypeTag.Long, keyHash, BottomK.SerialVersion,
        BottomK.LongValues)
    }
    val chained = m.finishBytes(m.reduce(m.reduce(m.zero, Array.emptyByteArray), serBk(8, 1 to 100)))
    assert(BottomK.fromBytes(chained, BottomK.SerialVersion, BottomK.LongValues)._3 === 8)
    // cross-capacity merge folds down; cross-type and wrong-key rejected
    val folded = m.finishBytes(m.reduce(m.reduce(m.zero, serBk(32, 1 to 100)), serBk(8, 50 to 150)))
    assert(BottomK.fromBytes(folded, BottomK.SerialVersion, BottomK.LongValues)._1.length === 8)
    val typed = BottomK.toBytes(BottomK.emptyBuffers(8)._1, BottomK.emptyBuffers(8)._2, 0,
      BlockedBloom.TypeTag.Int, keyHash, BottomK.SerialVersion, BottomK.LongValues)
    assertThrows[IllegalArgumentException](
      m.merge(m.reduce(m.zero, serBk(8, 1 to 10)), m.reduce(m.zero, typed)))
    val wrongKey = BottomK.toBytes(BottomK.emptyBuffers(8)._1, BottomK.emptyBuffers(8)._2, 0,
      BlockedBloom.TypeTag.Long, keyHash + 1, BottomK.SerialVersion, BottomK.LongValues)
    assertThrows[IllegalArgumentException](m.reduce(m.zero, wrongKey))
    // SQL null semantics for the new readers
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_kmv_difference(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) AS a,
        |       graft_sample_values(CAST(NULL AS BINARY)) AS b""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // graft_kmv_difference rejects cross-key pairs like its siblings
    val aBytes = Kmv.toBytes(hx, sx, BlockedBloom.TypeTag.Int, keyHash)
    val bBytes = Kmv.toBytes(hx, sx, BlockedBloom.TypeTag.Int, keyHash + 1)
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq((aBytes, bBytes)).toDF("a", "b")
        .select(org.apache.spark.sql.functions.expr("graft_kmv_difference(a, b)")).collect()
    }
    assert(ex.getMessage != null)
  }

  test("HLL merge rejects mismatched precision; bloom merge rejects mismatched k") {
    val a = Hll.empty(10)
    val b = Hll.empty(12)
    assertThrows[IllegalArgumentException](Hll.merge(a, b))
    val m = new DirectSketchAgg(HllKind(K0, K1, 10), BinaryType)
    assertThrows[IllegalArgumentException](
      m.reduce(m.reduce(m.zero, Hll.toBytes(a, 10, 1L, 0L)), Hll.toBytes(b, 12, 1L, 0L)))
    val mergeAgg = new DirectSketchAgg(Bloom(cfg), BinaryType)
    val s1 = BlockedBloom.toBytes(new Array[Long](1 << 8), BloomConfig(K0, K1, 3, 8), 1L)
    val s2 = BlockedBloom.toBytes(new Array[Long](1 << 8), BloomConfig(K0, K1, 4, 8), 1L)
    assertThrows[IllegalArgumentException](mergeAgg.reduce(mergeAgg.reduce(mergeAgg.zero, s1), s2))
  }

  test("source overlap matrix: source count bounded by the packed pair key (65,536 ok, 65,537 throws)") {
    val atLimit = Array.tabulate(65536)(i => f"src$i%05d")
    assert(PipelineQueries.checkOverlapSourceCount(atLimit) eq atLimit)
    val ex = intercept[IllegalArgumentException](
      PipelineQueries.checkOverlapSourceCount(atLimit :+ "one-more"))
    assert(ex.getMessage.contains("65537 sources exceed the packed pair-key limit of 65536"))
  }

  test("source overlap pairs: 1,000 sources sharing one gram give 499,500 pairs, counted exactly") {
    val n = 1000
    val nWords = (n + 63) / 64
    def mask(bits: Seq[Int]): Array[Long] = {
      val w = new Array[Long](nWords)
      bits.foreach(b => w(b / 64) |= 1L << (b % 64))
      w
    }
    val chunks = new PipelineQueries.MaskPairsUdf()(mask(0 until n))
    assert(chunks.map(_.length.toLong).sum === 499500L)
    assert(chunks.forall(_.length <= PipelineQueries.MaskPairChunk))
    val grams = Seq(0 until n, 0 until 100, (950 until n) :+ 0, Seq(7), 0 until n by 3)
    val masks = spark.createDataFrame(spark.sparkContext.parallelize(grams.map(g => Row.fromSeq(mask(g).toSeq)), 2),
      StructType((0 until nWords).map(w => StructField(s"m$w", LongType))))
    val got = PipelineQueries.maskPairCounts(masks, nWords).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = scala.collection.mutable.HashMap.empty[Long, Long]
    for (g <- grams; a <- g; b <- g if a < b) direct(a * 65536L + b) = direct.getOrElse(a * 65536L + b, 0L) + 1L
    assert(got.size === 499500)
    assert(got === direct.toMap)
  }

  test("scratch dir: a candidate below the free-space floor falls back to java.io.tmpdir") {
    val tmpdir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val candidate = java.nio.file.Files.createTempDirectory("graft_scratch_candidate").toFile
    try {
      assert(ScratchDir.base(candidate, minFree = 0L) === candidate)
      assert(ScratchDir.base(candidate, minFree = candidate.getUsableSpace + (1L << 40)) === tmpdir)
      assert(ScratchDir.base(new java.io.File(candidate, "missing"), minFree = 0L) === tmpdir)
      assert(ScratchDir.MinFreeBytes === (256L << 20))
    } finally candidate.delete(): Unit
  }
}
