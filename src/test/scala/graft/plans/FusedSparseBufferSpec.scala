package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomConfig, CmsConfig, Keys}
import graft.operators.SketchAggs.{BloomTokensAgg, CmsTokensAgg, HllTokensAgg}
import graft.operators.SketchInput.Tokens
import graft.operators.SketchKinds.{FusedBuf, FusedTokens}

/** `SketchKinds.FusedTokens`' sparse-until-dense buffer: wherever a buffer
  * switches from held token ids to dense sketches — inside one row, in
  * either argument of a merge, across a serialize round trip, at `eval` —
  * the output bytes equal the three individual aggregators over the same
  * tokens. Tiny configs make a few hundred tokens cross the threshold. */
class FusedSparseBufferSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-fused-sparse-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val k0 = Keys.DefaultK0
  val k1 = Keys.DefaultK1

  /** (bloom k, log2l, hllP, cmsDepth, cmsLog2Width): a 64-bit bloom whose
    * dense buffer is 408 bytes (102 ids), and the 128-bit (13, 10) bloom. */
  val tinyConfigs = Seq((3, 4, 4, 2, 4), (13, 10, 4, 2, 4))

  def agg(c: (Int, Int, Int, Int, Int)): FusedTokens =
    FusedTokens(BloomConfig(k0, k1, c._1, c._2), c._3, CmsConfig(k0, k1, c._4, c._5))

  /** One row's token array, nullable elements as Catalyst holds them. */
  def tokens(ids: Any*): GenericArrayData = new GenericArrayData(ids.toArray)

  def update(f: FusedTokens, buf: FusedBuf, ids: Seq[Int]): FusedBuf = f.update(buf, Tokens, tokens(ids: _*), 1L)

  def build(f: FusedTokens, rows: Seq[Seq[Int]]): FusedBuf = rows.foldLeft(f.empty(Tokens))(update(f, _, _))

  def bytesOf(f: FusedTokens, buf: FusedBuf): Seq[Array[Byte]] = {
    val r = f.eval(buf).asInstanceOf[InternalRow]
    (0 until 3).map(r.getBinary)
  }

  /** The three individual aggregators over `tokens`, called directly. */
  def reference(f: FusedTokens, tokens: Seq[Int]): Seq[Array[Byte]] = {
    val t = tokens.toArray
    val b = new BloomTokensAgg(f.bloom)
    val h = new HllTokensAgg(k0, k1, f.hllP)
    val c = new CmsTokensAgg(f.cms)
    Seq(b.finish(b.reduce(b.zero, t)), h.finish(h.reduce(h.zero, t)), c.finish(c.reduce(c.zero, t)))
  }

  def assertSame(got: Seq[Array[Byte]], want: Seq[Array[Byte]], what: String): Unit =
    Seq("bloom", "hll", "cms").zipWithIndex.foreach { case (name, i) =>
      assert(java.util.Arrays.equals(got(i), want(i)), s"$what: $name differs")
    }

  /** `n` token ids with repeats (CMS counts multiplicity). */
  def ids(n: Int, salt: Int): Seq[Int] = (0 until n).map(i => (i * 7919 + salt * 104729) % 997)

  test("threshold crossed inside one row: dense output == individual aggregators") {
    for (c <- tinyConfigs) {
      val f = agg(c)
      val before = ids(f.sparseLimit - 5, 1)
      val crossing = ids(40, 2)
      val buf = build(f, Seq(before))
      assert(!buf.isDense && buf.n === before.length)
      update(f, buf, crossing)
      assert(buf.isDense, s"$c: ${f.sparseLimit + 35} ids did not densify")
      assertSame(bytesOf(f, buf), reference(f, before ++ crossing), s"$c crossing row")
      // a single row longer than the threshold on a fresh buffer
      val long = ids(f.sparseLimit + 1, 3)
      val one = build(f, Seq(long))
      assert(one.isDense)
      assertSame(bytesOf(f, one), reference(f, long), s"$c one long row")
    }
  }

  test("merges: sparse+sparse, sparse+dense, dense+sparse, dense+dense in both orders") {
    for (c <- tinyConfigs) {
      val f = agg(c)
      val small = Seq(ids(20, 4), ids(13, 5))
      val small2 = Seq(ids(31, 6))
      val large = Seq(ids(f.sparseLimit, 7), ids(9, 8))
      val large2 = Seq(ids(f.sparseLimit / 2, 9), ids(f.sparseLimit, 10))
      val cases = Seq("sparse+sparse" -> (small, small2), "sparse+dense" -> (small, large),
        "dense+dense" -> (large, large2),
        "sparse+sparse over the threshold" -> (Seq(ids(f.sparseLimit - 3, 11)), Seq(ids(7, 12))))
      for ((what, (a, b)) <- cases; (x, y) <- Seq((a, b), (b, a))) {
        val m = f.merge(build(f, x), build(f, y))
        assertSame(bytesOf(f, m), reference(f, (x ++ y).flatten), s"$c $what")
      }
      val ss = f.merge(build(f, small), build(f, small2))
      assert(!ss.isDense && ss.n === (small ++ small2).map(_.length).sum)
      assert(f.merge(build(f, Seq(ids(f.sparseLimit - 3, 11))), build(f, Seq(ids(7, 12)))).isDense)
    }
  }

  test("serialize/deserialize round trips in sparse and dense modes") {
    for (c <- tinyConfigs) {
      val f = agg(c)
      for (rows <- Seq(Seq(ids(50, 13), ids(3, 14)), Seq(ids(f.sparseLimit + 8, 15)), Seq.empty)) {
        val buf = build(f, rows)
        val bytes = f.toBytes(buf)
        val back = f.fromBytes(bytes)
        assert(back.isDense === buf.isDense && back.n === buf.n)
        assert(java.util.Arrays.equals(f.toBytes(back), bytes), s"$c: round trip changed the bytes")
        if (!buf.isDense) assert(bytes.length === 4 + 4 * buf.n)
        else assert(bytes.length === 8 + f.denseBytes)
        assertSame(bytesOf(f, back), reference(f, rows.flatten), s"$c round trip")
      }
    }
  }

  test("empty and all-null-element groups equal the zero-token output") {
    for (c <- tinyConfigs) {
      val f = agg(c)
      val zero = reference(f, Seq.empty)
      assertSame(bytesOf(f, f.empty(Tokens)), zero, s"$c empty group")
      val nulls = f.update(f.empty(Tokens), Tokens, tokens(null, null, null), 1L)
      assert(nulls.n === 0)
      assertSame(bytesOf(f, nulls), zero, s"$c all-null elements")
      // null elements among ids are skipped, the rest counted
      val mixed = f.update(f.empty(Tokens), Tokens, tokens(5, null, 5, 9), 1L)
      assertSame(bytesOf(f, mixed), reference(f, Seq(5, 5, 9)), s"$c mixed nulls")
    }
  }

  test("bounds: sparse serialized size <= 4 + 4n; held ids <= dense bytes + one row, at n = limit and limit + 1") {
    for (c <- tinyConfigs) {
      val f = agg(c)
      val limit = f.sparseLimit
      assert(limit === f.denseBytes / 4)
      for (rowLen <- Seq(1, 7)) {
        // rows of rowLen ids up to exactly `limit` ids (the last row may be shorter)
        val rows = ids(limit, 16).grouped(rowLen).toSeq
        val buf = f.empty(Tokens)
        rows.foreach { r =>
          update(f, buf, r)
          assert(4L * buf.ids.length <= f.denseBytes + 4L * rowLen, s"$c: ${buf.ids.length} slots held")
        }
        assert(!buf.isDense && buf.n === limit && buf.ids.length <= limit)
        assert(f.toBytes(buf).length <= 4 + 4 * limit)
        update(f, buf, Seq(17))
        assert(buf.isDense, s"$c: limit + 1 ids stayed sparse")
        assert(4L * buf.ids.length <= f.denseBytes + 4L * rowLen)
        assert(f.toBytes(buf).length === 8 + f.denseBytes)
        assertSame(bytesOf(f, buf), reference(f, ids(limit, 16) :+ 17), s"$c limit + 1")
      }
      // growth through merges obeys the same cap
      val acc = f.empty(Tokens)
      (0 until limit / 9).foreach(i => f.merge(acc, build(f, Seq(ids(9, 20 + i)))))
      assert(!acc.isDense && acc.ids.length <= limit)
    }
  }

  test("config checks: one SipHash key; a shuffle buffer decodes only under its own config") {
    intercept[IllegalArgumentException](FusedTokens(BloomConfig(k0, k1, 3, 4), 4, CmsConfig(k0 + 1, k1, 2, 4)))
    val Seq(f, g) = tinyConfigs.map(agg)
    val dense = f.toBytes(build(f, Seq(ids(f.sparseLimit + 1, 21))))
    intercept[IllegalArgumentException](g.fromBytes(dense))
    // a well-formed sparse payload of one id more than the config holds sparse
    val n = f.sparseLimit + 1
    val over = java.nio.ByteBuffer.allocate(4 + 4 * n).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(~n).array()
    intercept[IllegalArgumentException](f.fromBytes(over))
  }

  object PlanWalk extends AdaptiveSparkPlanHelper

  /** A (key, tokens) table whose groups range from a handful of ids to
    * several times the tiny configs' threshold. */
  def groupedTokens(numDocs: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until numDocs).map { i =>
      val key = i % 60
      (key, Array.tabulate(1 + (i * 13) % (key + 3))(j => (i * 31 + j * 7) % 600))
    }
    spark.sparkContext.parallelize(rows, partitions).toDF("key", "tokens")
  }

  test("many Spark partitions with the sort-based fallback: every group == individual aggregators") {
    val df = groupedTokens(3000, 24)
    val enc = ExpressionEncoder[Array[Int]]()
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8")
    try {
      val defaultCfg = (3, 12, 12, 5, 11)
      for (c <- tinyConfigs :+ defaultCfg) {
        val f = agg(c)
        val fused = df.groupBy("key").agg(NativeAggs.column(f, col("tokens")).as("f"))
          .select(col("key"), col("f.bloom"), col("f.hll"), col("f.cms"))
        val got = fused.collect().map(r => r.getInt(0) -> (1 to 3).map(r.getAs[Array[Byte]](_))).toMap
        val fellBack = PlanWalk.collect(fused.queryExecution.executedPlan) {
          case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
        }
        assert(fellBack.sum > 0, s"$c: no task fell back to sort-based aggregation")
        val want = df.groupBy("key").agg(
          udaf(new BloomTokensAgg(f.bloom), enc)(col("tokens")),
          udaf(new HllTokensAgg(k0, k1, f.hllP), enc)(col("tokens")),
          udaf(new CmsTokensAgg(f.cms), enc)(col("tokens")))
          .collect().map(r => r.getInt(0) -> (1 to 3).map(r.getAs[Array[Byte]](_))).toMap
        assert(got.keySet === want.keySet && got.size === 60)
        got.foreach { case (key, sk) => assertSame(sk, want(key), s"$c key $key") }
      }
    } finally spark.conf.unset("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    // an empty input and an all-null-elements group through Spark
    import spark.implicits._
    val f = agg(tinyConfigs.head)
    val zero = reference(f, Seq.empty)
    val empty = spark.emptyDataset[Array[Int]].toDF("tokens").agg(NativeAggs.column(f, col("tokens")).as("f"))
      .select("f.bloom", "f.hll", "f.cms").head()
    assertSame((0 until 3).map(empty.getAs[Array[Byte]](_)), zero, "empty input")
    val allNull = Seq(Seq[java.lang.Integer](null, null), Seq[java.lang.Integer](null)).toDF("tokens")
      .repartition(2).agg(NativeAggs.column(f, col("tokens")).as("f")).select("f.bloom", "f.hll", "f.cms").head()
    assertSame((0 until 3).map(allNull.getAs[Array[Byte]](_)), zero, "all-null elements")
  }
}
