package graft

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.operators.SketchAggs._
import graft.operators.SketchKinds._
import graft.plans.NativeAggs

/** SURVEY.md §7 step 6: cross-check the from-scratch sketches against
  * Spark's built-in approximations (`approx_count_distinct`,
  * `count_min_sketch`, `approx_percentile`) and exact SQL on the same data.
  * Both estimators must land within their own bounds of the exact value —
  * a disagreement beyond both bounds would flag an implementation bug. */
class BuiltinCrossCheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-crosscheck")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import SketchQueries.{K0, K1}

  def tokensDf: DataFrame = {
    import spark.implicits._
    // zipf-ish frequencies over 4000 distinct tokens
    val rows = (0 until 20000).map { i =>
      val toks = Array.tabulate(10)(j => 1 + ((i * 17 + j * j * 31) % 4000))
      (s"doc-$i", toks)
    }
    rows.toDF("doc_id", "tokens").repartition(4)
  }

  test("HLL distinct-count vs approx_count_distinct vs exact") {
    val df = tokensDf
    val exact = df.select(explode(col("tokens"))).distinct().count()
    val ours = {
      val bytes = df.agg(udaf(new HllTokensAgg(K0, K1, 12), ExpressionEncoder[Array[Int]]())(col("tokens")))
        .head().getAs[Array[Byte]](0)
      Hll.estimate(Hll.fromBytes(bytes)._2)
    }
    val builtin = df.select(explode(col("tokens")).as("t"))
      .agg(approx_count_distinct(col("t"), 0.02)).head().getLong(0)
    assert(math.abs(ours - exact) <= 4 * Hll.stdError(12) * exact + 2,
      s"our HLL $ours vs exact $exact")
    assert(math.abs(builtin - exact) <= 0.05 * exact + 2, s"builtin $builtin vs exact $exact")
    // the two estimators agree with each other within combined bounds
    assert(math.abs(ours - builtin) <= (4 * Hll.stdError(12) + 0.05) * exact + 4)
  }

  test("count-min point estimates vs Spark's count_min_sketch vs exact") {
    val df = tokensDf.select(explode(col("tokens")).as("t"))
    val exact = df.groupBy("t").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cfg = CmsConfig(K0, K1, 5, 11)
    val oursBytes = tokensDf
      .agg(udaf(new CmsTokensAgg(cfg), ExpressionEncoder[Array[Int]]())(col("tokens")))
      .head().getAs[Array[Byte]](0)
    val (_, _, buf, _) = CountMin.fromBytes(oursBytes)
    val builtinBytes = df.agg(count_min_sketch(col("t"), lit(0.001), lit(0.01), lit(42)))
      .head().getAs[Array[Byte]](0)
    val builtin = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(builtinBytes))
    val n = CountMin.totalCount(buf, cfg)
    exact.take(500).foreach { case (tok, cnt) =>
      val ourEst = CountMin.estimateInt(buf, cfg, tok)
      assert(ourEst >= cnt, s"our CMS underestimated $tok")
      assert(ourEst <= cnt + math.max(2, (2 * cfg.epsilon * n).ceil.toLong), s"our CMS over bound on $tok")
      val bEst = builtin.estimateCount(tok.toLong)
      assert(bEst >= cnt, s"builtin CMS underestimated $tok")
    }
  }

  test("KLL and t-digest quantiles vs approx_percentile vs exact percentile") {
    import spark.implicits._
    val n = 50000
    val data = new scala.util.Random(21).shuffle((1 to n).toVector)
      .toDF("x").select(col("x").cast("double").as("x")).repartition(4)
    val qs = Seq(0.1, 0.5, 0.9)
    val kllBytes = data.agg(NativeAggs.column(KllKind(200), col("x")))
      .head().getAs[Array[Byte]](0)
    val kll = Kll.fromBytes(kllBytes)
    val tdBytes = data.agg(NativeAggs.column(TDigestKind(100), col("x")))
      .head().getAs[Array[Byte]](0)
    val td = TDigest.fromBytes(tdBytes)
    val builtinQ = data.agg(percentile_approx(col("x"), array(qs.map(lit): _*), lit(10000)))
      .head().getSeq[Double](0)
    qs.zipWithIndex.foreach { case (q, i) =>
      val exactQ = q * n // data is 1..n
      assert(math.abs(kll.quantile(q) - exactQ) / n <= Kll.normalizedRankError(200) * 1.5,
        s"our KLL q=$q: ${kll.quantile(q)} vs $exactQ")
      assert(math.abs(td.quantile(q) - exactQ) / n <= 0.03,
        s"our t-digest q=$q: ${td.quantile(q)} vs $exactQ")
      assert(math.abs(builtinQ(i) - exactQ) / n <= 0.01,
        s"builtin q=$q: ${builtinQ(i)} vs $exactQ")
    }
  }

  test("our bloom vs Spark's built-in bloom_filter_agg semantics (no false negatives both)") {
    import spark.implicits._
    val items = (1L to 20000L).toDF("x")
    val cfg = BloomConfig(K0, K1, 3, 14)
    val ours = items.agg(NativeAggs.column(Bloom(cfg), col("x")))
      .head().getAs[Array[Byte]](0)
    val (c, w, _) = BlockedBloom.fromBytes(K0, K1, ours)
    (1L to 20000L).foreach(x => assert(BlockedBloom.containsLong(w, c, x)))
    // rough FPR comparison at similar bit budgets: ours at 2^14 words = 1Mbit
    val anti = (20001L to 40000L)
    val fpr = anti.count(x => BlockedBloom.containsLong(w, c, x)).toDouble / anti.size
    assert(fpr < 0.01, s"our bloom FPR $fpr at 52 bits/elem should be << 1%")
  }

  test("KMV distinct-count vs approx_count_distinct vs exact; intersection vs exact") {
    val df = tokensDf
    val exact = df.select(explode(col("tokens"))).distinct().count()
    val kmvBytes = df
      .agg(NativeAggs.column(KmvKind(K0, K1, 512), col("tokens")))
      .head().getAs[Array[Byte]](0)
    val (h, s, _, _) = Kmv.fromBytes(kmvBytes)
    val ours = Kmv.estimate(h, s)
    val builtin = df.select(explode(col("tokens")).as("t"))
      .agg(approx_count_distinct(col("t"), 0.02)).head().getLong(0)
    assert(math.abs(ours - exact) <= 4 * Kmv.stdError(512) * exact + 2,
      s"our KMV $ours vs exact $exact")
    assert(math.abs(ours - builtin) <= (4 * Kmv.stdError(512) + 0.05) * exact + 4)
    // intersection: two half-vocab sketches whose true overlap is exact-computable
    val dfA = df.where(pmod(col("tokens")(0), lit(3)) =!= 0)
    val dfB = df.where(pmod(col("tokens")(0), lit(3)) =!= 1)
    def sketchOf(d: DataFrame): (Array[Long], Int) = {
      val b = d.agg(NativeAggs.column(KmvKind(K0, K1, 512), col("tokens")))
        .head().getAs[Array[Byte]](0)
      val (hh, ss, _, _) = Kmv.fromBytes(b)
      (hh, ss)
    }
    val (ha, sa) = sketchOf(dfA)
    val (hb, sb) = sketchOf(dfB)
    val setA = dfA.select(explode(col("tokens")).as("t")).distinct().collect().map(_.getInt(0)).toSet
    val setB = dfB.select(explode(col("tokens")).as("t")).distinct().collect().map(_.getInt(0)).toSet
    val interExact = (setA & setB).size.toDouble
    val (_, interEst) = Kmv.jaccardAndIntersection(ha, sa, hb, sb)
    assert(math.abs(interEst - interExact) <= 0.25 * interExact + 10,
      s"KMV intersection $interEst vs exact $interExact")
  }
}
