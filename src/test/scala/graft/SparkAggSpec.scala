package graft

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.plans.{GraftFunctions, NativeAggs, SketchAgg}
import graft.operators.SketchAggs._
import graft.operators.SketchKinds._
import graft.sources.Tokens

/** Distributed-equivalence properties through REAL Spark aggregation:
  * the Catalyst partial/final split must be byte-identical to a serial
  * build regardless of partitioning — the distributed analogue of the
  * reference's concurrent-insert ≡ serial test (tests/Main.hs:142-159).
  */
class SparkAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import SketchQueries.{K0, K1}

  val cfg = BloomConfig(K0, K1, 3, 12)

  def tokenDf(numDocs: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until numDocs).map { i =>
      val toks = Array.tabulate(1 + i % 40)(j => 1 + (i * 31 + j * 7) % 500)
      (s"doc-$i", toks, toks.length, s"src${i % 3}")
    }
    spark.sparkContext.parallelize(rows, partitions)
      .toDF("doc_id", "tokens", "n_tok", "source")
  }

  /** Bloom, HLL and CMS bytes from the three individual udaf aggregators:
    * the reference every fused build must equal byte for byte. */
  def individualSketches(df: DataFrame, bloom: BloomConfig, hllP: Int, cms: CmsConfig): Seq[Array[Byte]] = {
    val enc = ExpressionEncoder[Array[Int]]()
    val r = df.agg(udaf(new BloomTokensAgg(bloom), enc)(col("tokens")),
      udaf(new HllTokensAgg(bloom.k0, bloom.k1, hllP), enc)(col("tokens")),
      udaf(new CmsTokensAgg(cms), enc)(col("tokens"))).head()
    (0 until 3).map(r.getAs[Array[Byte]](_))
  }

  /** A one-shot fused build over `tokens`, as a Column. */
  def fusedNative(bloom: BloomConfig, hllP: Int, cms: CmsConfig): Column =
    NativeAggs.column(FusedTokens(bloom, hllP, cms), col("tokens"))

  def assertSameSketches(got: Seq[Array[Byte]], want: Seq[Array[Byte]], what: String): Unit =
    Seq("bloom", "hll", "cms").zipWithIndex.foreach { case (name, i) =>
      assert(java.util.Arrays.equals(got(i), want(i)), s"$what: $name differs")
    }

  def serialBloom(df: DataFrame): Array[Byte] = {
    val words = new Array[Long](cfg.l)
    df.select("tokens").collect().foreach { r =>
      r.getSeq[Int](0).foreach(t => BlockedBloom.insertInt(words, cfg, t))
    }
    BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int)
  }

  test("Bloom agg over Spark partitions is byte-identical to serial build, at any parallelism") {
    val bloomUdaf = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    for (parts <- Seq(1, 3, 8)) {
      val df = tokenDf(500, parts)
      val distributed = df.agg(bloomUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
      val serial = serialBloom(df)
      assert(java.util.Arrays.equals(distributed, serial),
        s"partial/final aggregation diverged from serial build at $parts partitions")
    }
  }

  test("Bloom agg is repartition-invariant (merge commutativity under shuffle)") {
    val bloomUdaf = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    val df = tokenDf(500, 4)
    val a = df.agg(bloomUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
    val b = df.repartition(7, col("doc_id")).agg(bloomUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(a, b))
  }

  test("per-source sketches probe their own tokens with zero false negatives") {
    val df = tokenDf(300, 4)
    val bloomUdaf = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    val sketches = df.groupBy(col("source")).agg(bloomUdaf(col("tokens")).as("sketch"))
    GraftFunctions.register(spark)
    val missing = df.select(col("source"), explode(col("tokens")).as("token"))
      .join(broadcast(sketches), "source")
      .where(!GraftFunctions.bloomMightContain(col("sketch"), col("token")))
      .count()
    assert(missing === 0L, "bloom reported a false negative through the Spark query path")
  }

  test("BloomMergeAgg merges per-source sketches into a global filter correctly") {
    val df = tokenDf(300, 4)
    val bloomUdaf = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    val mergeUdaf = (c: Column) => NativeAggs.column(Bloom(cfg), c)
    val global = df.groupBy(col("source")).agg(bloomUdaf(col("tokens")).as("sketch"))
      .agg(mergeUdaf(col("sketch"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(global, serialBloom(df)),
      "two-level merge must equal the single-level build")
  }

  test("HLL agg estimate within bound through Spark; merge-invariant") {
    val hllUdaf = udaf(new HllTokensAgg(K0, K1, 12), ExpressionEncoder[Array[Int]]())
    val df = tokenDf(2000, 5)
    val bytes = df.agg(hllUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
    val est = Hll.estimate(Hll.fromBytes(bytes)._2)
    val exact = df.select(explode(col("tokens"))).distinct().count()
    assert(math.abs(est - exact) <= math.max(4 * Hll.stdError(12) * exact, 3.0),
      s"HLL est $est vs exact $exact")
    val bytes2 = df.repartition(9).agg(hllUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bytes, bytes2), "HLL must be partitioning-invariant")
  }

  test("CMS agg counters partitioning-invariant and one-sided") {
    val cms = SketchQueries.cmsCfg
    val cmsUdaf = udaf(new CmsTokensAgg(cms), ExpressionEncoder[Array[Int]]())
    val df = tokenDf(1000, 4)
    val bytes = df.agg(cmsUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
    val bytes2 = df.repartition(11).agg(cmsUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bytes, bytes2))
    val (_, _, buf, _) = CountMin.fromBytes(bytes)
    val exact = df.select(explode(col("tokens")).as("t")).groupBy("t").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (tok, cnt) =>
      assert(CountMin.estimateInt(buf, cms, tok) >= cnt, s"CMS underestimated $tok")
    }
  }

  test("KLL and t-digest aggs return quantiles within published bounds via Spark") {
    import spark.implicits._
    val n = 50000
    val data = new scala.util.Random(5).shuffle((1 to n).toVector).toDF("x")
      .select(col("x").cast("double").as("x")).repartition(6)
    val kllBytes = data.agg(NativeAggs.column(KllKind(200), col("x"))).head().getAs[Array[Byte]](0)
    val kll = Kll.fromBytes(kllBytes)
    assert(kll.n === n.toLong)
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(math.abs(kll.quantile(q) / n - q) <= Kll.normalizedRankError(200) * 2)
    val tdBytes = data.agg(NativeAggs.column(TDigestKind(100), col("x"))).head().getAs[Array[Byte]](0)
    val td = TDigest.fromBytes(tdBytes)
    assert(math.abs(td.n - n) < 1e-6)
    for (q <- Seq(0.1, 0.5, 0.9))
      assert(math.abs(td.quantile(q) / n - q) <= 0.04)
  }

  test("fused agg output is byte-identical to the three individual aggregators") {
    // the fused build at the default 64-bit config (6*3 + 12 <= 64)
    val hllP = 12
    val cms = SketchQueries.cmsCfg
    val df = tokenDf(800, 5)
    val fused = df.agg(fusedNative(cfg, hllP, cms).as("sk")).select("sk.bloom", "sk.hll", "sk.cms").head()
    assertSameSketches((0 until 3).map(fused.getAs[Array[Byte]](_)),
      individualSketches(df, cfg, hllP, cms), "fused native")
  }

  test("native TypedImperativeAggregates are byte-identical to the udaf aggregators") {
    val enc = ExpressionEncoder[Array[Int]]()
    val df = tokenDf(800, 5)
    graft.plans.NativeAggs.register(spark, bloomK = cfg.k, bloomLog2l = cfg.log2l)
    val udafBloom = df.agg(udaf(new BloomTokensAgg(cfg), enc)(col("tokens"))).head().getAs[Array[Byte]](0)
    val nativeBloom = df.agg(graft.plans.NativeAggs.bloomTokensNative(col("tokens"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(nativeBloom, udafBloom), "native bloom differs from udaf bloom")
    // the registered SQL name serves the same fused build
    val nativeFused = df.agg(graft.plans.NativeAggs.fusedTokensNative(col("tokens")).as("sk"))
      .select("sk.bloom", "sk.hll", "sk.cms").head()
    assertSameSketches((0 until 3).map(nativeFused.getAs[Array[Byte]](_)),
      individualSketches(df, cfg, 12, SketchQueries.cmsCfg), "registered native fused")
    // shuffle-path (serialize/deserialize of the native buffer) exercised
    val repart = df.repartition(9).groupBy(col("source"))
      .agg(graft.plans.NativeAggs.bloomTokensNative(col("tokens")).as("sk"))
      .agg(NativeAggs.column(Bloom(cfg), col("sk")))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(repart, udafBloom))
  }

  test("native aggs: 128-bit-config bloom matches udaf; fused 128-bit config is byte-identical; SQL arity errors") {
    val enc = ExpressionEncoder[Array[Int]]()
    val df = tokenDf(400, 3)
    // 6*13 + 10 = 88 > 64: 128-bit hash path through the native agg
    val cfg128 = BloomConfig(K0, K1, 13, 10)
    graft.plans.NativeAggs.register(spark, bloomK = 13, bloomLog2l = 10)
    val nat = df.agg(graft.plans.NativeAggs.bloomTokensNative(col("tokens"))).head().getAs[Array[Byte]](0)
    val ud = df.agg(udaf(new BloomTokensAgg(cfg128), enc)(col("tokens"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(nat, ud), "128-bit native bloom differs from udaf")
    // the fused build serves the same config: every field equals its
    // individual aggregator (bloom on the 128-bit path)
    val cms = SketchQueries.cmsCfg
    val fused = df.agg(fusedNative(cfg128, 12, cms).as("sk"))
      .select("sk.bloom", "sk.hll", "sk.cms").head()
    assertSameSketches((0 until 3).map(fused.getAs[Array[Byte]](_)),
      individualSketches(df, cfg128, 12, cms), "128-bit fused")
    // SQL arity misuse fails with a named error, not NoSuchElementException
    df.createOrReplaceTempView("native_arity_t")
    val e = intercept[Exception](
      spark.sql("SELECT graft_fused_tokens_native(tokens, n_tok) FROM native_arity_t").collect())
    assert(e.getMessage.contains("graft_fused_tokens_native") || e.getCause != null)
    // per-call bloom params through SQL
    val perCall = spark.sql(
      "SELECT graft_bloom_tokens_native(tokens, 13, 10) FROM native_arity_t").head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(perCall, ud), "per-call (k, log2l) SQL args ignored")
  }

  test("SQL graft_bloom/hll/cms_merge run natively, byte-identical to the merge aggregators") {
    graft.plans.GraftFunctions.register(spark)
    val enc = ExpressionEncoder[Array[Int]]()
    val cms = SketchQueries.cmsCfg
    val df = tokenDf(800, 5)
    val built = df.groupBy(col("source"), col("doc_id").substr(-1, 1).as("shard"))
      .agg(udaf(new BloomTokensAgg(cfg), enc)(col("tokens")).as("b"),
        udaf(new HllTokensAgg(K0, K1, 12), enc)(col("tokens")).as("h"),
        udaf(new CmsTokensAgg(cms), enc)(col("tokens")).as("c"))
    // materialized, so the merge plans below hold no build aggregate
    val partials = spark.createDataFrame(
      spark.sparkContext.parallelize(built.collect().toSeq, 3), built.schema)
    partials.createOrReplaceTempView("merge_partials")
    // the SQL names' default kinds, as explicit Column-API merges
    val viaUdaf = partials.groupBy(col("source")).agg(
      NativeAggs.column(Bloom(cfg), col("b")),
      NativeAggs.column(HllKind(K0, K1, 12), col("h")),
      NativeAggs.column(Cms(cms), col("c")))
      .collect().map(r => r.getString(0) -> (1 to 3).map(i => r.getAs[Array[Byte]](i).toSeq)).toMap
    val sqlDf = spark.sql(
      """SELECT source, graft_bloom_merge(b), graft_hll_merge(h), graft_cms_merge(c)
        |FROM merge_partials GROUP BY source""".stripMargin)
    val viaSql = sqlDf.collect()
      .map(r => r.getString(0) -> (1 to 3).map(i => r.getAs[Array[Byte]](i).toSeq)).toMap
    assert(viaSql === viaUdaf)
    // two-level == one-level: the merged bloom equals the direct build
    val direct = df.groupBy(col("source")).agg(udaf(new BloomTokensAgg(cfg), enc)(col("tokens")))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(viaSql.map { case (s, v) => s -> v.head } === direct)
    object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val funcs = plans.collect(sqlDf.queryExecution.executedPlan) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.map(_.aggregateFunction)
    }.flatten
    assert(funcs.count { case a: SketchAgg => a.isMerge; case _ => false } >= 3 &&
      !funcs.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]),
      s"SQL merges must run natively: $funcs")
  }

  test("SQL native merges: empty payload convention (zero rows finish empty; empty inputs skipped)") {
    graft.plans.GraftFunctions.register(spark)
    val enc = ExpressionEncoder[Array[Int]]()
    val df = tokenDf(200, 3)
    df.agg(udaf(new BloomTokensAgg(cfg), enc)(col("tokens")).as("b"),
      udaf(new HllTokensAgg(K0, K1, 12), enc)(col("tokens")).as("h"),
      udaf(new CmsTokensAgg(SketchQueries.cmsCfg), enc)(col("tokens")).as("c"))
      .createOrReplaceTempView("merge_one")
    val one = spark.table("merge_one").head()
    for ((fn, colName, i) <- Seq(("graft_bloom_merge", "b", 0), ("graft_hll_merge", "h", 1),
        ("graft_cms_merge", "c", 2))) {
      // a merge over ZERO rows finishes to the empty payload, not null
      val emptyOut = spark.sql(s"SELECT $fn($colName) FROM merge_one WHERE false").head().getAs[Array[Byte]](0)
      assert(emptyOut != null && emptyOut.isEmpty, s"$fn over zero rows must finish to empty bytes")
      // empty and null inputs are skipped: the merge returns the one real sketch
      val merged = spark.sql(
        s"""SELECT $fn(sk) FROM (
           |  SELECT $colName AS sk FROM merge_one
           |  UNION ALL SELECT CAST(X'' AS BINARY) AS sk
           |  UNION ALL SELECT CAST(NULL AS BINARY) AS sk
           |  UNION ALL SELECT $fn($colName) AS sk FROM merge_one WHERE false
           |)""".stripMargin).head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(merged, one.getAs[Array[Byte]](i)), s"$fn must skip empty inputs")
    }
  }

  test("typed Dataset facade: per-source sketches + probe, no false negatives") {
    import spark.implicits._
    import graft.operators.TypedSketchOps
    val ds = Tokens.table(spark, "/root/testdata/sf0.001").as[Tokens.TokenRow]
    val hllP = 12
    val cms = CmsConfig(K0, K1, 5, 11)
    val cfg128 = BloomConfig(K0, K1, 13, 10) // 6*13 + 10 > 64: the 128-bit bloom path
    for (bloomCfg <- Seq(BloomConfig(K0, K1, 3, 12), cfg128)) {
      val sketches = TypedSketchOps.perSourceSketches(ds, bloomCfg, hllP, cms)
      val rows = sketches.collect()
      assert(rows.map(_.n_rows).sum === 500L)
      rows.foreach(r => assert(r.bloom.nonEmpty && r.hll.nonEmpty && r.cms.nonEmpty))
      // each source's bytes equal a one-shot fused build and the three
      // individual aggregators over that source's rows
      val enc = ExpressionEncoder[Array[Int]]()
      val want = ds.toDF().groupBy(col("source")).agg(
        fusedNative(bloomCfg, hllP, cms).as("sk"),
        udaf(new BloomTokensAgg(bloomCfg), enc)(col("tokens")).as("b"),
        udaf(new HllTokensAgg(K0, K1, hllP), enc)(col("tokens")).as("h"),
        udaf(new CmsTokensAgg(cms), enc)(col("tokens")).as("c"),
        sum(col("n_tok")).cast("long").as("n"))
        .select("source", "sk.bloom", "sk.hll", "sk.cms", "b", "h", "c", "n")
        .collect()
      assert(want.length === rows.length)
      val bySource = rows.map(r => r.source -> r).toMap
      want.foreach { w =>
        val r = bySource(w.getString(0))
        val got = Seq(r.bloom, r.hll, r.cms)
        assertSameSketches(got, (1 to 3).map(w.getAs[Array[Byte]](_)), s"${r.source} vs one-shot fused")
        assertSameSketches(got, (4 to 6).map(w.getAs[Array[Byte]](_)), s"${r.source} vs individual aggs")
        assert(r.n_tokens === w.getLong(7))
      }
      val probed = TypedSketchOps.probeOwnSource(ds, sketches)
      // no false negatives: every token of every doc is present in its sketch
      assert(probed.where(col("n_present") =!= col("n_tok")).count() === 0L)
      assert(probed.schema("n_present").dataType === org.apache.spark.sql.types.LongType)
      // build and probe both run natively: no udaf, no scalar UDF
      object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      for (q <- Seq(sketches.toDF(), probed)) {
        val foreign = plans.flatMap(q.queryExecution.executedPlan)(_.expressions.flatMap(_.collect {
          case e: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] => e.getClass.getSimpleName
          case e: org.apache.spark.sql.catalyst.expressions.ScalaUDF => e.getClass.getSimpleName
        }))
        assert(foreign.isEmpty, s"typed facade plan holds $foreign:\n${q.queryExecution.executedPlan}")
      }
    }
    // bloom and cms must share the SipKey
    intercept[IllegalArgumentException](
      TypedSketchOps.perSourceSketches(ds, cmsCfg = CmsConfig(K0 + 1, K1, 5, 11)))
  }

  test("driver contract: entry() returns rows on sf0.001 and every query name has a body") {
    assert(SparkEntry.entry(spark).count() > 0, "entry smoke must return rows")
    // every oracle key refers to an existing query
    SparkEntry.oracleSql.keys.foreach(k =>
      assert(SparkEntry.queries.contains(k), s"oracle $k has no query"))
  }

  test("heavy-hitter MG query: every per-source guarantee boolean true at sf0.001") {
    val rows = SketchQueries.heavyHitterMgBound(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 20)
    rows.foreach(r => assert(r.getBoolean(1), s"guarantees violated for ${r.getString(0)}"))
  }

  test("graft_heavyhitter SQL surface: summary respects capacity and dominant key ranks first") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // key 7 holds 30% of the stream; universe ~8k keys >> capacity 64
    (0 until 20000).map { i =>
      if (i % 10 < 3) 7L else 100L + (graft.core.SipHash.hashLong(1L, 2L, i.toLong) & 0x1fffL)
    }.toDF("key").createOrReplaceTempView("hh_in")
    val bytes = spark.sql("SELECT graft_heavyhitter(key) FROM hh_in").head().getAs[Array[Byte]](0)
    val s = graft.core.FrequentItems.fromBytes(bytes)
    assert(s.size <= 64)
    assert(s.total === 20000L)
    assert(s.topK(1).head._1 === 7L)
    assert(s.decremented * 64 <= s.total)
    // pure-SQL read path: the native struct-returning summary reader
    val r = spark.sql(
      """SELECT graft_heavyhitter_summary(sk).topk[0].key AS top_key,
        |       graft_heavyhitter_summary(sk).error AS d,
        |       graft_heavyhitter_summary(sk).total AS n
        |FROM (SELECT graft_heavyhitter(key) AS sk FROM hh_in)""".stripMargin).head()
    assert(r.getLong(0) === 7L)
    assert(r.getLong(1) === s.decremented && r.getLong(2) === 20000L)
    // the full struct matches the core decode: every stored entry, est-desc
    val full = spark.sql(
      """SELECT graft_heavyhitter_summary(sk) AS s
        |FROM (SELECT graft_heavyhitter(key) AS sk FROM hh_in)""".stripMargin).head()
      .getStruct(0)
    val topk = full.getSeq[org.apache.spark.sql.Row](0)
    assert(topk.length === s.size)
    assert(topk.map(e => (e.getLong(0), e.getLong(1))) === s.topK(s.capacity))
  }

  test("HeavyHittersMergeAgg: merging serialized per-group summaries keeps every guarantee") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // per-source summaries then a serialized second-level merge to global
    val xs = (0 until 30000).map { i =>
      (s"src${i % 4}", if (i % 5 < 2) (i % 8).toLong else 1000L + (i * 2654435761L % 4000))
    }
    xs.toDF("source", "key").createOrReplaceTempView("hhm_in")
    val globalBytes = spark.sql(
      """SELECT graft_heavyhitter_merge(sk) FROM
        |(SELECT graft_heavyhitter(key) AS sk FROM hhm_in GROUP BY source)""".stripMargin)
      .head().getAs[Array[Byte]](0)
    val s = graft.core.FrequentItems.fromBytes(globalBytes)
    val exact = xs.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    assert(s.total === 30000L)
    assert(s.size <= 64)
    assert(s.decremented * s.capacity <= s.total)
    s.entries.foreach { case (k, est) =>
      val t = exact.getOrElse(k, 0L)
      assert(est <= t && t <= est + s.decremented, s"merged sandwich broken at $k")
    }
    exact.foreach { case (k, t) =>
      if (t > s.decremented) assert(s.contains(k), s"heavy $k lost in serialized merge")
    }
  }

  test("weighted heavy hitters: mass-based guarantees through SQL, merge keeps them") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // key 7 carries 40% of the MASS in few rows; tail keys carry weight 1-3
    val rows = (0 until 12000).map { i =>
      if (i % 100 == 0) (7L, 400L)
      else (100L + (graft.core.SipHash.hashLong(3L, 4L, i.toLong) & 0xfffL), 1L + i % 3)
    }
    rows.toDF("key", "w").createOrReplaceTempView("hhw_in")
    val bytes = spark.sql("SELECT graft_heavyhitter_weighted(key, w) FROM hhw_in")
      .head().getAs[Array[Byte]](0)
    val s = graft.core.FrequentItems.fromBytes(bytes)
    val exact = rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val totalMass = rows.map(_._2).sum
    assert(s.total === totalMass)
    assert(s.decremented * s.capacity <= s.total)
    s.entries.foreach { case (k, est) =>
      val t = exact.getOrElse(k, 0L)
      assert(est <= t && t <= est + s.decremented, s"weighted sandwich broken at $k")
    }
    exact.foreach { case (k, t) =>
      if (t > s.decremented) assert(s.contains(k), s"heavy-mass key $k lost")
    }
    assert(s.topK(1).head._1 === 7L, "the dominant-mass key must rank first")
    // distributed merge over partitions keeps the guarantees
    val bytesParts = rows.toDF("key", "w").repartition(7)
      .agg(NativeAggs.column(HeavyHitters(64), col("key"), col("w")))
      .head().getAs[Array[Byte]](0)
    val sp = graft.core.FrequentItems.fromBytes(bytesParts)
    assert(sp.total === totalMass && sp.decremented * sp.capacity <= sp.total)
    assert(sp.contains(7L) && sp.topK(1).head._1 === 7L)
  }

  test("HeavyHittersMergeAgg: empty payloads chain through merge levels (family convention)") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // ADVICE r3: a chained merge level can see Array.emptyByteArray (the
    // output of a merge over an empty group — the checkpoint-merge shape);
    // it must be SKIPPED, not fed to fromBytes (which requires >= 40 bytes)
    Seq(("a", 1L), ("a", 1L), ("b", 7L)).toDF("g", "key")
      .createOrReplaceTempView("hhm_empty_in")
    // level-2 merge over ZERO inputs finishes to the empty payload, not null
    val emptyOut = spark.sql(
      """SELECT graft_heavyhitter_merge(sk) FROM
        |(SELECT graft_heavyhitter(key) AS sk FROM hhm_empty_in WHERE key < 0 GROUP BY g)""".stripMargin)
      .head().getAs[Array[Byte]](0)
    assert(emptyOut != null && emptyOut.isEmpty,
      "merge over an empty group must finish to Array.emptyByteArray")
    // level-3 merge over real summaries PLUS an empty shard skips the empty
    val merged = spark.sql(
      """SELECT graft_heavyhitter_merge(sk) FROM (
        |  SELECT graft_heavyhitter(key) AS sk FROM hhm_empty_in GROUP BY g
        |  UNION ALL SELECT CAST(X'' AS BINARY) AS sk
        |)""".stripMargin)
      .head().getAs[Array[Byte]](0)
    val s = graft.core.FrequentItems.fromBytes(merged)
    assert(s.total === 3L && s.estimate(1L) === 2L && s.estimate(7L) === 1L)
  }

  test("BottomK sample agg: distributed build byte-identical to serial, SQL surface reads back") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val elems = (0L until 5000L).map(i => i * 31L % 4801L)
    // serial truth
    val (sh, sv) = BottomK.emptyBuffers(64)
    var ss = 0
    elems.foreach(e => ss = BottomK.add(sh, sv, ss, SipHash.hashLong(K0, K1, e), e))
    val serialBytes = BottomK.toBytes(sh, sv, ss, BlockedBloom.TypeTag.Long,
      SipHash.hashLong(K0, K1, K0 ^ K1), BottomK.SerialVersion, BottomK.LongValues)
    for (parts <- Seq(1, 3, 8)) {
      val bytes = elems.toDF("x").repartition(parts)
        .agg(NativeAggs.column(Sample(K0, K1, 64, weighted = false, BottomK.LongValues), col("x")))
        .head().getAs[Array[Byte]](0)
      assert(bytes.sameElements(serialBytes), s"BottomK at $parts partitions differs from serial")
    }
    // SQL surface: default-k agg + native values reader + serialized merge
    elems.map(e => (s"s${e % 3}", e)).toDF("g", "x").createOrReplaceTempView("bk_in")
    val direct = spark.sql(
      "SELECT g, graft_sample_values(graft_sample_bottomk(x)) AS vals FROM bk_in GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(direct.values.forall(_.length === 64))
    direct.foreach { case (g, vals) =>
      assert(vals.forall(v => s"s${v % 3}" == g), s"sample of $g contains foreign values")
    }
    val merged = spark.sql(
      """SELECT g, graft_sample_values(graft_sample_merge(p)) AS vals FROM
        |(SELECT g, x % 5 AS shard, graft_sample_bottomk(x) AS p FROM bk_in GROUP BY g, x % 5)
        |GROUP BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged === direct, "serialized two-level merge must reproduce the direct sample")
  }

  test("BottomK string sample agg: distributed = serial bytes, SQL read-back, merge identity") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val elems = (0 until 4000).map(i => s"doc-${i * 13 % 3701}")
    // serial truth
    val (sh, _) = BottomK.emptyBuffers(64)
    val sv = new Array[Array[Byte]](64)
    var ss = 0
    elems.foreach { e =>
      val b = e.getBytes("UTF-8")
      ss = BottomK.add(sh, sv, ss, SipHash.hash64(K0, K1, b), b)
    }
    val serialBytes = BottomK.toBytes(sh, sv, ss, BlockedBloom.TypeTag.String, SipHash.hashLong(K0, K1, K0 ^ K1),
      BottomK.SerialVersion, BottomK.StringValues)
    for (parts <- Seq(1, 4)) {
      val bytes = elems.toDF("x").repartition(parts)
        .agg(NativeAggs.column(Sample(K0, K1, 64, weighted = false, BottomK.StringValues), col("x")))
        .head().getAs[Array[Byte]](0)
      assert(bytes.sameElements(serialBytes), s"string BottomK at $parts partitions != serial")
    }
    // SQL surface + serialized merge identity
    elems.toDF("x").createOrReplaceTempView("bks_in")
    val direct = spark.sql(
      "SELECT graft_sample_strings(graft_sample_bottomk_str(x)) FROM bks_in")
      .head().getSeq[String](0)
    assert(direct.length === 64 && direct.forall(_.startsWith("doc-")))
    val merged = spark.sql(
      """SELECT graft_sample_strings(graft_sample_str_merge(p)) FROM
        |(SELECT length(x) % 3 AS shard, graft_sample_bottomk_str(x) AS p FROM bks_in
        | GROUP BY length(x) % 3)""".stripMargin)
      .head().getSeq[String](0)
    assert(merged === direct, "serialized string-sample merge must reproduce the direct sample")
  }

  test("runtime-filter queries release their persisted build side (no cache growth)") {
    val before = spark.sparkContext.getPersistentRDDs.size
    SketchQueries.bloomPrefilterSemijoin(spark, "/root/testdata/sf0.001").count()
    SketchQueries.bloomJoinLineitem(spark, "/root/testdata/sf0.001").count()
    SketchQueries.bloomPrefilterSemijoin(spark, "/root/testdata/sf0.001").count()
    SketchQueries.bloomJoinLineitem(spark, "/root/testdata/sf0.001").count()
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "repeated invocations must not accumulate persisted RDDs")
  }

  test("KMV agg over Spark partitions: retained bottom-k identical to serial build, any parallelism") {
    val kmvUdaf = (c: Column) => NativeAggs.column(KmvKind(K0, K1, 64), c)
    // serial truth
    val serialHashes = Kmv.emptyHashes(64)
    var serialSize = 0
    tokenDf(500, 1).select("tokens").collect().foreach { r =>
      r.getSeq[Int](0).foreach(t =>
        serialSize = Kmv.add(serialHashes, serialSize, SipHash.hashInt(K0, K1, t)))
    }
    for (parts <- Seq(1, 3, 8)) {
      val bytes = tokenDf(500, parts).agg(kmvUdaf(col("tokens"))).head().getAs[Array[Byte]](0)
      val (h, s, tag, _) = Kmv.fromBytes(bytes)
      assert(tag === BlockedBloom.TypeTag.Int)
      assert(s === serialSize && h.take(s).sameElements(serialHashes.take(serialSize)),
        s"KMV at $parts partitions differs from serial build")
    }
  }

  test("KMV full SQL path: build, merge, estimate, jaccard, intersect via registered functions") {
    GraftFunctions.register(spark)
    tokenDf(400, 4).createOrReplaceTempView("kmv_docs")
    val row = spark.sql(
      """SELECT graft_kmv_estimate(graft_kmv_merge(sk)) AS g_est,
        |       graft_kmv_jaccard(min(sk), max(sk)) AS j,
        |       graft_kmv_intersect(min(sk), max(sk)) AS inter
        |FROM (SELECT source, graft_kmv_tokens(tokens) AS sk
        |      FROM kmv_docs WHERE source IN ('src0', 'src1') GROUP BY source)""".stripMargin)
      .head()
    // exact truths from the fixture
    val d = spark.sql(
      """SELECT source, collect_set(t) AS s FROM
        |(SELECT source, explode(tokens) AS t FROM kmv_docs WHERE source IN ('src0','src1'))
        |GROUP BY source ORDER BY source""".stripMargin).collect()
    val s0 = d(0).getSeq[Int](1).toSet
    val s1 = d(1).getSeq[Int](1).toSet
    val interExact = (s0 & s1).size.toDouble
    val unionExact = (s0 | s1).size.toDouble
    val se = Kmv.stdError(256)
    assert(math.abs(row.getDouble(0) - unionExact) <= 4 * se * unionExact + 3)
    assert(math.abs(row.getDouble(1) - interExact / unionExact) <= 5 * math.sqrt(0.25 / 256) + 0.01)
    assert(math.abs(row.getDouble(2) - interExact) <= 0.3 * interExact + 5)
  }

  test("serialized second-level quantile merges: per-source KLL/t-digest merged sketches stay within rank-error bound") {
    GraftFunctions.register(spark)
    tokenDf(600, 6).createOrReplaceTempView("qmerge_docs")
    // level 1: per-source serialized sketches; level 2: merge across sources
    val row = spark.sql(
      """SELECT graft_kll_quantile(graft_kll_merge(kll_sk), 0.5) AS kll_med,
        |       graft_tdigest_quantile(graft_tdigest_merge(td_sk), 0.5) AS td_med
        |FROM (SELECT source, graft_kll(CAST(n_tok AS DOUBLE)) AS kll_sk,
        |             graft_tdigest(CAST(n_tok AS DOUBLE)) AS td_sk
        |      FROM qmerge_docs GROUP BY source)""".stripMargin).head()
    val exact = tokenDf(600, 6).select("n_tok").collect().map(_.getInt(0).toDouble).sorted
    def rankOf(x: Double): Double = exact.count(_ <= x).toDouble / exact.length
    // KLL(k=200) rank error ~1.7%/sqrt... use 5% slack; t-digest mid-quantiles tighter
    assert(math.abs(rankOf(row.getDouble(0)) - 0.5) <= 0.05,
      s"merged KLL median ${row.getDouble(0)} at rank ${rankOf(row.getDouble(0))}")
    assert(math.abs(rankOf(row.getDouble(1)) - 0.5) <= 0.05,
      s"merged t-digest median ${row.getDouble(1)} at rank ${rankOf(row.getDouble(1))}")
  }

  test("sketch rollup query: daily-partial merge byte-identical to direct build, bounds hold") {
    val rows = SketchQueries.sketchRollup(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length === 5, "five event types")
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_days")) >= 1L)
      assert(r.getBoolean(r.fieldIndex("hll_merge_eq_direct")),
        s"${r.getString(0)}: HLL daily-merge must be byte-identical to direct build")
      assert(r.getBoolean(r.fieldIndex("kmv_merge_eq_direct")),
        s"${r.getString(0)}: KMV daily-merge must be byte-identical to direct build")
      assert(r.getBoolean(r.fieldIndex("est_within_bound")))
    }
  }

  test("tokens fixture: deterministic across builds (token-array equality invariant)") {
    val dir = "/root/testdata/sf0.001"
    val a = Tokens.table(spark, dir).orderBy("doc_id").collect()
    val b = Tokens.table(spark, dir).orderBy("doc_id").collect()
    assert(a.length === 500)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getSeq[Int](1) === y.getSeq[Int](1), s"tokens differ for ${x.getString(0)}")
    }
    // schema is the input_hint shape
    val schema = Tokens.table(spark, dir).schema
    assert(schema.fieldNames.toSeq === Seq("doc_id", "tokens", "n_tok", "source"))
  }

  test("tokens fixture: a documents file rewritten under the same path is tokenized with its new words") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tokens-fixture").toString
    // doc_id is BIGINT, as in the documents schema Tokens declares (FIXTURES.md §1)
    def write(texts: String*): Unit = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "s") }
      .toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def tokens(): Map[String, Seq[Int]] = Tokens.table(spark, dir).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    try {
      write("alpha beta", "beta gamma")
      assert(tokens() === Map("0" -> Seq(1, 2), "1" -> Seq(2, 3)))
      write("alpha beta", "beta zeta")
      assert(tokens() === Map("0" -> Seq(1, 2), "1" -> Seq(2, 3)), "zeta takes the id gamma had")
      write("alpha beta delta", "beta zeta")
      // delta sorts between beta and zeta: every id after beta moves
      assert(tokens() === Map("0" -> Seq(1, 2, 3), "1" -> Seq(2, 4)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Every `graft_*` SQL aggregate call, over the `agg_names` view. */
  private val sqlAggregateCalls = Seq(
    "graft_bloom_tokens(tokens)", "graft_bloom_tokens_newcount(tokens)",
    "graft_bloom_tokens_native(tokens)", "graft_fused_tokens_native(tokens)",
    "graft_hll_tokens(tokens)", "graft_cms_tokens(tokens)", "graft_kmv_tokens(tokens)",
    "graft_kmv_long(v)", "graft_kll(x)", "graft_tdigest(x)", "graft_heavyhitter(v)",
    "graft_heavyhitter_weighted(v, w)", "graft_sample_bottomk(v)", "graft_sample_bottomk_str(s)",
    "graft_sample_weighted(v, w)", "graft_sample_weighted_str(s, w)",
    "graft_bloom_merge(b)", "graft_hll_merge(h)", "graft_cms_merge(c)", "graft_kmv_merge(kv)",
    "graft_kll_merge(kl)", "graft_tdigest_merge(td)", "graft_heavyhitter_merge(hh)",
    "graft_sample_merge(sm)", "graft_sample_str_merge(ss)", "graft_sample_weighted_merge(sw)",
    "graft_sample_weighted_str_merge(sws)")

  private def aggNamesView(): Unit = {
    GraftFunctions.register(spark)
    tokenDf(120, 3).selectExpr("tokens", "CAST(n_tok AS BIGINT) AS v", "CAST(n_tok AS DOUBLE) AS x",
      "CAST(1 + n_tok % 3 AS BIGINT) AS w", "doc_id AS s").createOrReplaceTempView("agg_src")
    spark.sql(
      """SELECT *,
        |  (SELECT graft_bloom_tokens(tokens) FROM agg_src) AS b,
        |  (SELECT graft_hll_tokens(tokens) FROM agg_src) AS h,
        |  (SELECT graft_cms_tokens(tokens) FROM agg_src) AS c,
        |  (SELECT graft_kmv_long(v) FROM agg_src) AS kv,
        |  (SELECT graft_kll(x) FROM agg_src) AS kl,
        |  (SELECT graft_tdigest(x) FROM agg_src) AS td,
        |  (SELECT graft_heavyhitter(v) FROM agg_src) AS hh,
        |  (SELECT graft_sample_bottomk(v) FROM agg_src) AS sm,
        |  (SELECT graft_sample_bottomk_str(s) FROM agg_src) AS ss,
        |  (SELECT graft_sample_weighted(v, w) FROM agg_src) AS sw,
        |  (SELECT graft_sample_weighted_str(s, w) FROM agg_src) AS sws
        |FROM agg_src""".stripMargin).createOrReplaceTempView("agg_names")
  }

  private def scalaAggregators(plan: LogicalPlan): Seq[ScalaAggregator[_, _, _]] =
    plan.collect { case p => p.expressions.flatMap(_.collect { case a: ScalaAggregator[_, _, _] => a }) }.flatten

  test("no analyzed plan of a sketch aggregate holds a ScalaAggregator (SQL, streaming, typed, job)") {
    aggNamesView()
    sqlAggregateCalls.foreach { call =>
      val analyzed = spark.sql(s"SELECT $call FROM agg_names").queryExecution.analyzed
      assert(scalaAggregators(analyzed).isEmpty, s"$call runs a udaf")
      val funcs = analyzed.collect { case a: Aggregate =>
        a.aggregateExpressions.flatMap(_.collect { case e: AggregateExpression => e.aggregateFunction })
      }.flatten
      assert(funcs.nonEmpty && funcs.forall(_.isInstanceOf[SketchAgg]), s"$call: $funcs")
    }
    val windowed = graft.streaming.StreamingSketch.perSourceWindowedSketches(
      tokenDf(50, 2).withColumn("ts", current_timestamp()), "ts", "1 minute", "5 minutes", cfg, 12)
    assert(scalaAggregators(windowed.queryExecution.analyzed).isEmpty, "windowed sketches run a udaf")
    import spark.implicits._
    val typed = graft.operators.TypedSketchOps.perSourceSketches(tokenDf(50, 2).as[Tokens.TokenRow])
    assert(scalaAggregators(typed.queryExecution.analyzed).isEmpty, "TypedSketchOps runs a udaf")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_agg_plan").toString
    val analyzed = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        analyzed.synchronized(analyzed += qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.jobs.SketchJob.runIncrement(spark, tokenDf(60, 2), ckpt)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (analyzed.synchronized(analyzed.isEmpty) && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val fin = graft.jobs.SketchJob.finalizeSketches(spark, ckpt)
    assert(analyzed.nonEmpty)
    (analyzed.synchronized(analyzed.toList) :+ fin.queryExecution.analyzed).foreach(p =>
      assert(scalaAggregators(p).isEmpty, s"SketchJob runs a udaf:\n$p"))
  }

  test("sketch aggregates reject unsupported input types at analysis") {
    aggNamesView()
    for (bad <- Seq("graft_kll('x')", "graft_hll_merge(1)", "graft_bloom_tokens(v)",
        "graft_kmv_long(s)", "graft_cms_merge(tokens)", "graft_bloom_tokens_newcount(b)",
        "graft_sample_weighted(v, x)", "graft_tdigest(tokens)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $bad FROM agg_names"))
      assert(e.getMessage.contains(bad.takeWhile(_ != '(')), s"$bad: ${e.getMessage}")
    }
    // SQL names keep their arity: a weighted sample needs its weight, a
    // plain build takes none
    for (bad <- Seq("graft_sample_weighted(v)", "graft_kll(x, w)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $bad FROM agg_names"))
      assert(e.getMessage.contains(bad.takeWhile(_ != '(')), s"$bad: ${e.getMessage}")
    }
  }

  test("numeric sketch builds skip null rows (the udaf path read a null as 0)") {
    import spark.implicits._
    aggNamesView()
    val withNulls = Seq[(Option[Double], Option[Long], Option[Long])](
      (None, None, Some(5L)), (Some(2.0), Some(3L), None), (Some(4.0), Some(9L), Some(2L)),
      (Some(8.0), None, Some(1L))).toDF("x", "v", "w")
    val clean = Seq((2.0, 3L, 1L), (4.0, 9L, 2L), (8.0, 0L, 1L)).toDF("x", "v", "w")
    def out(df: DataFrame, call: String): Array[Byte] = {
      // one partition each: the KLL wire form carries merge history
      df.coalesce(1).createOrReplaceTempView("nulls_in")
      spark.sql(s"SELECT $call FROM nulls_in").head().getAs[Array[Byte]](0)
    }
    assert(Kll.fromBytes(out(withNulls, "graft_kll(x)")).n === 3L)
    assert(java.util.Arrays.equals(out(withNulls, "graft_kll(x)"), out(clean, "graft_kll(x)")))
    assert(java.util.Arrays.equals(out(withNulls, "graft_tdigest(x)"), out(clean, "graft_tdigest(x)")))
    // v: rows (3), (9) survive; w null skips a weighted row
    val cleanV = Seq(3L, 9L).toDF("v")
    for (call <- Seq("graft_kmv_long(v)", "graft_heavyhitter(v)", "graft_sample_bottomk(v)"))
      assert(java.util.Arrays.equals(out(withNulls, call), out(cleanV, call)), call)
    val cleanVW = Seq((9L, 2L)).toDF("v", "w")
    for (call <- Seq("graft_heavyhitter_weighted(v, w)", "graft_sample_weighted(v, w)"))
      assert(java.util.Arrays.equals(out(withNulls, call), out(cleanVW, call)), call)
  }
}
