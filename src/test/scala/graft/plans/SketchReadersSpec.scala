package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomConfig, Keys}
import graft.operators.SketchKinds

/** Native read-path expressions (round-2 VERDICT #4): estimate readers as
  * codegen participants, pairwise Bloom set ops with optional keys and
  * merge-specific errors, the pair-cosine kernel, and the clean (no
  * codegen-fallback) rejection of cross-type foldable probes. */
class SketchReadersSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-readers-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** True when `exprName` appears on a `*(n)`-prefixed operator line of the
    * FINAL (post-AQE) physical plan — Spark's marker for operators fused
    * into a WholeStageCodegen stage. (A tree-collect of
    * WholeStageCodegenExec does not descend through AQE query stages.) */
  private def insideCodegen(df: org.apache.spark.sql.DataFrame, exprName: String): Boolean = {
    df.count() // force AQE final plan
    df.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains(exprName) && l.trim.matches("""^(\+-\s*|:-\s*)?\*\(\d+\).*"""))
  }

  test("graft_cms_estimate / graft_cms_total native readers: one-sided exactness, codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // 3 sources x skewed token counts; exact counts known
    val rows = for (s <- 0 until 3; t <- 0 until 50; rep <- 0 to t % 7) yield (s"src$s", Array(t))
    rows.toDF("source", "tokens").createOrReplaceTempView("cms_in")
    spark.sql(
      "SELECT source, graft_cms_tokens(tokens) AS sk FROM cms_in GROUP BY source")
      .createOrReplaceTempView("cms_sk")
    val est = spark.sql(
      """SELECT c.source, t.token, graft_cms_estimate(c.sk, t.token) AS est,
        |       graft_cms_total(c.sk) AS total
        |FROM (SELECT DISTINCT source, explode(tokens) AS token FROM cms_in) t
        |JOIN cms_sk c ON t.source = c.source""".stripMargin)
    val exact = rows.flatMap { case (s, ts) => ts.map(t => (s, t)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val totals = rows.groupBy(_._1).map { case (s, v) => s -> v.map(_._2.length).sum.toLong }
    est.collect().foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      assert(r.getLong(2) >= exact(key), s"CMS estimate must be one-sided >= exact at $key")
      assert(r.getLong(3) === totals(r.getString(0)))
    }
    // the readers must run INSIDE whole-stage codegen, not as UDF boundaries
    assert(insideCodegen(est, "graft_cms_estimate"),
      s"graft_cms_estimate not inside WholeStageCodegen:\n${est.queryExecution.executedPlan}")
  }

  test("graft_cms_estimate string path: UTF8String bytes hash identically to String") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cms = graft.core.CmsConfig(Keys.DefaultK0, Keys.DefaultK1, 5, 8)
    val buf = graft.core.CountMin.empty(cms)
    val words = Seq("alpha", "beta", "héllo wörld", "空", "")
    words.zipWithIndex.foreach { case (w, i) =>
      (0 to i).foreach(_ => graft.core.CountMin.addString(buf, cms, w))
    }
    val sk = graft.core.CountMin.toBytes(buf, cms, graft.core.BlockedBloom.TypeTag.String)
    val got = words.map(w => (sk, w)).toDF("sk", "w")
      .selectExpr("w", "graft_cms_estimate(sk, w) AS est")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      assert(got(w) === graft.core.CountMin.estimateString(buf, cms, w),
        s"native string estimate diverged for '$w'")
      assert(got(w) >= i + 1L, s"one-sidedness violated for '$w'")
    }
  }

  test("graft_cms_estimate rejects a probe of another element type than the sketch's") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cms = graft.core.CmsConfig(Keys.DefaultK0, Keys.DefaultK1, 5, 8)
    val buf = graft.core.CountMin.empty(cms)
    graft.core.CountMin.addString(buf, cms, "alpha")
    val strSk = graft.core.CountMin.toBytes(buf, cms, graft.core.BlockedBloom.TypeTag.String)
    val intSk = spark.sql("SELECT graft_cms_tokens(array(1, 2, 3))").head().getAs[Array[Byte]](0)
    for ((sk, probe, held, probed) <- Seq((strSk, "7", "string", "int"), (intSk, "'alpha'", "int", "string"))) {
      val df = Seq(sk, sk).toDF("sk").repartition(2).selectExpr(s"graft_cms_estimate(sk, $probe)")
      val ex = intercept[Throwable](df.collect())
      val msg = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msg.contains(s"holds $held elements, probed as $probed"), s"unexpected: $msg")
    }
    // same-type probes still read
    assert(Seq(strSk).toDF("sk").selectExpr("graft_cms_estimate(sk, 'alpha')").head().getLong(0) >= 1L)
    assert(Seq(intSk).toDF("sk").selectExpr("graft_cms_estimate(sk, 2)").head().getLong(0) >= 1L)
  }

  test("graft_hll_estimate / quantile readers agree with core implementations") {
    import spark.implicits._
    GraftFunctions.register(spark)
    (0 until 5000).map(i => Array(i % 997)).toDF("tokens").createOrReplaceTempView("hll_in")
    val e = spark.sql(
      "SELECT graft_hll_estimate(graft_hll_tokens(tokens)) AS est FROM hll_in").head().getDouble(0)
    assert(math.abs(e - 997.0) < 60.0, s"HLL native reader estimate $e")

    val med = spark.sql(
      "SELECT graft_kll_quantile(graft_kll(CAST(size(tokens) AS DOUBLE)), 0.5) AS q," +
        "       graft_tdigest_quantile(graft_tdigest(CAST(size(tokens) AS DOUBLE)), 0.5) AS t FROM hll_in")
      .head()
    assert(med.getDouble(0) === 1.0)
    assert(math.abs(med.getDouble(1) - 1.0) < 1e-9)
  }

  test("graft_kll_rank / graft_tdigest_cdf agree with the core sketch objects") {
    import spark.implicits._
    GraftFunctions.register(spark)
    (1 to 10000).map(_.toDouble).toDF("x").createOrReplaceTempView("rank_in")
    val sk = spark.sql(
      "SELECT graft_kll(x) AS kll, graft_tdigest(x) AS td FROM rank_in").head()
    val kllBytes = sk.getAs[Array[Byte]](0)
    val tdBytes = sk.getAs[Array[Byte]](1)
    Seq((kllBytes, tdBytes)).toDF("kll", "td").createOrReplaceTempView("rank_sk")
    for (x <- Seq(100.0, 5000.0, 9999.0)) {
      val r = spark.sql(
        s"SELECT graft_kll_rank(kll, $x), graft_tdigest_cdf(td, $x) FROM rank_sk").head()
      assert(r.getLong(0) === graft.core.Kll.fromBytes(kllBytes).rank(x),
        s"kll rank($x) diverged from core")
      assert(r.getDouble(1) === graft.core.TDigest.fromBytes(tdBytes).cdf(x),
        s"tdigest cdf($x) diverged from core")
      // sanity: both track the true rank fraction
      assert(math.abs(r.getLong(0) / 10000.0 - x / 10000.0) < 0.03)
      assert(math.abs(r.getDouble(1) - x / 10000.0) < 0.03)
    }
  }

  test("graft_bloom_union preserves both sides' members; intersect error uses merge wording") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 12)
    def sk(tokens: Seq[Int], tag: Long = graft.core.BlockedBloom.TypeTag.Int): Array[Byte] = {
      val words = new Array[Long](cfg.l)
      tokens.foreach(t => graft.core.BlockedBloom.insertInt(words, cfg, t))
      graft.core.BlockedBloom.toBytes(words, cfg, tag)
    }
    val a = sk(1 to 100)
    val b = sk(1000 to 1100)
    Seq((a, b)).toDF("a", "b").createOrReplaceTempView("setop_t")
    val u = spark.sql("SELECT graft_bloom_union(a, b) AS u FROM setop_t").head().getAs[Array[Byte]](0)
    val (ucfg, uw, _) = graft.core.BlockedBloom.fromBytes(Keys.DefaultK0, Keys.DefaultK1, u)
    ((1 to 100) ++ (1000 to 1100)).foreach { t =>
      assert(graft.core.BlockedBloom.containsInt(uw, ucfg, t), s"union lost member $t")
    }
    // cross-type merge: message must speak of merging, not probing
    val strSk = {
      val words = new Array[Long](cfg.l)
      graft.core.BlockedBloom.insertString(words, cfg, "x")
      graft.core.BlockedBloom.toBytes(words, cfg, graft.core.BlockedBloom.TypeTag.String)
    }
    Seq((a, strSk)).toDF("a", "b").createOrReplaceTempView("setop_bad")
    val ex = intercept[Throwable] {
      spark.sql("SELECT graft_bloom_intersect(a, b) FROM setop_bad").collect()
    }
    val msg = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("cannot merge") && msg.contains("int-element") && msg.contains("string-element"),
      s"unexpected merge error wording: $msg")
  }

  test("graft_cosine_sim matches the exact formula and runs inside codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(42)
    val vecs = (0 until 64).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "emb")
    val pairs = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        graft.operators.Similarity.cosineCols(col("a.emb"), col("b.emb")).as("cos"))
    def exact(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) -1.0 else dot / math.sqrt(na * nb)
    }
    val byId = vecs.toMap
    pairs.collect().foreach { r =>
      val want = exact(byId(r.getLong(0)), byId(r.getLong(1)))
      assert(r.getDouble(2) === want, s"pair (${r.getLong(0)},${r.getLong(1)})")
    }
    assert(insideCodegen(pairs, "graft_cosine_sim"),
      s"graft_cosine_sim not inside WholeStageCodegen:\n${pairs.queryExecution.executedPlan}")
    // zero-norm semantics: -1.0, never NaN
    val z = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
      .select(graft.operators.Similarity.cosineCols(col("a"), col("b"))).head().getDouble(0)
    assert(z === -1.0)
  }

  test("graft_bloom_union/intersect across different filter sizes fold to the smaller") {
    import spark.implicits._
    GraftFunctions.register(spark)
    def sk(log2l: Int, tokens: Range): Array[Byte] = {
      val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, log2l)
      val words = new Array[Long](cfg.l)
      tokens.foreach(t => graft.core.BlockedBloom.insertInt(words, cfg, t))
      graft.core.BlockedBloom.toBytes(words, cfg, graft.core.BlockedBloom.TypeTag.Int)
    }
    // big (2^12 words) vs small (2^7 words): reference semantics fold the
    // larger down to the smaller; union keeps both sides' members
    Seq((sk(12, 200 to 600), sk(7, 400 to 800))).toDF("a", "b").createOrReplaceTempView("xsize_t")
    val u = spark.sql("SELECT graft_bloom_union(a, b) AS u FROM xsize_t").head().getAs[Array[Byte]](0)
    val (ucfg, uw, _) = graft.core.BlockedBloom.fromBytes(Keys.DefaultK0, Keys.DefaultK1, u)
    assert(ucfg.log2l === 7, "union must fold to the smaller filter")
    (200 to 800).foreach(t =>
      assert(graft.core.BlockedBloom.containsInt(uw, ucfg, t), s"cross-size union lost $t"))
    val i = spark.sql("SELECT graft_bloom_intersect(a, b) AS i FROM xsize_t").head().getAs[Array[Byte]](0)
    val (icfg, iw, _) = graft.core.BlockedBloom.fromBytes(Keys.DefaultK0, Keys.DefaultK1, i)
    assert(icfg.log2l === 7)
    (400 to 600).foreach(t =>
      assert(graft.core.BlockedBloom.containsInt(iw, icfg, t), s"intersect lost common element $t"))
  }

  test("null semantics: null sketch/argument yields null through every reader") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_hll_estimate(CAST(NULL AS BINARY)) AS a,
        |       graft_cms_estimate(CAST(NULL AS BINARY), 7) AS b,
        |       graft_cms_total(CAST(NULL AS BINARY)) AS c,
        |       graft_kll_quantile(CAST(NULL AS BINARY), 0.5) AS d,
        |       graft_tdigest_quantile(CAST(NULL AS BINARY), 0.5) AS e,
        |       graft_cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS f,
        |       graft_bloom_union(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) AS g""".stripMargin)
      .head()
    (0 until 7).foreach(i => assert(r.isNullAt(i), s"column $i must be null"))
    assert(spark.sql("SELECT graft_heavyhitter_summary(CAST(NULL AS BINARY))").head().isNullAt(0))
  }

  test("empty-payload convention: merge-agg empty output reads as NULL; unions skip it") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // every reader maps X'' (the serialized-merge empty-group output) to NULL
    val r = spark.sql(
      """SELECT graft_hll_estimate(X'') AS a, graft_cms_estimate(X'', 7) AS b,
        |       graft_cms_total(X'') AS c, graft_kll_quantile(X'', 0.5) AS d,
        |       graft_tdigest_quantile(X'', 0.5) AS e, graft_kll_rank(X'', 1.0) AS f,
        |       graft_tdigest_cdf(X'', 1.0) AS g, graft_kmv_estimate(X'') AS h,
        |       graft_kmv_jaccard(X'', X'') AS i, graft_kmv_difference(X'', X'') AS j,
        |       graft_heavyhitter_summary(X'') AS k, graft_sample_values(X'') AS l,
        |       graft_bloom_might_contain(X'', 7) AS m""".stripMargin).head()
    (0 until 13).foreach(i => assert(r.isNullAt(i), s"column $i must be NULL on empty payload"))
    // ...including through codegen on a non-local plan
    val viaCg = Seq(Array.emptyByteArray, Array.emptyByteArray).toDF("sk").repartition(2)
      .select(expr("graft_kmv_estimate(sk)")).collect()
    assert(viaCg.forall(_.isNullAt(0)))
    // the full chain: merge over an empty group -> estimate -> NULL, not a throw
    Seq(1L).toDF("x").createOrReplaceTempView("ep_in")
    // GROUP BY in the inner so the filtered-out input yields ZERO rows (an
    // UNGROUPED inner agg would emit one row holding a VALID empty sketch,
    // which correctly estimates 0.0, not NULL)
    val chained = spark.sql(
      """SELECT graft_kmv_estimate(graft_kmv_merge(sk)) AS est FROM
        |(SELECT graft_kmv_long(x) AS sk FROM ep_in WHERE x < 0 GROUP BY x)""".stripMargin).head()
    assert(chained.isNullAt(0))
    // unions SKIP the empty side (the merge aggregators' convention)
    val kmvBytes = spark.sql("SELECT graft_kmv_long(x) FROM ep_in").head().getAs[Array[Byte]](0)
    val u = Seq((kmvBytes, Array.emptyByteArray)).toDF("a", "b")
      .select(expr("graft_kmv_estimate(graft_kmv_union(a, b))"),
        expr("graft_kmv_estimate(graft_kmv_union(b, a))")).head()
    assert(u.getDouble(0) === 1.0 && u.getDouble(1) === 1.0)
    val bloomBytes = spark.sql("SELECT graft_bloom_tokens(array(7)) FROM ep_in")
      .head().getAs[Array[Byte]](0)
    val bu = Seq((bloomBytes, Array.emptyByteArray)).toDF("a", "b")
      .select(expr("graft_bloom_might_contain(graft_bloom_union(a, b), 7)"),
        expr("graft_bloom_might_contain(graft_bloom_intersect(a, b), 7)")).head()
    assert(bu.getBoolean(0) === true, "union with empty payload must keep the real side")
    assert(bu.isNullAt(1), "intersect with empty payload must read as NULL")
  }

  test("graft_srp_bands: bit-identical to the SrpChunker UDF, codegen, analysis-time checks") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    val vecs = (0 until 200).map(i => (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "emb").repartition(3)
    val udfBand = udf(new graft.operators.ReferenceTwins.SrpChunker(64, 8, 8))
    val both = df.select(col("id"),
      udfBand(col("emb")).as("u"),
      graft.plans.VectorFunctions.srpBands(col("emb"), 64, 8).as("n"))
    both.collect().foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"band mismatch for id ${r.getLong(0)}")
    }
    // also bit-identical to the local reference bits
    val planes = graft.operators.Similarity.planeMatrix(64, 64)
    val byId = vecs.toMap
    both.collect().take(20).foreach { r =>
      val bits = graft.operators.Similarity.srpBitsWith(byId(r.getLong(0)), planes)
      val expect = (0 until 8).map(c => ((bits >>> (c * 8)) & 0xff).toInt)
      assert(r.getSeq[Int](2) === expect)
    }
    // participates in whole-stage codegen
    val dfCg = df.select(
      graft.plans.VectorFunctions.srpBands(col("emb"), 64, 8).getItem(0).as("k"))
    dfCg.collect()
    assert(insideCodegen(dfCg, "graft_srp_bands"),
      s"srp banding must fuse into WholeStageCodegen:\n${dfCg.queryExecution.executedPlan}")
    // non-array embedding and non-literal band parameters fail at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_srp_bands(42, 64, 8)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT graft_srp_bands(array(CAST(1.0 AS FLOAT)), id, 8) FROM range(1)").collect()
    }
  }

  test("weighted-sample readers: values in-universe, version enforced, empty merge reads NULL") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1L to 200L).map(i => (i, i % 9 + 1, s"d$i")).toDF("id", "w", "sid")
    df.createOrReplaceTempView("wdocs")
    val row = spark.sql(
      """SELECT graft_sample_weighted_values(graft_sample_weighted(id, w)) AS vals,
        |       graft_sample_weighted_strings(graft_sample_weighted_str(sid, w)) AS svals
        |FROM wdocs""".stripMargin).head()
    val vals = row.getSeq[Long](0)
    assert(vals.nonEmpty && vals.size <= 64 && vals.forall(v => v >= 1L && v <= 200L))
    val svals = row.getSeq[String](1)
    assert(svals.nonEmpty && svals.size <= 64 && svals.forall(_.startsWith("d")))
    // a weighted payload must not read through the UNIFORM reader (and
    // vice versa): the version check surfaces as a query failure
    intercept[Exception] {
      spark.sql("SELECT graft_sample_values(graft_sample_weighted(id, w)) FROM wdocs").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT graft_sample_weighted_values(graft_sample_bottomk(id)) FROM wdocs").collect()
    }
    // serialized merge over an EMPTY group -> empty payload -> SQL NULL
    val empty = spark.sql(
      """SELECT graft_sample_weighted_values(graft_sample_weighted_merge(p)) AS v
        |FROM (SELECT CAST(NULL AS BINARY) AS p FROM wdocs WHERE id < 0)""".stripMargin).head()
    assert(empty.isNullAt(0))
  }

  test("graft_ivf_assign: identical to the UDF assignment on ragged/zero/plain vectors, codegen") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val centroids = Array.fill(16)(Array.fill(64)(rng.nextFloat() * 2 - 1))
    // plain vectors + ragged (shorter/longer than centroids) + all-zero
    // (the -1-cosine convention must tie-break to centroid 0 identically)
    val vecs = (0 until 300).map { i =>
      val len = i % 4 match {
        case 0 => 64
        case 1 => 17
        case 2 => 80
        case _ => 64
      }
      val a = if (i % 11 == 0) new Array[Float](len)
              else Array.fill(len)(rng.nextFloat() * 2 - 1)
      (i.toLong, a)
    }
    val df = vecs.toDF("id", "emb").repartition(3)
    val assignUdf = udf(new graft.operators.Similarity.NearestClusterFn(centroids))
    val both = df.select(col("id"),
      assignUdf(col("emb")).as("u"),
      graft.plans.VectorFunctions.ivfAssign(col("emb"), centroids).as("n"))
    both.collect().foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"assignment mismatch for id ${r.getLong(0)}")
    }
    // participates in whole-stage codegen
    val dfCg = df.select(
      graft.plans.VectorFunctions.ivfAssign(col("emb"), centroids).as("c"))
    dfCg.collect()
    assert(insideCodegen(dfCg, "graft_ivf_assign"),
      s"ivf assignment must fuse into WholeStageCodegen:\n${dfCg.queryExecution.executedPlan}")
    // non-array input fails at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.plans.VectorFunctions.ivfAssign(col("id"), centroids)).collect()
    }
  }

  test("graft_heavyhitter_summary: one native struct read, codegen, analysis-time type check") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val s = new graft.core.FrequentItems.Summary(8)
    (0 until 100).foreach(i => s.add((i % 5).toLong))
    val bytes = graft.core.FrequentItems.toBytes(s)
    // struct contents match the core decode
    val got = Seq(bytes).toDF("sk")
      .select(expr("graft_heavyhitter_summary(sk)").as("s"))
      .select(col("s.error"), col("s.total"), col("s.topk"))
      .head()
    assert(got.getLong(0) === s.decremented && got.getLong(1) === 100L)
    assert(got.getSeq[org.apache.spark.sql.Row](2).map(e => (e.getLong(0), e.getLong(1)))
      === s.topK(s.capacity))
    // participates in whole-stage codegen (repartition keeps the optimizer
    // from folding the whole local relation on the driver)
    val dfCg = Seq(bytes, bytes).toDF("sk").repartition(2)
      .select(expr("graft_heavyhitter_summary(sk).total").as("n"))
    assert(dfCg.collect().map(_.getLong(0)).toSeq === Seq(100L, 100L))
    assert(insideCodegen(dfCg, "graft_heavyhitter_summary"),
      s"summary reader must fuse into WholeStageCodegen:\n${dfCg.queryExecution.executedPlan}")
    // non-binary argument is an analysis-time failure
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_heavyhitter_summary(42)").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("binary"), s"unexpected: ${ex.getMessage}")
  }

  test("cross-type foldable probe: rejected at ANALYSIS, codegen path never throws") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 12)
    val words = new Array[Long](cfg.l)
    graft.core.BlockedBloom.insertInt(words, cfg, 7)
    val skInt = graft.core.BlockedBloom.toBytes(words, cfg, graft.core.BlockedBloom.TypeTag.Int)
    // 1) the user-visible failure is an analysis error (not a runtime throw
    //    after a codegen-fallback WARN)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      (1L to 3L).toDF("x")
        .where(GraftFunctions.bloomMightContain(lit(skInt), col("x")))
        .collect()
    }
    assert(ex.getMessage.contains("probed/loaded as bigint"), s"unexpected: ${ex.getMessage}")
    // 2) even when constructed directly, doGenCode on the mismatched
    //    expression must not throw (a throwing doGenCode is what Spark
    //    swallows into the interpreted-fallback WARN)
    val expr = SketchRead(SketchKinds.BloomProbe(), Seq(Literal(skInt, BinaryType), Literal(9L, LongType)))
    assert(expr.checkInputDataTypes().isFailure)
    val ctx = new CodegenContext
    expr.genCode(ctx) // must not throw
  }

  test("a corrupt literal sketch fails at ANALYSIS for every reader, not only the Bloom probes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // spark.sql analyzes eagerly: the failure comes before any job runs
    val hll = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_hll_estimate(X'0000000000000000000000000000000000')"))
    assert(hll.getMessage.contains("graft_hll_estimate"), s"unexpected: ${hll.getMessage}")
    val kll = intercept[org.apache.spark.sql.AnalysisException](
      Seq(0.5).toDF("q").select(SketchKinds.KllQuantile.column(lit(Array[Byte](1, 2, 3)), col("q"))))
    assert(kll.getMessage.contains("graft_kll_quantile"), s"unexpected: ${kll.getMessage}")
    // a valid literal is decoded once and read on every row, in codegen
    val sk = spark.range(0, 1000).agg(NativeAggs.column(SketchKinds.HllKind(Keys.DefaultK0, Keys.DefaultK1, 12),
      col("id"))).head().getAs[Array[Byte]](0)
    val df = spark.range(0, 4, 1, 2).select(SketchKinds.HllEstimate.column(lit(sk)).as("e"))
    assert(df.collect().map(_.getDouble(0)).distinct.length === 1)
    assert(insideCodegen(df, "graft_hll_estimate"), df.queryExecution.executedPlan.toString)
  }
}
