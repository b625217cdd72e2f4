package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ExprId}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.{ScalarSubquery, SubqueryExec}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomConfig, Keys}
import graft.operators.SketchAggs.BloomTokensAgg

/** Native Catalyst bloom-probe expression: codegen (foldable sketch) and
  * non-foldable column paths, SQL surface, null handling, plan shape. */
class BloomMightContainSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-expr-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 12)

  def buildSketch(tokens: Seq[Int]): Array[Byte] = {
    val words = new Array[Long](cfg.l)
    tokens.foreach(t => graft.core.BlockedBloom.insertInt(words, cfg, t))
    graft.core.BlockedBloom.toBytes(words, cfg, graft.core.BlockedBloom.TypeTag.Int)
  }

  test("foldable-sketch path: literal sketch probed under codegen, no false negatives") {
    GraftFunctions.register(spark)
    val inserted = (1 to 5000).map(_ * 2)
    val sketch = buildSketch(inserted)
    // spark.range (not a local collection) so the probe runs in a real
    // physical plan instead of being constant-folded into LocalTableScan
    val df = spark.range(1, 5001)
      .select((col("id") * 2).cast("int").as("token"))
      .withColumn("hit", GraftFunctions.bloomMightContain(lit(sketch), col("token")))
    assert(df.where(!col("hit")).count() === 0L, "false negative through the native expression")
    // plan must stay inside whole-stage codegen (the point of the expression)
    val hasCodegenStage = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage, s"expected a WholeStageCodegenExec stage in:\n${df.queryExecution.executedPlan}")
  }

  test("foldable path FPR sane on anti-set") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val sketch = buildSketch((1 to 5000).map(_ * 2))
    val anti = (1 to 10000).map(_ * 2 + 1)
    val fp = anti.toDF("token")
      .where(GraftFunctions.bloomMightContain(lit(sketch), col("token"))).count()
    assert(fp.toDouble / anti.size < 0.02, s"FPR too high: $fp/${anti.size}")
  }

  test("non-foldable sketch column (per-group sketches joined onto rows)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (0 until 2000).map(i => (s"src${i % 3}", Array(i, i + 10000), 2)).toDF("source", "tokens", "n_tok")
    val bloomU = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    val sketches = df.groupBy($"source").agg(bloomU($"tokens").as("sketch"))
    val missing = df.select($"source", explode($"tokens").as("token"))
      .join(broadcast(sketches), "source")
      .where(!GraftFunctions.bloomMightContain($"sketch", $"token"))
      .count()
    assert(missing === 0L)
  }

  test("SQL surface and null semantics") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val sketch = buildSketch(Seq(7, 8, 9))
    Seq(Some(7), Some(1000), None).toDF("token").createOrReplaceTempView("probe_t")
    spark.udf // force session init
    val rows = spark.sql(
      "SELECT token, graft_bloom_might_contain(" +
        s"X'${sketch.map("%02x".format(_)).mkString}', token) AS hit FROM probe_t ORDER BY token")
      .collect()
    // null token -> null result
    val byToken = rows.map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) ->
      (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    assert(byToken(Some(7)) === Some(true))
    assert(byToken(None) === None, "null element must yield null, not false")
  }

  test("pure-SQL end-to-end: build sketches and query them without any Scala API") {
    import spark.implicits._
    GraftFunctions.register(spark)
    (0 until 1000).map(i => (s"src${i % 2}", Array(i, i + 5000)))
      .toDF("source", "tokens").createOrReplaceTempView("sql_tokens")
    val rows = spark.sql(
      """SELECT source,
        |       graft_hll_estimate(graft_hll_tokens(tokens)) AS est,
        |       graft_bloom_tokens(tokens) AS sk
        |FROM sql_tokens GROUP BY source""".stripMargin).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1000.0) < 60.0, s"SQL HLL estimate ${r.getDouble(1)}")
      assert(r.getAs[Array[Byte]](2).nonEmpty)
    }
    // probe the SQL-built sketch through SQL
    spark.sql("SELECT source, graft_bloom_tokens(tokens) AS sk FROM sql_tokens GROUP BY source")
      .createOrReplaceTempView("sql_sketches")
    val missing = spark.sql(
      """SELECT count(*) FROM (SELECT t.source, explode(t.tokens) AS tok, s.sk
        |FROM sql_tokens t JOIN sql_sketches s ON t.source = s.source) x
        |WHERE NOT graft_bloom_might_contain(sk, tok)""".stripMargin).head().getLong(0)
    assert(missing === 0L, "false negative through the pure-SQL path")
    // quantiles through SQL
    val med = spark.sql(
      "SELECT graft_kll_quantile(graft_kll(CAST(size(tokens) AS DOUBLE)), 0.5) FROM sql_tokens")
      .head().getDouble(0)
    assert(med === 2.0)
    // set ops through SQL: graft_bloom_intersect is registered and
    // intersect(x, x) preserves membership (token 42 is in src0's evens)
    val inter = spark.sql(
      """SELECT graft_bloom_might_contain(
        |  graft_bloom_intersect(a.sk, b.sk), 42) AS hit
        |FROM sql_sketches a JOIN sql_sketches b ON a.source = b.source
        |WHERE a.source = 'src0'""".stripMargin).head().getBoolean(0)
    assert(inter, "intersect(x, x) must preserve x's members (42 = 2*21 is in src0)")
  }

  test("graft_sip_hash64 expression agrees with the core SipHash") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rows = spark.range(1, 100)
      .select(col("id").cast("int").as("x"))
      .withColumn("h", GraftFunctions.sipHash64(col("x")))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) === graft.core.SipHash.hashInt(Keys.DefaultK0, Keys.DefaultK1, r.getInt(0)))
    }
    // string + SQL path with explicit key
    Seq("alpha").toDF("s").createOrReplaceTempView("sip_t")
    val h = spark.sql("SELECT graft_sip_hash64(s, 7L, 9L) FROM sip_t").head().getLong(0)
    assert(h === graft.core.SipHash.hashString(7L, 9L, "alpha"))
  }

  test("cross-type probe is rejected loudly (serialized type tag enforced)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    def chainMsg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    // Int-built filter probed with a Long column: silently-garbage
    // membership in round 1 (ADVICE), must now throw on load.
    val skInt = buildSketch(Seq(1, 2, 3))
    val exFold = intercept[Throwable] {
      (1L to 3L).toDF("x")
        .where(GraftFunctions.bloomMightContain(lit(skInt), col("x"))).count()
    }
    assert(chainMsg(exFold).contains("probed/loaded as bigint"), s"unexpected: ${chainMsg(exFold)}")

    // non-foldable sketch column path enforces too
    val exCol = intercept[Throwable] {
      Seq((skInt, "seven")).toDF("sk", "s")
        .where(GraftFunctions.bloomMightContain(col("sk"), col("s"))).count()
    }
    assert(chainMsg(exCol).contains("probed/loaded as string"), s"unexpected: ${chainMsg(exCol)}")

    // matching type still probes fine after the guard
    val ok = Seq(1, 2, 3).toDF("t")
      .where(GraftFunctions.bloomMightContain(lit(skInt), col("t"))).count()
    assert(ok === 3L)
  }

  test("long and string element types") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val wordsL = new Array[Long](cfg.l)
    (1L to 100L).foreach(x => graft.core.BlockedBloom.insertLong(wordsL, cfg, x))
    val skL = graft.core.BlockedBloom.toBytes(wordsL, cfg, graft.core.BlockedBloom.TypeTag.Long)
    val hitsL = (1L to 100L).toDF("x")
      .where(GraftFunctions.bloomMightContain(lit(skL), col("x"))).count()
    assert(hitsL === 100L)

    val wordsS = new Array[Long](cfg.l)
    val strs = Seq("alpha", "beta", "gamma", "héllo")
    strs.foreach(s => graft.core.BlockedBloom.insertString(wordsS, cfg, s))
    val skS = graft.core.BlockedBloom.toBytes(wordsS, cfg, graft.core.BlockedBloom.TypeTag.String)
    val hitsS = strs.toDF("s")
      .where(GraftFunctions.bloomMightContain(lit(skS), col("s"))).count()
    assert(hitsS === strs.size.toLong,
      "UTF8String probe must agree with the String insert encoding")
  }

  test("a subquery sketch is decoded once per expression instance, never through ReaderCache") {
    val bytes = buildSketch(1 to 1000)
    val sub = new ScalarSubquery(SubqueryExec("sketch",
      spark.createDataFrame(Seq(Tuple1(bytes))).toDF("s").queryExecution.executedPlan, None), ExprId(0))
    sub.updateResult()
    val value = sub.eval(null).asInstanceOf[AnyRef]
    def probe() = SketchRead(CountingProbe, Seq(sub, BoundReference(0, IntegerType, nullable = false)))
    CountingProbe.inputs.clear()
    val interpreted = probe()
    val generated = GenerateUnsafeProjection.generate(Seq(probe()))
    val rows = (1 to 3000).map(i => InternalRow(i))
    val hits = rows.map(r => interpreted.eval(r).asInstanceOf[Boolean])
    assert(rows.map(r => generated(r).getBoolean(0)) === hits, "codegen and interpreted differ")
    assert(hits.take(1000).forall(identity), "no false negatives")
    // one decode per instance, of the subquery's own value: ReaderCache
    // decodes a private copy
    assert(CountingProbe.inputs.size === 2)
    assert(CountingProbe.inputs.asScala.forall(_ eq value))
    // in a query: at most one decode per task and one for code generation
    CountingProbe.inputs.clear()
    val sketch = spark.createDataFrame(Seq(Tuple1(bytes))).toDF("s").select(col("s")).scalar()
    val present = spark.range(0, 20000, 1, 4)
      .where(SketchRead.column(CountingProbe, Seq(sketch, col("id").cast("int")))).count()
    assert(present >= 1000L)
    assert(CountingProbe.inputs.size <= 5, s"${CountingProbe.inputs.size} decodes")
  }

  test("a corrupt subquery payload fails the query with the decoder's IAE, codegen and interpreted") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val bad = buildSketch(1 to 10)
    bad(bad.length - 64 + 7) = 99 // the serial version word
    val expected = intercept[IllegalArgumentException](
      LoadedBloomFilter.loadTyped(Keys.DefaultK0, Keys.DefaultK1, bad, graft.core.BlockedBloom.TypeTag.Int))
    Seq(Tuple1(bad)).toDF("s").createOrReplaceTempView("bad_sketch")
    val modes = Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    modes.foreach { conf =>
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val e = intercept[Exception](spark.sql(
          "SELECT count(*) FROM range(0, 100, 1, 2) " +
            "WHERE graft_bloom_might_contain((SELECT s FROM bad_sketch), CAST(id AS INT))").collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage == expected.getMessage),
          s"${conf.head}: expected the decoder's IAE in ${chain.map(_.toString.take(200)).mkString(" <- ")}")
      } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}

/** A Bloom probe over int elements that records every payload it decodes. */
object CountingProbe extends graft.operators.SketchReader[LoadedBloomFilter]("counting_probe", BooleanType) {
  val inputs = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
  override def values: Seq[Seq[DataType]] = Seq(Seq(IntegerType))
  def decode(x: Array[Byte]): LoadedBloomFilter = {
    inputs.add(x)
    LoadedBloomFilter.load(Keys.DefaultK0, Keys.DefaultK1, x)
  }
  def read(f: LoadedBloomFilter, b: LoadedBloomFilter, v: Any, w: Any): Any = f.containsInt(v.asInstanceOf[Int])
  override def readCode: Option[(String, Seq[String]) => String] =
    Some((f, vs) => s"java.lang.Boolean.valueOf($f.containsInt(${vs.head}))")
}
