package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BlockedBloom, BloomConfig, Keys}

/** The `spark.sql.extensions=graft.plans.GraftExtensions` injection path:
  * a session built with the extensions (no GraftFunctions.register call)
  * must resolve the native expressions from pure SQL — the deployment mode
  * a cluster operator uses (`--conf spark.sql.extensions=...`). */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("injected functions resolve from SQL without manual registration") {
    val h = spark.sql("SELECT graft_sip_hash64('alpha')").head().getLong(0)
    assert(h === graft.core.SipHash.hashString(Keys.DefaultK0, Keys.DefaultK1, "alpha"))

    val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 8)
    val words = new Array[Long](cfg.l)
    Seq(7, 8, 9).foreach(BlockedBloom.insertInt(words, cfg, _))
    val sketch = BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int)
    val hex = sketch.map("%02x".format(_)).mkString
    val hit = spark.sql(s"SELECT graft_bloom_might_contain(X'$hex', 7)").head().getBoolean(0)
    assert(hit, "injected graft_bloom_might_contain must probe correctly")
    val miss = spark.sql(s"SELECT graft_bloom_might_contain(X'$hex', 1000000)").head().getBoolean(0)
    assert(!miss || BlockedBloom.containsInt(words, cfg, 1000000))
  }

  test("graft_double_bits: injected, bit-exact, order-preserving, type-checked") {
    val b = spark.sql("SELECT graft_double_bits(CAST(1.5 AS DOUBLE))").head().getLong(0)
    assert(b === java.lang.Double.doubleToLongBits(1.5))
    // non-negative doubles order like their bits — the property the
    // weighted mixture scan's shard key relies on
    val rows = spark.sql(
      "SELECT graft_double_bits(CAST(x AS DOUBLE)) FROM VALUES (0.0), (1e-300), (0.5), (1.0), (2.0), (1e300) t(x)")
      .collect().map(_.getLong(0))
    assert(rows.sameElements(rows.sorted))
    assert(rows.forall(_ >= 0L))
    // analysis-time type rejection, not runtime garbage
    val e = intercept[Exception](spark.sql("SELECT graft_double_bits('nope')").collect())
    assert(e.getMessage.contains("not supported") || e.getMessage.contains("DATATYPE"))
  }

  test("round-3 injected functions: set ops, readers, cosine resolve from pure SQL") {
    val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 8)
    val words = new Array[Long](cfg.l)
    Seq(7, 8, 9).foreach(BlockedBloom.insertInt(words, cfg, _))
    val hex = BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int).map("%02x".format(_)).mkString
    val u = spark.sql(
      s"SELECT graft_bloom_might_contain(graft_bloom_union(X'$hex', X'$hex'), 8)").head().getBoolean(0)
    assert(u, "injected graft_bloom_union must preserve members")
    val i = spark.sql(
      s"SELECT graft_bloom_might_contain(graft_bloom_intersect(X'$hex', X'$hex'), 9)").head().getBoolean(0)
    assert(i, "injected graft_bloom_intersect must preserve common members")

    val hllBytes = {
      val regs = graft.core.Hll.empty(10)
      (1 to 1000).foreach(x => graft.core.Hll.addHash(regs, 10,
        graft.core.SipHash.hashInt(Keys.DefaultK0, Keys.DefaultK1, x)))
      graft.core.Hll.toBytes(regs, 10, BlockedBloom.TypeTag.Int,
        graft.core.SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, Keys.DefaultK0 ^ Keys.DefaultK1))
    }
    val hexHll = hllBytes.map("%02x".format(_)).mkString
    val est = spark.sql(s"SELECT graft_hll_estimate(X'$hexHll')").head().getDouble(0)
    assert(math.abs(est - 1000.0) < 100.0, s"injected graft_hll_estimate: $est")

    val cos = spark.sql(
      "SELECT graft_cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("injected KMV readers resolve from pure SQL; cross-key pair rejected") {
    import graft.core.{Kmv, SipHash}
    val keyHash = SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, Keys.DefaultK0 ^ Keys.DefaultK1)
    def sketchHex(elems: Range): String = {
      val h = Kmv.emptyHashes(64)
      var s = 0
      elems.foreach(e => s = Kmv.add(h, s, SipHash.hashInt(Keys.DefaultK0, Keys.DefaultK1, e)))
      Kmv.toBytes(h, s, BlockedBloom.TypeTag.Int, keyHash).map("%02x".format(_)).mkString
    }
    val a = sketchHex(1 to 30)
    val b = sketchHex(21 to 50)
    val row = spark.sql(
      s"SELECT graft_kmv_estimate(X'$a'), graft_kmv_jaccard(X'$a', X'$b'), " +
        s"graft_kmv_intersect(X'$a', X'$b'), " +
        s"graft_kmv_estimate(graft_kmv_union(X'$a', X'$b'))").head()
    assert(row.getDouble(0) === 30.0) // below saturation: exact
    assert(math.abs(row.getDouble(1) - 10.0 / 50.0) < 1e-12)
    assert(row.getDouble(2) === 10.0)
    assert(row.getDouble(3) === 50.0) // union also below saturation: exact
    // a sketch serialized under a different key must be rejected by the pair op
    val otherKeyHash = keyHash + 1
    val c = {
      val h = Kmv.emptyHashes(64)
      var s = 0
      (1 to 30).foreach(e => s = Kmv.add(h, s, SipHash.hashInt(Keys.DefaultK0, Keys.DefaultK1, e)))
      Kmv.toBytes(h, s, BlockedBloom.TypeTag.Int, otherKeyHash).map("%02x".format(_)).mkString
    }
    val err = intercept[Exception](
      spark.sql(s"SELECT graft_kmv_jaccard(X'$a', X'$c')").head())
    assert(err.getMessage.contains("different SipHash keys") ||
      Option(err.getCause).exists(_.getMessage.contains("different SipHash keys")))
  }

  test("an extensions-only session resolves and runs every graft_* aggregate") {
    spark.sql(
      """SELECT * FROM VALUES
        |  ('a', array(1, 2, 3), 5L, 2.5D, 2L, 'doc-1'),
        |  ('a', array(3, 4), 7L, 4.0D, 1L, 'doc-2'),
        |  ('b', CAST(NULL AS ARRAY<INT>), 5L, 1.0D, 3L, CAST(NULL AS STRING))
        |  AS t(g, tokens, v, x, w, s)""".stripMargin).createOrReplaceTempView("ext_in")
    val builds = Map(
      "graft_bloom_tokens(tokens)" -> "graft_bloom_merge", "graft_hll_tokens(tokens)" -> "graft_hll_merge",
      "graft_cms_tokens(tokens)" -> "graft_cms_merge", "graft_kmv_tokens(tokens)" -> "graft_kmv_merge",
      "graft_kll(x)" -> "graft_kll_merge", "graft_tdigest(x)" -> "graft_tdigest_merge",
      "graft_heavyhitter(v)" -> "graft_heavyhitter_merge",
      "graft_sample_bottomk(v)" -> "graft_sample_merge",
      "graft_sample_bottomk_str(s)" -> "graft_sample_str_merge",
      "graft_sample_weighted(v, w)" -> "graft_sample_weighted_merge",
      "graft_sample_weighted_str(s, w)" -> "graft_sample_weighted_str_merge")
    val others = Seq("graft_bloom_tokens_newcount(tokens)", "graft_bloom_tokens_native(tokens)",
      "graft_fused_tokens_native(tokens)", "graft_kmv_long(v)", "graft_heavyhitter_weighted(v, w)")
    val names = (builds.keys ++ builds.values.map(_.takeWhile(_ != '(')) ++ others)
      .map(_.takeWhile(_ != '(')).toSet
    assert(names.size === 27)
    for ((build, merge) <- builds) {
      val rows = spark.sql(
        s"SELECT $merge(sk) FROM (SELECT g, $build AS sk FROM ext_in GROUP BY g)").collect()
      assert(rows.length === 1 && rows.head.getAs[Array[Byte]](0).nonEmpty, s"$merge over $build")
    }
    for (agg <- others) {
      val rows = spark.sql(s"SELECT g, $agg FROM ext_in GROUP BY g").collect()
      assert(rows.length === 2 && !rows.exists(_.isNullAt(1)), agg)
    }
  }

  test("an extensions-only session resolves and runs every graft_* scalar function") {
    val (k0, k1) = (s"${Keys.DefaultK0}L", s"${Keys.DefaultK1}L")
    spark.sql(
      """SELECT * FROM VALUES
        |  ('a', array(1, 2, 3), 5L, 2.5D, 2L, 'doc-1'),
        |  ('a', array(3, 4), 7L, 4.0D, 1L, 'doc-2'),
        |  ('b', array(9), 5L, 1.0D, 3L, 'doc-3')
        |  AS t(g, tokens, v, x, w, s)""".stripMargin).createOrReplaceTempView("ext_scalar_in")
    spark.sql(
      """SELECT g, graft_bloom_tokens(tokens) AS bloom, graft_hll_tokens(tokens) AS hll,
        |  graft_cms_tokens(tokens) AS cms, graft_kmv_tokens(tokens) AS kmv, graft_kll(x) AS kll,
        |  graft_tdigest(x) AS td, graft_heavyhitter(v) AS hh, graft_sample_bottomk(v) AS samp,
        |  graft_sample_bottomk_str(s) AS samp_str, graft_sample_weighted(v, w) AS sampw,
        |  graft_sample_weighted_str(s, w) AS sampw_str,
        |  array(CAST(max(x) AS FLOAT), CAST(max(v) AS FLOAT)) AS emb
        |FROM ext_scalar_in GROUP BY g""".stripMargin).createOrReplaceTempView("ext_sk")
    // a keyed pack holding group a's filter only
    val pack = BloomFilterPack.encode(Seq(
      "a" -> spark.sql("SELECT bloom FROM ext_sk WHERE g = 'a'").head().getAs[Array[Byte]](0)))
    val calls = Map(
      "graft_bloom_might_contain" -> "graft_bloom_might_contain(bloom, 3)",
      "graft_bloom_might_contain_keyed" ->
        s"graft_bloom_might_contain_keyed(X'${pack.map("%02x".format(_)).mkString}', g, 3)",
      "graft_sip_hash64" -> s"graft_sip_hash64(g, $k0, $k1)",
      "graft_double_bits" -> "graft_double_bits(CAST(1.5 AS DOUBLE))",
      "graft_cosine_sim" -> "graft_cosine_sim(emb, emb)",
      "graft_srp_bands" -> "graft_srp_bands(emb, 8, 2)",
      "graft_hll_estimate" -> "graft_hll_estimate(hll)",
      "graft_cms_estimate" -> s"graft_cms_estimate(cms, 3, $k0, $k1)",
      "graft_cms_total" -> "graft_cms_total(cms)",
      "graft_kll_quantile" -> "graft_kll_quantile(kll, 0.5)",
      "graft_kll_rank" -> "graft_kll_rank(kll, 3)",
      "graft_tdigest_quantile" -> "graft_tdigest_quantile(td, 0.5)",
      "graft_tdigest_cdf" -> "graft_tdigest_cdf(td, 3)",
      "graft_kmv_estimate" -> "graft_kmv_estimate(kmv)",
      "graft_kmv_jaccard" -> "graft_kmv_jaccard(kmv, kmv)",
      "graft_kmv_intersect" -> "graft_kmv_intersect(kmv, kmv)",
      "graft_kmv_difference" -> "graft_kmv_difference(kmv, kmv)",
      "graft_kmv_union" -> "graft_kmv_union(kmv, kmv)",
      "graft_heavyhitter_summary" -> "graft_heavyhitter_summary(hh)",
      "graft_sample_values" -> "graft_sample_values(samp)",
      "graft_sample_strings" -> "graft_sample_strings(samp_str)",
      "graft_sample_weighted_values" -> "graft_sample_weighted_values(sampw)",
      "graft_sample_weighted_strings" -> "graft_sample_weighted_strings(sampw_str)",
      "graft_bloom_union" -> "graft_bloom_union(bloom, bloom)",
      "graft_bloom_intersect" -> s"graft_bloom_intersect(bloom, bloom, $k0, $k1)")
    val aggregates = NativeAggs.sqlAggregates.map(_._1).toSet
    val scalars = GraftFunctions.nativeExpressions.map(_._1).filterNot(aggregates).toSet
    assert(calls.keySet === scalars, "every registered scalar function needs a call here")
    for ((name, call) <- calls) {
      val rows = spark.sql(s"SELECT g, $call FROM ext_sk ORDER BY g").collect()
      // a group missing from the keyed pack probes as NULL
      val nullGroups = if (name == "graft_bloom_might_contain_keyed") Seq("b") else Nil
      assert(rows.map(_.getString(0)).toSeq === Seq("a", "b") &&
        rows.filter(_.isNullAt(1)).map(_.getString(0)).toSeq === nullGroups, s"$name: ${rows.mkString(", ")}")
    }
  }
}
