package graft.plans

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BlockedBloom, BloomConfig, CmsConfig, CountMin, Keys}
import graft.operators.SketchKinds.{Bloom, Cms, KmvKind}

/** Pins the output of every `graft_*` SQL read function over serialized
  * sketches: the 17 estimate / pairwise / sample readers, the two Bloom
  * set functions and the two Bloom probes.
  *
  * The sketches are built per group from a one-partition fixture (one
  * partial per group, so the bytes do not depend on merge order), then
  * read from a 4-partition table that also holds a group `gempty` whose
  * every payload is `X''` (what a merge over no rows returns) and a group
  * `gnull` whose every payload is NULL. Each call covers both key forms
  * where a function takes keys (`k0, k1` as INT and BIGINT literals, over
  * sketches built under the default and under a non-default key), the
  * numeric -> DOUBLE fold of the value argument (INT, BIGINT, DECIMAL and
  * NULL values), and KMV sketches of mixed capacity (256 and 64). The
  * Bloom probes run over sketch columns and over literal sketches (bound
  * as named parameters `:name`, so the call list stays short): int, bigint
  * and string elements, a NULL element, an `X''` payload, 64- and 128-bit
  * hash configs and explicit keys; the keyed probe's pack has a group
  * whose entry is empty, lacks others, and meets a NULL key.
  *
  * Each call runs twice, in whole-stage codegen (no fallback) and
  * interpreted; both must agree. The SHA-256 of the ordered rows (with the
  * column names, types and nullability) is compared with
  * `src/test/resources/sql_readers.sha256`, generated on the commit before
  * the readers moved to one generic expression; a differing digest is a
  * behaviour change, not a file to regenerate. The digests of the current
  * run are written to `target/sql_readers.sha256.actual`.
  */
class SqlReaderBytesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sql-reader-bytes")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val (k0, k1) = (s"${Keys.DefaultK0}L", s"${Keys.DefaultK1}L")

  /** Calls over one sketch row `a` and one value row `v` (`t INT`,
    * `s STRING`, `q DOUBLE`, `x DOUBLE`, some of them NULL). */
  private val single: Seq[String] = Seq(
    "graft_hll_estimate(a.hll)",
    "graft_cms_estimate(a.cms, v.t)",
    s"graft_cms_estimate(a.cms, v.t, $k0, $k1)",
    "graft_cms_estimate(a.cms_str, v.s)",
    "graft_cms_estimate(a.cms_k, v.t, 1, 2)",
    "graft_cms_estimate(a.cms_k, v.t, 1L, 2L)",
    "graft_cms_total(a.cms)",
    s"graft_cms_total(a.cms, $k0, $k1)",
    "graft_cms_total(a.cms_str)",
    "graft_cms_total(a.cms_k, 1, 2)",
    "graft_kll_quantile(a.kll, v.q)",
    "graft_kll_quantile(a.kll, 0.5)",
    "graft_kll_quantile(a.kll, 1)",
    "graft_tdigest_quantile(a.td, v.q)",
    "graft_tdigest_quantile(a.td, 0.25)",
    "graft_kll_rank(a.kll, v.x)",
    "graft_kll_rank(a.kll, 100)",
    "graft_tdigest_cdf(a.td, v.x)",
    "graft_tdigest_cdf(a.td, 100L)",
    "graft_kmv_estimate(a.kmv)",
    "graft_kmv_estimate(a.kmv64)",
    "graft_heavyhitter_summary(a.hh)",
    "graft_sample_values(a.samp)",
    "graft_sample_strings(a.samp_str)",
    "graft_sample_weighted_values(a.sampw)",
    "graft_sample_weighted_strings(a.sampw_str)",
    "graft_bloom_might_contain(a.bloom, v.t)",
    s"graft_bloom_might_contain(a.bloom, v.t, $k0, $k1)",
    "graft_bloom_might_contain(a.bloom_l, v.l)",
    "graft_bloom_might_contain(a.bloom_s, v.s)",
    "graft_bloom_might_contain(a.bloom128, v.t)",
    "graft_bloom_might_contain(a.bloom_k, v.t, 1, 2)",
    "graft_bloom_might_contain(a.bloom_k, v.t, 1L, 2L)",
    "graft_bloom_might_contain(:bloom, v.t)",
    "graft_bloom_might_contain(:bloom, 7)",
    "graft_bloom_might_contain(:bloom_l, v.l)",
    "graft_bloom_might_contain(:bloom_s, v.s)",
    "graft_bloom_might_contain(:bloom128, v.t)",
    "graft_bloom_might_contain(:bloom_k, v.t, 1, 2)",
    "graft_bloom_might_contain(X'', v.t)",
    "graft_bloom_might_contain_keyed(:pack, a.g, v.t)",
    "graft_bloom_might_contain_keyed(:pack, v.k, v.t)",
    "graft_bloom_might_contain_keyed(:pack_l, a.g, v.l)",
    "graft_bloom_might_contain_keyed(:pack_s, a.g, v.s)",
    s"graft_bloom_might_contain_keyed(:pack, a.g, v.t, $k0, $k1)",
    "graft_bloom_might_contain_keyed(:pack_k, v.k, v.t, 1, 2)")

  /** Pairwise calls over every ordered pair of sketch rows (a, b). */
  private val pairs: Seq[String] = Seq(
    "graft_kmv_jaccard(a.kmv, b.kmv)",
    "graft_kmv_jaccard(a.kmv, b.kmv64)",
    "graft_kmv_intersect(a.kmv, b.kmv)",
    "graft_kmv_intersect(a.kmv64, b.kmv)",
    "graft_kmv_difference(a.kmv, b.kmv)",
    "graft_kmv_difference(a.kmv, b.kmv64)",
    "graft_kmv_union(a.kmv, b.kmv)",
    "graft_kmv_union(a.kmv64, b.kmv)",
    "graft_kmv_estimate(graft_kmv_union(a.kmv, b.kmv64))",
    "graft_bloom_union(a.bloom, b.bloom)",
    "graft_bloom_union(a.bloom, b.bloom11)",
    s"graft_bloom_union(a.bloom, b.bloom, $k0, $k1)",
    "graft_bloom_union(a.bloom_k, b.bloom_k, 1, 2)",
    "graft_bloom_intersect(a.bloom, b.bloom)",
    "graft_bloom_intersect(a.bloom11, b.bloom)",
    s"graft_bloom_intersect(a.bloom, b.bloom, $k0, $k1)",
    "graft_bloom_intersect(a.bloom_k, b.bloom_k, 1L, 2L)")

  private val sketchCols = Seq("hll", "cms", "cms_str", "cms_k", "kll", "td", "kmv", "kmv64", "hh",
    "samp", "samp_str", "sampw", "sampw_str", "bloom", "bloom11", "bloom_k", "bloom_l", "bloom_s", "bloom128")

  /** Literal sketches and packs, bound by name in the calls. */
  private var params: Map[String, Array[Byte]] = Map.empty

  private def setUp(): Unit = {
    GraftFunctions.register(spark)
    NativeAggs.register(spark)
    val src = spark.range(0, 900, 1, 1).selectExpr(
      "concat('g', id % 3) AS g",
      "transform(sequence(0, CAST(id % 6 AS INT)), i -> CAST((id * 37 + i * 11) % 400 AS INT)) AS tokens",
      "CAST((id * 7919) % 1000 AS DOUBLE) / 3.0 AS x",
      "(id * id) % 89 AS v",
      "1 + id % 4 AS w",
      "concat('doc', CAST(id % 250 AS STRING)) AS s",
      "id")
    src.createOrReplaceTempView("rsrc")
    val built = spark.sql(
      """SELECT g, graft_hll_tokens(tokens) AS hll, graft_cms_tokens(tokens) AS cms,
        |  graft_kll(x) AS kll, graft_tdigest(x) AS td, graft_kmv_tokens(tokens) AS kmv,
        |  graft_heavyhitter(v) AS hh, graft_sample_bottomk(v) AS samp,
        |  graft_sample_bottomk_str(s) AS samp_str, graft_sample_weighted(v, w) AS sampw,
        |  graft_sample_weighted_str(s, w) AS sampw_str, graft_bloom_tokens(tokens) AS bloom,
        |  graft_bloom_tokens_native(tokens, 3, 11) AS bloom11
        |FROM rsrc GROUP BY g""".stripMargin)
      .join(src.groupBy(col("g")).agg(
        NativeAggs.column(Cms(CmsConfig(1L, 2L, 5, 11)), col("tokens")).as("cms_k"),
        NativeAggs.column(KmvKind(Keys.DefaultK0, Keys.DefaultK1, 64), col("tokens")).as("kmv64"),
        NativeAggs.column(Bloom(BloomConfig(1L, 2L, 3, 10)), col("tokens")).as("bloom_k"),
        NativeAggs.column(Bloom(BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)), col("v")).as("bloom_l"),
        NativeAggs.column(Bloom(BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)),
          expr("concat('w', CAST(id % 23 AS STRING))")).as("bloom_s"),
        // 6 * 11 + 12 = 78 hash bits: the 128-bit probe path
        NativeAggs.column(Bloom(BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 11, 12)), col("tokens"))
          .as("bloom128")), "g")
      .orderBy("g").collect()
    // a string-element CMS per group, built on the driver
    val cmsCfg = CmsConfig(Keys.DefaultK0, Keys.DefaultK1, 5, 11)
    def cmsStr(gi: Int): Array[Byte] = {
      val buf = CountMin.empty(cmsCfg)
      (0 until 300).foreach(i => CountMin.addString(buf, cmsCfg, s"w${(i * (gi + 2)) % 23}"))
      CountMin.toBytes(buf, cmsCfg, BlockedBloom.TypeTag.String)
    }
    val rows = built.zipWithIndex.map { case (r, gi) =>
      Row.fromSeq(r.getString(0) +: sketchCols.map(c => if (c == "cms_str") cmsStr(gi) else r.getAs[Any](c)))
    } ++ Seq(
      Row.fromSeq("gempty" +: sketchCols.map(_ => Array.emptyByteArray)),
      Row.fromSeq("gnull" +: sketchCols.map(_ => null)))
    val schema = StructType(StructField("g", StringType) +: sketchCols.map(StructField(_, BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), schema)
      .createOrReplaceTempView("sk")
    val vals = Seq(
      Row(0, 7, "w3", 0.0, 0.0, 16L, "g0"), Row(1, 123, "w11", 0.1, 50.5, 4L, "g1"),
      Row(2, 399, "w22", 0.5, 100.0, 1L, "g2"), Row(3, -5, "absent", 0.99, 333.0, -5L, "gempty"),
      Row(4, 42, "", 1.0, 1e9, 88L, "missing"), Row(5, null, null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(vals, 2), StructType.fromDDL(
      "id INT, t INT, s STRING, q DOUBLE, x DOUBLE, l BIGINT, k STRING")).createOrReplaceTempView("vals")
    def sk(gi: Int, c: String): Array[Byte] = built(gi).getAs[Array[Byte]](c)
    def pack(c: String, groups: Int*): Array[Byte] =
      BloomFilterPack.encode(groups.map(gi => built(gi).getString(0) -> sk(gi, c)) :+ ("gempty" -> Array.emptyByteArray))
    params = Map(
      "bloom" -> sk(0, "bloom"), "bloom_l" -> sk(1, "bloom_l"), "bloom_s" -> sk(2, "bloom_s"),
      "bloom128" -> sk(0, "bloom128"), "bloom_k" -> sk(1, "bloom_k"),
      "pack" -> pack("bloom", 0, 1), "pack_l" -> pack("bloom_l", 1, 2), "pack_s" -> pack("bloom_s", 0, 2),
      "pack_k" -> pack("bloom_k", 0, 1))
  }

  /** SHA-256 over the schema, then the rows in order (each field tagged
    * and length-prefixed, NULL distinct from every value). */
  private def digest(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(tag: Char, bytes: Array[Byte]): Unit = {
      md.update(tag.toByte)
      md.update(ByteBuffer.allocate(4).putInt(bytes.length).array())
      md.update(bytes)
    }
    def field(v: Any): Unit = v match {
      case null => put('n', Array.emptyByteArray)
      case b: Array[Byte] => put('b', b)
      case s: String => put('s', s.getBytes(UTF_8))
      case l: Long => put('l', ByteBuffer.allocate(8).putLong(l).array())
      case i: Int => put('i', ByteBuffer.allocate(4).putInt(i).array())
      case d: Double => put('d', ByteBuffer.allocate(8).putLong(java.lang.Double.doubleToLongBits(d)).array())
      case z: Boolean => put('z', Array(if (z) 1.toByte else 0.toByte))
      case r: Row => put('r', Array.emptyByteArray); r.toSeq.foreach(field)
      case a: scala.collection.Seq[_] => put('a', ByteBuffer.allocate(4).putInt(a.length).array()); a.foreach(field)
      case other => fail(s"unexpected reader output ${other.getClass}: $other")
    }
    df.schema.fields.foreach(f => put('f', s"${f.name}:${f.dataType.catalogString}:${f.nullable}".getBytes(UTF_8)))
    df.collect().foreach(r => r.toSeq.foreach(field))
    md.digest().map("%02x".format(_)).mkString
  }

  private def query(call: String): String =
    if (pairs.contains(call)) s"SELECT a.g, b.g, $call FROM sk a CROSS JOIN sk b ORDER BY a.g, b.g"
    else s"SELECT a.g, v.id, $call FROM sk a CROSS JOIN vals v ORDER BY a.g, v.id"

  /** Digest of `call` in whole-stage codegen and interpreted; both must agree. */
  private def run(call: String): String = {
    val named: Map[String, Any] = ":([a-z0-9_]+)".r.findAllMatchIn(call).map(m => m.group(1) -> params(m.group(1))).toMap
    val modes = Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val ds = modes.map { conf =>
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try digest(spark.sql(query(call), named))
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    assert(ds.distinct.size === 1, s"codegen and interpreted outputs differ for $call")
    ds.head
  }

  /** Bloom probe calls whose sketch or pack is a scalar subquery, each
    * with the pinned literal-argument call it must hash like. */
  private val subqueryTwins: Seq[(String, String)] = {
    def sk(c: String, g: String) = s"(SELECT $c FROM sk WHERE g = '$g')"
    def pack(c: String, gs: String*) =
      s"(SELECT graft_bloom_pack(g, $c) FROM sk WHERE g IN (${(gs :+ "gempty").map(g => s"'$g'").mkString(", ")}))"
    val bloom = "(SELECT graft_bloom_tokens(tokens) FROM rsrc WHERE g = 'g0')"
    Seq(
      s"graft_bloom_might_contain($bloom, v.t)" -> "graft_bloom_might_contain(:bloom, v.t)",
      s"graft_bloom_might_contain($bloom, 7)" -> "graft_bloom_might_contain(:bloom, 7)",
      s"graft_bloom_might_contain(${sk("bloom_l", "g1")}, v.l)" -> "graft_bloom_might_contain(:bloom_l, v.l)",
      s"graft_bloom_might_contain(${sk("bloom_s", "g2")}, v.s)" -> "graft_bloom_might_contain(:bloom_s, v.s)",
      s"graft_bloom_might_contain(${sk("bloom128", "g0")}, v.t)" -> "graft_bloom_might_contain(:bloom128, v.t)",
      s"graft_bloom_might_contain(${sk("bloom_k", "g1")}, v.t, 1, 2)" ->
        "graft_bloom_might_contain(:bloom_k, v.t, 1, 2)",
      s"graft_bloom_might_contain(${sk("bloom", "gempty")}, v.t)" -> "graft_bloom_might_contain(X'', v.t)",
      s"graft_bloom_might_contain_keyed(${pack("bloom", "g0", "g1")}, a.g, v.t)" ->
        "graft_bloom_might_contain_keyed(:pack, a.g, v.t)",
      s"graft_bloom_might_contain_keyed(${pack("bloom", "g0", "g1")}, v.k, v.t)" ->
        "graft_bloom_might_contain_keyed(:pack, v.k, v.t)",
      s"graft_bloom_might_contain_keyed(${pack("bloom_l", "g1", "g2")}, a.g, v.l)" ->
        "graft_bloom_might_contain_keyed(:pack_l, a.g, v.l)",
      s"graft_bloom_might_contain_keyed(${pack("bloom_s", "g0", "g2")}, a.g, v.s)" ->
        "graft_bloom_might_contain_keyed(:pack_s, a.g, v.s)",
      s"graft_bloom_might_contain_keyed(${pack("bloom", "g0", "g1")}, a.g, v.t, $k0, $k1)" ->
        s"graft_bloom_might_contain_keyed(:pack, a.g, v.t, $k0, $k1)",
      s"graft_bloom_might_contain_keyed(${pack("bloom_k", "g0", "g1")}, v.k, v.t, 1, 2)" ->
        "graft_bloom_might_contain_keyed(:pack_k, v.k, v.t, 1, 2)")
  }

  test("a subquery sketch or pack reads exactly like the literal it replaces") {
    setUp()
    subqueryTwins.foreach { case (sub, literal) =>
      assert(single.contains(literal), s"$literal is not a pinned call")
      // aliased: the digest covers the column name, which spells the call
      assert(run(s"$sub AS probe") === run(s"$literal AS probe"), s"$sub differs from $literal")
    }
  }

  test("every graft_* SQL read function's output matches the pinned digests") {
    setUp()
    val actual = (single ++ pairs).map(c => c -> run(c))
    val out = Paths.get("target", "sql_readers.sha256.actual")
    Files.createDirectories(out.getParent)
    Files.write(out, actual.map { case (k, d) => s"$d  $k\n" }.mkString.getBytes(UTF_8))
    val in = getClass.getResourceAsStream("/sql_readers.sha256")
    assert(in != null, s"missing sql_readers.sha256 (this run's digests: $out)")
    val expected = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val pinned = expected.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(d, k) = l.split("  ", 2)
      k -> d
    }.toSeq
    assert(pinned.map(_._1) === actual.map(_._1), "call list differs from the pinned list")
    val drift = actual.filterNot(pinned.contains)
    assert(drift.isEmpty, s"output changed for: ${drift.map(_._1).mkString(", ")}")
    assert(actual.flatMap { case (c, _) => "graft_[a-z_]+".r.findAllIn(c) }.toSet.size === 21)
  }
}
