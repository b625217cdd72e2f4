package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the output bytes of every `graft_*` SQL aggregate name.
  *
  * Each aggregate runs over one fixed fixture (8 input partitions, three
  * groups with null `tokens`/`s` rows, and a group `gnull` whose `tokens`
  * and `s` are all null), grouped by `grp`, plus once as a global
  * aggregate over zero rows. The numeric columns hold no nulls: the udaf
  * aggregates this file was generated with read a null `double`/`bigint`
  * as 0, which `SketchAgg` does not (nulls are skipped, as for every
  * other input type; `SparkAggSpec` tests that). Every `*_merge` name is
  * fed the per-(grp, shard) outputs of its builds, with a null and an
  * empty payload mixed in and a group (`gz`) that holds nothing else.
  *
  * The SHA-256 of each ordered output is compared with
  * `src/test/resources/sql_aggregates.sha256`, which was generated on the
  * commit before the aggregates moved to `SketchAgg`; a differing digest
  * is a format break, not a file to regenerate. The digests of the current
  * run are written to `target/sql_aggregates.sha256.actual`.
  */
class SqlAggregateBytesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sql-aggregate-bytes")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Build aggregates, as the SQL text that is also the digest key. */
  private val builds: Seq[String] = Seq(
    "graft_bloom_tokens(tokens)",
    "graft_bloom_tokens_newcount(tokens)",
    "graft_bloom_tokens_native(tokens)",
    "graft_bloom_tokens_native(tokens, 3, 11)",
    "graft_fused_tokens_native(tokens)",
    "graft_hll_tokens(tokens)",
    "graft_cms_tokens(tokens)",
    "graft_kmv_tokens(tokens)",
    "graft_kmv_long(v)",
    "graft_kll(x)",
    "graft_tdigest(x)",
    "graft_heavyhitter(v)",
    "graft_heavyhitter_weighted(v, w)",
    "graft_sample_bottomk(v)",
    "graft_sample_bottomk_str(s)",
    "graft_sample_weighted(v, w)",
    "graft_sample_weighted_str(s, w)")

  /** (merge name, the builds whose per-shard outputs feed it). */
  private val merges: Seq[(String, Seq[String])] = Seq(
    "graft_bloom_merge" -> Seq("graft_bloom_tokens(tokens)"),
    // mixed sizes: the 2^12-word filters fold down to 2^11
    "graft_bloom_merge" -> Seq("graft_bloom_tokens(tokens)", "graft_bloom_tokens_native(tokens, 3, 11)"),
    "graft_hll_merge" -> Seq("graft_hll_tokens(tokens)"),
    "graft_cms_merge" -> Seq("graft_cms_tokens(tokens)"),
    "graft_kmv_merge" -> Seq("graft_kmv_long(v)"),
    "graft_kll_merge" -> Seq("graft_kll(x)"),
    "graft_tdigest_merge" -> Seq("graft_tdigest(x)"),
    "graft_heavyhitter_merge" -> Seq("graft_heavyhitter(v)", "graft_heavyhitter_weighted(v, w)"),
    "graft_sample_merge" -> Seq("graft_sample_bottomk(v)"),
    "graft_sample_str_merge" -> Seq("graft_sample_bottomk_str(s)"),
    "graft_sample_weighted_merge" -> Seq("graft_sample_weighted(v, w)"),
    "graft_sample_weighted_str_merge" -> Seq("graft_sample_weighted_str(s, w)"))

  private def setUp(): Unit = {
    GraftFunctions.register(spark)
    NativeAggs.register(spark)
    spark.range(0, 2400, 1, 8).selectExpr(
      "CASE WHEN id % 10 = 9 THEN 'gnull' ELSE concat('g', id % 3) END AS grp",
      "CAST(id % 8 AS INT) AS shard",
      "id % 10 = 9 OR id % 13 = 0 AS blank",
      "id")
      .selectExpr("grp", "shard",
        "CASE WHEN blank THEN NULL ELSE transform(sequence(0, CAST(id % 7 AS INT)), " +
          "i -> CAST((id * 31 + i * 17) % 500 AS INT)) END AS tokens",
        "CAST((id * 7919) % 1000 AS DOUBLE) / 7.0 AS x",
        "(id * id) % 97 AS v",
        "1 + id % 5 AS w",
        "CASE WHEN blank THEN NULL ELSE concat('doc', CAST(id % 300 AS STRING)) END AS s")
      .createOrReplaceTempView("fx")
  }

  /** SHA-256 over the rows in order: each field's bytes, length-prefixed. */
  private def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(bytes: Array[Byte]): Unit = {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(bytes.length).array())
      md.update(bytes)
    }
    def field(v: Any): Unit = v match {
      case b: Array[Byte] => put(b)
      case s: String => put(s.getBytes(UTF_8))
      case l: Long => put(java.nio.ByteBuffer.allocate(8).putLong(l).array())
      case r: Row => r.toSeq.foreach(field)
      case other => fail(s"unexpected aggregate output $other")
    }
    rows.foreach(r => r.toSeq.foreach(field))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Grouped output over `from`, then the same aggregate over zero rows. */
  private def run(agg: String, from: String): Seq[Row] =
    spark.sql(s"SELECT grp, $agg FROM $from GROUP BY grp ORDER BY grp").collect().toSeq ++
      spark.sql(s"SELECT $agg FROM $from WHERE grp IS NULL").collect().toSeq

  private def computeDigests(): Seq[(String, String)] = {
    setUp()
    val buildDigests = builds.map(b => b -> digest(run(b, "fx")))
    val mergeDigests = merges.map { case (m, feed) =>
      val perShard = feed.flatMap(b => spark.sql(
        s"SELECT grp, $b AS sk FROM fx GROUP BY grp, shard ORDER BY grp, shard").collect().toSeq) ++
        Seq(Row("gz", null), Row("g0", Array.emptyByteArray), Row("gz", Array.emptyByteArray),
          Row("g1", null))
      val schema = org.apache.spark.sql.types.StructType.fromDDL("grp STRING, sk BINARY")
      spark.createDataFrame(spark.sparkContext.parallelize(perShard, 8), schema)
        .createOrReplaceTempView("feed")
      s"$m(${feed.mkString(" + ")})" -> digest(run(s"$m(sk)", "feed"))
    }
    buildDigests ++ mergeDigests
  }

  test("every graft_* SQL aggregate's output bytes match the pinned digests") {
    val actual = computeDigests()
    val lines = actual.map { case (k, d) => s"$d  $k" }
    val out = Paths.get("target", "sql_aggregates.sha256.actual")
    Files.createDirectories(out.getParent)
    Files.write(out, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val in = getClass.getResourceAsStream("/sql_aggregates.sha256")
    assert(in != null, s"missing sql_aggregates.sha256 (this run's digests: $out)")
    val expected = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val pinned = expected.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(d, k) = l.split("  ", 2)
      k -> d
    }.toSeq
    assert(pinned.map(_._1) === actual.map(_._1), "aggregate list differs from the pinned list")
    val drift = actual.filterNot(pinned.contains)
    assert(drift.isEmpty, s"output bytes changed for: ${drift.map(_._1).mkString(", ")}")
    assert(actual.map(_._1.takeWhile(_ != '(')).distinct.size === 27)
  }
}
