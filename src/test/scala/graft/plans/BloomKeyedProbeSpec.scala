package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomConfig, Keys}

/** Keyed probe expression (`graft_bloom_might_contain_keyed`) — the
  * optimization-round replacement for carrying per-group sketch COLUMNS
  * through a broadcast join into the probe filter. Gates:
  *  - probe parity: keyed probe over a pack == per-row probe against the
  *    matching filter, for every (key, element);
  *  - WHERE-semantics parity with the inner join it replaces: a key with
  *    no pack entry (and an empty payload) yields NULL, filtering the row;
  *  - codegen: the filter stays inside whole-stage codegen;
  *  - analysis-time rejection of a cross-type pack (the BloomMightContain
  *    convention: fail loudly at analysis, not inside generated code). */
class BloomKeyedProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-keyed-probe-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)

  def sketchOf(tokens: Seq[Int]): Array[Byte] = {
    val words = new Array[Long](cfg.l)
    tokens.foreach(t => graft.core.BlockedBloom.insertInt(words, cfg, t))
    graft.core.BlockedBloom.toBytes(words, cfg, graft.core.BlockedBloom.TypeTag.Int)
  }

  test("keyed probe parity with per-filter probes, incl. missing key and empty payload") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val packA = sketchOf(1 to 200)
    val packB = sketchOf(201 to 400)
    val pack = Seq("a" -> packA, "b" -> packB, "empty" -> Array.emptyByteArray)
    val rows = (1 to 400).flatMap(t => Seq(("a", t), ("b", t), ("missing", t), ("empty", t)))
    val df = rows.toDF("grp", "token")
      .repartition(3) // real physical plan, not constant-folded
      .withColumn("hit",
        GraftFunctions.bloomMightContainKeyed(lit(BloomFilterPack.encode(pack)), col("grp"), col("token")))
    val collected = df.collect()
    val fa = LoadedBloomFilter.load(Keys.DefaultK0, Keys.DefaultK1, packA)
    val fb = LoadedBloomFilter.load(Keys.DefaultK0, Keys.DefaultK1, packB)
    collected.foreach { r =>
      val (grp, t) = (r.getString(0), r.getInt(1))
      grp match {
        case "a" => assert(!r.isNullAt(2) && r.getBoolean(2) == fa.containsInt(t))
        case "b" => assert(!r.isNullAt(2) && r.getBoolean(2) == fb.containsInt(t))
        case _ => assert(r.isNullAt(2), s"$grp should probe NULL")
      }
    }
    // no false negatives through the keyed path
    assert(df.where(col("grp") === "a" && col("token") <= 200 && !col("hit")).count() === 0L)
    // WHERE drops NULL-probed rows exactly like the inner join it replaces
    val kept = rows.toDF("grp", "token").repartition(3)
      .where(GraftFunctions.bloomMightContainKeyed(lit(BloomFilterPack.encode(pack)), col("grp"), col("token")))
    assert(kept.where(col("grp").isin("missing", "empty")).count() === 0L)
  }

  test("keyed probe stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val pack = Seq("g" -> sketchOf(1 to 999))
    val df = spark.range(1, 1000)
      .select(lit("g").as("grp"), col("id").cast("int").as("token"))
      .where(GraftFunctions.bloomMightContainKeyed(lit(BloomFilterPack.encode(pack)), col("grp"), col("token")))
    val hasCodegenStage = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage, s"expected WholeStageCodegenExec in:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 999L, "no false negatives")
  }

  test("cross-type pack rejected at analysis") {
    GraftFunctions.register(spark)
    val pack = Seq("g" -> sketchOf(1 to 10)) // int-tagged filter
    // Dataset analysis is eager, so the failure surfaces at construction
    val e = intercept[Exception] {
      spark.range(1, 10)
        .select(lit("g").as("grp"), col("id").as("token")) // bigint probe
        .where(GraftFunctions.bloomMightContainKeyed(lit(BloomFilterPack.encode(pack)), col("grp"), col("token")))
        .collect()
    }
    assert(e.getMessage.contains("probed/loaded as"),
      s"expected type-tag wording, got: ${e.getMessage.take(300)}")
  }

  test("graft_bloom_pack: key order, repeated keys united, empty entries kept, NULL rows skipped") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val (a1, a2, b) = (sketchOf(1 to 50), sketchOf(40 to 120), sketchOf(500 to 510))
    val rows = Seq[(String, Array[Byte])](("b", b), ("a", a1), (null, a2), ("e", Array.emptyByteArray),
      ("a", a2), ("c", null), ("c2", Array.emptyByteArray), ("c2", b))
    val frame = rows.toDF("k", "s").repartition(3)
    frame.createOrReplaceTempView("pack_rows")
    val expected = BloomFilterPack.encode(Seq(
      "a" -> sketchOf((1 to 50) ++ (40 to 120)), "b" -> b, "c2" -> b, "e" -> Array.emptyByteArray))
    def packOf(sql: String) = spark.sql(sql).head().getAs[Array[Byte]](0)
    assert(packOf("SELECT graft_bloom_pack(k, s) FROM pack_rows") === expected)
    assert(frame.agg(GraftFunctions.bloomPack(col("k"), col("s"))).head().getAs[Array[Byte]](0) === expected)
    assert(packOf("SELECT graft_bloom_pack(k, s) FROM pack_rows WHERE k = 'none'") ===
      BloomFilterPack.encode(Nil), "zero rows give the empty pack")
  }

  test("graft_bloom_pack holds the pack bounds as it grows (65,536 groups ok, 65,537 fail)") {
    def pack(n: Long) = spark.range(0, n, 1, 4)
      .agg(GraftFunctions.bloomPack(col("id").cast("string"), lit(Array.emptyByteArray)))
      .head().getAs[Array[Byte]](0)
    assert(BloomFilterPack.decode(pack(BloomFilterPack.MaxEntries)).length.toLong === BloomFilterPack.MaxEntries)
    val e = intercept[Exception](pack(BloomFilterPack.MaxEntries + 1))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage.contains(
      s"exceeds the bound of ${BloomFilterPack.MaxEntries} groups and ${BloomFilterPack.MaxSketchBytes} bytes")),
      chain.map(_.toString.take(200)).mkString(" <- "))
  }
}
