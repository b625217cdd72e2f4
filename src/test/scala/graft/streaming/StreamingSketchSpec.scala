package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BlockedBloom, BloomConfig, Hll, Keys}
import graft.operators.SketchKinds.{Cms, HeavyHitters, KmvKind, Sample}
import graft.plans.NativeAggs.column

/** Streaming ≡ batch: the same Aggregator fed through a MemoryStream in
  * micro-batches must produce sketches byte-identical to a batch build over
  * the same rows (merge order-insensitivity under the state store). */
class StreamingSketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)

  def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("windowed streaming sketches equal batch-built sketches per (window, source)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val df = stream.toDF().toDF("ts", "source", "tokens")
    val out = StreamingSketch.perSourceWindowedSketches(
      df, "ts", "10 minutes", "5 minutes", cfg, hllP = 10)

    val query = out.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_sketches")
      .start()
    try {
      // three micro-batches, two windows, two sources
      stream.addData((ts(1), "a", Array(1, 2, 3)), (ts(2), "b", Array(10, 11)))
      query.processAllAvailable()
      stream.addData((ts(3), "a", Array(4, 5)), (ts(6), "a", Array(100, 101)))
      query.processAllAvailable()
      stream.addData((ts(7), "b", Array(200)), (ts(4), "b", Array(12)))
      query.processAllAvailable()

      val rows = spark.table("stream_sketches")
        .select(col("window.start").cast("string").as("w"), col("source"), col("bloom"), col("hll"),
          col("n_rows"), col("n_tokens"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r).toMap

      // expected contents per (window, source)
      val expected = Map(
        ("2026-01-01 10:00:00", "a") -> Seq(1, 2, 3, 4, 5),
        ("2026-01-01 10:05:00", "a") -> Seq(100, 101),
        ("2026-01-01 10:00:00", "b") -> Seq(10, 11, 12),
        ("2026-01-01 10:05:00", "b") -> Seq(200))
      assert(rows.keySet === expected.keySet)

      expected.foreach { case (key, toks) =>
        val r = rows(key)
        // byte-identical to a serial batch build of the same tokens
        val words = new Array[Long](cfg.l)
        toks.foreach(BlockedBloom.insertInt(words, cfg, _))
        val serial = BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.Int)
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("bloom"), serial),
          s"streaming bloom for $key differs from batch build")
        val (p, regs, _) = Hll.fromBytes(r.getAs[Array[Byte]]("hll"))
        val serialHll = Hll.empty(p)
        toks.foreach(t => Hll.addHash(serialHll, p, graft.core.SipHash.hashInt(cfg.k0, cfg.k1, t)))
        assert(regs.sameElements(serialHll), s"streaming hll for $key differs")
        assert(r.getAs[Long]("n_tokens") === toks.size.toLong)
      }
    } finally query.stop()
  }

  test("windowed count-min matches a batch-built CMS per (window, source)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cms = graft.core.CmsConfig(Keys.DefaultK0, Keys.DefaultK1, 5, 8)
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val df = stream.toDF().toDF("ts", "source", "tokens")
    val out = StreamingSketch.windowed(df, "ts", "10 minutes", window(col("ts"), "5 minutes"))(
      column(Cms(cms), col("tokens")).as("cms"))
    val query = out.writeStream.outputMode("complete")
      .format("memory").queryName("stream_cms").start()
    try {
      stream.addData((ts(1), "a", Array(7, 7, 8)), (ts(2), "a", Array(7)))
      query.processAllAvailable()
      stream.addData((ts(3), "a", Array(7, 9)))
      query.processAllAvailable()
      val bytes = spark.table("stream_cms")
        .where(col("source") === "a").head().getAs[Array[Byte]]("cms")
      val (_, _, buf, _) = graft.core.CountMin.fromBytes(bytes)
      assert(graft.core.CountMin.estimateInt(buf, cms, 7) === 4L)
      assert(graft.core.CountMin.estimateInt(buf, cms, 8) === 1L)
      assert(graft.core.CountMin.totalCount(buf, cms) === 6L)
      // batch-identical
      val serial = graft.core.CountMin.empty(cms)
      Seq(7, 7, 8, 7, 7, 9).foreach(t => graft.core.CountMin.addInt(serial, cms, t))
      assert(graft.core.CountMin.toBytes(serial, cms, graft.core.BlockedBloom.TypeTag.Int)
        .sameElements(bytes))
    } finally query.stop()
  }

  test("windowed KMV is byte-identical to a serial build (order-insensitive state-store merge)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val df = stream.toDF().toDF("ts", "source", "tokens")
    val out = StreamingSketch.windowed(df, "ts", "10 minutes", window(col("ts"), "5 minutes"))(
      column(KmvKind(Keys.DefaultK0, Keys.DefaultK1, 16), col("tokens")).as("kmv"))
    val query = out.writeStream.outputMode("complete")
      .format("memory").queryName("stream_kmv").start()
    try {
      // out-of-order micro-batches with duplicates across batches
      stream.addData((ts(1), "a", Array(1, 2, 3, 50, 51)), (ts(2), "a", Array(3, 4)))
      query.processAllAvailable()
      stream.addData((ts(3), "a", (20 to 45).toArray), (ts(1), "a", Array(1, 2)))
      query.processAllAvailable()
      val bytes = spark.table("stream_kmv")
        .where(col("source") === "a").head().getAs[Array[Byte]]("kmv")
      val allTokens = Seq(1, 2, 3, 50, 51, 3, 4) ++ (20 to 45) ++ Seq(1, 2)
      val serial = graft.core.Kmv.emptyHashes(16)
      var s = 0
      allTokens.foreach(t => s = graft.core.Kmv.add(serial, s,
        graft.core.SipHash.hashInt(Keys.DefaultK0, Keys.DefaultK1, t)))
      val serialBytes = graft.core.Kmv.toBytes(serial, s,
        graft.core.BlockedBloom.TypeTag.Int,
        graft.core.SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, Keys.DefaultK0 ^ Keys.DefaultK1))
      assert(java.util.Arrays.equals(bytes, serialBytes),
        "streaming KMV differs from serial build")
      // saturated (32 distinct = |{1,2,3,4,50,51}| + |20..45| > k=16):
      // the estimator runs on the kth min
      val (h, sz, _, _) = graft.core.Kmv.fromBytes(bytes)
      assert(sz === 16)
      assert(allTokens.distinct.size === 32)
      val est = graft.core.Kmv.estimate(h, sz)
      assert(math.abs(est - 32.0) <= 4 * graft.core.Kmv.stdError(16) * 32 + 2)
    } finally query.stop()
  }

  test("windowed heavy hitters keep MG guarantees under out-of-order micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val df = stream.toDF().toDF("ts", "source", "tokens")
    val keyed = df.select(col("ts"), col("source"), explode(col("tokens")).as("token"))
      .select(col("ts"), col("source"), col("token").cast("long").as("key"))
    val out = StreamingSketch.windowed(keyed, "ts", "10 minutes", window(col("ts"), "5 minutes"))(
      column(HeavyHitters(8), col("key")).as("hh"))
    val query = out.writeStream.outputMode("complete")
      .format("memory").queryName("stream_hh").start()
    try {
      // dominant key 7 plus a long tail, spread over out-of-order batches
      val tail1 = (100 to 140).toArray
      val tail2 = (141 to 180).toArray
      stream.addData((ts(1), "a", Array.fill(30)(7) ++ tail1))
      query.processAllAvailable()
      stream.addData((ts(3), "a", tail2 ++ Array.fill(25)(7)), (ts(1), "a", Array(7, 7)))
      query.processAllAvailable()
      val bytes = spark.table("stream_hh")
        .where(col("source") === "a").head().getAs[Array[Byte]]("hh")
      val s = graft.core.FrequentItems.fromBytes(bytes)
      val all = Array.fill(30)(7) ++ tail1 ++ tail2 ++ Array.fill(25)(7) ++ Array(7, 7)
      val exact = all.groupBy(identity).map { case (k, v) => k.toLong -> v.length.toLong }
      assert(s.total === all.length.toLong)
      assert(s.decremented * s.capacity <= s.total)
      s.entries.foreach { case (k, est) =>
        val t = exact.getOrElse(k, 0L)
        assert(est <= t && t <= est + s.decremented, s"streamed MG sandwich broken at $k")
      }
      // the dominant key (57 occurrences > any possible D = N/8) must survive and rank first
      assert(s.contains(7L) && s.topK(1).head._1 === 7L)
    } finally query.stop()
  }

  test("windowed bottom-k sample is byte-identical to a serial build (deterministic streaming sampling)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val df = stream.toDF().toDF("ts", "source", "tokens")
    val exploded = df.select(col("ts"), col("source"), explode(col("tokens")).as("token"))
    val out = StreamingSketch.windowed(exploded, "ts", "10 minutes", window(col("ts"), "5 minutes"))(
      column(Sample(Keys.DefaultK0, Keys.DefaultK1, 8, weighted = false, graft.core.BottomK.LongValues), col("token").cast("long"))
        .as("sample"))
    val query = out.writeStream.outputMode("complete")
      .format("memory").queryName("stream_bk").start()
    try {
      stream.addData((ts(1), "a", Array(1, 2, 3, 50, 51)), (ts(2), "a", Array(3, 4)))
      query.processAllAvailable()
      stream.addData((ts(3), "a", (20 to 45).toArray), (ts(1), "a", Array(1, 2)))
      query.processAllAvailable()
      val bytes = spark.table("stream_bk")
        .where(col("source") === "a").head().getAs[Array[Byte]]("sample")
      val allTokens = Seq(1, 2, 3, 50, 51, 3, 4) ++ (20 to 45) ++ Seq(1, 2)
      val (sh, sv) = graft.core.BottomK.emptyBuffers(8)
      var s = 0
      allTokens.foreach { t =>
        s = graft.core.BottomK.add(sh, sv, s,
          graft.core.SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, t.toLong), t.toLong)
      }
      val serialBytes = graft.core.BottomK.toBytes(sh, sv, s,
        graft.core.BlockedBloom.TypeTag.Long,
        graft.core.SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, Keys.DefaultK0 ^ Keys.DefaultK1),
        graft.core.BottomK.SerialVersion, graft.core.BottomK.LongValues)
      assert(java.util.Arrays.equals(bytes, serialBytes),
        "streaming bottom-k sample differs from serial build")
      // and the sampled values are genuinely a subset of the streamed tokens
      val (_, v2, s2, _, _) = graft.core.BottomK.fromBytes(bytes,
        graft.core.BottomK.SerialVersion, graft.core.BottomK.LongValues)
      assert(s2 === 8 && v2.take(s2).forall(x => allTokens.contains(x.toInt)))
    } finally query.stop()
  }

  test("windowed WEIGHTED sample is byte-identical to a serial build (P ∝ w, streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Long, Long)]
    val df = stream.toDF().toDF("ts", "source", "id", "w")
    val out = StreamingSketch.windowed(df, "ts", "10 minutes", window(col("ts"), "5 minutes"))(
      column(Sample(Keys.DefaultK0, Keys.DefaultK1, 4, weighted = true, graft.core.BottomK.LongValues), col("id"), col("w"))
        .as("sample"))
    val query = out.writeStream.outputMode("complete")
      .format("memory").queryName("stream_wbk").start()
    try {
      // (id, weight = id % 7 + 1) across out-of-order micro-batches
      def w(id: Long): Long = id % 7 + 1
      val batch1 = (1L to 20L).map(i => (ts(1), "a", i, w(i)))
      val batch2 = (21L to 60L).map(i => (ts(3), "a", i, w(i))) ++ Seq((ts(1), "a", 1L, w(1L)))
      stream.addData(batch1)
      query.processAllAvailable()
      stream.addData(batch2)
      query.processAllAvailable()
      val bytes = spark.table("stream_wbk")
        .where(col("source") === "a").head().getAs[Array[Byte]]("sample")
      val (sh, sv) = graft.core.BottomK.emptyBuffers(4)
      var s = 0
      (1L to 60L).foreach { i =>
        s = graft.core.BottomK.add(sh, sv, s,
          graft.core.BottomK.esKey(
            graft.core.SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, i), w(i).toDouble), i,
          graft.core.BottomK.cmpLong)
      }
      val serialBytes = graft.core.BottomK.toBytes(sh, sv, s,
        graft.core.BlockedBloom.TypeTag.Long,
        graft.core.SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, Keys.DefaultK0 ^ Keys.DefaultK1),
        graft.core.BottomK.SerialVersionWeighted, graft.core.BottomK.LongValues)
      assert(java.util.Arrays.equals(bytes, serialBytes),
        "streaming weighted sample differs from serial build")
    } finally query.stop()
  }

  test("session-window KMV: sessions merge across micro-batches, close on watermark, bytes = serial") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def sec(s: Int): Timestamp = java.sql.Timestamp.from(
      Timestamp.valueOf("2026-01-01 10:00:00").toInstant.plusSeconds(s.toLong))
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val df = stream.toDF().toDF("ts", "source", "tokens")
    // watermark covers the whole out-of-order replay span (as in the
    // complete-mode replays): this test asserts session MERGING, not
    // late-drop — the drop semantics has its own append-mode test above
    val out = StreamingSketch.windowed(df, "ts", "600 seconds", session_window(col("ts"), "60 seconds"))(
      column(KmvKind(Keys.DefaultK0, Keys.DefaultK1, 16), col("tokens")).as("kmv"))
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName("stream_sess").start()
    try {
      // session A: events at 0 s, 30 s, 50 s (gaps < 60 s -> ONE session
      // [0, 110)); session B: event at 300 s. Delivered out of order and
      // split across micro-batches so the state store must MERGE the
      // session fragments.
      stream.addData((sec(30), "a", Array(3, 4)), (sec(300), "a", Array(9)))
      query.processAllAvailable()
      stream.addData((sec(0), "a", Array(1, 2, 3)), (sec(50), "a", Array(5, 5, 6)))
      query.processAllAvailable()
      // sentinel far in the future: watermark passes both sessions' ends,
      // closing them (its own never closes; filtered out below)
      stream.addData((sec(2000), "zz", Array(0)))
      query.processAllAvailable()
      stream.addData((sec(2001), "zz", Array(0)))
      query.processAllAvailable()
      val got = spark.table("stream_sess")
        .where(col("source") === "a")
        .select(col("session_window.start").cast("long").as("start"),
          col("session_window.end").cast("long").as("end"), col("kmv"))
        .collect()
        .map(r => (r.getLong(0) - sec(0).toInstant.getEpochSecond,
          r.getLong(1) - sec(0).toInstant.getEpochSecond, r.getAs[Array[Byte]](2)))
        .sortBy(_._1)
      assert(got.map(t => (t._1, t._2)).toSeq === Seq((0L, 110L), (300L, 360L)),
        s"session boundaries wrong: ${got.map(t => (t._1, t._2)).toSeq}")
      def serialBytes(tokens: Seq[Int]): Array[Byte] = {
        val h = graft.core.Kmv.emptyHashes(16)
        var s = 0
        tokens.foreach(t => s = graft.core.Kmv.add(h, s,
          graft.core.SipHash.hashInt(Keys.DefaultK0, Keys.DefaultK1, t)))
        graft.core.Kmv.toBytes(h, s, graft.core.BlockedBloom.TypeTag.Int,
          graft.core.SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1,
            Keys.DefaultK0 ^ Keys.DefaultK1))
      }
      assert(java.util.Arrays.equals(got(0)._3, serialBytes(Seq(3, 4, 1, 2, 3, 5, 5, 6))),
        "merged session sketch differs from serial build over the session's tokens")
      assert(java.util.Arrays.equals(got(1)._3, serialBytes(Seq(9))))
    } finally query.stop()
  }

  test("append-mode replay driver query: exact counts over the surviving half only") {
    val out = StreamingSketch.replayBloomWindowsAppend(
      spark, "/root/testdata/sf0.001", BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10), 12)
      .collect()
    val t = graft.sources.Tokens.table(spark, "/root/testdata/sf0.001")
    val expected = t
      .where(col("doc_id").cast("long") % 600 >= 300)
      .select(((col("doc_id").cast("long") % 600) / 60).cast("long").as("win"),
        col("source"), col("n_tok").cast("long").as("n_tok"))
      .groupBy(col("win"), col("source")).agg(sum(col("n_tok")).as("n"))
      .where(col("n") > 0)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = out.map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected,
      "append-mode result must equal exact counts over the on-time half (late half dropped)")
    assert(got.nonEmpty && got.keys.forall(_._1 >= 5),
      s"only windows [300s,600s) may be emitted, got wins ${got.keys.map(_._1).toSeq.sorted}")
  }

  test("late data beyond the watermark is dropped (append-mode semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val df = stream.toDF().toDF("ts", "source", "tokens")
    val out = StreamingSketch.perSourceWindowedSketches(
      df, "ts", "5 minutes", "5 minutes", cfg, hllP = 10)

    val query = out.writeStream
      .outputMode("append") // append emits a window only once it's final
      .format("memory")
      .queryName("stream_late")
      .start()
    try {
      stream.addData((ts(1), "a", Array(1)))
      query.processAllAvailable()
      // advance the watermark far past the first window
      stream.addData((ts(30), "a", Array(2)))
      query.processAllAvailable()
      // now try to add data for the long-closed first window
      stream.addData((ts(2), "a", Array(999)))
      query.processAllAvailable()
      stream.addData((ts(59), "a", Array(3)))
      query.processAllAvailable()

      val finalized = spark.table("stream_late")
        .select(col("window.start").cast("string"), col("bloom")).collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      assert(finalized.contains("2026-01-01 10:00:00"), "first window must have finalized")
      val (c, w, _) = BlockedBloom.fromBytes(cfg.k0, cfg.k1, finalized("2026-01-01 10:00:00"))
      assert(BlockedBloom.containsInt(w, c, 1))
      assert(!BlockedBloom.containsInt(w, c, 999),
        "late row beyond the watermark must not reach the finalized sketch")
    } finally query.stop()
  }

  test("streaming decontamination equals the batch operator's per-window recomputation") {
    val dir = "/root/testdata/sf0.001"
    val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)
    val out = StreamingSketch.replayDecontamination(spark, dir, cfg)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // batch recomputation: per-doc distinct grams joined against the eval
    // gram set, rolled up per (doc-derived window, source)
    val t = graft.sources.Tokens.table(spark, dir)
    val grams = graft.operators.Decontamination.gramRows(t, 4)
    val ev = grams.where(col("source") === "src0").select(col("gram")).distinct()
    val perDoc = grams.where(col("source") =!= "src0")
      .join(ev, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"), col("source")).agg(count(lit(1)).as("hits"))
    val expected = t.where(col("source") =!= "src0")
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id", "source"), "left")
      .select(((col("doc_id").cast("long") % 600) / 60).cast("long").as("win"),
        col("source"), coalesce(col("hits"), lit(0L)).as("hits"))
      .groupBy(col("win"), col("source"))
      .agg(sum(when(col("hits") > 0, 1L).otherwise(0L)).as("cd"), sum(col("hits")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out === expected)
    assert(out.nonEmpty)
  }

  test("the replay harness collects up to its cap and refuses one row more") {
    val frame = spark.range(5).toDF("id")
    assert(StreamingSketch.collectCapped(frame, cap = 5).map(_.getLong(0)).sorted.toSeq === (0L until 5L))
    intercept[IllegalArgumentException](StreamingSketch.collectCapped(frame, cap = 4))
  }

  test("a replay whose batch fails restores the shuffle partitions and deletes its checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sinkName = "stream_failing_batch"
    val ckptBase = new java.io.File(graft.ScratchDir.base(), "graft_stream_ckpt")
    def leftBehind = Option(ckptBase.listFiles()).toSeq.flatten.filter(_.getName.startsWith(sinkName + "_"))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val stream = MemoryStream[Int]
    // the first batch succeeds and writes checkpoint state; the second fails
    val out = stream.toDF().select(
      when(col("value") > 1, raise_error(lit("boom"))).otherwise(col("value")).as("v"))
    intercept[Exception](StreamingSketch.replayIntoMemorySink(
      spark, sinkName, "append", out, stream, Seq(Seq(1), Seq(2))))
    assert(spark.table(sinkName).count() === 1L, "the first batch must have run")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    assert(leftBehind.isEmpty, s"checkpoint left behind: ${leftBehind.mkString(", ")}")
  }

  test("DeconScorer: bloom short-circuit never changes the exact hit count") {
    val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)
    val evalGrams = Set("1|2|3|4", "9|9|9|9")
    val words = new Array[Long](cfg.l)
    evalGrams.foreach(g => BlockedBloom.insertString(words, cfg, g))
    val bytes = BlockedBloom.toBytes(words, cfg, BlockedBloom.TypeTag.String)
    val scorer = new StreamingSketch.DeconScorer(
      spark.sparkContext.broadcast((bytes, evalGrams)), cfg.k0, cfg.k1, 4)
    assert(scorer(Array(1, 2, 3, 4, 5)) === 1)    // one planted gram
    assert(scorer(Array(9, 9, 9, 9, 9, 9)) === 1) // repeated gram counts once
    assert(scorer(Array(5, 4, 3, 2, 1)) === 0)    // reversed: no hit
    assert(scorer(Array(1, 2, 3)) === 0)          // shorter than n
  }
}
