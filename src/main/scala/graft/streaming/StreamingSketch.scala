package graft.streaming

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.{BloomConfig, CmsConfig}
import graft.operators.SketchKinds._
import graft.plans.GraftFunctions
import graft.plans.NativeAggs.column

/** Structured Streaming surface: the sketch kinds are associative +
  * commutative monoids, so their native aggregates (`SketchAgg`) drop
  * straight into watermarked windowed `groupBy().agg()` — per-micro-batch
  * partials reduce into the state store's buffer, which holds each sketch
  * in its own wire format, exactly like per-partition partials reduce in
  * batch.
  * This realizes the reference's concurrency story (order-insensitive
  * inserts, non-linearizable union — reference `Internal.hs:443-454,
  * 485-487`) as event-time streaming (SURVEY.md §2.2 "Streaming").
  */
object StreamingSketch {

  /** Replay-harness checkpoint placement: a fresh dir per replay under
    * `ScratchDir.base` (tmpfs with enough free space, else the process
    * tmpdir), deleted after the query stops. Spark's default temp
    * checkpoint lands on /tmp, often disk-backed, and every micro-batch
    * pays offset/commit-log and state-delta writes with checksums per
    * state partition, which is pure I/O latency for a fixture replay (the
    * Bench session already keeps shuffle dirs on /dev/shm for the same
    * reason). Production streams configure a DURABLE checkpoint location;
    * this path is only for the in-process replay of a batch fixture. */
  private def replayCheckpointDir(name: String): java.io.File = {
    val base = new java.io.File(graft.ScratchDir.base(), "graft_stream_ckpt")
    val d = new java.io.File(base, s"${name}_${java.util.UUID.randomUUID()}")
    d.mkdirs()
    d
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Replay harness shared by the driver replays: runs `out` into the
    * memory sink `sinkName` (dropped first) under `outputMode`, feeding
    * `stream` one micro-batch per element of `batches`, then stops the
    * query and deletes its tmpfs checkpoint. The state-store partition
    * count is fixed at stream start from spark.sql.shuffle.partitions; 8
    * stores suffice for the replay volume and cut per-micro-batch store
    * open/commit I/O 4x vs a 32-partition session default (at production
    * scale this is sized to executors). The session value is restored. */
  private def replayIntoMemorySink[T](spark: SparkSession, sinkName: String, outputMode: String,
      out: DataFrame, stream: MemoryStream[T], batches: Seq[Seq[T]]): Unit = {
    spark.catalog.dropTempView(sinkName)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val ckpt = replayCheckpointDir(sinkName)
    try {
      val query = out.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(sinkName)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      try batches.foreach { batch =>
        stream.addData(batch)
        query.processAllAvailable()
      } finally query.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      deleteRecursively(ckpt)
    }
  }

  /** Per-(event-time window, source) Bloom + HLL sketches over a streaming
    * token table with columns (tsCol timestamp, source string,
    * tokens array<int>). Late rows beyond the watermark are dropped by
    * Spark's standard semantics. */
  def perSourceWindowedSketches(
      tokens: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      bloomCfg: BloomConfig,
      hllP: Int): DataFrame = {
    tokens
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col("source"))
      .agg(
        column(Bloom(bloomCfg), col("tokens")).as("bloom"),
        column(HllKind(bloomCfg.k0, bloomCfg.k1, hllP), col("tokens")).as("hll"),
        count(lit(1)).as("n_rows"),
        sum(expr("size(tokens)")).as("n_tokens"))
  }

  /** Driver-checkable streaming query (SparkEntry `q_streaming_bloom_windows`):
    * replay the token fixture through a MemoryStream in several
    * out-of-order micro-batches (the sandbox stand-in for a Kafka/file
    * `readStream`), build per-(event-time window, source) Bloom sketches
    * under Structured Streaming, then probe every finished window's sketch
    * with that window's own token stream — no false negatives, so the
    * per-(window, source) present-count equals the exact token count,
    * which DuckDB recomputes from `documents` directly.
    *
    * Event time is synthetic-but-deterministic: epoch0 + (doc_id mod 600)
    * seconds, giving ten 1-minute windows. Windows are keyed by absolute
    * epoch arithmetic (timezone-proof).
    *
    * NOTE (driver-side materialization): the replay harness collects the
    * token fixture to the driver to feed MemoryStream — that is inherent
    * to replaying a batch fixture as a stream and is CAPPED below; it is
    * NOT a production entry point. Production streams go through
    * [[perSourceWindowedSketches]] on a real `readStream` source. */
  def replayBloomWindows(spark: SparkSession, dir: String,
      bloomCfg: BloomConfig, hllP: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val epoch0 = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    val t = graft.sources.Tokens.table(spark, dir)
    // fixture replay: rows leave the cluster once, as a stream would arrive.
    // Three interleaved chunks -> multiple micro-batches with out-of-order
    // event time (merge order-insensitivity is the property under test).
    val rows = collectReplayRows(t, epoch0)
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val streamed = stream.toDF().toDF("ts", "source", "tokens")
    // watermark covers the whole 600 s replay span: the chunks interleave
    // event time arbitrarily, and this query asserts exact counts, so no
    // replayed row may be dropped as late (late-drop semantics has its own
    // append-mode test in StreamingSketchSpec)
    val windowed = perSourceWindowedSketches(
      streamed, "ts", watermarkDelay = "660 seconds", windowDuration = "60 seconds",
      bloomCfg, hllP)
    val sinkName = "graft_stream_windows"
    replayIntoMemorySink(spark, sinkName, "complete", windowed, stream,
      (0 until 3).map(chunk => rows.filter(r => r._3.length % 3 == chunk).toSeq))

    val probe = t.select(
      ((col("doc_id").cast("long") % 600) / 60).cast("long").as("win"),
      col("source"), explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull) // one tokenize evaluation (SketchQueries.exploded rule)
    probeWindows(probe, spark.table(sinkName), epoch0)
  }

  /** Replay-harness row collection, capped so the fixture path cannot be
    * pointed at a production-size table (driver OOM guard — ADVICE r2). */
  private def collectReplayRows(t: DataFrame, epoch0: Long): Array[(Timestamp, String, Array[Int])] =
    collectReplayRowsId(t, epoch0).map { case (ts, _, src, toks) => (ts, src, toks) }

  /** As [[collectReplayRows]] but retaining the doc id (for replays whose
    * key universe is doc-dependent). */
  private def collectReplayRowsId(
      t: DataFrame, epoch0: Long): Array[(Timestamp, Long, String, Array[Int])] = {
    // single action: limit(cap + 1) + collect, then check the length —
    // the old count() + collect() pair ran the whole tokenization twice
    // per replay (one full pass just to evaluate the require)
    val cap = 2000000
    val rows = t.select(col("doc_id"), col("source"), col("tokens"))
      .limit(cap + 1).collect()
    require(rows.length <= cap,
      s"replay harness materializes the token table on the driver (> $cap rows); " +
        "use perSourceWindowedSketches on a real readStream source for production data")
    rows.map { r =>
      val id = r.getString(0).toLong
      (Timestamp.from(Instant.ofEpochSecond(epoch0 + id % 600)),
        id,
        r.getString(1),
        r.getAs[scala.collection.Seq[Int]](2).toArray)
    }
  }

  /** APPEND-MODE driver query (`q_streaming_append_latedrop`): watermark
    * semantics — not just merge order-insensitivity — under the oracle.
    *
    * Replay plan (event time = epoch0 + doc_id mod 600 s, 60 s windows,
    * 120 s watermark delay):
    *   batch 1: the docs with (doc_id mod 600) >= 300 — after it the
    *            watermark stands at 599 - 120 = 479 s;
    *   batch 2: the docs with (doc_id mod 600) < 300 — every row's window
    *            ends at or before 300 s <= 479 s, so Spark MUST drop all of
    *            them as late (the property under test);
    *   batches 3-4: one empty-token sentinel row each at 900/901 s pushes
    *            the watermark to 780 s, closing (emitting) every real
    *            window; the sentinel's own window never closes and its
    *            source is filtered out of the result.
    * The sink then holds exactly the windows [300 s, 600 s) built from
    * batch-1 rows only. Probing each window's Bloom with the SURVIVING
    * docs' token stream counts exactly (no false negatives), so DuckDB
    * recomputes the result as per-(window, source) token counts WHERE
    * (doc_id % 600) >= 300 — if late rows leaked into state, extra windows
    * or inflated counts would break the hash match. */
  def replayBloomWindowsAppend(spark: SparkSession, dir: String,
      bloomCfg: BloomConfig, hllP: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val epoch0 = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    val t = graft.sources.Tokens.table(spark, dir)
    val rows = collectReplayRows(t, epoch0)
    val (onTime, late) = rows.partition(r => secondOf(r._1, epoch0) >= 300)
    def sentinel(sec: Long) =
      (Timestamp.from(Instant.ofEpochSecond(epoch0 + sec)), "zz_sentinel", Array.empty[Int])

    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val streamed = stream.toDF().toDF("ts", "source", "tokens")
    val windowed = perSourceWindowedSketches(
      streamed, "ts", watermarkDelay = "120 seconds", windowDuration = "60 seconds",
      bloomCfg, hllP)
    val sinkName = "graft_stream_append_windows"
    replayIntoMemorySink(spark, sinkName, "append", windowed, stream,
      Seq(onTime.toSeq, late.toSeq, Seq(sentinel(900)), Seq(sentinel(901))))

    val probe = t
      .where(col("doc_id").cast("long") % 600 >= 300)
      .select(
        ((col("doc_id").cast("long") % 600) / 60).cast("long").as("win"),
        col("source"), explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull) // one tokenize evaluation
    probeWindows(probe, spark.table(sinkName).where(col("source") =!= "zz_sentinel"), epoch0)
  }

  /** Every `(win, source, token)` row of `probe` probed against the filter
    * of its own (window, source) in the replay sink `sink`, counted per
    * (win, source). The sink's filters form one keyed pack, keyed
    * `"<minute>|<source>"` and computed by this query (a scalar subquery),
    * so no bloom column rides a join onto the probe rows; a (win, source)
    * the sink never emitted probes NULL and filters out, exactly like the
    * inner join the pack replaces. */
  private def probeWindows(probe: DataFrame, sink: DataFrame, epoch0: Long): DataFrame = {
    def key(minute: Column) = concat(minute.cast("string"), lit("|"), col("source"))
    val pack = sink.agg(GraftFunctions.bloomPack(
      key(((col("window.start").cast("long") - epoch0) / 60).cast("long")), col("bloom"))).scalar()
    probe
      .where(GraftFunctions.bloomMightContainKeyed(pack, key(col("win")), col("token")))
      .groupBy(col("win"), col("source"))
      .agg(count(lit(1)).as("n_present"))
      .orderBy(col("win"), col("source"))
  }

  private def secondOf(ts: Timestamp, epoch0: Long): Long =
    ts.toInstant.getEpochSecond - epoch0

  /** Streaming heavy-hitter sketches: count-min per (window, source). */
  def windowedCountMin(
      tokens: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      cmsCfg: CmsConfig): DataFrame = {
    tokens
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col("source"))
      .agg(column(Cms(cmsCfg), col("tokens")).as("cms"))
  }

  /** Per-(window, source) KMV distinct sketch. KMV content is fully
    * order-insensitive (the retained bottom-k is a pure function of the
    * element SET), so the state-store merge across micro-batches must be
    * BYTE-IDENTICAL to a batch build over the same window — the strongest
    * streaming ≡ batch equivalence in the family (Bloom shares it; CMS/HLL
    * share it; Misra-Gries does not, by design). */
  def windowedKmv(
      tokens: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      k0: Long, k1: Long, k: Int): DataFrame = {
    tokens
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col("source"))
      .agg(column(KmvKind(k0, k1, k), col("tokens")).as("kmv"))
  }

  /** Per-(window, source) Misra-Gries heavy-hitter summary — "trending
    * tokens per time window" at vocab ≫ summary width. Unlike the
    * Bloom/HLL/CMS/KMV rows, the MG merge is order-DEPENDENT at the byte
    * level (pruning depends on arrival order), so the streaming ≡ batch
    * equivalence here is the GUARANTEE set, not byte identity: for the
    * state-store-merged summary, est(x) <= true(x) <= est(x) + D, every
    * key with true(x) > D is present, and D·capacity <= N hold no matter
    * how micro-batches arrive (tested with out-of-order replays). */
  def windowedHeavyHitters(
      tokens: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      capacity: Int): DataFrame =
    windowedHeavyHittersKeys(
      tokens.select(col(tsCol), col("source"), explode(col("tokens")).as("token"))
        .select(col(tsCol), col("source"), col("token").cast("long").as("key")),
      tsCol, "key", watermarkDelay, windowDuration, capacity)

  /** [[windowedHeavyHitters]] over an already-keyed stream (tsCol, source,
    * keyCol bigint) — for callers that derive their own key universe. */
  def windowedHeavyHittersKeys(
      keyed: DataFrame,
      tsCol: String,
      keyCol: String,
      watermarkDelay: String,
      windowDuration: String,
      capacity: Int): DataFrame = {
    keyed
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col("source"))
      .agg(column(HeavyHitters(capacity), col(keyCol)).as("hh"))
  }

  /** Complete-mode driver query (`q_streaming_trending_tokens`): the
    * windowed Misra-Gries "trending tokens" operator under the DuckDB
    * oracle. The fixture replays through a MemoryStream in out-of-order
    * micro-batches; the key universe is blown up doc-dependently ON THE
    * STREAM (tokens with id % 5 == 0 keep their mass, every other
    * occurrence splits into ~101 sub-keys — vocab ≫ capacity, the same
    * formula as the batch gate `q_heavyhitter_mg_bound`). For every
    * (60 s window, source) the state-store-merged summary is read through
    * the native `graft_heavyhitter_summary` struct and its EXACT
    * guarantees are asserted against exactly-recomputed per-window counts
    * by the batch gates' own check (`SketchQueries.mgGuaranteeGate`):
    * est ≤ true ≤ est + D for stored keys, presence of every key with
    * true > D, and D·capacity ≤ N. The booleans are invariant to
    * micro-batch arrival order (MG's merge is order-dependent at the BYTE
    * level, but the guarantees are not), so the DuckDB oracle enumerates
    * the (window, source) domain as constant-true rows. */
  def replayTrendingTokens(spark: SparkSession, dir: String, capacity: Int = 16): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val epoch0 = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    val t = graft.sources.Tokens.table(spark, dir)
    val rows = collectReplayRowsId(t, epoch0)
    val stream = MemoryStream[(Timestamp, Long, String, Array[Int])]
    val streamed = stream.toDF().toDF("ts", "doc_id", "source", "tokens")
    // the SAME blow-up as the batch MG gates — one shared definition
    val blowup = graft.SketchQueries.keyBlowup _
    val keyed = streamed
      .select(col("ts"), col("source"), col("doc_id"), explode(col("tokens")).as("token"))
      .select(col("ts"), col("source"), blowup(col("token"), col("doc_id")).as("key"))
    val windowed = windowedHeavyHittersKeys(
      keyed, "ts", "key", watermarkDelay = "660 seconds", windowDuration = "60 seconds",
      capacity)
    val sinkName = "graft_stream_trending"
    replayIntoMemorySink(spark, sinkName, "complete", windowed, stream,
      (0 until 3).map(chunk => rows.filter(r => r._4.length % 3 == chunk).toSeq))

    val winCol = ((col("window.start").cast("long") - epoch0) / 60).cast("long").as("win")
    // materialize the sink ONCE (<= #windows x #sources summary rows): the
    // gate reuses it in three branches, and Spark's self-join attribute
    // dedup does not handle the memory-sink view (INTERNAL_ERROR:
    // conflicting references); a LocalRelation self-joins fine
    val sinkSel = spark.table(sinkName).select(winCol, col("source"), col("hh").as("sk"))
    val sinkRows = sinkSel.collect()
    val sk = spark.createDataFrame(java.util.Arrays.asList(sinkRows: _*), sinkSel.schema)
    val exact = t
      .select(((col("doc_id").cast("long") % 600) / 60).cast("long").as("win"),
        col("source"), col("doc_id"), explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull) // one tokenize evaluation
      .select(col("win"), col("source"), blowup(col("token"), col("doc_id")).as("key"))
      .groupBy(col("win"), col("source"), col("key")).agg(count(lit(1)).as("cnt"))
    graft.SketchQueries.mgGuaranteeGate(sk, exact, capacity, Seq("win", "source"))
  }

  /** SESSION-WINDOW driver query (`q_streaming_session_kmv`): dynamic-gap
    * session windows under the oracle. Event time is a deterministic
    * two-scale function of doc_id —
    *   ts = epoch0 + ((doc_id div 20) mod 5)·200 s + ((doc_id div 100) mod 3)·20 s
    * — so each (source, (doc_id div 20) mod 5) group forms EXACTLY one
    * session under a 60 s gap (intra-group gaps <= 40 s < 60; inter-group
    * gaps >= 160 s > 60; both engines enumerate sessions as sess =
    * (doc_id div 20) mod 5, FIVE per source — the div-20 scale cuts
    * across the fixture's source = doc_id mod 20 assignment, so sessions
    * genuinely split within a source). The fixture replays out of order
    * across 3 micro-batches
    * (state-store session merge exercised), then sentinel rows advance
    * the watermark past every real session's end so append mode emits
    * each closed session exactly once. Per (source, sess), all exact:
    *  - bytes_match: the state-store-merged session KMV is BYTE-IDENTICAL
    *    to a direct batch build over the same docs' tokens (KMV content
    *    is a pure function of the element set);
    *  - bounds_ok: emitted session bounds equal [min event, max event +
    *    gap) recomputed exactly in batch;
    *  - est_within_bound: the distinct estimate is within the KMV margin
    *    of the exact per-session distinct count (exact below saturation).
    * A split/merged/leaked session would double or drop a (source, sess)
    * row and break the oracle's row enumeration. */
  def replaySessionKmv(spark: SparkSession, dir: String,
      k0: Long, k1: Long, k: Int): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val epoch0 = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    val t = graft.sources.Tokens.table(spark, dir)
    val rows = collectReplayRowsId(t, epoch0).map { case (_, id, src, toks) =>
      (Timestamp.from(Instant.ofEpochSecond(
        epoch0 + ((id / 20) % 5) * 200 + ((id / 100) % 3) * 20)), id, src, toks)
    }
    val stream = MemoryStream[(Timestamp, Long, String, Array[Int])]
    val streamed = stream.toDF().toDF("ts", "doc_id", "source", "tokens")
      .select(col("ts"), col("source"), col("tokens"))
    // watermark must cover the whole replayed span (840 s): out-of-order
    // chunks would otherwise drop earlier-timestamped rows as late
    val out = sessionKmv(streamed, "ts", watermarkDelay = "900 seconds",
      gapDuration = "60 seconds", k0, k1, k)
    val sinkName = "graft_stream_session_kmv"
    // sentinels: watermark -> 5001 - 900 = 4101 s > every session end
    def sentinel(sec: Long) =
      Seq((Timestamp.from(Instant.ofEpochSecond(epoch0 + sec)), -1L, "zz", Array.empty[Int]))
    replayIntoMemorySink(spark, sinkName, "append", out, stream,
      (0 until 3).map(chunk => rows.filter(r => r._4.length % 3 == chunk).toSeq) ++
        Seq(sentinel(5000), sentinel(5001)))

    // materialize the <= sources x 5 session rows once (LocalRelation —
    // the memory-sink view does not survive the gate's joins, see
    // replayTrendingTokens)
    val sinkSel = spark.table(sinkName)
      .where(col("source") =!= "zz")
      .select(col("session_window.start").cast("long").as("start"),
        col("session_window.end").cast("long").as("end"),
        col("source"), col("kmv"))
    val sinkRows = sinkSel.collect()
    val sk = spark.createDataFrame(java.util.Arrays.asList(sinkRows: _*), sinkSel.schema)
      .withColumn("sess", floor((col("start") - epoch0) / 200L).cast("long"))
    val batch = t
      .select(col("doc_id").cast("long").as("id"), col("source"), col("tokens"))
      .withColumn("sess", pmod(floor(col("id") / 20L).cast("long"), lit(5L)))
      .withColumn("off", pmod(floor(col("id") / 100L).cast("long"), lit(3L)) * 20L)
    val batchAgg = batch
      .groupBy(col("source"), col("sess"))
      .agg(column(KmvKind(k0, k1, k), col("tokens")).as("kmv_batch"),
        min(col("off")).as("min_off"), max(col("off")).as("max_off"))
    val exactNd = batch
      .select(col("source"), col("sess"), explode_outer(col("tokens")).as("token"))
      .where(col("token").isNotNull) // one tokenize evaluation
      .groupBy(col("source"), col("sess"))
      .agg(countDistinct(col("token")).as("nd"))
    val margin = 4.0 / math.sqrt((k - 2).toDouble)
    sk
      .join(batchAgg, Seq("source", "sess"))
      .join(exactNd, Seq("source", "sess"), "left")
      .select(col("source"), col("sess"),
        (col("kmv") === col("kmv_batch")).as("bytes_match"),
        (col("start") === lit(epoch0) + col("sess") * 200L + col("min_off") &&
          col("end") === lit(epoch0) + col("sess") * 200L + col("max_off") + 60L).as("bounds_ok"),
        (abs(KmvEstimate.column(col("kmv")) -
          coalesce(col("nd"), lit(0L)).cast("double")) <=
          greatest(lit(margin) * coalesce(col("nd"), lit(0L)).cast("double"), lit(0.5)))
          .as("est_within_bound"))
      .orderBy(col("source"), col("sess"))
  }

  /** SESSION-window KMV: per-(activity session, source) distinct-token
    * sketch, where a session extends while events arrive within
    * `gapDuration` of each other (Spark's `session_window` — the dynamic
    * windowing mode the fixed tumbling windows above don't cover; think
    * per-user-session distinct counts). Sessions merge across micro-batches
    * in the state store exactly like the tumbling rows — KMV's
    * order-insensitive content makes the merged session sketch a pure
    * function of the session's element set (byte-identity tested and
    * driver-gated, `q_streaming_session_kmv`). Append output requires the
    * watermark; closed sessions emit once. */
  def sessionKmv(
      tokens: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      gapDuration: String,
      k0: Long, k1: Long, k: Int): DataFrame = {
    tokens
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gapDuration), col("source"))
      .agg(column(KmvKind(k0, k1, k), col("tokens")).as("kmv"))
  }

  /** Per-(window, source) WEIGHTED bottom-k sample over keyed rows
    * (tsCol, source, id bigint, w bigint): inclusion probability ∝ w,
    * Efraimidis–Spirakis keys ([[graft.core.BottomK.esKey]]). Like the
    * uniform sample, the retained set is a pure function of the
    * (id, w) set — order-insensitive — so the state-store merge across
    * out-of-order micro-batches is BYTE-IDENTICAL to a serial build
    * (tested): deterministic weighted streaming sampling, e.g. "k docs
    * per window weighted by n_tok". */
  def windowedWeightedSample(
      rows: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      k0: Long, k1: Long, k: Int): DataFrame = {
    rows
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col("source"))
      .agg(column(Sample(k0, k1, k, weighted = true), col("id"), col("w")).as("sample"))
  }

  /** Per-(window, source) bottom-k uniform sample of distinct tokens
    * ([[graft.core.BottomK]]). The retained sample is a pure function of
    * the element SET — order-insensitive like KMV — so the state-store
    * merge across micro-batches is BYTE-IDENTICAL to a serial build over
    * the same window (tested): deterministic streaming sampling. */
  def windowedSample(
      tokens: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      k0: Long, k1: Long, k: Int): DataFrame = {
    tokens
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col("source"), explode(col("tokens")).as("token"))
      .groupBy(window(col(tsCol), windowDuration), col("source"))
      .agg(column(Sample(k0, k1, k, weighted = false), col("token").cast("long")).as("sample"))
  }

  /** Per-row decontamination scorer for the streaming twin: number of the
    * doc's distinct n-grams present in the eval set. The Bloom is the
    * short-circuit (almost every gram of an uncontaminated doc stops at
    * ~k word probes), the exact set decides — same FP-immune semantics as
    * the batch operator's prefilter + confirm join (which BROADCASTS its
    * eval side, `Decontamination.decontaminate`); the eval artifacts here
    * ride a `Broadcast` handle for the same reason — only the tiny handle
    * is serialized into the UDF closure per task, while the bytes + gram
    * set ship to each executor ONCE over the broadcast mechanism (a
    * production eval set is millions of grams; closure capture would
    * re-serialize it into every task binary). A serializable `Function1`
    * class (not a lambda) so the parsed Bloom is rebuilt lazily per
    * executor, and array arguments go through Scala's converters. */
  final class DeconScorer(bc: org.apache.spark.broadcast.Broadcast[(Array[Byte], Set[String])],
      k0: Long, k1: Long, n: Int) extends (Array[Int] => Int) with Serializable {
    @transient private lazy val parsed =
      graft.core.BlockedBloom.fromBytes(k0, k1, bc.value._1)
    override def apply(tokens: Array[Int]): Int = {
      val (cfg, words, _) = parsed
      val evalGrams = bc.value._2
      val grams = graft.operators.Decontamination.gramStrings(tokens, n)
      var hits = 0
      var i = 0
      while (i < grams.length) {
        val g = grams(i)
        if (graft.core.BlockedBloom.containsString(words, cfg, g) && evalGrams(g)) hits += 1
        i += 1
      }
      hits
    }
  }

  /** Streaming windowed contamination rollup: per (event-time window,
    * source), contaminated-doc and distinct-gram-hit counts of the doc
    * stream against static eval artifacts. Stateless map-side scoring +
    * one windowed sum — the state store holds two longs per (window,
    * source), row-count-independent. */
  def windowedDecon(docs: DataFrame, tsCol: String, watermarkDelay: String,
      windowDuration: String, scorer: DeconScorer): DataFrame = {
    val hitsUdf = udf(scorer)
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col("source"), hitsUdf(col("tokens")).as("hits"))
      .groupBy(window(col(tsCol), windowDuration), col("source"))
      .agg(sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_contam_docs"),
        sum(col("hits")).as("n_hits"))
  }

  /** Driver query (`q_streaming_decon`): the streaming twin of
    * [[graft.operators.Decontamination.decontaminate]]. Eval artifacts
    * (gram set + Bloom) are built batch-side from the held-out source;
    * the TRAIN docs replay through a MemoryStream in three interleaved
    * chunks (out-of-order event time — sum-monoid merge invariance is the
    * property under the gate) and every (window, source) cell's counts
    * are exact, so DuckDB recomputes them all from raw text. */
  def replayDecontamination(spark: SparkSession, dir: String,
      bloomCfg: BloomConfig, evalSource: String = "src0", n: Int = 4): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val epoch0 = Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    val t = graft.sources.Tokens.table(spark, dir)
    // batch-side eval artifacts — exactly what a production stream job
    // ships to executors (benchmark eval sets are small by construction)
    val evalGrams = graft.operators.Decontamination
      .gramRows(t.where(col("source") === evalSource), n)
      .select(col("gram")).distinct().collect().map(_.getString(0)).toSet
    val bloomBytes = {
      val words = new Array[Long](bloomCfg.l)
      evalGrams.foreach(g => graft.core.BlockedBloom.insertString(words, bloomCfg, g))
      graft.core.BlockedBloom.toBytes(words, bloomCfg, graft.core.BlockedBloom.TypeTag.String)
    }
    val scorer = new DeconScorer(
      spark.sparkContext.broadcast((bloomBytes, evalGrams)), bloomCfg.k0, bloomCfg.k1, n)

    val rows = collectReplayRows(t.where(col("source") =!= evalSource), epoch0)
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val streamed = stream.toDF().toDF("ts", "source", "tokens")
    val windowed = windowedDecon(
      streamed, "ts", watermarkDelay = "660 seconds", windowDuration = "60 seconds", scorer)
    val sinkName = "graft_stream_decon"
    replayIntoMemorySink(spark, sinkName, "complete", windowed, stream,
      (0 until 3).map(chunk => rows.filter(r => r._3.length % 3 == chunk).toSeq))

    spark.table(sinkName).select(
      ((col("window.start").cast("long") - epoch0) / 60).cast("long").as("win"),
      col("source"), col("n_contam_docs"), col("n_hits"))
      .orderBy(col("win"), col("source"))
  }
}
