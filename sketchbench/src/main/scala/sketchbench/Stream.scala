package sketchbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.core._
import graft.streaming.StreamingSketch

import Workloads._

/** What one open-loop stream run observed. */
final case class StreamRun(
    latencies: Array[Double], // seconds, one per event
    batches: Int,
    failedBatches: Int,
    tokensPerS: Double,
    genLateMax: Double,
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
    runId: String,
    hllWorst: Double)

/** `stream`: windowed per-source Bloom+HLL under Structured Streaming, fed
  * by an open-loop generator at a fixed offered rate. */
final class StreamWorkload(env: Env, size: Size, val docsPerSecond: Int) extends Inputs {
  val tickMs = 100
  /** A fixed trigger, with headroom over what a micro-batch takes at the
    * offered rate, so a briefly slower machine does not start a backlog. */
  val triggerMs = 2000
  val window = "2 seconds"
  private val docsPerTick = docsPerSecond * tickMs / 1000
  private var ticks: Array[Array[Gen.Doc]] = _
  private var input: DataFrame = _

  def tokenFrame: DataFrame = input
  def vocab: Int = size.vocab
  def bloomCfg: BloomConfig = Cfg.bloomCfg
  def tokenSample: Array[Int] = flatSample(ticks.flatten, 1 << 20)
  def docWords: Array[Array[String]] = ticks.flatten.take(2000).map(_.tokens.map(Gen.word))

  /** Generate every tick's docs for `seconds` of offered load. */
  def prepare(seconds: Double): Unit = {
    val r = Gen.rng(env.conf.seed, "stream")
    val n = math.max(1, math.round(seconds * 1000 / tickMs).toInt)
    val all = Gen.corpus(r, n * docsPerTick, size.avgLen, new Gen.Zipf(size.vocab, 1.1),
      Gen.sourceNames(size.sources), "s")
    ticks = all.grouped(docsPerTick).toArray
    input = env.cached("tokens", (size, docsPerSecond, n), tokenSchema, tokenRows(all))
  }

  /** Offer `ticks` at the fixed rate, wait for the query to drain, then
    * check the last emitted sketch of every (window, source) against a
    * batch aggregation of the same rows. */
  def run(name: String, tr: Tracer, nTicks: Int = Int.MaxValue, bursts: Int = 3): StreamRun = {
    val spark = env.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val use = ticks.take(nTicks)
    val stream = MemoryStream[(Timestamp, String, Array[Int])]
    val sketches = StreamingSketch.perSourceWindowedSketches(
      stream.toDF().toDF("ts", "source", "tokens"), "ts",
      watermarkDelay = "1 hour", windowDuration = window, Cfg.bloomCfg, Cfg.hllP)
    val latest = new ConcurrentHashMap[(Long, String), (Row, Long)]()
    val emitNs = new ConcurrentHashMap[Long, Long]()
    val sinkFn: (DataFrame, Long) => Unit = (df, id) => {
      df.collect().foreach { r =>
        latest.put((r.getStruct(0).getTimestamp(0).getTime, r.getString(1)), (r, id))
      }
      emitNs.put(id, System.nanoTime())
    }
    val ckpt = new java.io.File(env.work, s"stream_$name")
    val dueNs = new Array[Long](use.length)
    val appendNs = new Array[Long](use.length)
    val offsets = new Array[Long](use.length)
    val rowsOf = new Array[Seq[(Timestamp, String, Array[Int])]](use.length)
    val t0Ms = System.currentTimeMillis() + 500
    val t0Ns = System.nanoTime() + 500L * 1000000
    var i = 0
    while (i < use.length) {
      val ts = new Timestamp(t0Ms + i.toLong * tickMs)
      rowsOf(i) = use(i).toSeq.map(d => (ts, d.source, d.tokens))
      dueNs(i) = t0Ns + i.toLong * tickMs * 1000000
      i += 1
    }
    val burstTs = new Timestamp(t0Ms + (use.length + 10L) * tickMs)
    val burst = use.iterator.flatten.map(d => (burstTs, d.source, d.tokens)).toSeq
    val burstOffsets = mutable.ArrayBuffer.empty[Long]
    val query = tr.span(s"streaming.$name") {
      val q = sketches.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.ProcessingTime(s"$triggerMs milliseconds"))
        .foreachBatch(sinkFn).start()
      // open loop: each tick is appended when due, however far behind the
      // query is; the generator's own lateness is reported
      val gen = new Thread(() => {
        var j = 0
        while (j < use.length) {
          val wait = (dueNs(j) - System.nanoTime()) / 1000000
          if (wait > 0) Thread.sleep(wait)
          offsets(j) = stream.addData(rowsOf(j)).json().toLong
          appendNs(j) = System.nanoTime()
          j += 1
        }
      }, "sketchbench-generator")
      gen.start()
      gen.join()
      try {
        q.processAllAvailable()
        // then backlogs: the same docs again in one append, each drained as
        // one micro-batch; their drain rate is the stream's throughput
        for (_ <- 1 to bursts) {
          burstOffsets += stream.addData(burst).json().toLong
          q.processAllAvailable()
        }
      } finally q.stop()
      q
    }
    Env.deleteRecursively(ckpt)
    val progress = query.recentProgress.toSeq
    val failedRun = query.exception.isDefined

    // tick j is emitted by the first batch whose end offset covers it
    val ends = progress.filter(p => p.sources.nonEmpty && p.sources(0).endOffset != null)
      .map(p => (p.batchId, p.sources(0).endOffset.trim.toLong))
      .filter { case (b, _) => emitNs.containsKey(b) }.sortBy(_._1)
    val lat = mutable.ArrayBuffer.empty[Double]
    var missing = 0
    for (j <- use.indices) {
      ends.find(_._2 >= offsets(j)) match {
        case Some((b, _)) =>
          val l = (emitNs.get(b) - dueNs(j)) / 1e9
          for (_ <- use(j).indices) lat += l
        case None => missing += 1
      }
    }

    // a backlog batch's own duration: the wait for its trigger is not work
    val burstS = burstOffsets.flatMap(off => progress.find(p => p.sources.nonEmpty &&
      p.sources(0).endOffset != null && p.sources(0).endOffset.trim.toLong >= off))
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue / 1e3)).toSeq
    if (burstS.length < bursts) missing += 1
    val allRows = rowsOf.iterator.flatten.toSeq ++ Seq.fill(bursts)(burst).flatten
    val reference = StreamingSketch.perSourceWindowedSketches(
      allRows.toDF("ts", "source", "tokens"), "ts", "1 hour", window, Cfg.bloomCfg, Cfg.hllP)
      .collect().map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getString(1)) -> r).toMap
    val got = latest.asScala.toMap
    val badBatches = mutable.Set.empty[Long]
    var hllWorst = 0.0
    (reference.keySet ++ got.keySet).foreach { k =>
      (reference.get(k), got.get(k)) match {
        case (Some(want), Some((have, b))) =>
          val same = !env.conf.wrongExpected &&
            java.util.Arrays.equals(want.getAs[Array[Byte]]("bloom"), have.getAs[Array[Byte]]("bloom")) &&
            java.util.Arrays.equals(want.getAs[Array[Byte]]("hll"), have.getAs[Array[Byte]]("hll")) &&
            want.getAs[Long]("n_rows") == have.getAs[Long]("n_rows") &&
            want.getAs[Long]("n_tokens") == have.getAs[Long]("n_tokens")
          if (!same) badBatches += b
        case (_, Some((_, b))) => badBatches += b
        case (Some(_), None) => badBatches += -1L
        case _ =>
      }
    }
    // HLL error per (window, source) against the exact distinct count
    val exact = allRows.groupBy { case (ts, s, _) =>
      (ts.getTime - Math.floorMod(ts.getTime, 2000L), s) }
      .map { case (k, rs) => k -> rs.flatMap(_._3).distinct.length }
    got.foreach { case (k, (row, _)) =>
      exact.get(k).foreach { n =>
        val (p, regs, _) = Hll.fromBytes(row.getAs[Array[Byte]]("hll"))
        hllWorst = math.max(hllWorst, math.abs(Hll.estimate(regs) - n) / n / Hll.stdError(p))
      }
    }
    val batches = math.max(1, emitNs.size)
    val failed = if (failedRun || missing > 0) batches else math.min(batches, badBatches.size)
    // below capacity an open loop delivers the offered rate by construction,
    // so throughput is the drain rate of the backlog burst
    val tokens = use.iterator.flatten.map(_.tokens.length.toLong).sum
    StreamRun(lat.toArray, batches, failed,
      tokensPerS = if (burstS.isEmpty) 0.0 else tokens / Stats.median(burstS),
      genLateMax = use.indices.map(j => (appendNs(j) - dueNs(j)) / 1e9).max,
      progress, query.runId.toString, hllWorst)
  }
}
