package sketchbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Decontamination
import graft.operators.SketchAggs.{BloomTokensAgg, CmsTokensAgg, HllTokensAgg}
import graft.plans.{GraftFunctions, NativeAggs}

import Workloads._

final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
    smoke: Boolean, wrongExpected: Boolean, out: File)

object Env {
  /** (bytes, files) of the data files under `dir` (checksums and markers excluded). */
  def dirSize(dir: File): (Long, Long) = {
    val files = Option(dir.listFiles()).toSeq.flatten
    files.foldLeft((0L, 0L)) { case ((b, n), f) =>
      if (f.isDirectory) { val (b2, n2) = dirSize(f); (b + b2, n + n2) }
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) (b, n)
      else (b + f.length, n + 1)
    }
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}

/** The session, the run's directories and the engine listener. */
final class Env(val spark: SparkSession, val conf: Conf, val listener: Option[EngineListener]) {
  val work = new File(conf.out, s"work/${conf.workload}-${ProcessHandle.current().pid()}")
  work.mkdirs()

  /** The generated table, written once per (workload, input shape, seed):
    * a directory with Spark's `_SUCCESS` commit marker is reused as is. */
  def cached(table: String, shape: Any, schema: StructType, rows: => Seq[Row]): DataFrame = {
    val key = java.lang.Integer.toHexString(shape.toString.hashCode)
    val dir = new File(conf.out, s"data/${conf.workload}-$key-seed${conf.seed}/$table")
    if (!new File(dir, "_SUCCESS").exists()) {
      Env.deleteRecursively(dir)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema).write.parquet(dir.getPath)
    }
    spark.read.parquet(dir.getPath)
  }

  /** Engine counters of the given spans, once every event is delivered. */
  def counters(spans: Seq[Span]): GroupCounters = listener match {
    case Some(l) =>
      org.apache.spark.SketchbenchBus.drain(spark.sparkContext)
      l.sum(spans.map(_.id.toString))
    case None => new GroupCounters
  }
}

object Main {
  val EndToEnd = Seq("tokens_per_s" -> "tokens/s", "latency_s_p50" -> "s", "setup_s" -> "s",
    "retained_heap_mb" -> "MB")

  def sizes(smoke: Boolean): Map[String, Size] = {
    val d = if (smoke) 20 else 1
    Map(
      "build" -> Size(docs = 30000 / d, avgLen = 64, vocab = 50000, sources = 8),
      "probe" -> Size(docs = 8000 / d, avgLen = 64, vocab = 50000, sources = 8, evalDocs = 4000 / d),
      "dedup" -> Size(docs = 2000 / d, avgLen = 80, vocab = 50000, sources = 8, clusters = 200 / d),
      "stream" -> Size(docs = 0, avgLen = 32, vocab = 50000, sources = 8))
  }
  /** Offered rate of the stream workload, below the capacity measured on
    * 4 cores (see README.md). */
  val StreamDocsPerSecond = 2000
  val SetupReps = 3
  val MinLaps = 2

  private def usage(msg: String): Nothing = {
    System.err.println(s"sketchbench: $msg\nusage: --workload build|probe|dedup|stream --seed N " +
      "--seconds S --trace 0|1 --out DIR [--smoke 1] [--wrong-expected 1]")
    sys.exit(2)
  }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (!sizes(false).contains(w)) usage(s"unknown workload $w")
    Conf(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("smoke").contains("1"), m.get("wrong-expected").contains("1"), new File(need("out")))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val cpuBefore = cpuTicks()
    val cotenancyBefore = Kernels.cotenancyNs()
    val slots = math.min(4, Runtime.getRuntime.availableProcessors())
    val (spark, sessionS) = secondsOf {
      val s = SparkSession.builder()
        .master(s"local[$slots]")
        .appName(s"sketchbench-${conf.workload}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", slots.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        // the status store keeps a bounded history of finished jobs, stages
        // and queries; a small bound keeps retained heap independent of how
        // many laps fit in the run
        .config("spark.ui.retainedJobs", "16")
        .config("spark.ui.retainedStages", "16")
        .config("spark.ui.retainedTasks", "1024")
        .config("spark.sql.ui.retainedExecutions", "16")
        .config("spark.ui.retainedDeadExecutors", "0")
        .config("spark.local.dir", new File(conf.out, "work/spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(conf.out, "work/warehouse").getAbsolutePath)
        .config("spark.hadoop.hadoop.tmp.dir", new File(conf.out, "work/hadoop").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      GraftFunctions.register(s)
      NativeAggs.register(s, Cfg.bloomK, Cfg.bloomLog2l, Cfg.hllP, Cfg.cmsDepth, Cfg.cmsLog2Width, K0, K1)
      s
    }
    val listener = if (conf.trace) Some(new EngineListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val env = new Env(spark, conf, listener)
    spark.sparkContext.setCheckpointDir(new File(env.work, "cc-checkpoint").getAbsolutePath)
    val tracer = new Tracer(spark.sparkContext, enabled = conf.trace)

    val result = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val size = sizes(conf.smoke)(conf.workload)
    val inputs: Inputs = conf.workload match {
      case "stream" =>
        val w = new StreamWorkload(env, size, if (conf.smoke) StreamDocsPerSecond / 4 else StreamDocsPerSecond)
        val prepS = (1 to SetupReps).map(_ => secondsOf(w.prepare(conf.seconds))._2)
        val (_, warmS) = secondsOf(w.run("warmup", new Tracer(spark.sparkContext, false), nTicks = 10, bursts = 1))
        val setupS = sessionS + Stats.median(prepS) + warmS
        notes += f"setup session_s $sessionS%.3f prepare_s ${prepS.map(x => f"$x%.3f").mkString(",")} warmup_s $warmS%.3f"
        if (!conf.trace) {
          val r = try w.run("main", tracer) catch { case NonFatal(e) =>
            notes += s"stream run threw: $e"; null }
          if (r == null) { attempted = 1; failed = 1 }
          else {
            attempted = r.batches; failed = r.failedBatches
            val (tp, tv, tn) = Stats.tail(r.latencies.toSeq)
            result ++= Seq(
              "tokens_per_s" -> (r.tokensPerS, "tokens/s"),
              "latency_s_p50" -> (Stats.median(r.latencies.toSeq), "s"),
              "setup_s" -> (setupS, "s"),
              "retained_heap_mb" -> (retainedHeapMb(), "MB"))
            notes += f"metric latency_s_tail $tv%.6f s (p$tp%s of ${r.latencies.length} events, $tn beyond)"
            notes += f"metric hll_err_ratio ${r.hllWorst}%.4f ratio (worst (window, source) |err| / (1.04/sqrt m))"
            notes += s"offered_rate ${w.docsPerSecond} docs/s in ${w.tickMs} ms ticks; micro-batches ${r.batches}"
          }
        } else {
          val half = math.max(10, (conf.seconds * 1000 / w.tickMs / 2).toInt)
          val plain = w.run("untraced", new Tracer(spark.sparkContext, false), half)
          val traced = w.run("traced", tracer, half)
          attempted = plain.batches + traced.batches
          failed = plain.failedBatches + traced.failedBatches
          val p = traced.progress.filter(_.numInputRows > 0)
          def dur(keys: String*) = if (p.isEmpty) 0.0 else
            Stats.median(p.map(x => keys.map(k => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3))
          val state = p.lastOption.flatMap(_.stateOperators.headOption).map(_.memoryUsedBytes.toDouble).getOrElse(0.0)
          org.apache.spark.SketchbenchBus.drain(spark.sparkContext)
          val c = listener.get.sum(Seq(traced.runId))
          val wall = tracer.named("streaming.traced").map(_.seconds).sum
          result ++= engineFigures(Seq(c), Seq(wall), slots)
          result ++= Seq(
            "streaming.batch_s_p50" -> (dur("triggerExecution"), "s"),
            "streaming.planning_s_p50" -> (dur("queryPlanning"), "s"),
            "streaming.commit_s_p50" -> (dur("walCommit", "commitOffsets"), "s"),
            "streaming.state_bytes" -> (state, "bytes"),
            "streaming.gen_late_s_max" -> (traced.genLateMax, "s"),
            "trace.overhead_ratio" -> (Stats.median(traced.latencies.toSeq) / Stats.median(plain.latencies.toSeq), "ratio"))
        }
        w
      case name =>
        val w: BatchWorkload = name match {
          case "build" => new BuildWorkload(env, size)
          case "probe" => new ProbeWorkload(env, size)
          case "dedup" => new DedupWorkload(env, size)
        }
        val prepS = (1 to SetupReps).map(_ => secondsOf(w.prepare())._2)
        val off = new Tracer(spark.sparkContext, false)
        val (_, warmS) = secondsOf(w.lap(off))
        val setupS = sessionS + Stats.median(prepS) + warmS
        notes += f"setup session_s $sessionS%.3f prepare_s ${prepS.map(x => f"$x%.3f").mkString(",")} warmup_s $warmS%.3f"
        val plainS = mutable.ArrayBuffer.empty[Double]
        val tracedLaps = mutable.ArrayBuffer.empty[(Span, Double)]
        var plainTried, tracedTried = 0
        val t0 = System.nanoTime()
        def elapsed = (System.nanoTime() - t0) / 1e9
        // trace 1 alternates untraced and traced laps, for the overhead
        while (elapsed < conf.seconds || plainTried < MinLaps || (conf.trace && tracedTried < MinLaps)) {
          val traceThis = conf.trace && plainTried > tracedTried
          if (traceThis) tracedTried += 1 else plainTried += 1
          attempted += 1
          try {
            if (traceThis) {
              var secs = 0.0
              val ok = tracer.span("lap") { val (s, g) = w.lap(tracer); secs = s; g }
              tracedLaps += ((tracer.named("lap").last, secs))
              if (!ok) failed += 1
            } else {
              val (s, ok) = w.lap(off)
              plainS += s
              if (!ok) failed += 1
            }
          } catch { case NonFatal(e) => failed += 1; notes += s"lap threw: $e" }
        }
        if (!conf.trace) {
          val p50 = if (plainS.isEmpty) 0.0 else Stats.median(plainS.toSeq)
          val (tp, tv, tn) = if (plainS.isEmpty) (0.0, 0.0, 0) else Stats.tail(plainS.toSeq)
          result ++= Seq(
            "tokens_per_s" -> (if (p50 > 0) w.tokensPerLap / p50 else 0.0, "tokens/s"),
            "latency_s_p50" -> (p50, "s"),
            "setup_s" -> (setupS, "s"),
            "retained_heap_mb" -> (retainedHeapMb(), "MB"))
          notes += f"metric latency_s_tail $tv%.6f s (p$tp%s of ${plainS.length} laps, $tn beyond)"
          w.report().foreach { case (k, v, u) => notes += f"metric $k $v%.6f $u" }
          notes += s"laps ${plainS.length}; tokens per lap ${w.tokensPerLap}"
        } else {
          val counters = tracedLaps.map { case (s, _) => env.counters(tracer.subtree(s.id)) }
          result ++= engineFigures(counters.toSeq, tracedLaps.map(_._1.seconds).toSeq, slots)
          result ++= w.layerFigures(tracer, env).map { case (k, v) => k -> (v, unitOf(k)) }
          if (tracedLaps.nonEmpty && plainS.nonEmpty)
            result += "trace.overhead_ratio" ->
              (Stats.median(tracedLaps.map(_._2).toSeq) / Stats.median(plainS.toSeq), "ratio")
        }
        w
    }

    if (conf.trace) {
      result ++= frames(env, tracer, inputs)
      result ++= Kernels.measure(inputs.tokenSample, inputs.vocab, inputs.bloomCfg, EvalCfg, Cfg.hllP,
        Cfg.cmsCfg, inputs.docWords)
        .map { case (k, v) => k -> (v, unitOf(k)) }
      // every per-layer name is printed; a layer this workload never calls reads 0
      for ((k, u) <- PerLayer if !result.contains(k)) result += k -> (0.0, u)
      val spanFile = new File(conf.out, s"trace/${conf.workload}-seed${conf.seed}-${ProcessHandle.current().pid()}.jsonl")
      tracer.write(spanFile, id => env.counters(Seq(tracer.spans(id - 1))).toMap)
      notes += s"spans ${spanFile.getPath} (${tracer.spans.length} spans)"
    }

    val cotenancyAfter = Kernels.cotenancyNs()
    val cpuAfter = cpuTicks()
    // share of CPU time the host gave to other guests during the run
    val stealPct = 100.0 * (cpuAfter._2 - cpuBefore._2) / math.max(1L, cpuAfter._1 - cpuBefore._1)
    val load = scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(",")
    val nproc = Runtime.getRuntime.availableProcessors()
    notes += f"metric failed_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ratio ($failed of $attempted)"
    notes += f"cotenancy siphash_ns_before $cotenancyBefore%.3f siphash_ns_after $cotenancyAfter%.3f " +
      f"steal_pct $stealPct%.2f nproc $nproc slots $slots loadavg $load"
    Env.deleteRecursively(env.work)
    spark.stop()

    val wanted = if (conf.trace) PerLayer.map(_._1) else EndToEnd.map(_._1)
    val metrics = wanted.map { k =>
      val (v, u) = result.getOrElse(k, (0.0, ""))
      s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString(", ")
    val correct = failed == 0 && attempted > 0
    val line = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}"""
    val record = s"""{"workload": ${Json.str(conf.workload)}, "seed": ${conf.seed}, "trace": ${conf.trace}, """ +
      s""""cotenancy_ns": [${Json.num(cotenancyBefore)}, ${Json.num(cotenancyAfter)}], """ +
      s""""steal_pct": ${Json.num(stealPct)}, "nproc": $nproc, """ +
      s""""loadavg": ${Json.str(load)}, "result": $line}"""
    val runs = new File(conf.out, "runs.jsonl")
    java.nio.file.Files.write(runs.toPath, (record + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    notes.foreach(println)
    println(line)
    sys.exit(if (correct) 0 else 1)
  }

  /** (all, steal) CPU ticks from the kernel's counters; zeros where absent. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val xs = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }

  def retainedHeapMb(): Double = {
    // the engine releases a stopped query's and finished jobs' state from
    // its own threads; give them time between full collections
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  /** The `spark.*` figures: each counter is the median over traced laps. */
  def engineFigures(cs: Seq[GroupCounters], wallS: Seq[Double], slots: Int): Seq[(String, (Double, String))] = {
    if (cs.isEmpty) return Seq.empty
    def med(f: GroupCounters => Double) = Stats.median(cs.map(f))
    val util = Stats.median(cs.zip(wallS).map { case (c, w) => if (w > 0) c.runMs / 1e3 / (w * slots) else 0.0 })
    Seq(
      "spark.shuffle_write_bytes" -> (med(_.shuffleWrite.toDouble), "bytes"),
      "spark.shuffle_read_bytes" -> (med(_.shuffleRead.toDouble), "bytes"),
      "spark.spill_bytes" -> (med(_.spill.toDouble), "bytes"),
      "spark.task_skew" -> (med(_.taskSkew), "ratio"),
      "spark.result_bytes" -> (med(_.resultBytes.toDouble), "bytes"),
      "spark.peak_exec_mem_bytes" -> (med(_.peakExecMem.toDouble), "bytes"),
      "spark.executor_cpu_s" -> (med(_.cpuNs / 1e9), "s"),
      "spark.gc_s" -> (med(_.gcMs / 1e3), "s"),
      "spark.slot_util" -> (util, "ratio"),
      "spark.jobs" -> (med(_.jobs.toDouble), "count"),
      "spark.tasks" -> (med(_.tasks.toDouble), "count"))
  }

  /** Operator-layer frames over the workload's own token table, each a
    * noop sink so only the operator is timed; median of three. */
  def frames(env: Env, tr: Tracer, in: Inputs): Seq[(String, (Double, String))] = {
    val spark = env.spark
    val df = in.tokenFrame
    def med3(name: String)(body: => Unit): Double =
      Stats.median((1 to 3).map(_ => tr.span(name)(secondsOf(body)._2)))
    def noop(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()
    val tokens = df.agg(sum(col("n_tok"))).head().getLong(0).toDouble
    val scan = med3("sources.scan")(df.agg(sum(col("n_tok"))).collect())
    val enc = ExpressionEncoder[Array[Int]]()
    val udafS = med3("operators.udaf_agg")(noop(df.groupBy(col("source")).agg(
      udaf(new BloomTokensAgg(Cfg.bloomCfg), enc)(col("tokens")),
      udaf(new HllTokensAgg(K0, K1, Cfg.hllP), enc)(col("tokens")),
      udaf(new CmsTokensAgg(Cfg.cmsCfg), enc)(col("tokens")))))
    val fusedS = med3("plans.fused_agg")(noop(df.groupBy(col("source")).agg(NativeAggs.fusedTokensNative(col("tokens")))))
    val grams = Decontamination.gramRows(df, GramN)
    val gramCount = grams.count().toDouble
    val gramS = med3("operators.gram_rows")(noop(grams))
    val out = mutable.ArrayBuffer[(String, (Double, String))](
      "sources.scan_s" -> (scan, "s"),
      "operators.udaf_agg_tokens_per_s" -> (tokens / udafS, "tokens/s"),
      "plans.fused_agg_tokens_per_s" -> (tokens / fusedS, "tokens/s"),
      "operators.gram_rows_per_s" -> (gramCount / gramS, "rows/s"))
    // workloads without an eval source probe a filter over a generated one
    val (filter, trainGrams) = in.probeFrame.getOrElse {
      val r = Gen.rng(env.conf.seed, "probe-frame")
      val zipf = new Gen.Zipf(in.vocab, 1.1)
      (evalFilter(gramStrings(Iterator.fill(4000)(Gen.tokens(r, 64, zipf)))), grams)
    }
    locally {
      val cached = trainGrams.persist()
      val rowsIn = cached.count().toDouble
      var passed = 0L
      val probeS = med3("plans.bloom_probe") {
        val plan = cached.where(GraftFunctions.bloomMightContain(lit(filter), col("gram")))
          .queryExecution.executedPlan
        plan.execute().foreach(_ => ())
        passed = plan.collect { case f: FilterExec => f.metrics("numOutputRows").value }.sum
      }
      cached.unpersist()
      out += "plans.bloom_probe_rows_per_s" -> (rowsIn / probeS, "rows/s")
      out += "operators.prefilter_pass_ratio" -> (passed / rowsIn, "ratio")
    }
    out.toSeq
  }

  val PerLayer: Seq[(String, String)] = Seq(
    "core.siphash_int_ns" -> "ns", "core.bloom_insert_ns" -> "ns", "core.bloom_contains_ns" -> "ns",
    "core.hll_update_ns" -> "ns", "core.cms_update_ns" -> "ns",
    "core.sketch_merge_ns_per_kib" -> "ns/KiB", "core.sketch_serde_ns_per_kib" -> "ns/KiB",
    "core.minhash_sig_us_per_doc" -> "us",
    "sources.scan_s" -> "s",
    "operators.udaf_agg_tokens_per_s" -> "tokens/s", "plans.fused_agg_tokens_per_s" -> "tokens/s",
    "operators.gram_rows_per_s" -> "rows/s", "plans.bloom_probe_rows_per_s" -> "rows/s",
    "operators.prefilter_pass_ratio" -> "ratio",
    "operators.lsh_signature_s" -> "s", "operators.lsh_candidates_s" -> "s", "operators.lsh_verify_s" -> "s",
    "operators.lsh_verified_per_candidate" -> "ratio", "operators.cc_s" -> "s", "operators.cc_jobs" -> "count",
    "jobs.increment_s" -> "s", "jobs.finalize_s" -> "s", "jobs.checkpoint_bytes" -> "bytes",
    "jobs.checkpoint_files" -> "count",
    "streaming.batch_s_p50" -> "s", "streaming.planning_s_p50" -> "s", "streaming.commit_s_p50" -> "s",
    "streaming.state_bytes" -> "bytes", "streaming.gen_late_s_max" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_skew" -> "ratio", "spark.result_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.slot_util" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "trace.overhead_ratio" -> "ratio")

  def unitOf(k: String): String = PerLayer.find(_._1 == k).map(_._2).getOrElse("")
}
