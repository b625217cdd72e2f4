package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.operators.SketchKinds.{Bloom, FusedTokens, KmvKind}
import graft.plans.NativeAggs
import graft.sources.Tokens

/** Benchmark main (driver contract): prints ONE JSON line.
  *
  * Measurements, matching BASELINE.json's metric:
  *  1. per-query wall times of the SparkEntry surface on SPARK_GRAFT_SF_DIR;
  *  2. tokens/sec sketch-build throughput (Bloom+HLL+CMS in one pass,
  *     grouped by Zipf-skewed source) over a synthesized token table —
  *     measured at parallelism levels (local[N/16], local[N/4], local[N])
  *     on the SAME input, the sandbox proxy for N vs 4N executors;
  *  3. Bloom probe (lookup) throughput through the native expression;
  *  4. empirical Bloom FPR of the bench build vs the analytic fpr() bound;
  *  5. MinHash-LSH near-dup dedup throughput on a 10%-planted-dup corpus
  *     (candidate-volume behavior under dup-heavy skew);
  *  6. KMV distinct-sketch build throughput (k=1024, per-source) over the
  *     same token table — emitted as kmv_sec / kmv_tokens_per_sec /
  *     kmv_secs.
  *
  * SELF-EVIDENCING SCALING (round-2 VERDICT #1): rounds are interleaved
  * (each round visits every level back to back) so tens-of-minutes host
  * drift cannot masquerade as scaling; the headline efficiency is the
  * MEDIAN of per-round ratios (each round is one tight time window — a
  * co-tenant burst distorts that round's ratio, not the median); the JSON
  * carries the per-round raw second arrays AND a per-visit pure-CPU
  * co-tenancy index (a fixed single-thread SipHash lap; dips = co-tenant
  * interference), so the artifact explains its own variance. Efficiency
  * above 1.0 is physically a measurement artifact: the harness then runs
  * extra rounds, and if the median still exceeds 1.0 it CLAMPS the
  * headline to 1.0, keeps the raw value in scaling_efficiency_raw, and
  * sets scaling_noise_flag. Symmetrically, a median below 0.8 with
  * visible co-tenancy (a lap < 75% of the run's best) buys extra rounds
  * from the same budget — more data only, the low value is never clamped.
  *
  * Sizing via env: SPARK_GRAFT_BENCH_DOCS (default 16M docs, ~1.02B
  * tokens), SPARK_GRAFT_BENCH_ITERS (default 8 rounds),
  * SPARK_GRAFT_LSH_DOCS (default 1M docs), SPARK_GRAFT_PHASES
  * (all|queries|scaling).
  */
object Bench {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // tmpfs shuffle dirs: keep disk-I/O jitter out of the scaling signal.
      // NOTE: driver heap cannot be set here (the JVM is already running) —
      // SPARK_DRIVER_MEM is applied as -Xmx by build.sbt's javaOptions.
      .config("spark.local.dir", "/dev/shm/graft_spark")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Single-thread pure-CPU lap (fixed SipHash work): millions of hashes
    * per second. A dip below the session's own baseline flags co-tenant
    * interference in THAT measurement window. */
  private def cotenancyLap(): Double = {
    val iters = 100000000L
    val (_, sec) = time(sipHashWork(iters))
    iters / sec / 1e6
  }

  /** Fixed pure-CPU SipHash loop (the co-tenancy lap's work). */
  private def sipHashWork(iters: Long): Long = {
    var h = 0L; var i = 0L
    while (i < iters) { h ^= SipHash.hashInt(0x5eed, 0xf00d, (i & 0xffffff).toInt); i += 1 }
    h
  }

  private def jsonArr(xs: Seq[Double]): String =
    xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The flagship sketch-build job: per-source Bloom + HLL + CMS in ONE
    * pass, the native `SketchAgg` over the fused kind (ArrayData read in
    * place — no per-row decode — one shared 64-bit hash + one 128-bit hash
    * per token). Returns the global (merged) bloom bytes for the FPR check. */
  private def buildSketches(spark: SparkSession, df: DataFrame, cfg: BloomConfig): Array[Byte] = {
    val perSource = df.groupBy(col("source")).agg(NativeAggs.column(FusedTokens(
      BloomConfig(SketchQueries.K0, SketchQueries.K1, cfg.k, cfg.log2l), SketchQueries.hllP,
      SketchQueries.cmsCfg), col("tokens")).as("sk"))
    // a merge reads only the bloom kind's key; the filters carry their config
    perSource.agg(NativeAggs.column(Bloom(cfg), col("sk.bloom"))).head().getAs[Array[Byte]](0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "16000000").toLong

    // ---- phase 1: the query surface at full parallelism ----
    // (SPARK_GRAFT_PHASES=scaling skips it during perf iteration)
    val phases = sys.env.getOrElse("SPARK_GRAFT_PHASES", "all")
    val queries =
      if (phases == "scaling") Seq.empty[(String, Double)]
      else {
        val spark1 = session(cpus)
        val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
        // warm-up lap: one untimed pass over the whole surface so the
        // timed pass measures steady state instead of charging ~28 s of
        // JVM/JIT/parquet-cache warm-up to whichever query runs first
        // (round-1 driver bench: q_bloom_probe_exact 30 s cold vs 2 s warm).
        // NonFatal only: an OOM or linkage error must abort loudly, not
        // surface as a silent -1 later (ADVICE r2).
        sorted.foreach { case (name, fn) =>
          try fn(spark1, sfDir).count()
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] WARM-UP FAILED for $name: ${e.getClass.getName}: ${e.getMessage}")
          }
        }
        val qs = sorted.map { case (name, fn) =>
          val (_, sec) =
            try time(fn(spark1, sfDir).count())
            catch { case NonFatal(e) =>
              System.err.println(s"[bench] QUERY FAILED: $name: ${e.getClass.getName}: ${e.getMessage}")
              (-1L, -1.0)
            }
          name -> sec
        }
        stopSession(spark1)
        qs
      }

    // iteration mode: phase 1 only (SPARK_GRAFT_PHASES=queries)
    if (phases == "queries") {
      val qJson = queries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      val totalSec = queries.map(_._2).filter(_ >= 0).sum
      println(f"""{"metric":"total","value":$totalSec%.3f,"unit":"sec","queries":$qJson%s,"sf":"$sfDir%s"}""")
      return
    }

    // ---- phase 2: synthesize the bench token table once (deterministic) ----
    val benchPath = s"/tmp/graft_bench_tokens_$benchDocs.parquet"
    val cfg = BloomConfig(SketchQueries.K0, SketchQueries.K1, k = 3, log2l = 14)
    val vocab = 50000
    var totalTokens = 0L
    locally {
      val s = session(cpus)
      // _SUCCESS gate: a crashed earlier generation must not silently feed
      // truncated data into the throughput numbers
      if (!new java.io.File(s"$benchPath/_SUCCESS").exists()) {
        Tokens.synthetic(s, benchDocs, avgTokens = 64, vocabSize = vocab,
            numSources = 16, partitions = cpus * 4)
          .write.mode("overwrite").parquet(benchPath)
      }
      totalTokens = s.read.parquet(benchPath).agg(sum(col("n_tok"))).head().getLong(0)
      stopSession(s)
    }

    // ---- phase 3: same job at multiple parallelism levels ----
    // Default levels 2, 8, 32: the headline N -> 4N efficiency is taken at
    // 2 -> 8, the regime where this sandbox's vCPUs behave like independent
    // cores (a pure-CPU SipHash probe, recorded in BASELINE.md, shows the VM
    // itself stops scaling past ~8 threads: ~75M siphash/s/thread at 2-8
    // threads vs ~48M at 16-32). 8 -> 32 is reported as well as the saturated
    // figure, with peak throughput at 32.
    val lowCpus = math.max(1, cpus / 16)
    val midCpus = math.max(1, cpus / 4)
    // .distinct: duplicate levels (e.g. cpus=4 -> 1,1,4) would double-append
    // to one level's arrays, misaligning the per-round ratio zip and turning
    // the headline pair into level-vs-itself "perfect scaling"
    val levels = sys.env.get("SPARK_GRAFT_LEVELS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(lowCpus, midCpus, cpus))
      .distinct
    var bloomBytes: Array[Byte] = null
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "8").toInt
    val extraRounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_ITERS", "4").toInt
    // INTERLEAVED rounds (see the scaladoc): per-level second and
    // co-tenancy arrays are kept per round for the JSON.
    val secsByLevel = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Double]]
    val cotenByLevel = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Double]]
    def runRound(round: Int): Unit =
      levels.foreach { n =>
        val coten = cotenancyLap()
        val s = session(n)
        val df = s.read.parquet(benchPath)
        if (round == 1) time(buildSketches(s, df, cfg)) // warm-up, first visit only
        val (bytes, sec) = time(buildSketches(s, df, cfg))
        bloomBytes = bytes
        secsByLevel.getOrElseUpdate(n, scala.collection.mutable.ArrayBuffer.empty) += sec
        cotenByLevel.getOrElseUpdate(n, scala.collection.mutable.ArrayBuffer.empty) += coten
        stopSession(s)
      }
    (1 to rounds).foreach(runRound)

    val l0 = levels(0)
    val l1 = levels(math.min(1, levels.length - 1))
    def perRoundEff(a: Int, b: Int): Seq[Double] =
      secsByLevel(a).zip(secsByLevel(b)).map { case (secLo, secHi) =>
        (secLo / secHi) / (b.toDouble / a)
      }.toSeq
    // median-of-per-round-ratios: each round is one tight window, so slow
    // host drift cancels inside the ratio; > 1.0 median = noise -> re-run
    var extra = 0
    while (median(perRoundEff(l0, l1)) > 1.0 && extra < extraRounds) {
      System.err.println(f"[bench] eff(${l0}->${l1}) median ${median(perRoundEff(l0, l1))}%.3f > 1.0 — noise re-run ${extra + 1}/$extraRounds")
      runRound(rounds + extra + 1)
      extra += 1
    }
    // SYMMETRIC noise handling: a co-tenant burst mid-run depresses the
    // ratio exactly like it can inflate it. If the headline lands below
    // 0.8 AND the run's own co-tenancy laps prove the window was contended
    // (some lap < 75% of the run's best lap), buy more rounds from the
    // same budget — extra data, never a clamp: the median stays honest.
    def cotenancyContended(): Boolean = {
      val all = levels.flatMap(n => cotenByLevel(n).toSeq)
      all.nonEmpty && all.min < 0.75 * all.max
    }
    while (median(perRoundEff(l0, l1)) < 0.8 && cotenancyContended() && extra < extraRounds) {
      System.err.println(f"[bench] eff(${l0}->${l1}) median ${median(perRoundEff(l0, l1))}%.3f < 0.8 under visible co-tenancy — extra round ${extra + 1}/$extraRounds")
      runRound(rounds + extra + 1)
      extra += 1
    }
    val effRaw = median(perRoundEff(l0, l1))
    val noiseFlag = effRaw > 1.0
    val efficiency = math.min(effRaw, 1.0)
    val effHigh =
      if (levels.length >= 3) median(perRoundEff(l1, levels(2)))
      else effRaw
    levels.foreach { n =>
      val secs = secsByLevel(n)
      System.err.println(f"[bench] local[$n]: secs=${jsonArr(secs.toSeq)}%s min=${secs.min}%.3f coten=${jsonArr(cotenByLevel(n).toSeq)}%s")
    }
    val throughput = levels.map { n => n -> (totalTokens / secsByLevel(n).min, secsByLevel(n).min) }.toMap

    // ---- phase 3b: probe (lookup) throughput through the native codegen
    // expression at full parallelism — the read-path counterpart of the
    // reference's lookup benchmarks (benchmarks/Main.hs:68-330) ----
    val probeTotal = 400000000L
    val probeSecs = {
      val s = session(cpus)
      def run(): Long = s.range(0, probeTotal, 1, cpus * 4)
        .select(col("id").cast("int").as("t"))
        .where(graft.plans.GraftFunctions.bloomMightContain(lit(bloomBytes), col("t")))
        .count()
      run() // warm
      val laps = (1 to 3).map { _ => time(run())._2 }
      System.err.println(f"[bench] probe: $probeTotal probes, secs=${jsonArr(laps)}%s")
      stopSession(s)
      laps
    }
    val probeSec = probeSecs.min

    // ---- phase 3c: MinHash-LSH dedup under dup-heavy skew ----
    // The sf corpora carry ~20 true near-dup pairs; this phase plants a 10%
    // near-dup rate at SPARK_GRAFT_LSH_DOCS docs so the candidate-volume
    // behavior of the banded join is actually measured (round-2 VERDICT #7).
    val lshDocs = sys.env.getOrElse("SPARK_GRAFT_LSH_DOCS", "1000000").toLong
    val (lshSec, lshVerified, lshCandidates, ccSec, ccClusters, winnowSec, winnowFps) = {
      val s = session(cpus)
      val path = s"/tmp/graft_bench_lsh_$lshDocs.parquet"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        lshStressCorpus(s, lshDocs, cpus * 4).write.mode("overwrite").parquet(path)
      }
      val docs = s.read.parquet(path)
      def pairs() = graft.operators.TextPipeline
        .minHashNearDups(docs, "doc_id", "text", shingleN = 3, numHashes = 128,
          bands = 32, threshold = 0.7)
      def run(): Long = pairs().count()
      run() // warm
      val (verified, sec) = time(run())
      // candidate volume (untimed diagnostic): pairs entering verification
      val withSig = graft.operators.TextPipeline
        .withMinHashSignature(docs, "text", shingleN = 3, numHashes = 128)
      val cands = graft.operators.TextPipeline
        .lshCandidatePairs(withSig, "doc_id", bands = 32, rowsPerBand = 4).count()
      // cluster resolution at stress scale: verified pairs -> connected
      // components -> winners. The planted corpus pairs each dup with its
      // cluster head ONLY, so components == verified pairs and every
      // winner must be a head (doc_id % 10 == 0 position in the plant) —
      // a correctness gate riding the timing.
      val p = pairs().select(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b")).persist()
      p.count()
      val (clusters, ccsec) = time {
        val cc = graft.operators.TextPipeline.connectedComponents(p)
        val n = cc.where(org.apache.spark.sql.functions.col("id") ===
          org.apache.spark.sql.functions.col("cluster")).count()
        cc.unpersist()
        n
      }
      p.unpersist()
      if (clusters != verified)
        System.err.println(s"[bench] WARNING cluster resolution: $clusters clusters from " +
          s"$verified pairs (planted pairs are disjoint; an extra pair merged clusters)")
      System.err.println(f"[bench] lsh: $lshDocs docs, $verified verified pairs, $cands candidates, $sec%.3f s; cc: $clusters clusters in $ccsec%.3f s")
      // winnowing fingerprint throughput on the same stress corpus: the
      // rolling-hash pipeline is one map-side Project (interpreted HOFs —
      // no codegen for lambda expressions), so this measures the per-doc
      // kernel at scale. sum(size(fps)) forces full evaluation; the total
      // is deterministic, so a drift across laps would flag nondeterminism.
      val winnowLaps = (1 to 2).map { _ =>
        time {
          graft.operators.TextPipeline.withWinnowFingerprints(docs)
            .agg(org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.size(
                org.apache.spark.sql.functions.col("fps"))).cast("long"))
            .head().getLong(0)
        }
      }
      require(winnowLaps.map(_._1).distinct.size == 1,
        s"winnow fingerprint total drifted across laps: ${winnowLaps.map(_._1)}")
      val winnowFps = winnowLaps.head._1
      val winnowSec = winnowLaps.map(_._2).min
      System.err.println(f"[bench] winnow: $lshDocs docs, $winnowFps fingerprints, best $winnowSec%.3f s")
      stopSession(s)
      (sec, verified, cands, ccsec, clusters, winnowSec, winnowFps)
    }

    // ---- phase 3d: KMV distinct-sketch build throughput ----
    // KMV insert is a binary search + rare memmove, but the saturated
    // fast-reject (one unsigned compare vs the kth min) makes the steady
    // state ~1 compare/token — measured so the newest family member has a
    // recorded tokens/s figure next to the fused Bloom+HLL+CMS flagship.
    val kmvSecs = {
      val s = session(cpus)
      val kmv = KmvKind(SketchQueries.K0, SketchQueries.K1, 1024)
      val df = s.read.parquet(benchPath)
      def run(): Int = df.groupBy(col("source")).agg(NativeAggs.column(kmv, col("tokens"))).collect().length
      run() // warm
      // >= 3 timed laps (the probe phase's own standard — round-3 VERDICT #4:
      // 2 laps recorded a 4.7x spread that min() hid; the envelope is data)
      val laps = (1 to 3).map(_ => time(run())._2)
      System.err.println(f"[bench] kmv: $totalTokens tokens, secs=${jsonArr(laps)}%s")
      stopSession(s)
      laps
    }
    val kmvSec = kmvSecs.min

    // ---- phase 3e: n-gram decontamination throughput ----
    // The flagship Bloom-in-its-natural-role op: a ~0.1% relabeled eval
    // slice, 4-gram kernel UDF (measured ~40x the HOF twin, BASELINE.md),
    // Bloom prefilter + broadcast exact confirm. The corpus is random, so
    // true hits ~ 0 — the realistic regime where the prefilter carries all
    // the selectivity; the report sums are deterministic and lap-compared.
    val deconDocs = sys.env.getOrElse("SPARK_GRAFT_DECON_DOCS", "2000000").toLong
    val (deconSec, deconTrainDocs, deconHits) = {
      val s = session(cpus)
      val path = s"/tmp/graft_bench_decon_$deconDocs.parquet"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        Tokens.synthetic(s, deconDocs, avgTokens = 64, vocabSize = 50000,
          numSources = 16, partitions = cpus * 4)
          .write.mode("overwrite").parquet(path)
      }
      val relabeled = s.read.parquet(path).withColumn("source",
        when(graft.plans.GraftFunctions.sipHash64(col("doc_id")) % 1024 === 0,
          lit("evalset")).otherwise(col("source")))
      val cfg17 = BloomConfig(SketchQueries.K0, SketchQueries.K1, k = 3, log2l = 17)
      def run(): (Long, Long) = {
        val r = graft.operators.Decontamination
          .decontaminate(relabeled, "evalset", 4, cfg17)
          .agg(sum(col("n_docs")), sum(col("n_hits"))).head()
        (r.getLong(0), r.getLong(1))
      }
      run() // warm
      val laps = (1 to 2).map(_ => time(run()))
      require(laps.map(_._1).distinct.size == 1,
        s"decontamination report drifted across laps: ${laps.map(_._1)}")
      val (docsHits, sec) = (laps.head._1, laps.map(_._2).min)
      System.err.println(f"[bench] decon: $deconDocs docs, train=${docsHits._1}, " +
        f"hits=${docsHits._2}, best $sec%.3f s")
      stopSession(s)
      (sec, docsHits._1, docsHits._2)
    }

    // ---- phase 3f: sequence-packing throughput ----
    // The next-fit packer on the 16M-doc bench table: ONE range exchange +
    // streaming per-partition pass (capacity 2048, shardDocs 4096 -> ~3.9k
    // parallel shards). Token-mass and doc-count conservation are the
    // correctness gates riding the timing; the rollup is deterministic and
    // lap-compared.
    val (packSec, packSeqs) = {
      val s = session(cpus)
      val docs = s.read.parquet(benchPath).select(
        expr("cast(substring(doc_id, 5) as bigint)").as("doc_id"),
        col("source"), col("n_tok").cast("long").as("n_tok"))
      def run(): (Long, Long, Long) = {
        val r = graft.operators.SequencePacking
          .packedSequences(docs, capacity = 2048, shardDocs = 4096)
          .agg(count(lit(1)), sum(col("n_docs")).cast("long"),
            sum(col("seq_tok")).cast("long")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      run() // warm
      val laps = (1 to 2).map(_ => time(run()))
      require(laps.map(_._1).distinct.size == 1,
        s"packing rollup drifted across laps: ${laps.map(_._1)}")
      val (res, sec) = (laps.head._1, laps.map(_._2).min)
      require(res._2 == benchDocs, s"packing lost docs: ${res._2} != $benchDocs")
      require(res._3 == totalTokens, s"packing lost tokens: ${res._3} != $totalTokens")
      System.err.println(f"[bench] pack: $benchDocs docs -> ${res._1} sequences, best $sec%.3f s")
      stopSession(s)
      (sec, res._1)
    }

    // ---- phase 4: empirical FPR vs analytic bound on the bench bloom ----
    val (bCfg, words, _) = BlockedBloom.fromBytes(SketchQueries.K0, SketchQueries.K1, bloomBytes)
    val antiN = 200000
    var fp = 0
    var i = 1
    while (i <= antiN) { if (BlockedBloom.containsInt(words, bCfg, -i)) fp += 1; i += 1 }
    val fprMeasured = fp.toDouble / antiN
    val fprBound = Fpr.bloom1(vocab.toLong, bCfg.l.toLong, bCfg.k)

    val qJson = queries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val totalSec = queries.map(_._2).filter(_ >= 0).sum
    val levelJson = levels.map { n =>
      f""""tokens_per_sec_n$n":${throughput(n)._1}%.0f,"sec_n$n":${throughput(n)._2}%.3f,""" +
        s""""build_secs_n$n":${jsonArr(secsByLevel(n).toSeq)},""" +
        s""""cotenancy_mhs_n$n":${jsonArr(cotenByLevel(n).toSeq)}"""
    }.mkString(",")
    // per-level-pair efficiencies with the regime IN the field name, so a
    // JSON consumer cannot mistake the low-core ratio for full-scale
    // efficiency; "scaling_efficiency" stays the headline N -> 4N figure
    // (median of per-round ratios, clamped at 1.0 with the raw value and
    // noise flag alongside).
    // trailing comma carried HERE: a single-level run (SPARK_GRAFT_LEVELS=8)
    // has no pairs, and an empty field between two commas is invalid JSON
    val pairJson = levels.sliding(2).collect { case Seq(a, b) =>
      f""""scaling_efficiency_n${a}_n$b":${median(perRoundEff(a, b))}%.3f,"""
    }.mkString
    // ROUND-3 VERDICT #1: the single one-line JSON outgrew the driver's
    // fixed TAIL capture window, head-truncating the artifact-of-record
    // (it lost "value" and the first ~13 per-query times). The capture
    // keeps the END of the output, so: (a) the bulky per-query map goes out
    // FIRST as its own line (head-truncatable without losing the headline),
    // (b) the headline line stays compact — every scaling/probe/LSH/KMV/FPR
    // field plus the total, no per-query map — and prints LAST, (c) the
    // complete JSON (headline + queries) is also written to
    // BENCH/BENCH_last_full.json as the sidecar of record.
    val headline =
      f"""{"metric":"total","value":$totalSec%.3f,"unit":"sec","n_queries":${queries.length}%d,"sf":"$sfDir%s",""" +
        s""""sketch_build_tokens":$totalTokens,$levelJson,""" +
        f""""scaling_levels":"${levels.mkString(",")}%s",""" +
        f""""scaling_rounds":${secsByLevel(l0).length}%d,""" +
        f""""scaling_efficiency":$efficiency%.3f,"scaling_efficiency_raw":$effRaw%.3f,""" +
        f""""scaling_noise_flag":$noiseFlag%s,"scaling_efficiency_pair":"$l0->$l1",""" +
        f""""scaling_efficiency_saturated":$effHigh%.3f,$pairJson%s""" +
        f""""probes_per_sec_n$cpus":${probeTotal / probeSec}%.0f,"probe_secs":${jsonArr(probeSecs)}%s,""" +
        f""""lsh_docs":$lshDocs,"lsh_sec":$lshSec%.3f,"lsh_docs_per_sec":${lshDocs / lshSec}%.0f,""" +
        s""""lsh_candidate_pairs":$lshCandidates,"lsh_verified_pairs":$lshVerified,""" +
        f""""cc_sec":$ccSec%.3f,"cc_clusters":$ccClusters,""" +
        f""""winnow_sec":$winnowSec%.3f,"winnow_docs_per_sec":${lshDocs / winnowSec}%.0f,"winnow_fingerprints":$winnowFps,""" +
        f""""decon_docs":$deconDocs,"decon_sec":$deconSec%.3f,"decon_docs_per_sec":${deconTrainDocs / deconSec}%.0f,"decon_hits":$deconHits,""" +
        f""""kmv_sec":$kmvSec%.3f,"kmv_tokens_per_sec":${totalTokens / kmvSec}%.0f,"kmv_secs":${jsonArr(kmvSecs)}%s,""" +
        f""""pack_sec":$packSec%.3f,"pack_docs_per_sec":${benchDocs / packSec}%.0f,"pack_sequences":$packSeqs,""" +
        f""""bloom_fpr_measured":$fprMeasured%.6f,"bloom_fpr_analytic":$fprBound%.6f}"""
    val full = headline.dropRight(1) + s""","queries":$qJson}"""
    try {
      val dir = new java.io.File("BENCH")
      if (dir.isDirectory) {
        val w = new java.io.PrintWriter(new java.io.File(dir, "BENCH_last_full.json"), "UTF-8")
        try w.println(full) finally w.close()
      }
    } catch { case NonFatal(e) => System.err.println(s"[bench] sidecar write failed: $e") }
    println(s"""{"metric":"per_query_sec","queries":$qJson}""")
    println(headline)
  }

  /** Deterministic dup-heavy corpus: every 10th doc is a near-duplicate of
    * the cluster head 9 ids earlier (one word substituted out of 30, so
    * 3-gram-shingle Jaccard = 25/31 ≈ 0.806 — above the 0.7 bench
    * threshold, below exact equality). Vocabulary ~200k words ⇒ unrelated
    * docs share almost no shingles. */
  private[graft] def lshStressCorpus(spark: SparkSession, nDocs: Long, partitions: Int): DataFrame = {
    val textUdf = udf { (i: Long) =>
      val base = if (i % 10 == 9) i - 9 else i
      val words = Array.tabulate(30) { j =>
        "w" + ((SipHash.hashLong(Keys.DefaultK0, Keys.DefaultK1, base * 31 + j) & 0x7fffffffL) % 200000)
      }
      if (i % 10 == 9) words(7) = "x" + i
      words.mkString(" ")
    }
    spark.range(0, nDocs, 1, partitions)
      .select(col("id").as("doc_id"), textUdf(col("id")).as("text"))
  }
}
