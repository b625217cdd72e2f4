package sketchbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.jobs.SketchJob
import graft.operators.{Decontamination, TextPipeline}

/** Sizes of one workload's generated input. */
final case class Size(docs: Int, avgLen: Int, vocab: Int, sources: Int,
    evalDocs: Int = 0, clusters: Int = 0)

/** What every workload exposes to the operator frames and kernel loops. */
trait Inputs {
  /** The (doc_id, tokens, n_tok, source) table the operator frames run on. */
  def tokenFrame: DataFrame
  def tokenSample: Array[Int]
  def vocab: Int
  def bloomCfg: BloomConfig
  def docWords: Array[Array[String]]
  /** The eval filter and the gram frame it prefilters, for probe only. */
  def probeFrame: Option[(Array[Byte], DataFrame)] = None
}

/** A workload made of repeated complete jobs ("laps"). */
trait BatchWorkload extends Inputs {
  /** Input tokens (words, for dedup) one lap consumes. */
  def tokensPerLap: Long
  /** Generate the inputs from the seed, materialise the cached table, load
    * it and compute every expected output. Runs several times in setup. */
  def prepare(): Unit
  /** One complete job: seconds spent in library calls, and whether the
    * outputs passed the correctness gate. */
  def lap(tr: Tracer): (Double, Boolean)
  /** Accuracy and size figures reported beside the end-to-end metrics. */
  def report(): Seq[(String, Double, String)]
  /** This workload's own per-layer figures, from the traced laps. */
  def layerFigures(tr: Tracer, env: Env): Map[String, Double]
}

object Workloads {
  val K0: Long = Keys.DefaultK0
  val K1: Long = Keys.DefaultK1
  val Cfg: SketchJob.JobConfig = SketchJob.DefaultConfig
  val GramN = 8
  val EvalSource = "eval"
  /** 2^19 words = 4 MiB: above the 2 MiB per-core L2, far below L3. */
  val EvalCfg: BloomConfig = BloomConfig(K0, K1, 3, 19)

  /** The eval-side filter the decontamination job builds, rebuilt here with
    * the core kernels: every distinct 8-gram as its '|'-joined id string. */
  def evalFilter(grams: Iterable[String]): Array[Byte] = {
    val words = new Array[Long](EvalCfg.l)
    grams.foreach(BlockedBloom.insertString(words, EvalCfg, _))
    BlockedBloom.toBytes(words, EvalCfg, BlockedBloom.TypeTag.String)
  }

  def gramStrings(docs: Iterator[Array[Int]]): mutable.LinkedHashSet[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    docs.foreach(t => t.sliding(GramN).filter(_.length == GramN).foreach(g => out += g.mkString("|")))
    out
  }

  val tokenSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))

  def tokenRows(docs: Array[Gen.Doc]): Seq[Row] =
    docs.toSeq.map(d => Row(d.id, d.tokens, d.tokens.length, d.source))

  def flatSample(docs: Array[Gen.Doc], max: Int): Array[Int] = {
    val b = mutable.ArrayBuilder.make[Int]
    var n = 0
    val it = docs.iterator
    while (it.hasNext && n < max) { val t = it.next().tokens; b ++= t; n += t.length }
    b.result()
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def spanMedian(tr: Tracer, name: String): Double = {
    val xs = tr.named(name).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}

import Workloads._

/** `build`: the checkpointed per-source Bloom+HLL+CMS job. */
final class BuildWorkload(env: Env, size: Size) extends BatchWorkload {
  private var docs: Array[Gen.Doc] = _
  private var input: DataFrame = _
  private var reference: Map[String, (Array[Byte], Array[Byte], Array[Byte])] = _
  private var tokensBySource: Map[String, Long] = _
  private var distinct: Map[String, java.util.BitSet] = _
  private var counts: Map[String, Array[Int]] = _
  private var fnSample: Array[(String, Int)] = _
  private var last: Map[String, Row] = Map.empty
  private val ckptSizes = mutable.ArrayBuffer.empty[(Long, Long)]
  private var lapNo = 0

  def tokensPerLap: Long = docs.iterator.map(_.tokens.length.toLong).sum
  def tokenFrame: DataFrame = input
  def vocab: Int = size.vocab
  def bloomCfg: BloomConfig = Cfg.bloomCfg
  def tokenSample: Array[Int] = flatSample(docs, 1 << 20)
  def docWords: Array[Array[String]] = docs.take(2000).map(_.tokens.map(Gen.word))

  def prepare(): Unit = {
    val r = Gen.rng(env.conf.seed, "build")
    docs = Gen.corpus(r, size.docs, size.avgLen, new Gen.Zipf(size.vocab, 1.1),
      Gen.sourceNames(size.sources), "b")
    input = env.cached("tokens", size, tokenSchema, tokenRows(docs))
    val bySource = docs.groupBy(_.source)
    tokensBySource = bySource.map { case (s, ds) => s -> ds.iterator.map(_.tokens.length.toLong).sum }
    counts = bySource.map { case (s, ds) =>
      val c = new Array[Int](size.vocab + 1)
      ds.foreach(_.tokens.foreach(t => c(t) += 1))
      s -> c
    }
    distinct = counts.map { case (s, c) =>
      val b = new java.util.BitSet(c.length)
      var i = 0
      while (i < c.length) { if (c(i) > 0) b.set(i); i += 1 }
      s -> b
    }
    val sr = Gen.rng(env.conf.seed, "build-fn-sample")
    fnSample = Array.fill(2000) {
      val d = docs(sr.nextInt(docs.length))
      (d.source, d.tokens(sr.nextInt(d.tokens.length)))
    }
    // the one-shot native fused build is the reference the checkpointed
    // job must reproduce byte for byte (insert-then-merge == insert-all)
    reference = input.groupBy(col("source"))
      .agg(graft.plans.NativeAggs.fusedTokensNative(col("tokens")).as("f"))
      .select(col("source"), col("f.bloom"), col("f.hll"), col("f.cms"))
      .collect()
      .map(row => row.getString(0) -> ((row.getAs[Array[Byte]](1), row.getAs[Array[Byte]](2), row.getAs[Array[Byte]](3))))
      .toMap
    if (env.conf.wrongExpected) reference = reference.map { case (s, (b, h, c)) =>
      val b2 = b.clone(); b2(b2.length / 2) = (b2(b2.length / 2) ^ 1).toByte; s -> ((b2, h, c)) }
  }

  def lap(tr: Tracer): (Double, Boolean) = {
    lapNo += 1
    val ckpt = new java.io.File(env.work, s"ckpt_$lapNo")
    val ((buckets, rows), secs) = secondsOf {
      val n = tr.span("jobs.runIncrement")(SketchJob.runIncrement(env.spark, input, ckpt.getPath))
      val out = tr.span("jobs.finalizeSketches")(SketchJob.finalizeSketches(env.spark, ckpt.getPath).collect())
      (n, out)
    }
    ckptSizes += Env.dirSize(ckpt)
    Env.deleteRecursively(ckpt)
    last = rows.map(r => r.getAs[String]("source") -> r).toMap
    val ok = buckets == Cfg.numBuckets && last.keySet == reference.keySet && last.forall { case (s, r) =>
      val (b, h, c) = reference(s)
      java.util.Arrays.equals(r.getAs[Array[Byte]]("bloom"), b) &&
        java.util.Arrays.equals(r.getAs[Array[Byte]]("hll"), h) &&
        java.util.Arrays.equals(r.getAs[Array[Byte]]("cms"), c) &&
        r.getAs[Long]("n_tokens") == tokensBySource(s)
    } && fnSample.forall { case (s, t) =>
      last.get(s).exists { r =>
        val (cfg, words, _) = BlockedBloom.fromBytes(K0, K1, r.getAs[Array[Byte]]("bloom"))
        BlockedBloom.containsInt(words, cfg, t)
      }
    }
    (secs, ok)
  }

  def report(): Seq[(String, Double, String)] = {
    if (last.isEmpty) return Seq.empty
    // false positives on never-inserted ids, pooled over sources, against
    // the analytic bloom-1 rate at each source's realised n
    val probes = 200000
    var fp = 0L
    var expected = 0.0
    var hllWorst = 0.0
    var cmsWorst = 0.0
    last.foreach { case (s, r) =>
      val (cfg, words, _) = BlockedBloom.fromBytes(K0, K1, r.getAs[Array[Byte]]("bloom"))
      var i = 0
      while (i < probes) { if (BlockedBloom.containsInt(words, cfg, size.vocab + 1 + i)) fp += 1; i += 1 }
      val n = distinct(s).cardinality()
      expected += probes * Fpr.bloom1(n.toLong, cfg.l.toLong, cfg.k)
      val (p, regs, _) = Hll.fromBytes(r.getAs[Array[Byte]]("hll"))
      hllWorst = math.max(hllWorst, math.abs(Hll.estimate(regs) - n) / n / Hll.stdError(p))
      val (d, w, buf, _) = CountMin.fromBytes(r.getAs[Array[Byte]]("cms"))
      val cmsCfg = CmsConfig(K0, K1, d, w)
      val c = counts(s)
      val top = c.indices.sortBy(i => -c(i)).take(20)
      val epsN = cmsCfg.epsilon * tokensBySource(s)
      top.foreach(t => cmsWorst = math.max(cmsWorst, (CountMin.estimateInt(buf, cmsCfg, t) - c(t)) / epsN))
    }
    val sketchBytes = last.values.map(r => Seq("bloom", "hll", "cms").map(r.getAs[Array[Byte]](_).length.toLong).sum).sum
    val ckptBytes = Stats.median(ckptSizes.map(_._1.toDouble).toSeq)
    Seq(
      ("bloom_fpr_ratio", fp / expected, "ratio"),
      ("hll_err_ratio", hllWorst, "ratio"),
      ("cms_err_ratio", cmsWorst, "ratio"),
      ("stored_bytes_per_mtoken", (ckptBytes + sketchBytes) / (tokensPerLap / 1e6), "B/Mtoken"))
  }

  def layerFigures(tr: Tracer, env: Env): Map[String, Double] = Map(
    "jobs.increment_s" -> spanMedian(tr, "jobs.runIncrement"),
    "jobs.finalize_s" -> spanMedian(tr, "jobs.finalizeSketches"),
    "jobs.checkpoint_bytes" -> Stats.median(ckptSizes.map(_._1.toDouble).toSeq),
    "jobs.checkpoint_files" -> Stats.median(ckptSizes.map(_._2.toDouble).toSeq))
}

/** `probe`: n-gram decontamination against an eval source whose filter is
  * larger than a core's L2. */
final class ProbeWorkload(env: Env, size: Size) extends BatchWorkload {
  private val evalCfg = EvalCfg
  private var docs: Array[Gen.Doc] = _
  private var input: DataFrame = _
  private var truth: Map[String, (Long, Long, Long)] = _
  private var evalGramCount = 0L
  private var evalBytes: Array[Byte] = _
  private var grams: DataFrame = _

  def tokensPerLap: Long = docs.iterator.map(_.tokens.length.toLong).sum
  def tokenFrame: DataFrame = input
  def vocab: Int = size.vocab
  def bloomCfg: BloomConfig = evalCfg
  def tokenSample: Array[Int] = flatSample(docs, 1 << 20)
  def docWords: Array[Array[String]] = docs.take(2000).map(_.tokens.map(Gen.word))

  /** Token ids are < 2^16, so a gram of eight packs exactly into two longs. */
  private def gramKey(t: Array[Int], i: Int): (Long, Long) = {
    var hi = 0L; var lo = 0L; var j = 0
    while (j < 4) { hi = (hi << 16) | t(i + j); lo = (lo << 16) | t(i + 4 + j); j += 1 }
    (hi, lo)
  }

  def prepare(): Unit = {
    require(size.vocab < 65536, "probe packs gram keys in 16 bits per token")
    val r = Gen.rng(env.conf.seed, "probe")
    docs = Gen.contaminated(r, size.docs, size.evalDocs, size.avgLen,
      new Gen.Zipf(size.vocab, 1.1), Gen.sourceNames(size.sources), EvalSource,
      plantShare = 0.05, span = 2 * GramN)
    input = env.cached("tokens", size, tokenSchema, tokenRows(docs))
    // ground truth without any prefilter: exact eval gram set
    val evalSet = mutable.HashSet.empty[(Long, Long)]
    val evalStrings = mutable.LinkedHashSet.empty[String]
    docs.iterator.filter(_.source == EvalSource).foreach { d =>
      var i = 0
      while (i + GramN <= d.tokens.length) {
        if (evalSet.add(gramKey(d.tokens, i))) evalStrings += d.tokens.slice(i, i + GramN).mkString("|")
        i += 1
      }
    }
    evalGramCount = evalSet.size.toLong
    evalBytes = evalFilter(evalStrings)
    val perSource = mutable.Map.empty[String, (Long, Long, Long)]
    docs.iterator.filter(_.source != EvalSource).foreach { d =>
      val seen = mutable.HashSet.empty[(Long, Long)]
      var i = 0
      while (i + GramN <= d.tokens.length) { seen += gramKey(d.tokens, i); i += 1 }
      val hits = seen.count(evalSet.contains).toLong
      val (n, c, h) = perSource.getOrElse(d.source, (0L, 0L, 0L))
      perSource(d.source) = (n + 1, c + (if (hits > 0) 1 else 0), h + hits)
    }
    truth = perSource.toMap
    if (env.conf.wrongExpected) truth = truth.map { case (s, (n, c, h)) => s -> ((n, c, h + 1)) }
  }

  def lap(tr: Tracer): (Double, Boolean) = {
    val (rows, secs) = secondsOf(tr.span("operators.decontaminate")(
      Decontamination.decontaminate(input, EvalSource, GramN, evalCfg).collect()))
    val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    (secs, got == truth)
  }

  def report(): Seq[(String, Double, String)] = {
    val (cfg, words, _) = BlockedBloom.fromBytes(K0, K1, evalBytes)
    val probes = 2000000
    var fp = 0L
    var i = 0
    // "x<i>" is never a gram: grams are digits joined by '|'
    while (i < probes) { if (BlockedBloom.containsString(words, cfg, "x" + i)) fp += 1; i += 1 }
    Seq(("bloom_fpr_ratio", fp.toDouble / probes / Fpr.bloom1(evalGramCount, cfg.l.toLong, cfg.k), "ratio"),
      ("eval_grams", evalGramCount.toDouble, "count"),
      ("contaminated_docs", truth.values.map(_._2).sum.toDouble, "count"))
  }

  override def probeFrame: Option[(Array[Byte], DataFrame)] = {
    if (grams == null)
      grams = Decontamination.gramRows(input, GramN).where(col("source") =!= EvalSource)
    Some((evalBytes, grams))
  }

  def layerFigures(tr: Tracer, env: Env): Map[String, Double] = Map.empty
}

/** `dedup`: MinHash-LSH near-dup clustering, then the cluster keep-set. */
final class DedupWorkload(env: Env, size: Size) extends BatchWorkload {
  private var docs: Array[Gen.Doc] = _
  private var pairs: Array[(String, String)] = _
  private var input: DataFrame = _
  private var expectedKept = 0L
  private var labels: Map[String, String] = Map.empty
  private val counts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def tokensPerLap: Long = docs.iterator.map(_.tokens.length.toLong).sum
  def tokenFrame: DataFrame = input.select("doc_id", "tokens", "n_tok", "source")
  def vocab: Int = size.vocab
  def bloomCfg: BloomConfig = Cfg.bloomCfg
  def tokenSample: Array[Int] = flatSample(docs, 1 << 20)
  def docWords: Array[Array[String]] = docs.take(2000).map(_.tokens.map(Gen.word))

  def prepare(): Unit = {
    val r = Gen.rng(env.conf.seed, "dedup")
    val (ds, ps) = Gen.nearDups(r, size.docs, size.clusters, maxCopies = 64, size.avgLen,
      new Gen.Zipf(size.vocab, 1.1), Gen.sourceNames(size.sources), minJaccard = 0.85)
    docs = ds
    pairs = ps
    val schema = tokenSchema.add(StructField("text", StringType, nullable = false))
    input = env.cached("docs", size, schema,
      docs.toSeq.map(d => Row(d.id, d.tokens, d.tokens.length, d.source, Gen.text(d.tokens))))
    // every planted copy loses to its cluster's winner; nothing else clusters
    expectedKept = docs.length.toLong - pairs.length + (if (env.conf.wrongExpected) 1 else 0)
  }

  private def count(name: String, v: Double): Unit =
    counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def lap(tr: Tracer): (Double, Boolean) = {
    val ((kept, clusters), secs) = secondsOf {
      val clusters =
        if (!tr.enabled) TextPipeline.minHashDedupClusters(input, "doc_id", "text")
        else {
          // the same composition as minHashDedupClusters, one span per
          // step; each step is materialised so its span holds its work
          val sig = tr.span("operators.lsh_signature") {
            val s = TextPipeline.withMinHashSignature(input, "text", 3, 128).persist()
            s.count(); s
          }
          val cands = tr.span("operators.lsh_candidates") {
            val c = TextPipeline.lshCandidatePairs(sig, "doc_id", 32, 4).persist()
            count("candidates", c.count().toDouble); c
          }
          val verified = tr.span("operators.lsh_verify") {
            val v = TextPipeline.verifyJaccard(cands, input, "doc_id", "text", 3, 0.8).persist()
            count("verified", v.count().toDouble); v
          }
          val cc = tr.span("operators.cc") {
            val c = TextPipeline.connectedComponents(verified.select(col("doc_a"), col("doc_b")))
            c.count(); c
          }
          Seq(sig, cands, verified).foreach(_.unpersist())
          cc
        }
      val kept = tr.span("operators.keepAfterClusterDedup")(
        TextPipeline.keepAfterClusterDedup(input, "doc_id", clusters).count())
      (kept, clusters)
    }
    labels = clusters.collect().map(r => r.getAs[String]("id") -> r.getAs[String]("cluster")).toMap
    clusters.unpersist()
    (secs, kept == expectedKept)
  }

  def report(): Seq[(String, Double, String)] = {
    val recovered = pairs.count { case (h, c) => labels.get(h).isDefined && labels.get(h) == labels.get(c) }
    Seq(("dedup_recall", recovered.toDouble / pairs.length, "ratio"),
      ("planted_pairs", pairs.length.toDouble, "count"))
  }

  def layerFigures(tr: Tracer, env: Env): Map[String, Double] = {
    def med(k: String) = counts.get(k).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)
    val ccJobs = tr.named("operators.cc").map(s => env.counters(tr.subtree(s.id)).jobs.toDouble)
    Map(
      "operators.lsh_signature_s" -> spanMedian(tr, "operators.lsh_signature"),
      "operators.lsh_candidates_s" -> spanMedian(tr, "operators.lsh_candidates"),
      "operators.lsh_verify_s" -> spanMedian(tr, "operators.lsh_verify"),
      "operators.lsh_verified_per_candidate" -> (if (med("candidates") > 0) med("verified") / med("candidates") else 0.0),
      "operators.cc_s" -> spanMedian(tr, "operators.cc"),
      "operators.cc_jobs" -> (if (ccJobs.isEmpty) 0.0 else Stats.median(ccJobs)))
  }
}
