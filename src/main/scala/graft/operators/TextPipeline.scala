package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.core.{Keys, MinHash, SimHash, SipHash}

/** Training-data pipeline text operators: deduplication (exact fingerprint,
  * MinHash+LSH, SimHash, n-gram Jaccard), language ID, quality scoring,
  * token counting. Everything is a pure projection/aggregation over
  * DataFrames — shuffles only where the algorithm demands one (the LSH
  * bucket join, the pair verification), all hashing SipHash-deterministic.
  *
  * Scale notes (100 TB shape): every per-doc transform is a map-side
  * projection; LSH candidate generation shuffles (band, key) pairs — cost
  * b rows/doc, grouped by a uniformly-distributed 64-bit key, so it
  * partitions evenly regardless of source skew; verification joins only
  * candidate pairs (quadratic blowup confined to same-bucket collisions).
  */
object TextPipeline {

  val K0: Long = Keys.DefaultK0
  val K1: Long = Keys.DefaultK1

  // ------------------------------------------------------ fingerprinting

  /** 64-bit SipHash content fingerprint — injective-in-practice content id
    * for exact dedup. Runs through the native codegen expression
    * (`SipHash64Expr`, no UDF encoder boundary); same hash value as
    * `SipHash.hashString(K0, K1, text)`, with null texts fingerprinting to
    * 0L (the pre-native-UDF convention — countDistinct must see nulls). */
  def fingerprintCol(df: DataFrame, textCol: Column): Column = {
    coalesce(graft.plans.GraftFunctions.sipHash64(textCol), lit(0L))
  }

  // ----------------------------------------- winnowing (rolling hash)

  /** Winnowing modulus/base: P = 2^31 - 1 keeps every intermediate
    * product below P*B < 2^62, so the whole fingerprint computation is
    * exact Long arithmetic — any SQL engine (the DuckDB oracle included)
    * reproduces identical fingerprint values with no float involvement
    * and no 128-bit math. */
  val WinnowP: Long = 2147483647L
  val WinnowB: Long = 1000003L

  /** Winnowing rolling-hash document fingerprints (Schleimer, Wilkerson &
    * Aiken's MOSS winnowing, SIGMOD'03): polynomial-hash every k-word
    * gram, slide a w-wide window over the gram-hash sequence and select
    * each window's minimum (rightmost position on ties); the document's
    * fingerprint set is the distinct selected hashes. Any shared run of
    * >= w + k - 1 words between two documents produces at least one shared
    * fingerprint, so this detects PARTIAL overlap, which whole-document
    * MinHash Jaccard cannot. Adds `fps: array<bigint>` (empty for docs
    * with < k words; < w grams winnow as a single window).
    *
    * Runs the imperative [[winnowKernel]] behind a Scala UDF —
    * value-identical to the built-in higher-order-function formulation
    * (the test twin `ReferenceTwins.withWinnowFingerprintsHof`) per document
    * (asserted on the fixture by PipelineSpec). This is the DEFAULT scale
    * path: the winnowing kernel dominates the UDF encoder boundary by far
    * (the HOF pipeline never codegens — Catalyst evaluates lambda
    * expressions interpreted — so the measured kernel-vs-boundary rule applies:
    * nativize/UDF-ize where the kernel, not the encoder copy, is the
    * cost; measured numbers in BASELINE.md). */
  def withWinnowFingerprints(docs: DataFrame, textCol: String = "text",
      k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k >= 1 and w >= 1, got k=$k w=$w")
    val pows = winnowPows(k)
    val f = udf { (text: String) => winnowKernel(text, k, w, pows) }
    docs.withColumn("fps", f(col(textCol)))
  }

  /** Charwise (acc*31 + code unit) mod P fold per whitespace word — the
    * engine-portable token-id map shared by winnowing and the packed-
    * sequence content (a SQL engine reproduces each id exactly; see the
    * winnowing oracle). */
  private[graft] def wordSymbolsKernel(text: String): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val words = text.split(' ')
    val sy = new scala.collection.mutable.ArrayBuffer[Long](words.length)
    var wi = 0
    while (wi < words.length) {
      val word = words(wi)
      if (word.nonEmpty) {
        var acc = 0L
        var ci = 0
        while (ci < word.length) {
          acc = (acc * 31L + word.charAt(ci).toInt) % WinnowP; ci += 1
        }
        sy += acc
      }
      wi += 1
    }
    sy.toArray
  }

  /** Adds `toks: array<bigint>` — the word-symbol token ids of `textCol`
    * (the packed-sequence content's portable id space). */
  def withWordSymbols(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val f = udf { (text: String) => wordSymbolsKernel(text) }
    docs.withColumn("toks", f(col(textCol)))
  }

  /** Imperative winnowing kernel — the same algorithm as the expression
    * pipeline of the HOF test twin, value-identical per doc
    * (asserted by PipelineSpec on the fixture): [[wordSymbolsKernel]] word
    * symbols, polynomial k-gram hashes with a mod after every product,
    * rightmost window minima, first-occurrence dedup of positions then
    * values. One allocation-light pass per document. */
  private[operators] def winnowKernel(text: String, k: Int, w: Int,
      pows: Array[Long]): Array[Long] = {
    val sy = wordSymbolsKernel(text)
    val n = sy.length
    if (n < k) return Array.emptyLongArray
    val g = new Array[Long](n - k + 1)
    var i = 0
    while (i < g.length) {
      var s = 0L
      var j = 0
      while (j < k) { s += (sy(i + j) * pows(j)) % WinnowP; j += 1 }
      g(i) = s % WinnowP
      i += 1
    }
    val nw = math.max(1, g.length - w + 1)
    val selPos = new java.util.LinkedHashSet[Integer]()
    var st = 0
    while (st < nw) {
      val end = math.min(st + w, g.length)
      var minV = Long.MaxValue
      var minP = st
      var p = st
      while (p < end) { if (g(p) <= minV) { minV = g(p); minP = p }; p += 1 }
      selPos.add(minP)
      st += 1
    }
    val vals = new java.util.LinkedHashSet[java.lang.Long]()
    val it = selPos.iterator()
    while (it.hasNext) vals.add(g(it.next().intValue()))
    val out = new Array[Long](vals.size)
    val vit = vals.iterator()
    var o = 0
    while (vit.hasNext) { out(o) = vit.next().longValue(); o += 1 }
    out
  }

  private[graft] def winnowPows(k: Int): Array[Long] =
    (0 until k).map(j =>
      BigInt(WinnowB).modPow(BigInt(k - 1 - j), BigInt(WinnowP)).toLong).toArray

  /** Partial-overlap candidate pairs over a winnowed-fingerprint frame
    * (columns: an id, a group/source, `fps: array<bigint>`): the standard
    * inverted-index join — explode (id, fp), DROP hot fingerprints (df >
    * maxDf), self-join on the fingerprint value (uniform 31-bit keys
    * partition evenly), group pairs, keep those sharing >= minShared
    * fingerprints. Pair orientation is idA < idB (numeric — callers must
    * pass a numeric id) and `sa` is the smaller doc's group. Shared by the
    * production query and PipelineSpec's df-cap tests so the semantics
    * cannot diverge.
    *
    * The document-frequency cap is the standard hot-shingle suppression:
    * the inverted-index self-join is O(df^2) PER fingerprint value, so a
    * single boilerplate fragment shared by millions of docs at 100 TB (a
    * license header, a template footer) would alone produce ~10^12
    * candidate rows. A fingerprint with df > maxDf is boilerplate, not
    * overlap signal — dropping it bounds every join key at maxDf^2 and
    * costs one extra partial-agg pass over the exploded rows (map-side
    * combine on the same uniform fp key; no new skew). Docs sharing ONLY
    * capped fingerprints lose those shared counts — the deliberate
    * semantic of suppression (recall on genuine pairwise overlap is
    * unaffected: a k-word run copied between two documents has df 2). */
  def winnowOverlapPairs(fp: DataFrame, idCol: String, groupCol: String,
      minShared: Int = 2, maxDf: Long = 1000L): DataFrame = {
    require(maxDf >= 2, s"winnowOverlapPairs: maxDf must be >= 2 (a pair needs df 2), got $maxDf")
    val ex = fp.select(col(idCol).as("id"), col(groupCol).as("grp"),
      explode(col("fps")).as("fp"))
    // per-fp document frequency ((id, fp) rows are distinct — fps is a
    // per-doc distinct set), then a semi-join keeps only sub-cap rows
    val keptFps = ex.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    val exKept = ex.join(keptFps, Seq("fp"), "left_semi")
    // fully-distinct column names on both sides, not dataset aliases: a
    // self-join of the same lineage can silently resolve a shared name
    // (or a df("col") reference) to either side
    val exA = exKept.select(col("id").as("da"), col("grp").as("sa"), col("fp").as("fpa"))
    val exB = exKept.select(col("id").as("db"), col("fp").as("fpb"))
    exA.join(exB, col("fpa") === col("fpb") && col("da") < col("db"))
      .groupBy(col("sa"), col("da"), col("db"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  // ----------------------------------------------------------- MinHash

  /** Add a `sig: array<bigint>` MinHash signature column over word
    * n-gram shingles of `textCol`. */
  def withMinHashSignature(docs: DataFrame, textCol: String, shingleN: Int, numHashes: Int): DataFrame = {
    val f = udf { (text: String) =>
      if (text == null) MinHash.emptySignature(numHashes)
      else {
        val words = text.split(' ').filter(_.nonEmpty)
        // allocation-light kernel (scratch-buffer shingles hashed in
        // place) — value-identical to the iterator/string path,
        // asserted by PipelineSpec; see MinHash.signatureOfWords
        MinHash.signatureOfWords(K0, K1, words, shingleN, numHashes)
      }
    }
    docs.withColumn("sig", f(col(textCol)))
  }

  /** Shared banded-LSH candidate generation: given exploded (id, band, key)
    * rows, self-join within buckets and return distinct ordered id pairs.
    * Used by MinHash, SimHash and SRP candidate generation (one
    * implementation so guards and key handling cannot diverge). */
  private[operators] def candidatePairsFromBanded(banded: DataFrame,
      outA: String = "doc_a", outB: String = "doc_b"): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as(outA), col("b.id").as(outB))
      .distinct()

  /** LSH candidate pairs: explode each doc into `bands` (band, key) rows,
    * self-join within buckets. Returns distinct (doc_a, doc_b), doc_a <
    * doc_b. Collision keys are uniform 64-bit hashes -> even partitioning. */
  def lshCandidatePairs(withSig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandsUdf = udf { (sig: Array[Long]) =>
      // empty documents (no shingles) must not enter any bucket: their
      // all-sentinel signatures would all collide and flood candidates
      if (MinHash.isEmpty(sig)) Array.empty[Long]
      else MinHash.bandKeys(K0, K1, sig, bands, rowsPerBand)
    }
    val banded = withSig
      .select(col(idCol).as("id"), posexplode(bandsUdf(col("sig"))).as(Seq("band", "key")))
    candidatePairsFromBanded(banded)
  }

  /** Exact Jaccard verification of candidate pairs over their shingle
    * sets (array_intersect/array_union on shingle-hash arrays — built-in,
    * codegen'd). Keeps pairs with jaccard >= threshold. */
  def verifyJaccard(candidates: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val shingleHashes = udf { (text: String) =>
      if (text == null) Array.empty[Long]
      else {
        val words = text.split(' ').filter(_.nonEmpty)
        // same scratch-buffer kernel as the signature path; distinct in
        // first-occurrence order, value-identical to the string map
        MinHash.shingleHashes64(K0, K1, words, shingleN)
      }
    }
    // Prune docs to the ids that actually appear in a candidate pair
    // BEFORE running the shingle kernel (optimization r07, guide §2.3):
    // the two verification joins each evaluated the kernel over the WHOLE
    // corpus and shuffled the full shingle-array frame, when only
    // candidate members (bounded by 2x the candidate count, which banded
    // LSH keeps small by design) are ever matched. The id set is
    // candidate-sized, so it broadcasts; the join results are identical —
    // non-candidate rows never matched anything.
    val candIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("cand_id")).distinct()
    val sets = docs
      .join(broadcast(candIds), col(idCol) === col("cand_id"), "left_semi")
      .select(col(idCol).as("id"), shingleHashes(col(textCol)).as("sh"))
    candidates
      .join(sets.withColumnRenamed("id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sets.withColumnRenamed("id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: signature -> banded candidates ->
    * exact-Jaccard verify. */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    val withSig = withMinHashSignature(docs, textCol, shingleN, numHashes)
    val cands = lshCandidatePairs(withSig, idCol, bands, numHashes / bands)
    verifyJaccard(cands, docs, idCol, textCol, shingleN, threshold)
  }

  // ----------------------------------------------------------- SimHash

  /** Add a `simhash: bigint` fingerprint column (word-level terms). */
  def withSimHash(docs: DataFrame, textCol: String): DataFrame = {
    val f = udf { (text: String) =>
      if (text == null) 0L
      else SimHash.fingerprint(K0, K1, text.split(' ').iterator.filter(_.nonEmpty))
    }
    docs.withColumn("simhash", f(col(textCol)))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (<= 3 uses
    * the 4x16-bit chunk pigeonhole for candidate generation). */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "chunk-based candidate generation guarantees recall only for hamming <= 3")
    val chunksUdf = udf { (fp: Long) => SimHash.chunks(fp) }
    val hammingUdf = udf { (a: Long, b: Long) => SimHash.hamming(a, b) }
    // empty/whitespace-only texts all fingerprint identically and would
    // flood every chunk bucket (same guard as the MinHash path)
    val nonEmpty = docs.where(
      col(textCol).isNotNull && size(filter(split(col(textCol), " "), w => w =!= lit(""))) > 0)
    val withFp = withSimHash(nonEmpty, textCol).select(col(idCol).as("id"), col("simhash"))
    val banded = withFp.select(col("id"),
      posexplode(chunksUdf(col("simhash"))).as(Seq("band", "key")))
    val pairs = candidatePairsFromBanded(banded)
    val fps = withFp.withColumnRenamed("id", "doc_a").withColumnRenamed("simhash", "fp_a")
    val fpsB = withFp.withColumnRenamed("id", "doc_b").withColumnRenamed("simhash", "fp_b")
    pairs.join(fps, "doc_a").join(fpsB, "doc_b")
      .select(col("doc_a"), col("doc_b"), hammingUdf(col("fp_a"), col("fp_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------- near-dup cluster resolution

  /** Connected components over a near-dup PAIR graph — the operator a
    * training-data pipeline runs immediately after LSH verification:
    * verified pairs -> cluster labels -> one deterministic winner per
    * cluster. Returns (id, cluster) for every id appearing in a pair,
    * where cluster = the component's MINIMUM id (the canonical winner,
    * the min-doc_id rule of exact dedup).
    *
    * Algorithm: iterative min-label propagation with pointer jumping —
    * each round (a) takes the min over own + neighbours' labels, then
    * (b) shortcuts label <- label(label). Near-dup components are tiny by
    * construction (mutual near-dups of a common head), so this converges
    * in O(log diameter) rounds: 2-3 in practice. Each round costs two
    * shuffle joins on uniformly-hashed ids plus one driver-side changed
    * count (the standard Spark iterative-CC shape; general graphs with
    * giant components would want large-star/small-star [Kiveris et al.
    * 2014], which near-dup graphs never produce).
    *
    * The RETURNED frame is persisted — it anchors an iterative lineage;
    * callers unpersist() it once consumed. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIters: Int = 25, checkpointEvery: Int = 10): DataFrame = {
    val spark = pairs.sparkSession
    // checkpoint-dir precondition validated EAGERLY (ADVICE r6: the lazy
    // check only fired at iteration `checkpointEvery`, after ~10 rounds of
    // work on a misconfigured cluster). Local mode without a configured
    // dir gets a process-tmpdir default HERE, once — note the files are
    // NOT auto-deleted across runs (long-lived local apps should set
    // spark.cleaner.referenceTracking.cleanCheckpoints or point
    // setCheckpointDir at a managed path); on a cluster a SHARED dir
    // (HDFS/S3) must be configured up front, the GraphFrames convention.
    if (checkpointEvery > 0 && spark.sparkContext.getCheckpointDir.isEmpty) {
      require(spark.sparkContext.isLocal,
        "connectedComponents: long-diameter graphs need periodic reliable " +
          "checkpoints; set spark.sparkContext.setCheckpointDir to a SHARED " +
          "path (a driver-local tmpdir is only correct in local mode)")
      spark.sparkContext.setCheckpointDir(new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_cc_checkpoint").getAbsolutePath)
    }
    // Iterative plans re-reference each round's frame several times, so the
    // CATALYST plan would grow ~4x per round (analysis blows up long before
    // the data does). Each round is therefore cut over to an RDD-backed
    // frame: analysis cost stays constant per round, RDD lineage grows only
    // linearly, and the persisted parent is released once its child exists.
    // Every `checkpointEvery` rounds the label frame is additionally
    // CHECKPOINTED (reliable if a checkpoint dir is configured, local
    // otherwise), cutting the RDD lineage itself — near-dup graphs converge
    // in 2-6 rounds and never reach it, but chained-duplicate graphs (crawl
    // snapshots re-crawled with small edits) have long diameters, and a
    // multi-hour run must not tow a hundred-round lineage into every task
    // re-execution.
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val edges = truncated(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct()).persist()
    // initialization FUSED with the first propagation round (optimization
    // r07): label(0) = min(id, min neighbour id) computed in the same
    // aggregation that enumerates the nodes — for the dominant near-dup
    // shape (pair/star components labeled by their minimum) this IS the
    // fixpoint, so the loop's first round verifies convergence instead of
    // discovering it, saving one full join round
    var labels = truncated(
      edges.groupBy(col("src")).agg(min(col("dst")).as("nbr"))
        .select(col("src").as("id"), least(col("src"), col("nbr")).as("label"))).persist()
    try {
      var iter = 0
      var done = labels.isEmpty
      while (!done && iter < maxIters) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
          .groupBy(col("src")).agg(min(col("dst_label")).as("nbr_label"))
          .withColumnRenamed("src", "id")
        val prop = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        val next = truncated(
          prop.join(prop.select(col("id").as("lid"), col("label").as("llabel")),
              col("label") === col("lid"))
            .select(col("id"), least(col("label"), col("llabel")).as("label"))).persist()
        val changed =
          try next
            .join(labels.withColumnRenamed("label", "old"), "id")
            .where(col("label") =!= col("old")).count()
          catch { case t: Throwable => next.unpersist(); throw t }
        labels.unpersist()
        labels = next
        done = changed == 0L
        iter += 1
        if (!done && checkpointEvery > 0 && iter % checkpointEvery == 0) {
          // RELIABLE checkpoint, not localCheckpoint: a local checkpoint
          // pins executor storage that no caller-visible handle can ever
          // unpersist (it bypasses the CacheManager), breaking the
          // leak-free convention this operator's tests assert. The
          // checkpoint-dir precondition was validated at method entry.
          // Eager, and labels is cached, so the write reads the cache —
          // one extra pass of one round every checkpointEvery rounds.
          val cp = labels.checkpoint()
          labels.unpersist()
          labels = cp
        }
      }
      require(done, s"connectedComponents: no convergence after $maxIters rounds " +
        "(component diameter exceeds 2^iters — not a near-dup-shaped graph)")
      labels.withColumnRenamed("label", "cluster")
    } catch {
      // the returned frame stays persisted for the caller (who unpersists
      // it), but on ANY failure — mid-round job error or the convergence
      // require — the current labels frame must not leak
      case t: Throwable => labels.unpersist(); throw t
    } finally edges.unpersist()
  }

  /** Cluster-resolved keep-set: drop every clustered doc except its
    * cluster's winner. `clusters` is [[connectedComponents]] output; the
    * anti-join key is the id (broadcastable when the dup fraction is
    * small; a plain shuffled semi-join otherwise). */
  def keepAfterClusterDedup(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters.where(col("id") =!= col("cluster")).select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** End-to-end near-dup dedup: MinHash-LSH pairs -> connected components
    * -> (id, cluster) labels. The first operator a user runs after
    * [[minHashNearDups]]; pair generation is the LSH pipeline above, so
    * the label frame inherits its determinism. Returned frame is
    * persisted (see [[connectedComponents]]). */
  def minHashDedupClusters(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame =
    connectedComponents(
      minHashNearDups(docs, idCol, textCol, shingleN, numHashes, bands, threshold)
        .select(col("doc_a"), col("doc_b")))

  // ------------------------------------------------- text analysis ops

  /** Tiny embedded stopword list (language-agnostic English-ish markers —
    * the synthetic corpus vocabulary is English words). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Integer-exact quality metrics (engine-portable: no float arithmetic):
    * word count, stopword count, character count, plus a boolean gate. */
  def withQualityMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = filter(split(col(textCol), " "), w => w =!= lit(""))
    docs
      .withColumn("word_count", size(words).cast("long"))
      .withColumn("stopword_count",
        size(filter(words, w => w.isin(Stopwords.map(s => s: Any): _*))).cast("long"))
      .withColumn("char_count", length(col(textCol)).cast("long"))
      .withColumn("quality_ok",
        col("word_count") >= 5 && col("word_count") <= 10000 &&
          col("stopword_count") * 2 <= col("word_count"))
  }

  /** Per-doc repetition statistics (integer-exact): word occurrences,
    * distinct words, the most-frequent word's count, bigram occurrences,
    * distinct bigrams. The Gopher-class repetition filters derive from
    * these (top-word mass, duplicate-n-gram mass). */
  final case class RepetitionStats(n_words: Long, n_distinct_words: Long,
      top_word_count: Long, n_bigrams: Long, n_distinct_bigrams: Long)

  /** One-pass repetition kernel: one HashMap walk over the words. An
    * imperative UDF by the measured text-kernel rule (BASELINE.md records
    * the value-identical HOF pipelines 12-40x slower —
    * lambda expressions never codegen; the kernel here IS the counting,
    * the encoder boundary is the small share). */
  private[graft] def repetitionKernel(text: String): RepetitionStats = {
    if (text == null || text.isEmpty) return RepetitionStats(0L, 0L, 0L, 0L, 0L)
    val counts = new java.util.HashMap[String, Long]()
    val bigrams = new java.util.HashSet[String]()
    var nWords = 0L
    var nBigrams = 0L
    var top = 0L
    var prev: String = null
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && text.charAt(i) == ' ') i += 1
      val start = i
      while (i < n && text.charAt(i) != ' ') i += 1
      if (i > start) {
        val w = text.substring(start, i)
        nWords += 1
        val c = counts.merge(w, 1L, (a, b) => a + b)
        if (c > top) top = c
        if (prev != null) {
          nBigrams += 1
          bigrams.add(prev + '\u0001' + w)
        }
        prev = w
      }
    }
    RepetitionStats(nWords, counts.size.toLong, top, nBigrams, bigrams.size.toLong)
  }

  /** Repetition metrics + the boolean filter gate (all-integer comparisons
    * so the oracle compare is exact): a doc is `repetitive` when its top
    * word carries more than 1/5 of the word mass, or more than 1/5 of its
    * bigram occurrences are repeats of an earlier bigram in the doc. */
  def withRepetitionMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val repUdf = udf(repetitionKernel _)
    docs
      .withColumn("rep", repUdf(col(textCol)))
      .select(docs.columns.map(col) :+ col("rep.*"): _*)
      .withColumn("repetitive",
        col("top_word_count") * 5 > col("n_words") ||
          (col("n_bigrams") - col("n_distinct_bigrams")) * 5 > col("n_bigrams"))
  }

  /** Per-doc token counts as (token, count) pairs — one HashMap pass per
    * document (the vocab-build kernel: in-doc duplicates combine map-side,
    * so the vocabulary shuffle carries per-doc partials, never raw
    * occurrences, and document frequency is exactly one emitted pair per
    * (doc, token)). */
  def docTokenCounts(textCol: Column): Column = {
    val f = udf { (text: String) =>
      if (text == null) Array.empty[(String, Long)]
      else {
        val m = new java.util.LinkedHashMap[String, Long]()
        var i = 0
        val n = text.length
        while (i < n) {
          while (i < n && text.charAt(i) == ' ') i += 1
          val start = i
          while (i < n && text.charAt(i) != ' ') i += 1
          if (i > start) m.merge(text.substring(start, i), 1L, (a, b) => a + b)
        }
        val out = new Array[(String, Long)](m.size)
        val it = m.entrySet().iterator()
        var o = 0
        while (it.hasNext) { val e = it.next(); out(o) = (e.getKey, e.getValue); o += 1 }
        out
      }
    }
    f(textCol)
  }

  /** BPE-ish regex tokenizer: alphabetic runs, digit runs, and single
    * punctuation marks become separate tokens (the pre-tokenization pass a
    * byte-pair encoder applies before merges — GPT-2-style contractions
    * excluded for engine portability). The pattern is deliberately inside
    * both Java-regex and RE2 dialects so the DuckDB oracle evaluates the
    * SAME expression. */
  val BpeIshPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token array under [[BpeIshPattern]] (codegen'd built-in, no UDF). */
  def regexTokens(textCol: Column): Column =
    regexp_extract_all(coalesce(textCol, lit("")), lit(BpeIshPattern), lit(0))

  // ------------------------------------------------------ PII redaction

  /** Redaction patterns, deliberately inside BOTH the Java-regex and RE2
    * dialects (the [[BpeIshPattern]] rule) so the DuckDB oracle evaluates
    * the SAME expressions: URLs first (they contain dots and digits that
    * the later patterns would otherwise bite into), then emails, then
    * long digit runs (phone/account-number-shaped). */
  val UrlPattern: String = "https?://[^ ]+"
  val EmailPattern: String = "[A-Za-z0-9.]+@[A-Za-z0-9.]+"
  val LongNumberPattern: String = "[0-9]{9,}"

  /** PII scrubbing — the curation pass every training corpus runs: counts
    * each PII class and rewrites the text with typed sentinels, URL ->
    * EMAIL -> NUMBER order (codegen'd built-in regexp expressions, pure
    * map-side projection; counts are taken BEFORE their class's
    * replacement so the sentinels cannot self-match). Adds `n_urls`,
    * `n_emails`, `n_longnums`, `redacted: string`. */
  def withPiiRedaction(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = coalesce(col(textCol), lit(""))
    val afterUrl = regexp_replace(t0, UrlPattern, "<URL>")
    val afterEmail = regexp_replace(afterUrl, EmailPattern, "<EMAIL>")
    docs
      .withColumn("n_urls", size(regexp_extract_all(t0, lit(UrlPattern), lit(0))).cast("long"))
      .withColumn("n_emails",
        size(regexp_extract_all(afterUrl, lit(EmailPattern), lit(0))).cast("long"))
      .withColumn("n_longnums",
        size(regexp_extract_all(afterEmail, lit(LongNumberPattern), lit(0))).cast("long"))
      .withColumn("redacted", regexp_replace(afterEmail, LongNumberPattern, "<NUM>"))
  }

  /** Heuristic language ID: character-class + marker-word voting.
    * Deterministic; intended as the pipeline shape (a real model slots in
    * at the same signature). */
  def langIdUdf: Column => Column = {
    val markers: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "and", "of", "is"),
      "es" -> Seq("el", "la", "de", "que"),
      "de" -> Seq("der", "die", "und", "ist"),
      "fr" -> Seq("le", "la", "et", "est"))
    val f = udf { (text: String) =>
      if (text == null || text.isEmpty) "und"
      else {
        val lower = text.toLowerCase
        if (lower.exists(c => c >= 0x4e00 && c <= 0x9fff)) "zh"
        else if (lower.exists(c => c >= 0x0400 && c <= 0x04ff)) "ru"
        else {
          val words = lower.split(' ').filter(_.nonEmpty).toSet
          val scored = markers.view.mapValues(ms => ms.count(words.contains)).toSeq
          val best = scored.maxBy { case (lang, s) => (s, lang) }
          if (best._2 == 0) "und" else best._1
        }
      }
    }
    c => f(c)
  }
}
