package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ScalaAggregator}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.jobs.SketchJob
import graft.operators.SketchKinds.FusedTokens
import graft.plans.{NativeAggs, SketchAgg}

/** Checkpoint/resume semantics (north rule): a job killed mid-way and
  * resumed must produce final sketches byte-identical to an uninterrupted
  * run, with per-bucket lineage rows recording what was committed when. */
class SketchJobSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-job-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = SketchJob.DefaultConfig.copy(numBuckets = 16)

  def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
    d.delete()
    d.getAbsolutePath
  }

  /** A tokens table in the job's input shape (doc_id, tokens, n_tok, source);
    * source "rare" has 6 docs, so it spans fewer buckets than the others. */
  def generatedTokens(): DataFrame = {
    val rows = (0 until 600).map { i =>
      val toks = Array.tabulate(1 + i % 37)(j => 1 + (i * 31 + j * 7) % 900)
      (s"doc-$i", toks, toks.length, if (i % 100 == 0) "rare" else s"src${i % 5}")
    }
    spark.createDataFrame(rows).toDF("doc_id", "tokens", "n_tok", "source")
  }

  /** 6k + log2l = 88 > 64: the bloom takes the 128-bit hash path. */
  val cfg128 = cfg.copy(bloomK = 13, bloomLog2l = 10)

  def sketchBytes(rows: Array[Row]): Map[String, Seq[Seq[Byte]]] =
    rows.map(r => r.getAs[String]("source") ->
      Seq("bloom", "hll", "cms").map(c => r.getAs[Array[Byte]](c).toSeq)).toMap

  /** The job's reference: one uncheckpointed per-source fused build. */
  def oneShot(tokens: DataFrame, c: SketchJob.JobConfig): Map[String, Seq[Seq[Byte]]] =
    sketchBytes(tokens.groupBy(col("source"))
      .agg(NativeAggs.column(FusedTokens(c.bloomCfg, c.hllP, c.cmsCfg), col("tokens")).as("f"))
      .select(col("source"), col("f.bloom").as("bloom"), col("f.hll").as("hll"), col("f.cms").as("cms"))
      .collect())

  /** Every aggregate function the executed plan (adaptive stages included) runs. */
  def aggFunctions(plan: SparkPlan): Seq[AggregateFunction] =
    collect(plan) { case a: BaseAggregateExec => a.aggregateExpressions.map(_.aggregateFunction) }.flatten

  def checkResume(cfg: SketchJob.JobConfig): Unit = {
    val tokens = graft.sources.Tokens.table(spark, "/root/testdata/sf0.001")

    // uninterrupted reference run
    val ckptA = freshDir()
    assert(SketchJob.runIncrement(spark, tokens, ckptA, cfg) === 16)
    val a = SketchJob.finalizeSketches(spark, ckptA, cfg)
      .orderBy("source").collect()

    // crash after 5 buckets, then resume twice
    val ckptB = freshDir()
    assert(SketchJob.runIncrement(spark, tokens, ckptB, cfg, failAfterBuckets = Some(5)) === 5)
    assert(SketchJob.committedBuckets(spark, ckptB).size === 5)
    assert(SketchJob.runIncrement(spark, tokens, ckptB, cfg, failAfterBuckets = Some(7)) === 7)
    assert(SketchJob.runIncrement(spark, tokens, ckptB, cfg) === 4)
    assert(SketchJob.runIncrement(spark, tokens, ckptB, cfg) === 0, "idempotent when complete")
    val b = SketchJob.finalizeSketches(spark, ckptB, cfg)
      .orderBy("source").collect()

    assert(a.length === b.length && a.length > 0)
    a.zip(b).foreach { case (ra, rb) =>
      assert(ra.getString(0) === rb.getString(0))
      for (i <- 1 to 3) // bloom, hll, cms
        assert(java.util.Arrays.equals(ra.getAs[Array[Byte]](i), rb.getAs[Array[Byte]](i)),
          s"sketch column $i differs for source ${ra.getString(0)}")
      assert(ra.getLong(4) === rb.getLong(4), "n_rows differs")
      assert(ra.getLong(5) === rb.getLong(5), "n_tokens differs")
    }
  }

  test("interrupted build + resume == uninterrupted build (byte-identical sketches)") {
    checkResume(cfg)
  }

  test("interrupted build + resume == uninterrupted build for a 128-bit bloom config") {
    checkResume(cfg128)
  }

  test("finalized sketches equal a one-shot fused build; n_buckets counts distinct buckets") {
    val tokens = generatedTokens()
    // the per-source distinct bucket count, computed off Spark
    val bucketsBySource = tokens.select("doc_id", "source").collect()
      .groupBy(_.getString(1))
      .map { case (src, rows) => src -> rows.map { r =>
        val id = Option(r.getString(0)).getOrElse("").getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ((SipHash.hash64(cfg.k0, cfg.k1, id) >>> 1) % cfg.numBuckets).toInt
      }.distinct.length.toLong }
    for (c <- Seq(cfg, cfg128)) {
      val ckpt = freshDir()
      SketchJob.runIncrement(spark, tokens, ckpt, c, failAfterBuckets = Some(3))
      SketchJob.runIncrement(spark, tokens, ckpt, c)
      val fin = SketchJob.finalizeSketches(spark, ckpt, c).collect()
      assert(sketchBytes(fin) === oneShot(tokens, c),
        s"checkpointed job differs from the one-shot fused build (bloom k=${c.bloomK})")
      assert(bucketsBySource("rare") < cfg.numBuckets)
      assert(fin.map(r => r.getAs[String]("source") -> r.getAs[Long]("n_buckets")).toMap === bucketsBySource)
    }
  }

  /** Whether `f` is the fused build. */
  def isFused(f: AggregateFunction): Boolean = f match {
    case a: SketchAgg => a.kind.isInstanceOf[FusedTokens]
    case _ => false
  }

  test("plan shape: finalize has one shuffle exchange; neither half runs a ScalaAggregator") {
    val tokens = generatedTokens()
    val ckpt = freshDir()
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def incrementPlans = plans.synchronized(plans.toList).filter(p => aggFunctions(p).exists(isFused))
    spark.listenerManager.register(listener)
    try {
      SketchJob.runIncrement(spark, tokens, ckpt, cfg)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (incrementPlans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val incrementAggs = plans.synchronized(plans.toList).flatMap(aggFunctions)
    assert(incrementPlans.size === 1, s"the increment must run ONE plan with the fused build: $incrementAggs")
    val increment = incrementPlans.head
    assert(collect(increment) { case e: ShuffleExchangeLike => e }.size === 1, s"increment plan:\n$increment")
    assert(!incrementAggs.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]), s"increment runs a udaf: $incrementAggs")

    val fin = SketchJob.finalizeSketches(spark, ckpt, cfg)
    fin.collect()
    val plan = fin.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.size === 1, s"finalize plan:\n$plan")
    val finalizeAggs = aggFunctions(plan)
    assert(finalizeAggs.count { case a: SketchAgg => a.isMerge; case _ => false } >= 3,
      s"finalize aggregates: $finalizeAggs")
    assert(!finalizeAggs.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]), s"finalize runs a udaf: $finalizeAggs")
  }

  test("checkpoint parquet schema is pinned (checkpoints written earlier still resume)") {
    val tokens = generatedTokens()
    val ckpt = freshDir()
    SketchJob.runIncrement(spark, tokens, ckpt, cfg, failAfterBuckets = Some(2))
    val expected = StructType(Seq(
      StructField("bucket", IntegerType),
      StructField("source", StringType),
      StructField("bloom", BinaryType),
      StructField("hll", BinaryType),
      StructField("cms", BinaryType),
      StructField("n_rows", LongType),
      StructField("n_tokens", LongType),
      StructField("committed_at_ms", LongType),
      StructField("build_host", StringType)))
    assert(spark.read.parquet(ckpt + "/run_*").schema === expected)
    assert(SketchJob.CheckpointSchema === expected)
  }

  test("checkpoint reads start no schema-inference job; a run dir missing a column fails loudly") {
    val tokens = generatedTokens()
    val ckpt = freshDir()
    SketchJob.runIncrement(spark, tokens, ckpt, cfg)
    // job starts tagged with their thread's job group; a marker job in its
    // own group, seen last on the in-order listener bus, means every
    // earlier job start has been delivered
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("finalize-construct", "constructing finalizeSketches")
      val fin = SketchJob.finalizeSketches(spark, ckpt, cfg)
      sc.setJobGroup("marker", "listener bus marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("marker"))
      assert(!groups.contains("finalize-construct"), s"jobs started while constructing finalize: $groups")
      assert(fin.count() > 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }

    // a committed run dir whose files lack `cms`, or hold `bucket` as bigint
    val committed = spark.read.schema(SketchJob.CheckpointSchema).parquet(ckpt + "/run_*")
    for ((bad, column) <- Seq(
        committed.drop("cms") -> "column cms",
        committed.withColumn("bucket", col("bucket").cast("long")) -> "column bucket is bigint")) {
      val broken = freshDir()
      SketchJob.runIncrement(spark, tokens, broken, cfg, failAfterBuckets = Some(2))
      val dir = s"$broken/run_9999999999999_0"
      bad.limit(3).write.parquet(dir)
      for (read <- Seq[() => Any](
          () => SketchJob.finalizeSketches(spark, broken, cfg).collect(),
          () => SketchJob.committedBuckets(spark, broken))) {
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains("run_9999999999999_0") && e.getMessage.contains(column), e.getMessage)
      }
    }
  }

  test("a crashed (no _SUCCESS) run dir is ignored; its buckets re-run on resume") {
    val tokens = graft.sources.Tokens.table(spark, "/root/testdata/sf0.001")
    val ckpt = freshDir()
    assert(SketchJob.runIncrement(spark, tokens, ckpt, cfg, failAfterBuckets = Some(6)) === 6)
    // simulate a crashed second run: parquet files present, no _SUCCESS
    val junk = new java.io.File(s"$ckpt/run_9999999999999_99")
    junk.mkdirs()
    java.nio.file.Files.writeString(junk.toPath.resolve("part-00000.parquet"), "garbage")
    assert(SketchJob.committedBuckets(spark, ckpt).size === 6,
      "uncommitted run dir must not contribute buckets")
    // resume completes the remaining buckets and finalize matches a clean run
    assert(SketchJob.runIncrement(spark, tokens, ckpt, cfg) === 10)
    val resumed = SketchJob.finalizeSketches(spark, ckpt, cfg).orderBy("source").collect()
    val cleanCkpt = freshDir()
    SketchJob.runIncrement(spark, tokens, cleanCkpt, cfg)
    val clean = SketchJob.finalizeSketches(spark, cleanCkpt, cfg).orderBy("source").collect()
    resumed.zip(clean).foreach { case (r, c) =>
      for (i <- 1 to 3)
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](i), c.getAs[Array[Byte]](i)))
    }
  }

  test("finalized sketches have no false negatives and coherent lineage") {
    val tokens = graft.sources.Tokens.table(spark, "/root/testdata/sf0.001")
    val ckpt = freshDir()
    SketchJob.runIncrement(spark, tokens, ckpt, cfg)
    val fin = SketchJob.finalizeSketches(spark, ckpt, cfg).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    // every (source, token) must probe present in its source's final bloom
    val bySource = tokens.collect()
      .groupBy(_.getString(3))
      .map { case (s, rows) => s -> rows.flatMap(_.getSeq[Int](1)) }
    bySource.foreach { case (source, toks) =>
      val (bCfg, words, _) = BlockedBloom.fromBytes(cfg.k0, cfg.k1, fin(source))
      toks.foreach(t => assert(BlockedBloom.containsInt(words, bCfg, t),
        s"false negative in resumed sketch for source=$source token=$t"))
    }
    val lin = SketchJob.lineage(spark, ckpt).collect()
    assert(lin.map(_.getInt(0)).toSet.size === lin.length, "one lineage row per bucket")
    assert(lin.map(_.getLong(1)).sum === tokens.count(), "lineage row counts must sum to input rows")
  }

  test("library calls leave a NativeAggs.register binding in place; GraftFunctions.register is idempotent") {
    NativeAggs.register(spark, bloomLog2l = 12)
    val registry = spark.sessionState.functionRegistry
    val fused = org.apache.spark.sql.catalyst.FunctionIdentifier(NativeAggs.FusedName)
    val bound = registry.lookupFunctionBuilder(fused)
    SketchJob.runIncrement(spark, generatedTokens(), freshDir(), cfg.copy(bloomLog2l = 10))
    graft.plans.GraftFunctions.register(spark)
    graft.plans.GraftFunctions.register(spark)
    assert(registry.lookupFunctionBuilder(fused) === bound, "a library call rebound a name the session had")
    val bloom = generatedTokens().agg(NativeAggs.fusedTokensNative(col("tokens")).as("f"))
      .select(col("f.bloom")).head().getAs[Array[Byte]](0)
    assert(bloom.length === BloomConfig(cfg.k0, cfg.k1, 3, 12).sizeBytes + 64,
      s"fused build ran a ${bloom.length}-byte bloom, not the registered 2^12 words")
  }
}
