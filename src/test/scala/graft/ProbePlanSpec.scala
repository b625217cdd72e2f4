package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.ScalarSubquery
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.BinaryType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomConfig, Keys}
import graft.operators.Decontamination
import graft.operators.SketchKinds.{BloomProbe, KeyedBloomProbe}
import graft.plans.SketchRead
import graft.streaming.StreamingSketch

/** Plan gate of the library's Bloom probes: every probe entry point
  * computes its sketch inside the query, as a scalar subquery, instead of
  * collecting it and embedding it in the plan as a literal. For each
  * entry point, over the sf0.001 fixture, every plan it executes (AQE
  * stages and subqueries included) must hold no binary literal over
  * 1 KiB, and every Bloom probe's sketch argument must be computed from
  * scalar subqueries only (a subquery, a field of one, or a read function
  * over them). No Bloom semi-join may probe the build side that built its
  * filter. Building the decontamination plan must start no Spark job, and
  * neither must reading the tokens table after a warm-up call. */
class ProbePlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-probe-plan-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def dir: String = PlanCapture.fixtureDir

  private val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)

  /** The gate over the plans `body` executes; returns the probes found. */
  private def assertProbesInQuery(name: String)(body: => Unit): Seq[SketchRead] = {
    val exprs = PlanCapture.expressionsOf(PlanCapture.plansOf(spark)(body).map(_.executedPlan))
    val big = exprs.collect {
      case Literal(b: Array[Byte], BinaryType) if b.length > 1024 => b.length
    }
    assert(big.isEmpty, s"$name: the executed plans hold binary literals of ${big.mkString(", ")} bytes")
    val probes = exprs.collect {
      case r: SketchRead if r.fn.isInstanceOf[BloomProbe] || r.fn.isInstanceOf[KeyedBloomProbe] => r
    }
    assert(probes.nonEmpty, s"$name: no Bloom probe in the executed plans")
    // a field of a merged subquery (Spark's MergeScalarSubqueries) or a
    // read function over subqueries counts: every leaf is a subquery
    def fromSubqueries(e: Expression): Boolean = e.collectLeaves().forall(_.isInstanceOf[ScalarSubquery])
    probes.foreach(p => assert(fromSubqueries(p.children.head),
      s"$name: probe sketch argument is not a scalar subquery: ${p.children.head}"))
    probes
  }

  test("every library probe reads its sketch from a scalar subquery, never a plan literal") {
    def run(name: String, df: => DataFrame): Unit =
      assertProbesInQuery(name)(assert(df.collect().nonEmpty, s"$name returned no rows"))
    run("bloomProbeExact", SketchQueries.bloomProbeExact(spark, dir))
    run("bloom128ProbeExact", SketchQueries.bloom128ProbeExact(spark, dir))
    run("fusedNativeProbeExact", SketchQueries.fusedNativeProbeExact(spark, dir))
    run("bloomPrefilterSemijoin", SketchQueries.bloomPrefilterSemijoin(spark, dir))
    run("bloomUnionGlobal", SketchQueries.bloomUnionGlobal(spark, dir))
    run("saltedBuildEquiv", SketchQueries.saltedBuildEquiv(spark, dir))
    run("bloomJoinLineitem", SketchQueries.bloomJoinLineitem(spark, dir))
    run("sketchJobResumeProbeExact", SketchQueries.sketchJobResumeProbeExact(spark, dir))
    run("replayBloomWindows", StreamingSketch.replayBloomWindows(spark, dir, cfg, 12))
    run("replayBloomWindowsAppend", StreamingSketch.replayBloomWindowsAppend(spark, dir, cfg, 12))
    run("decontaminate", Decontamination.decontaminate(
      graft.sources.Tokens.table(spark, dir), "src0", 4, cfg))
    val inter = assertProbesInQuery("bloomIntersectExact")(
      assert(SketchQueries.bloomIntersectExact(spark, dir).collect().nonEmpty))
    assert(inter.exists(_.children.head.isInstanceOf[SketchRead]),
      "bloomIntersectExact probes the intersection of two subqueries")
  }

  /** `body`'s result, failing if `body` started a Spark job. Job starts
    * carry their thread's job group; a marker job in its own group, seen
    * last on the in-order listener bus, means every earlier job start has
    * been delivered. */
  private def withoutJobs[T](what: String)(body: => T): T = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("body", what)
      val result = body
      sc.setJobGroup("marker", "listener bus marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("marker"))
      assert(!groups.contains("body"), s"jobs started while $what: $groups")
      result
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("after a warm-up call, reading the tokens table starts no Spark job") {
    graft.sources.Tokens.table(spark, dir)
    withoutJobs("reading the tokens table")(graft.sources.Tokens.table(spark, dir))
  }

  test("building the decontamination plan starts no Spark job") {
    val rows = (0 until 200).map { i =>
      val toks = Array.tabulate(6 + i % 9)(j => (i * 7 + j * 3) % 40)
      (s"doc-$i", toks, toks.length, s"src${i % 3}")
    }
    val tokens = spark.createDataFrame(rows).toDF("doc_id", "tokens", "n_tok", "source")
    // the helper's materialize runs after `use` returns the plan: its jobs
    // go to their own group, so only the jobs of building the plan count
    val out = withoutJobs("building the decontamination plan")(
      Decontamination.contaminated(tokens, "src0", 4, cfg) { hits =>
        val plan = Decontamination.report(tokens, "src0", hits)
        spark.sparkContext.setJobGroup("materialize", "BloomJoin.semi materializes the report")
        plan
      })
    val exact = Decontamination.decontaminateExact(tokens, "src0", 4).collect().toSeq
    assert(out.collect().toSeq === exact)
    assert(exact.exists(_.getLong(2) > 0L), "the fixture plants contamination")
  }

  test("no Bloom semi-join probes its own build side") {
    // the build side of a left-semi join is its right child; every row
    // there built the filter, so a probe there can only return true
    val onBuildSide = Seq("q_bloom_prefilter_semijoin", "q_bloom_join_lineitem",
        "q_ngram_contamination", "q_curation_funnel").flatMap { name =>
      val plans = PlanCapture.plansOf(spark)(
        assert(SparkEntry.queries(name)(spark, dir).collect().nonEmpty)).map(_.executedPlan)
      val semis = plans.flatMap(PlanCapture.collectWithSubqueries(_) {
        case j: BaseJoinExec if j.joinType == LeftSemi => j
      })
      assert(semis.nonEmpty, s"$name: no left-semi join in the executed plans")
      PlanCapture.expressionsOf(semis.map(_.right)).collect {
        case r: SketchRead if r.fn.isInstanceOf[BloomProbe] => s"$name: $r"
      }
    }
    assert(onBuildSide.isEmpty, s"build sides probe their own filter:\n${onBuildSide.mkString("\n")}")
  }
}
