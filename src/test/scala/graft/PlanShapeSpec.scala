package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SketchKinds.{BloomProbe, KeyedBloomProbe}
import graft.plans.SketchRead

/** Pins the plan shape of every `SparkEntry.queries` entry.
  *
  * Each query runs on the sf0.001 fixture in one fixed session (`local[4]`,
  * 4 shuffle partitions, AQE on) and its result is collected. Every query
  * it executes is captured (`PlanCapture.plansOf`: AQE stages and
  * subqueries included); streaming micro-batches (`IncrementalExecution`)
  * are left out, since how many run depends on timing. Per query, one
  * line counts over those plans the shuffle, broadcast and reused
  * exchanges, the joins, the Bloom probes (`SketchRead` over `BloomProbe`
  * or `KeyedBloomProbe`) and the executed plans. The lines are compared
  * with `src/test/resources/plan_shapes.txt`, which was generated on the
  * commit before the spec existed; a differing line is a plan change to
  * explain, never a file to regenerate. Each run writes its lines to
  * `target/plan_shapes.actual` and each query's formatted plans to
  * `target/plans/<query>.txt`.
  *
  * A query whose line differed between two runs of the same commit is in
  * [[Unpinned]] instead of the file, with the reason.
  *
  * After each query, no RDD may stay persisted and the cache manager must
  * be empty: every query releases what it caches.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-shape-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Queries left out of `plan_shapes.txt`, with the reason. */
  private val Unpinned = Map(
    "q_salted_build_equiv" -> ("AQE reuses the direct build's aggregate exchange in some runs " +
      "and runs it again in others (shuffles=6 reused=2 vs shuffles=7 reused=1)"))

  private case class Run(shape: String, leaks: Seq[String])

  /** The shape line of `name` over its executed queries. */
  private def shapeOf(name: String, executions: Seq[QueryExecution]): String = {
    val plans = executions.map(_.executedPlan)
    def count(pf: PartialFunction[SparkPlan, Unit]): Int =
      plans.map(p => collectWithSubqueries(p)(pf).size).sum
    val probes = PlanCapture.expressionsOf(plans).count {
      case r: SketchRead => r.fn.isInstanceOf[BloomProbe] || r.fn.isInstanceOf[KeyedBloomProbe]
      case _ => false
    }
    s"$name shuffles=${count { case _: ShuffleExchangeLike => }}" +
      s" broadcasts=${count { case _: BroadcastExchangeLike => }}" +
      s" reused=${count { case _: ReusedExchangeExec => }}" +
      s" joins=${count { case _: BaseJoinExec => }} probes=$probes plans=${plans.size}"
  }

  /** Runs `name`, writes its formatted plans, and releases anything it
    * left cached so the next query starts from an empty cache. */
  private def run(name: String): Run = {
    val query = SparkEntry.queries(name)
    val executions = PlanCapture.plansOf(spark) { query(spark, PlanCapture.fixtureDir).collect(); () }
      .filterNot(_.isInstanceOf[IncrementalExecution])
    val formatted = executions.map(_.explainString(ExplainMode.fromString("formatted")))
    val file = Paths.get("target", "plans", s"$name.txt")
    Files.createDirectories(file.getParent)
    Files.write(file, formatted.mkString("\n").getBytes(UTF_8))
    val sc = spark.sparkContext
    val cacheManager = spark.sharedState.cacheManager
    val leaks = Seq(
      Option.when(sc.getPersistentRDDs.nonEmpty)(s"persisted RDDs ${sc.getPersistentRDDs.keys.toSeq.sorted}"),
      Option.when(!cacheManager.isEmpty)("cached plans in the cache manager")).flatten
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist())
    Run(shapeOf(name, executions), leaks)
  }

  private lazy val runs: Seq[(String, Run)] = {
    // the token fixture collects its vocabulary once per JVM, on first use;
    // collect it before any capture, so no query's shape depends on which
    // suite ran first
    graft.sources.Tokens.table(spark, PlanCapture.fixtureDir)
    SparkEntry.queries.keys.toSeq.sorted.map(name => name -> run(name))
  }

  test("every query's executed plans match the pinned shapes") {
    val actual = runs.map(_._2.shape)
    val out = Paths.get("target", "plan_shapes.actual")
    Files.createDirectories(out.getParent)
    Files.write(out, (actual.mkString("\n") + "\n").getBytes(UTF_8))
    val in = getClass.getResourceAsStream("/plan_shapes.txt")
    assert(in != null, s"missing plan_shapes.txt (this run's shapes: $out)")
    val src = scala.io.Source.fromInputStream(in)(scala.io.Codec.UTF8)
    val pinned = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    def nameOf(line: String) = line.takeWhile(_ != ' ')
    assert((pinned.map(nameOf) ++ Unpinned.keys).sorted === actual.map(nameOf),
      "every query is pinned or in Unpinned, once")
    val byName = actual.map(l => nameOf(l) -> l).toMap
    val drift = pinned.filterNot(l => byName(nameOf(l)) == l)
    assert(drift.isEmpty, "plan shapes changed (pinned -> actual):\n" +
      drift.map(l => s"$l\n  -> ${byName(nameOf(l))}").mkString("\n"))
  }

  test("every query releases the RDDs and plans it caches") {
    val leaked = runs.collect { case (name, r) if r.leaks.nonEmpty => s"$name: ${r.leaks.mkString("; ")}" }
    assert(leaked.isEmpty, s"queries left cached data behind:\n${leaked.mkString("\n")}")
  }
}
