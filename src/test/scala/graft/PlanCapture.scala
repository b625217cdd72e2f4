package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Capture of the queries a piece of driver code executes, shared by the
  * plan specs (`ProbePlanSpec`, `PlanShapeSpec`). */
object PlanCapture extends AdaptiveSparkPlanHelper {

  /** The sf0.001 fixture directory, where TESTDATA.md lists it. */
  lazy val fixtureDir: String = {
    val src = scala.io.Source.fromFile("TESTDATA.md")(scala.io.Codec.UTF8)
    val row = try src.getLines().find(_.startsWith("| 0.001 |")).get finally src.close()
    "`([^`]+)`".r.findFirstMatchIn(row).get.group(1).stripSuffix("/")
  }

  /** Every query `body` executes successfully, in the order the listener
    * bus delivers them; each `executedPlan` has its AQE stages resolved.
    * A marker query run after `body` is delivered last on the in-order
    * bus, so once it arrives every earlier query has; the marker itself
    * is not returned. */
  def plansOf(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val executions = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = s"plan_gate_marker_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    def isMarker(qe: QueryExecution) = qe.executedPlan.output.exists(_.name == marker)
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!executions.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(executions.asScala.exists(isMarker), "listener bus marker never arrived")
    } finally spark.listenerManager.unregister(listener)
    executions.asScala.toSeq.filterNot(isMarker)
  }

  /** Every expression node of `plans`, subqueries and AQE stages included. */
  def expressionsOf(plans: Seq[SparkPlan]): Seq[Expression] =
    plans.flatMap(p => collectWithSubqueries(p) { case node => node.expressions }.flatten)
      .flatMap(_.collect { case e => e })
}
