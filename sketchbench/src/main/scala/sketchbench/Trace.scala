package sketchbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the usual tail percentiles that still has at least ten
    * samples beyond it; with fewer than eleven samples, the maximum.
    * Returns (percentile, value, samples beyond it). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val ps = Seq(99.99, 99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    ps.find(p => n * (1 - p / 100) >= 10) match {
      case Some(p) => (p, quantile(xs, p / 100), math.floor(n * (1 - p / 100)).toInt)
      case None => (100.0, xs.max, 0)
    }
  }
}

/** One traced call into a layer. Job-group ids are span ids, so the
  * listener can attribute every Spark stage to the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends. A disabled
  * tracer runs the body and records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length + 1, name, stack.headOption.map(_.id).getOrElse(0), System.nanoTime(), 0L)
      spans += s
      stack.push(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** A span and all its descendants. */
  def subtree(id: Int): Seq[Span] = {
    val kids = children(id)
    spans.filter(_.id == id).toSeq ++ kids.flatMap(k => subtree(k.id))
  }

  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(file: java.io.File, counters: Int => Map[String, Double]): Unit = {
    file.getParentFile.mkdirs()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val c = counters(s.id).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"end_s":${Json.num((s.endNs - t0) / 1e9)},""" +
        s""""self_s":${Json.num(selfSeconds(s))},"counters":{$c}}"""
    }
    java.nio.file.Files.write(file.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Engine-side counters per job group (= span id; "" when untagged). */
final class GroupCounters {
  var jobs, tasks, shuffleWrite, shuffleRead, spill, resultBytes, peakExecMem = 0L
  var cpuNs, gcMs, runMs = 0L
  /** Task run times per stage, for the skew of the widest stage. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: GroupCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; resultBytes += o.resultBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    cpuNs += o.cpuNs; gcMs += o.gcMs; runMs += o.runMs
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max / median task time in the stage with the most tasks. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val widest = stageTaskMs.values.maxBy(_.length).map(_.toDouble).toSeq
      val med = Stats.median(widest)
      if (med <= 0) 0.0 else widest.max / med
    }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
    "spill_bytes" -> spill.toDouble, "result_bytes" -> resultBytes.toDouble,
    "peak_exec_mem_bytes" -> peakExecMem.toDouble, "executor_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "task_skew" -> taskSkew)
}

/** Attributes stage and task counters to the job group that was set when
  * the job started. */
final class EngineListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupCounters]()

  private def counters(g: String): GroupCounters = groups.computeIfAbsent(g, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = counters(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.runMs += m.executorRunTime
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Counters summed over the given job groups. */
  def sum(groupIds: Iterable[String]): GroupCounters = {
    val out = new GroupCounters
    groupIds.foreach(g => Option(groups.get(g)).foreach(c => c.synchronized(out.add(c))))
    out
  }
}

object Json {
  /** A finite JSON number with all its digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
