package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer (or a Spark job, kind "job"),
  * with the span that caused it. Times are microseconds from run start. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startUs: Long, endUs: Long, run: String,
                      attrs: Map[String, Double] = Map.empty) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** Spark-side facts of one traced op, read from the two listeners. */
final case class OpEngine(jobs: Int, stages: Int, tasks: Int,
                          stageSkews: Seq[Double], taskCpuS: Double,
                          gcS: Double, shuffleWriteMb: Double,
                          shuffleReadMb: Double, spillMb: Double,
                          planningS: Double, planNodes: Int,
                          jobIntervalsUs: Seq[(Long, Long)])

/** In-memory span recorder plus the SparkListener / QueryExecutionListener
  * pair that attributes jobs, stages, tasks and planning phases to spans.
  * Registered by the benchmark only while a traced section runs; spans are
  * written out once, when the run ends.
  *
  * Attribution: the open span's id rides in the `perfbench.span` local
  * property, which Spark copies into every job it submits. One client
  * thread runs ops one at a time, and `drain()` empties the listener bus
  * after each op, so everything collected since the last drain belongs to
  * the op that just ended. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def nowUs: Long = (System.nanoTime() - t0Ns) / 1000
  private def msToUs(ms: Long): Long = (ms - t0Ms) * 1000

  /** Run `body` inside a span; `attrs` are counts known once it ends. */
  def span[T](name: String, kind: String = "layer")(body: => T)
             (attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double]): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty("perfbench.span", id.toString)
    val start = nowUs
    try {
      val out = body
      spans += Span(id, parent, name, kind, start, nowUs, runId, attrs(out))
      out
    } finally {
      stack = stack.tail
      sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
    }
  }

  // ---- listener state (written on the listener-bus thread) ----
  private final case class Job(id: Int, span: Int, startMs: Long)
  private val jobs = ArrayBuffer.empty[Job]
  private val jobEnd = scala.collection.mutable.Map.empty[Int, Long]
  private val stageTasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private var stagesDone = 0
  private val acc = Array.fill(5)(0.0) // cpu_s, gc_s, shw_mb, shr_mb, spill_mb
  private val qes = ArrayBuffer.empty[(Double, Int)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toInt).getOrElse(-1)
      jobs += Job(e.jobId, span, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stagesDone += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        acc(0) += m.executorCpuTime / 1e9
        acc(1) += m.jvmGCTime / 1e3
        acc(2) += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        acc(3) += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        acc(4) += m.diskBytesSpilled / 1048576.0
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val planning = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      val nodes = scala.util.Try(Tracer.planNodes(qe.executedPlan)).getOrElse(0)
      Tracer.this.synchronized { qes += ((planning, nodes)) }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Everything the listeners saw since the previous call; job spans are
    * added as children of the span that submitted them. */
  def collectOp(): OpEngine = {
    drain()
    synchronized {
      val done = jobs.toList
      val skews = stageTasks.collect { case (_, ts) if ts.size >= 2 =>
        val s = ts.sorted
        s.last.toDouble / math.max(1.0, s(s.size / 2).toDouble)
      }.toSeq
      val intervals = done.map { j =>
        val end = jobEnd.getOrElse(j.id, j.startMs)
        spans += Span(nextId, j.span, s"job ${j.id}", "job", msToUs(j.startMs), msToUs(end), runId)
        nextId += 1
        (msToUs(j.startMs), msToUs(end))
      }
      val out = OpEngine(done.size, stagesDone,
        stageTasks.values.map(_.size).sum, skews, acc(0), acc(1), acc(2), acc(3), acc(4),
        qes.map(_._1).sum, qes.map(_._2).sum, intervals)
      jobs.clear(); jobEnd.clear(); stageTasks.clear(); qes.clear()
      stagesDone = 0
      java.util.Arrays.fill(acc, 0.0)
      out
    }
  }

  /** Per span name: summed self time — the span's duration minus the part
    * of it covered by child layer spans (job spans are not layers). */
  def selfTimes: Map[String, Double] = {
    val layers = spans.filter(_.kind != "job")
    val kids = layers.groupBy(_.parent)
    layers.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.durS - Tracer.unionUs(
        kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)).toSeq) / 1e6).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"run":${Json.str(s.run)},"attrs":$attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Physical plan size: final adaptive plans and query stages unwrapped,
    * subqueries included. */
  def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _ => 1 + p.children.map(planNodes).sum + p.subqueries.map(planNodes).sum
  }

  /** Length of the union of [start, end) intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
