package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable.ArrayBuffer

/** Per-query profiler on the bench's session and data
  * (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`):
  *
  * `runMain graft.Profile <name-substring>[,<name-substring>...]`
  *
  * Each matching query runs two passes through `Bench.timeQuery`; the
  * profiler prints the min time (or `FAILED <error>` when either pass
  * threw, and no time), then every Spark job of the last pass: its wall
  * duration, the driver gap since the previous job ended, its task count
  * and its stages — the serial-action breakdown the stage UI would show,
  * without the UI. */
object Profile {
  private final case class Job(id: Int, start: Long, tasks: Int, stages: String) {
    @volatile var end = 0L
  }

  /** Records the jobs that start after the last `clear`. */
  private[graft] final class JobLog(spark: SparkSession) extends SparkListener {
    private val jobs = ArrayBuffer.empty[Job]
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += Job(e.jobId, e.time, e.stageInfos.map(_.numTasks).sum,
        e.stageInfos.sortBy(_.stageId)
          .map(s => s.name.takeWhile(_ != '$').take(30) + ":" + s.numTasks)
          .mkString(" | "))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }

    def clear(): Unit = {
      Bridge.drainListeners(spark.sparkContext) // no stale job lands late
      jobs.synchronized(jobs.clear())
    }

    /** One line per recorded job, in start order. */
    def table(): Seq[String] = {
      Bridge.drainListeners(spark.sparkContext)
      var prevEnd = 0L
      jobs.synchronized(jobs.toSeq).sortBy(_.start).map { j =>
        val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = j.end
        f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.2f s  gap=$gap%6.2f s  " +
          f"tasks=${j.tasks}%4d  ${j.stages.take(150)}"
      }
    }
  }

  /** The profile of one query: its min-of-two time or `FAILED`, then the
    * job table of the second pass. */
  private[graft] def profile(spark: SparkSession, sfDir: String, log: JobLog,
      name: String, fn: (SparkSession, String) => DataFrame): Seq[String] = {
    def pass() = {
      log.clear()
      Seq(name -> Bench.timeQuery(spark, sfDir, fn))
    }
    val (ok, failed) = Bench.minOfPasses(pass(), pass())
    ok.map { case (_, dt) => f"PROF $name%-28s $dt%8.2f s" } ++
      failed.map { case (_, e) =>
        f"PROF $name%-28s FAILED ${e.toString.takeWhile(_ != '\n')}" } ++
      log.table()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Profile <name-substring>[,<name-substring>...]")
    val sfDir = Bench.envSfDir
    val spark = GraftSession.local(Bench.envCpus)
    val log = new JobLog(spark)
    SparkEntry.selected(Some(args.mkString(","))).foreach { case (name, fn) =>
      profile(spark, sfDir, log, name, fn).foreach(println)
    }
    spark.stop()
  }
}
