package graft.tools

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Summed task metrics: how many tasks ended and what they used. Times
  * are ms except `cpuNs`; `maxTaskMs` and `peakMem` are maxima over the
  * tasks, everything else a sum. */
final case class Tally(tasks: Long = 0, runMs: Long = 0, maxTaskMs: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, deserMs: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0,
    memSpill: Long = 0, diskSpill: Long = 0, peakMem: Long = 0) {
  def +(o: Tally): Tally = Tally(tasks + o.tasks, runMs + o.runMs,
    maxTaskMs max o.maxTaskMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    deserMs + o.deserMs, inputBytes + o.inputBytes,
    inputRecords + o.inputRecords, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, memSpill + o.memSpill,
    diskSpill + o.diskSpill, peakMem max o.peakMem)
}

object Tally {
  def of(m: TaskMetrics): Tally = Tally(1, m.executorRunTime,
    m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
    m.executorDeserializeTime, m.inputMetrics.bytesRead,
    m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
    m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
    m.diskBytesSpilled, m.peakExecutionMemory)

  def sum(ts: Seq[Tally]): Tally = ts.foldLeft(Tally())(_ + _)
}

/** A stage that ran tasks: the physical operators it executes (its RDD
  * scope names, far more legible than the callsite) and their tally. */
final case class StageRun(id: Int, ops: String, tally: Tally)

/** A job: scheduler wall time, the stages of it that ran tasks, and
  * their summed tally. A stage shared by several jobs (a reused shuffle)
  * counts for the first job that planned it. */
final case class JobRun(id: Int, wallMs: Long, stages: Int, tally: Tally)

/** The one scheduler listener: records per-job, per-stage and per-task
  * metrics of a session since the last [[reset]]. The listener bus is
  * asynchronous, so every read and every reset first drains it — a
  * task end from an earlier action can neither land after a reset and
  * inflate the next reading, nor be missing from a read. Obtain it with
  * [[RunListener.of]], which installs it once per SparkContext. */
final class RunListener private (sc: SparkContext) extends SparkListener {
  private val jobTimes = mutable.Map.empty[Int, (Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageOps = mutable.Map.empty[Int, String]
  private val tallies = mutable.Map.empty[Int, Tally]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTimes(e.jobId) = (e.time, e.time)
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (start, _) => jobTimes(e.jobId) = (start, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOps(e.stageInfo.stageId) = e.stageInfo.rddInfos.map(_.name).distinct.mkString(" | ")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) synchronized {
    tallies(e.stageId) = tallies.getOrElse(e.stageId, Tally()) + Tally.of(e.taskMetrics)
  }

  /** Forget everything recorded so far. */
  def reset(): Unit = {
    ListenerDrain(sc)
    synchronized { jobTimes.clear(); stageJob.clear(); stageOps.clear(); tallies.clear() }
  }

  def stages: Seq[StageRun] = {
    ListenerDrain(sc)
    synchronized {
      tallies.toSeq.sortBy(_._1).map { case (id, t) =>
        StageRun(id, stageOps.getOrElse(id, ""), t)
      }
    }
  }

  def jobs: Seq[JobRun] = {
    val ran = stages
    synchronized {
      jobTimes.toSeq.sortBy(_._1).map { case (id, (start, end)) =>
        val own = ran.filter(s => stageJob.get(s.id).contains(id))
        JobRun(id, end - start, own.size, Tally.sum(own.map(_.tally)))
      }
    }
  }

  def totals: Tally = Tally.sum(stages.map(_.tally))
}

object RunListener {
  private val installed = mutable.Map.empty[SparkContext, RunListener]

  /** The session's listener, installed on first use. */
  def of(spark: SparkSession): RunListener = installed.synchronized {
    val sc = spark.sparkContext
    installed.getOrElseUpdate(sc, {
      val l = new RunListener(sc)
      sc.addSparkListener(l)
      l
    })
  }
}
