package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch seconds, monotonic within the run: Spark's
  * listener events carry epoch milliseconds, so harness spans use the
  * same time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
}

/** One traced interval: `kind` is run, pass, gate, build, action, job or
  * stage; `parent` is the id of the span that caused it (0 for the run
  * span itself). */
final class Span(val id: Int, val parent: Int, val kind: String,
    val name: String, val start: Double) {
  @volatile var end: Double = Double.NaN
  val attrs: mutable.Map[String, Any] = mutable.Map.empty
}

/** Task counters summed over one stage attempt. */
final class StageCounters {
  var runS, cpuS, gcS, fetchWaitS, maxTaskS = 0.0
  var peakMemBytes, shuffleWriteBytes, shuffleWriteRecords = 0L
  var shuffleReadBytes, shuffleReadRecords, memSpillBytes = 0L
  var diskSpillBytes, inputBytes, inputRecords = 0L
  var outputBytes, outputRecords, failedTasks = 0L
  val taskReadBytes = mutable.ArrayBuffer.empty[Long]

  def add(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    maxTaskS = math.max(maxTaskS, e.taskInfo.duration / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      runS += m.executorRunTime / 1e3
      cpuS += m.executorCpuTime / 1e9
      gcS += m.jvmGCTime / 1e3
      peakMemBytes = math.max(peakMemBytes, m.peakExecutionMemory)
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      shuffleReadBytes += read
      shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      if (read > 0) taskReadBytes += read
      memSpillBytes += m.memoryBytesSpilled
      diskSpillBytes += m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
      outputRecords += m.outputMetrics.recordsWritten
    }
  }

  def toMap: Map[String, Any] = {
    val reads = taskReadBytes.sorted
    Map("run_s" -> runS, "cpu_s" -> cpuS, "gc_s" -> gcS,
      "fetch_wait_s" -> fetchWaitS, "max_task_s" -> maxTaskS,
      "peak_mem_bytes" -> peakMemBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_write_records" -> shuffleWriteRecords,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_read_records" -> shuffleReadRecords,
      "mem_spill_bytes" -> memSpillBytes, "disk_spill_bytes" -> diskSpillBytes,
      "input_bytes" -> inputBytes, "input_records" -> inputRecords,
      "output_bytes" -> outputBytes, "output_records" -> outputRecords,
      "failed_tasks" -> failedTasks,
      "max_task_read_bytes" -> reads.lastOption.getOrElse(0L),
      "median_task_read_bytes" ->
        (if (reads.isEmpty) 0L else reads(reads.size / 2)))
  }
}

/** Spans kept in memory for the whole run: the harness opens the run,
  * pass, gate and build/action spans; as a SparkListener this class adds
  * one span per job (parented by the `Tracer.ParentKey` local property
  * the harness sets around each phase) and one per stage (parented by its
  * job), with the stage's task counters as attributes. It also tracks the
  * bytes of cached and checkpointed RDD blocks. */
final class Tracer extends SparkListener {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[(Int, Int), StageCounters]
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  /** The root span, open from construction until the harness closes it. */
  val run: Span = open("run", "run", 0)

  def open(kind: String, name: String, parent: Int): Span = synchronized {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, Clock.now())
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = Clock.now()

  def storagePeakBytes: Long = synchronized(blockPeak)

  def snapshot: Seq[Span] = synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.ParentKey)))
      .map(_.toInt).getOrElse(run.id)
    val s = new Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}",
      e.time / 1e3)
    spans += s
    jobs(e.jobId) = s
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { s =>
      s.attrs("succeeded") = e.jobResult == JobSucceeded
      s.end = e.time / 1e3
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counters.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageCounters)
      .add(e)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).flatMap(jobs.get)
        .map(_.id).getOrElse(run.id)
      val s = new Span(ids.incrementAndGet(), parent, "stage",
        s"stage ${info.stageId}.${info.attemptNumber()}",
        info.submissionTime.getOrElse(0L) / 1e3)
      s.end = info.completionTime.getOrElse(0L) / 1e3
      s.attrs ++= counters.remove((info.stageId, info.attemptNumber()))
        .map(_.toMap).getOrElse(Map.empty)
      s.attrs("tasks") = info.numTasks
      s.attrs("failed") = info.failureReason.isDefined
      spans += s
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { id =>
        blockBytes -= blocks.remove(id).getOrElse(0L)
        if (info.storageLevel.isValid) {
          val bytes = info.memSize + info.diskSize
          blocks(id) = bytes
          blockBytes += bytes
        }
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }
}

object Tracer {
  /** Local property naming the span that jobs submitted from the
    * current thread belong to. */
  val ParentKey = "perfbench.parent"
}
