package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span of the trace: a timed call at a layer boundary. Times are
  * wall-clock milliseconds so they line up with the listener's event times.
  */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
                      parent: Int, op: Int)

/** Counters the traced run collects from outside the engine: a
  * SparkListener for scheduler and task metrics and a
  * StreamingQueryListener for micro-batch progress. Both only add to
  * totals; `take()` returns the totals since the previous call. Callers
  * drain the listener bus before calling `take()`.
  */
final class Probe extends SparkListener {
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val jobStart = mutable.Map[Int, Long]()
  private val jobs = mutable.ArrayBuffer[(Long, Long)]()
  private val batchMs = mutable.ArrayBuffer[Double]()

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("sched.jobs", 1); jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("sched.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      add("sched.delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      add("task.run_ms", m.executorRunTime)
      add("task.cpu_ms", m.executorCpuTime / 1e6)
      add("task.gc_ms", m.jvmGCTime)
      add("task.shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("task.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("task.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("task.input_bytes", m.inputMetrics.bytesRead)
      add("task.output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("streaming.batches", 1)
        add("streaming.add_batch_ms", d("addBatch"))
        add("streaming.wal_commit_ms", d("walCommit"))
        add("streaming.commit_ms", d("commitOffsets"))
        add("streaming.planning_ms", d("queryPlanning"))
        add("streaming.input_rows", p.numInputRows.toDouble)
        batchMs += d("triggerExecution")
      }
  }

  /** The running total of one counter, without resetting it. */
  def count(k: String): Double = synchronized(c(k))

  /** Totals since the last call, plus the job intervals and micro-batch
    * durations seen in that time.
    */
  def take(): (Map[String, Double], Seq[(Long, Long)], Seq[Double]) = synchronized {
    val out = (c.toMap, jobs.toList, batchMs.toList)
    c.clear(); jobs.clear(); batchMs.clear()
    out
  }
}

object Probe {
  /** Milliseconds of [startMs, endMs] covered by no job: the driver-only
    * part of an op (planning, driver-side compute, result handling).
    */
  def uncovered(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = startMs
    for ((s, e) <- jobs.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val from = math.max(s, cursor)
      if (e > from) { covered += e - from; cursor = e }
    }
    math.max(0L, endMs - startMs - covered)
  }
}
