package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Client-side timing plus, when `active`, the raw material of the trace:
  *  - one record per call into a public function of the program (an "op"),
  *  - one record per Spark job (from a `SparkListener`), keyed on the op
  *    that submitted it (a local property the benchmark sets on its client
  *    thread, inherited by the streaming thread) and on the
  *    `streaming.sql.batchId` property,
  *  - the `StreamingQueryProgress` of every trigger.
  * Everything stays in memory until [[record]] is written at the end of the
  * run; the span tree and self times are assembled by `perfbench/summary.py`.
  * With `active = false` no listener is registered and only the op
  * latencies are kept.
  */
final class Tracer(spark: SparkSession, val active: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  /** Wall clock in epoch microseconds, monotone within the run. */
  private def nowUs: Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = new JobListener
  private val progress = new ProgressListener
  private var seq = 0

  if (active) {
    sc.addSparkListener(jobs)
    spark.streams.addListener(progress)
  }

  /** Run `body` as one client call named `name`; returns its result and
    * its latency in milliseconds. `attrs` are stored with the op record
    * when tracing. Jobs the call submits are tagged with the op's id.
    */
  def op[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): (T, Double) = {
    seq += 1
    val id = s"$name#$seq"
    if (active) sc.setLocalProperty(OpProperty, id)
    val start = nowUs
    val s = System.nanoTime()
    val out = try body finally if (active) sc.setLocalProperty(OpProperty, null)
    val ms = (System.nanoTime() - s) / 1e6
    if (active) ops += Map("id" -> id, "name" -> name, "start_us" -> start,
      "end_us" -> (start + (ms * 1000).toLong), "attrs" -> attrs)
    (out, ms)
  }

  /** Runs `body` as one client call with the listeners detached and no
    * record kept: the untraced half of the overhead probe. Returns its
    * result and latency in milliseconds.
    */
  def untraced[T](body: => T): (T, Double) = {
    if (active) detach()
    val s = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - s) / 1e6)
    } finally if (active) {
      sc.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
  }

  /** Waits until every job the listener saw has ended (the listener bus is
    * asynchronous), then detaches the listeners.
    */
  private def detach(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (!jobs.settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(jobs)
    spark.streams.removeListener(progress)
  }

  /** Detaches the listeners once every job has ended: the record is
    * complete.
    */
  def close(): Unit = if (active) detach()

  def record: Map[String, Any] =
    Map("ops" -> ops.toSeq, "jobs" -> jobs.records, "progress" -> progress.records)
}

object Tracer {
  val OpProperty = "perfbench.op"

  final class JobRec(val id: Int, val startMs: Long, val op: String,
                     val batch: String, val desc: String) {
    var endMs = -1L
    var ok = true
    var tasks = 0
    var taskMs = 0L
    var inBytes = 0L
    var outBytes = 0L
    var outRecords = 0L
    var shRead = 0L
    var shWrite = 0L
    var spill = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "op" -> op, "batch" -> batch,
      "desc" -> desc, "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok,
      "tasks" -> tasks, "task_ms" -> taskMs, "in_bytes" -> inBytes,
      "out_bytes" -> outBytes, "out_records" -> outRecords,
      "shuffle_read" -> shRead, "shuffle_write" -> shWrite, "spill" -> spill)
  }

  final class JobListener extends SparkListener {
    private val byId = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
      byId(e.jobId) = new JobRec(e.jobId, e.time, prop(OpProperty),
        prop("streaming.sql.batchId"), prop("spark.job.description"))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(byId.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.inBytes += m.inputMetrics.bytesRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }

    def settled: Boolean = synchronized(byId.values.forall(_.endMs >= 0))
    def records: Seq[Map[String, Any]] = synchronized(byId.values.map(_.toMap).toSeq)
  }

  final class ProgressListener extends StreamingQueryListener {
    private val buf = mutable.ArrayBuffer.empty[String]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(buf += e.progress.json)
    def records: Seq[RawJson] = synchronized(buf.toSeq.map(RawJson))
  }

  /** A JSON document embedded verbatim in the record. */
  final case class RawJson(text: String)
}
