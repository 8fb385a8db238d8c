package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in tracer: spans are opened and closed only by the benchmark,
  * around its calls into the engine. Each span runs its engine call under
  * its own Spark job group, and a SparkListener attributes every job (and
  * the job's stages and tasks) to the span whose group it carries.
  * Streaming jobs carry the stream's own group, so they are linked to a
  * microbatch span by their `streaming.sql.batchId` property instead.
  *
  * Spans and job records stay in memory and are written once, at the end.
  * With `enabled = false` nothing is recorded and no listener is added.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val events = new java.util.concurrent.atomic.AtomicLong()
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new SparkListener {
    private def timed(f: => Unit): Unit = {
      val t = System.nanoTime()
      f
      events.incrementAndGet()
      listenerNs.addAndGet(System.nanoTime() - t)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      def prop(k: String): String = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val result = e.stageInfos.maxBy(_.stageId)
      val batch = prop(StreamBatchKey)
      jobs.put(e.jobId, JobRec(e.jobId, prop(JobGroupKey),
        if (batch.isEmpty) "" else s"${prop(JobGroupKey)}:$batch", result.name, e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      if (e.taskMetrics != null)
        stage(e.stageId).taskRunMs.synchronized { stage(e.stageId).taskRunMs += e.taskMetrics.executorRunTime }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.submit = i.submissionTime.getOrElse(0L).toDouble
      s.end = i.completionTime.getOrElse(0L).toDouble
      val m = i.taskMetrics
      if (m != null) {
        s.runMs = m.executorRunTime
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        s.inputBytes = m.inputMetrics.bytesRead
        s.inputRecords = m.inputMetrics.recordsRead
        s.outputBytes = m.outputMetrics.bytesWritten
        s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      }
      s.done = true
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def stage(id: Int): StageRec = stages.computeIfAbsent(id, i => new StageRec(i))

  private def group(s: Span): String = s"perfbench-span-${s.id}"

  /** Open a span under the current one; engine calls made until it closes
    * run in its job group.
    */
  def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), nowMs)
    if (enabled) {
      spans += s
      sc.setJobGroup(group(s), name)
    }
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.end = nowMs
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    stack = stack.tail
    if (enabled) stack.headOption.fold(sc.clearJobGroup())(p => sc.setJobGroup(group(p), p.name))
  }

  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  /** Record a span measured elsewhere (a streaming microbatch, a commit-log
    * gap), without a job group of its own.
    */
  def record(name: String, parent: Int, start: Double, end: Double, key: String = ""): Span = {
    val s = Span(spans.size, name, parent, start, key)
    s.end = end
    if (enabled) spans += s
    s
  }

  /** Wait until the listener bus has delivered every event of the jobs
    * seen so far (it is asynchronous).
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline) {
      val n = events.get()
      val settled = jobs.values.asScala.forall(j => !j.end.isNaN && j.stageIds.forall(id =>
        !stages.containsKey(id) || stages.get(id).done || stages.get(id).taskRunMs.isEmpty))
      if (n == last && settled) return
      last = n
      Thread.sleep(100)
    }
  }

  /** Jobs linked to a span: by job group, or for a streaming microbatch span
    * by its `runId:batchId` key.
    */
  def jobsOf(s: Span): Seq[JobRec] = {
    val g = group(s)
    jobs.values.asScala.toSeq.filter(j => j.group == g || (s.key.nonEmpty && j.streamBatch == s.key))
      .sortBy(_.id)
  }

  /** Jobs submitted inside `[from, to]` that carry a streaming batch id. */
  def streamJobsBetween(from: Double, to: Double): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.streamBatch.nonEmpty && j.submit >= from && j.submit <= to)
      .sortBy(_.id)

  def allJobsBetween(from: Double, to: Double): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.submit >= from && j.submit <= to).sortBy(_.id)

  def stagesOf(j: JobRec): Seq[StageRec] = j.stageIds.flatMap(id => Option(stages.get(id))).filter(_.done)

  /** Self time of a span: its wall minus the union of its child spans and
    * linked jobs.
    */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
      jobsOf(s).filter(!_.end.isNaN).map(j => (j.submit, j.end))
    Stats.selfTime(s.start, s.end, kids.toSeq)
  }

  def listenerMs: Double = listenerNs.get() / 1e6

  /** The trace as JSON: spans with self time and job links, jobs with their
    * stages' counters.
    */
  def toJson: String = {
    def m(kv: (String, Any)*): java.util.Map[String, Any] = {
      val out = new java.util.LinkedHashMap[String, Any]()
      kv.foreach { case (k, v) => out.put(k, v) }
      out
    }
    val spanList = spans.map { s =>
      m("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> selfMs(s), "jobs" -> jobsOf(s).map(_.id).asJava)
    }.asJava
    val jobList = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      m("id" -> j.id, "group" -> j.group, "stream_batch" -> j.streamBatch, "call_site" -> j.callSite,
        "submit_ms" -> j.submit, "end_ms" -> j.end,
        "stages" -> stagesOf(j).map(s => m("id" -> s.id, "submit_ms" -> s.submit, "end_ms" -> s.end,
          "tasks" -> s.taskRunMs.size, "run_ms" -> s.runMs, "shuffle_write" -> s.shuffleWrite,
          "shuffle_read" -> s.shuffleRead, "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
          "output_bytes" -> s.outputBytes, "spill" -> s.spill)).asJava)
    }.asJava
    Json.mapper.writeValueAsString(m("spans" -> spanList, "jobs" -> jobList, "listener_ms" -> listenerMs))
  }
}

object Tracer {
  /** Local properties of a job: its group, which Structured Streaming sets
    * to the query's run id, and the streaming microbatch id.
    */
  val JobGroupKey = "spark.jobGroup.id"
  val StreamBatchKey = "streaming.sql.batchId"

  /** The `runId:batchId` key of the microbatch running on this thread. */
  def streamBatchKey(sc: SparkContext): String =
    s"${sc.getLocalProperty(JobGroupKey)}:${sc.getLocalProperty(StreamBatchKey)}"

  final case class Span(id: Int, name: String, parent: Int, start: Double, key: String = "") {
    var end: Double = Double.NaN
    def ms: Double = end - start
  }

  /** A Spark job; `streamBatch` is the `runId:batchId` of the streaming
    * microbatch that ran it, or empty.
    */
  final case class JobRec(id: Int, group: String, streamBatch: String, callSite: String, submit: Double,
      stageIds: Seq[Int]) {
    var end: Double = Double.NaN
  }

  final class StageRec(val id: Int) {
    @volatile var done = false
    var submit, end = 0.0
    var runMs, shuffleWrite, shuffleRead, inputBytes, inputRecords, outputBytes, spill = 0L
    val taskRunMs = ArrayBuffer[Long]()
    def ms: Double = end - submit
  }
}
