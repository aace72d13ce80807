package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One clock for every timestamp in a record: epoch seconds with
  * nanosecond steps, so driver spans (timed here) and listener events
  * (stamped in epoch milliseconds by Spark) order against each other. */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Double = (epochNs0 + (System.nanoTime() - nano0)) / 1e9
  def ofEpochMs(ms: Long): Double = ms / 1e3
}

/** Driver-side spans: workload → pass → operation → build/action. Each
  * span records its parent; listener events are attached to these spans
  * afterwards, by time, in the report script (one operation is in
  * flight at a time, so the innermost span open at a job's start is the
  * span that submitted it, whichever thread it came from). */
final class Spans {
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  val rows = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]

  def open(kind: String, name: String): Int = {
    val id = nextId
    nextId += 1
    rows += mutable.LinkedHashMap(
      "id" -> id, "parent" -> stack.headOption.getOrElse(-1),
      "kind" -> kind, "name" -> name, "t0" -> Clock.now(), "t1" -> Double.NaN)
    stack.push(id)
    id
  }

  def close(id: Int): Unit = {
    require(stack.headOption.contains(id), s"span $id closed out of order")
    stack.pop()
    rows(id)("t1") = Clock.now()
  }

  def within[T](kind: String, name: String)(body: => T): T = {
    val id = open(kind, name)
    try body finally close(id)
  }
}

/** Scheduler, executor, cache and write counters, collected from Spark's
  * public listener events. Registered only for traced passes. */
final class Listener extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, mutable.LinkedHashMap[String, Any]]()
  private val stages = new ConcurrentHashMap[(Int, Int), mutable.LinkedHashMap[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val taskCounts = new ConcurrentHashMap[(Int, Int), Array[Long]]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var cachedBytes = 0L
  @volatile var cachedBytesPeak = 0L
  private val busy = new java.util.concurrent.atomic.AtomicLong()
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  /** Time spent inside this listener's callbacks: the direct cost of
    * tracing, paid on Spark's listener threads. */
  def busyNs: Long = busy.get

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally busy.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    // a job's short call site ("count at ShortestPath.scala:331") is the
    // name of its final stage
    val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, mutable.LinkedHashMap(
      "id" -> e.jobId, "t0" -> Clock.ofEpochMs(e.time), "t1" -> Double.NaN,
      "call_site" -> callSite))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_("t1") = Clock.ofEpochMs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val c = taskCounts.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](2))
    c.synchronized {
      c(0) += 1
      if (e.reason != Success) c(1) += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = e.stageInfo
    val m = s.taskMetrics
    val counts = Option(taskCounts.get((s.stageId, s.attemptNumber()))).getOrElse(Array(0L, 0L))
    val row = mutable.LinkedHashMap[String, Any](
      "id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "job" -> Option(stageJob.get(s.stageId)).map(_.intValue).getOrElse(-1),
      "t0" -> s.submissionTime.map(Clock.ofEpochMs).getOrElse(Double.NaN),
      "t1" -> s.completionTime.map(Clock.ofEpochMs).getOrElse(Double.NaN),
      "tasks" -> counts(0), "tasks_failed" -> counts(1))
    if (m != null) row ++= Seq(
      "task_run_s" -> m.executorRunTime / 1e3,
      "task_cpu_s" -> m.executorCpuTime / 1e9,
      "task_gc_s" -> m.jvmGCTime / 1e3,
      "scan_rows" -> m.inputMetrics.recordsRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_records" -> m.shuffleWriteMetrics.recordsWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    stages.put((s.stageId, s.attemptNumber()), row)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        synchronized {
          val before = Option(blocks.put(key, size)).map(_.longValue).getOrElse(0L)
          cachedBytes += size - before
          cachedBytesPeak = math.max(cachedBytesPeak, cachedBytes)
        }
      case _ =>
    }
  }

  /** File writes (the engine's sinks and the pipelines' stores): every
    * executed write node that reports the file-writer's statistics. The
    * noop sink reports none, so it never counts. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    val nodes = flatten(qe.executedPlan)
      .filter(n => n.metrics.contains("numFiles") && n.metrics.contains("numOutputBytes"))
    // delivery is asynchronous: the write ended at or before now, and
    // started `durationNs` before it ended
    val t1 = Clock.now()
    if (nodes.nonEmpty) writes.add(Map(
      "t0" -> (t1 - durationNs / 1e9), "t1" -> t1, "dur_s" -> durationNs / 1e9,
      "files" -> nodes.map(_.metrics("numFiles").value).sum,
      "bytes" -> nodes.map(_.metrics("numOutputBytes").value).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(flatten)
  }

  def jobRows: Seq[mutable.LinkedHashMap[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int])
  def stageRows: Seq[mutable.LinkedHashMap[String, Any]] =
    stages.values.asScala.toSeq.sortBy(r => (r("id").asInstanceOf[Int], r("attempt").asInstanceOf[Int]))
}
