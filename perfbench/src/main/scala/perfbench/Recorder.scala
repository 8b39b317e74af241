package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed time interval in epoch milliseconds. */
final case class Iv(start: Long, end: Long) {
  def len: Long = math.max(0L, end - start)
  def clip(p: Iv): Iv = Iv(math.max(start, p.start), math.min(end, p.end))
}

object Iv {
  /** Length of the union of `ivs` inside `within`. */
  def covered(ivs: Iterable[Iv], within: Iv): Long = {
    val sorted = ivs.map(_.clip(within)).filter(_.len > 0).toSeq.sortBy(_.start)
    var total = 0L
    var cur: Option[Iv] = None
    sorted.foreach { iv =>
      cur match {
        case Some(c) if iv.start <= c.end => cur = Some(Iv(c.start, math.max(c.end, iv.end)))
        case Some(c) => total += c.len; cur = Some(iv)
        case None => cur = Some(iv)
      }
    }
    total + cur.map(_.len).getOrElse(0L)
  }
}

final case class JobRec(id: Int, tag: String, iv: Iv, stages: Seq[Int])
final case class StageRec(id: Int, iv: Iv, tasks: Int, runMs: Long, cpuNs: Long,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class TaskRec(stage: Int, iv: Iv, waitMs: Long)
final case class PhaseRec(phase: String, iv: Iv)
/** An RDD block stored (a checkpoint barrier or cache block), when seen. */
final case class BlockRec(ms: Long, bytes: Long)

/** Collects Spark's own accounting through public listeners only: job,
  * stage and task events, RDD block updates, and the planning phases of
  * every successful query execution. Events are buffered in memory and
  * read once the measured window has ended.
  *
  * Jobs are tied to the benchmark span that caused them through the
  * local property [[Recorder.SpanKey]], which Spark copies into each
  * job's properties.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val blocks = new ConcurrentLinkedQueue[BlockRec]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey))).getOrElse("")
    jobStarts.put(e.jobId, (tag, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (tag, t0, st) =>
      jobs.add(JobRec(e.jobId, tag, Iv(t0, e.time), st))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val t0 = si.submissionTime.getOrElse(stageSubmit.getOrDefault(si.stageId, 0L))
    val m = si.taskMetrics
    if (m != null)
      stages.add(StageRec(si.stageId, Iv(t0, si.completionTime.getOrElse(t0)), si.numTasks,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val submitted = stageSubmit.getOrDefault(e.stageId, ti.launchTime)
    tasks.add(TaskRec(e.stageId, Iv(ti.launchTime, ti.finishTime), math.max(0L, ti.launchTime - submitted)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks.add(BlockRec(System.currentTimeMillis(), b.memSize + b.diskSize))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(PhaseRec(name, Iv(p.startTimeMs, p.endTimeMs)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every started job has ended, so the buffers are complete. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!jobStarts.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // stage/task/listener events trail the job end
  }

  def jobsIn(iv: Iv): Seq[JobRec] = jobs.asScala.filter(j => j.iv.start >= iv.start && j.iv.start <= iv.end).toSeq
}

object Recorder {
  val SpanKey = "perfbench.span"

  /** Total JVM garbage-collection time so far, in milliseconds. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Spark's cumulative whole-stage and expression codegen compile time, ns. */
  def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
