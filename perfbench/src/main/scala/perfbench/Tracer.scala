package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the listener events of a traced run, keyed by the job group
  * the driver set around each job phase (the phase's span name).
  * Events arrive on the listener bus thread; everything is kept in
  * memory and attributed after the run.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  // per Spark job: group, start, end (epoch ms)
  private val jobs = new ConcurrentHashMap[Int, Array[Any]]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  // per stage: summed task metrics (see Keys) and max peak execution memory
  private val stageSums = new ConcurrentHashMap[Int, Array[Long]]()
  // per SQL execution: group, root execution id, start, end (epoch ms)
  private val sql = new ConcurrentHashMap[Long, Array[Any]]()
  // per query execution: planning-tracker phase durations (ms) and the
  // end of its last phase (epoch ms), which places it inside a pass
  private val phases = new ConcurrentHashMap[Long, Map[String, Long]]()

  val Keys: Seq[String] = Seq("tasks", "run_ms", "input_bytes", "input_records",
    "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "spill_disk_bytes", "spill_mem_bytes", "output_bytes", "gc_ms",
    "peak_exec_mem")

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .orNull

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Array(group(e.properties), e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(2) = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(group(e.properties)).foreach(g => stageGroup.put(e.stageInfo.stageId, g))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = stageSums.computeIfAbsent(e.stageId, _ => new Array[Long](Keys.size))
    a.synchronized {
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += m.inputMetrics.bytesRead
      a(3) += m.inputMetrics.recordsRead
      a(4) += m.shuffleWriteMetrics.bytesWritten
      a(5) += m.shuffleWriteMetrics.recordsWritten
      a(6) += m.shuffleReadMetrics.totalBytesRead
      a(7) += m.diskBytesSpilled
      a(8) += m.memoryBytesSpilled
      a(9) += m.outputMetrics.bytesWritten
      a(10) += m.jvmGCTime
      a(11) = math.max(a(11), m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sql.put(s.executionId, Array(s.jobGroupId.orNull,
        s.rootExecutionId.getOrElse(s.executionId), s.time, -1L))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sql.get(s.executionId)).foreach(_(3) = s.time)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    if (p.nonEmpty)
      phases.put(qe.id, p.map { case (k, v) => k -> v.durationMs } +
        ("at" -> p.values.map(_.endTimeMs).max))
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      Map("id" -> id, "group" -> a(0), "start" -> a(1), "end" -> a(2)) },
    "stages" -> stageSums.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      Map("id" -> id, "group" -> stageGroup.get(id)) ++ Keys.zip(a) },
    "sql" -> sql.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      Map("id" -> id, "group" -> a(0), "root" -> a(1), "start" -> a(2), "end" -> a(3)) },
    "phases" -> phases.asScala.toSeq.sortBy(_._1).map { case (id, p) =>
      Map("id" -> id) ++ p })
}
