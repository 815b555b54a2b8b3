package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd

/** What the listeners saw for one Spark job group (one timed query or
  * statement). Times are epoch milliseconds, as Spark stamps its events.
  */
final class GroupStats {
  val jobs = ArrayBuffer.empty[(Int, Long)] // (job id, start ms)
  val jobEnd = scala.collection.mutable.Map.empty[Int, Long]
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var outputRows = 0L
  var outputBytes = 0L
  /** Catalyst phases of every query execution: (phase, start ms, end ms). */
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  var kppNs = 0L
  var kppEffective = 0L

  /** Jobs started at or after `fromMs`. */
  def jobsFrom(fromMs: Long): Seq[(Int, Long)] = jobs.filter(_._2 >= fromMs).toSeq

  /** Length of the union of job intervals started at or after `fromMs`. */
  def jobUnionMs(fromMs: Long): Long = {
    val iv = jobsFrom(fromMs).map { case (id, s) => (s, jobEnd.getOrElse(id, s)) }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** From the first job's start to the last job's end; 0 without jobs. */
  def jobSpanMs: Long =
    if (jobs.isEmpty) 0L
    else jobs.map { case (id, s) => jobEnd.getOrElse(id, s) }.max - jobs.map(_._2).min
}

/** The benchmark's only view into the engine's layers: one SparkListener
  * for jobs, stages and tasks, and for the end of each SQL execution, whose
  * query execution carries Catalyst's phase and rule timings. Everything is
  * keyed on the Spark job group.
  */
final class Tracer extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  @volatile var listenerNs = 0L

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  def group(id: String): GroupStats = groups.computeIfAbsent(id, _ => new GroupStats)
  def groupIds: Seq[String] = groups.keySet().asScala.toSeq

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally listenerNs += System.nanoTime() - t0
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit = timed {
    val props = ev.properties
    val g = if (props == null) null else props.getProperty("spark.jobGroup.id")
    if (g != null) {
      jobGroup.put(ev.jobId, g)
      ev.stageIds.foreach(stageGroup.put(_, g))
      val s = group(g)
      s.synchronized { s.jobs += ((ev.jobId, ev.time)) }
    }
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = timed {
    Option(jobGroup.remove(ev.jobId)).foreach { g =>
      val s = group(g)
      s.synchronized { s.jobEnd(ev.jobId) = ev.time }
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = timed {
    Option(stageGroup.remove(ev.stageInfo.stageId)).foreach { g =>
      val s = group(g)
      s.synchronized { s.stages += 1 }
    }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = timed {
    Option(stageGroup.get(ev.stageId)).foreach { g =>
      val s = group(g)
      val m = ev.taskMetrics
      val info = ev.taskInfo
      s.synchronized {
        s.tasks += 1
        if (info != null && info.failed) s.taskFailures += 1
        if (m != null) {
          s.taskCpuNs += m.executorCpuTime
          s.taskRunMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.inputRows += m.inputMetrics.recordsRead
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
          s.outputRows += m.outputMetrics.recordsWritten
          s.outputBytes += m.outputMetrics.bytesWritten
          if (info != null) {
            // The Spark UI's scheduler delay: task time not spent
            // deserialising, running or shipping the result.
            val other = m.executorRunTime + m.executorDeserializeTime +
              m.resultSerializationTime + info.gettingResultTime
            s.schedDelayMs += math.max(0L, info.duration - other)
          }
        }
      }
    }
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case e: SparkListenerSQLExecutionStart =>
      timed(e.jobGroupId.foreach(execGroup.put(e.executionId, _)))
    case e: SparkListenerSQLExecutionEnd => timed {
      for {
        g <- Option(execGroup.remove(e.executionId))
        qe <- ExecutionEnd.queryExecution(e)
      } {
        val t = qe.tracker
        val kpp = t.rules.filter(_._1.stripSuffix("$").endsWith("KeyPredicatePropagation")).values
        val s = group(g)
        s.synchronized {
          t.phases.foreach { case (name, p) => s.phases += ((name, p.startTimeMs, p.endTimeMs)) }
          s.kppNs += kpp.map(_.totalTimeNs).sum
          s.kppEffective += kpp.map(_.numEffectiveInvocations).sum
        }
      }
    }
    case _ =>
  }
}
