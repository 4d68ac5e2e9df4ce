package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer counters taken from outside the program: a SparkListener
  * (jobs, stages, tasks, and the planning tracker of every SQL execution),
  * a StreamingQueryListener (micro-batch durations) and Hadoop FileSystem
  * statistics (bytes through the local file system). Counters are
  * cumulative; callers take the difference of two `snapshot`s.
  */
final class Probe(spark: SparkSession) {
  private val sums = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    sums.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  // job-active time is the union of the intervals in which any job runs
  private var activeJobs = 0
  private var activeSince = 0L

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("scheduler.jobs", 1)
      Probe.this.synchronized {
        if (activeJobs == 0) activeSince = e.time
        activeJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      activeJobs -= 1
      if (activeJobs == 0) add("scheduler.job_active_s", (e.time - activeSince) / 1e3)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("tasks.run_s", m.executorRunTime / 1e3)
        add("tasks.cpu_s", m.executorCpuTime / 1e9)
        add("tasks.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => add("catalyst.sql_execs", 1)
      case end: SparkListenerSQLExecutionEnd => Bus.plan(end).foreach { qe =>
        val t = qe.tracker
        for ((phase, key) <- Probe.phases; p <- t.phases.get(phase))
          add(key, p.durationMs / 1e3)
        for ((rule, r) <- t.rules if rule.startsWith("graft.plans.")) {
          add("plans.rule_s", r.totalTimeNs / 1e9)
          add("plans.rule_invocations", r.numInvocations.toDouble)
          add("plans.rule_effective", r.numEffectiveInvocations.toDouble)
        }
      }
      case _ =>
    }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("streaming.queries", 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("streaming.batches", 1)
      val d = e.progress.durationMs
      for ((k, key) <- Probe.streamDurations; v <- Option(d.get(k)))
        add(key, v / 1e3)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers the listeners; events posted before this call never reach them. */
  def attach(): Unit = {
    Bus.drain(spark)
    spark.sparkContext.addSparkListener(scheduler)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    Bus.drain(spark)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.streams.removeListener(streaming)
  }

  /** Every counter so far, after the listener bus has delivered every
    * event posted before this call.
    */
  def snapshot(): Map[String, Double] = {
    Bus.drain(spark)
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    sums.asScala.map { case (k, v) => k -> v.sum() }.toMap ++ Map(
      "sources.fs_read_bytes" -> fs.map(_.getBytesRead).sum.toDouble,
      "sources.fs_write_bytes" -> fs.map(_.getBytesWritten).sum.toDouble)
  }
}

object Probe {
  private val phases = Seq(
    "analysis" -> "catalyst.analysis_s",
    "optimization" -> "catalyst.optimization_s",
    "planning" -> "catalyst.planning_s")

  private val streamDurations = Seq(
    "triggerExecution" -> "streaming.trigger_s",
    "addBatch" -> "streaming.add_batch_s",
    "getBatch" -> "streaming.get_batch_s")

  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
