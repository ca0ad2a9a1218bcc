package ragbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable.ArrayBuffer

/** Spark and JVM counters for one workload run: a SparkListener on the
  * benchmark's own session plus the GC MXBeans. [[snapshot]] before and
  * after a measured window gives that window's totals.
  *
  * Every finished job is also kept (with the span id its submitter had
  * open and the engine file it was called from) so a traced run can show
  * jobs as child spans of the benchmark's layer spans. */
final class Counters(sc: SparkContext) extends SparkListener {
  import Counters.Job

  private var jobs, tasks = 0L
  private var shuffleWrite, spill, bytesRead, bytesWritten = 0L
  private val started = scala.collection.mutable.Map.empty[Int, (Int, String, Long)]
  private val finished = ArrayBuffer.empty[Job]
  // call site of each SQL execution: the jobs adaptive execution submits
  // from its own threads carry the execution id but not the call site
  private val executionSites = scala.collection.mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSites(s.executionId.toString) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Trace.SpanProperty).map(_.toInt).getOrElse(0)
    val site = prop("spark.sql.execution.id").flatMap(executionSites.get)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    started(e.jobId) = (span, site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (span, site, t0) =>
      finished += Job(span, site, t0, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesRead += m.inputMetrics.bytesRead
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Cumulative totals after every event posted so far was delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    synchronized {
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
        "spark.spill_bytes" -> spill.toDouble,
        "io.bytes_read" -> bytesRead.toDouble,
        "io.bytes_written" -> bytesWritten.toDouble,
        "jvm.gc_s" -> gcMs / 1000.0)
    }
  }

  /** MB held by cached RDDs and DataFrames right now. */
  def storageMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def finishedJobs: Seq[Job] = { org.apache.spark.BenchBus.drain(sc); synchronized(finished.toSeq) }
}

object Counters {
  final case class Job(span: Int, site: String, startWallMs: Long,
      endWallMs: Long)

  /** Difference of two [[Counters.snapshot]]s. */
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  def add(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
