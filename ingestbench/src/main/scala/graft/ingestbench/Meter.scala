package graft.ingestbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side counters for the traced run: jobs (with their call site,
  * which names the source file that started them), stages, tasks,
  * executor time, GC and shuffle bytes. Jobs the harness itself starts
  * (input preparation, counting, forcing a layer's lazy result) are left
  * out, so the counters describe the engine's work. Registered only when
  * tracing. */
final class SparkMeter extends SparkListener {
  import SparkMeter.Job

  private val starts = mutable.Map.empty[Int, (Long, String)]
  private val jobsDone = mutable.ArrayBuffer.empty[Job]
  private val harnessStages = mutable.Set.empty[Int]
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's result stage is named after its call site ("save at X.scala:N")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    if (SparkMeter.HarnessSite.findFirstIn(site).isDefined) harnessStages ++= e.stageIds
    else starts(e.jobId) = (e.time, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, site) => jobsDone += Job(e.jobId, t0, e.time, site) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!harnessStages.contains(e.stageInfo.stageId)) {
      val m = e.stageInfo.taskMetrics
      stages += 1
      tasks += e.stageInfo.numTasks
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def jobs: Seq[Job] = synchronized(jobsDone.toList)

  /** Wall time in [fromMs, toMs] covered by no job. */
  def gapSeconds(fromMs: Long, toMs: Long): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var a0 = Long.MinValue
    var b0 = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > b0) { if (b0 > a0) covered += b0 - a0; a0 = a; b0 = b }
      else b0 = math.max(b0, b)
    }
    if (b0 > a0) covered += b0 - a0
    ((toMs - fromMs) - covered) / 1000.0
  }
}

object SparkMeter {
  final case class Job(id: Int, startMs: Long, endMs: Long, callSite: String)

  /** Call sites in the harness's own files. */
  val HarnessSite: scala.util.matching.Regex =
    """ at (BulkAppend|StreamFanout|CdcUpsertRead|CorpusCurate|Workload|Main)\.scala:""".r

  /** Block until every queued listener event is delivered. `waitUntilEmpty`
    * is not public API, hence the reflection; a short sleep is the
    * fallback if it moves. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Exception => Thread.sleep(500) }
}

/** Every progress report of the workload's streaming query. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress; () }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(buf.toList)
}

/** The engine's always-on control-plane filesystem tallies, as deltas. */
object FsOps {
  val Primitives: Seq[String] =
    Seq("list", "listNames", "exists", "status", "readSmall", "createExclusive", "writeSmall", "delete", "mkdirs")
  /** Engine phases the writer tallies into the same profile. */
  val Phases: Seq[String] = Seq("sparkWriteJob", "footerStatsPass")

  def snapshot(): Map[String, (Long, Long)] = graft.fs.ControlFs.profileSnapshot()

  def delta(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    after.map { case (k, (c, n)) =>
      val (c0, n0) = before.getOrElse(k, (0L, 0L))
      k -> (c - c0, n - n0)
    }
}

object Rss {
  /** Peak resident set size of this process in MB (Linux `VmHWM`). */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
