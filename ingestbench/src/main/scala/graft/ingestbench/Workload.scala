package graft.ingestbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one timed window measured. Times are in seconds. */
final class Results {
  /** One write batch (or curation round, or streaming trigger) each. */
  val batch = mutable.ArrayBuffer.empty[Double]
  /** Per record: from when it was due to when its commit became visible. */
  val fresh = mutable.ArrayBuffer.empty[Double]
  /** One read-back (current-state read, point lookup, index query) each. */
  val read = mutable.ArrayBuffer.empty[Double]
  /** Rows (documents) made visible in the window, and the window's
    * measured seconds. */
  var rows = 0L
  var seconds = 0.0
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one operation; a false `ok` counts it as failed. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  /** Mean seconds of the window's primary operation. */
  def meanBatch: Double = if (batch.isEmpty) 0.0 else batch.sum / batch.size
}

/** One benchmark workload. A run calls [[setUp]] (three times, each on a
  * fresh session and directory), then [[window]] once per timed window,
  * then [[finish]]; the traced run also calls [[layers]] and [[extras]]. */
abstract class Workload(val seed: Long, val cores: Int) {

  /** Fresh tables and inputs under `dir`, and a warm-up pass. */
  def setUp(spark: SparkSession, dir: String): Unit

  /** The measured loop, for `seconds` of measured time. */
  def window(spark: SparkSession, tr: Tracer, seconds: Double, res: Results): Unit

  /** Checks over everything written (failures are added to `res`).
    * Returns `bytes_per_row`: the data and delete bytes the last window's
    * ingest commits added, per row it ingested. */
  def finish(spark: SparkSession, res: Results): Double

  /** Per-layer numbers of the traced window that only the workload knows
    * (counts from commit logs and spans); `fs` holds the window's
    * control-plane filesystem deltas. */
  def layers(spark: SparkSession, tr: Tracer, res: Results, fs: Map[String, (Long, Long)]): Map[String, Double]

  /** Diagnostics that need their own pass after the traced window. */
  def extras(spark: SparkSession): Map[String, Double] = Map.empty

  /** Stop anything the workload started (streaming queries). */
  def close(): Unit = ()
}

object Workload {
  /** Force a lazy frame through every operator with Spark's no-op sink, so
    * a span around it times the work and not just the planning. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Data and delete bytes of ingest commits; compaction rewrites move
    * bytes, they add none. */
  def ingestBytes(commits: Seq[graft.table.Commit]): Long =
    commits.filterNot(_.props.get("compaction").contains("true"))
      .flatMap(c => c.dataFiles ++ c.deleteFiles).map(_.bytes.max(0L)).sum

  /** Commit-path numbers of a window's commits. Every commit makes one
    * create-exclusive claim plus one staging marker per write job (two
    * when it writes delete files too), and every schema evolution one
    * schema claim; create-exclusive calls beyond those are retried
    * claims. */
  def commitLayers(commits: Seq[graft.table.Commit], evolutions: Int,
      fs: Map[String, (Long, Long)]): Map[String, Double] = {
    val expected = commits.map(c => if (c.deleteFiles.nonEmpty) 3 else 2).sum + evolutions
    val creates = fs.getOrElse("createExclusive", (0L, 0L))._1
    val files = commits.map(c => c.dataFiles.size + c.deleteFiles.size).sum
    Map(
      "table.commits" -> commits.size.toDouble,
      "table.commit_retries" -> (creates - expected).max(0L).toDouble,
      "sink.files_per_commit" -> (if (commits.isEmpty) 0.0 else files.toDouble / commits.size),
      "sink.bytes_written_mb" ->
        commits.flatMap(c => c.dataFiles ++ c.deleteFiles).map(_.bytes.max(0L)).sum / 1e6)
  }

  /** Delete files committed since the table's last full rewrite: the ones
    * a current-state read anti-joins against. */
  def liveDeleteFiles(t: graft.table.IceTable): Seq[graft.table.FileEntry] = {
    val cs = t.log.commits()
    val last = cs.lastIndexWhere(_.props.get("compaction").contains("true"))
    cs.drop(last.max(0)).flatMap(_.deleteFiles)
  }
}
