package graft.ingestbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.EngineConfig
import graft.sink.Ingest
import graft.streaming.IngestStream
import graft.table.{Commit, IceTable}
import graft.transforms.Transforms

/** `stream_fanout`: an open loop. A generator thread feeds a MemoryStream
  * at a fixed rate, whatever the sink does; `IngestStream.start` routes
  * every trigger to 8 auto-created tables by the record's `route` field,
  * with dead-lettering on and a new optional field appearing halfway
  * through the window. Control-plane bound: each trigger costs 8 table
  * commits, 8 dead-letter commits, route discovery and the checkpoint's
  * write-ahead log. */
final class StreamFanout(seed: Long, cores: Int) extends Workload(seed, cores) {
  import StreamFanout._

  private var cfg: EngineConfig = _
  private var ms: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var progress: ProgressLog = _
  @volatile private var tracer = new Tracer(false)
  private var nextIndex = 0L
  private var windows = 0
  private val expected = Array.fill(Gen.StreamRoutes)(0L)
  private val poisoned = Array.fill(Gen.StreamRoutes)(0L)
  private var last: Window = _

  private def tables: Seq[String] =
    (0 until Gen.StreamRoutes).flatMap(r => Seq(s"t$r", s"t${r}__dlq"))

  private def load(name: String): IceTable = IceTable.load(Ingest.tablePath(cfg, name))

  /** Each pass streams into fresh tables: a new checkpoint restarts the
    * stream's batch ids, which the tables' replay fence would skip. */
  def setUp(spark: SparkSession, dir: String): Unit = {
    close()
    cfg = EngineConfig(warehouse = s"$dir/wh", routeField = Some("route"), dynamicRouting = true,
      autoCreate = true, evolveSchema = true, deadLetterEnabled = true)
    nextIndex = 0; windows = 0
    java.util.Arrays.fill(expected, 0L); java.util.Arrays.fill(poisoned, 0L)
    progress = new ProgressLog
    spark.streams.addListener(progress)
    // one partition per core per trigger, however many ticks fed it
    ms = MemoryStream[String](spark, cores)(org.apache.spark.sql.Encoders.STRING)
    query = IngestStream.start(ms.toDF(), cfg, s"$dir/ckpt", transforms = Seq(expand),
      triggerMs = Some(TriggerMs))
    // the first trigger auto-creates the 8 tables and their dead-letter
    // tables, with `qty` as a long column: later triggers send it as a
    // string, and a string that is not a number is dead-lettered
    ms.addData(records(0, WarmupRecords, System.currentTimeMillis() * 1000, Long.MaxValue, "note0", first = true))
    query.processAllAvailable()
  }

  /** The SMT stage: `jsonExpand`, forced and timed in the traced run. */
  private val expand: DataFrame => DataFrame = df => {
    val batch = Option(df.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(-1L)
    tracer.span("transforms", batch) {
      val out = Transforms.jsonExpand("value")(df)
      if (tracer.enabled) Workload.force(out)
      out
    }
  }

  /** Generate `n` records from index `from`, the first due at `dueMicros`,
    * and add them to the expected counts. */
  private def records(from: Long, n: Long, dueMicros: Long, evolveAt: Long, field: String,
      rate: Double = Rate, first: Boolean = false): Seq[String] = {
    val out = (0L until n).map { i =>
      val rec = Gen.streamRecord(seed, from + i, dueMicros + (i * 1e6 / rate).toLong, evolveAt, field, first)
      if (rec.poison) poisoned(rec.route) += 1 else expected(rec.route) += 1
      rec.json
    }
    nextIndex = from + n
    out
  }

  def window(spark: SparkSession, tr: Tracer, seconds: Double, res: Results): Unit =
    runWindow(spark, tr, seconds, Rate, res)

  private def runWindow(spark: SparkSession, tr: Tracer, seconds: Double, rate: Double, res: Results): Unit = {
    tracer = tr
    windows += 1
    val seqsBefore = tables.map(t => t -> load(t).log.lastCommittedSeq()).toMap
    val batchesBefore = query.lastProgress.batchId
    val n = (rate * seconds).toLong
    val from = nextIndex
    val field = s"note$windows"
    // open loop: every tick, send every record that has come due; a late
    // tick sends more, it never slows the schedule
    val genLog = mutable.ArrayBuffer.empty[(Long, Long)] // (wall ms, records sent)
    var lateMax = 0.0
    val t0Ns = System.nanoTime()
    val t0Micros = System.currentTimeMillis() * 1000
    var sent = 0L
    while (sent < n) {
      val elapsed = (System.nanoTime() - t0Ns) / 1e9
      val due = math.min(n, (elapsed * rate).toLong)
      if (due > sent) {
        lateMax = math.max(lateMax, elapsed - sent / rate)
        ms.addData(records(from + sent, due - sent, t0Micros + (sent * 1e6 / rate).toLong,
          from + n / 2, field, rate))
        sent = due
        genLog += ((System.currentTimeMillis(), sent))
      }
      Thread.sleep(TickMs)
    }
    Main.log("generator done")
    query.processAllAvailable()
    tracer = new Tracer(false)
    Main.log("drained")

    // commits of the window, per table
    val commits: Map[String, Seq[Commit]] = tables.map { t =>
      t -> load(t).log.commits().filter(_.seq > seqsBefore(t))
    }.toMap
    // freshness: every record of the window, from when it was due to the
    // timestamp of the commit that made it visible. One incremental read
    // per table covers the window's commits; each row is attributed to its
    // commit through the data file it was read from.
    val commitOfFile: Map[String, Long] = (for {
      r <- 0 until Gen.StreamRoutes
      c <- commits(s"t$r")
      f <- c.dataFiles
    } yield fileName(f.path) -> c.timestampMs).toMap
    val parts = (0 until Gen.StreamRoutes).flatMap { r =>
      val cs = commits(s"t$r")
      if (cs.isEmpty) None
      else Some(load(s"t$r").readIncremental(spark, cs.map(_.seq).min - 1, cs.map(_.seq).max)
        .select(col("due_us"), regexp_extract(input_file_name(), "[^/]+$", 0).as("file")))
    }
    val seen = parts.reduce(_.unionByName(_)).filter(col("due_us") >= t0Micros).collect()
      .map(row => (row.getLong(0), commitOfFile.getOrElse(row.getString(1), Long.MinValue)))
    Main.log("freshness read")
    res.op(seen.forall(_._2 != Long.MinValue), "a row was read from a file no window commit lists")
    seen.foreach { case (due, cts) => res.fresh += (cts * 1000 - due) / 1e6 }
    val lastVisibleMs = if (seen.isEmpty) t0Micros / 1000 else seen.map(_._2).max
    res.rows += seen.length
    res.seconds += (lastVisibleMs - t0Micros / 1000) / 1000.0
    res.op(seen.length == n - poisonedIn(commits),
      s"window made ${n - poisonedIn(commits)} valid records visible, found ${seen.length}")
    // a batch here is one table's slice of a trigger: from the trigger's
    // start to that table's commit
    val trig = progress.all.filter(p => p.batchId > batchesBefore && p.numInputRows > 0)
    val startMs = trig.map(p => p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    for (cs <- commits.values; c <- cs; t0 <- startMs.get(c.batchId)) res.batch += (c.timestampMs - t0) / 1000.0
    Main.log(s"window at $rate rows/s: ${trig.size} triggers, durations ${trig.map(_.durationMs).mkString(" ")}")

    // backlog: records generated but not yet visible. In steady state a
    // trigger takes what arrived while the previous one ran, so the
    // backlog stays under two triggers' worth of input; past that, the
    // sink is falling behind the generator.
    val committed = commits.values.flatten.toSeq.map(c => (c.timestampMs, c.dataFiles.map(_.rows).sum)).sortBy(_._1)
    def visibleAt(ms: Long): Long = committed.takeWhile(_._1 <= ms).map(_._2).sum
    val backlog = genLog.map { case (ms, g) => g - visibleAt(ms) }
    val peak = (backlog :+ 0L).max.toDouble
    val trigS = if (trig.isEmpty) 0.0 else Stats.median(trig.map(_.durationMs.get("triggerExecution").toDouble / 1000.0))
    val limit = 2 * rate * (trigS + TriggerMs / 1000.0)
    val atEnd = backlog.lastOption.getOrElse(0L).toDouble
    res.op(atEnd <= limit, f"backlog at the end of the window is $atEnd%.0f rows, over $limit%.0f: the sink fell behind")
    last = Window(seqsBefore, batchesBefore, lateMax, peak)
  }

  private def fileName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  private def poisonedIn(commits: Map[String, Seq[Commit]]): Long =
    (0 until Gen.StreamRoutes).map(r => commits(s"t${r}__dlq").map(_.dataFiles.map(_.rows).sum).sum).sum

  /** Read-backs: each routed table on its own, then every dead-letter
    * table as one union read grouped by table. */
  def finish(spark: SparkSession, res: Results): Double = {
    val routes = 0 until Gen.StreamRoutes
    routes.foreach { r =>
      val (got, s) = Workload.timed(
        load(s"t$r").read(spark).agg(count(lit(1)), countDistinct(col("event_id"))).head())
      res.read += s
      res.op(got.getLong(0) == expected(r) && got.getLong(1) == expected(r),
        s"t$r holds ${got.getLong(0)} rows (${got.getLong(1)} distinct event ids), generator routed ${expected(r)}")
    }
    val (dead, s) = Workload.timed(routes.map(r => load(s"t${r}__dlq").read(spark).select(lit(r).as("route")))
      .reduce(_.unionByName(_)).groupBy("route").count().collect())
    res.read += s
    val gotDead = dead.map(r => r.getInt(0) -> r.getLong(1)).toMap
    routes.foreach { r =>
      res.op(gotDead.getOrElse(r, 0L) == poisoned(r),
        s"t${r}__dlq holds ${gotDead.getOrElse(r, 0L)} rows, generator poisoned ${poisoned(r)}")
    }
    Main.log("read-backs done")
    val window = tables.flatMap(t => load(t).log.commits().filter(_.seq > last.seqsBefore(t)))
    Workload.ingestBytes(window).toDouble / window.map(_.dataFiles.map(_.rows).sum).sum
  }

  def layers(spark: SparkSession, tr: Tracer, res: Results, fs: Map[String, (Long, Long)]): Map[String, Double] = {
    val w = last
    val commits = tables.map(t => t -> load(t).log.commits().filter(_.seq > w.seqsBefore(t))).toMap
    val main = (0 until Gen.StreamRoutes).flatMap(r => commits(s"t$r"))
    val all = commits.values.flatten.toSeq
    val trig = progress.all.filter(p => p.batchId > w.batchesBefore && p.numInputRows > 0)
    def mean(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (trig.isEmpty) 0.0 else trig.map(f).sum / trig.size
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000.0).getOrElse(0.0)
    // triggers that evolved a table's schema, and what they cost beyond a
    // typical trigger
    val evolvedBatches = (0 until Gen.StreamRoutes).flatMap { r =>
      val cs = load(s"t$r").log.commits()
      cs.zip(cs.drop(1)).collect { case (a, b) if b.seq > w.seqsBefore(s"t$r") && b.schemaVersion > a.schemaVersion => b.batchId }
    }
    val evolutions = (0 until Gen.StreamRoutes).map { r =>
      val cs = commits(s"t$r")
      if (cs.isEmpty) 0 else cs.map(_.schemaVersion).max - cs.map(_.schemaVersion).min
    }.sum
    val typical = if (trig.isEmpty) 0.0 else Stats.median(trig.map(p => ms(p, "triggerExecution")))
    val evolveS = trig.filter(p => evolvedBatches.contains(p.batchId))
      .map(p => (ms(p, "triggerExecution") - typical).max(0.0)).sum
    Workload.commitLayers(all, evolutions, fs) ++ Map(
      "operators.route_discover_s" -> routeDiscover(spark, tr, trig.size, (res.rows / trig.size.max(1)).toInt),
      "operators.route_tables" ->
        (if (main.isEmpty) 0.0 else main.size.toDouble / main.map(_.batchId).distinct.size),
      "operators.dlq_rows" -> poisonedIn(commits).toDouble,
      "schema.evolutions" -> evolutions.toDouble,
      "schema.evolve_s" -> evolveS,
      "transforms.busy_s" -> Trace.secondsByName(tr.spans).getOrElse("transforms", 0.0),
      "streaming.triggers" -> trig.size.toDouble,
      "streaming.batch_s" -> mean(ms(_, "triggerExecution")),
      "streaming.add_batch_s" -> mean(ms(_, "addBatch")),
      "streaming.wal_s" -> mean(p => ms(p, "walCommit") + ms(p, "commitOffsets")),
      "streaming.offset_s" -> mean(p => ms(p, "latestOffset") + ms(p, "getBatch")),
      "streaming.rows_per_trigger" ->
        (if (trig.isEmpty) 0.0 else all.map(_.dataFiles.map(_.rows).sum).sum.toDouble / trig.size),
      "harness.gen_late_max_s" -> w.genLateMax,
      "harness.backlog_peak_rows" -> w.backlogPeak)
  }

  /** Route discovery runs inside `IngestStream`'s trigger, where no span
    * can reach it, so the traced run replays it: `triggers` times,
    * `Routing.route` over a trigger-sized batch of the window's records,
    * expanded and cached as the sink has it. Returns the Σ seconds. */
  private def routeDiscover(spark: SparkSession, tr: Tracer, triggers: Int, rows: Int): Double = {
    import spark.implicits._
    val json = (1 to rows.max(1)).map(i => Gen.streamRecord(seed, -i, 0L, Long.MaxValue, "replay").json)
    val batch = Transforms.jsonExpand("value")(json.toDF("value")).persist()
    try {
      batch.count()
      (1 to triggers).foreach(k =>
        tr.span("operators.route_discover", k)(graft.operators.Routing.route(batch, cfg)))
      Trace.secondsByName(tr.spans).getOrElse("operators.route_discover", 0.0)
    } finally { batch.unpersist(); () }
  }

  /** `streaming.max_rate`: step the input rate up from the workload's own
    * rate; the highest rate whose backlog does not grow and whose
    * freshness tail stays under [[LatencyLimitS]]. */
  override def extras(spark: SparkSession): Map[String, Double] = {
    var best = Rate
    StepFactors.iterator.map(_ * Rate).takeWhile { rate =>
      val res = new Results
      runWindow(spark, new Tracer(false), StepSeconds, rate, res)
      val ok = res.failures.isEmpty && Stats.summarize(res.fresh.toSeq).tail <= LatencyLimitS
      if (ok) best = rate
      ok
    }.foreach(_ => ())
    Map("streaming.max_rate" -> best)
  }

  override def close(): Unit =
    if (query != null) {
      query.stop()
      query.awaitTermination()
      query.sparkSession.streams.removeListener(progress)
      query = null
    }
}

object StreamFanout {
  /** What the last window left behind, for its per-layer numbers. */
  final case class Window(seqsBefore: Map[String, Long],
      batchesBefore: Long, genLateMax: Double, backlogPeak: Double)

  /** Input rate: about half of `streaming.max_rate` as measured on a
    * 4-core host (16 000 rows/s). A trigger's fixed cost (16 commits,
    * route discovery, the write-ahead log) is about 2 s there, so even at
    * this rate most of a trigger is control plane, and triggers run back
    * to back: the 1 s interval is shorter than a trigger. */
  val Rate = 8000.0
  val TriggerMs = 1000L
  val TickMs = 100L
  val WarmupRecords = 2000L
  /** Step-up factors over [[Rate]] for `streaming.max_rate`; the window
    * itself already ran at 1×. */
  val StepFactors: Seq[Double] = Seq(2.0, 4.0)
  val StepSeconds = 4.0
  val LatencyLimitS = 5.0
}
