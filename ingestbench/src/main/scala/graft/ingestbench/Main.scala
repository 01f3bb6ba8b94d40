package graft.ingestbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Spark sessions for the benchmark: `local[n]` with `n` shuffle
  * partitions, as the engine's own builder configures them. */
object Session {
  def start(cores: Int, warehouse: String): SparkSession =
    GraftSession.builder(s"local[$cores]", shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def withSession[A](cores: Int)(f: SparkSession => A): A = {
    val s = start(cores, Main.runDir.resolve("spark-warehouse").toString)
    try f(s) finally stop(s)
  }
}

/** Runs one workload and prints its metrics as the last line of stdout:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir>
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics; `--trace 1` measures the
  * per-layer metrics in a separate, traced window. Exit code 1 when any
  * output check failed.
  */
object Main {
  val Workloads: Map[String, (Long, Int) => Workload] = Map(
    "bulk_append" -> ((s, c) => new BulkAppend(s, c)),
    "stream_fanout" -> ((s, c) => new StreamFanout(s, c)),
    "cdc_upsert_read" -> ((s, c) => new CdcUpsertRead(s, c)),
    "corpus_curate" -> ((s, c) => new CorpusCurate(s, c)))

  /** Set-up passes per run; `setup_s` is their median. */
  val SetUps = 3

  @volatile var runDir: Path = Paths.get(".")

  /** Progress on stderr (the run's log), with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[ingestbench $up%7.2f s] $msg")
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      // an operation that throws ends the run without a result; exit
      // explicitly, whatever threads the failure left behind
      case t: Throwable =>
        t.printStackTrace()
        sys.exit(2)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    runDir = Paths.get(opts("dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val make = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val w = make(seed, cores)
    val setups = (0 until SetUps).map { k =>
      val t0 = if (k == 0) jvmStartMs else System.currentTimeMillis()
      if (k > 0) { w.close(); Session.stop(SparkSession.active) }
      val spark = Session.start(cores, runDir.resolve("spark-warehouse").toString)
      log(s"set-up pass $k: session ready")
      w.setUp(spark, runDir.resolve(s"setup-$k").toString)
      val s = (System.currentTimeMillis() - t0) / 1000.0
      log(f"set-up pass $k: $s%.2f s")
      s
    }
    val spark = SparkSession.active
    val out = try {
      if (!trace) endToEnd(spark, w, seconds, setups)
      else perLayer(spark, w, seconds, name)
    } finally {
      w.close()
      Session.stop(SparkSession.getActiveSession.getOrElse(spark))
    }
    println(out.detail)
    println(out.json)
    sys.exit(if (out.correct) 0 else 1)
  }

  final case class Output(correct: Boolean, json: String, detail: String)

  private def endToEnd(spark: SparkSession, w: Workload, seconds: Double, setups: Seq[Double]): Output = {
    val res = new Results
    w.window(spark, new Tracer(false), seconds, res)
    log(s"window done: ${res.batch.size} batches, ${res.read.size} reads")
    val bytesPerRow = w.finish(spark, res)
    log("checks done")
    val batch = Stats.summarize(res.batch.toSeq)
    val fresh = Stats.summarize(res.fresh.toSeq)
    val read = Stats.summarize(res.read.toSeq)
    val m = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("rows_per_s", res.rows / res.seconds, "1/s"),
      ("batch_p50_s", batch.p50, "s"), ("batch_tail_s", batch.tail, "s"),
      ("fresh_p50_s", fresh.p50, "s"), ("fresh_tail_s", fresh.tail, "s"),
      ("read_p50_s", read.p50, "s"), ("read_tail_s", read.tail, "s"),
      ("bytes_per_row", bytesPerRow, "B"),
      ("peak_rss_mb", Rss.peakMb(), "MB"))
    val detail = Json.obj(Seq(
      "setups_s" -> Json.arr(setups.map(Json.num)),
      "batch_s" -> Json.arr(res.batch.toSeq.map(v => Json.num(math.rint(v * 1000) / 1000))),
      "read_s" -> Json.arr(res.read.toSeq.map(v => Json.num(math.rint(v * 1000) / 1000))),
      "tails" -> Json.obj(Seq("batch" -> batch, "fresh" -> fresh, "read" -> read).map { case (k, s) =>
        k -> Json.obj(Seq("n" -> s.n.toString, "tail_pct" -> Json.num(s.tailPct)))
      }),
      "failures" -> Json.arr(res.failures.toSeq.map(Json.str))))
    result(res, m, detail)
  }

  private def perLayer(spark: SparkSession, w: Workload, seconds: Double, name: String): Output = {
    val meter = new SparkMeter
    val tr = new Tracer(true)
    spark.sparkContext.addSparkListener(meter)
    val fs0 = FsOps.snapshot()
    val t0 = System.currentTimeMillis()
    val traced = new Results
    w.window(spark, tr, seconds, traced)
    val t1 = System.currentTimeMillis()
    SparkMeter.drain(spark)
    spark.sparkContext.removeSparkListener(meter)
    val fs = FsOps.delta(fs0, FsOps.snapshot())
    val layer = w.layers(spark, tr, traced, fs)
    val plain = new Results
    w.window(spark, new Tracer(false), seconds, plain)
    w.finish(spark, traced)
    traced.failures ++= plain.failures
    traced.attempted += plain.attempted
    val extras = w.extras(spark)
    tr.write(runDir.resolve(s"spans-$name.jsonl"))

    val commits = layer.getOrElse("table.commits", 0.0)
    // a stream's batches are its triggers
    val batches = layer.get("streaming.triggers").filter(_ > 0).getOrElse(traced.batch.size.toDouble).max(1.0)
    val jobs = meter.jobs.size.toDouble
    val fsOps = FsOps.Primitives.map(p => fs.getOrElse(p, (0L, 0L))._1).sum.toDouble
    val fsSec = FsOps.Primitives.map(p => fs.getOrElse(p, (0L, 0L))._2).sum / 1e9
    val spanSec = Trace.secondsByName(tr.spans)
    val base: Map[String, Double] = Map(
      "spark.jobs" -> jobs,
      "spark.stages" -> meter.stages.toDouble,
      "spark.tasks" -> meter.tasks.toDouble,
      "spark.task_s" -> meter.taskMs / 1000.0,
      "spark.gc_s" -> meter.gcMs / 1000.0,
      "spark.shuffle_mb" -> meter.shuffleBytes / 1e6,
      "spark.jobs_per_batch" -> jobs / batches,
      "spark.driver_gap_s" -> meter.gapSeconds(t0, t1),
      "sink.ingest_s" -> spanSec.getOrElse("sink.ingest", 0.0),
      "sink.write_job_s" -> fs.getOrElse("sparkWriteJob", (0L, 0L))._2 / 1e9,
      "sink.footer_s" -> fs.getOrElse("footerStatsPass", (0L, 0L))._2 / 1e9,
      "fs.ops" -> fsOps,
      "fs.ops_per_commit" -> (if (commits > 0) fsOps / commits else 0.0),
      "fs.s" -> fsSec,
      "tracing_overhead" -> (if (plain.meanBatch > 0) traced.meanBatch / plain.meanBatch - 1.0 else 0.0)
    ) ++ FsOps.Primitives.map(p => s"fs.$p" -> fs.getOrElse(p, (0L, 0L))._1.toDouble)
    val names = PerLayer.Names ++ (if (name == "corpus_curate") PerLayer.Llm else Nil)
    val all = names.map(n => n -> 0.0).toMap ++ base ++ layer ++ extras
    val m = names.map(n => (n, all(n), PerLayer.unit(n)))
    val sites = meter.jobs.groupBy(_.callSite).toSeq
      .map { case (site, js) => site -> js.map(j => j.endMs - j.startMs).sum / 1000.0 }.sortBy(-_._2).take(12)
    val detail = Json.obj(Seq(
      "job_s_by_call_site" -> Json.obj(sites.map { case (k, v) => k -> Json.num(v) }),
      "self_s" -> Json.obj(Trace.selfSecondsByName(tr.spans).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "failures" -> Json.arr(traced.failures.toSeq.map(Json.str))))
    result(traced, m, detail)
  }

  private def result(res: Results, metrics: Seq[(String, Double, String)], detail: String): Output = {
    val failed = res.failures.size
    val ms = Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Output(failed == 0,
      Json.obj(Seq("correct" -> (if (failed == 0) "true" else "false"),
        "attempted" -> res.attempted.max(1L).toString, "failed" -> failed.toString, "metrics" -> ms)),
      "detail " + detail)
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
