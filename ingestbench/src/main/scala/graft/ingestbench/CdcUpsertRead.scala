package graft.ingestbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{EngineConfig, TableConfig}
import graft.operators.CdcOps
import graft.sink.Ingest
import graft.table.{IceTable, Maintenance}

/** `cdc_upsert_read`: a closed loop of keyed I/U/D batches over a skewed
  * key space, each followed by a current-state read and a point lookup of
  * the same table, with `Maintenance.auto` at its default threshold. The
  * write side (CDC resolve, data + equality-delete files) and the read side
  * (the merge-on-read anti-join, compaction) trade against each other. */
final class CdcUpsertRead(seed: Long, cores: Int) extends Workload(seed, cores) {
  import CdcUpsertRead._

  private var cfg: EngineConfig = _
  private var path: String = _
  private var stream: Gen.CdcStream = _
  private var nextBatch = 0
  private var lookups: java.util.SplittableRandom = _
  private val counters = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var seqBefore = 0L

  /** The table and its reference state carry over from one set-up pass to
    * the next (only the session is new), so the window starts with about
    * a dozen delta commits and `Maintenance.auto` (threshold 16) compacts
    * inside it. */
  def setUp(spark: SparkSession, dir: String): Unit = {
    if (stream == null) {
      cfg = EngineConfig(warehouse = dir, autoCreate = true, cdcField = Some("op"),
        tables = Seq(TableConfig("state", idColumns = Seq("id"))))
      path = Ingest.tablePath(cfg, "state")
      stream = new Gen.CdcStream(seed, Keys)
      lookups = new java.util.SplittableRandom(seed ^ 0x5EEDL)
    }
    (1 to WarmupBatches).foreach(k =>
      step(spark, new Tracer(false), new Results, WarmupRows, reads = k == WarmupBatches))
  }

  private def input(spark: SparkSession, b: Int, n: Int): DataFrame = {
    val rows = stream.batch(b, n).map(r => Row(r.id, r.op, r.v, r.name, r.offset))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, cores), Schema).persist()
    df.count()
    df
  }

  /** One batch (`Ingest.run` + `Maintenance.auto`), then a current-state
    * read and a point lookup, each checked against the reference state. */
  private def step(spark: SparkSession, tr: Tracer, res: Results, n: Int = BatchRows,
      reads: Boolean = true): Unit = {
    val b = nextBatch
    nextBatch += 1
    val df = input(spark, b, n)
    try {
      if (tr.enabled) traceResolve(tr, df, b)
      val dueMs = System.currentTimeMillis()
      val (commit, s) = Workload.timed {
        val out = tr.span("sink.ingest", b)(Ingest.run(spark, df, b, cfg))
        val t = IceTable.load(path)
        val (d, cs) = Workload.timed(tr.span("table.maintenance", b)(Maintenance.auto(spark, t)))
        if (d.compacted) { counters("table.compactions") += 1; counters("table.compact_s") += cs }
        out.headOption.flatMap(_.commit)
      }
      res.op(commit.isDefined, s"batch $b committed nothing")
      commit.foreach(c => res.fresh += (c.timestampMs - dueMs) / 1000.0)
      res.batch += s
      res.rows += n
      res.seconds += s
    } finally { df.unpersist(); () }
    if (reads) read(spark, tr, res, b)
  }

  private def read(spark: SparkSession, tr: Tracer, res: Results, b: Int): Unit = {
    val (expRows, expSum) = stream.summary
    val t = IceTable.load(path)
    if (tr.enabled) {
      val (files, ps) = Workload.timed(tr.span("table.plan", b)(t.planFiles(None)))
      counters("table.plan_s") += ps
      counters("table.files_per_read") += files.size
      counters("table.delete_files_per_read") += Workload.liveDeleteFiles(t).size
      counters("reads") += 1
    }
    val (got, rs) = Workload.timed(tr.span("table.read", b)(t.read(spark)
      .agg(count(lit(1)), coalesce(sum(xxhash64(col("id"), col("v"), col("name")).bitwiseAND(0xffffffffL)), lit(0L)))
      .head()))
    res.read += rs
    res.seconds += rs
    res.op(got.getLong(0) == expRows && got.getLong(1) == expSum,
      s"after batch $b the table holds ${got.getLong(0)} rows / checksum ${got.getLong(1)}; reference $expRows / $expSum")
    val key = stream.hotKey(lookups)
    val (hit, ls) = Workload.timed(tr.span("table.lookup", b)(t.read(spark)
      .filter(col("id") === key).select("v", "name").collect()))
    res.read += ls
    res.seconds += ls
    val want = stream.state.get(key).map { case (v, n) => Seq((v, n)) }.getOrElse(Nil)
    res.op(hit.map(r => (r.getLong(0), r.getString(1))).toSeq == want,
      s"lookup of key $key after batch $b returned ${hit.mkString(",")}, reference $want")
  }

  /** Traced run only: the CDC resolve on its own (it pins its result, so
    * the call is the work). */
  private def traceResolve(tr: Tracer, df: DataFrame, b: Int): Unit = {
    val prepared = df.withColumn(CdcOps.OpCol, CdcOps.opColumn(Some("op"), upsertMode = false))
      .withColumn(CdcOps.OrdCol, col("offset"))
    val (data, deleteKeys) = tr.span("operators.cdc_resolve", b)(CdcOps.resolveBatch(prepared, Seq("id")))
    counters("operators.cdc_rows_out") += data.count()
    counters("operators.cdc_delete_keys") += deleteKeys.count()
  }

  def window(spark: SparkSession, tr: Tracer, seconds: Double, res: Results): Unit = {
    counters.clear()
    seqBefore = IceTable.load(path).log.lastCommittedSeq()
    val rows0 = res.rows
    while (res.seconds < seconds) step(spark, tr, res)
    windowRows = res.rows - rows0
  }
  private var windowRows = 0L

  def finish(spark: SparkSession, res: Results): Double = {
    val t = IceTable.load(path)
    val (rows, s) = Workload.timed(t.read(spark).select("id", "v", "name").collect())
    res.read += s
    val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    res.op(rows.length == got.size && got == stream.state.toMap,
      s"final state has ${rows.length} rows over ${got.size} keys; the last-wins reference has ${stream.state.size}")
    Workload.ingestBytes(t.log.commits().filter(_.seq > seqBefore)).toDouble / windowRows
  }

  def layers(spark: SparkSession, tr: Tracer, res: Results, fs: Map[String, (Long, Long)]): Map[String, Double] = {
    val cs = IceTable.load(path).log.commits().filter(_.seq > seqBefore)
    val reads = counters("reads").max(1.0)
    Workload.commitLayers(cs, 0, fs) ++ Map(
      "operators.cdc_resolve_s" -> Trace.secondsByName(tr.spans).getOrElse("operators.cdc_resolve", 0.0),
      "operators.cdc_delete_keys" -> counters("operators.cdc_delete_keys"),
      "operators.cdc_rows_out" -> counters("operators.cdc_rows_out"),
      "table.plan_s" -> counters("table.plan_s"),
      "table.files_per_read" -> counters("table.files_per_read") / reads,
      "table.delete_files_per_read" -> counters("table.delete_files_per_read") / reads,
      "table.compactions" -> counters("table.compactions"),
      "table.compact_s" -> counters("table.compact_s"))
  }
}

object CdcUpsertRead {
  val Keys = 50000
  val BatchRows = 20000
  /** Each set-up pass runs this many small batches (reads after the last). */
  val WarmupBatches = 4
  val WarmupRows = 5000
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("op", StringType), StructField("v", LongType),
    StructField("name", StringType), StructField("offset", LongType)))
}
