package graft.ingestbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.{EngineConfig, TableConfig}
import graft.sink.Ingest
import graft.table.IceTable
import graft.transforms.Transforms

/** `bulk_append`: a closed loop of large kafka-shaped batches through the
  * SMT chain into one table partitioned by `day(ts), bucket(id,16)`.
  * Data-plane bound: the control plane runs once per batch. */
final class BulkAppend(seed: Long, cores: Int) extends Workload(seed, cores) {
  import BulkAppend._

  private var cfg: EngineConfig = _
  private var path: String = _
  private var nextBatch = 0
  private var expectRows = 0L
  private var expectSum = 0L
  private var lastBatch: Gen.KafkaBatch = _
  private val transforms: Seq[DataFrame => DataFrame] =
    Seq(Transforms.jsonExpand("value"), Transforms.kafkaMetadata(nested = true))

  def setUp(spark: SparkSession, dir: String): Unit = {
    cfg = EngineConfig(warehouse = dir, autoCreate = true,
      tables = Seq(TableConfig("events", partitionBy = Seq("day(ts)", "bucket(id,16)"))))
    path = Ingest.tablePath(cfg, "events")
    nextBatch = 0; expectRows = 0; expectSum = 0
    step(spark, new Tracer(false), new Results, WarmupRows)
  }

  /** Batch `b` as a cached frame of [[KafkaSchema]], one Spark partition
    * per kafka partition slice. The rows are generated inside the tasks
    * (the generator is a pure function of seed and batch), so no task
    * carries the batch's data. */
  private def input(spark: SparkSession, b: Int, n: Int): DataFrame = {
    val kb = Gen.kafkaBatch(seed, b, n)
    lastBatch = kb
    expectRows += kb.live
    expectSum += kb.checksum
    val (s, slices) = (seed, cores)
    val rows = spark.sparkContext.parallelize(0 until slices, slices).flatMap { k =>
      (k until n by slices).iterator.map { i =>
        val r = Gen.kafkaRow(s, b, n, i)
        Row(r.value, Gen.Topic, r.partition, r.offset, new java.sql.Timestamp(r.tsMicros / 1000))
      }
    }
    val df = spark.createDataFrame(rows, KafkaSchema).persist()
    df.count()
    df
  }

  /** One batch: input preparation (untimed), then `Ingest.run`. */
  private def step(spark: SparkSession, tr: Tracer, res: Results, n: Int = BatchRows): Unit = {
    val b = nextBatch
    nextBatch += 1
    val df = input(spark, b, n)
    try {
      if (tr.enabled) traceLayers(spark, tr, df, b)
      val dueMs = System.currentTimeMillis()
      val (out, s) = Workload.timed(tr.span("sink.ingest", b)(Ingest.run(spark, df, b, cfg, transforms)))
      val commit = out.headOption.flatMap(_.commit)
      res.op(commit.isDefined, s"batch $b committed nothing")
      commit.foreach { c =>
        res.fresh += (c.timestampMs - dueMs) / 1000.0
        res.rows += c.dataFiles.map(_.rows).sum
      }
      res.batch += s
      res.seconds += s
    } finally { df.unpersist(); () }
  }

  /** Traced run only: each layer the sink runs, forced on its own first. */
  private def traceLayers(spark: SparkSession, tr: Tracer, df: DataFrame, b: Int): Unit = {
    val expanded = tr.span("transforms", b) {
      val t = transforms.foldLeft(df)((d, f) => f(d)).persist()
      Workload.force(t)
      t
    }
    try {
      counters("transforms.rows_in") += BatchRows
      counters("transforms.rows_out") += expanded.count()
      val schema = IceTable.load(path).schema
      tr.span("operators.coerce", b) {
        Workload.force(graft.operators.Coercion.project(
          graft.operators.Routing.dropTombstones(expanded), schema))
      }
    } finally { expanded.unpersist(); () }
  }

  private val counters = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def window(spark: SparkSession, tr: Tracer, seconds: Double, res: Results): Unit = {
    counters.clear()
    val firstSeq = IceTable.load(path).log.lastCommittedSeq()
    while (res.seconds < seconds) step(spark, tr, res)
    windowSeqs = (firstSeq, IceTable.load(path).log.lastCommittedSeq())
  }
  private var windowSeqs = (0L, 0L)

  def finish(spark: SparkSession, res: Results): Double = {
    val t = IceTable.load(path)
    val (got, s) = Workload.timed(t.read(spark)
      .agg(count(lit(1)), coalesce(sum(xxhash64(col("id"), col("user"), col("kind"), col("amount"),
        col("ts"), col("partition"), col("offset")).bitwiseAND(0xffffffffL)), lit(0L)))
      .head())
    res.read += s
    res.op(got.getLong(0) == expectRows && got.getLong(1) == expectSum,
      s"table holds ${got.getLong(0)} rows / checksum ${got.getLong(1)}; generator made $expectRows / $expectSum")
    val last = t.log.commits().last
    res.op(last.offsets == lastBatch.nextOffsets,
      s"last commit offsets ${last.offsets}, expected ${lastBatch.nextOffsets}")
    res.op(last.vtts.contains(lastBatch.vtts), s"last commit vtts ${last.vtts}, expected ${lastBatch.vtts}")
    // point lookups by id: each must return exactly the generated row
    val r = new java.util.SplittableRandom(seed)
    (0 until Lookups).foreach { _ =>
      val b = 1 + r.nextInt(nextBatch - 1)
      val (i, want) = Iterator.continually(r.nextInt(BatchRows))
        .map(i => (i, Gen.kafkaRow(seed, b, BatchRows, i))).find(_._2.value != null).get
      val id = b.toLong * BatchRows + i + 1
      // file-level min/max pruning on id, as a reader that knows the
      // key would plan it
      val mayHold = (f: graft.table.FileEntry) =>
        f.min.get("id").forall(_.toLong <= id) && f.max.get("id").forall(_.toLong >= id)
      val (rows, s) = Workload.timed(t.scan(spark, None, filePred = Some(mayHold))
        .filter(col("id") === id).select("value", "offset", "partition").collect())
      res.read += s
      res.op(rows.length == 1 && rows(0).getString(0) == want.value &&
        rows(0).getLong(1) == want.offset && rows(0).getInt(2) == want.partition,
        s"lookup of id $id returned ${rows.mkString(",")}")
    }
    val window = t.log.commits().filter(c => c.seq > windowSeqs._1 && c.seq <= windowSeqs._2)
    Workload.ingestBytes(window).toDouble / window.map(_.dataFiles.map(_.rows).sum).sum
  }

  def layers(spark: SparkSession, tr: Tracer, res: Results, fs: Map[String, (Long, Long)]): Map[String, Double] = {
    val cs = IceTable.load(path).log.commits().filter(c => c.seq > windowSeqs._1 && c.seq <= windowSeqs._2)
    val byName = Trace.secondsByName(tr.spans)
    Workload.commitLayers(cs, 0, fs) ++ Map(
      "transforms.busy_s" -> byName.getOrElse("transforms", 0.0),
      "transforms.rows_in" -> counters("transforms.rows_in"),
      "transforms.rows_out" -> counters("transforms.rows_out"),
      "operators.coerce_busy_s" -> byName.getOrElse("operators.coerce", 0.0))
  }

  /** `spark.parallel_efficiency`: the speed-up of a few batches on all
    * cores over the same work on one core (`local[1]`), per core. Stops
    * the run's session. */
  override def extras(spark: SparkSession): Map[String, Double] = {
    def rate(s: SparkSession): Double = {
      val res = new Results
      (0 until EfficiencyBatches).foreach(_ => step(s, new Tracer(false), res))
      res.rows / res.seconds
    }
    val wide = rate(spark)
    val dir = cfg.warehouse + "-local1"
    Session.stop(spark)
    val narrow = Session.withSession(1) { s => setUp(s, dir); rate(s) }
    Map("spark.parallel_efficiency" -> wide / narrow / cores)
  }
}

object BulkAppend {
  val BatchRows = 100000
  /** Rows of the one warm-up batch each set-up pass runs (batch 0). */
  val WarmupRows = 8000
  val Lookups = 5
  val EfficiencyBatches = 2
  val KafkaSchema: StructType = StructType(Seq(
    StructField("value", StringType), StructField("topic", StringType),
    StructField("partition", IntegerType), StructField("offset", LongType),
    StructField("timestamp", TimestampType)))
}
