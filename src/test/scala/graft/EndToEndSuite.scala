package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{EngineConfig, TableConfig}
import graft.sink.Ingest
import graft.table.IceTable

/** Replicates the reference's Testcontainers end-to-end scenarios
  * (kafka-connect-runtime integration tests) against the batch pipeline:
  * assertions are on committed table state, file counts, and snapshot
  * props — the same observables the reference asserts.
  */
class EndToEndSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CDC I/I/I + D/U stream yields adds + equality deletes (IntegrationCdcTest.java:139-156)") {
    val wh = TestSpark.freshDir("e2e-cdc")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("tbl", idColumns = Seq("id"))),
      cdcField = Some("op"), autoCreate = true)
    // batch 1: three inserts
    val b1 = Seq((1L, "a", "I", 0L), (2L, "b", "I", 1L), (3L, "c", "I", 2L))
      .toDF("id", "payload", "op", "offset")
    // batch 2: delete id 1, update id 2
    val b2 = Seq((1L, null.asInstanceOf[String], "D", 3L), (2L, "b2", "U", 4L))
      .toDF("id", "payload", "op", "offset")
    Ingest.run(spark, b1, 0L, cfg)
    Ingest.run(spark, b2, 1L, cfg)

    val t = IceTable.load(s"$wh/tbl")
    val commits = t.log.commits()
    assert(commits.size === 2)
    // an all-insert batch goes through the delta path but stages NO
    // delete file (the empty-key frame's eagerly created 0-row part file
    // is unstaged — committing it would only bloat later anti-join plans)
    assert(commits(0).deleteFiles.isEmpty)
    assert(commits(1).deleteFiles.map(_.rows).sum === 2) // delete keys for D + U
    val rows = t.read(spark).select("id", "payload").as[(Long, String)].collect().toSet
    assert(rows === Set((2L, "b2"), (3L, "c")))
  }

  test("dead-letter mode applies in CDC mode: poison record lands in DLQ, upsert proceeds") {
    import org.apache.spark.sql.types._
    val wh = TestSpark.freshDir("e2e-cdc-dlq")
    val target = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType)))
    IceTable.create(s"$wh/tbl", target, graft.table.TableMeta(idColumns = Seq("id")))
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("tbl", idColumns = Seq("id"))),
      cdcField = Some("op"), deadLetterEnabled = true, strictCoercion = true)
    // pre-fix the CDC branch bypassed the DLQ split entirely: with strict
    // coercion the poison row threw on EVERY replay (a permanently wedged
    // stream), and without it the value was silently nulled — either way
    // never dead-lettered
    val b = Seq(("1", "10", "I", 0L), ("2", "oops", "I", 1L), ("1", "11", "U", 2L))
      .toDF("id", "qty", "op", "offset")
    Ingest.run(spark, b, 0L, cfg)
    val rows = IceTable.load(s"$wh/tbl").read(spark)
      .select("id", "qty").as[(Long, Long)].collect().toSet
    assert(rows === Set((1L, 11L))) // last-wins upsert of the clean rows only
    val dead = IceTable.load(s"$wh/tbl__dlq").read(spark)
      .select(get_json_object(col("record"), "$.id").as("id"), col("reason"))
      .as[(String, String)].collect()
    assert(dead.map(_._1).toSeq === Seq("2"))
    assert(dead.head._2.contains("qty"))
  }

  test("CDC into a partitioned table on a branch (IntegrationCdcTest.testIcebergSinkPartitionedTable)") {
    import org.apache.spark.sql.types._
    val wh = TestSpark.freshDir("e2e-cdc-part")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("type", StringType),
      StructField("ts", TimestampType), StructField("payload", StringType)))
    IceTable.create(s"$wh/tbl", schema,
      graft.table.TableMeta(idColumns = Seq("id"), partitionBy = Seq("hour(ts)")),
      branch = "test_branch")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("tbl", idColumns = Seq("id"),
        partitionBy = Seq("hour(ts)"), commitBranch = "test_branch")),
      cdcField = Some("op"))
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2023-03-13 $h%02d:00:00")
    // 2 hours × I-events, then an update + a delete
    val b0 = Seq(
      (1L, "type1", ts(10), "a", "I", 0L), (2L, "type2", ts(10), "b", "I", 1L),
      (3L, "type1", ts(11), "c", "I", 2L), (4L, "type2", ts(11), "d", "I", 3L))
      .toDF("id", "type", "ts", "payload", "op", "offset")
    val b1 = Seq(
      (2L, "type2", ts(10), "b2", "U", 4L), (3L, "type1", ts(11), null.asInstanceOf[String], "D", 5L))
      .toDF("id", "type", "ts", "payload", "op", "offset")
    Ingest.run(spark, b0, 0L, cfg)
    Ingest.run(spark, b1, 1L, cfg)
    val t = IceTable.load(s"$wh/tbl", "test_branch")
    val commits = t.log.commits()
    // batch 0: data files span both hour partitions, 4 rows total
    assert(commits(0).dataFiles.map(_.partition("ts_hour")).toSet ===
      Set("2023-03-13-10", "2023-03-13-11"))
    assert(commits(0).dataFiles.map(_.rows).sum === 4L)
    // batch 1: 2 delete keys (U + D), updated row lands in its partition
    assert(commits(1).deleteFiles.map(_.rows).sum === 2L)
    val rows = t.read(spark).select("id", "payload").as[(Long, String)].collect().toSet
    assert(rows === Set((1L, "a"), (2L, "b2"), (4L, "d")))
    // nothing on main (commit-branch isolation)
    assert(IceTable.load(s"$wh/tbl").read(spark).count() === 0)
  }

  test("regex multi-table fan-out (IntegrationMultiTableTest.java:99-103)") {
    val wh = TestSpark.freshDir("e2e-multi")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(
        TableConfig("tbl1", routeRegex = Some("type1")),
        TableConfig("tbl2", routeRegex = Some("type2"))),
      routeField = Some("type"), autoCreate = true)
    val batch = Seq((1L, "type1"), (2L, "type2")).toDF("id", "type")
    Ingest.run(spark, batch, 0L, cfg)
    assert(IceTable.load(s"$wh/tbl1").read(spark).select("id").as[Long].collect().toSeq === Seq(1L))
    assert(IceTable.load(s"$wh/tbl2").read(spark).select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("dynamic table fan-out by field value (IntegrationDynamicTableTest.java:98-99)") {
    val wh = TestSpark.freshDir("e2e-dyn")
    val cfg = EngineConfig(warehouse = wh,
      routeField = Some("payload"), dynamicRouting = true, autoCreate = true)
    val batch = Seq((1L, "TblA"), (2L, "tblb")).toDF("id", "payload")
    Ingest.run(spark, batch, 0L, cfg)
    assert(IceTable.exists(s"$wh/tbla") && IceTable.exists(s"$wh/tblb"))
    assert(IceTable.load(s"$wh/tbla").read(spark).select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("unknown table with auto-create off is silently skipped (IcebergWriterFactory.java:55-62)") {
    val wh = TestSpark.freshDir("e2e-skip")
    val cfg = EngineConfig(warehouse = wh,
      routeField = Some("payload"), dynamicRouting = true, autoCreate = false)
    val results = Ingest.run(spark, Seq((1L, "nosuch")).toDF("id", "payload"), 0L, cfg)
    assert(results.forall(_.commit.isEmpty))
    assert(!IceTable.exists(s"$wh/nosuch"))
  }

  test("auto-create with hour(ts) partitioning records partition values (IntegrationTest auto-create)") {
    val wh = TestSpark.freshDir("e2e-autocreate")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("evts", partitionBy = Seq("hour(ts)"))),
      autoCreate = true)
    val batch = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:15:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 11:45:00")))
      .toDF("id", "ts")
    Ingest.run(spark, batch, 0L, cfg)
    val t = IceTable.load(s"$wh/evts")
    assert(t.meta.partitionBy === Seq("hour(ts)"))
    val parts = t.log.commits().head.dataFiles.map(_.partition("ts_hour")).toSet
    assert(parts === Set("2024-01-01-10", "2024-01-01-11"))
  }

  test("schema evolution end-to-end: add column + widen during ingestion (IntegrationTest evolution)") {
    val wh = TestSpark.freshDir("e2e-evolve")
    val cfg = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")),
      autoCreate = true, evolveSchema = true)
    Ingest.run(spark, Seq((1, 1.5f)).toDF("id", "v"), 0L, cfg)
    Ingest.run(spark, Seq((2L, 2.5, "x")).toDF("id", "v", "note"), 1L, cfg)
    val t = IceTable.load(s"$wh/t")
    import org.apache.spark.sql.types._
    assert(t.schema("id").dataType === LongType)
    assert(t.schema("v").dataType === DoubleType)
    assert(t.schema.fieldNames.contains("note"))
    val rows = t.read(spark).orderBy("id").collect()
    assert(rows.length === 2 && rows(0).isNullAt(2))
  }

  test("fields added inside list elements evolve; old files align on read") {
    val wh = TestSpark.freshDir("e2e-evolve-nested")
    val cfg = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")),
      autoCreate = true, evolveSchema = true)
    val b1 = spark.sql("SELECT 1L AS id, array(named_struct('a', 1)) AS lst")
    val b2 = spark.sql("SELECT 2L AS id, array(named_struct('a', 2, 'b', 'x')) AS lst")
    Ingest.run(spark, b1, 0L, cfg)
    Ingest.run(spark, b2, 1L, cfg)
    val t = IceTable.load(s"$wh/t")
    val el = t.schema("lst").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(el.fieldNames.toSeq === Seq("a", "b"))
    val rows = t.read(spark).orderBy("id")
      .selectExpr("id", "lst[0].a AS a", "lst[0].b AS b").collect()
    assert(rows(0).getLong(0) === 1L && rows(0).getInt(1) === 1 && rows(0).isNullAt(2))
    assert(rows(1).getLong(0) === 2L && rows(1).getInt(1) === 2 && rows(1).getString(2) === "x")
  }

  test("auto-create-props land on new tables (IcebergSinkConfig.autoCreateProps)") {
    val wh = TestSpark.freshDir("e2e-autoprops")
    val cfg = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")),
      autoCreate = true,
      autoCreateProps = Map("write.target-file-size-bytes" -> "4096", "owner" -> "pipeline"))
    Ingest.run(spark, Seq((1L, "x")).toDF("id", "v"), 0L, cfg)
    val meta = IceTable.load(s"$wh/t").meta
    assert(meta.props === Map("write.target-file-size-bytes" -> "4096", "owner" -> "pipeline"))
  }

  test("kafka tombstones are skipped but still advance offsets (IcebergWriter.java:66-76)") {
    val wh = TestSpark.freshDir("e2e-tombstone")
    val cfg = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")), autoCreate = true)
    val batch = Seq(
      ("t", 0, 0L, """{"id":1}"""),
      ("t", 0, 1L, null.asInstanceOf[String]), // tombstone
      ("t", 1, 2L, """{"id":2}""")
    ).toDF("topic", "partition", "offset", "value")
    val results = Ingest.run(spark, batch, 0L, cfg,
      transforms = Seq(graft.transforms.Transforms.jsonExpand("value")))
    val table = IceTable.load(s"$wh/t")
    assert(table.read(spark).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the tombstone's offset is still tracked (consumer moved past it)
    assert(results.head.commit.get.offsets === Map("t-0" -> 2L, "t-1" -> 3L))
    // config can disable the drop (reference TODO made configurable)
    val wh2 = TestSpark.freshDir("e2e-tombstone-keep")
    val cfg2 = cfg.copy(warehouse = wh2, tombstoneDrop = false)
    Ingest.run(spark, batch, 0L, cfg2,
      transforms = Seq(graft.transforms.Transforms.jsonExpand("value")))
    assert(IceTable.load(s"$wh2/t").read(spark).count() === 3)
  }

  test("schema.name-mapping.default table property maps aliased fields (RecordConverter.java:100-103)") {
    import org.apache.spark.sql.types._
    val wh = TestSpark.freshDir("e2e-namemapping")
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    IceTable.create(s"$wh/t", schema,
      graft.table.TableMeta(props = Map(
        "schema.name-mapping.default" -> """[ {"field-id": 1, "names": ["legacy_id"]} ]""")))
    val cfg = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")))
    Ingest.run(spark, Seq((7L, "x")).toDF("legacy_id", "name"), 0L, cfg)
    val rows = IceTable.load(s"$wh/t").read(spark).as[(Long, String)].collect().toSeq
    assert(rows === Seq((7L, "x")))
  }

  test("iceberg.table.write-props.* overlays existing-table props at write time (Utilities.java:160)") {
    val wh = TestSpark.freshDir("e2e-writeprops")
    val cfg0 = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")), autoCreate = true)
    val rows = (1 to 4000).map(i => (i.toLong, s"payload-$i-${"x" * 24}"))
    // seed commit: single file, establishes the bytes-per-row estimate
    Ingest.run(spark, rows.toDF("id", "v").repartition(1), 0L, cfg0)
    assert(IceTable.load(s"$wh/t").log.commits().head.dataFiles.size === 1)
    // same property surface a reference user writes; the table already
    // exists, so auto-create-props would be ignored — write-props must not be
    val cfg = EngineConfig.fromProperties(wh, Map(
      "iceberg.tables" -> "t",
      "iceberg.table.write-props.write.target-file-size-bytes" -> "4096"))
    assert(cfg.writeProps === Map("write.target-file-size-bytes" -> "4096"))
    Ingest.run(spark, rows.toDF("id", "v").repartition(1), 1L, cfg)
    val t = IceTable.load(s"$wh/t")
    assert(t.log.commits()(1).dataFiles.size > 1,
      "write-props target file size did not roll the second commit's files")
    // the overlay is write-time only — never persisted onto the table
    assert(t.meta.props.isEmpty)
  }

  test("write-props format override re-types only NEW files; mixed-format tables read correctly") {
    val wh = TestSpark.freshDir("e2e-writeprops-fmt")
    val cfg0 = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")), autoCreate = true)
    Ingest.run(spark, Seq((1L, "a")).toDF("id", "v"), 0L, cfg0) // parquet commit
    val cfg = cfg0.copy(writeProps = Map("write.format.default" -> "orc"))
    Ingest.run(spark, Seq((2L, "b")).toDF("id", "v"), 1L, cfg) // orc commit
    val t = IceTable.load(s"$wh/t")
    val commits = t.log.commits()
    assert(commits(0).dataFiles.forall(f => f.format == "parquet" && f.path.endsWith(".parquet")))
    assert(commits(1).dataFiles.forall(f => f.format == "orc" && f.path.endsWith(".orc")))
    // a plain (no-overlay) load must read both formats correctly
    val rows = t.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
    assert(rows === Seq((1L, "a"), (2L, "b")))
    // and the overlaid view reads the same
    val rows2 = IceTable.load(s"$wh/t").withWriteProps(cfg.writeProps)
      .read(spark).orderBy("id").as[(Long, String)].collect().toSeq
    assert(rows2 === rows)
  }

  test("bounded JSON inference: late fields are null this batch, picked up by evolution next (C7)") {
    import graft.transforms.Transforms
    val wh = TestSpark.freshDir("e2e-json-late")
    val cfg = EngineConfig(warehouse = wh, tables = Seq(TableConfig("t")),
      autoCreate = true, evolveSchema = true)
    // "late" first appears past the default 4096-record inference sample
    // (single ordered partition so the sample is exactly the head)
    val b1 = spark.range(0, 5000, 1, 1).selectExpr("id",
      """CASE WHEN id < 4500 THEN concat('{"a":', id, '}')
        |     ELSE concat('{"a":', id, ',"late":1') || '}' END AS value""".stripMargin)
    Ingest.run(spark, b1, 0L, cfg, transforms = Seq(Transforms.jsonExpand("value")))
    assert(!IceTable.load(s"$wh/t").schema.fieldNames.contains("late"))
    // next batch leads with the field: inference sees it, evolution adds it
    val b2 = Seq((9000L, """{"a":9000,"late":2}""")).toDF("id", "value")
    Ingest.run(spark, b2, 1L, cfg, transforms = Seq(Transforms.jsonExpand("value")))
    val t = IceTable.load(s"$wh/t")
    assert(t.schema.fieldNames.contains("late"))
    val byId = t.read(spark).select("id", "late").as[(Long, Option[Long])].collect().toMap
    assert(byId(9000L) === Some(2L)) // new batch carries the value
    assert(byId(4999L) === None) // batch-1 rows (even post-sample ones) read null
  }

  test("engine config parses the reference property surface (IcebergSinkConfigTest parity)") {
    val cfg = EngineConfig.fromProperties("/tmp/wh", Map(
      "iceberg.tables" -> "db.tbl1, db.tbl2",
      "iceberg.tables.route-field" -> "type",
      "iceberg.table.db.tbl1.route-regex" -> "t1",
      "iceberg.table.db.tbl1.id-columns" -> "id,ts",
      "iceberg.table.db.tbl1.partition-by" -> "day(ts),bucket(id,8)",
      "iceberg.tables.cdc-field" -> "_cdc.op",
      "iceberg.tables.upsert-mode-enabled" -> "true",
      "iceberg.tables.auto-create-enabled" -> "true",
      "iceberg.tables.evolve-schema-enabled" -> "true",
      "iceberg.tables.tombstone-drop-enabled" -> "false",
      "iceberg.tables.default-commit-branch" -> "audit",
      "iceberg.tables.auto-create-props.write.target-file-size-bytes" -> "4096",
      "iceberg.control.commit.interval-ms" -> "60000",
      "iceberg.control.commit.threads" -> "7",
      "iceberg.control.commit.timeout-ms" -> "45000",
      "iceberg.tables.strict-coercion-enabled" -> "true",
      "iceberg.tables.default-id-columns" -> "uid",
      "iceberg.tables.default-partition-by" -> "day(ts)"))
    assert(cfg.tables.map(_.name) === Seq("db.tbl1", "db.tbl2"))
    val t1 = cfg.tableConfig("db.tbl1")
    assert(t1.routeRegex === Some("t1"))
    assert(t1.idColumns === Seq("id", "ts"))
    assert(t1.partitionBy === Seq("day(ts)", "bucket(id,8)"))
    assert(cfg.cdcField === Some("_cdc.op"))
    assert(cfg.upsertMode && cfg.autoCreate && cfg.evolveSchema)
    assert(!cfg.tombstoneDrop)
    assert(cfg.commitIntervalMs === 60000L)
    // commit.threads sizes the K10 parallel-commit pool; commit.timeout-ms
    // is accepted-but-inert (no partial commit to time out under Spark)
    assert(cfg.commitThreads === 7)
    assert(cfg.commitTimeoutMs === 45000)
    assert(cfg.strictCoercion)
    val dflt = EngineConfig.fromProperties("/tmp/wh", Map.empty)
    assert(dflt.commitThreads === Runtime.getRuntime.availableProcessors() * 2)
    assert(dflt.commitTimeoutMs === 30000)
    assert(dflt.format === "parquet")
    // format rides the reference's TABLE property (write.format.default,
    // Utilities.java:162-163) through auto-create-props or write-props —
    // pre-fix an invented iceberg.kafka.* key meant a table whose props
    // said orc was silently written as parquet
    val orcCfg = EngineConfig.fromProperties("/tmp/wh", Map(
      "iceberg.tables.auto-create-props.write.format.default" -> "orc"))
    assert(orcCfg.format === "orc")
    val orcCfg2 = EngineConfig.fromProperties("/tmp/wh", Map(
      "iceberg.table.write-props.write.format.default" -> "orc"))
    assert(orcCfg2.format === "orc")
    // default branch applies to listed tables without their own and to
    // dynamically discovered ones; auto-create props flow to new tables
    assert(cfg.tableConfig("db.tbl2").commitBranch === "audit")
    assert(cfg.tableConfig("nosuch").commitBranch === "audit")
    // default-id-columns / default-partition-by apply to LISTED tables
    // without their own setting (tbl1 overrides ids, inherits partition)
    assert(cfg.tableConfig("db.tbl1").idColumns === Seq("id", "ts"))
    assert(cfg.tableConfig("db.tbl2").idColumns === Seq("uid"))
    assert(cfg.tableConfig("db.tbl2").partitionBy === Seq("day(ts)"))
    assert(cfg.tableConfig("nosuch").idColumns === Seq("uid"))
    assert(cfg.autoCreateProps === Map("write.target-file-size-bytes" -> "4096"))
  }

  test("ROUTE cardinality stress (r18): one batch fans out to 120 auto-created " +
    "tables — every table lands exactly its rows, and a full replay commits nowhere") {
    // the r3 route annotation bounds the distinct-targets collect by
    // TABLE cardinality; nothing had driven that bound past a handful.
    // 120 dynamic routes in ONE batch exercises discovery, auto-create,
    // the K10 parallel-commit pool, and the K8 replay guard at width.
    val wh = TestSpark.freshDir("e2e-many-routes")
    val cfg = EngineConfig(warehouse = wh,
      routeField = Some("route"), dynamicRouting = true, autoCreate = true,
      commitThreads = 8)
    val n = 120
    val batch = (0 until 5 * n).map(i => (i.toLong, s"t${i % n}")).toDF("id", "route")
    val t0 = System.nanoTime()
    val results = Ingest.run(spark, batch, 0L, cfg)
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"$n-table fan-out batch: $dt%.1f s (${dt / n * 1000}%.0f ms/table)")
    assert(results.size === n)
    assert(results.forall(_.commit.isDefined), "every route must commit")
    // content spot-checks across the width (id ≡ route index mod n)
    (0 until n by 17).foreach { k =>
      val rows = IceTable.load(s"$wh/t$k").read(spark).select("id").as[Long].collect().toSet
      assert(rows === (k until 5 * n by n).map(_.toLong).toSet, s"table t$k content")
    }
    // K8 at width: replaying the batchId must touch NOTHING across all 120
    val replay = Ingest.run(spark, batch, 0L, cfg)
    assert(replay.forall(_.commit.isEmpty), "replayed batch must commit nowhere")
    assert(IceTable.load(s"$wh/t3").read(spark).count() === 5L)
  }

  test("K10 dynamic routing sizes each table's write by the batch's bytes: " +
    "1 task and 1 file per write at the default advisory size, the source's 4 at a tiny one") {
    // kafka-shaped (offsets + VTTS ride the write), 4 source partitions,
    // two routes per partition; batch 1 sends qty as a string, and every
    // 25th row's value is not a number, so both tables dead-letter rows
    def batch(b: Int) = spark.range(b * 400L, b * 400L + 400, 1, 4).select(
      lit("t").as("topic"), (col("id") % 4).cast("int").as("partition"),
      col("id").as("offset"), timestamp_micros(lit(1700000000000000L) + col("id")).as("timestamp"),
      concat(lit("r"), (col("id") % 2).cast("string")).as("route"),
      (if (b == 0) col("id") else when(col("id") % 25 === 7, lit("x")).otherwise(col("id").cast("string")))
        .as("qty"))
    val writeTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.name.startsWith("save at IceTableWriter")) writeTasks.add(e.stageInfo.numTasks)
    }
    val tables = Seq("r0", "r1", "r0__dlq", "r1__dlq")
    def ingest(advisory: Option[String]) = {
      val wh = TestSpark.freshDir("e2e-sized")
      val cfg = EngineConfig(warehouse = wh, routeField = Some("route"), dynamicRouting = true,
        autoCreate = true, deadLetterEnabled = true)
      val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      advisory.foreach(spark.conf.set(key, _))
      try {
        Ingest.run(spark, batch(0), 0L, cfg)
        writeTasks.clear()
        spark.sparkContext.addSparkListener(listener)
        try Ingest.run(spark, batch(1), 1L, cfg)
        finally {
          // listener events are async: settle = no new write stage for 500 ms
          var last = -1
          while (writeTasks.size != last) { last = writeTasks.size; Thread.sleep(500) }
          spark.sparkContext.removeSparkListener(listener)
        }
      } finally if (advisory.isDefined) spark.conf.unset(key)
      val last = tables.map(n => n -> IceTable.load(s"$wh/$n").log.commits().last).toMap
      def rows(n: String, cols: String*) =
        IceTable.load(s"$wh/$n").read(spark).select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val content = Seq("r0", "r1").map(rows(_, "offset", "topic", "partition", "timestamp", "route", "qty")) ++
        Seq("r0__dlq", "r1__dlq").map(rows(_, "record", "reason"))
      (writeTasks.asScala.toSeq, last, content)
    }
    val (sized, sizedCommits, sizedContent) = ingest(None)
    val (wide, wideCommits, wideContent) = ingest(Some("4"))
    assert(sized === Seq.fill(4)(1), "main + dead-letter write of 2 tables, 1 task each")
    assert(wide === Seq.fill(4)(4), "a batch wider than the advisory size keeps its 4 partitions")
    tables.foreach(n => assert(sizedCommits(n).dataFiles.size === 1, s"$n commit files"))
    assert(sizedContent === wideContent)
    assert(sizedContent(2).nonEmpty && sizedContent(3).nonEmpty, "both tables dead-lettered rows")
    tables.foreach { n =>
      assert(sizedCommits(n).offsets === wideCommits(n).offsets, s"$n offsets")
      assert(sizedCommits(n).vtts === wideCommits(n).vtts, s"$n vtts")
    }
    assert(sizedCommits("r0").offsets === (0 until 4).map(p => s"t-$p" -> (797L + p)).toMap)
    assert(sizedCommits("r0").vtts === Some(1700000000000000L + 796L))
  }
}
