package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.{EngineConfig, TableConfig}
import graft.fs.ControlFs
import graft.table.IceTable

case class Ev(event_id: Long, user_id: Long, event_type: String, value: Double)

/** Holds every write task's data file under a table named `slow` (or its
  * dead-letter table) at create until [[BlockingWriteTestFs.release]]; a
  * task interrupted by its job's cancellation stops waiting. */
class BlockingWriteTestFs
    extends org.apache.hadoop.fs.FilterFileSystem(new graft.SchemedRawLocalFs("blockwritex")) {
  override def getScheme: String = "blockwritex"
  override def getUri: java.net.URI = java.net.URI.create("blockwritex:///")
  override def create(
      f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    if (f.getName.startsWith("part-") && f.toUri.getPath.matches(".*/slow(__dlq)?/data/.*")) {
      BlockingWriteTestFs.entered.countDown()
      BlockingWriteTestFs.release.await()
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object BlockingWriteTestFs {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}

/** K1-K12 streaming shell: micro-batches from a MemoryStream drive the
  * same Ingest pipeline; each trigger = one commit (the reference's
  * commit-interval semantics with the coordinator collapsed into the
  * driver).
  */
class StreamingSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming ingest commits one snapshot per micro-batch with offsets checkpointed") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-wh")
    val ckpt = TestSpark.freshDir("stream-ckpt")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("sink")), autoCreate = true)

    val ms = MemoryStream[Ev]
    val q = IngestStream.start(ms.toDF(), cfg, ckpt, triggerMs = Some(50))
    try {
      ms.addData(Ev(1, 10, "click", 1.0), Ev(2, 11, "view", 2.0))
      q.processAllAvailable()
      ms.addData(Ev(3, 12, "click", 3.0))
      q.processAllAvailable()
    } finally q.stop()

    val t = IceTable.load(s"$wh/sink")
    assert(t.read(spark).count() === 3)
    assert(t.log.commits().map(_.batchId) === Seq(0L, 1L))
    // checkpoint exists for restart recovery (S4/K4 parity)
    assert(new java.io.File(s"$ckpt/offsets").list().nonEmpty)
  }

  test("streaming dynamic routing discovers and creates tables per micro-batch (R3 under K1)") {
    // exercises the foreachBatch + persist-before-discovery + auto-create
    // interplay: the batch is persisted, distinct route values collected,
    // tables created on first sight, later batches appending to both
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-dyn")
    val ckpt = TestSpark.freshDir("stream-dyn-ckpt")
    val cfg = EngineConfig(warehouse = wh,
      routeField = Some("event_type"), dynamicRouting = true, autoCreate = true)

    val ms = MemoryStream[Ev]
    val q = IngestStream.start(ms.toDF(), cfg, ckpt, triggerMs = Some(50))
    try {
      ms.addData(Ev(1, 10, "click", 1.0), Ev(2, 11, "view", 2.0))
      q.processAllAvailable()
      ms.addData(Ev(3, 12, "click", 3.0)) // second batch: "click" exists, "view" silent
      q.processAllAvailable()
    } finally q.stop()

    val click = IceTable.load(s"$wh/click")
    val view = IceTable.load(s"$wh/view")
    assert(click.read(spark).select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    assert(view.read(spark).select("event_id").as[Long].collect().toSeq === Seq(2L))
    // batch 1 committed to both tables; batch 2 only to click
    assert(click.log.commits().map(_.batchId) === Seq(0L, 1L))
    assert(view.log.commits().map(_.batchId) === Seq(0L))
  }

  test("stopping a query cancels the routed writes its trigger started") {
    // the per-table writes run on the commit pool and the dead-letter
    // writes on the side-job pool; they must carry the trigger's job
    // group, or StreamingQuery.stop() cannot cancel them
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.blockwritex.impl", classOf[BlockingWriteTestFs].getName)
    def config(wh: String) = EngineConfig(warehouse = wh, routeField = Some("event_type"),
      dynamicRouting = true, autoCreate = true, deadLetterEnabled = true, commitThreads = 3)
    // pool threads are created by whichever thread first submits to them
    // and inherit its local properties; start them from this thread, which
    // has no job group, so the query's group can only come from the
    // submission itself
    graft.sink.Ingest.run(spark, Seq(Ev(1, 1, "a", 0), Ev(2, 2, "b", 0), Ev(3, 3, "c", 0)).toDF(),
      0L, config(TestSpark.freshDir("stream-stop-warm")))
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        groups.put(e.jobId, String.valueOf(e.properties.getProperty("spark.jobGroup.id"))); ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ended.add(e.jobId); ()
      }
    }
    val ms = MemoryStream[Ev]
    val q = IngestStream.start(ms.toDF(),
      config("blockwritex:" + TestSpark.freshDir("stream-stop")),
      TestSpark.freshDir("stream-stop-ckpt"), triggerMs = Some(50))
    sc.addSparkListener(listener)
    try {
      ms.addData(Ev(1, 10, "slow", 1.0), Ev(2, 11, "fast", 2.0))
      assert(BlockingWriteTestFs.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the routed write never reached its data file")
      q.stop()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def running = groups.keySet.asScala.filterNot(ended.contains)
      while (running.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(running.isEmpty, s"jobs still active 30 s after stop: $running")
      assert(groups.values.asScala.toSet === Set(q.runId.toString),
        "every job of the trigger ran in the query's job group")
    } finally {
      BlockingWriteTestFs.release.countDown()
      q.stop()
      sc.removeSparkListener(listener)
    }
  }

  test("streaming incremental dedup: batches dedup against corpus + earlier batches, exactly-once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val indexDir = TestSpark.freshDir("dedup-stream-idx")
    val wh = TestSpark.freshDir("dedup-stream-wh")
    val ckpt = TestSpark.freshDir("dedup-stream-ckpt")
    // seed corpus: two documents the stream must never re-admit
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today")
    ).toDF("doc_id", "text")
    graft.llm.LshIndex.build(corpus, "doc_id", "text", indexDir,
      n = 3, numHashes = 64, bands = 32)
    val cfg = EngineConfig(warehouse = wh, tables = Seq(TableConfig("curated")),
      autoCreate = true)
    val ms = MemoryStream[(Long, String)]
    val q = DedupStream.start(ms.toDF().toDF("doc_id", "text"), indexDir,
      "doc_id", "text", threshold = 0.5, ckpt,
      sink = (df, batchId) => { graft.sink.Ingest.run(spark, df, batchId, cfg); () },
      triggerMs = 50)
    try {
      // batch 0: a corpus dup, a new doc, and a within-batch dup of it
      ms.addData(
        (10L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1
        (11L, "completely novel text about spark and catalyst engines"),
        (12L, "completely novel text about spark and catalyst motors")) // near-dup of 11
      q.processAllAvailable()
      // batch 1: a dup of batch 0's survivor, plus one more new doc
      ms.addData(
        (20L, "completely novel text about spark and catalyst engines"), // dup of 11
        (21L, "an entirely different sentence mentioning warehouses and lakes"))
      q.processAllAvailable()
    } finally q.stop()
    val curated = IceTable.load(s"$wh/curated").read(spark)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(curated === Seq(11L, 21L),
      s"curated table should hold exactly the unique survivors: $curated")
    // and the index fenced both batches (partition per micro-batch id)
    val idxIds = spark.read.parquet(s"${graft.llm.LshIndex.dataDir(spark, indexDir)}/shingles.parquet")
      .select("id").as[Long].collect().toSet
    assert(idxIds === Set(1L, 2L, 11L, 21L), s"index contents: $idxIds")
  }

  test("streaming embedding dedup: batches dedup against corpus + earlier batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val indexDir = TestSpark.freshDir("embdedup-stream-idx")
    val ckpt = TestSpark.freshDir("embdedup-stream-ckpt")
    def vec(axis: Int, jitter: Float = 0.0f): Seq[Float] = {
      val a = Array.fill(4)(0.0f); a(axis) = 1.0f; a((axis + 1) % 4) = jitter; a.toSeq
    }
    // seed corpus: two directions the stream must never re-admit
    graft.llm.EmbIndex.build(
      Seq((1L, vec(0)), (2L, vec(1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", indexDir, threshold = 0.9)
    val sunk = scala.collection.mutable.Map[Long, Seq[Long]]()
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = EmbDedupStream.start(ms.toDF().toDF("vec_id", "embedding"), indexDir,
      "vec_id", "embedding", threshold = 0.9, ckpt,
      sink = (df, batchId) => {
        sunk(batchId) = df.select("vec_id").as[Long].collect().sorted.toSeq; ()
      },
      triggerMs = 50)
    try {
      // batch 0: a corpus dup, a new direction, and a within-batch dup of it
      ms.addData(
        (10L, vec(0, 0.01f)), // near-dup of corpus 1
        (11L, vec(2)), // new
        (12L, vec(2, 0.01f))) // within-batch near-dup of 11
      q.processAllAvailable()
      // batch 1: a dup of batch 0's survivor, plus one more new direction
      ms.addData(
        (20L, vec(2, 0.02f)), // dup of 11 via the appended index rows
        (21L, vec(3))) // new
      q.processAllAvailable()
    } finally q.stop()
    assert(sunk.toMap === Map(0L -> Seq(11L), 1L -> Seq(21L)),
      s"survivors per batch: $sunk")
    // the index fenced both batches: base corpus + one partition per batch
    val idxIds = spark.read.parquet(s"${graft.llm.EmbIndex.dataDir(spark, indexDir)}/vectors.parquet")
      .select("id").as[Long].collect().toSet
    assert(idxIds === Set(1L, 2L, 11L, 21L), s"index contents: $idxIds")
  }

  test("in-stream Maintenance.auto: compaction fires mid-stream at the delta threshold, exactly-once") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-maint")
    val ckpt = TestSpark.freshDir("stream-maint-ckpt")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("state", idColumns = Seq("user_id"))),
      cdcField = Some("event_type"), autoCreate = true)
    val ms = MemoryStream[Ev]
    val q = IngestStream.start(ms.toDF(), cfg, ckpt, triggerMs = Some(20),
      maintenanceDeltaCommits = Some(3))
    try {
      // 6 CDC batches = 6 delta commits; the threshold (3) must fire
      // compaction MID-stream (twice), not once at shutdown
      (1 to 6).foreach { i =>
        ms.addData(Ev(i.toLong, 100L, if (i == 1) "I" else "U", i.toDouble))
        q.processAllAvailable()
      }
    } finally q.stop()
    val t = IceTable.load(s"$wh/state")
    // exactly-once upsert result survives the mid-stream compactions
    assert(t.read(spark).select("user_id", "value").as[(Long, Double)].collect().toSet ===
      Set((100L, 6.0)))
    // had no compaction fired, 6 delta commits would have accumulated
    assert(t.deltaCommitsSinceCompaction < 3,
      s"compaction never fired: ${t.deltaCommitsSinceCompaction} deltas accumulated")
  }

  test("a failing in-stream compaction never wedges ingest (maintenance is an optimization)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-maint-fail")
    val ckpt = TestSpark.freshDir("stream-maint-fail-ckpt")
    // CDC table like the healthy twin above: every batch is a DELTA
    // commit, so threshold 1 makes Maintenance.auto attempt a compaction
    // on every trigger (plain appends never count toward the threshold)
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("state", idColumns = Seq("user_id"))),
      cdcField = Some("event_type"), autoCreate = true)
    val ms = MemoryStream[Ev]
    val q = IngestStream.start(ms.toDF(), cfg, ckpt, triggerMs = Some(20),
      maintenanceDeltaCommits = Some(1))
    try {
      ms.addData(Ev(1L, 100L, "I", 1.0))
      q.processAllAvailable() // batch 0: insert (no deletes — no compaction yet)
      ms.addData(Ev(2L, 100L, "U", 2.0))
      q.processAllAvailable() // batch 1: a DELTA commit → compaction fires, succeeds
      // break every FUTURE compaction: delete the LIVE data file (the
      // compaction's output), so the next binpack's table read fails —
      // while ingest (delta-writes only, never reads data files) stays
      // healthy. The guard must absorb the failure; without it the
      // trigger fails AFTER its data commit and the stream wedges in a
      // restart loop.
      val t0 = IceTable.load(s"$wh/state")
      val last = t0.log.commits().last
      assert(last.props.keys.exists(_.startsWith("compaction")),
        s"batch 1's threshold-1 compaction should have fired: ${t0.log.commits()}")
      val victim = last.dataFiles.head.path
      ControlFs.delete(victim, recursive = false)
      assert(!ControlFs.exists(victim), s"victim still exists: $victim")
      (3 to 5).foreach { i =>
        ms.addData(Ev(i.toLong, 100L, "U", i.toDouble))
        q.processAllAvailable() // must keep committing despite failing compaction
      }
    } finally q.stop()
    val t = IceTable.load(s"$wh/state")
    assert(t.log.commits().map(_.batchId).filter(_ >= 0) === Seq(0L, 1L, 2L, 3L, 4L),
      "ingest must keep committing while in-stream compaction fails")
    // the failure was real, not a silent no-op: every post-deletion
    // compaction attempt failed, so delta commits accumulated past the
    // threshold instead of being folded (the healthy-path twin test
    // asserts the opposite), and fsck sees the damage
    assert(t.deltaCommitsSinceCompaction >= 3,
      s"compaction should have kept failing: ${t.deltaCommitsSinceCompaction} deltas")
    assert(t.fsck(spark).select("problem").as[String].collect().contains("missing"))
  }

  test("in-stream index compaction: aged partitions fold mid-stream; dedup against folded rows holds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val indexDir = TestSpark.freshDir("dedup-compact-idx")
    val ckpt = TestSpark.freshDir("dedup-compact-ckpt")
    graft.llm.LshIndex.build(
      Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"),
      "doc_id", "text", indexDir, n = 3, numHashes = 64, bands = 32)
    val sunk = scala.collection.mutable.Map[Long, Seq[Long]]()
    val ms = MemoryStream[(Long, String)]
    val q = DedupStream.start(ms.toDF().toDF("doc_id", "text"), indexDir,
      "doc_id", "text", threshold = 0.5, ckpt,
      sink = (df, batchId) => {
        sunk(batchId) = df.select("doc_id").as[Long].collect().sorted.toSeq; ()
      },
      triggerMs = 20, compactEveryBatches = Some(2))
    try {
      ms.addData((10L, "completely novel text about spark and catalyst engines"))
      q.processAllAvailable() // batch 0: survivor 10
      ms.addData((20L, "an entirely different sentence mentioning warehouses and lakes"))
      q.processAllAvailable() // batch 1: survivor 20
      ms.addData((30L, "a third thing entirely about distributed query planning"))
      q.processAllAvailable() // batch 2: survivor 30; compaction folds batches <= 1
      // batch 3: dups of batch-0/1 survivors whose partitions were FOLDED —
      // the probe must still find them via the base partition
      ms.addData(
        (40L, "completely novel text about spark and catalyst engines"),
        (41L, "an entirely different sentence mentioning warehouses and lakes"),
        (42L, "yet another brand new document on streaming state stores"))
      q.processAllAvailable()
    } finally q.stop()
    assert(sunk.toMap === Map(0L -> Seq(10L), 1L -> Seq(20L), 2L -> Seq(30L), 3L -> Seq(42L)),
      s"survivors per batch: $sunk")
    // batches 0 and 1 folded into base; 2 and 3 still live partitions
    val dataDir = graft.llm.LshIndex.dataDir(spark, indexDir)
    val parts = new java.io.File(s"$dataDir/shingles.parquet").list()
      .filter(_.startsWith("batch=")).sorted.toSeq
    assert(parts === Seq("batch=-1", "batch=2", "batch=3"),
      s"unexpected partition layout after in-stream compaction: $parts")
    // nothing lost: all survivors + corpus remain queryable index entries
    val idxIds = spark.read.parquet(s"$dataDir/shingles.parquet")
      .select("id").as[Long].collect().toSet
    assert(idxIds === Set(1L, 10L, 20L, 30L, 42L), s"index contents: $idxIds")
  }

  test("restart from checkpoint resumes without duplicating commits (S4/K8)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-restart")
    val ckpt = TestSpark.freshDir("stream-restart-ckpt")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("sink")), autoCreate = true)

    val ms1 = MemoryStream[Ev]
    val q1 = IngestStream.start(ms1.toDF(), cfg, ckpt, triggerMs = Some(50))
    try {
      ms1.addData(Ev(1, 10, "click", 1.0), Ev(2, 11, "view", 2.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // second incarnation, same source + checkpoint: batch ids continue,
    // nothing replays
    ms1.addData(Ev(3, 12, "click", 3.0))
    val q2 = IngestStream.start(ms1.toDF(), cfg, ckpt, triggerMs = Some(50))
    try q2.processAllAvailable()
    finally q2.stop()

    val t = IceTable.load(s"$wh/sink")
    assert(t.read(spark).select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // distinct, monotonically increasing batch ids — no duplicated commit
    val batchIds = t.log.commits().map(_.batchId)
    assert(batchIds === batchIds.distinct.sorted)
    // replaying an already-committed batch id is fenced by the guard (K8)
    val before = t.log.commits().size
    graft.sink.Ingest.run(spark, Seq(Ev(99, 99, "click", 9.9)).toDF(), batchIds.last, cfg)
    assert(IceTable.load(s"$wh/sink").log.commits().size === before)
  }

  test("commit-lifecycle listener reports started/commit-complete/terminated (K12)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-listener")
    val ckpt = TestSpark.freshDir("stream-listener-ckpt")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("sink")), autoCreate = true)

    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new IngestStream.CommitListener(events.add(_))
    spark.streams.addListener(listener)
    val ms = MemoryStream[Ev]
    val q = IngestStream.start(ms.toDF(), cfg, ckpt, triggerMs = Some(50))
    try {
      ms.addData(Ev(1, 10, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(2, 11, "view", 2.0))
      q.processAllAvailable()
      q.stop()
      q.awaitTermination(10000)
      // listener events are delivered async — settle briefly
      val deadline = System.currentTimeMillis() + 10000
      def lines = events.toArray(Array.empty[String]).toSeq
      while (System.currentTimeMillis() < deadline &&
        !lines.exists(_.contains("\"terminated\""))) Thread.sleep(100)
      assert(lines.exists(_.contains(s"""{"event":"started","id":"${q.id}"""")))
      // one commit-complete line per non-empty micro-batch, with row counts
      val commits = lines.filter(_.contains("\"commit-complete\""))
      assert(commits.exists(l => l.contains("\"batchId\":0") && l.contains("\"rows\":1")))
      assert(commits.exists(l => l.contains("\"batchId\":1") && l.contains("\"rows\":1")))
      assert(lines.exists(_.contains(s"""{"event":"terminated","id":"${q.id}"""")))
    } finally {
      if (q.isActive) q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("idle flush preserves the session_id counter — (key, sid) stays unique over the stream") {
    import org.apache.spark.sql.streaming.GroupState
    class FakeState(var v: Option[SessionState], timedOut: Boolean)
        extends GroupState[SessionState] {
      var removed = false
      override def exists: Boolean = v.isDefined
      override def get: SessionState = v.get
      override def getOption: Option[SessionState] = v
      override def update(s: SessionState): Unit = { v = Some(s) }
      override def remove(): Unit = { v = None; removed = true }
      override def hasTimedOut: Boolean = timedOut
      override def setTimeoutDuration(d: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(t: Long): Unit = ()
      override def setTimeoutTimestamp(t: Long, additionalDuration: String): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date, additionalDuration: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = 0L
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    val fn = Sessionize.update(gapUs = 100L, idleTimeoutMs = 1000L) _
    // sessions 0 and 1 close by gap; session 1 stays open in state
    val s1 = new FakeState(None, timedOut = false)
    val emitted = fn(7L, Iterator((7L, 0L), (7L, 10L), (7L, 500L)), s1).toSeq
    assert(emitted.map(_.session_id) === Seq(0L))
    assert(s1.v.exists(st => st.sid == 1L && st.n == 1L))
    // idle timeout: open session 1 flushes, counter tombstone survives
    val s2 = new FakeState(s1.v, timedOut = true)
    val flushed = fn(7L, Iterator.empty, s2).toSeq
    assert(flushed.map(_.session_id) === Seq(1L))
    assert(!s2.removed, "state must reduce to a counter tombstone, not be removed")
    assert(s2.v.exists(st => st.sid == 2L && st.n == 0L))
    // the key returns: pre-fix this restarted at sid 0, re-emitting (7, 0)
    val s3 = new FakeState(s2.v, timedOut = false)
    fn(7L, Iterator((7L, 1000L), (7L, 5000L)), s3).toSeq match {
      case Seq(sess) => assert(sess.session_id === 2L)
      case other     => fail(s"expected exactly the re-opened session to close: $other")
    }
    // a timeout firing on an already-tombstoned key removes it cleanly
    val s4 = new FakeState(Some(SessionState(5L, 0L, 0L, 0L)), timedOut = true)
    assert(fn(7L, Iterator.empty, s4).isEmpty && s4.removed)
  }

  test("flatMapGroupsWithState sessionization matches the batch operator on closed sessions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val min = 60L * 1000 * 1000 // a minute in micros
    // user 1: two sessions (gap 45 min); user 2: one session
    val batch1 = Seq((1L, 0L * min), (1L, 10L * min), (2L, 5L * min))
    val batch2 = Seq((1L, 55L * min), (1L, 60L * min), (2L, 20L * min))
    val ms = MemoryStream[(Long, Long)]
    val qn = "sessions_out"
    // default idleTimeoutMs = 0 (no timeout) — this untriggered query
    // quiescing at processAllAvailable IS the regression test: a
    // registered processing-time timeout would make the engine run
    // no-data batches back-to-back and never quiesce (production streams
    // opt into the idle flush AND pair it with a trigger interval)
    val q = Sessionize.stream(ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table(qn)
      .as[Session].collect().map(s => (s.user_id, s.session_id, s.start_us, s.end_us, s.events))
      .toSet
    // batch operator over the union sees the same sessions; the last
    // session of each user is still open in the stream, so drop it
    val all = graft.operators.Sessionize
      .sessions((batch1 ++ batch2).toDF("user_id", "ts_us"), "user_id", "ts_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val lastPerUser = all.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expectClosed = all.filterNot(s => lastPerUser(s._1) == s._2).toSet
    assert(closed === expectClosed)
    assert(closed === Set((1L, 0L, 0L, 10L * min, 2L))) // the 45-min gap split
  }

  test("streaming CDC upsert: per-batch last-wins merge into the table") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-cdc")
    val ckpt = TestSpark.freshDir("stream-cdc-ckpt")
    val cfg = EngineConfig(warehouse = wh,
      tables = Seq(TableConfig("state", idColumns = Seq("user_id"))),
      cdcField = Some("event_type"), autoCreate = true)
    // event_type doubles as the op code here: I/U/D
    val ms = MemoryStream[Ev]
    val q = IngestStream.start(ms.toDF(), cfg, ckpt, triggerMs = Some(50))
    try {
      ms.addData(Ev(1, 100, "I", 1.0), Ev(2, 200, "I", 2.0))
      q.processAllAvailable()
      ms.addData(Ev(3, 100, "U", 9.0), Ev(4, 200, "D", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val rows = IceTable.load(s"$wh/state").read(spark)
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(rows === Set((100L, 9.0)))
  }

  test("kitchen sink: dynamic route + auto-create + evolution + CDC upsert + DLQ " +
    "+ in-stream maintenance across a restart, exactly-once (r16 composed-deployment test)") {
    // Feature PAIRS are covered elsewhere; this runs the full reference
    // deployment shape in ONE foreachBatch stream across 3+ tables:
    // JSON records route dynamically by event_type, tables auto-create on
    // first sight, `clicks` is PRE-created with a typed schema so poison
    // values dead-letter, CDC ops (I/U/D) resolve per-key, a mid-run
    // restart resumes the same checkpoint, the restarted stream's records
    // carry a NEW column (mid-stream evolution), and Maintenance.auto
    // rides every trigger. Asserts final per-table states, DLQ contents,
    // exactly-once batch ids, the evolution commit, and that an in-stream
    // compaction actually landed.
    import spark.implicits._
    import org.apache.spark.sql.types._
    implicit val sq = spark.sqlContext
    val wh = TestSpark.freshDir("stream-sink-wh")
    val ckpt = TestSpark.freshDir("stream-sink-ckpt")
    val cfg = EngineConfig(warehouse = wh,
      routeField = Some("event_type"), dynamicRouting = true,
      cdcField = Some("op"), autoCreate = true, evolveSchema = true,
      deadLetterEnabled = true, defaultIdColumns = Seq("event_id"))
    // `clicks` pre-created typed (value DOUBLE): a record whose value
    // cannot coerce must dead-letter, not null out or fail the trigger
    IceTable.create(s"$wh/clicks", StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType))),
      graft.table.TableMeta(idColumns = Seq("event_id")))

    def j(id: Long, t: String, op: String, v: String, w: Option[Long] = None): String =
      s"""{"event_id":$id,"event_type":"$t","op":"$op","value":$v""" +
        w.map(x => s""","w":$x}""").getOrElse("}")

    val ms = MemoryStream[String]
    // armable one-shot CRASH inside the pipeline: the restarted stream's
    // first trigger dies mid-run (a real failure, not a graceful stop)
    // and the incarnation after it must replay that batch exactly-once
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val crashOnce: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = { d =>
      if (crashArmed.compareAndSet(true, false))
        throw new RuntimeException("injected mid-run crash")
      d
    }
    def start() = IngestStream.start(ms.toDF(), cfg, ckpt,
      transforms = Seq(crashOnce, graft.transforms.Transforms.jsonExpand("value")),
      triggerMs = Some(20), maintenanceDeltaCommits = Some(2))

    val q1 = start()
    try {
      // batch 0: inserts fan out to three auto/pre-created tables
      ms.addData(
        j(1, "clicks", "I", "\"12.5\""), j(2, "clicks", "I", "\"7.5\""),
        j(10, "views", "I", "\"a\""), j(20, "buys", "I", "\"x\""))
      q1.processAllAvailable()
      // batch 1: upsert id 1, delete id 2, a poison clicks value (DLQ),
      // and a views insert — CDC + DLQ in the same trigger
      ms.addData(
        j(1, "clicks", "U", "\"99.0\""), j(2, "clicks", "D", "\"0\""),
        j(3, "clicks", "I", "\"oops\""), j(11, "views", "I", "\"b\""))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart mid-run from the same checkpoint; the new incarnation's
    // records carry a NEW field `w` — schema evolution applies mid-stream
    ms.addData(
      j(4, "clicks", "U", "\"1.0\"", Some(40L)), // upsert of an absent key = insert
      j(5, "clicks", "I", "\"bad\"", Some(50L)), // second poison after restart
      j(12, "views", "I", "\"c\"", Some(7L)),
      j(20, "buys", "U", "\"y\"", Some(9L)))
    // incarnation 2 CRASHES mid-run on its first trigger (injected, before
    // any write lands) — the batch stays uncommitted in the checkpoint
    crashArmed.set(true)
    val q2 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    assert(!crashArmed.get(), "the injected crash must have fired")
    // incarnation 3 replays the crashed batch exactly-once
    val q3 = start()
    try q3.processAllAvailable()
    finally q3.stop()

    val clicks = IceTable.load(s"$wh/clicks")
    // CDC state: 1 upserted, 2 deleted, 3/5 dead-lettered, 4 inserted
    assert(clicks.read(spark).select("event_id", "value").as[(Long, Double)]
      .collect().toSet === Set((1L, 99.0), (4L, 1.0)))
    // mid-stream evolution: `w` landed on clicks; pre-restart rows null-fill
    assert(clicks.schema.fieldNames.contains("w"), s"${clicks.schema.fieldNames.toSeq}")
    assert(clicks.read(spark).filter(org.apache.spark.sql.functions.col("w").isNotNull)
      .select("event_id").as[Long].collect().toSeq === Seq(4L))
    // the other routes: plain appends + a CDC upsert on buys
    assert(IceTable.load(s"$wh/views").read(spark).select("event_id").as[Long]
      .collect().sorted.toSeq === Seq(10L, 11L, 12L))
    assert(IceTable.load(s"$wh/buys").read(spark)
      .select("event_id", "value").as[(Long, String)].collect().toSet === Set((20L, "y")))
    // DLQ: exactly the two poison records, with the full source JSON kept
    val dlq = IceTable.load(s"$wh/clicks__dlq").read(spark)
    assert(dlq.count() === 2)
    assert(dlq.select("record").as[String].collect()
      .count(r => r.contains("\"oops\"") || r.contains("\"bad\"")) === 2)
    // exactly-once across the restart: batch ids per table are distinct
    // and increasing — nothing replayed into any of the four logs
    Seq("clicks", "views", "buys", "clicks__dlq").foreach { t =>
      val ids = IceTable.load(s"$wh/$t").log.commits().map(_.batchId).filter(_ >= 0)
      assert(ids === ids.distinct.sorted, s"$t: replayed batch ids: $ids")
    }
    // in-stream maintenance genuinely ran: clicks accumulated >= 2 delta
    // commits before the last trigger, so at least one compaction commit
    // (rewrite with removedPaths) landed through the running stream
    assert(clicks.log.commits().exists(c => c.props.get("compaction").contains("true")),
      s"no in-stream compaction commit: ${clicks.log.commits().map(_.props)}")
  }
}

case class TsEv(event_id: Long, ts: java.sql.Timestamp, v: String)

/** Watermark-state dedup: the behavior behind the `streaming_dedup`
  * query, pinned across micro-batches (the query's SQL oracle can only
  * check the final distinct set).
  */
class StreamingDedupSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("duplicates across batches within the watermark collapse; state is bounded by the delay") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ms = MemoryStream[TsEv]
    val qn = s"sdedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(qn)
      .option("checkpointLocation", TestSpark.freshDir("sdedup-ckpt"))
      .start()
    try {
      ms.addData(TsEv(1, ts(0), "a"), TsEv(2, ts(1), "b"))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate of id 1 (inside the delay) and a
      // fresh id — only the fresh row may surface
      ms.addData(TsEv(1, ts(2), "a-dup"), TsEv(3, ts(3), "c"))
      q.processAllAvailable()
      val got = spark.table(qn).select("event_id").as[Long].collect().sorted.toSeq
      assert(got === Seq(1L, 2L, 3L), s"cross-batch duplicate leaked or row lost: $got")
      // advance the watermark far past the old keys, then REUSE id 1:
      // its state has expired, so the late reuse surfaces again — the
      // state is a delay window, not stream history
      ms.addData(TsEv(9, ts(40), "advance"))
      q.processAllAvailable()
      ms.addData(TsEv(1, ts(41), "a-after-expiry"))
      q.processAllAvailable()
      val after = spark.table(qn).select("event_id").as[Long].collect().sorted.toSeq
      assert(after === Seq(1L, 1L, 2L, 3L, 9L),
        s"expired key should re-emit (windowed state), got: $after")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
  }
}
