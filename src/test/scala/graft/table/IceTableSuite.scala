package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sink.IceTableWriter

/** Fails any `ckpt-*` create with a RuntimeException — an injected
  * checkpoint-write failure that bypasses checkpoint()'s own IOException
  * handling, proving commit()'s succeeded-claim guard.
  */
class CkptFailTestFs
    extends org.apache.hadoop.fs.FilterFileSystem(
      new graft.SchemedRawLocalFs("ckptfailx")) {
  override def getScheme: String = "ckptfailx"
  override def getUri: java.net.URI = java.net.URI.create("ckptfailx:///")
  override def create(
      f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (f.getName.startsWith("ckpt-"))
      throw new RuntimeException("injected checkpoint create failure")
    else super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
}

/** Fails every delete of a `_staging` marker — an injected post-commit
  * cleanup failure, proving publish()'s cleanup guard: the commit
  * outcome must stand even when releasing the staging markers fails.
  */
class StagingClearFailTestFs
    extends org.apache.hadoop.fs.FilterFileSystem(
      new graft.SchemedRawLocalFs("stagefailx")) {
  override def getScheme: String = "stagefailx"
  override def getUri: java.net.URI = java.net.URI.create("stagefailx:///")
  override def delete(f: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (f.getName == "_staging")
      throw new RuntimeException("injected staging-marker delete failure")
    else super.delete(f, recursive)
}

class IceTableSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("v", DoubleType)
  ))

  private def df(rows: (Long, String, Double)*) =
    rows.toDF("id", "name", "v")

  /** FileEntry paths carry the filesystem's scheme (`file:/...`) since the
    * control plane moved to the Hadoop FS layer; java.nio needs them bare. */
  private def localPath(p: String): java.nio.file.Path =
    java.nio.file.Paths.get(IceTable.normalizePath(p))

  test("create + append + read back") {
    val dir = TestSpark.freshDir("t1")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, batchId = 0)
    IceTableWriter.append(spark, df((3L, "c", 3.0)), t, batchId = 1)
    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got === Array((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.log.commits().map(_.batchId) === Seq(0L, 1L))
  }

  test("evolveTo advances past a burned (garbled) schema version instead of wedging") {
    val dir = TestSpark.freshDir("t-burned-schema")
    val t = IceTable.create(dir, schema, TableMeta())
    // the on-disk state a writer crashed mid-create (or a cross-process
    // race) leaves: v2.json exists but parses as nothing — its number is
    // burned and must never be re-claimed
    graft.fs.ControlFs.createExclusive(s"$dir/_schemas/v2.json", "garbled {{{")
    val widened = StructType(schema.fields :+ StructField("extra", StringType))
    val v = t.evolveTo(widened)
    assert(v === 3, "evolution must claim the next FREE number, not retry the burned one")
    assert(t.schema.fieldNames.contains("extra"))
    // idempotent re-evolve still resolves to the committed version
    assert(t.evolveTo(widened) === 3)
  }

  test("create fails loudly (and create-to-load wins cleanly) on table.json read-back") {
    // garbled table.json — the state an interleaved cross-process create
    // race on a check-then-act FS can leave: create must fail HERE with
    // an actionable message, not at some later load with a JSON trace
    val bad = TestSpark.freshDir("t-garbled")
    graft.fs.ControlFs.createExclusive(s"$bad/table.json", "not json {{{")
    val e = intercept[IllegalStateException] { IceTable.create(bad, schema, TableMeta()) }
    assert(e.getMessage.contains("unreadable after create"), s"unexpected: ${e.getMessage}")
    // whole loser content: the normal race outcome — loser loads winner's
    val won = TestSpark.freshDir("t-won")
    val winner = IceTable.create(won, schema, TableMeta(idColumns = Seq("id")))
    val loser = IceTable.create(won, schema, TableMeta()) // different meta, loses
    assert(loser.meta.idColumns === winner.meta.idColumns)
  }

  test("batchId replay guard (K8): re-committing a batch is a no-op") {
    val dir = TestSpark.freshDir("t2")
    val t = IceTable.create(dir, schema, TableMeta())
    assert(IceTableWriter.append(spark, df((1L, "a", 1.0)), t, batchId = 5).isDefined)
    assert(IceTableWriter.append(spark, df((1L, "a", 1.0)), t, batchId = 5).isEmpty)
    assert(IceTableWriter.append(spark, df((1L, "a", 1.0)), t, batchId = 4).isEmpty)
    assert(t.read(spark).count() === 1)
  }

  test("equality deletes apply only to earlier commits (D2 sequence rule)") {
    val dir = TestSpark.freshDir("t3")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    // batch 0: insert ids 1,2,3
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), t, 0)
    // batch 1: update id 2, delete id 3, insert id 4 in the same delta
    IceTableWriter.delta(
      spark,
      dataDf = df((2L, "b2", 2.2), (4L, "d", 4.0)),
      deleteKeysDf = Seq(2L, 3L).toDF("id"),
      table = t,
      batchId = 1
    )
    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // id2 new version survives (same commit as its delete → not erased),
    // id3 gone, id4 inserted
    assert(got === Seq((1L, "a"), (2L, "b2"), (4L, "d")))
  }

  test("schema evolution: files written under older schema versions align on read") {
    val dir = TestSpark.freshDir("t4")
    val v1 = StructType(Seq(StructField("id", IntegerType), StructField("v", FloatType)))
    val t = IceTable.create(dir, v1, TableMeta())
    IceTableWriter.append(spark,
      Seq((1, 1.5f)).toDF("id", "v"), t, 0)
    val v2 = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType),
      StructField("extra", StringType)))
    assert(t.evolveTo(v2) === 2)
    IceTableWriter.append(spark,
      Seq((2L, 2.5, "x")).toDF("id", "v", "extra"), t, 1)
    val got = t.read(spark).orderBy("id").collect()
    assert(t.schema === v2)
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(got(0).isNullAt(2) && got(1).getString(2) === "x")
    assert(got(0).getDouble(1) === 1.5f.toDouble)
    // idempotent: evolving to the same schema returns the same version
    assert(t.evolveTo(v2) === 2)
  }

  test("schema evolution survives past version 10 (parsed-version ordering)") {
    // a filename sort puts v10.json before v2.json: version 10 would wedge
    // evolution forever (regression test for the lexicographic-sort bug)
    val dir = TestSpark.freshDir("t-v10")
    val t = IceTable.create(dir, StructType(Seq(StructField("id", LongType))), TableMeta())
    (1 to 11).foreach { i =>
      val s = StructType(StructField("id", LongType) +:
        (1 to i).map(j => StructField(s"c$j", StringType)))
      assert(t.evolveTo(s) === i + 1)
    }
    assert(t.currentSchemaVersion === 12)
    assert(t.schema.fieldNames.length === 12)
    // idempotent re-evolve still resolves against the true latest
    assert(t.evolveTo(t.schema) === 12)
  }

  test("partition values with '+' and spaces survive the hive-layout round trip") {
    // the writer Hive-escapes partition dirs; URLDecoder would turn a
    // literal '+' into a space on recovery, corrupting the recorded value
    // and mis-pruning scans (regression test)
    val dir = TestSpark.freshDir("t-plus")
    val t = IceTable.create(dir, schema, TableMeta(partitionBy = Seq("name")))
    IceTableWriter.append(spark, df((1L, "a+b", 1.0), (2L, "c d", 2.0)), t, 0)
    val parts = t.log.commits().head.dataFiles.map(_.partition("name")).toSet
    assert(parts === Set("a+b", "c d"), s"partition values corrupted: $parts")
    val pruned = t.scan(spark, Some(pv => pv("name") == "a+b"))
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("paths needing URI encoding (space in warehouse dir) read back every row") {
    // input_file_name() returns the URL-encoded path: a raw-path join key
    // silently dropped all rows of such files (regression test)
    val base = TestSpark.freshDir("t-space")
    val dir = s"$base/ware house/t"
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    IceTableWriter.delta(spark, df((2L, "b2", 2.2)), Seq(2L).toDF("id"), t, 1)
    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2")))
  }

  test("a zombie's duplicate batchId entry is dropped by readers (K8 self-heal)") {
    val dir = TestSpark.freshDir("t-zombie")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, batchId = 7)
    // simulate a zombie that crashed between link and rollback: the same
    // batchId linked again at a higher seq
    val real = t.log.commits().head
    val dup = real.copy(seq = real.seq + 1, commitId = "zombie")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t.log.root, f"v${dup.seq}%09d.json"), CommitLog.mapper.writeValueAsBytes(dup))
    val seen = t.log.commits()
    assert(seen.map(_.commitId) === Seq(real.commitId), s"zombie entry not dropped: $seen")
    assert(t.read(spark).count() === 1) // data not doubled
    // and the live commit() path refuses the replay outright
    assert(t.log.commit(7L, s => Commit(s, 7L, "again", 0L, 1)).isEmpty)
  }

  test("a zombie of an OLDER batch at the log head cannot understate the replay fence") {
    val dir = TestSpark.freshDir("t-zombie-fence")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, batchId = 5)
    IceTableWriter.append(spark, df((2L, "b", 2.0)), t, batchId = 6)
    // crashed duplicate of batch 5 linked ABOVE the real head: the naive
    // last-entry fast path would report lastBatchId = 5 and let a replay
    // of batch 6 commit twice
    val b5 = t.log.commits().head
    val zombie = b5.copy(seq = t.log.lastSeq() + 1, commitId = "zombie5")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t.log.root, f"v${zombie.seq}%09d.json"),
      CommitLog.mapper.writeValueAsBytes(zombie))
    assert(t.log.lastBatchId() === Some(6L))
    assert(t.log.commit(6L, s => Commit(s, 6L, "replay6", 0L, 1)).isEmpty,
      "batch-6 replay must be fenced despite the zombie head")
    // and the zombie's raw seq claim must not anchor validation windows:
    // the committed view stops at the real head
    assert(t.log.lastCommittedSeq() === b5.seq + 1)
    assert(t.log.lastSeq() === zombie.seq)
  }

  test("readers tolerate a zombie rollback deleting a listed commit file") {
    // two writers race the same batchId while readers scan continuously:
    // the loser's post-link rollback deletes a v*.json a reader may have
    // already listed — commits()/lastBatchId() must skip it, not crash
    val dir = TestSpark.freshDir("t-vanish")
    val t = IceTable.create(dir, schema, TableMeta())
    assert(t.log.commit(1L, s => Commit(s, 1L, "seed", 0L, 1)).isDefined)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val readers = (0 until 2).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit =
            try while (!stop.get()) { t.log.commits(); t.log.lastBatchId(); () }
            catch { case e: Throwable => readerErr.set(e); stop.set(true) }
        })
      }
      for (b <- 2L to 40L if !stop.get()) {
        val writes = (0 until 2).map { i =>
          new java.util.concurrent.Callable[Option[graft.table.Commit]] {
            def call() = t.log.commit(b, s => Commit(s, b, s"w$i-$b", 0L, 1), maxRetries = 50)
          }
        }
        val done = pool.invokeAll(writes.asJava).asScala.map(_.get())
        assert(done.count(_.isDefined) === 1, s"batch $b committed ${done.count(_.isDefined)}x")
      }
      stop.set(true)
      readers.foreach(_.get())
      assert(readerErr.get() === null,
        s"reader crashed on a vanished commit file: ${readerErr.get()}")
      assert(t.log.commits().map(_.batchId) === (1L to 40L))
    } finally pool.shutdown()
  }

  test("retention sweep under concurrent readers: no crash, no silently truncated view") {
    // interval 3 over 80 commits forces ~26 checkpoints, each pruning
    // entries two generations back WHILE readers list/read continuously —
    // the vanished-file re-list in commits() must keep every reader view
    // complete (a pruned tail read as 'zombie-skip' would silently drop
    // committed batches)
    val dir = TestSpark.freshDir("t-retention-race")
    val log = new CommitLog(dir, checkpointInterval = 3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val readers = (0 until 2).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit =
            try while (!stop.get()) {
              val view = log.commits()
              // a reader view is always a batch-id PREFIX 0..k with no
              // holes — a hole means a pruned entry was skipped silently
              val ids = view.map(_.batchId)
              if (ids != (0L until ids.size.toLong)) {
                readerErr.set(new IllegalStateException(s"gapped view: $ids"))
                stop.set(true)
              }
            } catch { case e: Throwable => readerErr.set(e); stop.set(true) }
        })
      }
      (0L until 80L).foreach { b =>
        if (!stop.get()) log.commit(b, s => Commit(s, b, s"c$b", 0L, 1))
      }
      stop.set(true)
      readers.foreach(_.get())
      assert(readerErr.get() === null, s"reader failed: ${readerErr.get()}")
      assert(log.commits().map(_.batchId) === (0L until 80L))
      // and the sweep actually ran: far fewer files than commits
      assert(new java.io.File(dir).list().length < 40,
        "retention sweep did not bound the directory")
    } finally pool.shutdown()
  }

  test("gc age threshold protects freshly staged (not yet committed) files") {
    val dir = TestSpark.freshDir("t-gc-age")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, 0)
    // stage an orphan the way an in-flight writer would (data file present,
    // commit entry not yet linked)
    val staged = java.nio.file.Paths.get(t.dir, "data", "inflight-uuid")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.write(staged.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    assert(t.gc() === 0, "age-guarded gc deleted a freshly staged file")
    assert(java.nio.file.Files.exists(staged.resolve("part-0.parquet")))
    assert(t.gc(olderThanMs = 0L) >= 1) // explicit opt-out collects it
  }

  test("a live _staging marker protects a long write job's old part files from gc") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val dir = TestSpark.freshDir("t-gc-staging")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, 0)
    // the normal write path must leave NO marker behind (publish clears it)
    val leftovers = {
      val w = Files.walk(java.nio.file.Paths.get(t.dir))
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(_.getFileName.toString == "_staging").toList
      } finally w.close()
    }
    assert(leftovers.isEmpty, s"publish left staging markers: $leftovers")
    t.gc(olderThanMs = 0L) // drop the append's _SUCCESS/.crc bookkeeping
    // in-flight long write: part file ALREADY older than the orphan age,
    // marker fresh — pre-fix, age-based gc deleted the file mid-job and
    // the eventual commit referenced a vanished path
    val staged = java.nio.file.Paths.get(t.dir, "data", "inflight-long-job")
    Files.createDirectories(staged)
    val part = staged.resolve("part-0.parquet")
    Files.write(part, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(part,
      FileTime.fromMillis(System.currentTimeMillis() - 60L * 60 * 1000))
    Files.createFile(staged.resolve("_staging"))
    assert(t.gc(olderThanMs = 0L) === 0,
      "gc deleted files under a live _staging marker")
    assert(Files.exists(part))
    // crashed writer: marker past the staging grace — dir is reclaimed
    Files.setLastModifiedTime(staged.resolve("_staging"),
      FileTime.fromMillis(System.currentTimeMillis() - 7L * 60 * 60 * 1000))
    assert(t.gc(olderThanMs = 0L) >= 1)
    assert(!Files.exists(part))
  }

  test("read-back counts merge fills only unknown-row stats, keyed by file name") {
    val stats = Map(
      "/tbl/data/u1/part-0.parquet" -> graft.sink.FooterStats(5L, 100L, Map.empty, Map.empty),
      "/tbl/data/u1/part-1.avro" -> graft.sink.FooterStats(-1L, 80L, Map.empty, Map.empty),
      "/tbl/data/u1/part-2.avro" -> graft.sink.FooterStats(-1L, 60L, Map.empty, Map.empty))
    // input_file_name() URI form on the counted side; part-2 absent = an
    // eager empty part file (no records grouped) → 0 rows → unstaged
    val counts = Map("file:///tbl/data/u1/part-1.avro" -> 7L)
    val merged = IceTableWriter.mergeReadBackCounts(stats, counts)
    assert(merged("/tbl/data/u1/part-0.parquet").rows === 5L)
    assert(merged("/tbl/data/u1/part-1.avro").rows === 7L)
    assert(merged("/tbl/data/u1/part-2.avro").rows === 0L)
    // dynamic-partition fan-out reuses ONE task's part-file name in every
    // partition dir — full-path keying must keep the counts apart (a
    // name-keyed merge silently cross-attached them)
    val partStats = Map(
      "/tbl/data/u1/p=1/part-0.avro" -> graft.sink.FooterStats(-1L, 10L, Map.empty, Map.empty),
      "/tbl/data/u1/p=2/part-0.avro" -> graft.sink.FooterStats(-1L, 10L, Map.empty, Map.empty))
    val partCounts = Map(
      "file:///tbl/data/u1/p=1/part-0.avro" -> 5L,
      "file:///tbl/data/u1/p=2/part-0.avro" -> 3L)
    val m2 = IceTableWriter.mergeReadBackCounts(partStats, partCounts)
    assert(m2("/tbl/data/u1/p=1/part-0.avro").rows === 5L)
    assert(m2("/tbl/data/u1/p=2/part-0.avro").rows === 3L)
  }

  test("optimistic commit: concurrent writers race on seq, none lost") {
    val dir = TestSpark.freshDir("t-race")
    val t = IceTable.create(dir, schema, TableMeta())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = (0 until 8).map { i =>
        new java.util.concurrent.Callable[Option[graft.table.Commit]] {
          // batchId -1 = non-stream commits (no replay fencing between them)
          def call() = t.log.commit(-1L, seq =>
            Commit(seq, -1L, s"c$i", 0L, 1), maxRetries = 50)
        }
      }
      val results = pool.invokeAll(tasks.asJava).asScala.map(_.get())
      assert(results.forall(_.isDefined))
      val commits = t.log.commits()
      assert(commits.map(_.seq) === (1L to 8L)) // dense, no gaps, no loss
      assert(commits.map(_.commitId).toSet.size === 8)
    } finally pool.shutdown()
  }

  test("branches are independent commit chains") {
    val dir = TestSpark.freshDir("t5")
    val main = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)), main, 0)
    val branch = IceTable.load(dir, "audit")
    IceTableWriter.append(spark, df((9L, "z", 9.0)), branch, 0)
    assert(main.read(spark).select("id").as[Long].collect().toSeq === Seq(1L))
    assert(branch.read(spark).select("id").as[Long].collect().toSeq === Seq(9L))
  }

  test("partition values are recorded and prune the scan") {
    val dir = TestSpark.freshDir("t6")
    val t = IceTable.create(dir, schema,
      TableMeta(partitionBy = Seq("truncate(id,10)", "name")))
    IceTableWriter.append(spark,
      df((1L, "a", 1.0), (11L, "a", 2.0), (12L, "b", 3.0)), t, 0)
    val c = t.log.commits().head
    assert(c.dataFiles.forall(_.partition.keySet === Set("id_trunc", "name")))
    val pruned = t.scan(spark, Some(pv => pv("id_trunc") == "10" && pv("name") == "a"))
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(11L))
  }

  test("oversized delete side falls back to a shuffle anti-join (bytes-based threshold)") {
    val dir = TestSpark.freshDir("t-delbytes")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    IceTableWriter.delta(spark, df((2L, "b2", 2.2)), Seq(2L).toDF("id"), t, 1)
    // inflate the recorded delete-file size past the broadcast budget —
    // the row count stays tiny, which is exactly the wide-composite-key
    // case a row-count threshold would mis-broadcast
    val seq = t.log.commits().find(_.deleteFiles.nonEmpty).get.seq
    val p = java.nio.file.Paths.get(t.log.root, f"v$seq%09d.json")
    val c = CommitLog.mapper.readValue(java.nio.file.Files.readAllBytes(p), classOf[Commit])
    val fat = c.copy(deleteFiles = c.deleteFiles.map(_.copy(bytes = 65L << 20)))
    java.nio.file.Files.write(p, CommitLog.mapper.writeValueAsBytes(fat))
    val read = t.read(spark)
    val plan = read.queryExecution.executedPlan.toString
    // the delete anti-join itself must not be broadcast (the inner
    // file→seq attach join is tiny and broadcast by design)
    val antiLine = plan.linesIterator.find(_.contains("LeftAnti")).getOrElse("")
    assert(antiLine.nonEmpty, s"no anti-join in plan:\n$plan")
    assert(!antiLine.contains("BroadcastHashJoin"),
      s"oversized delete side was still broadcast:\n$plan")
    val got = read.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2")))
  }

  test("small-file compaction packs tiny files, preserves content and time travel") {
    val dir = TestSpark.freshDir("t-binpack")
    val t = IceTable.create(dir, schema, TableMeta())
    // 4 tiny single-row commits + 1 genuinely large one
    (1 to 4).foreach(i => IceTableWriter.append(spark, df((i.toLong, s"v$i", i.toDouble)), t, i - 1))
    IceTableWriter.append(spark,
      (100L until 20100L).map(i => (i, s"big-payload-$i-${"x" * 40}", i.toDouble))
        .toDF("id", "name", "v").coalesce(1), t, 4)
    val before = t.planFiles(None)
    val bigPaths = t.log.commits().last.dataFiles.map(_.path).toSet
    assert(before.filter(f => bigPaths.contains(f._1.path)).forall(_._1.bytes > 64 * 1024))
    val packed = t.compactSmallFiles(spark, targetFileBytes = 64 * 1024)
    assert(packed >= 4, s"expected the 4 tiny files packed, got $packed")
    val after = t.planFiles(None)
    assert(after.size < before.size)
    // large files were not rewritten
    assert(bigPaths.subsetOf(after.map(_._1.path).toSet))
    // content identical
    assert(t.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      (1L to 4L) ++ (100L until 20100L))
    // time travel below the rewrite still sees the original files...
    val preRewrite = t.readAt(spark, 5)
    assert(preRewrite.count() === before.map(_._1.rows).sum)
    // ...and gc must NOT reclaim them (they back that time travel; it may
    // still sweep writer bookkeeping like _SUCCESS/.crc)
    val originals = before.map(_._1.path)
    t.gc(olderThanMs = 0L)
    assert(originals.forall(p => java.nio.file.Files.exists(localPath(p))))
    assert(t.readAt(spark, 5).count() === before.map(_._1.rows).sum)
    // a later FULL compaction truncates the window; gc then reclaims the
    // packed-away originals along with every other superseded file
    t.compact(spark)
    t.gc(olderThanMs = 0L)
    assert(originals.forall(p => !java.nio.file.Files.exists(localPath(p))))
    assert(t.read(spark).count() === 4 + 20000)
  }

  test("sorted compaction makes file bounds disjoint so range pruning tightens") {
    val dir = TestSpark.freshDir("t-sortcompact")
    val t = IceTable.create(dir, schema, TableMeta())
    // interleaved ids across commits: every file spans the whole range
    val rnd = new scala.util.Random(3)
    val shuffled = rnd.shuffle((1L to 3000L).toVector)
    shuffled.grouped(1000).zipWithIndex.foreach { case (ids, i) =>
      IceTableWriter.append(spark,
        ids.map(id => (id, s"n$id", id.toDouble)).toDF("id", "name", "v").repartition(4), t, i)
    }
    def prunedCount = t.planFiles(None, filePred =
      Some(f => FilePruning.mayContainRange(f, "id", Some("100"), Some("200")))).size
    val beforeFiles = t.planFiles(None).size
    assert(prunedCount === beforeFiles, "interleaved files should all overlap the range")
    t.compact(spark, sortBy = Seq("id"), sortPartitions = 8)
    val afterFiles = t.planFiles(None).size
    assert(prunedCount < afterFiles, s"sorted rewrite should prune: $prunedCount of $afterFiles")
    // content unchanged
    assert(t.read(spark).count() === 3000)
  }

  test("sorted compaction keeps its clustering on PARTITIONED tables") {
    val dir = TestSpark.freshDir("t-sortpart")
    val pschema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType),
      StructField("v", DoubleType)))
    val t = IceTable.create(dir, pschema, TableMeta(partitionBy = Seq("cat")))
    val rnd = new scala.util.Random(5)
    val rows = rnd.shuffle((1L to 2000L).toVector).map(i => (i, s"c${i % 2}", i.toDouble))
    rows.grouped(1000).zipWithIndex.foreach { case (g, i) =>
      IceTableWriter.append(spark, g.toDF("id", "cat", "v").repartition(4), t, i)
    }
    t.compact(spark, sortBy = Seq("id"), sortPartitions = 8)
    val live = t.planFiles(None)
    // within each partition value, file id-ranges must be (near) disjoint:
    // a range predicate prunes to a strict subset of that partition's files
    val c0Files = live.filter(_._1.partition.get("cat").contains("c0"))
    assert(c0Files.size > 1, "need multiple files per partition to test pruning")
    val hit = c0Files.count(f =>
      FilePruning.mayContainRange(f._1, "id", Some("100"), Some("200")))
    assert(hit < c0Files.size, s"no pruning within partition: $hit of ${c0Files.size}")
    assert(t.read(spark).count() === 2000)
  }

  test("delete-side size estimate: bytes, then rows, then constant (legacy entries)") {
    def fe(bytes: Long, rows: Long) = FileEntry("p", rows, 1, bytes = bytes)
    assert(IceTable.deleteSideBytes(fe(bytes = 123L, rows = 50000000L)) === 123L)
    // a legacy 50M-row delete file (no byte stats) must NOT look broadcastable
    assert(IceTable.deleteSideBytes(fe(bytes = -1L, rows = 50000000L))
      >= IceTable.DeleteBroadcastBytes)
    assert(IceTable.deleteSideBytes(fe(bytes = -1L, rows = -1L))
      === IceTable.UnknownDeleteFileBytes)
  }

  test("snapshot props: offsets + vtts land in the commit entry (K4/K11)") {
    val dir = TestSpark.freshDir("t7")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, 0,
      offsets = Map("topic-0" -> 42L), vtts = Some(1234567L))
    val c = t.log.commits().head
    assert(c.offsets === Map("topic-0" -> 42L))
    assert(c.vtts === Some(1234567L))
    assert(c.commitId.nonEmpty)
  }

  test("P2: a hot partition value is split across tasks (rebalance skew split)") {
    val dir = TestSpark.freshDir("t-skew")
    val pschema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType),
      StructField("payload", StringType)))
    val t = IceTable.create(dir, pschema, TableMeta(partitionBy = Seq("cat")))
    val conf = spark.conf
    val saved = conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864b")
    try {
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536b")
      // one hot cat (~3 MB of payload) + two cold ones
      val hot = spark.range(20000).select(col("id"),
        lit("hot").as("cat"),
        concat(lit("x" * 150), col("id").cast(StringType)).as("payload"))
      val cold = spark.range(20).select((col("id") + 100000L).as("id"),
        concat(lit("cold"), (col("id") % 2).cast(StringType)).as("cat"),
        lit("y").as("payload"))
      IceTableWriter.append(spark, hot.unionByName(cold), t, batchId = 0)
      val byPart = t.log.commits().head.dataFiles.groupBy(_.partition("cat"))
      // >1 task served the hot partition value; cold values stayed compact
      assert(byPart("hot").size > 1, s"hot files: ${byPart("hot").size}")
      assert(byPart.keySet === Set("hot", "cold0", "cold1"))
      assert(t.read(spark).count() === 20020)
    } finally conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", saved)
  }

  test("concurrent auto-create races settle on one table (IcebergWriterFactory.autoCreateTable)") {
    val dir = TestSpark.freshDir("t-create-race") + "/t"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[IceTable] {
          def call(): IceTable = IceTable.loadOrCreate(dir, schema, TableMeta(idColumns = Seq("id")))
        })
      }
      val tables = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      // exactly one schema version and one metadata file won the race
      assert(tables.head.schemaVersions.map(_._1) === Seq(1))
      assert(tables.forall(_.meta.idColumns === Seq("id")))
      // table is immediately usable by any racer's handle
      IceTableWriter.append(spark, df((1L, "a", 1.0)), tables.head, batchId = 0)
      assert(tables.last.read(spark).count() === 1)
    } finally pool.shutdown()
  }

  test("branch fast-forward publishes audited commits to main (write-audit-publish)") {
    val dir = TestSpark.freshDir("t-wap")
    val t = IceTable.create(dir, schema, TableMeta())
    val audit = IceTable.load(dir, "audit")
    IceTableWriter.append(spark, df((1L, "a", 1.0)), audit, batchId = 0)
    IceTableWriter.append(spark, df((2L, "b", 2.0)), audit, batchId = 1)
    assert(t.read(spark).count() === 0) // nothing published yet
    assert(t.fastForwardFrom("audit") === 2)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // incremental: only the new audit commit publishes
    IceTableWriter.append(spark, df((3L, "c", 3.0)), audit, batchId = 2)
    assert(t.fastForwardFrom("audit") === 1)
    assert(t.read(spark).count() === 3)
    // diverged target is rejected (not-an-ancestor)
    IceTableWriter.append(spark, df((9L, "z", 9.0)), t, batchId = 9)
    IceTableWriter.append(spark, df((4L, "d", 4.0)), audit, batchId = 3)
    assertThrows[IllegalArgumentException](t.fastForwardFrom("audit"))
  }

  test("fast-forward survives a zombie seq gap on the source branch (renumbered copy)") {
    val dir = TestSpark.freshDir("t-wap-zombie")
    val t = IceTable.create(dir, schema, TableMeta())
    val audit = IceTable.load(dir, "audit")
    IceTableWriter.append(spark, df((1L, "a", 1.0)), audit, batchId = 0)
    // a crashed duplicate-batch writer's zombie permanently claims the
    // next raw seq on the audit branch; the filtered history skips it
    val real = audit.log.commits().head
    val zombie = real.copy(seq = real.seq + 1, commitId = "zombie")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(audit.log.root, f"v${zombie.seq}%09d.json"),
      CommitLog.mapper.writeValueAsBytes(zombie))
    IceTableWriter.append(spark, df((2L, "b", 2.0)), audit, batchId = 1)
    assert(audit.log.commits().map(_.seq) === Seq(1L, 3L)) // the gap is real
    // pre-fix: require(seq == c.seq) could never hold past the gap —
    // 'advanced concurrently' forever on an idle target
    assert(t.fastForwardFrom("audit") === 2)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(t.log.commits().map(_.seq) === Seq(1L, 2L)) // contiguous on target
    // a second fast-forward after more audit commits still lines up
    IceTableWriter.append(spark, df((3L, "c", 3.0)), audit, batchId = 2)
    assert(t.fastForwardFrom("audit") === 1)
    assert(t.read(spark).count() === 3)
  }

  test("column min/max bounds prune file plans; result unchanged (data skipping)") {
    val dir = TestSpark.freshDir("t-stats")
    val t = IceTable.create(dir, schema, TableMeta())
    (0 until 3).foreach { i =>
      val rows = (i * 100 until (i + 1) * 100).map(j => (j.toLong, s"n$j", j * 1.0))
      IceTableWriter.append(spark, rows.toDF("id", "name", "v").coalesce(1), t, batchId = i.toLong)
    }
    val total = t.planFiles(None).size
    assert(total === 3)
    val c0 = t.log.commits().head.dataFiles.head
    assert(c0.min("id") === "0" && c0.max("id") === "99") // footer bounds recorded
    assert(c0.min("name") === "n0") // string bounds too
    val pruner: FileEntry => Boolean =
      f => FilePruning.mayContainRange(f, "id", Some("150"), Some("160"))
    assert(t.planFiles(None, filePred = Some(pruner)).size === 1) // 2 of 3 skipped
    val got = t.scan(spark, None, filePred = Some(pruner))
      .filter(col("id").between(150, 160)).select("id").as[Long].collect().sorted
    assert(got.toSeq === (150L to 160L))
  }

  test("range pruner: string mode, missing bounds, and boundary inclusivity") {
    val f = FileEntry("p", 10, 1, min = Map("name" -> "ccc", "id" -> "100"),
      max = Map("name" -> "mmm", "id" -> "200"))
    import FilePruning.mayContainRange
    // string (lexicographic) mode
    assert(mayContainRange(f, "name", Some("aaa"), Some("bbb"), numeric = false) === false)
    assert(mayContainRange(f, "name", Some("ddd"), Some("eee"), numeric = false) === true)
    assert(mayContainRange(f, "name", Some("mmm"), None, numeric = false) === true) // inclusive max
    assert(mayContainRange(f, "name", Some("mmn"), None, numeric = false) === false)
    // numeric boundaries are inclusive
    assert(mayContainRange(f, "id", Some("200"), Some("300")) === true)
    assert(mayContainRange(f, "id", Some("201"), Some("300")) === false)
    assert(mayContainRange(f, "id", None, Some("100")) === true)
    assert(mayContainRange(f, "id", None, Some("99")) === false)
    // column without recorded bounds can never be skipped
    assert(mayContainRange(f, "other", Some("1"), Some("2")) === true)
    // numeric mode against a string column's bounds must degrade to
    // "may contain" (conservative), never throw at plan time
    assert(mayContainRange(f, "name", Some("1"), Some("2"), numeric = true) === true)
    assert(mayContainRange(f, "name", Some("1"), None, numeric = true) === true)
  }

  test("commit-log checkpoints consolidate history; reads = checkpoint + tail") {
    val dir = TestSpark.freshDir("t-ckpt")
    val log = new CommitLog(dir, checkpointInterval = 3)
    (0 until 7).foreach { i =>
      log.commit(i.toLong, seq => Commit(seq, i.toLong, s"c$i", i * 1000L, 1,
        dataFiles = Seq(FileEntry(s"f$i", i.toLong, 1))))
    }
    val names = new java.io.File(dir).list().toSeq
    assert(names.count(_.startsWith("ckpt-")) === 2) // at seq 3 and 6
    val all = log.commits()
    assert(all.map(_.seq) === (1L to 7L))
    assert(all.map(_.dataFiles.head.path) === (0 until 7).map(i => s"f$i"))
    // replay fence still works from the fast path
    assert(log.commit(3L, seq => Commit(seq, 3L, "dup", 0L, 1)).isEmpty)
    assert(log.lastBatchId() === Some(6L))
    assert(log.lastSeq() === 7L)
  }

  test("concurrent mixed stress: same-batch racers + maintenance + mid-stress checkpoints") {
    // The zombie-driver scenario at full contention: for each batchId,
    // three committers race the SAME batch (an old driver's in-flight
    // commit racing a new driver's replay) while a maintenance commit
    // (batchId -1, compaction-shaped) runs concurrently, with a small
    // checkpointInterval so consolidation + retention sweeps fire in the
    // middle of the racing. Batch ids still arrive in order across
    // races — the stream contract the fence's monotonicity rule assumes.
    // Invariants: every batchId lands in commits() EXACTLY once (racers
    // may all see success — idempotent — but readers must never see a
    // duplicate), every maintenance commit lands, seqs are unique and
    // increasing, and a post-stress replay of any batch is fenced.
    mixedStress(TestSpark.freshDir("t-stress-mixed"))
  }

  test("concurrent mixed stress on the check-then-act Hadoop branch (clusterfs:)") {
    // same schedule where the claim create is NOT atomic: arbitration
    // rests entirely on the stripe lock + read-back verify
    spark.sparkContext.hadoopConfiguration
      .set("fs.clusterfs.impl", classOf[graft.ClusterTestFs].getName)
    mixedStress(s"clusterfs:${TestSpark.freshDir("t-stress-clusterfs")}")
  }

  private def mixedStress(dir: String): Unit = {
    val log = new CommitLog(dir, checkpointInterval = 7)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      (0 until 20).foreach { b =>
        val barrier = new java.util.concurrent.CyclicBarrier(4)
        val racers = (0 until 3).map { r =>
          new java.util.concurrent.Callable[Option[Commit]] {
            def call() = {
              barrier.await()
              log.commit(b.toLong, seq => Commit(seq, b.toLong, s"b$b-r$r", 0L, 1,
                dataFiles = Seq(FileEntry(s"f$b-r$r", 1L, 1))), maxRetries = 100)
            }
          }
        }
        val maint = new java.util.concurrent.Callable[Option[Commit]] {
          def call() = {
            barrier.await()
            log.commit(-1L, seq => Commit(seq, -1L, s"m$b", 0L, 1), maxRetries = 100)
          }
        }
        val results = pool.invokeAll((racers :+ maint).asJava).asScala.map(_.get())
        assert(results.last.isDefined, s"maintenance commit $b must land")
        assert(results.init.exists(_.isDefined), s"some racer of batch $b must win")
      }
      val commits = log.commits()
      val batchCounts = commits.filter(_.batchId >= 0).groupBy(_.batchId).view.mapValues(_.size)
      assert(batchCounts.toMap === (0L until 20L).map(_ -> 1).toMap,
        s"every batchId must appear exactly once: ${batchCounts.toMap}")
      assert(commits.count(_.batchId < 0) === 20, "all maintenance commits must land")
      val seqs = commits.map(_.seq)
      assert(seqs === seqs.sorted && seqs.distinct.size === seqs.size,
        "seqs must be unique and increasing")
      // the replay fence holds after the dust settles
      (0 until 20).foreach { b =>
        assert(log.commit(b.toLong, seq => Commit(seq, b.toLong, s"late$b", 0L, 1)).isEmpty,
          s"a post-stress replay of batch $b must be fenced")
      }
    } finally pool.shutdown()
  }

  test("a post-commit staging-cleanup failure never fails a published append") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.stagefailx.impl", classOf[StagingClearFailTestFs].getName)
    val dir = s"stagefailx:${TestSpark.freshDir("t-stage-fail")}/tbl"
    val t = IceTable.create(dir, schema, TableMeta())
    // the scheme FS throws on every _staging delete, so publish()'s
    // cleanup fails after the commit claim landed — the append must
    // still report success and the rows must be readable
    val c = IceTableWriter.append(spark, df((1L, "a", 1.0)), t, batchId = 0)
    assert(c.nonEmpty, "the commit landed; a failing marker cleanup must not unwind it")
    assert(t.read(spark).count() === 1)
    // the marker genuinely survived (the cleanup really failed) — the
    // staging grace sweep owns it from here
    val markers = graft.fs.ControlFs.walkPostOrder(dir)
      .filter(_.getPath.getName == IceTable.StagingMarker)
    assert(markers.nonEmpty, "injection missed: no surviving _staging marker")
    // and the replay fence still answers from the committed log
    assert(IceTableWriter.append(spark, df((2L, "b", 2.0)), t, batchId = 0).isEmpty)
  }

  test("a checkpoint failure after a successful claim never fails the commit") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.ckptfailx.impl", classOf[CkptFailTestFs].getName)
    val dir = TestSpark.freshDir("t-ckpt-fail")
    // interval 1: every commit tries to checkpoint; the scheme FS throws a
    // RuntimeException on any ckpt-* create — past checkpoint()'s own
    // IOException absorption, so only commit()'s guard stands between an
    // optimization failure and a spuriously failed (durably published)
    // commit
    val log = new CommitLog(s"ckptfailx:$dir", checkpointInterval = 1)
    val c = log.commit(0L, seq => Commit(seq, 0L, "c0", 0L, 1,
      dataFiles = Seq(FileEntry("f0", 1L, 1))))
    assert(c.nonEmpty,
      "the claim was durably published; a checkpoint failure must not fail the commit")
    assert(log.commits().map(_.batchId) === Seq(0L))
    // and the fence still sees the committed batch
    assert(log.commit(0L, seq => Commit(seq, 0L, "dup", 0L, 1)).isEmpty)
  }

  test("commit-log retention: entries two checkpoint generations old are swept, reads intact") {
    val dir = TestSpark.freshDir("t-ckpt-retention")
    val log = new CommitLog(dir, checkpointInterval = 2)
    // a crashed writer's tmp leftover, old enough to qualify for the sweep
    val orphanTmp = java.nio.file.Paths.get(dir, ".tmp-crashed-writer")
    java.nio.file.Files.write(orphanTmp, Array[Byte](1))
    java.nio.file.Files.setLastModifiedTime(orphanTmp,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    (0 until 12).foreach { i =>
      log.commit(i.toLong, seq => Commit(seq, i.toLong, s"c$i", i * 1000L, 1,
        dataFiles = Seq(FileEntry(s"f$i", i.toLong, 1))))
    }
    val names = new java.io.File(dir).list().toSeq
    // entries below (newest ckpt − 2·interval) and superseded checkpoints
    // are swept — pre-fix the directory grew one file per commit FOREVER
    // and every hot-path listing paid O(history)
    assert(!names.exists(_.matches("v0000000(0[1-8])\\.json")), s"stale entries kept: $names")
    assert(names.count(_.startsWith("ckpt-")) === 2, s"old checkpoints kept: $names")
    assert(!names.contains(".tmp-crashed-writer"), "crashed writer's tmp file not swept")
    // reads, fences, and seq claims are unaffected by the sweep
    val all = log.commits()
    assert(all.map(_.seq) === (1L to 12L))
    assert(all.map(_.dataFiles.head.path) === (0 until 12).map(i => s"f$i"))
    assert(log.lastBatchId() === Some(11L))
    assert(log.lastSeq() === 12L)
    assert(log.commit(5L, seq => Commit(seq, 5L, "dup", 0L, 1)).isEmpty)
  }

  test("P5: write.target-file-size-bytes rolls files via the previous commit's stats") {
    val dir = TestSpark.freshDir("t-filesize")
    val t = IceTable.create(dir, schema,
      TableMeta(props = Map("write.target-file-size-bytes" -> "4096")))
    val rows = (1L to 4000L).map(i => (i, s"name_$i", i * 1.5))
    // first commit: no estimate yet — writes uncapped, seeds (rows, bytes)
    IceTableWriter.append(spark, rows.toDF("id", "name", "v").coalesce(1), t, batchId = 0)
    val c0 = t.log.commits().head
    assert(c0.dataFiles.size === 1)
    assert(c0.dataFiles.forall(f => f.bytes > 0 && f.rows === 4000L))
    // second commit: rows-per-4KB estimated from commit 0 → multiple files
    IceTableWriter.append(spark, rows.toDF("id", "name", "v").coalesce(1), t, batchId = 1)
    val c1 = t.log.commits()(1)
    assert(c1.dataFiles.size > 1, s"expected rolled files, got ${c1.dataFiles.size}")
    assert(t.read(spark).count() === 8000L)
  }

  test("P5: ORC file format end-to-end (write.format.default parity)") {
    val dir = TestSpark.freshDir("t-orc")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id"), format = "orc"))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    IceTableWriter.delta(spark, df((2L, "b2", 2.2)), Seq(2L).toDF("id"), t, 1)
    val c = t.log.commits().head
    assert(c.dataFiles.forall(_.path.endsWith(".orc")))
    // ORC footers carry stats like parquet: rows + column bounds recorded
    assert(c.dataFiles.forall(_.rows > 0L) && c.dataFiles.map(_.rows).sum === 2L)
    assert(c.dataFiles.map(_.min("id").toLong).min === 1L)
    assert(c.dataFiles.map(_.max("id").toLong).max === 2L)
    assert(c.dataFiles.map(_.min("name")).min === "a")
    assert(c.dataFiles.map(_.max("name")).max === "b")
    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2")))
  }

  test("P5: ORC bounds drive data-skipping exactly like parquet bounds") {
    val dir = TestSpark.freshDir("t-orc-skip")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id"), format = "orc"))
    // two disjoint id ranges in separate commits → separate files
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    IceTableWriter.append(spark, df((100L, "x", 1.0), (200L, "y", 2.0)), t, 1)
    val pruned = t.scan(spark, None,
      filePred = Some(f => FilePruning.mayContainRange(f, "id", Some("50"), None)))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq === Seq(100L, 200L))
    // and the estimate seeder sees ORC rows (byte-rolling works for ORC)
    assert(t.log.commits().flatMap(_.dataFiles).forall(f => f.rows > 0 && f.bytes > 0))
  }

  test("P5: ORC truncated string stats (>1024B values) never record null bounds") {
    // ORC truncates string statistics per side past 1024 bytes — the
    // exact min/max return null independently; a null bound in the commit
    // log would crash the pruner at plan time
    val dir = TestSpark.freshDir("t-orc-trunc")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id"), format = "orc"))
    IceTableWriter.append(spark, df((1L, "a" * 2000, 1.0), (2L, "b", 2.0)).coalesce(1), t, 0)
    val files = t.log.commits().head.dataFiles
    assert(files.forall(f => (f.min.values ++ f.max.values).forall(_ != null)),
      "null bound recorded from truncated ORC statistics")
    // and scanning with a range predicate on the affected column still works
    val got = t.scan(spark, None,
      filePred = Some(f => FilePruning.mayContainRange(f, "name", Some("a"), None, numeric = false)))
    assert(got.count() === 2L)
  }

  test("P5: avro format is wired but needs the spark-avro module (documented boundary)") {
    // the reference writes parquet/ORC/avro symmetrically
    // (data/Utilities.java:162-167); Spark treats avro as an external
    // datasource module, absent from this environment — the engine
    // surfaces Spark's own actionable error rather than corrupting state
    val dir = TestSpark.freshDir("t-avro")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id"), format = "avro"))
    val e = intercept[Exception] {
      IceTableWriter.append(spark, df((1L, "a", 1.0)), t, 0)
    }
    assert(e.getMessage.contains("avro"), s"unexpected error: ${e.getMessage}")
    assert(t.log.commits().isEmpty, "failed write must not publish a commit")
  }

  test("time travel: readAt(seq) reproduces an earlier snapshot") {
    val dir = TestSpark.freshDir("t9")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, 0)
    IceTableWriter.delta(spark, df((1L, "a2", 1.1)), Seq(1L).toDF("id"), t, 1)
    assert(t.readAt(spark, 1).select("name").as[String].collect().toSeq === Seq("a"))
    assert(t.readAt(spark, 2).select("name").as[String].collect().toSeq === Seq("a2"))
  }

  test("write.distribution-mode drives pre-write clustering (none fans out, hash clusters)") {
    import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType}
    val pschema = StructType(Seq(StructField("id", LongType), StructField("cat", StringType)))
    val rows = (1L to 200L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "cat").repartition(4) // interleaved partition values in 4 tasks
    def fileCount(mode: String): Int = {
      val dir = TestSpark.freshDir(s"tdm-$mode")
      val t = IceTable.create(dir, pschema,
        TableMeta(partitionBy = Seq("cat"), props = Map("write.distribution-mode" -> mode)))
      IceTableWriter.append(spark, rows, t, 0)
      val files = t.planFiles(None)
      // content identical under every mode
      assert(t.read(spark).count() === 200L)
      files.size
    }
    val none = fileCount("none")
    val hash = fileCount("hash")
    // none: every task writes every partition value it holds (≈ tasks × 2);
    // hash: rebalance clusters each value into few tasks
    assert(none > hash, s"none=$none should fan out more files than hash=$hash")
    assert(hash <= 4, s"hash clustering produced $hash files for 2 partition values")
    // range mode writes and reads back correctly too
    assert(fileCount("range") >= 2)
    // unknown mode fails loudly at write time
    val bad = TestSpark.freshDir("tdm-bad")
    val tb = IceTable.create(bad, pschema,
      TableMeta(partitionBy = Seq("cat"), props = Map("write.distribution-mode" -> "mystery")))
    val e = intercept[IllegalArgumentException] {
      IceTableWriter.append(spark, rows, tb, 0)
    }
    assert(e.getMessage.contains("distribution-mode"))
  }

  test("bloom-filter table property embeds a parquet bloom; reads stay exact") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def blooms(dir: String): Seq[(String, Boolean)] = {
      val t = IceTable.load(dir)
      t.planFiles(None).flatMap { case (f, _) =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), new org.apache.hadoop.conf.Configuration()))
        try r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala.map { c =>
            (c.getPath.toDotString, r.getBloomFilterDataReader(b).readBloomFilter(c) != null)
          }
        }.toSeq
        finally r.close()
      }
    }
    val rows = (1L to 2000L).map(i => (i, s"name_$i", i.toDouble)).toDF("id", "name", "v")

    val plain = TestSpark.freshDir("tb0")
    val t0 = IceTable.create(plain, schema, TableMeta())
    IceTableWriter.append(spark, rows.coalesce(1), t0, 0)
    assert(blooms(plain).forall(!_._2), "no bloom expected without the property")

    val dir = TestSpark.freshDir("tb1")
    val t1 = IceTable.create(dir, schema, TableMeta(props = Map(
      IceTableWriter.BloomPropPrefix + "id" -> "true")))
    IceTableWriter.append(spark, rows.coalesce(1), t1, 0)
    val byCol = blooms(dir).groupBy(_._1)
    assert(byCol("id").forall(_._2), "id must carry a bloom filter")
    assert(byCol("name").forall(!_._2), "unlisted columns must not pay for blooms")
    // point lookup through the bloom-filtered file stays exact
    val hit = t1.read(spark).filter(col("id") === 1234L).select("name").as[String].collect()
    assert(hit.toSeq === Seq("name_1234"))
    assert(t1.read(spark).filter(col("id") === -5L).count() === 0L)
  }

  test("compression-codec table property drives new-file codecs; mixed codecs read fine") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def codecs(t: IceTable): Set[String] =
      t.planFiles(None).flatMap { case (f, _) =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), new org.apache.hadoop.conf.Configuration()))
        try r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name())).toSet
        finally r.close()
      }.toSet
    val dir = TestSpark.freshDir("t-codec")
    val t = IceTable.create(dir, schema, TableMeta(props = Map(
      IceTableWriter.CompressionProp -> "zstd")))
    IceTableWriter.append(spark, df((1L, "a", 1.0)).coalesce(1), t, 0)
    assert(codecs(t) === Set("ZSTD"))
    // overlay switches NEW files only; the zstd file reads back unchanged
    val t2 = t.withWriteProps(Map(IceTableWriter.CompressionProp -> "snappy"))
    IceTableWriter.append(spark, df((2L, "b", 2.0)).coalesce(1), t2, 1)
    assert(codecs(t2) === Set("ZSTD", "SNAPPY"))
    assert(t2.read(spark).count() === 2L)
  }

  test("snapshots/files metadata tables reflect the commit log without opening data") {
    val dir = TestSpark.freshDir("t9m")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)).coalesce(1), t, 0) // seq 1
    IceTableWriter.delta(spark, df((2L, "b2", 2.2)).coalesce(1), Seq(2L).toDF("id"), t, 1) // seq 2
    t.compact(spark) // seq 3: replace

    val snaps = t.snapshots(spark)
      .select("seq", "operation", "added_rows", "delete_files")
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(snaps.map(s => (s._1, s._2)) === Seq((1L, "append"), (2L, "overwrite"), (3L, "replace")))
    assert(snaps(0)._3 === 2L) // two rows appended
    assert(snaps(1)._4 === 1L) // one equality-delete file
    assert(snaps(2)._3 === 2L) // rewrite re-adds current state (a, b2)

    // files view is the LIVE plan: only the rewrite's output remains
    val files = t.filesMeta(spark)
      .select("seq", "rows", "format").as[(Long, Long, String)].collect().toSeq
    assert(files.forall(_._1 === 3L), s"live files must all come from the rewrite: $files")
    assert(files.map(_._2).sum === 2L)
    assert(files.forall(_._3 === "parquet"))
    // bounds ride through: id min/max over live files span 1..2
    val bounds = t.filesMeta(spark)
      .select(element_at(col("lower_bounds"), "id").cast("long"),
        element_at(col("upper_bounds"), "id").cast("long"))
      .as[(Long, Long)].collect()
    assert(bounds.map(_._1).min === 1L && bounds.map(_._2).max === 2L)
  }

  test("readIncremental returns only the window's added rows; rewrites are skipped") {
    val dir = TestSpark.freshDir("t9b")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, 0) // seq 1
    IceTableWriter.append(spark, df((2L, "b", 2.0)), t, 1) // seq 2
    // delta in-window: upserts id 2 (delete key + new row)      seq 3
    IceTableWriter.delta(spark, df((2L, "b2", 2.2)), Seq(2L).toDF("id"), t, 2)
    val seqs = t.log.commits().map(_.seq)
    assert(seqs === Seq(1L, 2L, 3L))
    // window (1, 3]: commit 2's append + commit 3's upsert; commit 3's
    // delete removes the WINDOW's earlier copy of id 2 (seq rule)
    val inc = t.readIncremental(spark, 1L, 3L)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(inc === Set((2L, "b2")))
    // full window from zero = current state reconstruction for appends
    assert(t.readIncremental(spark, 0L, 3L).select("id", "name")
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b2")))
    // a compaction rewrite moves bytes, not rows: its commit is invisible
    t.compact(spark) // seq 4
    assert(t.readIncremental(spark, 3L, t.log.commits().last.seq).count() === 0L)
    // empty window
    assert(t.readIncremental(spark, 1L, 1L).count() === 0L)
  }

  test("dynamic partition overwrite replaces only touched partitions; time travel intact") {
    import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType}
    val pschema = StructType(Seq(StructField("id", LongType), StructField("cat", StringType)))
    val dir = TestSpark.freshDir("t-ovw")
    val t = IceTable.create(dir, pschema, TableMeta(partitionBy = Seq("cat")))
    IceTableWriter.append(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "cat"), t, 0)
    // overwrite partition "a" only
    IceTableWriter.overwritePartitions(spark,
      Seq((10L, "a")).toDF("id", "cat"), t, 1)
    val got = t.read(spark).as[(Long, String)].collect().toSet
    assert(got === Set((10L, "a"), (3L, "b"))) // b untouched, a replaced
    // time travel below the overwrite still sees the old partition
    assert(t.readAt(spark, 1).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "a"), (3L, "b")))
    // empty batch = no-op, no commit published
    assert(IceTableWriter.overwritePartitions(spark,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pschema),
      t, 2).isEmpty)
    assert(t.log.commits().size === 2)
    // unpartitioned table: overwrite replaces the whole state
    val u = IceTable.create(TestSpark.freshDir("t-ovw-u"), schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "x", 1.0)), u, 0)
    IceTableWriter.overwritePartitions(spark, df((2L, "y", 2.0)), u, 1)
    assert(u.read(spark).select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("fsck: healthy table is empty; missing and corrupted files are reported") {
    val dir = TestSpark.freshDir("t9f")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)).coalesce(1), t, 0)
    IceTableWriter.append(spark, df((2L, "b", 2.0)).coalesce(1), t, 1)
    assert(t.fsck(spark).count() === 0L)
    // delete one referenced file → missing; truncate the other → size-mismatch
    val paths = t.planFiles(None).map(_._1.path).sorted
    java.nio.file.Files.delete(localPath(paths.head))
    val raf = new java.io.RandomAccessFile(localPath(paths.last).toFile, "rw")
    try raf.setLength(raf.length() - 1) finally raf.close()
    val problems = t.fsck(spark).select("file_path", "problem")
      .as[(String, String)].collect().toMap
    assert(problems(paths.head) === "missing")
    assert(problems(paths.last) === "size-mismatch")
  }

  test("merge: source rows upsert by key, deleteWhen removes, ambiguous source rejected") {
    val dir = TestSpark.freshDir("t9mg")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), t, 0)
    // 1 updated, 3 deleted, 4 inserted, 2 untouched
    val src = Seq((1L, "a2", 1.1, false), (3L, "c", 0.0, true), (4L, "d", 4.0, false))
      .toDF("id", "name", "v", "del")
    t.merge(spark, src, deleteWhen = Some(col("del") === true), batchId = 1)
    val got = t.read(spark).select("id", "name").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a2"), (2L, "b"), (4L, "d")))
    val dup = Seq((7L, "x", 0.0), (7L, "y", 0.0)).toDF("id", "name", "v")
    val e = intercept[IllegalArgumentException] { t.merge(spark, dup, batchId = 2) }
    assert(e.getMessage.contains("multiple rows"))
    // validation failure must not have committed anything
    assert(t.log.commits().size === 2)
  }

  test("merge evaluates its source once: a non-deterministic source's delete keys match its rows") {
    val dir = TestSpark.freshDir("t_merge_pin")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    // every evaluation of the source draws fresh keys
    val freshKey = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextLong())
      .asNondeterministic()
    val source = spark.range(0, 50, 1, 4)
      .select(freshKey().as("id"), lit("n").as("name"), col("id").cast("double").as("v"))
    val c = t.merge(spark, source, batchId = 1L).get
    def keys(files: Seq[FileEntry]) =
      spark.read.parquet(files.map(_.path): _*).select("id").as[Long].collect().toSet
    val written = keys(c.dataFiles)
    assert(written.size === 50)
    assert(keys(c.deleteFiles) === written, "delete keys come from the same evaluation as the rows")
    assert(t.read(spark).select("id").as[Long].collect().toSet === written)
  }

  test("readChanges emits un-netted insert/delete events in commit order; rewrites skipped") {
    val dir = TestSpark.freshDir("t9c")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, 0) // seq 1
    // seq 2: upsert id 1 → delete key + new row (both must appear)
    IceTableWriter.delta(spark, df((1L, "a2", 1.1)), Seq(1L).toDF("id"), t, 1)
    val ch = t.readChanges(spark, 0L, 2L)
      .select("id", "name", "_change_type", "_commit_seq")
      .as[(Long, Option[String], String, Long)].collect().toSet
    assert(ch === Set(
      (1L, Some("a"), "insert", 1L),
      (1L, Some("a2"), "insert", 2L),
      (1L, None, "delete", 2L))) // delete carries the KEY; name is null
    // window below the delta: only the first insert
    assert(t.readChanges(spark, 0L, 1L).count() === 1L)
    // a rewrite contributes no change events
    t.compact(spark) // seq 3
    assert(t.readChanges(spark, 2L, t.log.commits().last.seq).count() === 0L)
  }

  test("readChanges retracts replaced rows of a partition overwrite with full payloads") {
    import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType}
    val pschema = StructType(Seq(StructField("id", LongType), StructField("cat", StringType)))
    val dir = TestSpark.freshDir("t9co")
    val t = IceTable.create(dir, pschema, TableMeta(partitionBy = Seq("cat")))
    IceTableWriter.append(spark,
      Seq((1L, "a"), (3L, "b")).toDF("id", "cat"), t, 0) // seq 1
    IceTableWriter.overwritePartitions(spark,
      Seq((10L, "a")).toDF("id", "cat"), t, 1) // seq 2: replaces partition a
    val ch = t.readChanges(spark, 1L, 2L)
      .select("id", "cat", "_change_type", "_commit_seq")
      .as[(Long, String, String, Long)].collect().toSet
    // the overwrite inserts its new row AND retracts the replaced row —
    // full payload, at the overwrite's commit seq; partition b untouched
    assert(ch === Set((10L, "a", "insert", 2L), (1L, "a", "delete", 2L)))
  }

  test("overwrite retractions skip rows already equality-deleted before the overwrite") {
    import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType}
    val pschema = StructType(Seq(StructField("id", LongType), StructField("cat", StringType)))
    val dir = TestSpark.freshDir("t9cod")
    val t = IceTable.create(dir, pschema, TableMeta(idColumns = Seq("id"), partitionBy = Seq("cat")))
    IceTableWriter.append(spark,
      Seq((1L, "a"), (2L, "a")).toDF("id", "cat"), t, 0) // seq 1
    // seq 2: equality-delete id 1 — it is no longer live after this commit
    IceTableWriter.delta(spark,
      Seq((4L, "b")).toDF("id", "cat"), Seq(1L).toDF("id"), t, 1)
    // seq 3: overwrite partition a (replaces the seq-1 file holding ids 1 and 2)
    IceTableWriter.overwritePartitions(spark,
      Seq((10L, "a")).toDF("id", "cat"), t, 2)
    val ch = t.readChanges(spark, 2L, 3L)
      .select("id", "cat", "_change_type", "_commit_seq")
      .as[(Long, String, String, Long)].collect().toSet
    // id 1 was dead before the overwrite: a second full-row delete event
    // would make a downstream replay double-delete it — only the
    // still-live id 2 is retracted
    assert(ch === Set((10L, "a", "insert", 3L), (2L, "a", "delete", 3L)))
  }

  test("gc removes files superseded by compaction, keeps live state readable") {
    val dir = TestSpark.freshDir("t10")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    IceTableWriter.delta(spark, df((2L, "b2", 2.2)), Seq(2L).toDF("id"), t, 1)
    def parquetFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet"))
    }
    t.gc(olderThanMs = 0L) // only writer bookkeeping (_SUCCESS/.crc) is orphaned pre-compaction
    val before = parquetFiles()
    assert(t.read(spark).count() === 2)
    t.compact(spark)
    t.gc(olderThanMs = 0L) // pre-compaction data/delete files now unreachable
    assert(parquetFiles() < before + 2) // old files gone despite compaction adding new ones
    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2")))
  }

  test("compact rewrites state (applies accumulated deletes)") {
    val dir = TestSpark.freshDir("t8")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    IceTableWriter.delta(spark, df((2L, "b2", 2.2)), Seq(2L).toDF("id"), t, 1)
    t.compact(spark)
    val last = t.log.commits().last
    assert(last.props.get("compaction").contains("true"))
    assert(last.deleteFiles.isEmpty)
    val got = t.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2")))
  }

  test("an empty append commits ZERO files (eagerly staged empty part files are unstaged)") {
    val dir = TestSpark.freshDir("t_empty_append")
    val t = IceTable.create(dir, schema, TableMeta())
    // the clean-batch DLQ shape: an empty frame written every trigger —
    // each commit must carry offsets/batch fencing but NO file entries
    val c = IceTableWriter.append(spark, df().limit(0), t, batchId = 0,
      offsets = Map("t-0" -> 5L))
    assert(c.isDefined, "empty append still publishes the commit (offsets + fence)")
    assert(c.get.dataFiles.isEmpty, s"empty append staged files: ${c.get.dataFiles}")
    assert(t.read(spark).count() === 0)
    // and an empty delete side stages no delete files either
    val d = IceTableWriter.delta(spark, df((1L, "a", 1.0)), df().select(col("id")), t, batchId = 1)
    assert(d.get.deleteFiles.isEmpty)
    assert(t.read(spark).count() === 1)
  }

  test("commit round-trip unboxes small offsets and vtts (Jackson erased-generic guard)") {
    val dir = TestSpark.freshDir("t_jackson")
    val t = IceTable.create(dir, schema, TableMeta())
    // values small enough to fit in Int — without the contentAs
    // annotation they deserialize as boxed Integer inside
    // Map[String, Long]/Option[Long] and the unboxing below throws
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t, batchId = 0,
      offsets = Map("t-0" -> 7L, "t-1" -> 9L), vtts = Some(1234567L))
    val c = t.log.commits().last
    assert(c.offsets("t-0") + 1L === 8L)
    assert(c.offsets("t-1") + 1L === 10L)
    assert(c.vtts.map(_ + 1L) === Some(1234568L))
    // snapshots() reads the same deserialized commits — must not throw
    val vttsCol = t.snapshots(spark).orderBy("seq").collect().last.getLong(10)
    assert(vttsCol === 1234567L)
  }

  test("overwritePartitions with an EMPTY batch never truncates an unpartitioned table") {
    val dir = TestSpark.freshDir("t_empty_ow")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    // Spark stages one zero-row part file for an empty unpartitioned
    // write; counting it as touching the empty partition tuple would
    // supersede every live file
    val commit = IceTableWriter.overwritePartitions(spark, df().limit(0), t, batchId = 1)
    assert(commit.isEmpty, "empty overwrite must publish no commit")
    val got = t.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L), "live rows survived the empty overwrite")
  }

  test("merge coerces a type-mismatched source to the table schema (no poisoned files)") {
    val dir = TestSpark.freshDir("t_merge_coerce")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    // id arrives as STRING (the parsed-from-JSON shape), v as INT
    val source = Seq(("2", "b2", 22), ("3", "c", 33)).toDF("id", "name", "v")
    t.merge(spark, source, batchId = 1L)
    val got = t.read(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "a", 1.0), (2L, "b2", 22.0), (3L, "c", 33.0)))
    // a value that CANNOT coerce fails the merge loudly instead of
    // committing null-poisoned files
    val bad = Seq(("not-a-number", "x", 1)).toDF("id", "name", "v")
    val e = intercept[Exception](t.merge(spark, bad, batchId = 2L))
    assert(e.getMessage != null)
    // the failed merge published nothing
    assert(t.read(spark).count() === 3)
  }

  test("rewrite validation aborts when an equality delete lands after the scan seq") {
    val dir = TestSpark.freshDir("t_conflict")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0) // seq 1
    val scanSeq = t.log.lastSeq()
    // concurrent writer's delta (delete id 2) lands AFTER the scan
    IceTableWriter.delta(spark, df(), Seq(2L).toDF("id"), t, 1) // seq 2
    val e = intercept[CommitConflictException] {
      IceTableWriter.rewrite(spark, t.read(spark).limit(1), t,
        removedPaths = Nil, validateFromSeq = Some(scanSeq))
    }
    assert(e.getMessage.contains("equality-delete"))
    // nothing was published by the aborted rewrite
    assert(t.log.lastSeq() === scanSeq + 1)
    // compactSmallFiles' guard now sees the delete and the full-compact
    // path applies it — end state stays correct
    t.compactSmallFiles(spark, targetFileBytes = 1L << 20)
    val got = t.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L))
  }

  test("K7: replayed envelopes dedup within a commit AND across commits") {
    val dir = TestSpark.freshDir("t_k7_dedup")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    val f = t.log.commits().last.dataFiles.head
    // within-commit arm: same staged path listed twice in one commit —
    // the commit builder keeps one
    val c = t.log.commit(1L, seq => graft.table.Commit(
      seq = seq, batchId = 1L, commitId = "k7", timestampMs = 0L,
      schemaVersion = t.currentSchemaVersion, dataFiles = Seq(f, f)))
    assert(c.get.dataFiles.size === 1, "commit builder must drop the duplicate path")
    assert(t.log.commits().last.dataFiles.size === 1)
    // across-commits arm: the replay commit re-listed a file commit 1
    // already owns — planning attributes the path to its FIRST commit,
    // so the replay adds NOTHING (before this guard the seq-attach join
    // MULTIPLIED the file's rows: read twice x joined twice = 4 copies)
    assert(t.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val plan = t.filesMeta(spark).select("file_path", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(plan.map(_._1).distinct.length === plan.length, "each path planned once")
    assert(plan.forall(_._2 === 1L), "replayed path attributed to its first commit")
    // incremental/changelog views agree: the replay window carries no rows
    assert(t.readIncremental(spark, fromSeq = 1L, toSeq = 2L).count() === 0)
    assert(t.readChanges(spark, fromSeq = 1L, toSeq = 2L).count() === 0)
  }

  test("K7 delete arm: a replayed equality-delete file keeps its ORIGINAL seq") {
    val dir = TestSpark.freshDir("t_k7_del")
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0) // seq 1
    IceTableWriter.delta(spark, df(), Seq(2L).toDF("id"), t, 1)           // seq 2: delete id 2
    IceTableWriter.append(spark, df((2L, "b2", 22.0)), t, 2)              // seq 3: re-insert id 2
    val d = t.log.commits().find(_.deleteFiles.nonEmpty).get.deleteFiles.head
    // replayed envelope re-lists the delete file at a HIGHER seq — if the
    // replay's seq were used, the sequence rule (dseq > dataseq) would
    // swallow the seq-3 re-insert: silent data loss
    t.log.commit(3L, seq => Commit(
      seq = seq, batchId = 3L, commitId = "k7d", timestampMs = 0L,
      schemaVersion = t.currentSchemaVersion, deleteFiles = Seq(d)))
    val got = t.read(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2")), "re-inserted row survives the replayed delete")
    // changelog: exactly ONE delete event for id 2, not one per listing
    val dels = t.readChanges(spark, fromSeq = 0L, toSeq = t.log.lastSeq())
      .filter(col("_change_type") === "delete").collect()
    assert(dels.length === 1, s"one delete event, got ${dels.length}")
    assert(dels.head.getAs[Long]("_commit_seq") === 2L, "attributed to the original commit")
  }

  test("K7 compaction arm: a data file replayed AFTER compaction is not re-read") {
    val dir = TestSpark.freshDir("t_k7_compact")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0) // seq 1
    val f = t.log.commits().last.dataFiles.head
    t.compact(spark)                                                       // seq 2: rewrite
    // replayed envelope re-lists the pre-compaction file; its rows already
    // live in the rewrite's files, and the original still exists on disk
    // (kept for time travel until gc) — counting the replay as a first
    // listing would read them twice
    t.log.commit(5L, seq => Commit(
      seq = seq, batchId = 5L, commitId = "k7c", timestampMs = 0L,
      schemaVersion = t.currentSchemaVersion, dataFiles = Seq(f)))
    val got = t.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L), "no duplicated rows from the post-compaction replay")
    val paths = t.filesMeta(spark).select("file_path").as[String].collect()
    assert(paths.distinct.length === paths.length, "each path planned once")
  }

  test("rewrite validation aborts on a concurrent plain APPEND too (compaction lost-update)") {
    val dir = TestSpark.freshDir("t_conflict_append")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0) // seq 1
    val scanSeq = t.log.lastSeq()
    val planned = t.read(spark) // rewrite planned against seq-1 state
    // concurrent writer's append lands AFTER the scan; a compaction commit
    // would make liveCommits drop it — silently losing id 3
    IceTableWriter.append(spark, df((3L, "c", 3.0)), t, 1) // seq 2
    val e = intercept[CommitConflictException] {
      IceTableWriter.append(spark, planned, t, batchId = -1,
        compaction = true, validateFromSeq = Some(scanSeq))
    }
    assert(e.getMessage.contains("concurrent data commit"), e.getMessage)
    // compact()'s retry loop re-scans and the append survives the rewrite
    t.compact(spark)
    val got = t.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 3L), "concurrent append must survive compaction")
    // and the post-compaction live chain is the single rewrite commit
    assert(t.snapshots(spark).orderBy("seq").collect().last.getString(4) === "replace")
  }

  test("small-file rewrite tolerates a concurrent plain append; deletes/compactions still abort") {
    val dir = TestSpark.freshDir("t_smallfiles_append_ok")
    val t = IceTable.create(dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0) // seq 1
    IceTableWriter.append(spark, df((3L, "c", 3.0)), t, 1)                 // seq 2
    val scanSeq = t.log.lastSeq()
    val smallPaths = t.planFiles(None).map(_._1.path)
    val planned = t.read(spark).localCheckpoint() // rewrite planned at seq-2 state
    // a concurrent plain append lands after the scan — NOT a lost-update
    // hazard for a partial rewrite (live chain intact, removedPaths only
    // covers the scanned files), so the relaxed arm lets the commit through
    IceTableWriter.append(spark, df((4L, "d", 4.0)), t, 2) // seq 3
    val c = IceTableWriter.rewrite(spark, planned, t,
      removedPaths = smallPaths, props = Map("compaction-small" -> "true"),
      validateFromSeq = Some(scanSeq), allowConcurrentAppends = true)
    assert(c.nonEmpty, "plain append must not abort a small-file rewrite")
    val got = t.read(spark).orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L, 2L, 3L, 4L), "no rows lost or duplicated")
    // an equality delete after the scan still aborts even with the relaxed arm
    val t2dir = TestSpark.freshDir("t_smallfiles_del_abort")
    val t2 = IceTable.create(t2dir, schema, TableMeta(idColumns = Seq("id")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t2, 0)
    val scan2 = t2.log.lastSeq()
    val planned2 = t2.read(spark).localCheckpoint()
    IceTableWriter.delta(spark, df(), Seq(2L).toDF("id"), t2, 1)
    intercept[CommitConflictException] {
      IceTableWriter.rewrite(spark, planned2, t2, removedPaths = Nil,
        validateFromSeq = Some(scan2), allowConcurrentAppends = true)
    }
    // a chain-truncating full compaction after the scan also still aborts
    // (its data files would be superseded-then-resurrected by this commit)
    val t3dir = TestSpark.freshDir("t_smallfiles_compact_abort")
    val t3 = IceTable.create(t3dir, schema, TableMeta())
    IceTableWriter.append(spark, df((1L, "a", 1.0)), t3, 0)
    val scan3 = t3.log.lastSeq()
    val planned3 = t3.read(spark).localCheckpoint()
    t3.compact(spark)
    intercept[CommitConflictException] {
      IceTableWriter.rewrite(spark, planned3, t3, removedPaths = Nil,
        validateFromSeq = Some(scan3), allowConcurrentAppends = true)
    }
  }

  test("snapshots labels partition overwrites 'overwrite', not 'append'") {
    val dir = TestSpark.freshDir("t_ow_label")
    val t = IceTable.create(dir, schema, TableMeta(partitionBy = Seq("name")))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)), t, 0)
    IceTableWriter.overwritePartitions(spark, df((3L, "a", 3.0)), t, batchId = 1)
    val ops = t.snapshots(spark).orderBy("seq").collect().map(_.getString(4)).toSeq
    assert(ops === Seq("append", "overwrite"))
  }

  test("fsck verifies ORC footers too: tampered recorded row count is reported") {
    val dir = TestSpark.freshDir("t_fsck_orc")
    val t = IceTable.create(dir, schema, TableMeta(format = "orc"))
    IceTableWriter.append(spark, df((1L, "a", 1.0), (2L, "b", 2.0)).coalesce(1), t, 0)
    assert(t.fsck(spark).count() === 0, "healthy ORC table must audit clean")
    // tamper the recorded row count in the commit entry (bytes unchanged,
    // so only the footer check can catch it)
    val p = java.nio.file.Paths.get(dir, "_commits", "main")
    val listing = java.nio.file.Files.list(p)
    val entry =
      try listing.filter(_.getFileName.toString.matches("v\\d+\\.json")).findFirst().get()
      finally listing.close()
    val json = new String(java.nio.file.Files.readAllBytes(entry), "UTF-8")
    java.nio.file.Files.write(entry, json.replace("\"rows\":2", "\"rows\":3").getBytes("UTF-8"))
    val problems = IceTable.load(dir).fsck(spark).collect()
    assert(problems.exists(r => r.getString(3) == "row-mismatch"),
      s"ORC row tampering not detected: ${problems.mkString(",")}")
  }

  test("WIDE schema end-to-end (r18): 500 columns survive coercion codegen, the " +
    "writer, and a faithful read-back") {
    // production feeds routinely carry hundreds of columns; per-column
    // coercion expressions must not trip whole-stage codegen's method/
    // constant-pool limits (Spark splits generated code — this pins that
    // the split path actually engages and stays CORRECT at width)
    val n = 500
    val target = StructType(
      (0 until n).map { i =>
        StructField(s"c$i", i % 3 match {
          case 0 => LongType
          case 1 => StringType
          case _ => DoubleType
        })
      })
    // source arrives NARROWER-typed than the table (int where long,
    // int where double) so every third column exercises a real coercion
    val src = spark.range(0L, 200L, 1L, 4).select(
      (0 until n).map { i =>
        (i % 3 match {
          case 0 => col("id").cast("int")
          case 1 => concat(lit(s"s$i-"), col("id"))
          case _ => (col("id") + lit(i)).cast("int")
        }).as(s"c$i")
      }: _*)
    val coerced = graft.operators.Coercion.project(src, target)
    // names + types (nullability is the engine's to tighten on non-null input)
    assert(coerced.schema.map(f => (f.name, f.dataType)) ===
      target.map(f => (f.name, f.dataType)),
      "coercion must land exactly on the wide target")
    val dir = TestSpark.freshDir("t-wide")
    val t = IceTable.create(dir, target, TableMeta())
    IceTableWriter.append(spark, coerced, t, batchId = 0)
    val back = IceTable.load(dir).read(spark)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      target.map(f => (f.name, f.dataType)))
    assert(back.count() === 200L)
    // sentinel columns at both edges of the width, all three type classes
    // (c498 ≡ 0, c499 ≡ 1, c497 ≡ 2 mod 3)
    val r = back.filter(col("c0") === 7L)
      .select(col("c0"), col("c498"), col("c1"), col("c499"), col("c2"), col("c497"))
      .head()
    assert(r.getLong(0) === 7L)
    assert(r.getLong(1) === 7L)
    assert(r.getString(2) === "s1-7")
    assert(r.getString(3) === "s499-7")
    assert(r.getDouble(4) === 9.0)
    assert(r.getDouble(5) === 504.0)
  }

  test("partition fan-out guard (r18): one batch spanning more distinct partition " +
    "values than the threshold WARNs; at or below it stays silent") {
    // pure decision — the writer feeds it the already-collected file
    // entries, so pinning it here needs no thousand-partition stage
    import graft.sink.IceTableWriter.fanoutWarning
    assert(fanoutWarning(partitions = 1000, files = 1200, totalBytes = 1L << 20).isEmpty,
      "at the threshold the write is silent")
    assert(fanoutWarning(partitions = 3, files = 3, totalBytes = 300L).isEmpty)
    val w = fanoutWarning(partitions = 1001, files = 2000, totalBytes = 2000L * 4096)
    assert(w.isDefined, "past the threshold the guard must fire")
    assert(w.get.contains("1001") && w.get.contains("bucket[N]"),
      s"the warning must carry the fan-out and point at a coarser spec: ${w.get}")
    assert(w.get.contains("4096"), s"mean bytes/file must be computed: ${w.get}")
    // degenerate: a fan-out claim with zero files must not divide by zero
    assert(fanoutWarning(partitions = 1001, files = 0, totalBytes = 0L).isDefined)
  }
}
