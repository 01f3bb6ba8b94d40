package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.fs.ControlFs
import graft.table.{Commit, FileEntry, IceTable}
import graft.operators.PartitionTransforms

/** Footer-derived stats for one staged file (public shape so the
  * distributed stats job can use a product encoder).
  */
final case class FooterStats(
    rows: Long,
    bytes: Long,
    min: Map[String, String],
    max: Map[String, String])

/** Physical write path: stages immutable files under the table directory
  * and publishes them with one atomic commit-log entry.
  *
  * Mirrors the reference's writer stack (P2-P5):
  *  - partitioned fan-out (`data/PartitionedAppendWriter.java:32-55`) →
  *    Spark's native dynamic-partition `FileFormatWriter` via
  *    `.partitionBy(...)`; Spark sorts rows by partition columns within
  *    each task, so each task holds one open file at a time (better than
  *    the reference's always-fanout writer, cf. `docs/design.md:46`)
  *  - rolling target file size (`data/Utilities.java:165-167`) →
  *    `maxRecordsPerFile`
  *  - commit = append files + offsets + vtts in one atomic log entry (K9)
  *    with batchId replay guard (K8)
  *
  * Files are written once and referenced by path — no renames — so the
  * same design works on object storage at cluster scale.
  */
object IceTableWriter {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One batch landing in more than this many DISTINCT partition values
    * is almost always a partition-spec bug at scale (identity on a
    * high-cardinality column — the classic millions-of-small-files
    * trap): every commit multiplies the table's file count by the
    * fan-out, and no post-hoc compaction keeps up with a spec that
    * mints thousands of partitions per trigger. */
  private[graft] val FanoutWarnPartitions = 1000

  /** Pure decision for the post-write fan-out WARN (pinned in
    * IceTableSuite without staging thousands of files): fires when one
    * batch's committed files span more than `threshold` distinct
    * partition values. Computed from the already-collected file entries
    * — zero extra jobs. */
  private[graft] def fanoutWarning(
      partitions: Int,
      files: Int,
      totalBytes: Long,
      threshold: Int = FanoutWarnPartitions): Option[String] =
    if (partitions <= threshold) None
    else Some(
      s"partitioned write fanned out to $partitions distinct partition values in ONE " +
        s"batch ($files files, mean ${if (files > 0) totalBytes / files else 0L} " +
        "bytes/file) — a spec this fine multiplies the table's file count every " +
        "commit and listing/planning will not survive it at scale; prefer a coarser " +
        "transform (days/months, bucket[N]) on the hot column, or pre-aggregate the " +
        "feed (compactSmallFiles mitigates the files, not the partition count)")

  /** Coalesce floor (bytes) for the fan-out write's AQE rebalance — see
    * the writeFiles comment. Conf-tunable
    * (`spark.graft.write.fanout.minPartitionSize`); the 64 KB default
    * keeps parallelism-first behavior for small many-partition-value
    * batches while staying far below any sane advisory size, so cluster-
    * scale task sizing (bytes/parallelism vs advisory) is untouched. */
  val FanoutMinPartitionSizeConf = "spark.graft.write.fanout.minPartitionSize"
  val FanoutMinPartitionSizeDefault = "64KB"
  private val AqeMinPartitionSizeKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Run `body` (a partitioned fan-out write) with the AQE coalesce
    * minimum-partition-size floor lowered, restoring the session value
    * after. Session-wide conf for the job's duration: a concurrent
    * non-fan-out job planned in the window coalesces a little finer —
    * a perf-neutral race, never a correctness one.
    */
  private[sink] def withFanoutCoalesceFloor[T](spark: SparkSession)(body: => T): T = {
    val floor = spark.conf.getOption(FanoutMinPartitionSizeConf)
      .getOrElse(FanoutMinPartitionSizeDefault)
    val prev = spark.conf.getOption(AqeMinPartitionSizeKey)
    spark.conf.set(AqeMinPartitionSizeKey, floor)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(AqeMinPartitionSizeKey, v)
      case None    => spark.conf.unset(AqeMinPartitionSizeKey)
    }
  }

  /** Table-property prefix enabling a per-column parquet bloom filter
    * (`write.parquet.bloom-filter-enabled.column.<col> = true`). */
  val BloomPropPrefix = "write.parquet.bloom-filter-enabled.column."

  /** Table property selecting the parquet compression codec for new
    * files (`write.parquet.compression-codec = zstd|snappy|gzip|lz4|...`). */
  val CompressionProp = "write.parquet.compression-codec"

  /** Append `df` (already coerced to the table schema) as a new commit.
    * Returns None if `batchId` was already committed (replayed batch).
    */
  /** `offsets`/`vtts` are by-name: when bookkeeping rides the write job as
    * an observe metric (see [[Ingest.run]]), it only resolves after the
    * write action — so they are evaluated here between write and publish.
    */
  def append(
      spark: SparkSession,
      df: DataFrame,
      table: IceTable,
      batchId: Long,
      offsets: => Map[String, Long] = Map.empty,
      vtts: => Option[Long] = None,
      props: Map[String, String] = Map.empty,
      maxRecordsPerFile: Long = 0L,
      compaction: Boolean = false,
      sortBy: Seq[String] = Nil,
      sortPartitions: Int = 0,
      /** sort-clustering by arbitrary expressions over table columns (the
        * z-order rewrite path) — same range-partition+sort treatment as
        * `sortBy`, which it extends
        */
      sortExprs: Seq[org.apache.spark.sql.Column] = Nil,
      /** Optimistic conflict validation for rewrites (Iceberg
        * ValidationException analogue): when set to the scan-time seq, the
        * commit ABORTS with [[graft.table.CommitConflictException]] if any
        * equality-delete commit landed after it — a rewrite re-stamps rows
        * at its own (higher) seq, which would silently void such deletes.
        */
      validateFromSeq: Option[Long] = None
  ): Option[Commit] = {
    val deltas = writeFiles(df, table, maxRecordsPerFile, sortBy, sortPartitions, sortExprs,
      warnFanout = !compaction)
    publish(table, batchId, deltas, Nil, offsets, vtts,
      if (compaction) props + ("compaction" -> "true") else props,
      validateFromSeq = validateFromSeq)
  }

  /** Partial rewrite: stage `df` as new files and supersede
    * `removedPaths` in one commit (bin-packing compaction's commit shape;
    * see [[graft.table.IceTable.compactSmallFiles]]).
    */
  def rewrite(
      spark: SparkSession,
      df: DataFrame,
      table: IceTable,
      removedPaths: Seq[String],
      props: Map[String, String] = Map.empty,
      /** see [[append]] — same concurrent-delete conflict validation */
      validateFromSeq: Option[Long] = None,
      /** Partial rewrites that never truncate the live chain (small-file
        * compaction) supersede ONLY the paths they read — a concurrent
        * plain append survives untouched, so it is not a lost-update
        * hazard and need not abort the rewrite. Full compactions and
        * delete-sensitive rewrites keep the strict rule (false).
        */
      allowConcurrentAppends: Boolean = false
  ): Option[Commit] = {
    val files = writeFiles(df, table, maxRecords = 0L, warnFanout = false)
    publish(table, batchId = -1L, files, Nil, Map.empty, None, props, removedPaths,
      validateFromSeq = validateFromSeq, allowConcurrentAppends = allowConcurrentAppends)
  }

  /** Dynamic partition overwrite (Spark `INSERT OVERWRITE` with
    * `partitionOverwriteMode=dynamic` / Iceberg `overwritePartitions`):
    * the batch's rows replace EXACTLY the partitions they touch —
    * untouched partitions keep their files, and on an unpartitioned
    * table the whole state is replaced (standard overwrite semantics).
    * One commit: new files plus the superseded paths via `removedPaths`;
    * time travel below the commit still sees the old partitions. An
    * empty batch overwrites nothing and publishes no commit (dynamic
    * mode's no-op, never an accidental truncate). NOTE
    * [[graft.table.IceTable.readIncremental]] surfaces the overwrite's
    * rows as ADDED — the replaced rows emit no retraction there, same
    * documented boundary as deletes aimed at pre-window rows.
    */
  def overwritePartitions(
      spark: SparkSession,
      df: DataFrame,
      table: IceTable,
      batchId: Long,
      offsets: => Map[String, Long] = Map.empty,
      vtts: => Option[Long] = None,
      props: Map[String, String] = Map.empty
  ): Option[Commit] = {
    // writeFiles unstages zero-row part files, so an empty UNPARTITIONED
    // batch — whose eagerly-created empty part file would otherwise
    // "touch" the empty partition tuple and supersede EVERY live file
    // (accidental truncate) — yields an empty list here and publishes
    // nothing, exactly the contract above.
    val files = writeFiles(df, table, maxRecords = 0L)
    if (files.isEmpty) return None
    val newParts = files.map(_.partition).toSet
    // by-name: re-planned at each commit attempt, so files appended to the
    // touched partitions between plan and claim (or during a seq-claim
    // retry) are still superseded — "rows replace EXACTLY the partitions
    // they touch" holds at COMMIT time, not plan time
    publish(table, batchId, files, Nil, offsets, vtts,
      props + ("overwrite-partitions" -> "true"),
      removedPaths = table.planFiles(None)
        .collect { case (f, _) if newParts.contains(f.partition) => f.path })
  }

  /** Delta commit (D2): new data files plus equality-delete key files that
    * apply to all *earlier* commits of the same keys.
    */
  def delta(
      spark: SparkSession,
      dataDf: DataFrame,
      deleteKeysDf: DataFrame,
      table: IceTable,
      batchId: Long,
      offsets: => Map[String, Long] = Map.empty,
      vtts: => Option[Long] = None,
      props: Map[String, String] = Map.empty,
      maxRecordsPerFile: Long = 0L
  ): Option[Commit] = {
    // The data save and delete save are INDEPENDENT Spark actions over the
    // same pinned resolve frame (CdcOps.resolveBatch localCheckpoints
    // before splitting) writing to distinct staging dirs — submit the
    // delete write from a driver thread so its job back-fills the data
    // write's scheduling gaps and task tail (guide §2.6) instead of
    // queueing behind it; publish still waits for both. A DEDICATED pool,
    // not Ingest's K10 commit pool: in multi-table mode writeTable already
    // runs ON that pool, and a nested Await inside a fixed pool's own
    // thread can exhaust it (classic pool-in-pool deadlock).
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val delF = sideJob(deleteKeysDf.sparkSession, sideJobEc)(writeDeleteFiles(deleteKeysDf, table))
    val dataFiles =
      try writeFiles(dataDf, table, maxRecordsPerFile)
      catch {
        case t: Throwable =>
          // surface the data-side error, but never abandon a running
          // delete job silently (its staged files stay gc-fenced until
          // the staging grace expires either way)
          try Await.ready(delF, Duration.Inf) catch { case _: Throwable => () }
          throw t
      }
    val delFiles = Await.result(delF, Duration.Inf)
    publish(table, batchId, dataFiles, delFiles, offsets, vtts, props)
  }

  /** Driver-side pool for independent side-writes inside one logical
    * commit (the delta data/delete overlap, the DLQ/main overlap) —
    * daemon threads (never pins the JVM), cached (threads die after 60 s
    * idle; concurrent multi-table callers each get a slot without a
    * sizing knob). Only `Future`s that themselves never block on this
    * pool are submitted here.
    */
  private[graft] lazy val sideJobEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-side-job")
        t.setDaemon(true)
        t
      }))

  /** Local properties that make a job part of the submitting thread's
    * work: its job group and interrupt-on-cancel flag (so cancelling the
    * group, as `StreamingQuery.stop()` does, reaches the job), its
    * description, and the streaming query and batch ids. The SQL execution
    * id and the call site are deliberately left out: each side job opens
    * its own execution and has its own call site.
    */
  private val SideJobProps = Seq("spark.jobGroup.id", "spark.job.interruptOnCancel",
    "spark.job.description", "sql.streaming.queryId", "streaming.sql.batchId")

  /** Run `body` on the pool `ec` as part of the calling thread's work: the
    * pool thread gets the caller's active session and [[SideJobProps]] for
    * the duration of `body`. Pool threads are reused across callers, so
    * the properties are set per call (an absent one is cleared) and the
    * thread's own values restored after.
    */
  private[graft] def sideJob[T](spark: SparkSession, ec: scala.concurrent.ExecutionContext)(
      body: => T): scala.concurrent.Future[T] = {
    val sc = spark.sparkContext
    val caller = SideJobProps.map(k => k -> sc.getLocalProperty(k))
    scala.concurrent.Future {
      SparkSession.setActiveSession(spark)
      val own = SideJobProps.map(k => k -> sc.getLocalProperty(k))
      caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }(ec)
  }

  // ---- internals ------------------------------------------------------

  private def writeFiles(
      df: DataFrame,
      table: IceTable,
      maxRecords: Long,
      sortBy: Seq[String] = Nil,
      sortPartitions: Int = 0,
      sortExprs: Seq[org.apache.spark.sql.Column] = Nil,
      /** Maintenance rewrites (compaction, bin-pack) legitimately respan
        * every partition the table has accumulated — the fan-out WARN is
        * for INGEST-shaped writes, where one batch minting thousands of
        * partitions means the spec is wrong. */
      warnFanout: Boolean = true): Seq[FileEntry] = {
    val meta = table.meta
    val schema = table.schema
    val schemaVersion = table.currentSchemaVersion
    val uuid = java.util.UUID.randomUUID().toString
    val outDir = s"${table.dir}/data/$uuid"
    markStaging(outDir) // gc skips this dir until publish clears the marker

    // P5 — `write.target-file-size-bytes` parity (Utilities.java:162-167):
    // bytes-per-row is unknowable before the first file exists, so the cap
    // is derived from the previous commit's recorded (rows, bytes) and
    // applied as maxRecordsPerFile. First commit writes uncapped and seeds
    // the estimate.
    val effectiveMax =
      if (maxRecords > 0) maxRecords
      else
        meta.props.get("write.target-file-size-bytes").map(_.toLong) match {
          case Some(target) if target > 0 => estimatedRowsPerFile(table, target).getOrElse(0L)
          case _                          => 0L
        }

    val transforms = PartitionTransforms.parseSpec(meta.partitionBy, schema)
    // project to schema order, then add derived partition columns
    val base = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val withParts0 = transforms.foldLeft(base) { (d, t) =>
      d.withColumn(t.writeName, t.column(col(t.source)))
    }
    // cluster rows by partition value before the fan-out write: without
    // this every task can hold every partition (tasks × partitions tiny
    // files). A plain hash repartition caps a partition value at ONE task
    // (a hot day/type serializes the batch at scale), so use AQE rebalance
    // instead: same clustering, but skewed partition values are split
    // across tasks by mapper range and tiny ones are coalesced — the
    // files-per-partition budget is advisoryPartitionSizeInBytes.
    //
    // A sort-ordered rewrite (`sortBy` nonempty) replaces the rebalance:
    // range-partition + sort on (partition values, sort columns) so every
    // output file covers a disjoint sort-key range WITHIN its partition —
    // a rebalance here would scatter the sort clustering it exists for.
    // `write.distribution-mode` (Iceberg property parity) picks the
    // pre-write clustering for partitioned tables: `hash` (default) is
    // the AQE rebalance above — skew-split, tiny-partition coalesce;
    // `range` orders partition values across tasks so output files carry
    // tight, disjoint partition-column bounds (better file pruning,
    // costs a range-boundary sample job); `none` skips clustering — each
    // task fans out to every partition it holds (Iceberg's none mode:
    // cheapest write, most files — for pre-clustered input).
    val distMode = meta.props.getOrElse("write.distribution-mode", "hash")
    require(Set("none", "hash", "range").contains(distMode),
      s"write.distribution-mode must be none|hash|range, got '$distMode'")
    val withParts =
      if (sortBy.nonEmpty || sortExprs.nonEmpty) {
        val cluster = transforms.map(t => col(t.writeName)) ++ sortBy.map(col) ++ sortExprs
        val ranged =
          if (sortPartitions > 0) withParts0.repartitionByRange(sortPartitions, cluster: _*)
          else withParts0.repartitionByRange(cluster: _*)
        ranged.sortWithinPartitions(cluster: _*)
      } else if (transforms.isEmpty) withParts0
      else distMode match {
        case "none"  => withParts0
        case "range" => withParts0.repartitionByRange(transforms.map(t => col(t.writeName)): _*)
        case _       => withParts0.hint("rebalance", transforms.map(t => col(t.writeName)): _*)
      }
    // Fan-out parallelism floor (guide §6/§2.5): AQE's bytes-based
    // coalescing of the rebalance above sizes write tasks as
    // max(totalBytes/defaultParallelism, coalescePartitions.minPartitionSize
    // = 1 MB) — a cost model with NO term for the per-partition-value
    // file-open constant (~20 ms each). A small batch carrying many
    // partition values therefore collapses to 2-3 tasks that each open
    // dozens of parquet writers SEQUENTIALLY (r18 profile:
    // ingest_partitioned = 3 tasks × ~50 opens = 3.4 s task time) while
    // the cluster idles. Scoped to the fan-out write only, the floor is
    // lowered so the rebalance keeps up to defaultParallelism tasks for
    // any batch wider than parallelism × floor; value-count awareness is
    // implicit — rebalance buckets BY partition value, so a batch with
    // few values occupies few buckets and still gets few tasks, and the
    // total file count (≈ one per value either way) is unchanged. At
    // cluster scale bytes/parallelism dominates the floor and the
    // advisory size caps task width exactly as before — the floor only
    // engages where per-open cost, not bytes, is the wall.
    val fanoutFloor = transforms.nonEmpty && distMode == "hash" &&
      sortBy.isEmpty && sortExprs.isEmpty
    var w = withParts.write.format(meta.format).mode("append")
    if (transforms.nonEmpty) w = w.partitionBy(transforms.map(_.writeName): _*)
    if (effectiveMax > 0) w = w.option("maxRecordsPerFile", effectiveMax)
    // Parquet bloom filters for point-lookup row-group skipping (Iceberg
    // `write.parquet.bloom-filter-enabled.column.<col>` property parity):
    // the writer embeds a split-block bloom per row group for each listed
    // column, and parquet-mr's row-group filter consults it for pushed
    // `=`/IN predicates at read time — skipping groups that min/max can
    // never exclude on high-cardinality UNSORTED columns (every group's
    // range spans the domain, but the bloom knows the needle isn't there).
    // Pure write-path metadata: file contents and all readers stay
    // unchanged, so the property can be enabled on an existing table.
    if (meta.format == "parquet") {
      meta.props.foreach { case (k, v) =>
        if (k.startsWith(IceTableWriter.BloomPropPrefix) && v.equalsIgnoreCase("true"))
          w = w.option(
            s"parquet.bloom.filter.enabled#${k.stripPrefix(IceTableWriter.BloomPropPrefix)}",
            "true")
      }
      // `write.parquet.compression-codec` (Iceberg property parity):
      // per-table codec choice — zstd for cold storage, snappy/lz4 for
      // hot read paths — applied to NEW files only; existing files keep
      // the codec they were written with (parquet is self-describing)
      meta.props.get(IceTableWriter.CompressionProp).foreach { codec =>
        w = w.option("compression", codec.toLowerCase(java.util.Locale.ROOT))
      }
    }
    ControlFs.timedOp("sparkWriteJob") {
      if (fanoutFloor) IceTableWriter.withFanoutCoalesceFloor(df.sparkSession)(w.save(outDir))
      else w.save(outDir)
    }

    val staged = listStagedFiles(outDir, meta.format)
    val stats = fillUnknownRows(df.sparkSession,
      fileStats(df.sparkSession, staged, meta.format), meta.format)
    // Unstage zero-row files: FileFormatWriter creates part files EAGERLY
    // (an empty unpartitioned batch stages one per task), and committing
    // them bloats the log and every subsequent read's file list — a
    // dead-letter stream with clean batches would otherwise accumulate
    // thousands of empty files. Footer-less formats get their counts
    // from the read-back job above, so rows is authoritative here.
    val (files, zeroRow) = staged.partition(p => stats(p).rows != 0L)
    zeroRow.foreach(ControlFs.delete(_, recursive = false))
    // an all-zero-row stage publishes nothing — nothing will ever clear
    // this dir's marker, so clear it here (gc reclaims the dir normally)
    if (files.isEmpty) clearStaging(outDir)
    val entries = files.map { p =>
      val s = stats(p)
      FileEntry(
        path = p,
        rows = s.rows,
        schemaVersion = schemaVersion,
        partition = partitionValues(outDir, p, transforms),
        bytes = s.bytes,
        min = s.min,
        max = s.max,
        format = meta.format
      )
    }
    if (transforms.nonEmpty && warnFanout)
      IceTableWriter.fanoutWarning(
        entries.iterator.map(_.partition).toSet.size,
        entries.size,
        entries.iterator.map(_.bytes).sum
      ).foreach(IceTableWriter.log.warn(_))
    entries
  }

  /** Rows-per-file cap that approximates `targetBytes` per file, from the
    * most recent commit whose entries carry (rows, bytes) stats.
    */
  private def estimatedRowsPerFile(table: IceTable, targetBytes: Long): Option[Long] = {
    val commits = table.log.commits()
    commits.reverseIterator
      .map(_.dataFiles.filter(f => f.rows > 0 && f.bytes > 0))
      .find(_.nonEmpty)
      .map { fs =>
        val bytesPerRow = fs.map(_.bytes).sum.toDouble / fs.map(_.rows).sum.toDouble
        math.max(1L, (targetBytes / bytesPerRow).toLong)
      }
  }

  /** Per-file stats (rows, bytes, column bounds) from parquet footers +
    * fs metadata. Small commits read on the driver (parallel, one open per
    * file — no job overhead); large commits run a metadata-only Spark job
    * so the driver never serializes on thousands of footer opens (the
    * per-file stats collection pattern used by table-format migration
    * jobs).
    */
  private val DriverFooterLimit = 512

  /** Fill real row counts for footer-less formats (avro reports
    * rows = -1). Without them, zero-row unstaging cannot see emptiness:
    * FileFormatWriter's eager empty part files would be KEPT, and an
    * empty `overwritePartitions` batch — whose unknown-row file "touches"
    * the empty partition tuple — would supersede every live file of an
    * unpartitioned table: a silent full TRUNCATION. One read-back job
    * over only the unknown files fills per-file counts; the read uses
    * the same data source as the write, so if the write succeeded the
    * read does too. Files absent from the grouped count carry zero
    * records — exactly the eager-empty ones.
    */
  private[graft] def fillUnknownRows(
      spark: SparkSession,
      stats: Map[String, FooterStats],
      format: String
  ): Map[String, FooterStats] =
    if (stats.valuesIterator.forall(_.rows >= 0L)) stats
    else {
      val unknown = stats.collect { case (p, s) if s.rows < 0L => p }.toSeq
      val counts = spark.read.format(format).load(unknown: _*)
        .groupBy(org.apache.spark.sql.functions.input_file_name().as("__f"))
        .count()
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toMap
      mergeReadBackCounts(stats, counts)
    }

  /** Merge read-back counts into unknown-row stats, keyed by the FULL
    * decoded path: `input_file_name()` returns URI form (`file:///…`,
    * percent-escaped) while staged paths are filesystem form —
    * `URI.getPath` decodes back to the same absolute path. NOT keyed by
    * trailing file name: Spark's dynamic-partition writer reuses one
    * task's `part-NNNNN-<uuid>` name in EVERY partition directory it
    * writes, so names collide across a partitioned stage and the counts
    * would silently cross-attach.
    */
  private[graft] def mergeReadBackCounts(
      stats: Map[String, FooterStats],
      counts: Map[String, Long]
  ): Map[String, FooterStats] = {
    def keyOf(p: String): String =
      if (p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*"))
        // encoded URI form (input_file_name) decodes via java.net.URI;
        // a DECODED scheme-ful listing path (Hadoop Path.toString) can
        // carry characters java.net.URI rejects — Hadoop Path re-encodes
        // it, and getPath decodes both down to the same plain path
        try new java.net.URI(p).getPath
        catch {
          case _: Exception =>
            try new org.apache.hadoop.fs.Path(p).toUri.getPath
            catch { case _: Exception => p }
        }
      else p
    val byPath = counts.map { case (p, n) => keyOf(p) -> n }
    stats.map { case (p, s) =>
      if (s.rows >= 0L) (p, s) else (p, s.copy(rows = byPath.getOrElse(keyOf(p), 0L)))
    }
  }

  private def fileStats(
      spark: SparkSession,
      files: Seq[String],
      format: String
  ): Map[String, FooterStats] = ControlFs.timedOp("footerStatsPass") {
    if (files.size <= DriverFooterLimit) {
      // resolve the session conf ONCE on the calling thread — the fork-
      // join pool's threads may not carry the active session, and the
      // footer opens must see the session's fs.* bindings/credentials
      val conf = ControlFs.conf
      val out = new java.util.concurrent.ConcurrentHashMap[String, FooterStats]()
      files.asJava.parallelStream().forEach { p =>
        out.put(p, footerStats(p, format, conf))
      }
      out.asScala.toMap
    } else {
      val fmt = format
      // executors rebuild the driver's Hadoop conf from its serialized
      // entries (a bare `new Configuration()` on an executor would miss
      // session-level fs.* bindings and object-store credentials)
      val confEntries: Seq[(String, String)] =
        ControlFs.conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toSeq
      import org.apache.spark.sql.{Encoders => E}
      spark
        .createDataset(files)(E.STRING)
        .repartition(math.min(files.size, 512))
        .mapPartitions { it =>
          val conf = new Configuration()
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          it.map(p => (p, footerStats(p, fmt, conf)))
        }(E.product[(String, FooterStats)])
        .collect()
        .toMap
    }
  }

  /** Rows + size + per-top-level-column min/max bounds from one file
    * footer (no data read). Parquet and ORC both carry footer statistics;
    * other formats (avro) record size only — rows = -1 and no bounds, so
    * pruning degrades to "may contain" and the byte-rolling estimate
    * skips the file, never a wrong skip.
    *
    * Bounds are recorded only for columns with valid statistics in EVERY
    * row group / stripe; nested paths and raw binary are skipped.
    */
  private[sink] def footerStats(p: String, format: String, conf: Configuration): FooterStats = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val size = hp.getFileSystem(conf).getFileStatus(hp).getLen
    if (format == "orc") return orcStats(p, size, conf)
    if (format != "parquet") return FooterStats(-1L, size, Map.empty, Map.empty)
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val merged = scala.collection.mutable.LinkedHashMap[
        String, org.apache.parquet.column.statistics.Statistics[_]]()
      val invalid = scala.collection.mutable.Set[String]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val pathParts = c.getPath.toArray
          if (pathParts.length == 1) {
            val name = pathParts(0)
            val st: org.apache.parquet.column.statistics.Statistics[_ <: Comparable[_]] =
              c.getStatistics
            val pt = c.getPrimitiveType
            val encodable = pt.getPrimitiveTypeName match {
              case INT32 | INT64 | FLOAT | DOUBLE | BOOLEAN => true
              case BINARY =>
                pt.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              case _ => false
            }
            if (st == null || st.isEmpty || !st.hasNonNullValue || !encodable) {
              invalid += name; ()
            } else {
              merged.get(name) match {
                case None => merged(name) = st
                case Some(acc) =>
                  // erased cast to a concrete type param so the invariant
                  // Java generic accepts the same-column merge
                  type S = org.apache.parquet.column.statistics.Statistics[java.lang.Long]
                  acc.asInstanceOf[S].mergeStatistics(st.asInstanceOf[S])
              }
            }
          }
        }
      }
      def enc(v: Any): String = v match {
        case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
        case other                               => String.valueOf(other)
      }
      val valid = merged.view.filterKeys(!invalid.contains(_))
      FooterStats(
        rows = r.getRecordCount,
        bytes = size,
        min = valid.map { case (k, s) => k -> enc(s.genericGetMin) }.toMap,
        max = valid.map { case (k, s) => k -> enc(s.genericGetMax) }.toMap
      )
    } finally r.close()
  }

  /** ORC footer statistics (P5 three-format parity with the reference's
    * symmetric parquet/ORC/avro appenders, `data/Utilities.java:162-167`):
    * row count from the reader, per-top-level-column bounds from the
    * file-level `ColumnStatistics`, string-encoded the same way as the
    * parquet path so [[graft.table.FilePruning]] compares them uniformly.
    * Only integer/floating/string stats are recorded (same conservative
    * class as parquet); anything else simply carries no bound.
    */
  private[sink] def orcStats(p: String, size: Long, conf: Configuration): FooterStats = {
    import org.apache.orc.{OrcFile, TypeDescription}
    val reader = OrcFile.createReader(
      new org.apache.hadoop.fs.Path(p), OrcFile.readerOptions(conf))
    try {
      val schema = reader.getSchema
      val mins = scala.collection.mutable.LinkedHashMap[String, String]()
      val maxs = scala.collection.mutable.LinkedHashMap[String, String]()
      if (schema.getCategory == TypeDescription.Category.STRUCT) {
        val stats = reader.getStatistics // indexed by column id; 0 = root struct
        val names = schema.getFieldNames.asScala.toSeq
        val children = schema.getChildren.asScala.toSeq
        names.zip(children).foreach { case (name, child) =>
          val s = stats(child.getId)
          if (s != null && s.getNumberOfValues > 0) s match {
            case i: org.apache.orc.IntegerColumnStatistics =>
              mins(name) = String.valueOf(i.getMinimum)
              maxs(name) = String.valueOf(i.getMaximum)
            case d: org.apache.orc.DoubleColumnStatistics =>
              mins(name) = String.valueOf(d.getMinimum)
              maxs(name) = String.valueOf(d.getMaximum)
            // BOTH sides must be present: ORC truncates string stats per
            // side (values > 1024 bytes record only lower/upper bounds and
            // the exact min/max return null independently)
            case st: org.apache.orc.StringColumnStatistics
                if st.getMinimum != null && st.getMaximum != null =>
              mins(name) = st.getMinimum
              maxs(name) = st.getMaximum
            case _ => () // no bound recorded — pruner treats as "may contain"
          }
        }
      }
      FooterStats(reader.getNumberOfRows, size, mins.toMap, maxs.toMap)
    } finally reader.close()
  }

  private def writeDeleteFiles(keysDf: DataFrame, table: IceTable): Seq[FileEntry] = {
    val meta = table.meta
    val uuid = java.util.UUID.randomUUID().toString
    val outDir = s"${table.dir}/deletes/$uuid"
    markStaging(outDir)
    keysDf.write.format(meta.format).mode("append").save(outDir)
    // same zero-row unstaging as writeFiles: an empty delete side stages
    // an eager empty part file that would burden every later read's
    // anti-join planning for nothing
    val conf = ControlFs.conf
    val entries = listStagedFiles(outDir, meta.format).map { p =>
      FileEntry(p, rowCount(p, meta.format, conf), table.currentSchemaVersion,
        bytes = ControlFs.status(p).map(_.getLen).getOrElse(-1L), format = meta.format)
    }
    val (live, zeroRow) = entries.partition(_.rows != 0L)
    zeroRow.foreach(f => ControlFs.delete(f.path, recursive = false))
    if (live.isEmpty) clearStaging(outDir)
    live
  }

  /** Staging-marker protocol (see [[graft.table.IceTable.gc]]): the
    * marker lands before the first byte and is cleared once the dir's
    * files are either committed or dropped — gc skips marked dirs until
    * the staging grace expires, so a write job longer than the orphan
    * age cannot lose its earliest part files to a concurrent gc.
    */
  private def markStaging(outDir: String): Unit = {
    // fs.create makes missing parents; create-exclusive so a marker an
    // earlier (crashed) writer left in a colliding dir is never re-aged
    try ControlFs.createExclusive(s"$outDir/${IceTable.StagingMarker}", "")
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    ()
  }

  private def clearStaging(outDir: String): Unit =
    ControlFs.delete(s"$outDir/${IceTable.StagingMarker}", recursive = false)

  /** The `data/<uuid>` (or `deletes/<uuid>`) staging root a committed
    * file was written under — partition fan-out nests files deeper.
    * Works on the file's ORIGINAL (possibly scheme-ful) string so the
    * returned root resolves on the same filesystem; the table-dir match
    * is scheme-normalized because entries and handles can mix plain and
    * `file:`-style spellings of the same local path.
    */
  private[sink] def stagingRootOf(file: String, tableDir: String): Option[String] = {
    val norm = IceTable.normalizePath(file)
    val dirNorm = IceTable.normalizePath(tableDir).stripSuffix("/")
    val shift = file.length - norm.length // scheme prefix length delta
    for (sub <- Seq("data", "deletes")) {
      val prefix = s"$dirNorm/$sub/"
      if (norm.startsWith(prefix)) {
        val rest = norm.drop(prefix.length)
        val uuid = rest.takeWhile(_ != '/')
        if (uuid.nonEmpty && rest.length > uuid.length)
          return Some(file.substring(0, prefix.length + uuid.length + shift))
      }
    }
    None
  }

  private def publish(
      table: IceTable,
      batchId: Long,
      dataFiles: Seq[FileEntry],
      deleteFiles: Seq[FileEntry],
      offsets: Map[String, Long],
      vtts: Option[Long],
      props: Map[String, String],
      /** by-name: evaluated inside each commit attempt, so callers whose
        * superseded-file list depends on CURRENT table state (partition
        * overwrite) stay correct across seq-claim retries */
      removedPaths: => Seq[String] = Nil,
      validateFromSeq: Option[Long] = None,
      allowConcurrentAppends: Boolean = false
  ): Option[Commit] = {
    // K7 file-level dedup lives in CommitLog.commit (the one commit
    // builder every public path funnels through)
    val committed = table.log.commit(
      batchId,
      { seq =>
        validateFromSeq.foreach { s0 =>
          // ANY data-changing commit after the scan conflicts, not just
          // equality deletes: a rewrite re-stamps rows above a later
          // delete's seq (voiding it), a compaction commit makes
          // liveCommits drop every earlier commit (a concurrent plain
          // append planned-around here would be silently discarded —
          // lost update), and a concurrent rewrite's removedPaths could
          // be resurrected by this commit's files. Readers/metadata-only
          // commits (all three lists empty) stay non-conflicting.
          //
          // allowConcurrentAppends relaxes exactly one arm: a plain
          // append (data files only, no deletes, no removedPaths, not a
          // chain-truncating compaction commit) cannot be lost to a
          // partial rewrite that leaves the live chain intact, so
          // small-file compaction tolerates it instead of aborting.
          val benign: Commit => Boolean = c =>
            allowConcurrentAppends &&
              c.dataFiles.nonEmpty && c.deleteFiles.isEmpty &&
              c.removedPaths.isEmpty &&
              !c.props.get("compaction").contains("true")
          table.log.commits()
            .find(c => c.seq > s0 && !benign(c) &&
              (c.dataFiles.nonEmpty || c.deleteFiles.nonEmpty || c.removedPaths.nonEmpty))
            .foreach { c =>
              val kinds = Seq(
                if (c.deleteFiles.nonEmpty) Some("equality-delete") else None,
                if (c.dataFiles.nonEmpty) Some("data") else None,
                if (c.removedPaths.nonEmpty) Some("rewrite") else None).flatten
              throw new graft.table.CommitConflictException(
                s"concurrent ${kinds.mkString("+")} commit (seq ${c.seq}) landed after " +
                  s"scan seq $s0 — this rewrite was planned against stale state and " +
                  "would void or discard it; re-plan from current state and retry")
            }
        }
        Commit(
          seq = seq,
          batchId = batchId,
          commitId = java.util.UUID.randomUUID().toString,
          timestampMs = System.currentTimeMillis(),
          schemaVersion = table.currentSchemaVersion,
          dataFiles = dataFiles,
          deleteFiles = deleteFiles,
          offsets = offsets,
          vtts = vtts,
          props = props,
          removedPaths = removedPaths
        )
      }
    )
    // Post-commit cleanup is an OPTIMIZATION: the commit (or the replay
    // fence's None) is already decided, and both leftovers it clears are
    // reclaimed by gc anyway (unreferenced staged files as orphans,
    // markers by the staging grace sweep). An FS hiccup here must not
    // turn a durable outcome into a failed trigger — same rule as the
    // commit log's post-claim checkpoint guard.
    graft.fs.SweepAlarm.guarded(s"post-commit staging cleanup at ${table.dir}",
      s"batch $batchId's commit outcome stands; gc reclaims the leftovers") {
      if (committed.isEmpty) {
        // replayed batch: the staged files will never be referenced; drop them
        (dataFiles ++ deleteFiles).foreach(f => ControlFs.delete(f.path, recursive = false))
      }
      // committed OR replayed-and-dropped: either way the stage→publish
      // window is over — release the dirs to normal gc rules. (A publish
      // that THROWS leaves its markers: conflict-aborted rewrites keep
      // their staged files protected until the staging grace sweeps them.)
      (dataFiles ++ deleteFiles)
        .flatMap(f => stagingRootOf(f.path, table.dir))
        .distinct
        .foreach(clearStaging)
    }
    committed
  }

  /** List the files a just-finished write job staged under `dir`,
    * defending against LIST-after-write lag (object stores without
    * consistent listings): a lagged listing here would silently commit an
    * EMPTY or partial file set — data loss with a green trigger. The
    * committer wrote `_SUCCESS` into `dir` strictly BEFORE `save()`
    * returned (default `mapreduce.fileoutputcommitter.marksuccessfuljobs`),
    * so a listing that cannot see `_SUCCESS` yet is PROVABLY stale — wait
    * (bounded backoff, ~1.5 s) for the namespace to catch up, and if it
    * never does, FAIL the write: by this function's own reasoning the
    * listing is known-stale, and committing whatever lists would be
    * exactly the silent empty/partial commit the guard exists to prevent.
    * The staged files stay protected by the staging marker, the trigger
    * fails loudly, and the batch replays exactly-once (batchId fence) —
    * strictly safer than a green trigger over lost data. Residual
    * boundary, documented in OPERATIONS.md: a listing that shows
    * `_SUCCESS` but still hides some part files is not client-detectable —
    * the engine's filesystem contract requires listings to be consistent
    * once they include the job's last-written file (true of every current
    * major store: S3 since 2020, GCS, ADLS, HDFS).
    * ObjectStoreSemanticsSuite drives both the catches-up arm and the
    * never-listable (throw) arm deterministically.
    */
  private def listStagedFiles(dir: String, format: String): Seq[String] = {
    if (ControlFs.conf.getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)) {
      var delay = 50L
      var attempt = 0
      while (attempt < 6 && !ControlFs.listNames(dir).contains("_SUCCESS")) {
        attempt += 1
        if (attempt == 6)
          throw new java.io.IOException(s"staged dir $dir still does not list the " +
            "committer's _SUCCESS after ~1.5s of bounded backoff — the listing is " +
            "provably lagging the write, and committing it could silently publish an " +
            "empty or partial file set. Failing the trigger; the batch replays " +
            "exactly-once (see OPERATIONS.md on listing consistency)")
        else Thread.sleep(delay)
        delay *= 2
      }
    }
    listDataFiles(dir, format)
  }

  private def listDataFiles(dir: String, format: String): Seq[String] = {
    val suffix = format match {
      case "parquet" => ".parquet"
      case "orc"     => ".orc"
      case "avro"    => ".avro"
      case _         => ""
    }
    ControlFs
      .walkPostOrder(dir)
      .filter(_.isFile)
      .map(_.getPath.toString)
      .filter { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        !n.startsWith("_") && !n.startsWith(".") && (suffix.isEmpty || n.endsWith(suffix))
      }
      .sorted
  }

  /** Exact row count from the file footer (no data read); -1 for formats
    * without a readable footer. Shared with [[graft.table.IceTable.fsck]].
    * Callers resolve `conf` once (ControlFs.conf) and reuse it across a
    * batch of files — a per-file Configuration costs tens of ms of XML
    * parsing and dominated commit time at many files.
    */
  private[graft] def rowCount(p: String, format: String, conf: Configuration): Long =
    format match {
      case "parquet" =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount
        finally r.close()
      case "orc" =>
        val r = org.apache.orc.OrcFile.createReader(
          new org.apache.hadoop.fs.Path(p),
          org.apache.orc.OrcFile.readerOptions(conf))
        try r.getNumberOfRows
        finally r.close()
      case _ => -1L
    }

  /** Recover `name=value` partition values from the staged hive layout.
    * Decode with Spark's own `unescapePathName` (the exact inverse of the
    * writer's Hive-style escaping) — URLDecoder would additionally turn a
    * literal '+' into a space, corrupting the recorded value and breaking
    * partition-pruning predicates against it.
    */
  private def partitionValues(
      root: String,
      file: String,
      transforms: Seq[graft.operators.PartitionTransform]
  ): Map[String, String] = {
    val writeToField = transforms.map(t => t.writeName -> t.fieldName).toMap
    // scheme-normalize both sides before relativizing: the staged root is
    // the caller's spelling, the listed file the filesystem's
    val rootNorm = IceTable.normalizePath(root).stripSuffix("/")
    val fileNorm = IceTable.normalizePath(file)
    val rel =
      if (fileNorm.startsWith(rootNorm + "/")) fileNorm.drop(rootNorm.length + 1)
      else fileNorm
    rel
      .split('/')
      .iterator
      .filter(_.contains("="))
      .flatMap { seg =>
        val Array(k, v) = seg.split("=", 2)
        writeToField.get(k).map(_ ->
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))
      }
      .toMap
  }
}
