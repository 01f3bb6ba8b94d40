package graft.table

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.fs.ControlFs

/** Predicate helpers over per-file column bounds (Iceberg
  * lower/upper-bound pruning analogue): conservative — a file without
  * recorded bounds for the column always "may contain".
  */
object FilePruning {

  /** True iff `f` may contain a value of `col` within [lo, hi] (either
    * bound optional). `numeric` compares bounds numerically, otherwise
    * lexicographically (matching parquet's unsigned-ish string order for
    * UTF8 columns closely enough for pruning).
    */
  def mayContainRange(
      f: FileEntry,
      col: String,
      lo: Option[String],
      hi: Option[String],
      numeric: Boolean = true
  ): Boolean = {
    // cmp = None when a recorded bound can't be compared under the
    // requested mode (numeric=true against a string column's bounds, or a
    // null bound from a legacy/partial-stats commit entry): pruning must
    // degrade to "may contain", never throw at plan time
    def cmp(a: String, b: String): Option[Int] =
      if (a == null || b == null) None
      else if (!numeric) Some(a.compareTo(b))
      else
        try Some(java.lang.Double.compare(a.toDouble, b.toDouble))
        catch { case _: NumberFormatException => None }
    val belowHi = (hi, f.min.get(col)) match {
      case (Some(h), Some(mn)) => cmp(mn, h).forall(_ <= 0)
      case _                   => true
    }
    val aboveLo = (lo, f.max.get(col)) match {
      case (Some(l), Some(mx)) => cmp(mx, l).forall(_ >= 0)
      case _                   => true
    }
    belowHi && aboveLo
  }
}

/** Table-level metadata, fixed at create time (partition spec v1 only). */
final case class TableMeta(
    idColumns: Seq[String] = Nil,
    partitionBy: Seq[String] = Nil,
    format: String = "parquet",
    props: Map[String, String] = Map.empty
)

/** "IceTable" — the engine's minimal snapshot-log table format.
  *
  * Spark-native stand-in for the Iceberg tables the reference commits to
  * (no Iceberg runtime in this environment). It reproduces the semantics
  * the reference relies on (`docs/design.md:1-157`):
  *
  *  - append commits of immutable Parquet data files (K9)
  *  - equality-delete files keyed by id-columns, applying to rows with a
  *    strictly lower commit sequence (Iceberg v2 sequence-number rule;
  *    reference delta path `channel/Coordinator.commitToTable:246-257`)
  *  - snapshot summary properties: offsets JSON, commit UUID, VTTS
  *  - branches (`iceberg.table.<t>.commit-branch`) as independent commit
  *    chains
  *  - schema evolution via versioned schemas; files remember the version
  *    they were written with and are aligned (cast / null-fill) on read
  *
  * Layout:
  * {{{
  *   <dir>/table.json                  table metadata (id cols, spec, format)
  *   <dir>/_schemas/v{n}.json          versioned Spark StructType JSON
  *   <dir>/_commits/<branch>/v*.json   commit log per branch
  *   <dir>/data/<commit-uuid>/...      data files (never renamed)
  *   <dir>/deletes/<commit-uuid>/...   equality-delete key files
  * }}}
  *
  * Scale design: reads are planned from metadata — per-file partition
  * values allow partition pruning before any file is opened, the
  * seq-number of every file rides in via a broadcast join against
  * `input_file_name()` (no per-commit union explosion), and equality
  * deletes are applied with a single (broadcast when small) null-safe
  * anti-join.
  */
final class IceTable private[table] (
    /** table root — a Hadoop-resolvable path/URI string (plain local
      * path, `file:`, `hdfs://`, `s3a://`, …); every control-plane op
      * resolves it through [[ControlFs]], the same filesystem layer the
      * data files are written through */
    val dir: String,
    val branch: String,
    /** write-time property overlay (`iceberg.table.write-props.*`) — merged
      * over the table's own properties, never persisted (Utilities.java:160
      * builds the writer from table props + config writeProps). */
    writeOverlay: Map[String, String] = Map.empty
) {

  val log = new CommitLog(s"$dir/_commits/$branch")

  /** mtime-validated cache for [[rawMeta]]: a scan otherwise reads and
    * parses table.json several times (data-side readAligned, delete-side
    * readAligned, idColumns via meta). One stat per access replaces the
    * read+parse; an external props/format update bumps the mtime and
    * invalidates. (Two updates inside one mtime tick could serve the
    * first briefly — table.json writes are rare creation/evolution
    * events, and every load-bearing decision re-reads via the commit
    * log, so the window is harmless.)
    */
  @volatile private var metaCache: (Long, TableMeta) = null

  /** Persisted table metadata, no write-time overlay applied. */
  private def rawMeta: TableMeta = {
    val p = s"$dir/table.json"
    val st = ControlFs.status(p).getOrElse(
      throw new java.io.FileNotFoundException(s"not an IceTable: $p missing"))
    val mt = st.getModificationTime
    val c = metaCache
    if (c != null && c._1 == mt) c._2
    else {
      val bytes = ControlFs.readSmallBytes(p).getOrElse(
        throw new java.io.FileNotFoundException(p))
      val m = CommitLog.mapper.readValue(bytes, classOf[TableMeta])
      metaCache = (mt, m)
      m
    }
  }

  def meta: TableMeta = {
    val m = rawMeta
    if (writeOverlay.isEmpty) m
    else
      m.copy(
        props = m.props ++ writeOverlay,
        // `write.format.default` is itself a table property in the
        // reference's writer-creation path (Utilities.java:162-163). A
        // format override applies to NEW files only; each FileEntry
        // records the format it was written with, so reads stay correct
        // on tables that mix formats across commits.
        format = writeOverlay.getOrElse("write.format.default", m.format))
  }

  /** View of this table with `overlay` merged over its properties for all
    * write-path decisions (target file size, format, name mapping). */
  def withWriteProps(overlay: Map[String, String]): IceTable =
    if (overlay.isEmpty) this else new IceTable(dir, branch, writeOverlay ++ overlay)

  // ---- schema versions ------------------------------------------------

  private def schemaDir: String = s"$dir/_schemas"

  /** Parsed-schema cache: version files are immutable once published, so
    * a version only ever needs one read+parse per table handle — a scan
    * over k version groups otherwise re-parses the same JSON O(k²) times.
    * The directory is still listed each call (cheap) so concurrently
    * committed versions are picked up.
    */
  @volatile private var schemaCache: Map[Int, StructType] = Map.empty

  /** Version numbers present in the directory by NAME — including burned
    * (unparseable) ones, which [[evolveTo]] must advance past. */
  private def schemaVersionNames(): Seq[Int] =
    ControlFs.listNames(schemaDir)
      .filter(_.matches("v\\d+\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toInt)

  def schemaVersions: Seq[(Int, StructType)] = schemaVersionsFrom(schemaVersionNames())

  private def schemaVersionsFrom(versions: Seq[Int]): Seq[(Int, StructType)] = {
    val cached = schemaCache
    // an unparseable version file is a crashed evolveTo's aborted claim
    // (see evolveTo — its number stays burned, never reused): skip it;
    // file entries stamped with a skipped version fall back to the
    // current schema via schemaAt's getOrElse
    val parsed = versions.flatMap { v =>
      cached.get(v).map(v -> _).orElse {
        ControlFs.readSmall(s"$schemaDir/v$v.json").flatMap { json =>
          try Some(v -> DataType.fromJson(json).asInstanceOf[StructType])
          catch { case _: Exception => None }
        }
      }
    }.toMap
    if (parsed.size != cached.size) schemaCache = parsed
    // sort by the PARSED version: a name sort puts v10 before v2 and
    // permanently wedges evolution at the 10th version
    parsed.toSeq.sortBy(_._1)
  }

  def currentSchemaVersion: Int = schemaVersions.last._1
  def schema: StructType = schemaVersions.last._2
  def schemaAt(version: Int): StructType =
    schemaVersions.find(_._1 == version).map(_._2).getOrElse(schema)

  /** Commit a new schema version (E2). Create-exclusive claim on the
    * Hadoop FS layer with read-back arbitration (same protocol as
    * [[CommitLog.commit]]); idempotent: if a concurrent writer already
    * committed an identical schema, reuse it. Mirrors
    * `SchemaUtils.applySchemaUpdates` retry (`data/SchemaUtils.java:85-132`).
    */
  def evolveTo(newSchema0: StructType, maxRetries: Int = 3): Int = {
    val newSchema =
      graft.schema.SchemaEvolution.deepNullable(newSchema0).asInstanceOf[StructType]
    var attempt = 0
    while (true) {
      attempt += 1
      // ONE listing per attempt feeds both the parsed-version check and
      // the next-number fold
      val names = schemaVersionNames()
      val (lastV, lastS) = schemaVersionsFrom(names).last
      if (lastS == newSchema) return lastV
      // next number from listed NAMES, not parseable versions: a burned
      // (garbled) version file is excluded from schemaVersions, so
      // lastV+1 would re-claim the burned number forever — the same
      // advance-past-burned-numbers rule CommitLog (names) and
      // IndexLayout.publishMeta (stamps) follow
      val v = names.foldLeft(lastV)(math.max) + 1
      val path = s"$schemaDir/v$v.json"
      val content = newSchema.json
      val claimed =
        try { ControlFs.createExclusive(path, content); true }
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      // read-back arbitration where create(overwrite=false) is
      // check-then-act: the version is ours only if it reads back as
      // ours; a racer's content (or a garbled mix — which
      // schemaVersions skips and whose number stays burned) sends us
      // around the loop to claim the next number
      if (claimed && ControlFs.readSmall(path).contains(content)) return v
      if (attempt >= maxRetries) throw new IllegalStateException("schema commit conflict")
    }
    -1 // unreachable
  }

  // ---- read path ------------------------------------------------------

  import IceTable.SEQ

  /** Current table state: data files minus equality deletes, aligned to the
    * latest schema.
    */
  def read(spark: SparkSession): DataFrame = scan(spark, None)

  /** Time travel: table state as of commit `seq` (inclusive). */
  def readAt(spark: SparkSession, seq: Long): DataFrame =
    scan(spark, None, maxSeq = Some(seq))

  /** Read with metadata-level partition pruning: `pred` sees each file's
    * partition-value map (e.g. `Map("ts_day" -> "2024-01-03")`) and files
    * failing it are never opened (Iceberg manifest-pruning equivalent).
    */
  def scan(
      spark: SparkSession,
      pred: Option[Map[String, String] => Boolean],
      maxSeq: Option[Long] = None,
      filePred: Option[FileEntry => Boolean] = None
  ): DataFrame = {
    val cur = schema
    // ONE commit-log pass per scan: planning and delete attribution both
    // derive from the same fetched chain (commits() pays a checkpoint +
    // tail deserialization — reading it twice per query doubled the
    // metadata cost of every read on long logs)
    val all0 = commitsUpTo(maxSeq)
    val dataFiles = planFrom(all0, pred, filePred)
    // Delete files use the same global-first replay attribution as data
    // files: a replay keeps its original seq (no-op against rows it
    // already applied to, invisible to rows appended since), and a
    // delete whose FIRST listing precedes the live window was already
    // folded into the compaction rewrite — skip reading it entirely.
    val liveFrom = liveChain(all0).headOption.map(_.seq).getOrElse(Long.MinValue)
    val delFiles = firstListedDeletes(all0).filter { case (_, s) => s >= liveFrom }

    if (dataFiles.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cur)

    val data = readAligned(spark, dataFiles, cur, v => schemaAt(v))
    applyEqualityDeletes(spark, data, delFiles, cur).drop(SEQ)
  }

  /** Anti-join `data` (carrying [[IceTable.SEQ]]) against equality-delete
    * key files; a delete at seq d removes rows with seq < d (Iceberg v2
    * sequence rule). Broadcast the delete side only while its on-disk
    * bytes stay small: row counts mis-size wide composite keys (5M rows
    * of fat keys can blow the broadcast limit), bytes don't. Entries
    * without recorded sizes (pre-stats commits) estimate from their row
    * count, so a legacy 50M-row delete file still shuffles; entries with
    * neither get a conservative per-file constant.
    */
  private def applyEqualityDeletes(
      spark: SparkSession,
      data: DataFrame,
      delFiles: Seq[(FileEntry, Long)],
      cur: StructType): DataFrame = {
    val keyCols = meta.idColumns
    if (delFiles.isEmpty || keyCols.isEmpty) return data
    val keySchema = StructType(cur.fields.filter(f => keyCols.contains(f.name)))
    val dels = readAligned(spark, delFiles, keySchema, v => keyProjection(schemaAt(v), keyCols))
    val delBytes = delFiles.map { case (f, _) => IceTable.deleteSideBytes(f) }.sum
    val rhs0 = dels.withColumnRenamed(SEQ, "__graft_dseq")
    val rhs = if (delBytes < IceTable.DeleteBroadcastBytes) broadcast(rhs0) else rhs0
    val cond = keyCols
      .map(k => data(k) <=> rhs(k))
      .reduce(_ && _) && rhs("__graft_dseq") > data(SEQ)
    data.join(rhs, cond, "left_anti")
  }

  /** Incremental append scan (Iceberg incremental-read analogue): the
    * rows ADDED by commits with `fromSeq < seq <= toSeq`, aligned to the
    * current schema — the consume-only-what's-new primitive an
    * incremental downstream pipeline polls a table with (checkpoint the
    * last seen seq, read forward from it).
    *
    * Rewrite commits (full compaction, bin-pack, z-order) are SKIPPED —
    * they move bytes, not logical rows, so a consumer that already saw
    * the data must not see it again. Delta commits contribute their new
    * data files; their equality deletes apply WITHIN the window (the
    * standard seq rule), while deletes aimed at pre-window rows are
    * invisible here — append-scan semantics, matching Iceberg's
    * incremental scan (which refuses replace commits outright; skipping
    * is the more useful contract and is documented loudly instead).
    */
  def readIncremental(spark: SparkSession, fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq, s"readIncremental: fromSeq $fromSeq > toSeq $toSeq")
    val cur = schema
    val nonCompaction = log.commits()
      .filterNot(c => c.props.keys.exists(_.startsWith("compaction")))
    // window files are read as committed, even if a LATER rewrite
    // superseded them for current-state reads — they are still the
    // window's logical rows. After gc removes superseded originals the
    // read fails loudly on the missing file, exactly like readAt past
    // the gc horizon: incremental consumers are expected to stay ahead
    // of maintenance, and a silent row drop here would be corruption.
    // Path attribution is global-first (K7): a file first added BEFORE
    // the window and re-listed inside it is a replayed envelope, not
    // window data.
    val dataFiles = firstListed(nonCompaction)
      .filter { case (_, s) => s > fromSeq && s <= toSeq }
    if (dataFiles.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cur)
    val data = readAligned(spark, dataFiles, cur, v => schemaAt(v))
    // same global-first attribution for deletes: a delete file REPLAYED
    // into the window (first listed before it) already took effect and
    // must not re-apply at the replay's seq
    val delFiles = firstListedDeletes(nonCompaction)
      .filter { case (_, s) => s > fromSeq && s <= toSeq }
    applyEqualityDeletes(spark, data, delFiles, cur).drop(SEQ)
  }

  /** Change data feed (Iceberg changelog-scan / Delta CDF analogue): the
    * row-level change events committed in `(fromSeq, toSeq]` — appended
    * rows as `insert` changes, equality-delete keys as `delete` changes
    * (key columns populated, the rest NULL: the delete file stores keys,
    * not row images), and partition-overwrite commits as full-row
    * `delete` retractions of the replaced files plus inserts of the new
    * ones (exact payloads — the superseded files exist until gc; rows
    * already equality-deleted before the overwrite are NOT re-retracted).
    * Changes are NOT netted: an in-window insert later deleted in-window
    * shows both events, ordered by `_commit_seq` — the shape a
    * downstream incremental materialization replays. Rewrites are
    * skipped (they move bytes, not logical rows), same contract as
    * [[readIncremental]].
    */
  def readChanges(spark: SparkSession, fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq, s"readChanges: fromSeq $fromSeq > toSeq $toSeq")
    val cur = schema
    val all = log.commits()
    val nonCompaction =
      all.filterNot(c => c.props.keys.exists(_.startsWith("compaction")))
    val window = nonCompaction.filter(c => c.seq > fromSeq && c.seq <= toSeq)
    val keyCols = meta.idColumns
    // global-first attribution (K7): replayed listings are not inserts
    val dataFiles = firstListed(nonCompaction)
      .filter { case (_, s) => s > fromSeq && s <= toSeq }
    val inserts =
      if (dataFiles.isEmpty) None
      else Some(readAligned(spark, dataFiles, cur, v => schemaAt(v))
        .withColumn("_change_type", lit("insert")))
    // global-first attribution (K7) for the delete arm too: a replayed
    // delete file is not a new delete event
    val delFiles = firstListedDeletes(nonCompaction)
      .filter { case (_, s) => s > fromSeq && s <= toSeq }
    val deletes =
      if (delFiles.isEmpty || keyCols.isEmpty) None
      else {
        val keySchema = StructType(cur.fields.filter(f => keyCols.contains(f.name)))
        val keys = readAligned(spark, delFiles, keySchema, v => keyProjection(schemaAt(v), keyCols))
        val widened: Seq[Column] = cur.fields.toSeq.map { f =>
          if (keyCols.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } :+ col(SEQ)
        Some(keys.select(widened: _*).withColumn("_change_type", lit("delete")))
      }
    // overwrite commits RETRACT the rows of the files they supersede —
    // full-row delete events (the replaced files still exist until gc, so
    // the payload is exact, not key-only). The original FileEntry (schema
    // version, format) is recovered from the commit that added the path.
    val byPath: Map[String, (FileEntry, Long)] =
      firstListed(all).map { case (f, s) => IceTable.normalizePath(f.path) -> ((f, s)) }.toMap
    // Retraction reads first apply the equality deletes committed BETWEEN
    // a file's original append and the overwrite: a row equality-deleted
    // in a prior delta commit was no longer live, and emitting a second
    // full-row delete for it would make a downstream replay double-delete
    // (count goes negative). Each retracted file is stamped with its
    // ORIGINAL add-seq so applyEqualityDeletes' sequence rule
    // (delete seq > data seq) selects exactly the in-between deletes; the
    // surviving (still-live) rows are then re-stamped to the overwrite
    // commit's seq for `_commit_seq`.
    val retractions: Seq[DataFrame] = window
      .filter(_.props.contains("overwrite-partitions"))
      .flatMap { c =>
        val files = c.removedPaths.flatMap(p => byPath.get(IceTable.normalizePath(p)))
        if (files.isEmpty) None
        else {
          val raw = readAligned(spark, files, cur, v => schemaAt(v))
          // first-listing seqs here too: a replayed delete listing between
          // the original append and the overwrite must not retract rows
          // that were live at the ORIGINAL delete's seq
          val preDels = firstListedDeletes(all).filter { case (_, s) => s <= c.seq }
          Some(applyEqualityDeletes(spark, raw, preDels, cur)
            .withColumn(SEQ, lit(c.seq))
            .withColumn("_change_type", lit("delete")))
        }
      }
    val outSchema = StructType(cur.fields.toSeq :+
      org.apache.spark.sql.types.StructField("_change_type", org.apache.spark.sql.types.StringType) :+
      org.apache.spark.sql.types.StructField("_commit_seq", org.apache.spark.sql.types.LongType))
    (inserts.toSeq ++ deletes.toSeq ++ retractions) match {
      case Nil => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
      case parts => parts.reduce(_.unionByName(_))
        .select(cur.fieldNames.toIndexedSeq.map(col) :+
          col("_change_type") :+ col(SEQ).as("_commit_seq"): _*)
    }
  }

  /** K7 cross-envelope replay guard: attribute each data-file path to
    * the FIRST commit (in seq order) that listed it. A later commit
    * re-listing the same path is a replayed envelope, not new data —
    * counting it again would duplicate the file's rows, and the
    * seq-attach join in [[readAligned]] would MULTIPLY them (file read
    * once per listing × one join row per listing). Within-commit
    * duplicates are already dropped by the commit builder
    * ([[CommitLog.commit]]); this is the across-commits arm
    * (`channel/Deduplicated.java:79-148` dedups both).
    */
  private def firstListed(commits: Seq[Commit]): Seq[(FileEntry, Long)] =
    firstListedBy(commits, _.dataFiles)

  /** The across-commits replay guard for DELETE files: same attribution
    * rule as the data arm. A replayed envelope re-listing an equality-
    * delete file must keep its ORIGINAL seq — re-stamping it with the
    * replay's (higher) seq would make the sequence rule
    * (delete seq > data seq) swallow rows appended AFTER the original
    * delete: silent data loss on the exact at-least-once delivery the
    * commit log exists to absorb.
    */
  private def firstListedDeletes(commits: Seq[Commit]): Seq[(FileEntry, Long)] =
    firstListedBy(commits, _.deleteFiles)

  private def firstListedBy(
      commits: Seq[Commit],
      files: Commit => Seq[FileEntry]): Seq[(FileEntry, Long)] = {
    val seen = scala.collection.mutable.HashSet[String]()
    commits.flatMap(c => files(c).flatMap(f =>
      if (seen.add(IceTable.normalizePath(f.path))) Some((f, c.seq)) else None))
  }

  /** Live-chain commits carrying equality-delete files since the last
    * full rewrite — the read-amplification driver the CDC probe measures
    * (SCALE.md "CDC / MERGE read path"): each accumulated delta commit
    * adds a ~constant anti-join cost to every current-state read until a
    * compaction folds them. [[Maintenance.auto]] compacts when this
    * crosses its threshold.
    */
  def deltaCommitsSinceCompaction: Int =
    liveChain(log.commits()).count(_.deleteFiles.nonEmpty)

  private def commitsUpTo(maxSeq: Option[Long]): Seq[Commit] = {
    val all1 = log.commits()
    maxSeq.fold(all1)(s => all1.filter(_.seq <= s))
  }

  /** Live suffix of an already maxSeq-bounded chain: everything from the
    * last full-compaction rewrite on (old files stay on disk for time
    * travel / GC).
    */
  private def liveChain(all0: Seq[Commit]): Seq[Commit] = {
    val lastRewrite = all0.lastIndexWhere(_.props.get("compaction").contains("true"))
    if (lastRewrite >= 0) all0.drop(lastRewrite) else all0
  }

  /** Live commit chain at `maxSeq`. */
  private def liveCommits(maxSeq: Option[Long]): Seq[Commit] =
    liveChain(commitsUpTo(maxSeq))

  /** Metadata-level file planning: partition-value pruning plus optional
    * per-file predicates over the recorded stats (row counts, byte sizes,
    * column min/max bounds) — files failing either are never opened.
    * This is the scan's planner; tests call it directly to assert skipping.
    */
  def planFiles(
      pred: Option[Map[String, String] => Boolean],
      maxSeq: Option[Long] = None,
      filePred: Option[FileEntry => Boolean] = None
  ): Seq[(FileEntry, Long)] =
    planFrom(commitsUpTo(maxSeq), pred, filePred)

  /** [[planFiles]] over an already-fetched commit chain — scan() shares
    * one chain between planning and delete attribution. */
  private def planFrom(
      all0: Seq[Commit],
      pred: Option[Map[String, String] => Boolean],
      filePred: Option[FileEntry => Boolean]
  ): Seq[(FileEntry, Long)] = {
    val live = liveChain(all0)
    // First-listing attribution runs over the FULL history, then keeps
    // only attributions landing in the live window: a replayed envelope
    // re-listing a pre-compaction file AFTER the compaction must not be
    // mistaken for that file's first listing — the compaction rewrite
    // already carries its rows, so counting the replay would read them
    // twice (the file survives on disk for time travel until gc).
    val liveFrom = live.headOption.map(_.seq).getOrElse(Long.MinValue)
    val removed = live.flatMap(_.removedPaths).map(IceTable.normalizePath).toSet
    val keep: FileEntry => Boolean = f =>
      !removed.contains(IceTable.normalizePath(f.path)) &&
        pred.forall(p => p(f.partition)) && filePred.forall(p => p(f))
    firstListed(all0).filter { case (f, s) => s >= liveFrom && keep(f) }
  }

  private def keyProjection(s: StructType, keyCols: Seq[String]): StructType =
    StructType(keyCols.flatMap(k => s.fields.find(_.name == k)))

  /** Read a set of (file, seq) entries, grouped by the schema version they
    * were written with, align each group to `target` (cast widened types,
    * null-fill added columns), and attach the owning commit's sequence
    * number via a broadcast `input_file_name()` join.
    */
  private def readAligned(
      spark: SparkSession,
      files: Seq[(FileEntry, Long)],
      target: StructType,
      versionSchema: Int => StructType
  ): DataFrame = {
    // per-file format, falling back to the PERSISTED table format for
    // entries that predate per-file recording — never the write-props
    // overlay, which must not re-type files that already exist
    val legacyFmt = rawMeta.format
    def fmtOf(f: FileEntry): String = if (f.format.nonEmpty) f.format else legacyFmt
    val groups = files.groupBy(e => (e._1.schemaVersion, fmtOf(e._1))).toSeq.sortBy(_._1)
    val parts = groups.map { case ((ver, fmt), entries) =>
      val written = versionSchema(ver)
      val df = spark.read.schema(written).format(fmt).load(entries.map(_._1.path): _*)
      // key by the URI-ENCODED path: input_file_name() returns the scan's
      // URL-encoded file path (space → %20, % → %25, via Path.toUri), so
      // the metadata side must encode the same way or the inner join
      // silently drops every row of a file whose path needs encoding
      val seqRows = entries.map { case (f, s) =>
        Row(IceTable.normalizePath(new org.apache.hadoop.fs.Path(f.path).toUri.toString), s)
      }
      val seqDf = spark.createDataFrame(
        spark.sparkContext.parallelize(seqRows, 1),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("__graft_file", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(SEQ, org.apache.spark.sql.types.LongType)
        ))
      )
      val withSeq = df
        .withColumn("__graft_file",
          regexp_replace(input_file_name(), IceTable.SchemePrefixRegex, "/"))
        .join(broadcast(seqDf), Seq("__graft_file"))
        .drop("__graft_file")
      // align to target schema — the coercion kernel, not a bare cast:
      // it rebuilds structs field-wise (null-filling fields added by
      // evolution, including inside array elements / map values, which
      // cast cannot do) and widens scalars
      val cols: Seq[Column] = target.fields.toSeq.map { f =>
        written.fields.find(_.name == f.name) match {
          case Some(w) => graft.operators.Coercion.coerce(col(f.name), w.dataType, f.dataType).as(f.name)
          case None    => lit(null).cast(f.dataType).as(f.name)
        }
      } :+ col(SEQ)
      withSeq.select(cols: _*)
    }
    parts.reduce(_.unionByName(_))
  }

  // ---- metadata tables ------------------------------------------------

  /** Iceberg `snapshots`-metadata-table analogue: one row per commit on
    * this branch, straight from the commit log — metadata only, no data
    * file is opened, so the cost is O(commits) regardless of table size.
    * `operation` mirrors Iceberg's summary: compaction rewrites are
    * `replace`, commits carrying equality deletes `overwrite`, plain
    * appends `append`.
    */
  def snapshots(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = log.commits().map { c =>
      // partition overwrites supersede live rows without delete files —
      // Iceberg labels them 'overwrite' too; only labeling delete-carrying
      // commits would hide destructive history from an audit
      val op =
        if (c.props.keys.exists(_.startsWith("compaction"))) "replace"
        else if (c.deleteFiles.nonEmpty || c.props.contains("overwrite-partitions")) "overwrite"
        else "append"
      Row(c.seq, c.batchId, c.commitId, c.timestampMs, op,
        c.dataFiles.size.toLong,
        // rows carries the same -1 unknown sentinel as bytes (formats
        // without readable footers) — unguarded it would SUBTRACT from
        // the audit totals
        c.dataFiles.map(f => math.max(f.rows, 0L)).sum,
        c.dataFiles.map(f => math.max(f.bytes, 0L)).sum,
        c.deleteFiles.size.toLong, c.removedPaths.size.toLong,
        c.vtts.map(long2Long).orNull)
    }
    val schema = StructType(Seq(
      StructField("seq", LongType, nullable = false),
      StructField("batch_id", LongType, nullable = false),
      StructField("commit_id", StringType, nullable = false),
      StructField("committed_at_ms", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("added_files", LongType, nullable = false),
      StructField("added_rows", LongType, nullable = false),
      StructField("added_bytes", LongType, nullable = false),
      StructField("delete_files", LongType, nullable = false),
      StructField("removed_files", LongType, nullable = false),
      StructField("vtts_us", LongType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Iceberg `files`-metadata-table analogue: one row per LIVE data file
    * (current state — post-rewrite chain, superseded paths excluded),
    * carrying the commit seq it arrived in and its recorded stats. The
    * planner's view of the table, exposed as a queryable DataFrame for
    * operational checks (small-file ratios, partition balance, stats
    * coverage) without touching any data file.
    */
  def filesMeta(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = planFiles(None).map { case (f, seq) =>
      Row(f.path, seq, f.rows, f.bytes,
        if (f.format.nonEmpty) f.format else rawMeta.format,
        f.partition, f.min, f.max)
    }
    val schema = StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("partition", MapType(StringType, StringType), nullable = false),
      StructField("lower_bounds", MapType(StringType, StringType), nullable = false),
      StructField("upper_bounds", MapType(StringType, StringType), nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Iceberg `partitions`-metadata-table analogue: [[filesMeta]] rolled
    * up per partition tuple — file/row/byte counts from recorded stats,
    * still metadata-only. The map key is grouped via its sorted entry
    * array (Spark cannot group a MapType directly) and restored for the
    * output.
    */
  def partitionsMeta(spark: SparkSession): DataFrame =
    filesMeta(spark)
      .groupBy(array_sort(map_entries(col("partition"))).as("p"))
      .agg(count(lit(1)).as("files"),
        // same -1 unknown-sentinel guard as bytes (see snapshots())
        sum(greatest(col("rows"), lit(0L))).as("row_count"),
        sum(greatest(col("bytes"), lit(0L))).as("bytes"))
      .select(map_from_entries(col("p")).as("partition"),
        col("files"), col("row_count"), col("bytes"))

  /** Fast-forward THIS branch to include `from`'s newer commits — the
    * write-audit-publish pattern (Iceberg branch fast_forward): ingest
    * into an audit branch (`iceberg.table.<t>.commit-branch`), validate,
    * then publish by fast-forwarding main. Data files are shared by path
    * (never copied); each entry is re-claimed through the normal
    * optimistic commit, so concurrent writers on this branch stay safe.
    * Requires this branch's history to be a prefix of `from`'s (same seqs
    * = same commit ids), else fails — matching Iceberg's
    * not-an-ancestor error. Returns the number of commits published.
    */
  def fastForwardFrom(from: String): Int = {
    val source = new IceTable(dir, from)
    val srcCommits = source.log.commits()
    val mine = log.commits()
    val divergent = mine.zip(srcCommits).find { case (a, b) => a.commitId != b.commitId }
    require(divergent.isEmpty && mine.size <= srcCommits.size,
      s"branch '$branch' is not an ancestor of '$from'")
    val newer = srcCommits.drop(mine.size)
    // Copied entries are RENUMBERED to this branch's own contiguous seqs:
    // requiring source-seq equality wedged fast-forward forever when the
    // source branch carried a crashed duplicate-batch zombie (its raw
    // file permanently claims a seq that the FILTERED history skips, so
    // the target's next seq could never equal the source's). Ancestry is
    // positional over commit ids (the prefix check above), and relative
    // order — all equality-delete and rewrite semantics need — survives
    // gap compression. Concurrent target advance is still detected: each
    // claim must land exactly one past the raw head snapshotted here
    // (zombies included — a zombie IS a concurrent writer's leavings).
    var expected = log.lastSeq()
    newer.foreach { c =>
      expected += 1
      // batchId -1 skips the replay fence (entries are copied verbatim
      // apart from the seq)
      log.commit(-1L, seq => {
        require(seq == expected,
          s"branch '$branch' advanced concurrently during fast-forward")
        c.copy(seq = seq)
      })
    }
    newer.size
  }

  /** Declarative MERGE (Delta/Iceberg `MERGE INTO` analogue) over the
    * delta-commit primitive: every source row keyed on this table's
    * id-columns replaces the table's row of the same key (equality
    * delete + insert); rows satisfying `deleteWhen` delete the key
    * without inserting; unmatched keys simply insert. One delta commit —
    * the same shuffle-free write shape as CDC ingestion, no read of the
    * target table at merge time (the delete applies at READ, the
    * Iceberg v2 lazy-merge trade: merge cost is O(source), scan cost
    * carries the anti-join).
    *
    * The source must be unique per key — MERGE on an ambiguous source is
    * an error in every engine (Delta's
    * DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW_IN_MERGE); enforced
    * here with one aggregation when `validateUnique` (on by default,
    * skippable when the caller just deduplicated).
    */
  def merge(
      spark: SparkSession,
      source: DataFrame,
      deleteWhen: Option[Column] = None,
      batchId: Long = -1L,
      validateUnique: Boolean = true
  ): Option[Commit] = {
    val keyCols = meta.idColumns
    require(keyCols.nonEmpty, "merge requires id-columns on the table")
    // the source may carry extra columns the deleteWhen predicate needs
    // (e.g. an op marker); the insert payload is the table schema's
    // projection, taken AFTER the predicate filters
    val cur = schema
    val cols = cur.fieldNames.toSeq
    val missing = cols.filterNot(source.columns.contains)
    require(missing.isEmpty, s"merge source is missing table columns: ${missing.mkString(", ")}")
    // one evaluation of the source feeds the uniqueness check, the data
    // rows and the delete keys: a non-deterministic source recomputed per
    // job could otherwise delete keys it never writes (or the reverse)
    val src = graft.operators.HotPath.pin(source)
    if (validateUnique) {
      val dups = src.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).limit(1).collect()
      require(dups.isEmpty,
        s"merge source has multiple rows for key ${dups.headOption.map(_.toString).getOrElse("")} — " +
          "deduplicate the source first (every engine rejects ambiguous MERGE sources)")
    }
    val del = deleteWhen.getOrElse(lit(false))
    // align source TYPES to the table schema before writing — a source
    // with a mismatched column type (string ids from JSON, int where the
    // table is long) would otherwise commit parquet files whose physical
    // types poison every later read of the table. strict: a value that
    // cannot coerce fails THIS merge loudly instead.
    val data = graft.operators.Coercion.project(
      src.filter(!coalesce(del, lit(false))), cur,
      caseInsensitive = false, strict = true)
    val keySchema = StructType(cur.fields.filter(f => keyCols.contains(f.name)))
    val deleteKeys = graft.operators.Coercion.project(
      src.select(keyCols.map(col): _*), keySchema,
      caseInsensitive = false, strict = true)
    graft.sink.IceTableWriter.delta(spark, data, deleteKeys, this, batchId)
  }

  // ---- maintenance ----------------------------------------------------

  /** Rewrite current state as a single fresh append (applies accumulated
    * equality deletes); the compaction commit uses batchId -1 (not a
    * stream batch). Old files become unreferenced for later GC.
    *
    * `sortBy` rewrites range-partitioned and sorted on those columns, so
    * every output file covers a disjoint value range — per-file min/max
    * bounds then prune range scans to the few files that actually
    * overlap (the sort-ordered rewrite a data-skipping table runs after
    * unordered ingest).
    */
  def compact(spark: SparkSession, sortBy: Seq[String] = Nil, sortPartitions: Int = 0): Unit = {
    // the writer does the sort clustering itself — range-partition + sort
    // on (partition values, sortBy), replacing its usual rebalance — so
    // partitioned tables keep the ordering through the fan-out write
    // (a pre-shuffle here would be destroyed by the writer's clustering).
    // Default partition sizing is AQE-advisory; sortPartitions pins it.
    //
    // Optimistic conflict loop: a rewrite re-stamps rows at its own seq,
    // so an equality delete committed AFTER this read but BEFORE the
    // rewrite's commit would be silently voided (delete seq < new data
    // seq). The writer validates at commit-claim time and aborts with
    // CommitConflictException; re-reading then picks the delete up.
    withConflictRetry { scanSeq =>
      graft.sink.IceTableWriter.append(spark, read(spark), this, batchId = -1,
        compaction = true, sortBy = sortBy, sortPartitions = sortPartitions,
        validateFromSeq = Some(scanSeq))
    }
    ()
  }

  /** The ONE bounded optimistic conflict-retry protocol every rewrite
    * shares (it was hand-copied three times until r13 — the r12 fix had
    * to patch the same seq-anchor bug in each copy): every attempt
    * re-plans `body` from CURRENT state anchored at the zombie-filtered
    * commit head — lastCommittedSeq, NOT lastSeq, because a
    * duplicate-batch zombie counted by the raw listing can roll back and
    * free its seq for reuse, and a validation window anchored past it
    * would miss the real commit that reuses the seq (see
    * [[CommitLog.lastCommittedSeq]]). Sustained concurrent delete/rewrite
    * traffic surfaces as [[CommitConflictException]] after `maxAttempts`
    * instead of livelocking.
    */
  private def withConflictRetry[A](body: Long => A, maxAttempts: Int = 3): A = {
    var attempt = 0
    while (true) {
      attempt += 1
      val scanSeq = log.lastCommittedSeq()
      try return body(scanSeq)
      catch {
        case e: CommitConflictException => if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Z-order rewrite (Iceberg/Delta `rewrite … zorder by` analogue):
    * rewrite current state clustered along a Morton curve over `cols`
    * (2 or 3 numeric columns), so per-file min/max bounds are tight in
    * EVERY listed dimension and multi-dimensional box scans prune files
    * on all of them — a 1-D sorted rewrite only ever prunes its sort
    * column. Normalization bounds come from one tiny min/max agg; the
    * z-value is pure codegen'd built-ins ([[graft.functions.ZOrder]]),
    * evaluated inside the rewrite's range-partition + sort, never stored.
    */
  def compactZOrder(
      spark: SparkSession,
      cols: Seq[String],
      bits: Int = 16,
      sortPartitions: Int = 0
  ): Unit = {
    require(cols.size == 2 || cols.size == 3,
      s"z-order needs 2 or 3 columns, got ${cols.mkString(", ")}")
    require(bits >= 1 && bits <= (if (cols.size == 2) 31 else 21),
      s"bits=$bits out of range for ${cols.size} dimensions")
    // same optimistic concurrent-delete conflict loop as [[compact]]
    val fellBack = withConflictRetry { scanSeq =>
      val df = read(spark)
      // one k-row agg for normalization bounds (k = dimension count).
      // nanvl(·, null): NaN values must not become a bound — Spark's
      // max() returns NaN for any NaN input (NaN orders largest), and a
      // NaN bound silently zeroes every z-contribution (normalize now
      // also rejects NaN bounds loudly). NaN VALUES clamp to the top
      // bucket inside normalize.
      val bounds = df.select(cols.flatMap(c =>
        Seq(min(nanvl(col(c).cast("double"), lit(null))).as(s"${c}__mn"),
          max(nanvl(col(c).cast("double"), lit(null))).as(s"${c}__mx"))): _*).head()
      if (bounds.anyNull) true // all-null dimension: z-order is meaningless
      else {
        val normalized = cols.zipWithIndex.map { case (c, i) =>
          graft.functions.ZOrder.normalize(col(c),
            bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1), bits)
        }
        val z = graft.functions.ZOrder.interleave(normalized)
        graft.sink.IceTableWriter.append(spark, df, this, batchId = -1,
          compaction = true, sortExprs = Seq(z), sortPartitions = sortPartitions,
          validateFromSeq = Some(scanSeq))
        false
      }
    }
    if (fellBack) compact(spark, sortPartitions = sortPartitions)
  }

  /** Bin-packing small-file compaction (Iceberg rewrite-data-files
    * analogue): coalesce live data files smaller than `targetFileBytes`
    * into ~target-sized ones, superseding the originals via
    * `Commit.removedPaths` — large files are never rewritten, so the
    * operation costs O(small-file bytes), not O(table). No-op unless at
    * least `minInputFiles` qualify. Returns the number of input files
    * rewritten.
    *
    * Only safe combined with equality deletes when the packed rows keep
    * their original commit seqs — rewriting would lose delete ordering —
    * so tables with id columns and live delete files fall back to full
    * [[compact]] semantics (which applies the deletes); in that fallback
    * EVERY live data file is rewritten and counted, not just small ones.
    */
  def compactSmallFiles(
      spark: SparkSession,
      targetFileBytes: Long,
      minInputFiles: Int = 2
  ): Int = {
    // same bounded optimistic-conflict loop as [[compact]] (a conflicted
    // attempt re-plans: the hasLiveDeletes guard then sees the new delete
    // and takes the full-compact path, which applies deletes and has its
    // own bounded conflict loop)
    withConflictRetry { scanSeq =>
      val hasLiveDeletes = meta.idColumns.nonEmpty &&
        liveCommits(None).exists(_.deleteFiles.nonEmpty)
      if (hasLiveDeletes) {
        val rewritten = planFiles(None).size
        compact(spark)
        rewritten
      } else {
        val small = planFiles(None, filePred =
          Some(f => f.bytes >= 0 && f.bytes < targetFileBytes))
        // isEmpty guard is separate from the minInputFiles threshold: a caller
        // passing minInputFiles <= 0 must still no-op (readAligned on zero
        // files would reduce over an empty group list)
        if (small.isEmpty || small.size < minInputFiles) 0
        else {
          val cur = schema
          val df = readAligned(spark, small, cur, v => schemaAt(v)).drop(IceTable.SEQ)
          val totalBytes = small.map(_._1.bytes).sum
          val outParts = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
          graft.sink.IceTableWriter.rewrite(
            spark, df.coalesce(outParts), this,
            removedPaths = small.map(_._1.path),
            props = Map("compaction-small" -> "true"),
            // the hasLiveDeletes guard above is check-then-act: a delta commit
            // landing between it and this rewrite's commit would have its
            // delete voided for the packed rows (they re-stamp at a higher
            // seq). The writer validates at commit-claim time instead.
            validateFromSeq = Some(scanSeq),
            // a plain append never loses to this rewrite: the live chain is
            // not truncated and removedPaths covers only the scanned small
            // files — so concurrent ingest must not abort the compaction
            allowConcurrentAppends = true)
          small.size
        }
      }
    }
  }

  /** fsck-style integrity audit of the LIVE table state: every referenced
    * data/delete file must exist on disk with its recorded byte size and
    * (for footer-bearing formats) its recorded row count. Returns one row
    * per problem — an empty result is a healthy table. Metadata + footer
    * reads only, never data; run it before trusting a restored/copied
    * warehouse.
    */
  def fsck(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val legacyFsckFmt = rawMeta.format
    val live = liveCommits(None)
    val removed = live.flatMap(_.removedPaths).map(IceTable.normalizePath).toSet
    val entries: Seq[(FileEntry, Long, String)] =
      live.flatMap(c =>
        c.dataFiles.filterNot(f => removed.contains(IceTable.normalizePath(f.path)))
          .map(f => (f, c.seq, "data")) ++
          c.deleteFiles.map(f => (f, c.seq, "delete")))
    // footer opens dominate; run them in parallel on the driver pool —
    // the same I/O shape as the writer's stats collection (at genuinely
    // huge file counts, run fsck per-branch/partition subset; the check
    // itself stays metadata-only either way)
    val problemList = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    // resolve the FS once on the caller thread: the pool threads inside
    // parallelStream may not carry the active Spark session, and
    // ControlFs.conf would then miss the session's fs.* bindings
    val fsckConf = ControlFs.conf
    entries.asJava.parallelStream().forEach { case (f, seq, kind) =>
      val hp = new org.apache.hadoop.fs.Path(f.path)
      val st =
        try Some(hp.getFileSystem(fsckConf).getFileStatus(hp))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case None =>
          problemList.add(Row(f.path, seq, kind, "missing", "file not found"))
        case Some(status) =>
          val sz = status.getLen
          // entries predating per-file formats ("") resolve to the table's
          // persisted format — same rule as every reader — so legacy
          // parquet/ORC entries get their footers verified too
          val fmt = if (f.format.nonEmpty) f.format else legacyFsckFmt
          if (f.bytes >= 0 && sz != f.bytes)
            problemList.add(Row(f.path, seq, kind, "size-mismatch",
              s"recorded ${f.bytes} bytes, found $sz"))
          else if (f.rows >= 0 && (fmt == "parquet" || fmt == "orc")) {
            val actual =
              try graft.sink.IceTableWriter.rowCount(f.path, fmt, fsckConf)
              catch { case _: Exception => -1L }
            if (actual != f.rows)
              problemList.add(Row(f.path, seq, kind, "row-mismatch",
                s"recorded ${f.rows} rows, footer has $actual"))
          }
      }
    }
    val problems = problemList.asScala.toSeq
    val schema = StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("problem", StringType, nullable = false),
      StructField("detail", StringType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(problems, 1), schema)
  }

  /** Remove data/delete files no branch can still reach (i.e. referenced
    * only by commits superseded by a compaction rewrite). Trades time
    * travel past the last rewrite for space — Iceberg's
    * expire-snapshots/remove-orphans rolled into one for this format.
    * Returns the number of deleted files.
    *
    * `olderThanMs`: only unreferenced files at least this old are removed
    * (Iceberg remove-orphans' older-than rule): a concurrent writer
    * stages files BEFORE publishing its commit entry, so an age-less gc
    * racing an in-flight write would delete freshly staged data. Pass 0
    * only when no writer can be active (tests, single-process demos).
    *
    * `stagingGraceMs`: staging dirs carrying a live `_staging` marker
    * (written by the sink before the first byte, cleared at publish) are
    * skipped ENTIRELY until the marker is this old — the age rule alone
    * cannot protect a write job that runs longer than `olderThanMs`
    * (its earliest part files age past the cutoff while the job is
    * still staging; a 15-minute compaction under the 10-minute default
    * would lose files and publish a commit referencing deleted paths).
    * An expired marker means a crashed/abandoned writer: its dir is
    * reclaimed by the normal orphan rules.
    */
  def gc(
      olderThanMs: Long = IceTable.DefaultGcOrphanAgeMs,
      stagingGraceMs: Long = IceTable.DefaultGcStagingGraceMs): Int = {
    val now = System.currentTimeMillis()
    val cutoff = now - olderThanMs
    val stagingCutoff = now - stagingGraceMs
    val branchDirs = ControlFs.list(s"$dir/_commits").filter(_.isDirectory)
    val live = branchDirs.flatMap { bd =>
      val commits = new CommitLog(bd.getPath.toString).commits()
      val lastRewrite = commits.lastIndexWhere(_.props.get("compaction").contains("true"))
      val active = if (lastRewrite >= 0) commits.drop(lastRewrite) else commits
      // bin-pack-superseded files stay: commits below the rewrite can
      // still time-travel to them (the removedPaths contract). They are
      // reclaimed when a later FULL compaction truncates the window —
      // the only point this format gives up time travel.
      active.flatMap(c => (c.dataFiles ++ c.deleteFiles).map(f => IceTable.normalizePath(f.path)))
    }.toSet
    var removed = 0
    for (sub <- Seq("data", "deletes")) {
      val root = s"$dir/$sub"
      // staging roots whose marker is still inside the grace window: a
      // writer is (or may be) mid stage→publish — skip every entry
      // under them, including empty partition subdirs it is filling
      val protectedRoots: Set[String] = ControlFs.list(root)
        .filter(_.isDirectory)
        .filter { d =>
          ControlFs.status(s"${d.getPath}/${IceTable.StagingMarker}")
            .exists(_.getModificationTime > stagingCutoff)
        }
        .map(d => IceTable.normalizePath(d.getPath.toString))
        .toSet
      // post-order walk: files (and emptied subdirs) before their parent
      ControlFs.walkPostOrder(root).foreach { st =>
        val p = st.getPath.toString
        val norm = IceTable.normalizePath(p)
        if (protectedRoots.exists(r => norm == r || norm.startsWith(r + "/"))) ()
        else if (st.isFile && !live.contains(norm) && st.getModificationTime <= cutoff) {
          ControlFs.delete(p, recursive = false)
          removed += 1
        } else if (st.isDirectory && ControlFs.list(p).isEmpty) {
          ControlFs.delete(p, recursive = false)
        }
      }
    }
    removed
  }
}

object IceTable {
  private[graft] val SEQ = "__graft_seq"

  /** Default orphan age before [[IceTable.gc]] may delete an unreferenced
    * file — covers the gap between a part file landing and its commit
    * publishing for SHORT writes; long write jobs are protected by the
    * `_staging` marker + [[DefaultGcStagingGraceMs]] instead (their
    * earliest part files age past any reasonable cutoff mid-job). */
  private[graft] val DefaultGcOrphanAgeMs: Long = 10L * 60 * 1000

  /** Marker file a writer drops at the root of its staging dir before
    * the first byte and clears at publish: gc skips marked dirs wholesale
    * while the marker is younger than the staging grace. */
  private[graft] val StagingMarker: String = "_staging"

  /** How old a `_staging` marker must be before gc treats its dir as a
    * crashed writer's leavings — an upper bound on one write job's
    * stage duration, deliberately generous (the cost of waiting is disk
    * space; the cost of not waiting is a committed table referencing
    * deleted files). */
  private[graft] val DefaultGcStagingGraceMs: Long = 6L * 60 * 60 * 1000

  /** Broadcast the equality-delete side only below this compressed size
    * (64 MB on disk ≈ a few hundred MB in memory across the columnar →
    * row expansion — safely inside executor/driver broadcast budgets). */
  private[graft] val DeleteBroadcastBytes: Long = 64L << 20
  /** Assumed size for delete files with neither byte nor row stats. */
  private[graft] val UnknownDeleteFileBytes: Long = 8L << 20
  /** Conservative bytes-per-key-row when only a row count is recorded. */
  private[graft] val EstimatedDeleteRowBytes: Long = 100L

  /** Size estimate for one delete-side file entry, for the broadcast
    * decision: recorded bytes, else rows × conservative row width, else
    * the per-file constant. Pure so tests can pin the fallback ladder.
    */
  private[graft] def deleteSideBytes(f: FileEntry): Long =
    if (f.bytes >= 0) f.bytes
    else if (f.rows >= 0) f.rows * EstimatedDeleteRowBytes
    else UnknownDeleteFileBytes

  /** `input_file_name()` form → metadata form: strip any URI scheme
    * (and its slashes) down to one leading slash, so `file:///x`,
    * `file:/x`, `graftfs:/x`, and a plain `/x` all key identically.
    * (An authority, when present — `hdfs://nn:8020/x` — survives as a
    * path segment on BOTH sides, so the keys still agree.)
    */
  private[table] val SchemePrefixRegex = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  private[graft] def normalizePath(p: String): String =
    p.replaceFirst(SchemePrefixRegex, "/")

  def exists(dir: String): Boolean = ControlFs.exists(s"$dir/table.json")

  def load(dir: String, branch: String = "main"): IceTable =
    new IceTable(dir.stripSuffix("/"), branch)

  /** Create a table (race-safe load-or-create, mirroring the reference's
    * auto-create retry, `data/IcebergWriterFactory.autoCreateTable:69-117`).
    * All control files publish via create-exclusive claims on the Hadoop
    * FS layer; the loser of a concurrent create simply loads the winner's
    * table.json / v1 schema.
    */
  def create(
      dir: String,
      schema0: StructType,
      meta: TableMeta = TableMeta(),
      branch: String = "main"
  ): IceTable = {
    val schema =
      graft.schema.SchemaEvolution.deepNullable(schema0).asInstanceOf[StructType]
    val d = dir.stripSuffix("/")
    try ControlFs.createExclusive(s"$d/table.json", CommitLog.mapper.writeValueAsBytes(meta))
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    // Read-back verification, the same discipline CommitLog's commit
    // claims use: on a filesystem without atomic create-exclusivity two
    // CROSS-PROCESS creators can both pass the no-overwrite check and
    // interleave writes (same-JVM racers are serialized by ControlFs's
    // stripe lock; the pre-r15 hard-link publish made this race lose
    // cleanly). WHICH creator's meta landed doesn't matter — the loser
    // loads the winner's, reference semantics — but a garbled mix must
    // fail HERE with an actionable message, not at some later load.
    verifyReadsBack(s"$d/table.json", "table metadata") { bytes =>
      CommitLog.mapper.readValue(bytes, classOf[TableMeta]); ()
    }
    val t = load(d, branch)
    if (t.schemaVersions.isEmpty) {
      try ControlFs.createExclusive(s"$d/_schemas/v1.json", schema.json)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
      verifyReadsBack(s"$d/_schemas/v1.json", "schema v1") { bytes =>
        org.apache.spark.sql.types.DataType.fromJson(
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8)); ()
      }
    }
    t
  }

  /** Post-publish parse check for create's two control files. */
  private def verifyReadsBack(path: String, what: String)(
      parse: Array[Byte] => Unit): Unit = {
    val ok = ControlFs.readSmallBytes(path).exists { bytes =>
      try { parse(bytes); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (!ok) throw new IllegalStateException(
      s"$what at $path is unreadable after create — concurrent creators " +
        "raced on a filesystem without atomic create-exclusivity; delete " +
        "the file and recreate the table (see OPERATIONS.md, concurrency " +
        "boundaries)")
  }

  def loadOrCreate(
      dir: String,
      schema: => StructType,
      meta: => TableMeta,
      branch: String = "main"
  ): IceTable =
    if (exists(dir)) load(dir, branch) else create(dir, schema, meta, branch)
}
