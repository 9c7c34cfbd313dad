package graft.lake

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** A snapshot entry in the table's commit log.
  *
  * The snapshot does NOT inline the table's file list: it references a
  * chain of per-commit MANIFEST files (`_manifests/`), so snapshot JSON
  * size — and therefore per-commit metadata write cost — is
  * O(buckets + checkpoints), independent of how many data files the
  * table has accumulated. The previous shape inlined the full
  * bucket→files map and rewrote it on every commit: MBs of driver JSON
  * per micro-batch at 10^10-event scale, the wrong asymptote.
  */
final case class Snapshot(
    version: Long,
    schemaDdl: String,
    numBuckets: Int,
    keyCols: Seq[String],
    // manifest chain (relative paths under the table root, oldest first);
    // folding it yields bucket -> data files. Bounded by consolidation:
    // when the chain exceeds ManifestChainMax the commit writes a base
    // manifest carrying the full live set and the chain resets to one.
    manifests: Seq[String],
    // exactly-once ledger: checkpointId -> highest applied streaming batchId.
    // Streaming batchIds are monotone per checkpoint, so one Long per
    // checkpoint suffices at any scale (no unbounded applied-set).
    appliedUpTo: Map[String, Long],
    parentVersion: Long,
    // the creation-time user columns; columns in schemaDdl beyond these
    // (and the meta columns) are DRIFT columns whose values ride in the
    // delta files' `extra` map and are lifted at read time
    baseCols: Seq[String] = Nil,
    // on-disk format version. 2 = manifest-chain snapshots (r4+); 1 was
    // the inline-`files` shape. Readers reject versions they don't know
    // with a clear error instead of an opaque json4s MappingException.
    formatVersion: Int = LakeTable.CurrentFormatVersion)

/** One data file reference inside a manifest: owning bucket, table-
  * relative path, and size in bytes (sizes feed the compaction budget's
  * tail selection without re-statting files — as Iceberg manifests carry
  * file metrics so planning never touches the files themselves).
  */
final case class ManifestFile(bucket: String, path: String, size: Long)

/** A per-commit manifest — the file-set delta of one commit. With
  * `base=true`, `added` IS the full live file set as of this commit
  * (written by compaction and by chain consolidation); otherwise the
  * reader folds `removed` then `added` onto the parent's state. Written
  * once at commit time, immutable afterwards; cost O(files touched by
  * the commit), never O(table files).
  */
final case class Manifest(
    version: Long,
    base: Boolean,
    added: Seq[ManifestFile],
    removed: Seq[String])

/** Result of one merge commit, for metrics / listeners. */
final case class MergeStats(
    version: Long,
    batchId: Long,
    skippedAsApplied: Boolean,
    // events in the batch, before the per-key winner reduction
    inputRows: Long,
    upserted: Long,
    deleted: Long,
    newColumns: Seq[String])

/** `LakeTable` — an Iceberg-*semantics* merge-on-read table format over
  * plain Parquet (no Iceberg jar ships in this sandbox; SURVEY.md §7):
  *
  *  - versioned JSON snapshots (`_snapshots/snapshot-N.json`) carrying the
  *    evolving schema, the exactly-once batch ledger, and a MANIFEST
  *    CHAIN (`_manifests/m-V-*.json`) instead of an inline file list —
  *    Iceberg's snapshot→manifest split: each commit writes one manifest
  *    describing only the files it added/removed (with sizes, so
  *    planning never stats data files), and the chain is consolidated
  *    into a base manifest every `ManifestChainMax` commits. Commit
  *    metadata cost is O(files touched), not O(table files);
  *  - atomic commit via write-temp-then-rename of a `_current` pointer;
  *  - **bucketed merge-on-read**: rows are hash-partitioned into
  *    `numBuckets` buckets on the key columns; a merge APPENDS its batch
  *    winners as per-bucket delta files (rows + tombstones carrying
  *    `__lsn`), and the reader resolves the max-`__lsn` winner per key.
  *    Per-batch write cost is O(batch), not O(touched-bucket contents) —
  *    the copy-on-write variant rewrote every touched bucket in full,
  *    which under Zipf-hot batches approaches O(table) per batch and
  *    makes a 10^10-event replay pay O(batches × table) write volume.
  *    Read amplification is bounded by **budgeted minor compaction**
  *    (LSM-style): a bucket whose file count exceeds `maxFilesPerBucket`
  *    merges its small-file tail (winner-per-key, tombstones kept) while
  *    the largest files stay untouched — per-batch compaction cost is
  *    flat in table size, write volume amortizes O(n log n); `compact()`
  *    is the major-compaction/GC path (at cluster scale `numBuckets`
  *    would be thousands);
  *  - **the merge commit is ONE Spark job**: the delta write carries an
  *    `observe()` side-channel for EVERY driver-side fact the commit
  *    needs — the batch's event count, winner/upsert counts and drift
  *    keys — so no extra job and no driver-side parquet footer reads
  *    (at thousands of buckets ~15-20 ms of metadata IO each). The
  *    previous shapes (eager `localCheckpoint` + a stats job + the
  *    write = three jobs per micro-batch; then one job + footer reads)
  *    put serial driver floors under every batch — the first capped
  *    replay scaling efficiency at ~0.59 (BENCH.md);
  *  - schema evolution ≙ draethos auto-ALTER (`internal/target/pgsql.go:
  *    162-238`): new drift fields become appended nullable string columns
  *    in the snapshot schema; their VALUES stay in the delta files' stored
  *    `extra` map and are projected out at read
  *    (`coalesce(col, extra[col])`), so discovery can happen during the
  *    write instead of before it. Major/minor compaction materializes
  *    drift columns and drops `extra`; old files missing a column surface
  *    it as null — schema-on-read evolution either way;
  *  - upsert semantics = last-write-wins per key, the REPLACE-INTO behavior
  *    of the reference MySQL sink (`internal/target/mysql.go:23`), with the
  *    envelope's `delete` op mapped to row removal (the north rule's MERGE:
  *    matched+delete → DELETE, matched → UPDATE, not-matched+!delete →
  *    INSERT);
  *  - table auto-created if absent ≙ `CREATE TABLE IF NOT EXISTS`
  *    (`internal/target/pgsql.go:89-98`).
  */
class LakeTable(
    val spark: SparkSession,
    val tablePath: String,
    /** Key columns and bucket count apply only at creation
      * ([[createIfAbsent]]): for an existing table the SNAPSHOT is
      * authoritative (a reader opening with different defaults must not
      * re-hash rows into the wrong buckets), and every operation takes
      * both from the one snapshot it reads.
      */
    requestedKeyCols: Seq[String],
    requestedNumBuckets: Int,
    /** Compaction budget: max delta files per bucket before the merge
      * commit rewrites that bucket (winner-per-key). Bounds MOR read
      * amplification at `maxFilesPerBucket` file-merges per key lookup.
      * Operational knob, not table identity — safe to vary per writer.
      */
    val maxFilesPerBucket: Int = 8) {

  import LakeTable._

  private val root: Path = Paths.get(tablePath)
  private val snapshotsDir: Path = root.resolve("_snapshots")
  private val currentPtr: Path = root.resolve("_current")

  /** Column holding the envelope commit sequence inside a merge batch. */
  val lsnCol = "lsn"
  val opCol = "op"

  // -- snapshot IO -----------------------------------------------------------

  def currentVersion: Option[Long] =
    if (Files.exists(currentPtr)) Some(Files.readString(currentPtr).trim.toLong)
    else None

  def snapshot(version: Long): Snapshot =
    SnapshotCodec.fromJson(Files.readString(snapshotsDir.resolve(s"snapshot-$version.json")))

  def currentSnapshot: Option[Snapshot] = currentVersion.map(snapshot)

  // -- manifest IO -----------------------------------------------------------

  private val manifestsDir: Path = root.resolve("_manifests")

  /** Manifest chain length that triggers consolidation: the commit writes
    * a base manifest (full live set, O(table files) ONCE) and the chain
    * resets to 1 — so fold cost at read stays O(live + recent) and the
    * amortized consolidation cost per commit is O(live/24). Compaction
    * also writes a base manifest naturally.
    */
  private val ManifestChainMax = 24

  private def readManifest(rel: String): Manifest =
    SnapshotCodec.manifestFromJson(Files.readString(root.resolve(rel)))

  /** Write a manifest under a commit-unique name (two racing writers at
    * the same version must never overwrite each other's manifest — the
    * OCC check rejects one COMMIT, but both manifests exist on disk until
    * vacuum reclaims the loser's).
    */
  private def writeManifest(m: Manifest): String = {
    Files.createDirectories(manifestsDir)
    val rel = s"_manifests/m-${m.version}-" +
      s"${java.util.UUID.randomUUID.toString.take(8)}.json"
    Files.writeString(root.resolve(rel), SnapshotCodec.manifestToJson(m))
    rel
  }

  // fold memo: version -> (chain, folded entries); bounded, process-local
  @transient private val foldCache =
    new java.util.concurrent.ConcurrentHashMap[
      Long, (Seq[String], Map[String, Seq[ManifestFile]])]()

  /** Live data files of a snapshot, with sizes — the fold of its manifest
    * chain. Memoized per version so repeated reads/commits in one process
    * fold the chain once.
    */
  def entriesOf(s: Snapshot): Map[String, Seq[ManifestFile]] = {
    val hit = foldCache.get(s.version)
    if (hit != null && hit._1 == s.manifests) hit._2
    else {
      val folded = s.manifests
        .foldLeft(Map.empty[String, Seq[ManifestFile]]) { (acc, rel) =>
          val m = readManifest(rel)
          val pre =
            if (m.base) Map.empty[String, Seq[ManifestFile]]
            else if (m.removed.isEmpty) acc
            else {
              val rm = m.removed.toSet
              acc.map { case (b, fs) => b -> fs.filterNot(f => rm(f.path)) }
                .filter(_._2.nonEmpty)
            }
          m.added.groupBy(_.bucket).foldLeft(pre) { case (a, (b, fs)) =>
            a + (b -> (a.getOrElse(b, Nil) ++ fs))
          }
        }
      if (foldCache.size > 16) foldCache.clear()
      foldCache.put(s.version, (s.manifests, folded))
      folded
    }
  }

  /** Live data files of a snapshot: bucket -> table-relative paths. */
  def filesOf(s: Snapshot): Map[String, Seq[String]] =
    entriesOf(s).map { case (b, fs) => b -> fs.map(_.path) }

  /** Internal per-row columns: the applied commit sequence and a tombstone
    * flag. Storing them makes the MERGE itself monotone per key — a stale
    * event (lower lsn than the stored row, including a stored tombstone)
    * can never win, for ANY batching/ordering of the log. This is the
    * only cross-batch dedup of a changelog replay (`CdcJob` keeps no
    * keyed state): a stale event lands as a delta row that loses at read
    * and in compaction. Tombstones are dropped by
    * `compact(dropTombstones = true)` only (see its precondition).
    */
  val LsnMeta = "__lsn"
  val DeletedMeta = "__deleted"
  /** Stored drift carrier inside delta files (not part of the user or
    * snapshot schema; dropped by compaction after drift columns are
    * materialized).
    */
  val ExtraMeta = "extra"
  private def metaFields = Seq(
    StructField(LsnMeta, LongType, nullable = false),
    StructField(DeletedMeta, BooleanType, nullable = false))

  /** Create-if-absent with the base USER schema (key cols + value cols);
    * the physical schema appends the internal meta columns.
    */
  def createIfAbsent(baseSchema: StructType): Snapshot = currentSnapshot.getOrElse {
    Files.createDirectories(snapshotsDir)
    val s = Snapshot(
      version = 0L,
      schemaDdl = StructType(baseSchema.fields ++ metaFields).toDDL,
      numBuckets = requestedNumBuckets,
      keyCols = requestedKeyCols, manifests = Nil, appliedUpTo = Map.empty,
      parentVersion = -1L,
      baseCols = baseSchema.fieldNames.toSeq)
    commitSnapshot(s)
    s
  }

  /** Atomic snapshot commit: snapshot JSON first, then the `_current`
    * pointer via temp-file + atomic rename. A crash between the two leaves
    * the table at the parent version — never a torn state.
    *
    * **Optimistic concurrency**: the design is one writer per checkpoint
    * (the reference's model, and what the exactly-once ledger keys on),
    * but a misconfigured second writer must not silently clobber
    * commits. Iceberg-style: a commit whose `parentVersion` no longer
    * matches the live pointer is REJECTED — the caller's data files
    * become garbage (reclaimed by `expireSnapshots`), the table keeps
    * the sibling's commit, and the failure is loud instead of a lost
    * update. (The residual check-to-rename window would need a CAS the
    * filesystem doesn't offer; at cluster scale this check lives in the
    * catalog's atomic swap, as Iceberg's does.)
    */
  private[graft] def commitSnapshot(s: Snapshot): Unit = {
    val liveParent = currentVersion.getOrElse(-1L)
    if (s.parentVersion != liveParent)
      throw new java.util.ConcurrentModificationException(
        s"lake table $tablePath: commit of version ${s.version} expected " +
          s"parent ${s.parentVersion} but the table is at $liveParent — " +
          "a concurrent writer committed first; re-read and retry")
    Files.createDirectories(snapshotsDir)
    Files.writeString(snapshotsDir.resolve(s"snapshot-${s.version}.json"),
      SnapshotCodec.toJson(s))
    val tmp = root.resolve(s"_current.tmp-${s.version}")
    Files.writeString(tmp, s.version.toString)
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // -- reads -------------------------------------------------------------------

  /** Physical schema (includes internal meta columns). */
  def physicalSchema: StructType = currentSnapshot
    .map(s => StructType.fromDDL(s.schemaDdl))
    .getOrElse(StructType(Nil))

  /** User-visible schema. */
  def schema: StructType = StructType(physicalSchema.fields
    .filterNot(f => f.name == LsnMeta || f.name == DeletedMeta))

  /** Read the current table state (all buckets): live rows, user columns.
    * Old files missing evolved columns surface them as NULL —
    * schema-on-read evolution.
    */
  def read(): DataFrame =
    currentSnapshot.fold(spark.emptyDataFrame)(liveRows)

  /** A snapshot's live rows, user columns: the MOR resolve minus
    * tombstones. The one filter behind [[read]] and [[readVersion]].
    */
  private def liveRows(s: Snapshot): DataFrame =
    resolveFiles(s, filesOf(s)).filter(!col(DeletedMeta)).drop(LsnMeta, DeletedMeta)

  /** Read including the internal meta columns: the MOR resolve — one
    * winner per key (max `__lsn`, tombstones included so callers can see
    * deletions). Drift columns are lifted out of the stored `extra` map
    * for files that predate their materialization.
    */
  def readMeta(): DataFrame = currentSnapshot match {
    case None => spark.emptyDataFrame
    case Some(s) => resolveFiles(s, filesOf(s))
  }

  /** Bucket-scoped MOR resolve. Keys are hash-partitioned into buckets
    * and every file the table writes holds at most one row per key (a
    * delta is a batch's winner set, a rewrite is already resolved), so:
    *
    *  - a bucket referencing ONE file needs no resolution — scan it
    *    as-is, shuffle-free;
    *  - only buckets referencing SEVERAL files go through the winner
    *    window, and resolving them in isolation is exactly equivalent to
    *    the global window (a key never spans buckets).
    *
    * Post-compaction steady state on a 100 TB table: the handful of
    * recently-touched buckets shuffle, the compacted majority streams
    * straight off parquet.
    */
  private def resolveFiles(s: Snapshot,
      files: Map[String, Seq[String]]): DataFrame = {
    val (multi, single) = files.partition(_._2.size > 1)
    def scan(fs: Map[String, Seq[String]]) = scanFiles(s, fs.values.flatten.toSeq)
    if (multi.isEmpty) scan(files)
    else if (single.isEmpty) resolve(s, scan(multi))
    else scan(single).unionByName(resolve(s, scan(multi)))
  }

  /** The one file scan: `paths` read under the snapshot's schema, drift
    * columns lifted out of the `extra` carrier.
    */
  private def scanFiles(s: Snapshot, paths: Seq[String]): DataFrame =
    liftDrift(s, readFiles(s, paths))

  /** Read schema for raw table files: snapshot schema + the stored `extra`
    * drift carrier (delta files have it; compacted files — and tables
    * whose base schema already claims the name — don't, and read null).
    */
  private def extendedSchema(s: Snapshot): StructType = {
    val sch = StructType.fromDDL(s.schemaDdl)
    if (sch.fieldNames.contains(ExtraMeta)) sch
    else StructType(sch.fields :+
      StructField(ExtraMeta, MapType(StringType, StringType), nullable = true))
  }

  /** Drift columns = snapshot schema minus creation-time base columns and
    * the meta columns. For legacy snapshots without `baseCols` every user
    * column counts as base (drift was materialized at write back then).
    */
  private def driftCols(s: Snapshot): Seq[String] =
    if (s.baseCols.isEmpty) Nil
    else StructType.fromDDL(s.schemaDdl).fieldNames.toSeq
      .filterNot(c => c == LsnMeta || c == DeletedMeta || s.baseCols.contains(c))

  /** Project drift columns out of the stored `extra` map: a file that
    * materialized the column (compaction output) wins via coalesce; a
    * delta file serves it straight from the map. Pure codegen'd
    * projection — no shuffle, no extra pass.
    *
    * A drift column that major compaction has TYPE-SNIFFED (see
    * [[compact]]) is DATE/TIMESTAMP in the snapshot schema while the map
    * still stores strings — the lift converts with the exact ladder the
    * sniff used (`to_date` / `'T'`→`' '` `to_timestamp`,
    * `Sources.sniffTypes`). `try_*` variants: a post-retype event whose
    * value no longer parses reads as NULL instead of failing the scan —
    * the Spark-side analog of the reference sink's per-value DDL ladder
    * feeding an already-typed column (`pgsql.go:326-363`).
    *
    * One `select` (columns in place, the carrier dropped), so a caller
    * pays one analysis step however many drift columns the table has.
    */
  private def liftDrift(s: Snapshot, df: DataFrame): DataFrame = {
    val sch = StructType.fromDDL(s.schemaDdl)
    if (!df.columns.contains(ExtraMeta) || sch.fieldNames.contains(ExtraMeta)) df
    else {
      val drift = driftCols(s).toSet
      def named(c: String): Column = col(s"`${c.replace("`", "``")}`")
      def fromExtra(c: String): Column = {
        val raw = element_at(col(ExtraMeta), c)
        sch(c).dataType match {
          case StringType => raw
          case DateType => try_to_date(raw)
          case TimestampType => try_to_timestamp(regexp_replace(raw, "T", " "))
          case other => raw.try_cast(other)
        }
      }
      df.select(df.columns.toSeq.collect {
        case c if drift(c) => coalesce(named(c), fromExtra(c)).as(c)
        case c if c != ExtraMeta => named(c)
      }: _*)
    }
  }

  /** Point lookup by full key: prune to the ONE hash bucket the key
    * lives in before reading. On a 100 TB table this reads
    * 1/`numBuckets` of the files (times the bucket's MOR depth) instead
    * of the whole table — the CDC serving path for "current state of
    * this repo/path". The bucket id is computed driver-side with the
    * exact expression the writer uses (`xxhash64` over the key columns,
    * positive mod), so pruning can never miss.
    *
    * No Spark job and no query plan over the files: the DRIVER reads the
    * bucket's files (at most `maxFilesPerBucket` after compaction) with
    * Spark's own Parquet reader, one file after another on the calling
    * thread — a cost of O(bucket bytes), which sizing buckets through
    * `numBuckets` keeps small. Each row is matched against the typed key;
    * every file holds at most one row per key (a delta is a batch's
    * winner set, a rewrite is already resolved), and the winner among the
    * matches is picked with [[resolve]]'s rule (max `__lsn`, the
    * tombstone wins an equal-lsn tie).
    *
    * Reads at CALL time: the result is a local DataFrame holding the
    * winner (live rows only, tombstoned keys absent; user columns), so
    * collecting it runs no job and later commits do not change it.
    */
  def lookup(keyValues: Seq[Any]): DataFrame = currentSnapshot match {
    case None => spark.emptyDataFrame
    case Some(s) =>
      require(keyValues.length == s.keyCols.length,
        s"lookup needs ${s.keyCols.mkString(",")} values, got $keyValues")
      // cast each caller value to the KEY COLUMN's snapshot type before
      // hashing: xxhash64 is type-sensitive (hash of "5":string ≠ 5:long),
      // so a raw Literal of the caller's runtime type would prune to the
      // wrong bucket and silently return "not found" for a present key
      val sch = StructType.fromDDL(s.schemaDdl)
      import org.apache.spark.sql.catalyst.expressions.{And, BoundReference,
        Cast, EqualTo, Expression, Predicate, Literal => CLit}
      val keyLits = s.keyCols.zip(keyValues).map { case (c, v) =>
        val dt = sch(c).dataType
        val raw = CLit(v)
        if (raw.dataType == dt) raw
        else {
          require(Cast.canCast(raw.dataType, dt),
            s"lookup: value '$v' (${raw.dataType.simpleString}) cannot be " +
              s"cast to key column $c: ${dt.simpleString}")
          val casted = Cast(raw, dt,
            Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
          require(casted != null || v == null,
            s"lookup: value '$v' does not parse as $c: ${dt.simpleString}")
          CLit(casted, dt)
        }
      }
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(keyLits)
        .eval(null).asInstanceOf[Long]
      val b = java.lang.Math.floorMod(h, s.numBuckets.toLong).toString
      val r = fileReader(extendedSchema(s))
      val isKey = Predicate.createInterpreted(s.keyCols.zip(keyLits)
        .map { case (c, v) =>
          EqualTo(BoundReference(r.schema.fieldIndex(c), v.dataType, nullable = true), v)
        }.reduce[Expression](And(_, _)))
      var winner: Option[(Long, Boolean, InternalRow)] = None
      entriesOf(s).getOrElse(b, Nil).foreach { f =>
        r.foreachRow(f) { row =>
          if (isKey.eval(row)) {
            val lsn = row.getLong(r.lsn)
            val deleted = row.getBoolean(r.deleted)
            if (winner.forall { case (l, d, _) => lsn > l || (lsn == l && deleted && !d) })
              winner = Some((lsn, deleted, r.keep(row)))
          }
        }
      }
      val live = winner.collect { case (_, false, row) => row }.toSeq
      liftDrift(s, PlanBridge.ofRows(spark,
        LocalRelation(DataTypeUtils.toAttributes(r.out), live)))
  }

  /** Spark's Parquet reader for raw table files on the driver, built for
    * one extended schema (it broadcasts its Hadoop conf and fixes the
    * row layout) and kept until drift or a compaction retype changes
    * that schema. Rows come one at a time (no columnar batches), are
    * read as file sources read a user schema (every column nullable), and
    * a file missing a column reads it as null.
    */
  private final class FileReader(val schema: StructType) {
    private val readSchema = PlanBridge.asNullable(schema)
    private val read: PartitionedFile => Iterator[InternalRow] =
      new ParquetFileFormat().buildReaderWithPartitionValues(spark,
        readSchema, StructType(Nil), readSchema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    val lsn: Int = schema.fieldIndex(LsnMeta)
    val deleted: Int = schema.fieldIndex(DeletedMeta)
    private val kept: Array[Int] =
      schema.indices.filterNot(i => i == lsn || i == deleted).toArray
    /** Result schema: every column but the two meta columns. */
    val out: StructType = StructType(kept.map(readSchema(_)))

    /** Feed every row of one file to `fn`, then close the reader (outside
      * a task nothing else would). The file's size comes from its
      * manifest entry, so the footer read needs no stat. A row is only
      * valid until the next one is read: keep it through [[keep]].
      */
    def foreachRow(f: ManifestFile)(fn: InternalRow => Unit): Unit = {
      val it = read(PartitionedFile(InternalRow.empty,
        SparkPath.fromUri(root.resolve(f.path).toAbsolutePath.toUri),
        0L, f.size, Array.empty[String], 0L, f.size, Map.empty))
      try it.foreach(fn)
      finally it match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }

    /** A copy of `row`'s [[out]] columns that outlives the reader. */
    def keep(row: InternalRow): InternalRow = new GenericInternalRow(kept.map[Any] { i =>
      if (row.isNullAt(i)) null else InternalRow.copyValue(row.get(i, readSchema(i).dataType))
    })
  }
  @volatile private var cachedReader: Option[FileReader] = None
  private def fileReader(ext: StructType): FileReader =
    cachedReader.filter(_.schema == ext).getOrElse {
      val r = new FileReader(ext)
      cachedReader = Some(r)
      r
    }

  /** Raw rows of every referenced file, unresolved (deltas + tombstones
    * as stored, including the `extra` drift carrier) — compaction
    * internals, tests.
    */
  def readRaw(): DataFrame = currentSnapshot match {
    case None => spark.emptyDataFrame
    case Some(s) => readFiles(s, filesOf(s).values.flatten.toSeq)
  }

  /** Time travel: read the table as of a given snapshot version. */
  def readVersion(version: Long): DataFrame = liveRows(snapshot(version))

  /** MOR winner resolution: per key, highest `__lsn` wins; on an equal-lsn
    * delete/upsert pair the tombstone wins (same tie-break as the merge's
    * within-batch window — equal LSNs only arise from redelivered events,
    * where both rows are identical anyway; the aligned tie-break makes
    * the pathological distinct-payload case batching-independent too).
    *
    * Callers pass only rows that genuinely need resolution —
    * `resolveFiles` routes single-file buckets around the window; the
    * merge's minor compaction resolves each rewritten tail.
    */
  private def resolve(s: Snapshot, df: DataFrame): DataFrame =
    if (df.columns.isEmpty) df
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(s.keyCols.map(col): _*)
        .orderBy(col(LsnMeta).desc, col(DeletedMeta).desc)
      df.withColumn("__rrn", row_number().over(w))
        .filter(col("__rrn") === 1).drop("__rrn")
    }

  /** Raw rows of `rel` under the snapshot's [[extendedSchema]]. */
  private def readFiles(s: Snapshot, rel: Seq[String]): DataFrame = {
    val sch = extendedSchema(s)
    if (rel.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    else spark.read.schema(sch).parquet(rel.map(r => s"$tablePath/$r"): _*)
  }

  // -- merge (the sink) --------------------------------------------------------

  /** Bucket assignment — deterministic hash partition on the snapshot's
    * key columns.
    */
  private[graft] def bucketExpr(s: Snapshot): Column =
    pmod(xxhash64(s.keyCols.map(col): _*), lit(s.numBuckets))

  /** Write salts per bucket: enough that the fleet is busy when it is
    * wider than the bucket count (see merge step 4), 1 otherwise.
    */
  private[graft] def saltFactor(s: Snapshot): Int = math.max(1, math.ceil(
    spark.sparkContext.defaultParallelism.toDouble / s.numBuckets).toInt)

  /** Salt of a key: a pure function of the key columns, hashed behind a
    * tag so it is independent of [[bucketExpr]]. Hashing the bare keys
    * again would tie the salt to the bucket (with 2 buckets and salt
    * factor 2 the salt would equal the bucket), leaving half of the
    * `(bucket, salt)` groups, and the merge window's tasks, empty.
    */
  private[graft] def saltExpr(s: Snapshot, factor: Int): Column =
    pmod(xxhash64((lit("__salt") +: s.keyCols.map(col)): _*), lit(factor))

  /** Apply one micro-batch of change events to the table as an idempotent
    * MERGE commit; the batch is always reduced to one winner per key
    * first. That is the only per-batch dedup of a changelog replay into
    * the lake, and it keeps every delta at one row per key, which the
    * readers rely on: `resolveFiles` scans a single-file bucket without
    * the window, and `lookup` takes at most one candidate per file. The hot
    * path costs ONE Spark job (the delta write — see the class doc's "one
    * Spark job" bullet for how stats and drift discovery piggyback on
    * it).
    *
    * @param batch   envelope rows: keyCols ++ value cols ++ lsn, op, extra
    * @param checkpointId identity of the writing stream (runId-agnostic)
    * @param batchId streaming micro-batch id (monotone per checkpoint)
    */
  def merge(batch: DataFrame, checkpointId: String, batchId: Long): MergeStats = {
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"table $tablePath not initialized"))
    if (cur.appliedUpTo.get(checkpointId).exists(batchId <= _)) {
      // replayed batch after crash/restart — exactly-once no-op
      return MergeStats(cur.version, batchId, skippedAsApplied = true,
        0L, 0L, 0L, Nil)
    }
    val oldSchema = StructType.fromDDL(cur.schemaDdl)
    val baseCols: Seq[String] =
      if (cur.baseCols.nonEmpty) cur.baseCols
      else oldSchema.fieldNames.toSeq.filterNot(c => c == LsnMeta || c == DeletedMeta)

    // 1. one winner per key: max lsn; on an equal-lsn tie the delete wins,
    //    matching resolve()'s cross-file tie-break exactly, so the final
    //    state for pathological duplicate-lsn delete/upsert pairs is
    //    independent of how the log was batched. (LSNs are normally
    //    unique per logical event; equal-lsn rows are redeliveries.)
    //
    //    ONE exchange serves both the winner window and the bucketed
    //    write (guide §2.4): `__bucket` and `__salt` are pure functions
    //    of the key columns, so hash-partitioning on (__bucket, __salt)
    //    already clusters every key's rows into one task, and the window
    //    partitions by (__bucket, __salt, keys) — a superset of the
    //    exchange's keys, which Catalyst recognises as satisfied (the
    //    subset rule), planning only the per-partition sort. The winner
    //    set is identical — partitioning a window by extra functions of
    //    its own keys refines nothing.
    //    With salt factor 1 there is no `__salt` column at all: a
    //    literal salt is folded out of the window's partitioning but not
    //    out of the exchange's, `hashpartitioning(__bucket, 0)` then no
    //    longer satisfies the window, and the planner adds a second full
    //    exchange on (__bucket, keys) — which also splits every bucket's
    //    write over several tasks (several files per bucket per batch).
    //    Write parallelism policy (salt/fleet bound): see step 4.
    import org.apache.spark.sql.expressions.Window
    val salts = saltFactor(cur)
    val writeParts = math.max(1, math.min(cur.numBuckets * salts,
      spark.sparkContext.defaultParallelism * 2))
    val withBucket = batch.withColumn("__bucket", bucketExpr(cur))
    val (keyed, partCols) =
      if (salts == 1) (withBucket, Seq(col("__bucket")))
      else (withBucket.withColumn("__salt", saltExpr(cur, salts)),
        Seq(col("__bucket"), col("__salt")))
    val bucketed = keyed.repartition(writeParts, partCols: _*)
    val w = Window
      .partitionBy((partCols ++ cur.keyCols.map(col)): _*)
      .orderBy(graft.envelope.ChangeEvent.winnerOrder: _*)
    val ranked = bucketed.withColumn("__rn", row_number().over(w))
    val win = col("__rn") === 1

    // 2. delta row shape: user columns the batch carries (missing base
    //    columns → typed nulls; drift columns it doesn't carry stay in
    //    the stored `extra` map and are lifted at read), the meta columns,
    //    and the bucket id.
    val hasExtra = batch.columns.contains(ExtraMeta) &&
      !baseCols.contains(ExtraMeta)
    val userCols = oldSchema.fieldNames.toSeq
      .filterNot(c => c == LsnMeta || c == DeletedMeta)
    val withMeta = ranked
      .withColumn(LsnMeta, col(lsnCol))
      .withColumn(DeletedMeta, col(opCol) === "delete")
    val outCols: Seq[Column] =
      userCols.collect {
        case c if withMeta.columns.contains(c) => col(c)
        case c if baseCols.contains(c) =>
          lit(null).cast(oldSchema(c).dataType).as(c)
      } ++
        (if (hasExtra) Seq(col(ExtraMeta)) else Nil) ++
        Seq(col(LsnMeta), col(DeletedMeta), col("__bucket"))

    // 3. observe() rides the write: the batch's event count, the
    //    winner/upsert counts and the winners' distinct drift keys
    //    (auto-ALTER ≙ pgsql.go:162-238; bounded by schema width — tiny)
    //    are accumulated DURING the single write job, so the commit needs
    //    no separate stats job and no localCheckpoint pass. It sits
    //    between the window and the winner filter, so `n` counts events.
    // stable metric name (fresh instance per call): Observation() invents
    // a UUID name, which lands in the CollectMetrics plan node and makes
    // every micro-batch's write plan textually unique — defeating plan/
    // codegen caches that key on the generated source
    val obs = Observation("graft_merge")
    val obsExprs: Seq[Column] = Seq(
      count(lit(1)).as("n"),
      sum(when(win, 1L).otherwise(0L)).as("wins"),
      sum(when(win && !col(DeletedMeta), 1L).otherwise(0L)).as("ups")) ++
      (if (hasExtra)
        Seq(array_distinct(flatten(collect_set(
          when(win, map_keys(col(ExtraMeta)))))).as("ks"))
      else Nil)
    val projected = withMeta
      .observe(obs, obsExprs.head, obsExprs.tail: _*)
      .filter(win)
      .select(outCols: _*)

    // 4. append the delta, one file per touched bucket. Write parallelism
    //    is guarded stat-free: when the executor fleet is wider than the
    //    bucket count (small tables, test tables), rows are salted by key
    //    hash so no single task serializes a bucket's write; when buckets
    //    ≥ cores (the 100 TB shape: thousands of buckets) the salt factor
    //    is 1 and each bucket stays one file. Winner sets hold one row
    //    per key, so per-bucket write volume is hash-uniform — the
    //    earlier hot-bucket salting (which needed a per-batch stats job
    //    to find skew) guarded raw event skew that the winner window
    //    flattens before the write.
    //    Write parallelism ∝ the fleet, not the bucket count:
    //    `partitionBy` routes rows into per-bucket directories regardless
    //    of task count (a task holding k buckets writes k files — file
    //    layout is identical), so launching one task per bucket only
    //    multiplies task/commit/writer fixed costs when buckets ≫ cores.
    //    2× cores keeps every core busy under mild bucket-hash skew; the
    //    salt (cores ≫ buckets case) still raises the ceiling so no
    //    single task serializes a hot bucket.
    //    The (__bucket, __salt) repartition happened BEFORE the winner
    //    window (step 1) — the same exchange serves both, and the
    //    projection preserves its partitioning, so the write job starts
    //    directly from the windowed partitions.
    val deltaFiles = writeBuckets(projected, s"data/v${cur.version + 1}/delta")

    // 5. driver-side commit facts, ALL from the observed metrics of the
    //    one write job: counts and drift keys (zero driver footer reads,
    //    zero extra jobs).
    val m = obs.get
    def observedLong(k: String): Long =
      Option(m.getOrElse(k, null)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val nRows = observedLong("n")
    val nUpserts = observedLong("ups")
    val nDeletes = observedLong("wins") - nUpserts
    val driftKeys: Seq[String] =
      if (!hasExtra) Nil
      else Option(m.getOrElse("ks", null))
        .map(_.asInstanceOf[scala.collection.Seq[String]].toSeq).getOrElse(Nil)
        .sorted
    val newCols = driftKeys.filterNot(k => oldSchema.fieldNames.contains(k))
    // empty batch → version-neutral no-op: no snapshot, no ledger entry
    // (a replayed empty batch re-applies as another no-op — idempotent).
    // Empty batches reach here from a jsonl changelog: a batch whose
    // lines are all malformed (they go to the DLQ). The written (empty)
    // delta dir is reused by the next real merge's SaveMode.Overwrite.
    if (nRows == 0 && newCols.isEmpty)
      return MergeStats(cur.version, batchId, skippedAsApplied = false,
        0L, 0L, 0L, Nil)
    val newSchema = StructType(oldSchema.fields ++
      newCols.map(c => StructField(c, StringType, nullable = true)))

    // 6. budgeted MINOR compaction (LSM-style): a bucket whose file count
    //    exceeds the budget merges only its SMALL-FILE TAIL — the largest
    //    `budget/2` files (the base + mature merged tiers) are kept
    //    untouched, and the tail (recent small deltas) is rewritten
    //    winner-per-key into one file (tombstones KEPT — a later stale
    //    upsert must still lose to them; compact(dropTombstones) is the
    //    separate major-compaction/GC path). The earlier policy rewrote
    //    the WHOLE bucket: under batches that touch every bucket (or
    //    salted hot buckets that exceed the budget every batch) that
    //    degenerates to COW — per-batch cost grows with table size
    //    (measured: incremental-merge latency tripled across 16 batches).
    //    Tail-merge cost is O(recent deltas) per batch, flat in table
    //    size; total write volume amortizes O(n log n) like an LSM tree.
    //    Obsolete rows in kept base files are resolved away at read and
    //    reclaimed only by major compaction — the Iceberg minor/major
    //    split. The rewrite materializes drift columns and drops the
    //    `extra` carrier (like major compaction). File sizes come from
    //    the manifests (carried since the write that created each file) —
    //    tail selection never re-stats data files.
    val curEntries = entriesOf(cur)
    val grown: Map[String, Seq[ManifestFile]] =
      (curEntries.keySet ++ deltaFiles.keySet).iterator.map { b =>
        b -> (curEntries.getOrElse(b, Nil) ++ deltaFiles.getOrElse(b, Nil))
      }.toMap
    val keepLargest = math.max(1, maxFilesPerBucket / 2)
    val tails: Map[String, Seq[String]] = grown
      .filter(_._2.size > maxFilesPerBucket)
      .map { case (b, fs) =>
        b -> fs.sortBy(f => -f.size).drop(keepLargest).map(_.path)
      }
      .filter(_._2.size > 1) // a 1-file tail has nothing to merge
    val rewritten =
      if (tails.isEmpty) Map.empty[String, Seq[ManifestFile]]
      else rewrite(cur, resolveFiles(cur.copy(schemaDdl = newSchema.toDDL), tails),
        tails.size)
    val removed = tails.values.flatten.toSeq
    val rm = removed.toSet
    val live = grown.map { case (b, fs) =>
      b -> (fs.filterNot(f => rm(f.path)) ++ rewritten.getOrElse(b, Nil))
    }

    // 7. commit: the manifest of what this commit touched, then the snapshot
    val next = commit(cur, live, (deltaFiles.values ++ rewritten.values).flatten.toSeq,
      removed, forceBase = false)(_.copy(
        schemaDdl = newSchema.toDDL,
        appliedUpTo = cur.appliedUpTo + (checkpointId -> batchId),
        baseCols = baseCols))
    MergeStats(next.version, batchId, skippedAsApplied = false,
      nRows, nUpserts, nDeletes, newCols)
  }

  /** The one bucket writer: `rows` (carrying `__bucket`) written under
    * `rel` as one directory per bucket, one file per bucket per task,
    * then listed into manifest entries.
    */
  private def writeBuckets(rows: DataFrame, rel: String): Map[String, Seq[ManifestFile]] = {
    rows.write.mode(SaveMode.Overwrite).partitionBy("__bucket").parquet(s"$tablePath/$rel")
    enumerateBucketEntries(rel)
  }

  /** The one bucket rewrite, shared by minor compaction (a merge's
    * over-budget tails) and major compaction (every bucket): resolved
    * `rows` hashed back into their buckets over `buckets` tasks, so each
    * bucket lands in one file under the next version's `rewrite/` dir.
    */
  private def rewrite(s: Snapshot, rows: DataFrame, buckets: Int)
      : Map[String, Seq[ManifestFile]] =
    writeBuckets(rows.withColumn("__bucket", bucketExpr(s))
      .repartition(buckets, col("__bucket")), s"data/v${s.version + 1}/rewrite")

  /** The one commit: the parent's snapshot with `change` applied becomes
    * version parent+1. Its manifest lists only `added` and `removed` (a
    * file added and removed by the same commit — a delta minor-compacted
    * in its own merge — is left out, as the fold applies removed first),
    * or is a base manifest of all `live` entries when `forceBase` is set
    * (major compaction) or the chain has reached `ManifestChainMax`
    * (amortized O(live/ManifestChainMax) per commit).
    */
  private def commit(parent: Snapshot, live: Map[String, Seq[ManifestFile]],
      added: Seq[ManifestFile], removed: Seq[String], forceBase: Boolean)(
      change: Snapshot => Snapshot): Snapshot = {
    val version = parent.version + 1
    val base = forceBase || parent.manifests.size >= ManifestChainMax
    val rm = removed.toSet
    val manifest =
      if (base) Manifest(version, base, live.values.flatten.toSeq, removed = Nil)
      else Manifest(version, base, added.filterNot(f => rm(f.path)), removed)
    val next = change(parent).copy(version = version, parentVersion = parent.version,
      manifests = (if (base) Nil else parent.manifests) :+ writeManifest(manifest))
    commitSnapshot(next)
    next
  }

  /** Children of a directory with the stream CLOSED — `Files.list` leaks
    * one fd per call otherwise (large tables exhaust the process limit).
    */
  private def listChildren(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toSeq finally st.close()
  }

  /** List `$tablePath/$rel/__bucket=B/` parquet files → bucket -> manifest
    * entries (path + size). The one local stat per JUST-WRITTEN file here
    * is the only time a file's size is ever read from the filesystem —
    * afterwards it travels in the manifests.
    */
  private def enumerateBucketEntries(rel: String): Map[String, Seq[ManifestFile]] = {
    val dir = Paths.get(tablePath).resolve(rel)
    listChildren(dir)
      .filter(p => p.getFileName.toString.startsWith("__bucket="))
      .map { p =>
        val b = p.getFileName.toString.stripPrefix("__bucket=")
        val fs = listChildren(p)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => ManifestFile(b, s"$rel/__bucket=$b/${f.getFileName}",
            try Files.size(f) catch { case _: java.io.IOException => 0L }))
        b -> fs
      }.toMap
  }

  /** Incremental change feed: the rows applied by each MERGE commit in
    * `(fromVersionExclusive, toVersionInclusive]`, with provenance. This
    * is what a downstream incremental consumer tails instead of
    * re-reading a 100 TB table: per version it returns exactly that
    * batch's winner set (one row per key — upserts AND tombstones, with
    * `__lsn`/`__deleted`/`__version`). Apply it per key by max `__lsn`
    * (a tombstone wins an equal-lsn tie), NOT by version order: a
    * changelog replay (it keeps no dedup state) commits a stale
    * redelivery as a row of a LATER version with a LOWER `__lsn` than the
    * key already holds, and applying that row in version order would roll
    * the key back (or bring a deleted key back). By max `__lsn` the feed
    * reconstructs the table delta for the range.
    *
    * Versions created by compaction contribute nothing (they rewrite,
    * they don't change state) — their absence from the feed is the
    * correct semantics, not a gap. Feed files live under
    * `data/vN/delta/` and survive being de-referenced by minor
    * compaction; they are reclaimed only by [[expireSnapshots]], which
    * refuses ranges the feed can no longer serve.
    */
  def changeFeed(fromVersionExclusive: Long, toVersionInclusive: Long): DataFrame = {
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"table $tablePath not initialized"))
    require(toVersionInclusive <= cur.version,
      s"changeFeed: version $toVersionInclusive beyond current ${cur.version}")
    ((fromVersionExclusive + 1) to toVersionInclusive).foreach { v =>
      require(Files.exists(snapshotsDir.resolve(s"snapshot-$v.json")),
        s"changeFeed: version $v has been expired (expireSnapshots) — " +
          "the range cannot be served incrementally; re-read the table")
    }
    val sch = StructType.fromDDL(cur.schemaDdl)
    // ONE scan over every version's delta files; `__version` is derived
    // from the file path via the `_metadata` hidden column instead of an
    // N-way unionByName chain — a 100-version range plans one Scan node,
    // not 100 scans glued by a union (whose per-branch fixed costs and
    // un-shared file listing dominate at wide ranges)
    val rel = ((fromVersionExclusive + 1) to toVersionInclusive).flatMap { v =>
      val deltaDir = root.resolve(s"data/v$v/delta")
      if (!Files.isDirectory(deltaDir)) Nil // compaction-only version
      else enumerateBucketEntries(s"data/v$v/delta").values.flatten.map(_.path)
    }
    if (rel.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(sch.fields :+ StructField("__version", LongType, nullable = false)))
    else
      // greedy `.*/` prefix anchors the version capture to the LAST
      // `/data/vN/delta/` path component — a table rooted under a
      // directory that itself matches the pattern (e.g.
      // `/x/data/v2/delta/mytable`) must not mislabel every row's version
      scanFiles(cur, rel).withColumn("__version",
        regexp_extract(col("_metadata.file_path"), ".*/data/v(\\d+)/delta/", 1)
          .cast(LongType))
  }

  /** Expire old snapshots and vacuum their orphaned data files — the GC
    * half of table maintenance (compaction bounds read amplification;
    * this bounds storage). Keeps the most recent `keepLast` snapshots
    * (the time-travel and change-feed window).
    *
    * Deletion is scoped to files the EXPIRED snapshots own: a file is
    * deleted only if (referenced by an expired snapshot, or living under
    * an expired version's `data/vN/` directory) AND not referenced by any
    * retained snapshot AND not a change-feed delta of a retained version.
    * Files owned by NO snapshot are never touched — a concurrent writer's
    * just-written delta for the in-flight version `cur+1` is unreferenced
    * at walk time, and the earlier walk-everything policy would have
    * deleted it out from under the commit (the OCC check cannot protect
    * files that are not yet referenced). Orphans from crashed/rejected
    * commits at versions ≤ cur are reclaimed once those versions expire
    * (their `data/vN/` dirs fall in scope).
    *
    * Crash-safe by ordering: snapshot JSONs are deleted only after the
    * data files they exclusively referenced — a crash mid-vacuum leaves
    * garbage (re-vacuum), never a torn table.
    *
    * @return (expired snapshot count, deleted data file count)
    */
  def expireSnapshots(keepLast: Int = 2): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException(s"table $tablePath not initialized"))
    val all = listChildren(snapshotsDir)
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
        s.stripPrefix("snapshot-").stripSuffix(".json").toLong }
      .sorted
    val retained = all.filter(_ > cur.version - keepLast)
    val expired = all.filterNot(retained.contains)
    if (expired.isEmpty) return (0, 0)
    // keep: files referenced by any retained snapshot, plus the feed
    // deltas of retained versions (changeFeed reads them from disk even
    // when compaction has de-referenced them)
    val retainedSnaps = retained.map(snapshot)
    val referenced: Set[String] = retainedSnaps
      .flatMap(s => filesOf(s).values.flatten).toSet
    val expiredSet = expired.toSet
    def ownedByExpired(rel: String): Boolean =
      // data/vN/... paths version-own their dir; snapshot refs cover the rest
      relVersion(rel).exists(expiredSet.contains)
    val expiredReferenced: Set[String] =
      expired.flatMap(v => filesOf(snapshot(v)).values.flatten).toSet
    def keepPath(rel: String): Boolean =
      referenced.contains(rel) ||
        retained.exists(v => rel.startsWith(s"data/v$v/delta/"))
    val dataDir = root.resolve("data")
    var deleted = 0
    if (Files.isDirectory(dataDir)) {
      val walk = Files.walk(dataDir)
      try walk.iterator().asScala.toSeq.reverse.foreach { p =>
        val rel = root.relativize(p).toString
        if (Files.isRegularFile(p) &&
            (ownedByExpired(rel) || expiredReferenced.contains(rel)) &&
            !keepPath(rel)) {
          Files.delete(p); deleted += 1
        } else if (Files.isDirectory(p) &&
            relVersion(rel + "/").exists(expiredSet.contains) &&
            listChildren(p).isEmpty) {
          Files.delete(p)
        }
      } finally walk.close()
    }
    // manifest GC, same ownership rule as data files: reclaim manifests
    // whose version ≤ current and that no retained snapshot references —
    // an in-flight writer's manifest (version = cur+1) is untouched
    val liveManifests: Set[String] = retainedSnaps.flatMap(_.manifests).toSet
    if (Files.isDirectory(manifestsDir)) {
      listChildren(manifestsDir).foreach { p =>
        val rel = root.relativize(p).toString
        val v = ManifestNameRe.findFirstMatchIn(p.getFileName.toString)
          .map(_.group(1).toLong)
        if (v.exists(_ <= cur.version) && !liveManifests.contains(rel))
          Files.deleteIfExists(p)
      }
    }
    expired.foreach(v => Files.deleteIfExists(
      snapshotsDir.resolve(s"snapshot-$v.json")))
    (expired.size, deleted)
  }
  private val ManifestNameRe = "^m-(\\d+)-".r

  /** The version that owns `data/vN/...` (None for paths outside the
    * per-version layout).
    */
  private def relVersion(rel: String): Option[Long] = {
    val m = VersionDirRe.findFirstMatchIn(rel)
    m.map(_.group(1).toLong)
  }
  private val VersionDirRe = "^data/v(\\d+)/".r

  /** Compact the table: rewrite every bucket into one file under the new
    * version's `rewrite/` dir (the minor compaction's layout), materializing
    * drift columns (and dropping the delta-side `extra` carrier). With
    * `dropTombstones=true` also garbage-collects deleted keys.
    * PRECONDITION of `dropTombstones = true`, not checked: no event for a
    * dropped key with an lsn below its tombstone's can still arrive. It is
    * the only guard against a resurrected key — a changelog replay
    * (it keeps no dedup state) lets a stale event through as a delta
    * row, and once the tombstone it loses to is gone, that row wins.
    * (Kept tombstones make any stale event lose.) Enforcing it needs a
    * tombstone horizon over a declared reorder bound, which this table
    * does not have. Same
    * snapshot mechanics. After compaction every bucket holds one resolved
    * file, so reads skip the winner window entirely.
    *
    * **Typed drift materialization** ≙ the reference sink's DDL ladder
    * (`pgsql.go:170-229,326-363`): a still-string drift column whose
    * non-null values ALL parse as dates (resp. ISO datetimes) is
    * materialized as DATE (resp. TIMESTAMP) and the snapshot schema
    * retyped — decided per column over the whole table, not per record
    * (per-record DDL flapping is a reference bug we don't keep). Rows
    * from files that predate the drift column read back as typed NULLs.
    * Retyping happens ONLY here: major compaction rewrites EVERY live
    * file, so no surviving file can physically disagree with the new
    * schema. Minor compaction (inside [[merge]]) must keep drift columns
    * as strings — it rewrites only a bucket tail, and retyping the
    * snapshot would contradict the untouched files' physical string
    * columns. Old delta files read under the retyped schema surface the
    * column as a typed NULL plus the `extra`-map lift (see [[liftDrift]]),
    * which converts with the same ladder — so the change feed and time
    * travel stay consistent.
    */
  def compact(dropTombstones: Boolean = false): Snapshot = {
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException("no table"))
    val all = resolveFiles(cur, filesOf(cur))
    val base = if (dropTombstones) all.filter(!col(DeletedMeta)) else all
    val sniffable = driftCols(cur).filter(c =>
      StructType.fromDDL(cur.schemaDdl)(c).dataType == StringType)
    val typed =
      if (sniffable.isEmpty) base
      else graft.sources.Sources.sniffTypes(base, Some(sniffable))
    val rewritten = rewrite(cur, typed, cur.numBuckets)
    // snapshot schema follows the sniffed types (order unchanged)
    val newDdl = StructType(StructType.fromDDL(cur.schemaDdl).fields.map { f =>
      typed.schema.find(_.name == f.name)
        .map(t => f.copy(dataType = t.dataType)).getOrElse(f)
    }).toDDL
    // major compaction resets the manifest chain to one base
    commit(cur, rewritten, Nil, Nil, forceBase = true)(_.copy(schemaDdl = newDdl))
  }
}

object LakeTable {

  /** On-disk snapshot format this code writes (and the max it reads). */
  val CurrentFormatVersion = 2

  /** JSON (de)serialization of snapshots + manifests via json4s (ships
    * with Spark).
    */
  object SnapshotCodec {
    import org.json4s._
    import org.json4s.jackson.Serialization
    implicit val formats: Formats = Serialization.formats(NoTypeHints)
    def toJson(s: Snapshot): String = Serialization.writePretty(s)
    def fromJson(j: String): Snapshot = {
      // Decide compatibility from the RAW json, not the extracted case
      // class: json4s fills a missing `formatVersion` from the case-class
      // default (CurrentFormatVersion) and a missing `manifests` with Nil,
      // so a legacy snapshot would otherwise "parse" as an empty current
      // table — silent data loss instead of an error.
      val ast = org.json4s.jackson.JsonMethods.parse(j)
      val fv = ast \ "formatVersion" match {
        case JInt(v) => v.toInt
        // pre-formatVersion snapshots (the inline-`files` shape) carry no
        // marker at all — that IS format 1
        case _ => 1
      }
      if (fv < CurrentFormatVersion)
        throw new IllegalStateException(
          s"unreadable lake snapshot: written as formatVersion $fv (the " +
            "pre-manifest format inlined `files` and carried no " +
            s"formatVersion field); this reader supports formatVersion " +
            s"${CurrentFormatVersion}")
      require(fv <= CurrentFormatVersion,
        s"lake snapshot formatVersion $fv is newer than this " +
          s"reader (supports <= ${CurrentFormatVersion}); upgrade graft")
      try ast.extract[Snapshot]
      catch {
        case e: MappingException =>
          throw new IllegalStateException(
            s"unreadable lake snapshot (formatVersion $fv matches this " +
              s"reader but a field failed to map): ${e.getMessage}")
      }
    }
    def manifestToJson(m: Manifest): String = Serialization.writePretty(m)
    def manifestFromJson(j: String): Manifest = Serialization.read[Manifest](j)
  }

  def apply(spark: SparkSession, path: String,
      keyCols: Seq[String] = Seq("repo", "path"),
      numBuckets: Int = 32,
      maxFilesPerBucket: Int = 8): LakeTable =
    new LakeTable(spark, path, keyCols, numBuckets, maxFilesPerBucket)
}
