package graft.stages

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** A versioned parquet MERGE target — the storage-transactional upsert the
  * reference gets from a single Postgres transaction
  * (`sql/deliveries_stg_to_dds.sql:38-56`), re-expressed for immutable
  * columnar storage without requiring Delta/Iceberg jars.
  *
  * Protocol (the same pointer-flip idea lakehouse formats use):
  *   1. every merge computes `existing ⊳⊲ batch` with the [[Merge]]
  *      rewrites and writes it to a private staging directory;
  *   2. one publish step, [[commitStagedFiles]], moves the finished stage
  *      into a brand-new version directory `v<n>` under the commit lock
  *      and only then replaces the `_CURRENT` pointer file — written to a
  *      temp name, then ATOMIC_MOVE'd over.
  * A reader resolves `_CURRENT` first, so a crash anywhere before the flip
  * leaves the previous version intact and readable; a half-written `v<n>`
  * is invisible garbage, never corruption. Because the merges themselves
  * are idempotent, re-running a failed batch converges to the same table —
  * together with write-then-advance watermark ordering this is the
  * engine's exactly-once story (SURVEY.md §7.3).
  *
  * The pointer is durable: a new `MergeTable` on the same root resumes
  * from the last committed version (restartability — what the in-memory
  * round-1 sink lacked). On object stores without atomic rename this flip
  * maps onto the store's conditional-put, exactly as Delta's LogStore does.
  *
  * A version directory holds the parquet data files plus two sidecars,
  * staged with the data and promoted by the same atomic move: `_STATS`
  * (per-file footer stats, [[graft.lake.StatsManifest]]) and `_SCHEMA`
  * (the written DataFrame schema as JSON, DataFrame commits only). Spark's
  * file index skips both by their `_` prefix. Readers use `_SCHEMA` so
  * opening a version submits no schema-inference job, and fall back to
  * parquet inference when it is missing (older versions, files staged by
  * the [[graft.lake]] catalog, shallow clones) — as `_STATS` readers
  * fall back to footer reads.
  */
final class MergeTable(val root: String, keys: Seq[String],
                       lockStaleMs: Long = MergeTable.DefaultLockStaleMs) {

  private def pointerPath: Path = Paths.get(root, "_CURRENT")

  /** The committed version directory, if any merge ever committed. */
  def currentVersion: Option[String] =
    if (Files.exists(pointerPath))
      Some(new String(Files.readAllBytes(pointerPath), StandardCharsets.UTF_8).trim)
    else None

  private def currentData(spark: SparkSession): Option[DataFrame] =
    currentVersion.map(scanVersion(spark, _))

  /** THE read of one version directory: with the schema its commit
    * recorded in `_SCHEMA` when present (no Spark job to infer it from a
    * footer), by parquet inference otherwise.
    */
  private def scanVersion(spark: SparkSession, version: String): DataFrame = {
    val dir = Paths.get(root, version)
    MergeTable.recordedSchema(dir) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir.toString)
      case None         => spark.read.parquet(dir.toString)
    }
  }

  def read(spark: SparkSession, schemaIfEmpty: StructType): DataFrame =
    currentData(spark).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaIfEmpty))

  /** Time travel: read a specific committed version (`v0`, `v1`, …).
    * Version directories are immutable once written, so any retained
    * version is a consistent snapshot — the same contract Delta's
    * `versionAsOf` exposes.
    */
  def readVersion(spark: SparkSession, version: String): DataFrame =
    scanVersion(spark, version)

  /** Small-file compaction: rewrite the CURRENT version into `numFiles`
    * parquet files as a new commit — same rows, fewer files; the
    * `OPTIMIZE` of lakehouse formats. The update-mode streaming merges
    * append one file per batch partition, so a long-lived table
    * accumulates footers faster than data; periodic compaction keeps scan
    * planning cost bounded. Runs through the same CAS commit as any
    * merge, so it is crash-safe and loudly fails under a concurrent
    * writer; previous versions stay intact for time travel until
    * [[vacuum]]. No-op on an empty table.
    *
    * `clusterBy` turns compaction into `OPTIMIZE ... ZORDER BY`: one
    * column range-partitions + sorts (tight per-file min/max on that
    * column), two BIGINT columns interleave into a Morton z-value
    * ([[graft.ops.Layout.withZValue]]) so per-file footer ranges are
    * tight on BOTH — which is exactly what per-file group pruning
    * (scans AND row-level rewrites) skips on. Maintenance, not
    * semantics: the rows are identical, only the file layout changes.
    *
    * `declaredSchema` pins the read to the TABLE's schema rather than
    * parquet inference. A schema-evolved table (metadata-only
    * ADD/DROP COLUMN) has files of different widths; inference samples
    * ONE file, so compacting through it could silently drop an evolved
    * column. With the declared schema, old rows null-fill added columns
    * (materializing the evolution) and dropped columns are projected
    * away for good. Callers owning a declared schema — the lake catalog
    * — must pass it.
    */
  def compact(spark: SparkSession, numFiles: Int = 1,
              clusterBy: Seq[String] = Nil,
              declaredSchema: Option[StructType] = None): Unit = {
    require(numFiles >= 1, "must compact to at least one file")
    if (currentVersion.isDefined)
      commit(read(spark, new StructType()), sizeOutput = false) { inferred =>
        if (inferred.isEmpty) throw new IllegalStateException(
          s"MergeTable $root: _CURRENT disappeared between the compaction's " +
            "version check and its commit — concurrent vacuum/manual deletion?")
        // re-read under the declared schema when given: inference samples
        // ONE file, so a schema-evolved table (files of different widths)
        // could silently lose an added column; the declared read
        // null-fills it instead. Same version — the commit CAS-checks it.
        val existing = declaredSchema match {
          case Some(s) => spark.read.schema(s)
            .parquet(Paths.get(root, currentVersion.get).toString)
          case None => inferred.get
        }
        import org.apache.spark.sql.functions.col
        clusterBy match {
          case Nil => existing.repartition(numFiles)
          case Seq(c) =>
            existing.repartitionByRange(numFiles, col(c)).sortWithinPartitions(c)
          case Seq(a, b) =>
            require(!existing.columns.exists(Seq("z", "a_scaled", "b_scaled").contains),
              "z-order compaction reserves working columns z/a_scaled/b_scaled — " +
                "rename the table column or use single-column clusterBy")
            graft.ops.Layout.withZValue(existing, a, b)
              .repartitionByRange(numFiles, col("z"))
              .sortWithinPartitions("z")
              .drop("a_scaled", "b_scaled", "z")
          case _ => throw new IllegalArgumentException(
            "clusterBy supports one ordered column or two BIGINT z-order columns")
        }
      }
  }

  /** The on-disk version directories (`v<n>`), oldest first — THE one
    * definition of what counts as a version name, shared by vacuum,
    * time-travel validation, and diagnostics.
    */
  def listVersions: Seq[String] = {
    val entries = Files.list(Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      entries.iterator().asScala.map(_.getFileName.toString)
        .filter(MergeTable.isVersionName)
        .toSeq.sortBy(_.drop(1).toLong)
    } finally entries.close()
  }

  // ---- Deletion vectors (merge-on-read DELETE) ----------------------
  //
  // The copy-on-write DELETE (the SQL path / group rewrites) pays a file
  // rewrite proportional to the touched file GROUPS even when the
  // predicate kills a handful of rows. Deletion vectors are the
  // lakehouse answer (Delta DVs / Iceberg position deletes): the delete
  // writes only a (file, row-position) sidecar — O(deleted rows) — and
  // readers anti-apply it at scan time; a later reconcile (OPTIMIZE)
  // folds the vectors into a rewritten version and drops them. Sidecars
  // are keyed BY VERSION (`v<n>_dv/`), so time travel of the bare
  // version still sees pre-delete rows and a new commit starts clean
  // (its version has no sidecar). `isVersionName` rejects the `_dv`
  // suffix, so vacuum/version listing never mistake a sidecar for a
  // snapshot; [[vacuum]] deletes a dropped version's sidecar alongside
  // its directory, so no sidecar outlives its version.
  //
  // A pending sidecar is UNFINISHED STATE: a commit built from the bare
  // version (upsert/insertIgnore/compact/replace/DSv2) would resurrect
  // the deleted rows, because the next version starts with no sidecar.
  // Every commit path therefore refuses to advance past a version with
  // a pending sidecar ([[requireNoPendingDeletes]]) — the caller must
  // [[reconcileDeletes]] first (or derive its snapshot from
  // [[readWithDeletes]] and go through the reconcile). Delta enforces
  // the same invariant by carrying DV descriptors in the log; with
  // filesystem sidecars, refusing the blind commit is the honest
  // equivalent.

  private def dvPath(version: String): Path = Paths.get(root, version + "_dv")

  /** The named version's deletion-vector sidecar path (exists only while
    * that version has pending merge-on-read deletes) — for callers that
    * assemble or migrate a sidecar across a commit (the merge-on-read
    * UPDATE path).
    */
  def dvSidecarPath(version: String): Path = dvPath(version)

  /** The current version's deletion-vector sidecar path, when one is
    * pending (rows deleted merge-on-read but not yet reconciled). */
  def pendingDeleteVectors: Option[Path] =
    currentVersion.map(dvPath).filter(Files.exists(_))

  // ---- deadline arm of the reconcile trigger -------------------------
  // The ratio arm (20·dv ≥ rows) prices the sidecar against the table —
  // but the exact deletes the DV ladder diverts (tiny hit sets on huge
  // tables) never reach 5%, so on its own it would let a 10-row delete
  // tax every scan of a 10⁹-row table forever. The deadline arm prices
  // the tax against TIME-IN-USE instead: each catalog scan that pays the
  // pending-window anti-apply drops a `_scan_` marker in the sidecar
  // (bounded at the deadline — the count saturates, so marker files never
  // accumulate past it), and the census recommends a reconcile once
  // [[MergeTable.DvScanDeadline]] scans have paid. Sixteen paid scans is
  // the documented break-even convention: by then the accrued per-scan
  // overhead (row-level reads, no columnar batches) has plausibly matched
  // the one-time small rewrite the reconcile costs. Markers live and die
  // with the sidecar (reconcile folds it, vacuum sweeps it).

  private val DvScanMarkerPrefix = "_scan_"

  /** Census one catalog scan of the pending window (no-op when nothing
    * pends or the count already saturated at the deadline).
    */
  def recordDvScan(): Unit = pendingDeleteVectors.foreach { dv =>
    // best-effort accounting on a READ path: a reconcile racing this scan
    // may sweep the sidecar between the pending check and the create —
    // losing the marker is fine (the window it counted just closed), and
    // a scan must never fail over its own bookkeeping
    try {
      if (dvScanCount < MergeTable.DvScanDeadline)
        Files.createFile(dv.resolve(
          s"$DvScanMarkerPrefix${java.util.UUID.randomUUID()}"))
    } catch { case _: java.io.IOException => () }
  }

  /** Catalog scans that have paid the pending-window tax (saturates at
    * [[MergeTable.DvScanDeadline]]); 0 when no sidecar pends.
    */
  def dvScanCount: Long = pendingDeleteVectors.fold(0L) { dv =>
    try {
      val entries = Files.list(dv)
      try {
        import scala.jdk.CollectionConverters._
        entries.iterator().asScala
          .count(_.getFileName.toString.startsWith(DvScanMarkerPrefix)).toLong
      } finally entries.close()
    } catch {
      // sidecar swept by a racing reconcile: the window is gone, so no
      // scans are pending against it
      case _: java.nio.file.NoSuchFileException => 0L
    }
  }

  private def requireNoPendingDeletes(base: Option[String]): Unit =
    base.filter(v => Files.exists(dvPath(v))).foreach { v =>
      throw new IllegalStateException(
        s"MergeTable $root: version $v has a pending deletion-vector sidecar; " +
          "a commit built from the bare version would resurrect deleted rows — " +
          "run reconcileDeletes() first")
    }

  /** Merge-on-read DELETE: append the predicate's (file, row-position)
    * hits to the CURRENT version's deletion-vector sidecar. No data file
    * is touched — cost is O(matching rows), not O(touched file groups).
    * Positions ride parquet's stable in-file row order
    * (`_metadata.row_index`), the same contract Delta DVs encode.
    * Re-appending the same delete is harmless (the anti-join
    * deduplicates by construction), and concurrent DV appends COMPOSE —
    * position sets union — so the sidecar needs no commit lock. Racing
    * writers are handled two ways: an ordinary data commit REFUSES to
    * advance past a pending sidecar ([[requireNoPendingDeletes]],
    * re-checked under the commit lock), and a [[reconcileDeletes]] pins
    * the version it read as its CAS base — the only residual window is a
    * DV appended between the reconcile's sidecar read and its flip
    * (exactly Delta's documented DV race, resolved by re-running the
    * delete against the new version).
    */
  def deleteVectors(spark: SparkSession, pred: org.apache.spark.sql.Column): Unit = {
    val v = currentVersion.getOrElse(throw new IllegalStateException(
      s"MergeTable $root: DELETE on an empty table (no committed version)"))
    import org.apache.spark.sql.functions.col
    scanVersion(spark, v)
      .filter(pred)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"))
      .write.mode("append").parquet(dvPath(v).toString)
  }

  /** Read the current version with its deletion vectors anti-applied —
    * the merge-on-read scan. The sidecar is broadcast (deleted positions
    * are the small side by design; a delete big enough to break that is
    * the signal to [[reconcileDeletes]]), so the apply costs one
    * broadcast anti-join, never a shuffle of the data side. Positions
    * join on FILE NAME + row index, not the full path: carried files
    * keep their names across versions (hard links), so a sidecar
    * migrated by the merge-on-read UPDATE commit stays valid without
    * rewriting a single position row, and name collisions cannot happen
    * (staged part names embed task UUIDs).
    */
  def readWithDeletes(spark: SparkSession, schemaIfEmpty: StructType): DataFrame =
    currentVersion match {
      case None => read(spark, schemaIfEmpty)
      case Some(v) =>
        val data = scanVersion(spark, v)
        if (!Files.exists(dvPath(v))) data
        else {
          import org.apache.spark.sql.functions.{broadcast, col, substring_index}
          val dv = spark.read.parquet(dvPath(v).toString)
            .select(substring_index(col("file"), "/", -1).as("_dv_file"),
              col("pos").as("_dv_pos"))
          data
            .withColumn("_dv_file",
              substring_index(col("_metadata.file_path"), "/", -1))
            .withColumn("_dv_pos", col("_metadata.row_index"))
            .join(broadcast(dv), Seq("_dv_file", "_dv_pos"), "left_anti")
            .drop("_dv_file", "_dv_pos")
        }
    }

  /** Fold the deletion vectors into a rewritten version (the OPTIMIZE
    * half of merge-on-read): commit [[readWithDeletes]] as a fresh
    * `numFiles`-file snapshot — the new version carries no sidecar, and
    * scans stop paying the anti-join. No-op when nothing is pending.
    *
    * Reconcile is read-modify-write (the snapshot is derived from the
    * version + sidecar it read), so the commit pins that version as its
    * `expectedBase`: a commit landing in between makes THIS reconcile
    * fail loudly instead of silently overwriting the racer — re-run the
    * reconcile on the new current version.
    */
  def reconcileDeletes(spark: SparkSession, numFiles: Int = 1): Unit =
    currentVersion.filter(v => Files.exists(dvPath(v))).foreach { v =>
      val folded = readWithDeletes(spark, new StructType()).repartition(numFiles)
      commit(folded, expectedBase = Some(Some(v)),
        foldsPendingDeletes = true, sizeOutput = false)(_ => folded)
    }

  /** Deletion-vector census — merge-on-read's monitoring twin, same
    * convention as the graph index's staleness card: one row pricing how
    * much read tax the pending sidecar is charging. `table_rows` comes
    * from the stats manifest (O(files) metadata, no data scan);
    * `dv_rows` is a count over the sidecar (small by the DV contract).
    * `reconcile_recommended` is THE documented trigger — two arms, OR'd:
    * the RATIO arm (sidecar ≥ 5% of the version's rows, 20·dv_rows ≥
    * table_rows) prices the sidecar against the table, and the DEADLINE
    * arm (`scans_since_delete` ≥ [[MergeTable.DvScanDeadline]]) prices
    * the accrued per-scan tax, so ratio-small sidecars still reconcile
    * once enough reads have paid. [[reconcileIfRecommended]] fires on
    * exactly this predicate, so the census can never disagree with the op.
    */
  def deleteVectorCensus(spark: SparkSession): DataFrame = {
    val (v, tableRows, dvRows) = currentVersion match {
      case None => ("", 0L, 0L)
      case Some(ver) =>
        val rows = manifestRowCount(ver).getOrElse(scanVersion(spark, ver).count())
        val dv = if (Files.exists(dvPath(ver)))
          spark.read.parquet(dvPath(ver).toString)
            .select(org.apache.spark.sql.functions.substring_index(
              col("file"), "/", -1).as("f"), col("pos"))
            .distinct().count()
        else 0L
        (ver, rows, dv)
    }
    val scans = dvScanCount
    import spark.implicits._
    Seq((v, tableRows, dvRows, scans,
      dvRows > 0 && (20L * dvRows >= tableRows || scans >= MergeTable.DvScanDeadline)))
      .toDF("version", "table_rows", "dv_rows", "scans_since_delete",
        "reconcile_recommended")
  }

  /** Reconcile iff [[deleteVectorCensus]] recommends it — the trigger IS
    * the census predicate (they share the literal threshold). Returns
    * whether a reconcile fired.
    */
  def reconcileIfRecommended(spark: SparkSession, numFiles: Int = 1): Boolean = {
    val rec = deleteVectorCensus(spark)
      .select(col("reconcile_recommended")).collect()(0).getBoolean(0)
    if (rec) reconcileDeletes(spark, numFiles)
    rec
  }

  /** Zero-copy shallow clone (Delta's `CREATE TABLE ... SHALLOW CLONE`):
    * the named committed version's data files become version `v0` of a
    * NEW table at `destRoot` via hard links (copy fallback) — O(files)
    * metadata work, zero data bytes moved, however large the table. At
    * 100 TB this is the difference between an instant dev/test fork and a
    * multi-hour copy job.
    *
    * Isolation holds by the immutability every commit path already
    * relies on: neither table ever mutates a data file in place (commits
    * write NEW files into NEW version directories), so writes to the
    * clone never appear in the source and vice versa. The clone even
    * survives the source VACUUMING the cloned version: vacuum unlinks
    * the source's directory entries, but the clone's hard links keep the
    * inodes alive — the local-FS analogue of cloning into a bucket with
    * its own lifecycle policy.
    */
  def cloneShallow(version: String, destRoot: String): MergeTable = {
    require(listVersions.contains(version),
      s"MergeTable $root: cannot clone unknown version $version")
    val dest = new MergeTable(destRoot, keys, lockStaleMs)
    require(dest.currentVersion.isEmpty,
      s"MergeTable clone target $destRoot is not empty")
    Files.createDirectories(Paths.get(destRoot))
    val token = java.util.UUID.randomUUID().toString
    val staged = Paths.get(destRoot, s"_stage_$token")
    Files.createDirectories(staged)
    dataFiles(version).foreach(f =>
      MergeTable.linkOrCopy(f, staged.resolve(f.getFileName.toString)))
    dest.commitStagedFiles(staged, carryForward = false, expectedBase = Some(None))
    dest
  }

  /** Drop all committed versions except the newest `keepLast` (never the
    * current one). Old versions are what time travel reads, so retention
    * is a policy knob, not garbage: this is `VACUUM`.
    */
  def vacuum(keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "must keep at least the current version")
    val cur = currentVersion.map(_.drop(1).toLong).getOrElse(return)
    listVersions.filter(_.drop(1).toLong <= cur - keepLast)
      .foreach { v =>
        TempDirs.deleteTree(Paths.get(root, v))
        // a dropped version's deletion-vector sidecar goes with it —
        // sidecars are keyed by version and must not outlive theirs
        if (Files.exists(dvPath(v))) TempDirs.deleteTree(dvPath(v))
      }
  }

  /** SCD1 merge-commit: incoming wins on key collision. With
    * `evolveSchema`, columns present on only one side are null-filled on
    * the other (additive schema evolution, like `MERGE` with
    * `autoMerge`); without it, a schema drift fails loudly.
    *
    * Concurrency contract: a `MergeTable` is a SINGLE-WRITER table — run
    * one committer per root (the reference's Airflow DAG serializes its
    * merge the same way, one task instance per run). Concurrent commits
    * are not merged or queued; they are DETECTED: each commit
    * compare-and-swaps on the `_CURRENT` pointer content, so when two
    * writers race, exactly one flip wins and the loser throws
    * [[java.util.ConcurrentModificationException]] with nothing committed
    * (its staged data is cleaned up; re-running the loser on the new
    * current version converges, because merges are idempotent).
    */
  def upsert(batch: DataFrame, evolveSchema: Boolean = false): Unit = commit(batch) {
    case Some(existing) => mergeEvolved(existing, batch, evolveSchema)(
      Merge.upsert(_, _, keys))
    case None           => batch
  }

  /** Snapshot-replace commit: the new version holds exactly `snapshot`
    * (`INSERT OVERWRITE` / `CREATE OR REPLACE` semantics — for recomputed
    * artifacts like a curation survivor set, where the new state is
    * derived from table ∪ batch rather than merged row-by-row). Runs
    * through the same stage + CAS flip as the merges, so it is crash-safe
    * and previous versions stay time-travelable.
    *
    * Conflict detection needs the caller's help: the snapshot was derived
    * from a version the CALLER read, so pass that version as
    * `expectedBase` and a commit that raced past it fails loudly. Without
    * it the CAS window only covers this call (last-writer-wins between
    * replaces — fine for INSERT OVERWRITE semantics, wrong for
    * read-modify-write like curation).
    */
  def replace(snapshot: DataFrame, expectedBase: Option[Option[String]] = None): Unit =
    commit(snapshot, expectedBase) { _ => snapshot }

  /** SCD0 merge-commit: first write wins. Same single-writer contract and
    * conflict detection as [[upsert]].
    */
  def insertIgnore(batch: DataFrame, evolveSchema: Boolean = false): Unit = commit(batch) {
    case Some(existing) => mergeEvolved(existing, batch, evolveSchema)(
      Merge.insertIgnore(_, _, keys))
    case None           => batch.dropDuplicates(keys)
  }

  private def mergeEvolved(existing: DataFrame, batch: DataFrame, evolve: Boolean)
                          (merge: (DataFrame, DataFrame) => DataFrame): DataFrame =
    if (!evolve) merge(existing, batch)
    else merge(MergeTable.widen(existing, batch.schema), MergeTable.widen(batch, existing.schema))

  /** Commit a DataFrame: merge over the base version, stage the output
    * with its `_SCHEMA` sidecar under a per-commit UNIQUE directory (two
    * racing writers never write into the same path), then publish it
    * through [[commitStagedFiles]] — THE lock + compare-and-swap + move +
    * flip every version goes through. The base read here is the CAS
    * expectation, so a writer that flipped since fails this commit loudly
    * with nothing committed.
    */
  private def commit(batch: DataFrame, expectedBase: Option[Option[String]] = None,
                     foldsPendingDeletes: Boolean = false,
                     sizeOutput: Boolean = true)
                    (merge: Option[DataFrame] => DataFrame): Unit = {
    val spark = batch.sparkSession
    // an expected base makes the CAS cover the CALLER's read, not just this call
    val base = expectedBase.getOrElse(currentVersion)
    // refuse to advance past unreconciled merge-on-read deletes BEFORE any
    // Spark work: the new version would start sidecar-free and resurrect
    // them (only the reconcile itself, which folds the sidecar, may pass)
    if (!foldsPendingDeletes) requireNoPendingDeletes(base)
    val stage = Paths.get(root, s"_stage_${java.util.UUID.randomUUID()}")
    val out0 = merge(base.map(scanVersion(spark, _)))
    // OptimizeWrite (the Delta convention): an AQE REBALANCE before the
    // write sizes the version's files by bytes, not by the merge lineage's
    // incidental partition count (one file for a small table instead of 32
    // writer-inits; still parallel, size-split at scale). Callers that
    // partition their output DELIBERATELY (compact's file count /
    // clustering, reconcileDeletes' numFiles) pass sizeOutput = false.
    val out = if (sizeOutput) out0.hint("rebalance") else out0
    out.write.mode("overwrite").parquet(stage.toString)
    MergeTable.recordSchema(stage, out.schema)
    commitStagedFiles(stage, carryForward = false, expectedBase = Some(base),
      foldsPendingDeletes = foldsPendingDeletes)
  }

  /** THE publish step: the data files in `staged` (plus any `_` sidecars
    * staged with them) become the next version under the commit lock — a
    * short critical section of pointer reads/renames only, no Spark work,
    * that re-reads `_CURRENT`, fails if it moved since the caller's
    * expected base, moves the stage into `v<n>` and flips the pointer. On
    * a filesystem the lock is an atomic `createFile`; on an object store
    * both the lock and the pointer move map onto conditional-put
    * (if-none-match / if-match), exactly as Delta's LogStore does. The
    * stage is deleted whatever the outcome; committed `v<n>` directories
    * stay immutable. Every version is published here: the DataFrame
    * commits ([[upsert]], [[replace]], [[compact]], …), the
    * [[graft.lake]] DSv2 catalog (whose EXECUTORS write the files — the
    * driver only promotes them) and [[cloneShallow]].
    *
    * With `carryForward`, the base version's data files are hard-linked
    * (copy fallback) into the staging directory BEFORE the lock is taken —
    * O(files) metadata work, no data rewrite, and the critical section
    * stays one directory rename plus the pointer flip, preserving the
    * premise behind the lock-staleness threshold.
    *
    * `expectedBase` pins the snapshot the caller PLANNED against
    * (`Some(None)` = planned against an empty table): if `_CURRENT` moved
    * since, the commit throws with nothing changed — the
    * snapshot-isolation conflict check a row-level rewrite needs, since
    * its output was derived from that snapshot. A carry-forward append
    * without an explicit base pins the version it linked from, so a
    * concurrent commit landing between the link pass and the flip fails
    * THIS commit loudly instead of silently losing the other writer's
    * rows. Only a replace with `expectedBase = None` is last-writer-wins.
    *
    * `carryExclude` names base files that must NOT be carried because the
    * staged files REPLACE them — the per-file group rewrite of
    * MERGE/UPDATE/DELETE: untouched files survive as hard links, only the
    * files whose rows were rewritten are superseded. The caller owns the
    * exactness contract: the staged data must contain every surviving row
    * of exactly the excluded files (excluding a file that was not
    * rewritten LOSES its rows; carrying a file that was rewritten
    * DUPLICATES them).
    *
    * @return the committed version name (`v<n>`)
    */
  def commitStagedFiles(staged: Path, carryForward: Boolean,
                        expectedBase: Option[Option[String]] = None,
                        carryExclude: Set[String] = Set.empty,
                        foldsPendingDeletes: Boolean = false,
                        beforeFlip: String => Unit = _ => ()): String = {
    val token = java.util.UUID.randomUUID().toString
    val lock = Paths.get(root, "_COMMIT_LOCK")
    try {
      // a commit that didn't fold the deletion vectors would resurrect
      // merge-on-read-deleted rows (carried files still hold them; the
      // new version starts sidecar-free). A caller whose staged output
      // WAS derived DV-aware (the reconcile, the catalog's DV-folding
      // rewrite) passes foldsPendingDeletes = true.
      if (!foldsPendingDeletes)
        requireNoPendingDeletes(expectedBase.getOrElse(currentVersion))
      // carry-forward link pass runs OUTSIDE the lock, against the base
      // the commit is pinned to (observed now if the caller didn't pin)
      val carriedBase = if (carryForward) expectedBase.getOrElse(currentVersion) else None
      val effectiveExpected =
        if (carryForward) expectedBase.orElse(Some(carriedBase)) else expectedBase
      // carried staged-name -> base manifest entry: name-stable hard links
      // reuse their stats verbatim, so the manifest pass below only opens
      // footers of genuinely NEW files
      val carriedStats = Map.newBuilder[String, graft.lake.FileStats.FileStat]
      try carriedBase.foreach { v =>
        val baseManifest = graft.lake.StatsManifest.read(Paths.get(root, v))
          .getOrElse(Map.empty)
        eachDataFile(Paths.get(root, v)) { f =>
          if (!carryExclude.contains(f.getFileName.toString)) {
            val preferred = staged.resolve(f.getFileName.toString)
            // staged part names embed task UUIDs, so collisions with carried
            // files can't happen in practice; stay safe anyway
            val dst = if (Files.exists(preferred))
              staged.resolve(s"carried-$token-${f.getFileName}") else preferred
            MergeTable.linkOrCopy(f, dst)
            baseManifest.get(f.getFileName.toString)
              .foreach(st => carriedStats += dst.getFileName.toString -> st)
          }
        }
      } catch {
        case _: java.nio.file.NoSuchFileException =>
          // the base version vanished (dir listing, link source, or copy
          // source) mid-carry: a concurrent committer advanced past it and
          // vacuumed — report the conflict the CAS would have, not raw I/O
          throw new java.util.ConcurrentModificationException(
            s"MergeTable $root: base version disappeared during the append's " +
              "carry-forward (concurrent commit + vacuum) — re-run this batch")
      }
      writeStatsManifest(staged, carriedStats.result())
      acquireCommitLock(lock, token)
      try {
        verifyLockOwner(lock, token)
        val base = currentVersion
        effectiveExpected.foreach { eb =>
          if (base != eb)
            throw new java.util.ConcurrentModificationException(
              s"MergeTable $root: _CURRENT moved from $eb to $base since this " +
                "commit read it — concurrent writer won; re-run the batch or statement")
        }
        // re-check under the lock: a DV appended since the entry check
        // would otherwise be silently abandoned by this flip
        if (!foldsPendingDeletes) requireNoPendingDeletes(base)
        val next = s"v${base.map(_.drop(1).toLong + 1).getOrElse(0L)}"
        val target = Paths.get(root, next)
        if (Files.exists(target)) TempDirs.deleteTree(target)   // orphan from a dead writer
        // an orphan sidecar for the version name we are about to flip to
        // (a dead merge-on-read UPDATE that crashed between its sidecar
        // assembly and its flip) would otherwise poison the new version
        if (Files.exists(dvPath(next))) TempDirs.deleteTree(dvPath(next))
        Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
        // the merge-on-read UPDATE path assembles the NEXT version's
        // sidecar here — after the data move (the version is complete on
        // disk), before the flip (no reader can observe the version
        // without its carried deletes). A crash in between leaves an
        // unreferenced version dir + sidecar pair; both are the dead-
        // writer orphans the cleanup above and vacuum already handle.
        beforeFlip(next)
        flipPointer(next, token)
        next
      } finally releaseLockIfOwner(lock, token)
    } finally {
      if (Files.exists(staged)) TempDirs.deleteTree(staged)
    }
  }

  /** Flip `_CURRENT` to `next`: write to a per-commit unique temp name,
    * then ATOMIC_MOVE over — racing flips never collide on the scratch
    * file, and readers only ever see a complete pointer. The commit is
    * then recorded in `_VERSION_LOG` (one `<version> <epoch-millis>` line,
    * appended under the same lock) — the index `TIMESTAMP AS OF` time
    * travel resolves against. A crash between flip and log append loses
    * only the log line: the version is still current and readable, it
    * just cannot be addressed by timestamp.
    */
  private def flipPointer(next: String, token: String): Unit = {
    verifyLockOwner(Paths.get(root, "_COMMIT_LOCK"), token)
    val tmp = Paths.get(root, s"_CURRENT.$token.tmp")
    Files.write(tmp, next.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointerPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Files.write(Paths.get(root, "_VERSION_LOG"),
      s"$next ${System.currentTimeMillis()}\n".getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Commit history as (version, epoch-millis) pairs, oldest first. */
  def versionLog: Seq[(String, Long)] = {
    val log = Paths.get(root, "_VERSION_LOG")
    if (!Files.exists(log)) Seq.empty
    else new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
      .linesIterator.flatMap { line =>
        line.split(' ') match {
          case Array(v, ms) if ms.forall(_.isDigit) => Some((v, ms.toLong))
          case _ => None
        }
      }.toSeq
  }

  /** The newest version committed at or before `epochMillis`, if any. */
  def versionAsOfTime(epochMillis: Long): Option[String] =
    versionLog.filter(_._2 <= epochMillis).lastOption.map(_._1)

  /** The data files of a committed version, sorted by name — what a scan
    * of that version reads, and the universe per-file group replacement
    * ([[commitStagedFiles]] `carryExclude`) selects from.
    */
  def dataFiles(version: String): Seq[Path] = {
    val buf = Seq.newBuilder[Path]
    eachDataFile(Paths.get(root, version))(buf += _)
    buf.result().sortBy(_.getFileName.toString)
  }

  /** Committed row count of a version from its `_STATS` manifest — O(files)
    * METADATA, no data scan (every commit persists per-file footer stats,
    * and carried files reuse their manifest entries, so a healthy version
    * is always fully covered). `None` when the manifest is absent, any
    * data file lacks an entry, or any entry's footer was unreadable
    * (rowCount < 0): an unknown count must never masquerade as a real one
    * (driver ADVICE — summing -1 sentinels undercounts silently).
    */
  def manifestRowCount(version: String): Option[Long] =
    graft.lake.StatsManifest.read(Paths.get(root, version)).flatMap { m =>
      val files = dataFiles(version).map(_.getFileName.toString)
      if (files.forall(f => m.get(f).exists(_.rowCount >= 0L)))
        Some(files.map(f => m(f).rowCount).sum)
      else None
    }

  /** Largest value of an integral `column` in a version, from the `_STATS`
    * upper bounds — metadata, no data scan. Files without rows are
    * skipped. `None` when the manifest is absent, any data file lacks an
    * entry, any file holding rows has no integral upper bound for the
    * column (all null, unreadable footer), or no file holds a row: the
    * caller then scans.
    */
  def manifestMax(version: String, column: String): Option[Long] =
    graft.lake.StatsManifest.read(Paths.get(root, version)).flatMap { m =>
      val stats = dataFiles(version).map(f => m.get(f.getFileName.toString))
      if (stats.exists(s => s.forall(_.rowCount < 0L))) None
      else {
        val bounds = stats.flatten.filter(_.rowCount > 0L).map(_.colStats(column).hiBound)
        val highs = bounds.collect { case Some(hi: Long) => hi }
        if (highs.isEmpty || highs.size < bounds.size) None else Some(highs.max)
      }
    }

  /** Row-level change feed (CDC) between two committed versions — what
    * Delta's Change Data Feed or an Iceberg changelog scan exposes,
    * derived here purely from version immutability, with no per-commit
    * change logs to write or replay.
    *
    * Carried files keep their names across versions (hard links, see
    * [[commitStagedFiles]]), so a file present in BOTH snapshots is
    * byte-identical and cannot contribute a change: the diff reads ONLY
    * the symmetric difference of the two file sets. At 100 TB an append
    * or a pruned row-level rewrite touches a handful of files, so the
    * change scan is O(changed data), never O(table). Within the changed
    * files, rows are diffed as multisets (`EXCEPT ALL` both ways) — rows
    * merely REWRITTEN into new files by a group rewrite, a clustered
    * compaction, or the rare carry-collision rename cancel out, making
    * maintenance commits correctly invisible to consumers.
    *
    * With `keyCols` (defaulting to the table's merge keys) the two sides
    * are matched per key in one shuffle to classify Delta-CDF-style
    * change types `insert` / `delete` / `update_preimage` /
    * `update_postimage`; classification assumes the snapshots are
    * key-unique (the [[upsert]] invariant — a key seen on both sides
    * more than twice stays a plain insert/delete event). With no keys,
    * changes are plain `insert`/`delete` row events. Columns added or
    * dropped between the versions null-fill the missing side, mirroring
    * [[upsert]]'s `evolveSchema` widening, so an old-schema preimage and
    * its evolved postimage still pair up as an update.
    *
    * MERGE-ON-READ WINDOW: a version committed by a delta UPDATE/MERGE
    * carries every base file and marks the old copies only in its
    * pending sidecar — so the feed over THAT single commit shows the
    * replacement rows as bare `insert`s (the preimages are still inside
    * carried files, invisible to a file-set diff). This is the same
    * "version history only" contract the time-travel scan pins: pending
    * deletes are not committed history. The preimages enter the feed at
    * the reconcile commit; consumers wanting paired update events span
    * the window — changesBetween(pre-update, post-reconcile) classifies
    * them as `update_preimage`/`update_postimage` (spec-pinned).
    */
  def changesBetween(spark: SparkSession, from: String, to: String,
                     keyCols: Seq[String] = keys): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    Seq(from, to).foreach { v =>
      require(MergeTable.isVersionName(v), s"not a version name: $v")
      require(Files.isDirectory(Paths.get(root, v)),
        s"MergeTable $root: version $v does not exist (vacuumed or never committed)")
    }
    val fromFiles = dataFiles(from)
    val toFiles = dataFiles(to)
    val fromNames = fromFiles.map(_.getFileName.toString).toSet
    val toNames = toFiles.map(_.getFileName.toString).toSet
    val removed = fromFiles.collect {
      case f if !toNames(f.getFileName.toString) => f.toString }
    val added = toFiles.collect {
      case f if !fromNames(f.getFileName.toString) => f.toString }
    def readSide(paths: Seq[String]): Option[DataFrame] =
      if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
    (readSide(removed), readSide(added)) match {
      case (None, None) =>
        // structurally identical snapshots → no changes; keep the `to`
        // schema so downstream unions still line up
        readSide(toFiles.map(_.toString)).getOrElse(spark.emptyDataFrame)
          .limit(0).withColumn("change_type", lit(""))
      case (oldOpt, newOpt) =>
        import MergeTable.widen
        val old0 = oldOpt.getOrElse(newOpt.get.limit(0))
        val new0 = newOpt.getOrElse(oldOpt.get.limit(0))
        val cols = (old0.columns ++ new0.columns.filterNot(old0.columns.contains)).toSeq
        require(!cols.contains("change_type"),
          "changesBetween reserves the output column name change_type")
        val oldA = widen(old0, new0.schema).select(cols.map(col): _*)
        val newA = widen(new0, old0.schema).select(cols.map(col): _*)
        val events = oldA.exceptAll(newA).withColumn("change_type", lit("delete"))
          .unionByName(newA.exceptAll(oldA).withColumn("change_type", lit("insert")))
        if (keyCols.isEmpty) events
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
          events.withColumn("_cf_n", count(lit(1)).over(w))
            .withColumn("change_type",
              when(col("_cf_n") === 2 && col("change_type") === "delete",
                "update_preimage")
              .when(col("_cf_n") === 2 && col("change_type") === "insert",
                "update_postimage")
              .otherwise(col("change_type")))
            .drop("_cf_n")
        }
    }
  }

  /** Stage the per-file stats manifest (`_STATS`) next to the data it
    * describes, BEFORE the commit lock: carried entries are reused,
    * new files get their single footer read here, and the atomic
    * directory move promotes data + manifest together — a visible version
    * is born with its manifest. Best-effort by design: readers fall back
    * to footer reads on a missing manifest, so a stats failure must not
    * fail the commit (`graft.lake.StatsManifest`).
    */
  private def writeStatsManifest(staged: Path,
                                 carried: Map[String, graft.lake.FileStats.FileStat]): Unit =
    try {
      val names = Seq.newBuilder[String]
      eachDataFile(staged)(f => names += f.getFileName.toString)
      val session = SparkSession.getActiveSession
      val conf = session
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      graft.lake.StatsManifest.write(staged,
        graft.lake.StatsManifest.buildForCommit(staged, names.result(), carried, conf,
          spark = session))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Data files of a version/staging directory: skips `_SUCCESS`,
    * `_temporary` leftovers and hidden files, exactly as Spark's own file
    * index does.
    */
  private def eachDataFile(dir: Path)(f: Path => Unit): Unit = {
    val s = Files.list(dir)
    try s.forEach { p =>
      val n = p.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith(".") && Files.isRegularFile(p)) f(p)
    } finally s.close()
  }

  /** Take the commit lock, or fail loudly with the holder's identity —
    * the shared [[FileLock]] protocol (atomic create, stale takeover with
    * claim verification). The critical section is pointer I/O plus one
    * directory rename (the corpus-scale work happens BEFORE the lock), so
    * the default threshold is generous: any lock that old belongs to a
    * dead process, not a slow one. [[breakLock]] is the manual override.
    */
  private def acquireCommitLock(lock: Path, token: String): Unit =
    FileLock.acquire(lock, token, lockStaleMs, s"MergeTable $root",
      "re-run this batch, or breakLock() if the holder is known dead")

  /** Defense in depth: a commit only mutates shared state while the lock
    * still carries its token — checked at critical-section entry and
    * again immediately before the pointer flip, so the residual worst
    * case of any takeover race is loud failure of both contenders, never
    * deletion of a pointed-to version.
    */
  private def verifyLockOwner(lock: Path, token: String): Unit =
    FileLock.verifyOwner(lock, token, s"MergeTable $root", "re-run this batch")

  private def releaseLockIfOwner(lock: Path, token: String): Unit =
    FileLock.releaseIfOwner(lock, token)

  /** Explicit repair: delete a leftover `_COMMIT_LOCK` without waiting out
    * the staleness threshold. Only safe when the operator has verified no
    * committer is live — exactly the contract of Delta's
    * `FSCK`/lock-break escape hatches.
    *
    * @return true iff a lock file existed and was removed
    */
  def breakLock(): Boolean = Files.deleteIfExists(Paths.get(root, "_COMMIT_LOCK"))
}

object MergeTable {
  /** Commit-lock staleness threshold: the critical section is pointer
    * I/O only, so 10 minutes is orders of magnitude past any live
    * holder — a lock that old is a crashed committer's leftover.
    */
  val DefaultLockStaleMs: Long = 10L * 60 * 1000

  /** Deadline arm of the DV reconcile trigger: the census recommends a
    * reconcile after this many catalog scans have paid the pending-window
    * tax, whatever the sidecar/table ratio says — the arm that catches
    * the ratio arm's blind spot (tiny deletes on huge tables never reach
    * the 5% ratio, but their read tax still accrues per scan).
    */
  val DvScanDeadline: Long = 16L

  /** The schema sidecar of a version written by a DataFrame commit. */
  val SchemaFile = "_SCHEMA"

  /** Stage `schema` as the `_SCHEMA` sidecar of a version directory.
    * Best-effort, like `_STATS`: readers infer the schema when the file is
    * missing, so failing to write it must not fail the commit.
    */
  private def recordSchema(versionDir: Path, schema: StructType): Unit =
    try Files.write(versionDir.resolve(SchemaFile), schema.json.getBytes(StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () }

  /** The schema a version's commit recorded, or None when the sidecar is
    * absent or unparsable (then callers infer it from the parquet footers).
    */
  def recordedSchema(versionDir: Path): Option[StructType] =
    try {
      val p = versionDir.resolve(SchemaFile)
      if (!Files.exists(p)) None
      else org.apache.spark.sql.types.DataType.fromJson(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)) match {
        case st: StructType => Some(st)
        case _              => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Additive schema evolution: null-fill the columns of `to` that `df`
    * lacks (upsert's `evolveSchema`, the change feed across evolved
    * versions).
    */
  private def widen(df: DataFrame, to: StructType): DataFrame =
    to.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, org.apache.spark.sql.functions.lit(null).cast(f.dataType))
    }

  /** Put `src` at `dst` as a hard link — O(1) metadata, no bytes moved —
    * or as a copy where links are unsupported (e.g. across filesystems).
    * A vanished `src` makes the copy throw `NoSuchFileException`, which
    * carry-forward callers map to a commit conflict.
    */
  private[graft] def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch { case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
      Files.copy(src, dst) }

  /** `v<n>` with a non-empty all-digit suffix. */
  def isVersionName(name: String): Boolean =
    name.length > 1 && name.startsWith("v") && name.drop(1).forall(_.isDigit)

  /** Fresh table rooted in a new temp directory, deleted at JVM exit
    * (tests, scratch targets). Durable tables pass a real root instead.
    */
  def scratch(keys: Seq[String]): MergeTable =
    new MergeTable(TempDirs.scratch("graft_mergetable_"), keys)
}
