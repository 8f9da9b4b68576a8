package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Merge-on-read SQL `UPDATE` and `MERGE INTO` — the DV ladder's
  * sibling for row-changing DML, built on Spark's DELTA-BASED row-level
  * operation API ([[org.apache.spark.sql.connector.write.SupportsDelta]],
  * the interface Iceberg's position-delta mode implements). Where the
  * group-based path rewrites every file that holds a matching row, the
  * delta path ships only the CHANGED rows: Spark feeds the writer one
  * `update(metadata, rowId, newRow)` per matched row (plus `insert(row)`
  * for a MERGE's not-matched rows and `delete(metadata, rowId)` for its
  * matched deletes), and the commit lands
  *
  *   1. the replacement rows as a NEW small data file (a normal staged
  *      parquet write, carried-forward commit — O(changed rows));
  *   2. the old copies as deletion-vector positions + the statement's
  *      key-set predicate in the NEXT version's sidecar, assembled
  *      BEFORE the pointer flip so no reader can ever observe the new
  *      rows without the deletes (single-commit atomicity, Delta's
  *      MoR-UPDATE shape);
  *   3. any PRIOR pending sidecar migrated along: positions are file-
  *      name-keyed (carried files keep their names), and predicates are
  *      CONCRETIZED to the base version's file set so they can never
  *      re-mark the replacement rows — which may still match their own
  *      WHERE (`SET price = price + 5 WHERE status = 'O'`).
  *
  * Opt-in and contract: `graft.dv.update.maxRows` caps the matched-row
  * count (the hit set rides task commit messages and the sidecar — small
  * by design, exactly the DV DELETE's contract), and `graft.dv.rowId`
  * names the row-identity column Spark projects as the delta rowId; the
  * SET clause must not assign it. Statements over the cap fail loudly
  * with the copy-on-write alternative named, nothing committed.
  *
  * Reference semantics: the Postgres `UPDATE`s the reference pipeline
  * issues (courier ledger upserts) rewrite rows in place under MVCC;
  * this path reproduces that result set at lakehouse economics — the
  * 100 TB design point where rewriting a file group per touched courier
  * would dwarf the statement.
  */
private[lake] final class GraftDeltaUpdateOperation(table: GraftTable,
                                                    info: RowLevelOperationInfo)
  extends RowLevelOperation with SupportsDelta {

  // the snapshot this statement plans against, captured ONCE — the
  // positions scan and the commit CAS both use it
  private[lake] val base: Option[String] = table.merge.currentVersion

  override def command(): RowLevelOperation.Command = info.command()

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(table.dvRowIdColumn.get))

  /** The statement's read side: the ordinary catalog scan — which is
    * exactly right, because it already anti-applies any pending sidecar
    * (an UPDATE must not resurrect merge-on-read-deleted rows) and
    * allows full row-granularity filter pushdown (delta ops only need
    * the MATCHED rows, unlike the group path that must copy neighbors).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaUpdateWrite(table, info, base)
    }

  override def description(): String =
    s"GraftDeltaUpdate(${table.name()}, base=${base.getOrElse("∅")})"
}

/** The delta write: replacement rows stream through Spark's own parquet
  * writer into a staging dir (executor-side, normal file-commit
  * protocol); deleted row ids ride the task commit messages (bounded by
  * `graft.dv.update.maxRows`); the driver commit computes their
  * (file, position) pairs with one pushed key-set scan of the pinned
  * base and lands data + sidecar around the MergeTable CAS flip.
  */
private[lake] final class GraftDeltaUpdateWrite(table: GraftTable,
                                                info: LogicalWriteInfo,
                                                base: Option[String]) extends DeltaWrite {
  override def description(): String = s"GraftDeltaUpdateWrite(${table.name()})"

  override def toBatch: DeltaBatchWrite = {
    val cap = table.dvUpdateMaxRows.get
    val keyCol = table.dvRowIdColumn.get
    val idType = info.rowIdSchema().orElseThrow(() => new IllegalStateException(
      s"${table.name()}: delta UPDATE write planned without a rowId schema"))
      .fields(0).dataType
    val stage = Paths.get(table.dataDir(None)).getParent
      .resolve(s"_stage_dvupd_${java.util.UUID.randomUUID()}")
    Files.createDirectories(stage)
    val inner = table.parquetTable(Seq(stage.toString))
      .newWriteBuilder(info).build().toBatch

    new DeltaBatchWrite {
      override def createBatchWriterFactory(pi: PhysicalWriteInfo): DeltaWriterFactory =
        new GraftDeltaUpdateWriterFactory(
          inner.createBatchWriterFactory(pi), idType, cap, table.name())

      override def useCommitCoordinator: Boolean = inner.useCommitCoordinator

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val msgs = messages.map(_.asInstanceOf[GraftDeltaCommitMessage])
        val ids: Array[Any] = msgs.flatMap(_.deletedIds)
        if (ids.length > cap) {
          // no cleanup here: Spark routes a failed commit through abort(),
          // which tears the staging down exactly once
          throw new IllegalStateException(
            s"${table.name()}: statement matched ${ids.length} rows, over " +
              s"${GraftTable.DvUpdateMaxRowsProp}=$cap — raise the cap, or drop " +
              "the property to run this statement as a copy-on-write rewrite")
        }
        val insertedRows = msgs.map(_.insertedRows).sum
        if (ids.isEmpty && insertedRows == 0L) { // touched nothing: no version
          try inner.abort(msgs.map(_.inner))
          finally graft.stages.TempDirs.deleteTree(stage)
          return
        }
        inner.commit(msgs.map(_.inner)) // file-commit protocol: task files -> stage
        if (insertedRows == 0L) {
          // delete-only statement: every staged part is an empty parquet
          // shell (writers open files eagerly) — drop them, carry-forward
          // plus the sidecar is the whole commit
          val entries = Files.list(stage)
          try {
            import scala.jdk.CollectionConverters._
            entries.iterator().asScala.toSeq
              .filter { p =>
                val n = p.getFileName.toString
                !n.startsWith("_") && !n.startsWith(".")
              }
              .foreach(Files.deleteIfExists(_))
          } finally entries.close()
        }
        val spark = SparkSession.active
        val priorSidecar = base.map(table.merge.dvSidecarPath).exists(Files.exists(_))
        // the old copies' positions: ONE pushed key-set scan of the
        // pinned base (immutable; the commit CAS protects the pin).
        // Insert-only delta MERGEs skip it — nothing to delete.
        val posTmp =
          if (ids.isEmpty) None
          else {
            if (base.isEmpty) throw new IllegalStateException(
              s"${table.name()}: delta DML matched rows on an empty table")
            val p = stage.getParent.resolve(s"_stage_dvpos_${java.util.UUID.randomUUID()}")
            spark.read.schema(table.schema()).parquet(table.dataDir(base))
              .filter(col(keyCol).isin(ids.toIndexedSeq: _*))
              .select(col("_metadata.file_path").as("file"),
                col("_metadata.row_index").as("pos"))
              .write.parquet(p.toString)
            Some(p)
          }
        val baseFileNames = base.toSeq
          .flatMap(v => table.merge.dataFiles(v)).map(_.getFileName.toString)
        val updFilter: Option[Array[sources.Filter]] =
          if (ids.isEmpty) None else Some(Array(sources.In(keyCol, ids)))
        try {
          // ROW-IDENTITY GUARD: the sidecar deletes BY KEY SET, so the
          // statement is only sound if the key set covers exactly the
          // matched rows. A base row that shares its key with a matched
          // row while itself NOT matching the WHERE would be deleted
          // with no replacement — silent data loss under a non-identity
          // rowId column. The invariant is exact and cheap to check:
          // LIVE rows covered by the key set == rows matched (duplicate
          // key VALUES are fine when every copy matched — each wrote its
          // replacement). With a prior sidecar pending, already-deleted
          // ghosts may share matched keys — their positions are harmless
          // duplicate deletes — so the count anti-applies the pending
          // deletes instead of reading the raw positions.
          posTmp.foreach { p =>
            val nPos =
              if (priorSidecar)
                table.merge.readWithDeletes(spark, table.schema())
                  .filter(col(keyCol).isin(ids.toIndexedSeq: _*)).count()
              else spark.read.parquet(p.toString).count()
            if (nPos != ids.length) throw new IllegalStateException(
              s"${table.name()}: the statement's key set over rowId column " +
                s"'$keyCol' covers $nPos base rows but the statement matched " +
                s"${ids.length} — '$keyCol' is not a row identity for this " +
                "statement (an unmatched row shares a key with a matched " +
                "one). Use a unique id column, or drop " +
                s"${GraftTable.DvUpdateMaxRowsProp} to run this statement " +
                "as a copy-on-write rewrite. Nothing was committed.")
          }
          table.merge.commitStagedFiles(stage, carryForward = true,
            expectedBase = Some(base), foldsPendingDeletes = true,
            beforeFlip = next =>
              // a pure append with no prior sidecar needs no sidecar work
              if (posTmp.isDefined || priorSidecar)
                assembleSidecar(next, posTmp, updFilter, baseFileNames))
        } finally {
          posTmp.filter(Files.exists(_)).foreach(graft.stages.TempDirs.deleteTree)
          if (Files.exists(stage)) graft.stages.TempDirs.deleteTree(stage)
        }
        // the old version's sidecar (if any) was migrated into the new
        // one; it is unreachable now (pendingDeleteVectors keys off the
        // current version) — sweep it so vacuum doesn't have to
        base.map(table.merge.dvSidecarPath)
          .filter(Files.exists(_))
          .foreach(graft.stages.TempDirs.deleteTree)
      }

      /** The NEXT version's sidecar, assembled inside the commit lock
        * after the data move and before the pointer flip: prior
        * positions/predicates migrated (predicates concretized to the
        * base file set), this statement's positions moved in, and its
        * key-set predicate written scoped to the base files — so the
        * replacement rows, which live in files born by this very
        * commit, are provably outside every pending predicate's scope.
        * Scan-deadline markers are NOT migrated: the new version opens a
        * fresh read-tax window.
        */
      private def assembleSidecar(next: String, posTmp: Option[Path],
                                  updFilter: Option[Array[sources.Filter]],
                                  baseFileNames: Seq[String]): Unit = {
        val dvNext = table.merge.dvSidecarPath(next)
        Files.createDirectories(dvNext)
        def adoptData(dir: Path): Unit = {
          val entries = Files.list(dir)
          try {
            import scala.jdk.CollectionConverters._
            entries.iterator().asScala
              // only the positions parquet: skip predicate artifacts,
              // markers, _SUCCESS, and Hadoop's hidden .crc siblings
              .filter { p =>
                val n = p.getFileName.toString
                !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
              }
              .foreach(p => graft.stages.MergeTable.linkOrCopy(p,
                dvNext.resolve(s"mig-${java.util.UUID.randomUUID()}-${p.getFileName}")))
          } finally entries.close()
        }
        base.map(table.merge.dvSidecarPath).filter(Files.exists(_)).foreach { oldDv =>
          adoptData(oldDv)
          DeleteVectors.readPredicates(oldDv).foreach { a =>
            DeleteVectors.writePredicates(dvNext, a.filters,
              Some(a.fileNames.map(_.toSeq).getOrElse(baseFileNames)))
          }
        }
        posTmp.foreach(adoptData)
        updFilter.foreach(f =>
          DeleteVectors.writePredicates(dvNext, f, Some(baseFileNames)))
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit =
        try inner.abort(messages.collect {
          case m: GraftDeltaCommitMessage => m.inner
        })
        finally if (Files.exists(stage)) graft.stages.TempDirs.deleteTree(stage)
    }
  }
}

/** Per-task delta writer: inserts/updated rows stream to the delegated
  * parquet writer; deleted rowIds buffer into the commit message
  * (converted to external Scala values — Long/String/... — so the
  * message serializes). The per-task cap check fails a runaway UPDATE
  * fast, before it can flood the driver.
  */
private[lake] final class GraftDeltaUpdateWriterFactory(
    inner: DataWriterFactory, idType: org.apache.spark.sql.types.DataType,
    cap: Long, tableName: String) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new DeltaWriter[InternalRow] {
      private val toScala = CatalystTypeConverters.createToScalaConverter(idType)
      private val ids = new ArrayBuffer[Any]
      private var inserted = 0L

      private def recordId(id: InternalRow): Unit = {
        ids += toScala(id.get(0, idType))
        if (ids.length > cap)
          throw new IllegalStateException(
            s"$tableName: DML hit set exceeded ${GraftTable.DvUpdateMaxRowsProp}" +
              s"=$cap in one task — raise the cap, or drop the property to run " +
              "this statement as a copy-on-write rewrite")
      }

      override def insert(row: InternalRow): Unit = { inserted += 1; w.write(row) }
      override def delete(meta: InternalRow, id: InternalRow): Unit = recordId(id)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        recordId(id)
        inserted += 1
        w.write(row)
      }

      override def commit(): WriterCommitMessage =
        GraftDeltaCommitMessage(w.commit(), ids.toArray, inserted)
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

private[lake] final case class GraftDeltaCommitMessage(
    inner: WriterCommitMessage, deletedIds: Array[Any],
    insertedRows: Long) extends WriterCommitMessage
