package graft

import java.nio.file.Paths
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.stages.MergeTable

/** The versioned MERGE target's transactional contract: pointer-flip
  * commits, idempotent replay, restart from the durable pointer, and
  * crash-before-flip leaving the previous version readable.
  */
class MergeTableSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private def rows(t: MergeTable) =
    t.read(spark, new StructType()).orderBy("k").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq

  test("upsert commits versions, replay converges, pointer survives restart") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    t.upsert(Seq(("b", 20), ("c", 3)).toDF("k", "v"))
    assert(rows(t) == Seq(("a", 1), ("b", 20), ("c", 3)))
    assert(t.currentVersion.contains("v1"))
    // a replayed batch (failure re-run) converges to the same table
    t.upsert(Seq(("b", 20), ("c", 3)).toDF("k", "v"))
    assert(rows(t) == Seq(("a", 1), ("b", 20), ("c", 3)))
    // a fresh handle on the same root resumes from the durable pointer
    val t2 = new MergeTable(t.root, Seq("k"))
    assert(t2.currentVersion == t.currentVersion)
    assert(rows(t2) == rows(t))
  }

  test("insertIgnore: first write wins on key collision") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.insertIgnore(Seq(("a", 1)).toDF("k", "v"))
    t.insertIgnore(Seq(("a", 99), ("b", 2)).toDF("k", "v"))
    assert(rows(t) == Seq(("a", 1), ("b", 2)))
  }

  test("changesBetween classifies keyed insert/delete/update pre+post images") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v"))   // v0
    t.upsert(Seq(("b", 20), ("d", 4)).toDF("k", "v"))            // v1: update b, insert d
    t.replace(t.read(spark, new StructType()).where("k <> 'c'")) // v2: delete c
    val ch = t.changesBetween(spark, "v0", "v2")
      .collect().map(r => (r.getAs[String]("change_type"), r.getAs[String]("k"),
        r.getAs[Int]("v"))).toSet
    assert(ch == Set(
      ("update_preimage", "b", 2), ("update_postimage", "b", 20),
      ("insert", "d", 4), ("delete", "c", 3)))
    // adjacent identical snapshots and self-diff are empty
    assert(t.changesBetween(spark, "v2", "v2").isEmpty)
  }

  test("changesBetween is blind to maintenance: compaction yields zero changes") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert((1 to 100).map(i => (s"k$i", i)).toDF("k", "v").repartition(8)) // v0
    t.upsert(Seq(("k1", 1001)).toDF("k", "v"))                               // v1
    t.compact(spark, numFiles = 2)                                           // v2
    assert(t.changesBetween(spark, "v1", "v2").isEmpty)
    // and the pre-compaction diff still reports only the semantic change
    val ch = t.changesBetween(spark, "v0", "v2")
      .collect().map(r => (r.getAs[String]("change_type"), r.getAs[String]("k"))).toSet
    assert(ch == Set(("update_preimage", "k1"), ("update_postimage", "k1")))
  }

  test("changesBetween without keys emits plain insert/delete row events") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq.empty)
    t.replace(Seq(("a", 1), ("b", 2)).toDF("k", "v"))            // v0
    t.replace(Seq(("a", 1), ("b", 22), ("c", 3)).toDF("k", "v")) // v1
    val ch = t.changesBetween(spark, "v0", "v1")
      .collect().map(r => (r.getAs[String]("change_type"), r.getAs[String]("k"),
        r.getAs[Int]("v"))).toSet
    assert(ch == Set(("delete", "b", 2), ("insert", "b", 22), ("insert", "c", 3)))
    // a vacuumed/unknown version fails loudly, not with an empty feed
    intercept[IllegalArgumentException] { t.changesBetween(spark, "v0", "v9") }
  }

  test("time travel reads immutable past versions; vacuum retains only the tail") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1)).toDF("k", "v"))
    t.upsert(Seq(("a", 2)).toDF("k", "v"))
    t.upsert(Seq(("b", 3)).toDF("k", "v"))
    // versionAsOf: v0 still shows the original value of a
    val v0 = t.readVersion(spark, "v0").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(v0.toSeq == Seq(("a", 1)))
    assert(rows(t) == Seq(("a", 2), ("b", 3)))
    // vacuum keeps the current 2 versions, drops v0
    t.vacuum(keepLast = 2)
    assert(!java.nio.file.Files.exists(Paths.get(t.root, "v0")))
    assert(java.nio.file.Files.exists(Paths.get(t.root, "v1")))
    assert(rows(t) == Seq(("a", 2), ("b", 3))) // current unaffected
  }

  test("additive schema evolution null-fills the missing side") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1)).toDF("k", "v"))
    // the incoming batch grew a column; evolveSchema widens both sides
    t.upsert(Seq(("b", 2, "x")).toDF("k", "v", "extra"), evolveSchema = true)
    val out = t.read(spark, new StructType()).orderBy("k").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getAs[String]("extra"))))
    assert(out.toSeq == Seq(("a", 1, None), ("b", 2, Some("x"))))
    // without the flag, drift fails loudly instead of silently dropping data
    intercept[Exception] {
      t.upsert(Seq(("c", 3, "y", 9L)).toDF("k", "v", "extra", "extra2"))
    }
  }

  test("a crash before the pointer flip leaves the previous version readable") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1)).toDF("k", "v"))
    // a writer that died after its data write but BEFORE the flip leaves an
    // orphan version directory — readers must keep resolving the old pointer
    Seq(("a", 666), ("z", 9)).toDF("k", "v")
      .write.parquet(Paths.get(t.root, "v1").toString)
    assert(t.currentVersion.contains("v0"))
    assert(rows(t) == Seq(("a", 1)))
    // the next successful commit supersedes the orphan's version number
    t.upsert(Seq(("b", 2)).toDF("k", "v"))
    assert(rows(t) == Seq(("a", 1), ("b", 2)))
  }

  test("compact rewrites the current version into fewer files with identical content") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    // fixture needs a MULTI-file starting table; DataFrame commits size
    // their output (OptimizeWrite rebalance), so stage 8 files and publish
    // them directly — the contract under test is compact()'s, not the
    // write sizing
    t.upsert((1 to 50).map(i => (s"k$i", i)).toDF("k", "v"))
    val staged = Paths.get(t.root, "_stage_spec")
    (51 to 90).map(i => (s"k$i", i)).toDF("k", "v").repartition(8)
      .write.parquet(staged.toString)
    assert(t.commitStagedFiles(staged, carryForward = true) == "v1")
    val before = rows(t)
    def partFiles(version: String) =
      new java.io.File(Paths.get(t.root, version).toString).listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(partFiles(t.currentVersion.get) > 1)
    t.compact(spark, numFiles = 1)
    assert(t.currentVersion.contains("v2"))
    assert(partFiles("v2") == 1, "compaction must coalesce to the requested file count")
    assert(rows(t) == before, "compaction must not change a single row")
    // the pre-compaction version is still time-travelable
    assert(t.readVersion(spark, "v1").count() == before.size)
  }

  test("an orphan deletion-vector sidecar from a dead writer never reaches a DataFrame commit") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1)).toDF("k", "v"))                             // v0
    // a merge-on-read UPDATE that died between assembling the NEXT
    // version's sidecar and its flip leaves v1_dv (one positions file)
    // for a version that was never published
    Seq((t.dataFiles("v0").head.toString, 0L)).toDF("file", "pos").repartition(1)
      .write.parquet(t.dvSidecarPath("v1").toString)
    assert(t.pendingDeleteVectors.isEmpty)
    t.upsert(Seq(("b", 2)).toDF("k", "v"))                             // v1
    assert(t.currentVersion.contains("v1"))
    assert(t.pendingDeleteVectors.isEmpty,
      "the flip to v1 must not adopt the dead writer's sidecar")
    // the next commit is not refused as if deletes were pending
    t.upsert(Seq(("c", 3)).toDF("k", "v"))                             // v2
    assert(rows(t) == Seq(("a", 1), ("b", 2), ("c", 3)))
    assert(t.readWithDeletes(spark, new StructType()).count() == 3L)
  }

  test("two racing writers: one flip wins, the loser fails loudly with nothing committed") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1)).toDF("k", "v"))   // base: v0
    // Writer A's committed data, prepared up front (data dir only, no flip
    // yet — indistinguishable from A being mid-commit).
    Seq(("a", 1), ("w", 7)).toDF("k", "v")
      .write.parquet(Paths.get(t.root, "v1").toString)
    // Writer B's batch carries a side effect that runs while B is STAGING —
    // i.e. after B read base=v0, before B's compare-and-swap: writer A's
    // pointer flip lands exactly in that window (local mode: executors
    // share the driver filesystem, so plain file ops model A's flip).
    val root = t.root
    val interloper = Seq(("b", 2)).toDS().repartition(1)
      .mapPartitions { it =>
        val tmp = Paths.get(root, "_CURRENT.interloper.tmp")
        java.nio.file.Files.write(tmp, "v1".getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, Paths.get(root, "_CURRENT"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        it
      }.toDF("k", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      t.upsert(interloper)
    }
    assert(e.getMessage.contains("_CURRENT moved"))
    // the winner's commit is intact; the loser committed nothing
    assert(t.currentVersion.contains("v1"))
    assert(rows(t) == Seq(("a", 1), ("w", 7)))
    // no staged garbage left behind
    val entries = java.nio.file.Files.list(Paths.get(t.root))
    val names = try {
      val buf = scala.collection.mutable.Buffer[String]()
      entries.forEach(p => buf += p.getFileName.toString)
      buf.toSeq
    } finally entries.close()
    assert(!names.exists(_.startsWith("_stage_")), s"staged dirs not cleaned: $names")
    assert(!names.exists(_.endsWith(".tmp")), s"pointer scratch not cleaned: $names")
    // re-running the loser on the new base converges (idempotent merge)
    t.upsert(Seq(("b", 2)).toDF("k", "v"))
    assert(rows(t) == Seq(("a", 1), ("b", 2), ("w", 7)))
  }

  test("a dead committer's leftover lock: fresh fails loudly, stale is taken over, breakLock repairs") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1)).toDF("k", "v"))
    // a lock with a recent mtime is a LIVE holder — the commit must fail
    // with the holder's identity, not silently steal the lock
    val lock = Paths.get(t.root, "_COMMIT_LOCK")
    java.nio.file.Files.write(lock, "deadbeef 12345".getBytes("UTF-8"))
    val e = intercept[java.util.ConcurrentModificationException] {
      t.upsert(Seq(("b", 2)).toDF("k", "v"))
    }
    assert(e.getMessage.contains("deadbeef"), s"holder identity missing: ${e.getMessage}")
    assert(rows(t) == Seq(("a", 1)))
    // the SAME leftover under a zero staleness threshold is a dead
    // committer's garbage: taken over, the commit proceeds, no manual
    // intervention (the round-4 behavior bricked the table forever here)
    val t2 = new MergeTable(t.root, Seq("k"), lockStaleMs = 0L)
    t2.upsert(Seq(("b", 2)).toDF("k", "v"))
    assert(rows(t2) == Seq(("a", 1), ("b", 2)))
    assert(!java.nio.file.Files.exists(lock), "takeover must not leave the dead lock behind")
    // explicit repair path: breakLock removes a leftover without waiting
    // out the threshold (operator has verified the holder is gone)
    java.nio.file.Files.write(lock, "leftover 0".getBytes("UTF-8"))
    assert(t.breakLock())
    t.upsert(Seq(("c", 3)).toDF("k", "v"))
    assert(rows(t) == Seq(("a", 1), ("b", 2), ("c", 3)))
    assert(!t.breakLock(), "nothing left to break")
  }

  test("replace commits an exact snapshot through the same CAS path") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    t.replace(Seq(("c", 3)).toDF("k", "v"))
    assert(rows(t) == Seq(("c", 3)), "replace must not merge with the previous version")
    // previous version remains time-travelable
    assert(t.readVersion(spark, "v0").count() == 2)
    assert(t.currentVersion.contains("v1"))
  }

  test("replace pinned to the version it derived from fails if a commit raced past it") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1)).toDF("k", "v"))
    val base = t.currentVersion            // the snapshot a recompute read
    t.upsert(Seq(("b", 2)).toDF("k", "v")) // concurrent writer lands first
    val e = intercept[java.util.ConcurrentModificationException] {
      t.replace(Seq(("x", 9)).toDF("k", "v"), expectedBase = Some(base))
    }
    assert(e.getMessage.contains("moved"))
    assert(rows(t) == Seq(("a", 1), ("b", 2)), "loser must commit nothing")
    // unpinned replace on the same table is last-writer-wins by contract
    t.replace(Seq(("x", 9)).toDF("k", "v"))
    assert(rows(t) == Seq(("x", 9)))
  }

  test("8 threads upserting concurrently: every batch lands, versions are linear, no corruption") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val tasks = (0 until 8).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = try {
            // every thread needs an active session on ITS thread
            org.apache.spark.sql.SparkSession.setActiveSession(spark)
            val batch = Seq((s"k$i", i)).toDF("k", "v")
            var committed = false
            var attempts = 0
            while (!committed && attempts < 60) {
              attempts += 1
              try { t.upsert(batch); committed = true }
              catch { case _: java.util.ConcurrentModificationException =>
                retries.incrementAndGet() }  // loser: loudly failed, nothing lost — retry
            }
            if (!committed) throw new IllegalStateException(s"thread $i never committed")
          } catch { case e: Throwable => failures.add(e) }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    assert(failures.isEmpty, s"concurrent committers failed: ${failures.peek()}")
    // all 8 batches present exactly once, and the version chain is linear
    val got = t.read(spark, new org.apache.spark.sql.types.StructType())
      .orderBy("k").collect().map(_.getString(0)).toSeq
    assert(got == (0 until 8).map(i => s"k$i"), s"lost or duplicated batches: $got")
    val versions = t.currentVersion.get.drop(1).toLong
    assert(versions >= 7, "at least 8 winning commits must have happened")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t.root, "_COMMIT_LOCK")),
      "no lock may survive the stress")
  }

  test("_SCHEMA: every DataFrame commit records its schema; reads use it with zero jobs") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1), ("b", 2)).toDF("k", "v"))                            // v0
    t.insertIgnore(Seq(("b", 99), ("c", 3)).toDF("k", "v"))                     // v1
    t.replace(t.read(spark, new StructType()).where("k <> 'a'"))                // v2
    t.compact(spark)                                                            // v3
    t.upsert(Seq(("d", 4, "x")).toDF("k", "v", "w"), evolveSchema = true)       // v4
    val versions = Seq("v0", "v1", "v2", "v3", "v4")
    assert(t.listVersions == versions)
    versions.foreach { v =>
      val dir = Paths.get(t.root, v)
      val recorded = MergeTable.recordedSchema(dir)
      assert(recorded.isDefined, s"$v has no _SCHEMA")
      // the recorded schema reads exactly as parquet inference would
      assert(spark.read.schema(recorded.get).parquet(dir.toString).schema ==
        spark.read.parquet(dir.toString).schema, v)
      // and it stays out of the version's data files
      assert(t.dataFiles(v).forall(_.getFileName.toString.startsWith("part-")), v)
    }
    assert(MergeTable.recordedSchema(Paths.get(t.root, "v3")).get.fieldNames.toSeq == Seq("k", "v"))
    assert(MergeTable.recordedSchema(Paths.get(t.root, "v4")).get.fieldNames.toSeq ==
      Seq("k", "v", "w"))
    // opening a recorded version submits no Spark job (no footer inference)
    val (_, reads) = Measure.during(spark, "read_versions") {
      t.read(spark, new StructType())
      versions.foreach(t.readVersion(spark, _))
    }
    assert(reads.jobs.isEmpty, s"reads of recorded versions submitted jobs: ${reads.jobs}")
    assert(t.readVersion(spark, "v4").orderBy("k").collect().map(r =>
      (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSeq ==
      Seq(("b", 2, None), ("c", 3, None), ("d", 4, Some("x"))))
  }

  test("_SCHEMA: versions without it read by inference — staged commits, clones, older trees") {
    import spark.implicits._
    val t = MergeTable.scratch(Seq("k"))
    t.upsert(Seq(("a", 1), ("b", 2)).toDF("k", "v"))                            // v0
    // a commitStagedFiles version carries data files and _STATS only
    val staged = Paths.get(t.root, "_stage_spec")
    Seq(("c", 3)).toDF("k", "v").write.parquet(staged.toString)
    assert(t.commitStagedFiles(staged, carryForward = true) == "v1")
    assert(MergeTable.recordedSchema(Paths.get(t.root, "v1")).isEmpty)
    val inferJobs = Measure.during(spark, "infer")(t.read(spark, new StructType()))._2.jobs
    assert(inferJobs.nonEmpty && inferJobs.forall(_.executionId.isEmpty),
      s"a version without _SCHEMA is opened by footer inference: $inferJobs")
    assert(rows(t) == Seq(("a", 1), ("b", 2), ("c", 3)))
    // a shallow clone links data files only
    val clone = t.cloneShallow("v0", graft.stages.TempDirs.scratch("graft_schema_clone_"))
    assert(MergeTable.recordedSchema(Paths.get(clone.root, "v0")).isEmpty)
    assert(rows(clone) == Seq(("a", 1), ("b", 2)))
    // a tree written before _SCHEMA existed reads unchanged, and its next
    // DataFrame commit records one
    val old = MergeTable.scratch(Seq("k"))
    old.upsert(Seq(("a", 1)).toDF("k", "v"))
    old.upsert(Seq(("b", 2)).toDF("k", "v"))
    val before = (rows(old), old.readVersion(spark, "v0").schema)
    old.listVersions.foreach(v =>
      java.nio.file.Files.delete(Paths.get(old.root, v, MergeTable.SchemaFile)))
    assert((rows(old), old.readVersion(spark, "v0").schema) == before)
    old.upsert(Seq(("c", 3)).toDF("k", "v"))
    assert(MergeTable.recordedSchema(Paths.get(old.root, "v2")).isDefined)
    assert(rows(old) == Seq(("a", 1), ("b", 2), ("c", 3)))
  }

  test("shallow clone: zero-copy fork, divergent isolation, survives source vacuum") {
    import spark.implicits._
    val src = MergeTable.scratch(Seq("k"))
    src.upsert(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v"))  // v0
    src.upsert(Seq(("d", 4)).toDF("k", "v"))                      // v1
    val clone = src.cloneShallow("v1",
      graft.stages.TempDirs.scratch("graft_clone_spec_"))
    assert(clone.currentVersion.contains("v0"))
    assert(rows(clone) == rows(src))
    // zero-copy: every clone data file shares its inode with a source v1 file
    val srcInodes = src.dataFiles("v1")
      .map(f => java.nio.file.Files.getAttribute(f, "unix:ino")).toSet
    val cloneFiles = clone.dataFiles("v0")
    assert(cloneFiles.nonEmpty)
    assert(cloneFiles.forall(f =>
      srcInodes.contains(java.nio.file.Files.getAttribute(f, "unix:ino"))))
    // the clone survives the source VACUUMING the cloned version: vacuum
    // unlinks the source's directory entries, the clone's links keep the
    // inodes alive (src head is v2 after another write)
    src.upsert(Seq(("a", 100)).toDF("k", "v"))                    // v2
    src.vacuum(keepLast = 1)
    assert(!java.nio.file.Files.exists(Paths.get(src.root, "v1")))
    assert(rows(clone) == Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)))
    // divergence: writes to one never leak into the other
    clone.upsert(Seq(("b", 200)).toDF("k", "v"))
    assert(rows(src) == Seq(("a", 100), ("b", 2), ("c", 3), ("d", 4)))
    assert(rows(clone) == Seq(("a", 1), ("b", 200), ("c", 3), ("d", 4)))
    // unknown version fails loudly, nothing created
    intercept[IllegalArgumentException](
      src.cloneShallow("v99", graft.stages.TempDirs.scratch("graft_clone_bad_")))
  }

  test("deletion vectors: MOR delete touches no data file, accumulates, replays clean, reconcile folds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = MergeTable.scratch(Seq("k"))
    t.replace((1 to 10).map(i => (i.toLong, s"r$i")).toDF("k", "v"))
    t.compact(spark, numFiles = 2)
    val v = t.currentVersion.get
    val filesBefore = t.dataFiles(v).map(_.toString).sorted
    def morRows = t.readWithDeletes(spark, new StructType())
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    // first DV: kill evens — data files byte-identical, scan filtered
    t.deleteVectors(spark, col("k") % 2 === 0)
    assert(t.dataFiles(t.currentVersion.get).map(_.toString).sorted == filesBefore,
      "a DV delete must not rewrite data files")
    assert(morRows == Seq(1L, 3L, 5L, 7L, 9L))
    // second DV accumulates (and overlaps the first: k=6 matches both)
    t.deleteVectors(spark, col("k") >= 6)
    assert(morRows == Seq(1L, 3L, 5L))
    // replaying a delete is harmless (anti-join dedups positions)
    t.deleteVectors(spark, col("k") >= 6)
    assert(morRows == Seq(1L, 3L, 5L))
    // the bare version still time-travels to the pre-delete snapshot
    assert(t.readVersion(spark, v).count() == 10L)
    // reconcile: fresh version, no sidecar, content == MOR scan
    t.reconcileDeletes(spark, numFiles = 1)
    val v2 = t.currentVersion.get
    assert(v2 != v)
    assert(!java.nio.file.Files.exists(Paths.get(t.root, v2 + "_dv")))
    assert(t.read(spark, new StructType())
      .select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    assert(t.dataFiles(v2).size == 1)
    // a version with no sidecar reads plain (readWithDeletes == read)
    assert(morRows == Seq(1L, 3L, 5L))
  }

  test("pending deletion vectors block every blind commit, census drives the trigger, vacuum sweeps sidecars") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = MergeTable.scratch(Seq("k"))
    val src = (1 to 100).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    t.replace(src)
    t.compact(spark, numFiles = 2)
    // below-threshold DV: census reports honestly, trigger no-ops
    t.deleteVectors(spark, col("k") === 7L)
    val c1 = t.deleteVectorCensus(spark).collect().head
    assert(c1.getLong(1) == 100L && c1.getLong(2) == 1L && !c1.getBoolean(4))
    assert(!t.reconcileIfRecommended(spark))
    assert(t.pendingDeleteVectors.isDefined, "below-threshold sidecar stays pending")
    // every blind commit path refuses to advance past the pending sidecar
    val batch = Seq((200L, "x")).toDF("k", "v")
    intercept[IllegalStateException](t.upsert(batch))
    intercept[IllegalStateException](t.insertIgnore(batch))
    intercept[IllegalStateException](t.replace(batch))
    intercept[IllegalStateException](t.compact(spark, numFiles = 1))
    assert(t.readWithDeletes(spark, new StructType()).count() == 99L,
      "refused commits must leave the table untouched")
    // past the 5% threshold the census recommends and the trigger fires
    t.deleteVectors(spark, col("k") <= 5L)
    val c2 = t.deleteVectorCensus(spark).collect().head
    assert(c2.getLong(2) == 6L && c2.getBoolean(4))
    assert(t.reconcileIfRecommended(spark))
    assert(t.pendingDeleteVectors.isEmpty)
    assert(t.read(spark, new StructType()).count() == 94L)
    t.upsert(batch) // commits flow again once reconciled
    assert(t.read(spark, new StructType()).count() == 95L)
    // vacuum drops old versions AND their sidecars (no orphan metadata)
    val dvDirs = java.nio.file.Files.list(Paths.get(t.root))
    val hadSidecar = try {
      import scala.jdk.CollectionConverters._
      dvDirs.iterator().asScala.exists(_.getFileName.toString.endsWith("_dv"))
    } finally dvDirs.close()
    assert(hadSidecar, "the reconciled version's sidecar survives until vacuum")
    t.vacuum(keepLast = 1)
    val after = java.nio.file.Files.list(Paths.get(t.root))
    val leftSidecars = try {
      import scala.jdk.CollectionConverters._
      after.iterator().asScala.count(_.getFileName.toString.endsWith("_dv"))
    } finally after.close()
    assert(leftSidecars == 0, "vacuum must sweep dropped versions' sidecars")
  }

  test("deadline arm: a ratio-small sidecar reconciles once enough scans have paid the tax") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = MergeTable.scratch(Seq("k"))
    t.replace((1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "v"))
    t.compact(spark, numFiles = 2)
    // 0.1% delete: the ratio arm (5%) will NEVER recommend this one
    t.deleteVectors(spark, col("k") === 7L)
    assert(t.dvScanCount == 0L)
    val c0 = t.deleteVectorCensus(spark).collect().head
    assert(c0.getLong(3) == 0L && !c0.getBoolean(4))
    assert(!t.reconcileIfRecommended(spark))
    // scans accrue; the count SATURATES at the deadline (marker files are
    // bounded — over-counting scans past the trigger buys nothing)
    (1 to 25).foreach(_ => t.recordDvScan())
    assert(t.dvScanCount == MergeTable.DvScanDeadline)
    val c1 = t.deleteVectorCensus(spark).collect().head
    assert(c1.getLong(2) == 1L, "still a ratio-small sidecar")
    assert(c1.getLong(3) == MergeTable.DvScanDeadline && c1.getBoolean(4),
      "the deadline arm must recommend what the ratio arm never would")
    assert(t.reconcileIfRecommended(spark))
    assert(t.pendingDeleteVectors.isEmpty && t.dvScanCount == 0L)
    assert(t.read(spark, new StructType()).count() == 999L)
    // markers died with the sidecar: a FRESH small delete starts at zero
    t.deleteVectors(spark, col("k") === 8L)
    assert(t.dvScanCount == 0L)
    val c2 = t.deleteVectorCensus(spark).collect().head
    assert(c2.getLong(3) == 0L && !c2.getBoolean(4))
    t.reconcileDeletes(spark)
  }

  test("deletion vectors compose like set union: any predicate stack == one combined filter") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // several overlapping predicate stacks over a 200-row table; after
    // each append, the MOR scan must equal filtering the source by the
    // conjunction of the negations — the declarative DELETE semantics
    val src = (1 to 200).map(i => (i.toLong, i % 7, i % 13)).toDF("k", "a", "b")
    val preds = Seq("a = 3", "b >= 10", "k % 2 = 0 AND a < 5", "k > 150")
    val t = MergeTable.scratch(Seq("k"))
    t.replace(src)
    t.compact(spark, numFiles = 3)
    var keepCond = "TRUE"
    preds.foreach { p =>
      t.deleteVectors(spark, expr(p))
      keepCond = s"$keepCond AND NOT ($p)"
      val mor = t.readWithDeletes(spark, new StructType())
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      val want = src.filter(expr(keepCond))
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(mor == want, s"after DELETE WHERE $p")
    }
    // reconcile at the end of the stack preserves the composed result
    t.reconcileDeletes(spark, numFiles = 2)
    assert(t.read(spark, new StructType())
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      src.filter(expr(keepCond)).select("k").collect().map(_.getLong(0)).sorted.toSeq)
    assert(t.read(spark, new StructType()).columns.sorted.toSeq == Seq("a", "b", "k"))
  }
}
