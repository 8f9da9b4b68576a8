package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 lakehouse catalog: SQL DDL/DML against MergeTable-backed
  * versioned parquet — CREATE/INSERT/OVERWRITE, group-based
  * MERGE/UPDATE/DELETE rewrites, time travel, and snapshot-isolation
  * conflict detection.
  */
class LakeSpec extends AnyFunSuite {

  lazy val spark = {
    val s = TestSpark.session
    if (s.conf.getOption("spark.sql.catalog.lakespec").isEmpty) {
      s.conf.set("spark.sql.catalog.lakespec", "graft.lake.GraftCatalog")
      s.conf.set("spark.sql.catalog.lakespec.warehouse",
        graft.stages.TempDirs.scratch("graft_lakespec_wh_"))
    }
    s
  }

  private def sql(q: String) = spark.sql(q)
  private var n = 0
  private def freshTable(): String = { n += 1; s"lakespec.db.t$n" }

  test("create / insert / append / overwrite, with version history") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    assert(sql(s"SELECT * FROM $t").count() == 0)          // empty before any commit
    sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    sql(s"INSERT INTO $t VALUES (3, 'c')")                 // append: carries v0 forward
    assert(sql(s"SELECT * FROM $t").count() == 3)
    sql(s"INSERT OVERWRITE $t VALUES (9, 'z')")            // truncate semantics
    assert(sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // time travel across the three commits
    assert(sql(s"SELECT * FROM $t VERSION AS OF 'v0'").count() == 2)
    assert(sql(s"SELECT * FROM $t VERSION AS OF 'v1'").count() == 3)
    assert(sql(s"SELECT * FROM $t VERSION AS OF 'v2'").count() == 1)
  }

  test("UPDATE and DELETE rewrite through the row-level operation API") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(10)")
    sql(s"UPDATE $t SET v = v + 1 WHERE k >= 5")
    sql(s"DELETE FROM $t WHERE k < 2")
    val got = sql(s"SELECT k, v FROM $t ORDER BY k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (2L to 9L).map(k => (k, if (k >= 5) k * 10 + 1 else k * 10)))
  }

  test("MERGE INTO with all clause families matches the hand-computed result") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO $t SELECT id, id FROM range(6)")               // 0..5
    sql("SELECT id + 3 AS k, id * 100 AS v FROM range(6)")           // 3..8
      .createOrReplaceTempView("merge_src")
    sql(s"""MERGE INTO $t t USING merge_src s ON t.k = s.k
            WHEN MATCHED AND s.v >= 200 THEN UPDATE SET v = s.v
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND s.v > 100 THEN INSERT (k, v) VALUES (s.k, s.v)
            WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN DELETE""")
    val got = sql(s"SELECT k, v FROM $t ORDER BY k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 0 deleted (not-matched-by-source), 1,2 kept, 3 matched s.v=0*100<200 -> deleted,
    // 4 matched 100<200 -> deleted, 5 matched 200 -> updated, 6=300,7=400,8=500 inserted (>100)
    assert(got == Seq((1L, 1L), (2L, 2L), (5L, 200L), (6L, 300L), (7L, 400L), (8L, 500L)))
  }

  test("concurrent rewrite of the same snapshot: one wins, the loser fails with nothing committed") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO $t SELECT id, 0 FROM range(4)")
    // SQL statements execute eagerly, so the race is simulated at the
    // commit layer with the exact arguments GraftWrite passes: two
    // commits planned against the same base version, second one must fail
    val dir = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$n")
    val mt = new graft.stages.MergeTable(dir.toString, Seq.empty)
    val base = mt.currentVersion
    val stage = dir.resolve("_race_stage")
    Files.createDirectories(stage)
    // winner commits an (empty) replace first
    mt.commitStagedFiles(stage, carryForward = true, expectedBase = Some(base))
    // loser planned against `base`, which has moved on
    val stage2 = dir.resolve("_race_stage2")
    Files.createDirectories(stage2)
    val e = intercept[java.util.ConcurrentModificationException] {
      mt.commitStagedFiles(stage2, carryForward = false, expectedBase = Some(base))
    }
    assert(e.getMessage.contains("moved"))
    assert(!Files.exists(stage2), "loser's staged files must be cleaned up")
  }

  test("time-travel snapshots are read-only") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT)")
    sql(s"INSERT INTO $t VALUES (1)")
    val e = intercept[Exception] {
      sql(s"INSERT INTO $t VERSION AS OF 'v0' VALUES (2)")
    }
    assert(e.getMessage.toLowerCase.contains("snapshot") ||
      e.getMessage.toLowerCase.contains("version"))
  }

  test("appends hard-link the previous version instead of rewriting it") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT)")
    sql(s"INSERT INTO $t VALUES (1)")
    sql(s"INSERT INTO $t VALUES (2)")
    val dir = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$n")
    val v0Files = Files.list(dir.resolve("v0")).iterator()
    var linked = 0
    while (v0Files.hasNext) {
      val f = v0Files.next()
      if (f.getFileName.toString.startsWith("part-") &&
          Files.exists(dir.resolve("v1").resolve(f.getFileName)))
        linked += 1
    }
    assert(linked > 0, "v1 must carry v0's data files forward by name (hard link)")
    // catalog surface: table listing and drop
    assert(spark.sql("SHOW TABLES IN lakespec.db").count() >= 1)
    sql(s"DROP TABLE $t")
    assert(!Files.exists(dir))
  }

  test("DROP NAMESPACE without CASCADE refuses while nested tables exist") {
    sql("CREATE TABLE lakespec.nsdrop.inner.t (k BIGINT)")
    sql("INSERT INTO lakespec.nsdrop.inner.t VALUES (1)")
    val e = intercept[Exception] { sql("DROP NAMESPACE lakespec.nsdrop") }
    assert(e.getMessage.contains("SCHEMA_NOT_EMPTY"),
      s"expected a non-empty-namespace refusal, got: ${e.getMessage}")
    assert(sql("SELECT * FROM lakespec.nsdrop.inner.t").count() == 1, "data must survive")
    sql("DROP NAMESPACE lakespec.nsdrop CASCADE")
    assert(intercept[Exception] { sql("SELECT * FROM lakespec.nsdrop.inner.t") } != null)
  }

  test("ALTER TABLE ADD/DROP COLUMN is metadata-only; old files backfill NULL") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    sql(s"INSERT INTO $t VALUES (1, 'a')")
    sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    // old file reads NULL for the new column; new writes carry it
    val afterAdd = sql(s"SELECT k, v, note FROM $t").collect().head
    assert(afterAdd.isNullAt(2))
    sql(s"INSERT INTO $t VALUES (2, 'b', 'hello')")
    assert(sql(s"SELECT note FROM $t WHERE k = 2").collect().head.getString(0) == "hello")
    // UPDATE can now target the evolved column across old and new rows
    sql(s"UPDATE $t SET note = 'filled' WHERE note IS NULL")
    assert(sql(s"SELECT count(*) FROM $t WHERE note = 'filled'").collect().head.getLong(0) == 1)
    sql(s"ALTER TABLE $t DROP COLUMN note")
    assert(sql(s"SELECT * FROM $t").columns.toSeq == Seq("k", "v"))
    // non-nullable adds and unknown drops refuse loudly
    assert(intercept[Exception] {
      sql(s"ALTER TABLE $t ADD COLUMN strict BIGINT NOT NULL")
    }.getMessage.toLowerCase.contains("nullable"))
    assert(intercept[Exception] {
      sql(s"ALTER TABLE $t DROP COLUMN ghost")
    } != null)
  }

  test("CTAS, CREATE OR REPLACE, and TIMESTAMP AS OF time travel") {
    val t = freshTable()
    sql(s"CREATE TABLE $t AS SELECT id AS k, id * 2 AS v FROM range(5)")
    assert(sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0) == 20L)
    Thread.sleep(30)
    val betweenCommits = java.sql.Timestamp.valueOf(java.time.LocalDateTime.now())
    Thread.sleep(30)
    sql(s"INSERT INTO $t SELECT id, 0 FROM range(3)")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 8L)
    // wall-clock travel lands on the pre-insert version
    val asOf = sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$betweenCommits'")
      .collect().head.getLong(0)
    assert(asOf == 5L, s"expected the CTAS snapshot, got $asOf rows")
    // a timestamp before the first commit has no version to resolve
    assert(intercept[Exception] {
      sql(s"SELECT * FROM $t TIMESTAMP AS OF '2001-01-01 00:00:00'").collect()
    } != null)
    // non-atomic REPLACE TABLE (drop + recreate) through the same catalog
    sql(s"CREATE OR REPLACE TABLE $t AS SELECT id AS k FROM range(2)")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 2L)
  }

  test("OPTIMIZE shape: compacting a lake table through MergeTable keeps SQL reads + travel intact") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT)")
    sql(s"INSERT INTO $t SELECT id FROM range(0, 40, 1, 4)")   // 4 part files
    sql(s"INSERT INTO $t SELECT id FROM range(40, 80, 1, 4)")  // + 4 more, linked forward
    val dir = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$n")
    def partFiles(v: String) = {
      val l = Files.list(dir.resolve(v)); try l.filter(p =>
        p.getFileName.toString.startsWith("part-")).count() finally l.close()
    }
    assert(partFiles("v1") >= 8, "append must accumulate small files")
    new graft.stages.MergeTable(dir.toString, Seq.empty).compact(spark, numFiles = 1)
    assert(partFiles("v2") == 1, "compaction must rewrite to one file")
    assert(sql(s"SELECT count(*), sum(k) FROM $t").collect().head.toSeq == Seq(80L, 3160L))
    // pre-compaction snapshots still travel
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF 'v0'").collect().head.getLong(0) == 40L)
  }

  private def tableFiles(tableN: Int, v: String): Set[String] = {
    val dir = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$tableN")
    new graft.stages.MergeTable(dir.toString, Seq.empty)
      .dataFiles(v).map(_.getFileName.toString).toSet
  }

  test("DELETE/UPDATE rewrite only the files whose footer range can match; the rest carry by hard link") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    // four single-file commits with disjoint k ranges — the carried-forward
    // version v3 holds all four files
    for (b <- 0 until 4)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    val v3 = tableFiles(tn, "v3")
    assert(v3.size == 4, s"expected 4 data files, got $v3")

    // hits only the 25..49 file: the other three must survive as links
    sql(s"DELETE FROM $t WHERE k >= 30 AND k < 35")
    val v4 = tableFiles(tn, "v4")
    assert((v3 intersect v4).size == 3,
      s"3 of 4 files must carry forward untouched; base=$v3 new=$v4")
    assert(sql(s"SELECT count(*), sum(k) FROM $t").collect().head.toSeq ==
      Seq(95L, (0L until 100L).sum - (30L until 35L).sum))

    // hits only the 50..74 file
    sql(s"UPDATE $t SET v = -1 WHERE k = 60")
    val v5 = tableFiles(tn, "v5")
    assert((v4 intersect v5).size == 3,
      s"UPDATE must replace exactly one file; base=$v4 new=$v5")
    assert(sql(s"SELECT v FROM $t WHERE k = 60").collect().head.getLong(0) == -1L)
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 95L)

    // an unprunable statement (no WHERE) still replaces everything
    sql(s"UPDATE $t SET v = v")
    assert((v5 intersect tableFiles(tn, "v6")).isEmpty,
      "a whole-table rewrite must not carry any base file")
  }

  test("bloom index prunes point rewrites where footer ranges prune nothing") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    // three single-file MODULUS commits: every file's footer k range is
    // ~[0,100) — range pruning keeps all three; only the bloom knows
    // which file holds a given key
    for (m <- 0 until 3)
      sql(s"INSERT INTO $t SELECT id, id FROM (SELECT id FROM range(100) WHERE id % 3 = $m) " +
        s"DISTRIBUTE BY 1")
    val v2 = tableFiles(tn, "v2")
    assert(v2.size == 3, s"expected 3 data files, got $v2")
    val perBatch = (0 until 3).map(i => tableFiles(tn, s"v$i")).toIndexedSeq
    val batchOf = Map(0 -> perBatch(0),
      1 -> (perBatch(1) -- perBatch(0)), 2 -> (perBatch(2) -- perBatch(1)))

    val dir = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$tn")
    val mt = new graft.stages.MergeTable(dir.toString, Seq.empty)
    graft.lake.GraftBloomIndex.build(spark, mt, "v2", Seq("k"))

    // point update on k=31 (31 % 3 == 1): only batch 1's file may be
    // rewritten; batches 0 and 2 must carry by hard link
    sql(s"UPDATE $t SET v = -1 WHERE k = 31")
    val v3 = tableFiles(tn, "v3")
    assert(batchOf(0).subsetOf(v3) && batchOf(2).subsetOf(v3),
      s"bloom must carry the key-free files; base=$v2 new=$v3")
    assert((v2 -- v3) == batchOf(1), s"only batch 1 may be replaced; got ${v2 -- v3}")
    assert(sql(s"SELECT v FROM $t WHERE k = 31").collect().head.getLong(0) == -1L)
    assert(sql(s"SELECT count(*), sum(v) FROM $t").collect().head.toSeq ==
      Seq(100L, (0L until 100L).sum - 31L - 1L))

    // a key absent from EVERY file: bloom proves no-match everywhere, the
    // delete carries all files (and deletes nothing)
    sql(s"DELETE FROM $t WHERE k = 1000")
    assert(v3.subsetOf(tableFiles(tn, "v4")),
      "an absent-key point delete must carry every file")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 100L)

    // files written AFTER the build are simply unindexed: conservative
    sql(s"INSERT INTO $t VALUES (1000, 0)")
    sql(s"DELETE FROM $t WHERE k = 1000")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 100L)
  }

  test("bloom sidecar is structural JSON: quote-in-filename round-trips, garbage degrades") {
    import graft.lake.GraftBloomIndex
    val root = java.nio.file.Files.createTempDirectory("graft_bloom_json_")
    root.toFile.deleteOnExit()
    val dir = root.resolve("_BLOOM")
    java.nio.file.Files.createDirectories(dir)
    // m=128 bits → 2 longs per entry; the first name carries a literal
    // quote, which the old regex parser mis-split on
    val json = """{"mBits":128,"kHashes":2,"files":{"we\"ird-part.parquet":"ff,1","short.parquet":"ff"}}"""
    java.nio.file.Files.write(dir.resolve("k.json"), json.getBytes)
    val ci = GraftBloomIndex.load(root.toString, "k")
    assert(ci.isDefined && ci.get.mBits == 128 && ci.get.kHashes == 2)
    // quote-named entry parses; the length-mismatched entry is dropped
    assert(ci.get.files.keySet == Set("we\"ird-part.parquet"))
    assert(ci.get.files("we\"ird-part.parquet").toSeq == Seq(0xffL, 1L))
    // unparsable sidecar still degrades to "no index", never an error
    java.nio.file.Files.write(dir.resolve("b.json"), "{broken".getBytes)
    assert(GraftBloomIndex.load(root.toString, "b").isEmpty)
    // one malformed hex word loses only ITS entry, not the sidecar: the
    // healthy file keeps pruning (driver ADVICE — the old all-or-nothing
    // catch dropped every file's bloom for one bad entry)
    val mixed = """{"mBits":128,"kHashes":2,"files":{"good.parquet":"ff,1","bad.parquet":"zz,1"}}"""
    java.nio.file.Files.write(dir.resolve("m.json"), mixed.getBytes)
    val cm = GraftBloomIndex.load(root.toString, "m")
    assert(cm.isDefined && cm.get.files.keySet == Set("good.parquet"))
  }

  test("MERGE narrows the file groups at runtime via declared filter columns") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('graft.filter.columns' = 'k')")
    for (b <- 0 until 4)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    val base = tableFiles(tn, "v3")
    // matched keys 60..64 all live in the 50..74 file; 200.. are inserts.
    // The ON condition needs the source side, so only RUNTIME group
    // filtering can prune here — the statement's own WHERE is empty.
    sql(s"SELECT id AS k, -id AS v FROM range(60, 65) " +
      s"UNION ALL SELECT id, -id FROM range(200, 205)").createOrReplaceTempView("prune_src")
    sql(s"""MERGE INTO $t t USING prune_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val after = tableFiles(tn, "v4")
    assert((base intersect after).size == 3,
      s"runtime group filter must confine the MERGE to one file; base=$base new=$after")
    // exactness: no carried row lost, none duplicated
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 105L)
    assert(sql(s"SELECT sum(v) FROM $t WHERE k >= 60 AND k < 65").collect().head.getLong(0)
      == -(60L until 65L).sum)
    assert(sql(s"SELECT count(*) FROM $t WHERE v = k").collect().head.getLong(0) == 95L)
  }

  test("a rewrite filtering on an evolved column prunes the files that predate it") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 25, 1, 1)")
    sql(s"INSERT INTO $t SELECT id, id FROM range(25, 50, 1, 1)")
    sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    sql(s"INSERT INTO $t SELECT id, id, 'x' FROM range(50, 55, 1, 1)")
    val base = tableFiles(tn, "v2")
    // files written before the ALTER cannot contain tag = 'x' (the column
    // reads as NULL there) — footer absence proves it, so they carry
    sql(s"DELETE FROM $t WHERE tag = 'x' AND k >= 53")
    val after = tableFiles(tn, "v3")
    assert((base intersect after).size == 2,
      s"pre-ALTER files must carry forward; base=$base new=$after")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 53L)
    assert(sql(s"SELECT count(*) FROM $t WHERE tag = 'x'").collect().head.getLong(0) == 3L)
  }

  test("file-aligned DELETE is metadata-only; a straddling one falls back to the rewrite") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    for (b <- 0 until 4)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    val v3 = tableFiles(tn, "v3")

    // k < 25 aligns exactly with the first file: provably all-match there,
    // provably no-match everywhere else → drop the file, read no data
    val alignedPlan = sql(s"EXPLAIN DELETE FROM $t WHERE k < 25").collect().head.getString(0)
    assert(alignedPlan.contains("DeleteFromTable") && !alignedPlan.contains("ReplaceData"),
      s"aligned delete must plan as a metadata delete:\n$alignedPlan")
    sql(s"DELETE FROM $t WHERE k < 25")
    val v4 = tableFiles(tn, "v4")
    assert(v4.subsetOf(v3) && v4.size == 3,
      s"metadata delete must carry 3 files and write none; base=$v3 new=$v4")
    assert(sql(s"SELECT count(*), min(k) FROM $t").collect().head.toSeq == Seq(75L, 25L))

    // k < 30 straddles the 25..49 file → not provable → rewrite (pruned)
    val straddlePlan = sql(s"EXPLAIN DELETE FROM $t WHERE k < 30").collect().head.getString(0)
    assert(straddlePlan.contains("ReplaceData"),
      s"straddling delete must fall back to the rewrite:\n$straddlePlan")
    sql(s"DELETE FROM $t WHERE k < 30")
    assert(sql(s"SELECT count(*), min(k) FROM $t").collect().head.toSeq == Seq(70L, 30L))

    // no-WHERE delete truncates by metadata: every file provably matches
    sql(s"DELETE FROM $t")
    assert(tableFiles(tn, "v6").isEmpty, "unconditional delete must drop every file")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 0L)
  }

  test("DV-mode DELETE ladder: metadata when provable, sidecar when small, loud rewrite block until reconcile") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvDeleteMaxRowsProp}' = '10')")
    for (b <- 0 until 4)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    val v3 = tableFiles(tn, "v3")

    // rung 1: a file-aligned delete still takes metadata-only (cheaper
    // than a sidecar: zero scan tax afterwards) — commits v4, drops a file
    sql(s"DELETE FROM $t WHERE k < 25")
    assert(mt.currentVersion.contains("v4"))
    assert(tableFiles(tn, "v4").subsetOf(v3) && tableFiles(tn, "v4").size == 3)
    assert(mt.pendingDeleteVectors.isEmpty)

    // rung 2: straddling predicate, 5 rows ≤ cap 10 → deletion vector:
    // NO commit, NO file touched, scan anti-applies the pending delete
    val dvPlan = sql(s"EXPLAIN DELETE FROM $t WHERE k >= 30 AND k < 35")
      .collect().head.getString(0)
    assert(dvPlan.contains("DeleteFromTable") && !dvPlan.contains("ReplaceData"),
      s"small straddling delete must plan through SupportsDelete (DV):\n$dvPlan")
    sql(s"DELETE FROM $t WHERE k >= 30 AND k < 35")
    assert(mt.currentVersion.contains("v4"), "a DV delete commits no version")
    assert(tableFiles(tn, "v4").subsetOf(v3) && tableFiles(tn, "v4").size == 3)
    assert(mt.pendingDeleteVectors.isDefined)
    // the catalog scan pays the anti-apply: aggregates, pruned projections
    // — and column pruning survives the wrapper (the delegated read is
    // required ∪ predicate columns, not the full width)
    val dvScanPlan = sql(s"EXPLAIN SELECT sum(v) FROM $t")
      .collect().head.getString(0)
    assert(dvScanPlan.contains("GraftDvPendingScan"),
      s"pending-DV reads must go through the DV scan:\n$dvScanPlan")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 70L)
    assert(sql(s"SELECT min(k) FROM $t WHERE k >= 25 AND k < 40")
      .collect().head.getLong(0) == 25L)
    assert(sql(s"SELECT sum(v) FROM $t WHERE k >= 30 AND k < 40")
      .collect().head.getLong(0) == (35L to 39L).sum)
    // a second small DV delete ACCUMULATES into the same sidecar
    sql(s"DELETE FROM $t WHERE k = 40")
    assert(mt.currentVersion.contains("v4"))
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 69L)

    // STATED CONTRACT: time travel reads committed snapshots. A DV
    // delete commits no version, so AS OF the current version returns
    // the PRE-delete snapshot (75 rows) while the plain read (69) pays
    // the pending anti-apply — the deletes enter the version history at
    // the reconcile. (GraftTable.newScanBuilder scaladoc.)
    assert(sql(s"SELECT count(*) FROM $t VERSION AS OF 'v4'")
      .collect().head.getLong(0) == 75L,
      "AS OF the current version must read the committed pre-delete snapshot")

    // rung 3: a large straddling delete (> cap) needs the rewrite, which
    // must FAIL LOUDLY while the sidecar is pending — as must INSERT
    val e1 = intercept[Exception](sql(s"DELETE FROM $t WHERE k >= 50 AND k <= 93"))
    assert(e1.getMessage.contains("pending merge-on-read deletes"), e1.getMessage)
    val e2 = intercept[Exception](sql(s"INSERT INTO $t VALUES (999, 999)"))
    assert(e2.getMessage.contains("pending merge-on-read deletes"), e2.getMessage)

    // reconcile folds the sidecar; the big delete then rewrites normally
    mt.reconcileDeletes(spark, numFiles = 2)
    assert(mt.currentVersion.contains("v5") && mt.pendingDeleteVectors.isEmpty)
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 69L)
    sql(s"DELETE FROM $t WHERE k >= 50 AND k <= 93")
    assert(mt.currentVersion.contains("v6"))
    assert(sql(s"SELECT count(*), max(k) FROM $t").collect().head.toSeq == Seq(25L, 99L))
  }

  test("DV eligibility counts live hits: rows a pending sidecar already deleted do not count against the cap") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvDeleteMaxRowsProp}' = '10')")
    for (b <- 0 until 4)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    assert(mt.currentVersion.contains("v3"))
    // 8 straddling rows ≤ cap 10: the sidecar, no commit
    sql(s"DELETE FROM $t WHERE k >= 30 AND k < 38")
    assert(mt.currentVersion.contains("v3") && mt.pendingDeleteVectors.isDefined)
    // 11 bare hits, but 8 of them are already deleted: 3 live hits ≤ cap,
    // so this delete also goes to the sidecar instead of the blocked rewrite
    val plan = sql(s"EXPLAIN DELETE FROM $t WHERE k >= 30 AND k < 41")
      .collect().head.getString(0)
    assert(plan.contains("DeleteFromTable") && !plan.contains("ReplaceData"),
      s"3 live hits must plan through SupportsDelete (DV):\n$plan")
    sql(s"DELETE FROM $t WHERE k >= 30 AND k < 41")
    assert(mt.currentVersion.contains("v3"), "a DV delete commits no version")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 89L)
    assert(sql(s"SELECT count(*) FROM $t WHERE k >= 30 AND k < 41")
      .collect().head.getLong(0) == 0L)
  }

  test("pending-DV scan forwards query filters to the delegated parquet scan") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvDeleteMaxRowsProp}' = '10')")
    for (b <- 0 until 4)
      sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    sql(s"DELETE FROM $t WHERE k >= 30 AND k < 35") // straddling, small → DV
    assert(mt.pendingDeleteVectors.isDefined)
    // query filters must reach the delegated parquet scan (footer pruning
    // keeps working during the pending window) while staying residual in
    // Spark's plan — the r16 weak: pushdown was declined outright
    val df = sql(s"SELECT v FROM $t WHERE k >= 50 AND k < 60")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftDvPendingScan"), s"must read through the DV wrapper:\n$plan")
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"query filters must be forwarded to the delegated scan:\n$plan")
    assert(plan.contains(" Filter ("), s"filters must ALSO stay residual above the wrapper:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (50L until 60L).map(_ * 2),
      "pushdown must not change results")
    // a pushed filter OVERLAPPING the deleted range composes with the
    // anti-apply: deleted rows stay deleted however far the scan prunes
    assert(sql(s"SELECT count(*) FROM $t WHERE k >= 25 AND k < 40")
      .collect().head.getLong(0) == 10L)
    // and the unfiltered aggregate still sees every survivor
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 95L)
    mt.reconcileDeletes(spark)
  }

  test("DROP COLUMN is refused while a DV sidecar pends; reconcile unblocks it") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, w BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvDeleteMaxRowsProp}' = '10')")
    for (b <- 0 until 2)
      sql(s"INSERT INTO $t SELECT id, id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    sql(s"DELETE FROM $t WHERE v >= 10 AND v < 13") // straddling, small → DV
    assert(mt.pendingDeleteVectors.isDefined)
    // dropping ANY column while predicates pend could orphan a bind and
    // block every read — refused up front with the recovery named
    val e = intercept[IllegalStateException](sql(s"ALTER TABLE $t DROP COLUMN w"))
    assert(e.getMessage.contains("reconcileDeletes"), e.getMessage)
    // additive evolution stays safe (predicates bind by name, old files
    // null-fill) — and the pending read still works under the new schema
    sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 47L)
    mt.reconcileDeletes(spark)
    sql(s"ALTER TABLE $t DROP COLUMN w") // unblocked once folded
    assert(!spark.table(t).schema.fieldNames.contains("w"))
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 47L)
  }

  test("DROP COLUMN of a pending DV predicate's own column names the column and the remedy") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, w BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvDeleteMaxRowsProp}' = '10')")
    for (b <- 0 until 2)
      sql(s"INSERT INTO $t SELECT id, id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    sql(s"DELETE FROM $t WHERE v >= 10 AND v < 13")
    assert(mt.pendingDeleteVectors.isDefined)
    // v is the pending predicate's column: dropping it would orphan the
    // predicate's bind and block every later read
    val e = intercept[IllegalStateException](sql(s"ALTER TABLE $t DROP COLUMN v"))
    assert(e.getMessage.contains("cannot drop column v"), e.getMessage)
    assert(e.getMessage.contains("run reconcileDeletes first"), e.getMessage)
    // refused before any change: the schema and the pending read hold
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 47L)
    mt.reconcileDeletes(spark)
    sql(s"ALTER TABLE $t DROP COLUMN v")
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("k", "w"))
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 47L)
  }

  test("DV filter translators agree: Column path == bound-expression path on every supported shape") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    import graft.lake.DeleteVectors
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType),
      StructField("s", StringType, nullable = true)))
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, "alpha"), (2L, 20L, "beta"), (3L, 30L, null),
      (4L, 40L, "alphabet"), (5L, 50L, "gamma"))
    val df = rows.toDF("k", "v", "s")
    val filters: Seq[Filter] = Seq(
      EqualTo("k", 2L), EqualNullSafe("s", "beta"),
      GreaterThan("v", 25L), GreaterThanOrEqual("v", 30L),
      LessThan("k", 3L), LessThanOrEqual("k", 3L),
      In("k", Array(1L, 4L)), IsNull("s"), IsNotNull("s"),
      StringStartsWith("s", "alpha"), StringEndsWith("s", "a"),
      StringContains("s", "et"),
      And(GreaterThan("k", 1L), LessThan("k", 5L)),
      Or(EqualTo("k", 1L), EqualTo("k", 5L)),
      Not(EqualTo("k", 3L)))
    filters.foreach { f =>
      val colKs = df.filter(DeleteVectors.filterToColumn(f).get)
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      val bound = DeleteVectors.filterToBound(f, schema).get
      val pred = org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
      pred.initialize(0)
      val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(schema)
      val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(enc)
        .createSerializer()
      val exprKs = df.collect().filter(r => pred.eval(ser(r))).map(_.getLong(0)).sorted.toSeq
      assert(colKs == exprKs, s"translator drift on $f: column=$colKs expr=$exprKs")
    }
    // unsupported shape: BOTH paths must refuse, keeping the DV ladder honest
    val alwaysTrue = org.apache.spark.sql.sources.AlwaysTrue
    assert(DeleteVectors.filterToColumn(alwaysTrue).isEmpty ==
      DeleteVectors.filterToBound(alwaysTrue, schema).isEmpty)
    assert(!DeleteVectors.translatable(Array(alwaysTrue), schema))
    assert(!DeleteVectors.translatable(Array.empty, schema))
  }

  test("IS NULL delete on an evolved column drops pre-ALTER files wholesale") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (k BIGINT)")
    sql(s"INSERT INTO $t SELECT id FROM range(0, 10, 1, 1)")
    sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    sql(s"INSERT INTO $t SELECT id, 'new' FROM range(10, 15, 1, 1)")
    // old file: tag absent → provably all-NULL → dropped without a read;
    // new file: tag never null → provably no-match → carried
    sql(s"DELETE FROM $t WHERE tag IS NULL")
    val v2 = tableFiles(tn, "v2")
    assert(v2.size == 1 && v2.subsetOf(tableFiles(tn, "v1")),
      s"only the post-ALTER file may survive, carried not rewritten; got $v2")
    assert(sql(s"SELECT count(*), min(k) FROM $t").collect().head.toSeq == Seq(5L, 10L))
  }

  test("OPTIMIZE ZORDER: clustered compaction makes 2-D predicates prune file groups") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (x BIGINT, y BIGINT)")
    // 4 files, each spanning the FULL x domain (x = id % 64): before the
    // clustered rewrite, an x predicate can prune nothing
    sql(s"INSERT INTO $t SELECT id % 64, id div 64 FROM range(0, 4096, 1, 4)")
    val dir = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$tn")
    val mt = new graft.stages.MergeTable(dir.toString, Seq.empty)
    mt.compact(spark, numFiles = 4, clusterBy = Seq("x", "y"))   // v1: z-ordered
    assert(mt.dataFiles("v1").size == 4)
    val base = tableFiles(tn, "v1")
    // a corner box intersects ~one z-quadrant; at least half the files
    // must now carry (before clustering, zero could)
    sql(s"DELETE FROM $t WHERE x < 16 AND y < 16")
    val after = tableFiles(tn, "v2")
    val carried = (base intersect after).size
    assert(carried >= 2, s"z-ordered files must let a 2-D box prune; carried=$carried")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 4096L - 256L)
    assert(sql(s"SELECT count(*) FROM $t WHERE x < 16 AND y < 16").collect().head.getLong(0) == 0L)
  }

  test("compaction under the declared schema preserves evolved columns") {
    val t = freshTable(); val tn = n
    sql(s"CREATE TABLE $t (k BIGINT)")
    sql(s"INSERT INTO $t SELECT id FROM range(0, 5, 1, 1)")
    sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    sql(s"INSERT INTO $t SELECT id, 'new' FROM range(5, 8, 1, 1)")
    val dir = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$tn")
    // inference would sample one file and could lose `tag`; the declared
    // schema null-fills it for pre-ALTER rows instead
    new graft.stages.MergeTable(dir.toString, Seq.empty)
      .compact(spark, numFiles = 1, declaredSchema = Some(spark.table(t).schema))
    assert(sql(s"SELECT count(*) FROM $t WHERE tag = 'new'").collect().head.getLong(0) == 3L)
    assert(sql(s"SELECT count(*) FROM $t WHERE tag IS NULL").collect().head.getLong(0) == 5L)
    // z-order compaction refuses tables using its working column names
    val tz = freshTable(); val tzn = n
    sql(s"CREATE TABLE $tz (z BIGINT, y BIGINT)")
    sql(s"INSERT INTO $tz VALUES (1, 2)")
    val dirZ = Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"), "db", s"t$tzn")
    val e = intercept[IllegalArgumentException] {
      new graft.stages.MergeTable(dirZ.toString, Seq.empty)
        .compact(spark, numFiles = 2, clusterBy = Seq("z", "y"))
    }
    assert(e.getMessage.contains("reserves"))
  }

  test("catalog reads keep parquet pushdown and column pruning (delegated scan)") {
    val t = freshTable()
    sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
    sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING) FROM range(100)")
    val df = sql(s"SELECT k FROM $t WHERE k > 5")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,5)]"),
      s"filter must reach the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint>"),
      s"projection must prune column v at the scan:\n$plan")
    assert(plan.contains("ColumnarToRow"), s"scan must stay vectorized:\n$plan")
    assert(df.count() == 94)
  }

  test("merge-on-read UPDATE: one small commit, old copies DV'd, own WHERE can't re-mark the new rows") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT NOT NULL, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvUpdateMaxRowsProp}' = '20', " +
      s"'${graft.lake.GraftTable.DvRowIdProp}' = 'k')")
    for (b <- 0 until 4)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    val v3 = tableFiles(tn, "v3")

    // the delta plan, not the group rewrite
    val plan = sql(s"EXPLAIN UPDATE $t SET v = v + 1000 WHERE v < 10")
      .collect().head.getString(0)
    assert(plan.contains("WriteDelta") && !plan.contains("ReplaceData"),
      s"opted-in UPDATE must plan through SupportsDelta:\n$plan")

    // the update: v < 10 rows get +1000 — and CRUCIALLY the replacement
    // rows (1000..1009) do NOT match v < 10, so this first case only
    // proves the basic delta commit...
    sql(s"UPDATE $t SET v = v + 1000 WHERE v < 10")
    assert(mt.currentVersion.contains("v4"), "one version commit")
    val v4 = tableFiles(tn, "v4")
    assert(v3.subsetOf(v4), "all base files carried by link")
    assert(v4.size > v3.size, "replacement rows land in new file(s)")
    assert(mt.pendingDeleteVectors.isDefined, "old copies pend in the sidecar")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 100L)
    assert(sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0) ==
      (0L until 100L).sum + 10 * 1000)

    // ...the scoping case: an update whose replacement rows STILL match
    // its own WHERE (v stays under 100). File-scoped predicates are what
    // keep them alive; version-wide re-evaluation would delete them.
    sql(s"UPDATE $t SET v = v + 1 WHERE v >= 20 AND v < 30")
    assert(mt.currentVersion.contains("v5"))
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 100L)
    assert(sql(s"SELECT count(*) FROM $t WHERE v >= 20 AND v < 30")
      .collect().head.getLong(0) == 9L, // 20..28 moved to 21..29; 29→30 left
      "replacement rows must survive their own statement's predicate")
    assert(sql(s"SELECT sum(v) FROM $t WHERE v >= 1000").collect().head.getLong(0) ==
      (1000L to 1009L).sum)

    // the new rows' epoch is untaxed: their file is outside every pending
    // predicate's scope, so its reads stay columnar/pushed (plan-level
    // proof lives in the epochs count of the scan description)
    val scanPlan = sql(s"SELECT * FROM $t").queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(scanPlan.contains("epochs="), s"epoch-grouped DV scan expected:\n$scanPlan")

    // reconcile folds positions (file-name-keyed across the migration)
    mt.reconcileDeletes(spark, numFiles = 2)
    assert(mt.pendingDeleteVectors.isEmpty)
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 100L)
    assert(sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0) ==
      (0L until 100L).sum + 10 * 1000 + 10) // ten rows (20..29) gained +1
  }

  test("merge-on-read UPDATE: prior DELETE sidecar migrates across the commit; zero-match and over-cap behave") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT NOT NULL, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvDeleteMaxRowsProp}' = '10', " +
      s"'${graft.lake.GraftTable.DvUpdateMaxRowsProp}' = '15', " +
      s"'${graft.lake.GraftTable.DvRowIdProp}' = 'k')")
    for (b <- 0 until 2)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 50}, ${(b + 1) * 50}, 1, 1)")

    sql(s"DELETE FROM $t WHERE k >= 40 AND k < 45") // straddles both files → DV
    assert(mt.currentVersion.contains("v1") && mt.pendingDeleteVectors.isDefined)
    // the UPDATE reads THROUGH the pending delete (must not update ghosts)
    // and migrates the sidecar to its new version
    sql(s"UPDATE $t SET v = v + 100 WHERE k >= 38 AND k < 48")
    assert(mt.currentVersion.contains("v2"))
    assert(mt.pendingDeleteVectors.exists(_.getFileName.toString == "v2_dv"))
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 95L)
    // 38,39,45,46,47 updated (+100); 40..44 stay deleted
    assert(sql(s"SELECT sum(v) FROM $t WHERE k >= 38 AND k < 48")
      .collect().head.getLong(0) == 38L + 39 + 45 + 46 + 47 + 5 * 100)

    // zero-match UPDATE: no version bump, no sidecar growth
    sql(s"UPDATE $t SET v = 0 WHERE k = 40")  // 40 is deleted
    assert(mt.currentVersion.contains("v2"), "zero-match UPDATE must be a no-op")

    // over the cap: loud failure naming the knob, nothing committed
    val e = intercept[Exception](sql(s"UPDATE $t SET v = v + 1 WHERE k < 30"))
    assert(e.getMessage != null)
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 95L)
    assert(mt.currentVersion.contains("v2"), "failed UPDATE must commit nothing")
    assert(sql(s"SELECT sum(v) FROM $t WHERE k < 30").collect().head.getLong(0) ==
      (0L until 30L).sum, "failed UPDATE must leave rows untouched")

    mt.reconcileDeletes(spark)
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 95L)

    // half-configured opt-in is a DDL error
    val t2 = freshTable()
    val e2 = intercept[Exception](sql(s"CREATE TABLE $t2 (k BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvUpdateMaxRowsProp}' = '5')"))
    assert(e2.getMessage.contains("set both or neither"), e2.getMessage)
  }

  test("CDC across a merge-on-read UPDATE: bare inserts intra-window, paired updates once the window spans the reconcile") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT NOT NULL, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvUpdateMaxRowsProp}' = '10', " +
      s"'${graft.lake.GraftTable.DvRowIdProp}' = 'k')")
    sql(s"INSERT INTO $t SELECT id, id FROM range(0, 20, 1, 1)")
    sql(s"UPDATE $t SET v = v + 100 WHERE k < 3")
    assert(mt.currentVersion.contains("v1") && mt.pendingDeleteVectors.isDefined)

    // intra-window feed: the UPDATE's commit carries every base file and
    // marks old copies only in the pending sidecar, so the single-commit
    // feed shows the replacements as bare inserts — committed history
    // only, the same contract the time-travel scan pins
    val intra = mt.changesBetween(spark, "v0", "v1", Seq("k")).collect()
    assert(intra.length == 3 &&
      intra.forall(_.getAs[String]("change_type") == "insert"),
      s"intra-window MoR feed must be bare inserts: ${intra.mkString(",")}")

    // spanning the reconcile pairs them: preimages surface when the
    // rewrite removes the old copies from the file set
    mt.reconcileDeletes(spark)
    val spanned = mt.changesBetween(spark, "v0", mt.currentVersion.get, Seq("k"))
      .collect()
    val byType = spanned.groupBy(_.getAs[String]("change_type"))
      .view.mapValues(_.map(_.getAs[Long]("k")).sorted.toSeq).toMap
    assert(byType("update_preimage") == Seq(0L, 1L, 2L) &&
      byType("update_postimage") == Seq(0L, 1L, 2L) &&
      byType.size == 2,
      s"spanned MoR feed must pair update events: $byType")
  }

  test("merge-on-read UPDATE: row-identity guard — partial match on a duplicated key fails loudly, full match passes") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT NOT NULL, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvUpdateMaxRowsProp}' = '20', " +
      s"'${graft.lake.GraftTable.DvRowIdProp}' = 'k')")
    // k = 1 has TWO copies with different v — not a row identity when a
    // statement matches only one of them
    sql(s"INSERT INTO $t VALUES (1, 10), (1, 20), (2, 30), (3, 40)")

    // partial match: WHERE v = 10 matches one k=1 copy; the key-set
    // sidecar would also delete the (1, 20) copy with no replacement —
    // the guard must refuse with nothing committed
    val e = intercept[Exception](sql(s"UPDATE $t SET v = v + 100 WHERE v = 10"))
    def rootMsg(x: Throwable): String =
      (Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("not a row identity"), rootMsg(e))
    assert(mt.currentVersion.contains("v0"), "guard must commit nothing")
    assert(sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0) == 100L,
      "guard must leave every row untouched")

    // full match: every copy of the duplicated key matched, each wrote
    // its replacement — duplicate key VALUES are sound here and the
    // statement must succeed
    sql(s"UPDATE $t SET v = v + 100 WHERE k = 1")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 4L)
    assert(sql(s"SELECT sum(v) FROM $t WHERE k = 1").collect().head.getLong(0) ==
      110L + 120L, "both copies updated")
    mt.reconcileDeletes(spark)
    assert(sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0) == 300L)
  }

  test("merge-on-read MERGE: matched rows DV'd, inserts and updates in one appended file, one commit") {
    val t = freshTable(); val tn = n
    val mt = new graft.stages.MergeTable(
      Paths.get(spark.conf.get("spark.sql.catalog.lakespec.warehouse"),
        "db", s"t$tn").toString, Seq.empty)
    sql(s"CREATE TABLE $t (k BIGINT NOT NULL, v BIGINT) " +
      s"TBLPROPERTIES ('${graft.lake.GraftTable.DvUpdateMaxRowsProp}' = '20', " +
      s"'${graft.lake.GraftTable.DvRowIdProp}' = 'k')")
    for (b <- 0 until 2)
      sql(s"INSERT INTO $t SELECT id, id FROM range(${b * 25}, ${(b + 1) * 25}, 1, 1)")
    val v1 = tableFiles(tn, "v1")
    sql("SELECT id AS k, id * 100 AS v FROM range(40, 60)")
      .createOrReplaceTempView("mor_merge_src")

    val plan = sql(s"""EXPLAIN MERGE INTO $t t USING mor_merge_src s ON t.k = s.k
            WHEN MATCHED AND s.v >= 4500 THEN UPDATE SET v = s.v
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
            WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN DELETE""")
      .collect().head.getString(0)
    assert(plan.contains("WriteDelta") && !plan.contains("ReplaceData"),
      s"opted-in MERGE must plan through SupportsDelta:\n$plan")

    sql(s"""MERGE INTO $t t USING mor_merge_src s ON t.k = s.k
            WHEN MATCHED AND s.v >= 4500 THEN UPDATE SET v = s.v
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
            WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN DELETE""")
    // one commit: both base files carried, changed rows in new file(s),
    // the 11 old copies (10 matched + the k=0 delete) pending in the DV
    assert(mt.currentVersion.contains("v2"))
    assert(v1.subsetOf(tableFiles(tn, "v2")))
    assert(mt.pendingDeleteVectors.isDefined)
    // k: 1..39 keep v=k; 40..44 deleted; 45..49 updated to k*100;
    // 50..59 inserted with k*100; 0 deleted by NOT MATCHED BY SOURCE
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 54L)
    assert(sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0) ==
      (1L to 39L).sum + (45L to 59L).map(_ * 100).sum)
    assert(sql(s"SELECT count(*) FROM $t WHERE k < 45 AND v >= 100")
      .collect().head.getLong(0) == 0L, "deleted rows must not resurface")

    mt.reconcileDeletes(spark)
    assert(mt.pendingDeleteVectors.isEmpty)
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 54L)
    assert(sql(s"SELECT sum(v) FROM $t").collect().head.getLong(0) ==
      (1L to 39L).sum + (45L to 59L).map(_ * 100).sum)

    // insert-only MERGE with a clean sidecar: a plain append, no DV work
    sql("SELECT id AS k, id AS v FROM range(100, 110)")
      .createOrReplaceTempView("mor_merge_src2")
    sql(s"""MERGE INTO $t t USING mor_merge_src2 s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(mt.pendingDeleteVectors.isEmpty, "insert-only MERGE needs no sidecar")
    assert(sql(s"SELECT count(*) FROM $t").collect().head.getLong(0) == 64L)
  }
}
