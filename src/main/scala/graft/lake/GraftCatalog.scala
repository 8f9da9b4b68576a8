package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A lakehouse-style DSv2 `TableCatalog` over [[graft.stages.MergeTable]]
  * storage — the capability the reference gets from Postgres DDL plus a
  * transaction (`sql/init_dds.sql`, `sql/deliveries_stg_to_dds.sql:38-56`),
  * re-expressed as versioned parquet with an atomic pointer flip, and
  * surfaced through plain SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.lake.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   spark.sql("CREATE TABLE graft.dds.ledger (k BIGINT, v DECIMAL(12,2))")
  *   spark.sql("INSERT INTO graft.dds.ledger SELECT ...")
  *   spark.sql("MERGE INTO graft.dds.ledger t USING batch s ON t.k = s.k " +
  *             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
  *   spark.sql("SELECT * FROM graft.dds.ledger VERSION AS OF 'v0'")
  * }}}
  *
  * Layout: `<warehouse>/<namespace...>/<table>/` is a MergeTable root
  * (immutable `v<n>` version directories + `_CURRENT` pointer + commit
  * lock) plus a `_TABLE_META.json` holding the declared schema. Every
  * write — INSERT, INSERT OVERWRITE, and the MERGE/UPDATE/DELETE rewrites
  * in [[GraftTable]] — stages executor-written parquet and promotes it
  * with the MergeTable CAS commit, so readers always see a complete
  * snapshot and concurrent writers are detected, never silently merged.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
    warehouse = Paths.get(w)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  private def namespaceDir(ns: Array[String]): Path =
    ns.foldLeft(warehouse)(_.resolve(_))
  private def tableDir(ident: Identifier): Path =
    namespaceDir(ident.namespace()).resolve(ident.name())
  private def metaPath(dir: Path): Path = dir.resolve(GraftCatalog.MetaFile)
  private def propsPath(dir: Path): Path = dir.resolve(GraftCatalog.PropsFile)

  private def readProps(dir: Path): Map[String, String] = {
    val p = propsPath(dir)
    if (!Files.exists(p)) Map.empty
    else org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)) match {
      case o: org.json4s.JObject => o.obj.collect {
        case (k, org.json4s.JString(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }
  }

  /** Write-temp-then-atomic-move, like the schema meta — readers never
    * observe a torn properties file.
    */
  private def writeProps(dir: Path, props: Map[String, String]): Unit = {
    val json = org.json4s.jackson.JsonMethods.compact(org.json4s.JObject(
      props.toSeq.sortBy(_._1).map { case (k, v) => k -> (org.json4s.JString(v): org.json4s.JValue) }.toList))
    val tmp = dir.resolve(s"${GraftCatalog.PropsFile}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, propsPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** `graft.filter.columns` must name real top-level columns — a typo'd
    * key column would silently disable runtime group filtering forever.
    */
  private def validateProps(props: Map[String, String], schema: StructType): Unit = {
    props.get(GraftTable.FilterColumnsProp).foreach { cols =>
      val known = schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val bad = GraftTable.parseFilterColumns(cols)
        .filterNot(c => known.contains(c.toLowerCase(java.util.Locale.ROOT)))
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"${GraftTable.FilterColumnsProp} names unknown column(s): ${bad.mkString(", ")}")
    }
    // a typo'd threshold would silently leave DV mode off — fail at DDL
    Seq(GraftTable.DvDeleteMaxRowsProp, GraftTable.DvUpdateMaxRowsProp).foreach(k =>
      props.get(k).foreach { v =>
        if (scala.util.Try(v.trim.toLong).toOption.forall(_ < 0))
          throw new IllegalArgumentException(
            s"$k must be a non-negative row count, got '$v'")
      })
    // the delta UPDATE's row identity must be a real column (a typo
    // would silently demote every UPDATE to the group rewrite), and the
    // cap without an identity (or vice versa) is a half-configured opt-in
    props.get(GraftTable.DvRowIdProp).foreach { c =>
      if (!schema.fieldNames.contains(c.trim))
        throw new IllegalArgumentException(
          s"${GraftTable.DvRowIdProp} names unknown column '$c'")
      // Spark's delta planner rejects nullable rowId attributes at
      // ANALYSIS of every UPDATE — surface the contract at DDL instead
      if (schema(c.trim).nullable)
        throw new IllegalArgumentException(
          s"${GraftTable.DvRowIdProp} column '$c' must be declared NOT NULL " +
            "(row identity cannot be nullable)")
    }
    if (props.contains(GraftTable.DvUpdateMaxRowsProp) !=
        props.contains(GraftTable.DvRowIdProp))
      throw new IllegalArgumentException(
        s"${GraftTable.DvUpdateMaxRowsProp} and ${GraftTable.DvRowIdProp} " +
          "opt into merge-on-read UPDATE together — set both or neither")
  }

  // ---- tables -------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespaceDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val entries = Files.list(dir)
    try entries.iterator().asScala
      .filter(p => Files.exists(metaPath(p)))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally entries.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    Files.exists(metaPath(tableDir(ident)))

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** Time travel: `VERSION AS OF 'v<n>'` resolves here. Version
    * directories are immutable, so the pinned table is a consistent —
    * and read-only — snapshot.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version))

  /** Time travel by wall clock: `TIMESTAMP AS OF <ts>` (Spark passes
    * microseconds) resolves to the newest version whose commit-log entry
    * is at or before the instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(metaPath(dir))) throw new NoSuchTableException(ident)
    val v = new graft.stages.MergeTable(dir.toString, Seq.empty)
      .versionAsOfTime(timestamp / 1000L)
      .getOrElse(throw new NoSuchTableException(ident))
    loadAt(ident, Some(v))
  }

  private def loadAt(ident: Identifier, version: Option[String]): GraftTable = {
    val dir = tableDir(ident)
    if (!Files.exists(metaPath(dir))) throw new NoSuchTableException(ident)
    val schema = DataType.fromJson(new String(
      Files.readAllBytes(metaPath(dir)), StandardCharsets.UTF_8)).asInstanceOf[StructType]
    version.foreach { v =>
      // validate the SHAPE before touching the filesystem: an arbitrary
      // user string must never reach dir.resolve (VERSION AS OF '../t1/v0'
      // would read a sibling table; '_stage_<uuid>' a half-written staging
      // directory)
      if (!graft.stages.MergeTable.isVersionName(v) || !Files.isDirectory(dir.resolve(v))) {
        val retained = new graft.stages.MergeTable(dir.toString, Seq.empty).listVersions
        throw new IllegalArgumentException(
          s"version '$v' of $catalogName.$ident is not available " +
            s"(not a v<n> snapshot name, vacuumed by retention, or never " +
            s"committed); retained versions: " +
            s"${if (retained.isEmpty) "<none>" else retained.mkString(", ")}")
      }
    }
    new GraftTable(s"$catalogName.${ident.toString}", dir, schema, version, readProps(dir))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "graft lake tables do not support partition transforms yet — model " +
        "partitioning with a bucketed/sorted write of the source query instead")
    val dir = tableDir(ident)
    if (Files.exists(metaPath(dir))) throw new TableAlreadyExistsException(ident)
    // persist user TBLPROPERTIES; engine-reserved keys (location, provider,
    // external, owner) describe the catalog's own layout and are not stored
    val userProps = Option(properties).map(_.asScala.toMap).getOrElse(Map.empty) --
      GraftCatalog.ReservedProps
    validateProps(userProps, schema)
    Files.createDirectories(dir)
    if (userProps.nonEmpty) writeProps(dir, userProps)
    Files.write(metaPath(dir), schema.json.getBytes(StandardCharsets.UTF_8))
    loadTable(ident)
  }

  /** Additive schema evolution, metadata-only — the lakehouse property
    * that column adds/drops NEVER rewrite data: the declared schema in
    * `_TABLE_META.json` changes, and the parquet reader reconciles old
    * files against it (a column absent from a file reads as NULL; a
    * dropped column is simply no longer projected). Added columns must
    * therefore be nullable. The meta write is write-temp-then-atomic-move,
    * so readers never observe a torn schema.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(metaPath(dir))) throw new NoSuchTableException(ident)
    // the read-modify-write of the schema is serialized by the shared
    // FileLock protocol — loud failure under contention, stale-holder
    // takeover so a crashed ALTER can't brick DDL on the table (the DDL
    // critical section is milliseconds, hence the short threshold)
    graft.stages.FileLock.withLock(dir.resolve("_SCHEMA_LOCK"), staleMs = 60000L,
      what = s"ALTER TABLE $catalogName.$ident", retryHint = "re-run the statement") {
      var schema = DataType.fromJson(new String(
        Files.readAllBytes(metaPath(dir)), StandardCharsets.UTF_8)).asInstanceOf[StructType]
      var props = readProps(dir)
      var propsChanged = false
      changes.foreach {
        case set: TableChange.SetProperty =>
          if (GraftCatalog.ReservedProps.contains(set.property()))
            throw new UnsupportedOperationException(
              s"property ${set.property()} is managed by the catalog")
          props += set.property() -> set.value(); propsChanged = true
        case rm: TableChange.RemoveProperty =>
          props -= rm.property(); propsChanged = true
        case add: TableChange.AddColumn =>
          if (add.fieldNames().length != 1) throw new UnsupportedOperationException(
            "nested column adds are not supported")
          if (add.position() != null) throw new UnsupportedOperationException(
            "FIRST/AFTER column positions are not supported — columns append at the end")
          if (!add.isNullable) throw new UnsupportedOperationException(
            "added columns must be nullable — existing files backfill NULL")
          val name = add.fieldNames()(0)
          if (schema.fieldNames.contains(name))
            throw new IllegalArgumentException(s"column $name already exists")
          schema = schema.add(name, add.dataType(), nullable = true)
        case del: TableChange.DeleteColumn =>
          if (del.fieldNames().length != 1) throw new UnsupportedOperationException(
            "nested column drops are not supported")
          val name = del.fieldNames()(0)
          if (!schema.fieldNames.contains(name))
            throw new IllegalArgumentException(s"column $name does not exist")
          if (schema.length == 1)
            throw new IllegalArgumentException("cannot drop the last column")
          // a pending DV sidecar's scan predicates bind by NAME against
          // the declared schema: dropping any column while one pends
          // could orphan a predicate and block every catalog read with a
          // bind error — refuse up front with the recovery the read-side
          // error could only hint at (reconcile is position-based, so it
          // folds cleanly regardless of what the predicates reference)
          if (new graft.stages.MergeTable(dir.toString, Seq.empty)
              .pendingDeleteVectors.isDefined)
            throw new IllegalStateException(
              s"cannot drop column $name: $catalogName.$ident has pending " +
                "merge-on-read deletes whose predicates bind columns by name " +
                "— run reconcileDeletes first")
          schema = StructType(schema.fields.filterNot(_.name == name))
        case other => throw new UnsupportedOperationException(
          s"unsupported table change: $other")
      }
      validateProps(props, schema)
      // each file move is atomic but the pair is not: land the schema
      // FIRST, so the crash window leaves an added column nothing refers
      // to (harmless) rather than properties naming a column that never
      // arrived (which would fail every later statement on the table)
      val tmp = dir.resolve(s"${GraftCatalog.MetaFile}.${java.util.UUID.randomUUID()}.tmp")
      Files.write(tmp, schema.json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, metaPath(dir),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      if (propsChanged) writeProps(dir, props)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!Files.exists(metaPath(dir))) false
    else { graft.stages.TempDirs.deleteTree(dir); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!Files.exists(metaPath(from))) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (Files.exists(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // ---- namespaces (directories) ------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val entries = Files.list(warehouse)
    try entries.iterator().asScala
      .filter(p => Files.isDirectory(p) && !Files.exists(metaPath(p)))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally entries.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = namespaceDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val entries = Files.list(dir)
    try entries.iterator().asScala
      .filter(p => Files.isDirectory(p) && !Files.exists(metaPath(p)))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
    finally entries.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(namespaceDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> namespaceDir(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val dir = namespaceDir(namespace)
    if (Files.isDirectory(dir)) throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(dir)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = namespaceDir(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    if (!cascade) {
      // tables at ANY depth block a non-cascading drop — direct children
      // only would let nested-namespace tables be silently destroyed
      val walk = Files.walk(dir)
      val hasTable =
        try walk.anyMatch(p => p.getFileName.toString == GraftCatalog.MetaFile)
        finally walk.close()
      if (hasTable) throw new NonEmptyNamespaceException(namespace)
    }
    graft.stages.TempDirs.deleteTree(dir)
    true
  }
}

object GraftCatalog {
  val MetaFile = "_TABLE_META.json"
  val PropsFile = "_TABLE_PROPS.json"

  /** Keys the catalog computes itself — never persisted as user props. */
  val ReservedProps: Set[String] = Set(
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
    TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_OWNER, "format")

  /** Register the default `graftlake` catalog on this session over a
    * per-JVM scratch warehouse (idempotent). Catalog plugins resolve
    * lazily from conf, so setting both keys before first use is all a
    * runtime registration needs. Durable deployments set the warehouse
    * conf themselves instead.
    */
  def ensureScratchCatalog(spark: org.apache.spark.sql.SparkSession,
                           name: String = "graftlake"): String = synchronized {
    if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse",
        graft.stages.TempDirs.scratch("graft_lake_wh_"))
    }
    name
  }
}
