package graft.catalog

import java.io.{FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NonEmptyNamespaceException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.connector.catalog.{NamespaceChange, TableChange}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.KeyedParquetTable

/** DSv2 `TableCatalog` over [[graft.cdc.KeyedParquetTable]] roots — the
  * SQL-addressable surface the reference exposes through its Iceberg REST
  * catalog (`/root/reference/src/processor/spark_session.py:97-199`): with
  * `spark.sql.catalog.graft=graft.catalog.GraftCatalog` registered
  * ([[graft.core.Session.tuned]]), literal SQL strings drive the engine —
  *
  *   CREATE NAMESPACE graft.cdc
  *   CREATE TABLE graft.cdc.items (id BIGINT, v DOUBLE)
  *     PARTITIONED BY (bucket(8, id)) TBLPROPERTIES ('graft.keys'='id')
  *   INSERT INTO graft.cdc.items SELECT ...
  *   SELECT * FROM graft.cdc.items WHERE id = 42
  *   SELECT * FROM graft.cdc.items VERSION AS OF 3       -- or a tag name
  *   SELECT * FROM graft.cdc.items TIMESTAMP AS OF '...'
  *   ALTER TABLE graft.cdc.items ADD COLUMN note STRING
  *   INSERT OVERWRITE graft.cdc.items SELECT ...
  *   DROP TABLE graft.cdc.items
  *
  * — the DDL/scan/write shapes of the reference's `spark_batch.py:71-96` /
  * `273-280` mapped onto the engine's snapshot-versioned tables. Layout:
  * one filesystem tree, `<warehouse>/<namespace...>/<table>`, each table
  * dir a KeyedParquetTable root plus a `_meta.properties` holding the
  * engine layout (keys, partition, bucketing, stats/bloom/sum index
  * columns) — the catalog-side analog of Iceberg table metadata, written
  * once at CREATE and immutable afterwards (layout pinning: the scoped
  * commit protocol assumes it; [[KeyedParquetTable.rebucketTo]] is the
  * sanctioned migration).
  *
  * Table semantics reachable from SQL: snapshot reads with bucket/stats
  * pruning driven by pushed predicates, VERSION AS OF (numeric snapshot,
  * tag, or branch name — the branch's live head, Iceberg's refs read),
  * TIMESTAMP AS OF, append/overwrite commits, metadata-only column
  * add/drop/rename (rename-history reads), TBLPROPERTIES. The engine's
  * richer verbs (MERGE, WAP, branch writes, deleteKeys, maintenance) stay
  * on the Scala surface — load the same root with [[tableFor]] and both
  * interfaces see identical state, because the catalog stores nothing the
  * table root doesn't.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with ViewCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val explicit = Option(options.get("warehouse"))
      .orElse(sys.props.get("graft.catalog.warehouse"))
    warehouse = Paths.get(explicit.getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}"))
    Files.createDirectories(warehouse)
    // the pid-scoped DEFAULT warehouse is scratch by definition (nobody can
    // address it after this JVM dies) — sweep it at exit so Verify/Bench/
    // test runs don't leak table trees into /tmp; an explicitly configured
    // warehouse is durable state and is never touched
    if (explicit.isEmpty) {
      val w = warehouse
      sys.addShutdownHook {
        try Files.walk(w).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(Files.deleteIfExists(_))
        catch { case _: Throwable => () }
      }
    }
    // catalog reads run as one plan (see GraftScanInline): the rule must
    // run AFTER pushdown builds the scan, and the only logical hook that
    // does is the session's post-hoc extraOptimizations batch — registered
    // here because the catalog initializes (during analysis, with its
    // session active) strictly before any graft query reaches the optimizer
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      if (!s.experimental.extraOptimizations.contains(GraftScanInline))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ GraftScanInline
    }
  }

  override def name(): String = catalogName

  /** The warehouse root this catalog serves (for tooling and for pointing
    * a second catalog instance at the same tree — the two-session shape).
    */
  def warehouseDir: Path = warehouse

  private def spark: SparkSession = SparkSession.active

  // path-safe identifier segments only: these become directory names
  private def validSegment(s: String): Boolean =
    s.nonEmpty && s.forall(c => c.isLetterOrDigit || c == '_' || c == '-')

  private def nsPath(ns: Array[String]): Path = {
    require(ns.forall(validSegment), s"invalid namespace ${ns.mkString(".")}")
    ns.foldLeft(warehouse)(_.resolve(_))
  }

  private def tablePath(ident: Identifier): Path = {
    require(validSegment(ident.name), s"invalid table name ${ident.name}")
    nsPath(ident.namespace).resolve(ident.name)
  }

  private def metaFile(dir: Path): Path = dir.resolve("_meta.properties")

  // ---- table metadata ------------------------------------------------------

  private def writeMeta(dir: Path, meta: Map[String, String]): Unit = {
    val p = new Properties()
    meta.foreach { case (k, v) => p.setProperty(k, v) }
    val out = new FileOutputStream(metaFile(dir).toFile)
    try p.store(out, null) finally out.close()
  }

  private def readMeta(dir: Path): Map[String, String] = {
    val p = new Properties()
    val in = new FileInputStream(metaFile(dir).toFile)
    try p.load(in) finally in.close()
    p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
  }

  private def split(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Open the engine table for an identifier — the bridge both directions:
    * SQL-created tables driven from Scala, Scala-created roots... are
    * elsewhere; this catalog only claims roots under its warehouse.
    */
  def tableFor(ident: Identifier): KeyedParquetTable = {
    val dir = tablePath(ident)
    if (!Files.exists(metaFile(dir))) throw new NoSuchTableException(ident)
    val m = readMeta(dir)
    // an externally-registered root (register / graft.location) lives
    // outside the warehouse; the warehouse dir holds only the pointer
    new KeyedParquetTable(spark, m.getOrElse("location", dir.toString),
      keys = split(m.getOrElse("keys", "")),
      partitionBy = split(m.getOrElse("partitionBy", "")),
      bucketCount = m.getOrElse("bucketCount", "0").toInt,
      bucketBy = split(m.getOrElse("bucketBy", "")),
      statsCols = split(m.getOrElse("statsCols", "")),
      bloomKeyBits = m.getOrElse("bloomKeyBits", "0").toInt,
      sumCols = split(m.getOrElse("sumCols", "")))
  }

  /** Register an EXISTING engine root under a catalog identifier — the
    * bridge for Scala-created tables (the whole Verify corpus) that were
    * invisible to SQL because [[tableFor]] only claims warehouse roots.
    * The warehouse gains a pointer dir (`_meta.properties` with a
    * `location` key); the data never moves, and both surfaces keep seeing
    * one state because the catalog still stores nothing the root doesn't.
    *
    * Layout is read from what the root PINNED at its first commit
    * (`graft.layout.*` table properties); a declared layout (from the SQL
    * face's PARTITIONED BY / graft.keys) must agree or the registration
    * refuses — a mismatched open would corrupt the bucket-scoped commit
    * protocol on first write. DROP TABLE on a registered ident removes
    * the pointer only (Iceberg external-table semantics), never the root.
    */
  def register(ident: Identifier, location: String,
               declaredKeys: Seq[String] = Nil,
               declaredBuckets: Option[(Int, Seq[String])] = None,
               partitionBy: Seq[String] = Nil,
               statsCols: Seq[String] = Nil,
               bloomKeyBits: Int = 0,
               sumCols: Seq[String] = Nil): Table = {
    val dir = tablePath(ident)
    if (Files.exists(metaFile(dir))) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    // opens with the layout the root pinned and refuses a root in any
    // other format; a declared layout must agree with the pinned one
    val kpt = KeyedParquetTable.openRoot(spark, location)
    def agree(what: String, pinned: Seq[String], declared: Seq[String]): String = {
      require(declared.isEmpty || declared == pinned,
        s"register ${fullName(ident)}: declared $what '${declared.mkString(",")}' " +
          s"conflicts with the root's pinned $what '${pinned.mkString(",")}'")
      pinned.mkString(",")
    }
    val keys = agree("keys", kpt.keys, declaredKeys)
    val bucketCount = agree("bucket count", Seq(kpt.bucketCount.toString),
      declaredBuckets.map(_._1.toString).toSeq)
    val bucketBy = agree("bucket keys", kpt.bucketKeys,
      declaredBuckets.map(_._2).getOrElse(Nil))
    val partBy = agree("partitionBy", kpt.partitionBy, partitionBy)
    Files.createDirectories(dir)
    writeMeta(dir, Map(
      "location" -> Paths.get(location).toAbsolutePath.normalize.toString,
      "keys" -> keys,
      "partitionBy" -> partBy,
      "bucketCount" -> bucketCount,
      "bucketBy" -> bucketBy,
      "statsCols" -> statsCols.mkString(","),
      "bloomKeyBits" -> bloomKeyBits.toString,
      "sumCols" -> sumCols.mkString(",")))
    new GraftTable(tableFor(ident), fullName(ident), Pin.Current)
  }

  // ---- TableCatalog --------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.exists(metaFile(p)))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table =
    if (tableExists(ident))
      new GraftTable(tableFor(ident), fullName(ident), Pin.Current)
    else metaTableFor(ident).getOrElse(throw new NoSuchTableException(ident))

  /** Iceberg-style metadata tables: `graft.ns.t.history` (snapshot log),
    * `.files` (current data-file inventory — the `.manifests` analog),
    * `.snapshots` (per-snapshot storage footprint, hard-link-aware
    * reclaimable bytes), `.tags`, `.properties`. All driver-side metadata
    * walks, never data scans — the shape the reference's health checks
    * read (`validation.py:731-740`).
    */
  private def metaTableFor(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val base = Identifier.of(ident.namespace.init, ident.namespace.last)
    if (!tableExists(base)) return None
    def kpt = tableFor(base)
    // `graft.ns.t.branch_<name>`: the branch itself as a FULL table —
    // readable AND writable (Iceberg's `t.branch_x` identifier), so the
    // audit-branch workflow runs as plain SQL: CALL create_branch →
    // INSERT INTO/MERGE INTO t.branch_x → SELECT … VERSION AS OF 'x' →
    // CALL fast_forward. Unlike VERSION AS OF (a read pin), this is the
    // branch's live head with the whole DML surface attached.
    if (ident.name.startsWith("branch_")) {
      val b = ident.name.stripPrefix("branch_")
      return if (kpt.branches.contains(b))
        Some(new GraftTable(kpt.branch(b), s"${fullName(base)}.${ident.name}",
          Pin.Current))
      else None
    }
    // `.changes`: the value-carrying changelog; version range comes from
    // SCAN options (fromVersion/toVersion), so it gets its own table class
    if (ident.name == "changes")
      return Some(new GraftChangesTable(kpt, s"${fullName(base)}.changes"))
    val frame: Option[() => org.apache.spark.sql.DataFrame] = ident.name match {
      case "history"   => Some(() => kpt.history())
      case "files"     => Some(() => kpt.files())
      case "snapshots" => Some(() => kpt.storageFootprint())
      case "tags"      => Some(() => {
        val t = kpt
        val sp = t.spark; import sp.implicits._
        t.tags.toSeq.sortBy(_._2).toDF("tag", "snapshot_id")
      })
      case "properties" => Some(() => {
        val t = kpt
        val sp = t.spark; import sp.implicits._
        t.properties.toSeq.sorted.toDF("key", "value")
      })
      case _ => None
    }
    frame.map(f => new GraftMetaTable(s"${fullName(base)}.${ident.name}", f))
  }

  /** SQL `VERSION AS OF x`: numeric snapshot id, a snapshot TAG name
    * (the engine's tagSnapshot — Iceberg's tag-addressed read), or a
    * BRANCH name (Iceberg's branch-addressed read: the branch's head at
    * query time — the audit-before-publish read an auditor runs as plain
    * SQL). Iceberg keeps tags and branches in ONE refs namespace, so a
    * name carried by both refuses as ambiguous rather than silently
    * preferring one.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val kpt = tableFor(ident)
    version.toLongOption match {
      case Some(v) => new GraftTable(kpt, fullName(ident), Pin.Version(v))
      case None =>
        val isTag = kpt.tags.contains(version)
        val isBranch = kpt.branches.contains(version)
        if (isTag && isBranch) throw new IllegalArgumentException(
          s"${fullName(ident)}: '$version' names both a tag and a branch — " +
            "drop or rename one to address it from SQL")
        if (isTag) new GraftTable(kpt, fullName(ident), Pin.Tag(version))
        else if (isBranch)
          new GraftTable(kpt.branch(version),
            s"${fullName(ident)}@$version", Pin.Current)
        else throw new IllegalArgumentException(
          s"${fullName(ident)} has no snapshot tag or branch '$version' " +
            s"(tags: ${kpt.tags.keys.toSeq.sorted.mkString(", ")}; " +
            s"branches: ${kpt.branches.sorted.mkString(", ")})")
    }
  }

  /** SQL `TIMESTAMP AS OF t` (micros since epoch from Spark). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    new GraftTable(tableFor(ident), fullName(ident),
      Pin.AsOf(timestampMicros / 1000L))

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace :+ ident.name).mkString(".")

  /** CREATE TABLE: identity transforms become partition columns, a bucket
    * transform becomes the engine's hash-bucket layout (its columns must
    * be — or default to — the declared keys). Engine-layout knobs ride
    * TBLPROPERTIES under `graft.*`: `graft.keys` (MERGE key columns),
    * `graft.statsCols`, `graft.bloomKeyBits`, `graft.sumCols`. Everything
    * else is a user property stored on the table.
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val dir = tablePath(ident)
    if (Files.exists(metaFile(dir))) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val props = properties.asScala.toMap

    // the concrete transform case classes are private[sql]; the public
    // Transform interface (name/references/arguments) identifies them.
    // Layout also round-trips through TBLPROPERTIES ('graft.layout.*' /
    // 'graft.partitionBy') when no transform is spelled — the form SHOW
    // CREATE TABLE emits (GraftTable.partitioning() is deliberately empty,
    // so the rendered DDL carries layout as properties; honoring them here
    // makes that DDL re-runnable verbatim).
    val partitionCols = {
      val fromTransforms = partitions.collect {
        case t if t.name == "identity" => t.references()(0).fieldNames.mkString(".")
      }.toSeq
      if (fromTransforms.nonEmpty) fromTransforms
      else split(props.getOrElse("graft.partitionBy", ""))
    }
    val bucketSpec = partitions.collectFirst {
      case t if t.name == "bucket" =>
        val n = t.arguments().collectFirst { case l: Literal[_] =>
          l.value().asInstanceOf[Number].intValue() }.getOrElse(
          throw new IllegalArgumentException(s"bucket transform without a count: $t"))
        (n, t.references().map(_.fieldNames.mkString(".")).toSeq)
    }.orElse {
      for {
        n <- props.get("graft.layout.bucket-count").flatMap(_.toIntOption)
        if n > 0
        ks = split(props.getOrElse("graft.layout.bucket-keys", ""))
        if ks.nonEmpty
      } yield (n, ks)
    }
    partitions.foreach { t =>
      if (t.name != "identity" && t.name != "bucket")
        throw new UnsupportedOperationException(
          s"unsupported partition transform $t — use identity columns and/or bucket(n, cols)")
    }

    val declaredKeys = split(props.getOrElse(GraftCatalog.KeysProp, ""))

    // CREATE TABLE ... TBLPROPERTIES ('graft.location'='/path') registers
    // an EXISTING engine root (the Scala-created corpus) instead of laying
    // out a new one — the SQL face of [[register]]; declared layout, if
    // any, must agree with what the root pinned
    props.get(GraftCatalog.LocationProp).foreach { loc =>
      return register(ident, loc,
        declaredKeys = declaredKeys,
        declaredBuckets = bucketSpec,
        partitionBy = partitionCols,
        statsCols = split(props.getOrElse("graft.statsCols", "")),
        bloomKeyBits = props.getOrElse("graft.bloomKeyBits", "0").toInt,
        sumCols = split(props.getOrElse("graft.sumCols", "")))
    }

    val keys =
      if (declaredKeys.nonEmpty) declaredKeys
      else bucketSpec.map(_._2).getOrElse(Nil) // bucket cols double as keys
    bucketSpec.foreach { case (_, cols) =>
      require(cols.forall(keys.contains),
        s"bucket columns $cols must be graft.keys ($keys) or a subset") }
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"graft.keys column '$k' is not in the table schema"))

    val meta = Map(
      "keys" -> keys.mkString(","),
      "partitionBy" -> partitionCols.mkString(","),
      "bucketCount" -> bucketSpec.map(_._1).getOrElse(0).toString,
      "bucketBy" -> bucketSpec.map(_._2.mkString(",")).getOrElse(""),
      "statsCols" -> props.getOrElse("graft.statsCols", ""),
      "bloomKeyBits" -> props.getOrElse("graft.bloomKeyBits", "0"),
      "sumCols" -> props.getOrElse("graft.sumCols", ""))

    Files.createDirectories(dir)
    writeMeta(dir, meta)
    val kpt = tableFor(ident)
    kpt.createIfNotExists(schema)
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_IS_MANAGED_LOCATION,
      TableCatalog.PROP_TABLE_TYPE)
    val user = props.filterNot { case (k, _) =>
      reserved(k) || k.startsWith("option.") || k.startsWith("graft.") }
    if (user.nonEmpty) kpt.setProperties(user)
    new GraftTable(kpt, fullName(ident), Pin.Current)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val kpt = tableFor(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"nested column add not supported: ${add.fieldNames.mkString(".")}")
        kpt.addColumn(add.fieldNames.head, add.dataType)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"nested column drop not supported: ${del.fieldNames.mkString(".")}")
        kpt.dropColumn(del.fieldNames.head)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"nested column rename not supported: ${ren.fieldNames.mkString(".")}")
        kpt.renameColumn(ren.fieldNames.head, ren.newName)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          s"nested column type change not supported: ${upd.fieldNames.mkString(".")}")
        kpt.widenColumn(upd.fieldNames.head, upd.newDataType)
      case set: TableChange.SetProperty =>
        kpt.setProperties(Map(set.property -> set.value))
      case rm: TableChange.RemoveProperty =>
        kpt.removeProperty(rm.property)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!Files.exists(metaFile(dir))) false
    else {
      // registered external root: DROP removes the pointer, never the data
      // (Iceberg external-table semantics); a warehouse-owned root purges
      if (!readMeta(dir).contains("location")) tableFor(ident).drop()
      deleteRecursively(dir)
      true
    }
  }

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!Files.exists(metaFile(from))) throw new NoSuchTableException(oldIdent)
    val to = tablePath(newIdent)
    if (Files.exists(to)) throw new TableAlreadyExistsException(newIdent)
    if (viewExists(newIdent)) throw new ViewAlreadyExistsException(newIdent)
    // refuse rather than implicitly create the target namespace — the
    // common mistake is catalog-qualifying the RENAME TO target (Spark
    // passes it verbatim, so 'graft.ns.t' would silently become namespace
    // [graft, ns] under THIS catalog)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    Files.move(from, to)
  }

  override def tableExists(ident: Identifier): Boolean =
    Files.exists(metaFile(tablePath(ident)))

  // ---- ProcedureCatalog ----------------------------------------------------
  // CALL graft.system.<proc>(...) — see GraftProcedures for the inventory
  // (the reference's optimize_iceberg_table drives maintenance through
  // exactly these statements, spark_batch.py:421-427)

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(Array("system")))
      throw new RuntimeException(
        s"procedures live in the 'system' namespace: CALL $catalogName.system.<name>(...)")
    GraftProcedures.load(this, ident.name).getOrElse(
      throw new RuntimeException(s"unknown procedure $catalogName.system.${ident.name} " +
        s"(available: ${GraftProcedures.list.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.list.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- ViewCatalog -----------------------------------------------------------
  // CREATE/DROP/SHOW VIEW: a view is its SQL text plus the resolution
  // context Spark captured at CREATE (catalog, namespace, schema, column
  // aliases), persisted as one `<name>.view.properties` FILE beside the
  // table dirs (a file cannot collide with a table's directory). Spark
  // itself re-parses and re-resolves the stored text on every read — the
  // catalog stores, never executes.

  private def viewFile(ident: Identifier): Path = {
    require(validSegment(ident.name), s"invalid view name ${ident.name}")
    nsPath(ident.namespace).resolve(s"${ident.name}.view.properties")
  }

  private def storeArray(p: Properties, key: String, xs: Array[String]): Unit = {
    p.setProperty(s"$key.n", xs.length.toString)
    xs.zipWithIndex.foreach { case (x, i) =>
      if (x != null) p.setProperty(s"$key.$i", x) }
  }

  private def loadArray(p: Properties, key: String): Array[String] = {
    val n = Option(p.getProperty(s"$key.n")).map(_.toInt).getOrElse(0)
    Array.tabulate(n)(i => p.getProperty(s"$key.$i")) // absent -> null
  }

  override def viewExists(ident: Identifier): Boolean = Files.exists(viewFile(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = nsPath(namespace.toArray)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace.toArray)
    val s = Files.list(dir)
    try s.iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".view.properties"))
      .map(n => Identifier.of(namespace.toArray, n.stripSuffix(".view.properties")))
      .toArray
    finally s.close()
  }

  override def createView(info: ViewInfo): View = {
    val f = viewFile(info.ident)
    if (Files.exists(f)) throw new ViewAlreadyExistsException(info.ident)
    // symmetric with createTable's viewExists check: an identifier names a
    // table XOR a view, or loadTable/loadView resolution turns ambiguous
    if (tableExists(info.ident))
      throw new TableAlreadyExistsException(
        (catalogName +: info.ident.namespace() :+ info.ident.name()).toSeq)
    Files.createDirectories(f.getParent)
    val p = new Properties()
    p.setProperty("sql", info.sql)
    p.setProperty("currentCatalog", info.currentCatalog)
    storeArray(p, "currentNamespace", info.currentNamespace)
    p.setProperty("schema", info.schema.json)
    storeArray(p, "queryColumnNames", info.queryColumnNames)
    storeArray(p, "columnAliases", info.columnAliases)
    storeArray(p, "columnComments", info.columnComments)
    info.properties.asScala.foreach { case (k, v) => p.setProperty(s"p.$k", v) }
    val out = new FileOutputStream(f.toFile)
    try p.store(out, null) finally out.close()
    loadView(info.ident)
  }

  override def loadView(ident: Identifier): View = {
    val f = viewFile(ident)
    if (!Files.exists(f)) throw new NoSuchViewException(ident)
    val p = new Properties()
    val in = new FileInputStream(f.toFile)
    try p.load(in) finally in.close()
    val viewName = fullName(ident)
    new View {
      override def name(): String = viewName
      override def query(): String = p.getProperty("sql")
      override def currentCatalog(): String = p.getProperty("currentCatalog")
      override def currentNamespace(): Array[String] = loadArray(p, "currentNamespace")
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson(p.getProperty("schema"))
          .asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = loadArray(p, "queryColumnNames")
      override def columnAliases(): Array[String] = loadArray(p, "columnAliases")
      override def columnComments(): Array[String] = loadArray(p, "columnComments")
      override def properties(): java.util.Map[String, String] =
        p.stringPropertyNames().asScala.collect {
          case k if k.startsWith("p.") => k.stripPrefix("p.") -> p.getProperty(k)
        }.toMap.asJava
    }
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException(
      "ALTER VIEW properties are not stored — CREATE OR REPLACE the view")

  override def dropView(ident: Identifier): Boolean =
    Files.deleteIfExists(viewFile(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new ViewAlreadyExistsException(newIdent)
    Files.createDirectories(viewFile(newIdent).getParent)
    Files.move(viewFile(oldIdent), viewFile(newIdent))
  }

  // ---- SupportsNamespaces --------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val s = Files.list(warehouse)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && !Files.exists(metaFile(p)))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && !Files.exists(metaFile(p)))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
    finally s.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(nsPath(namespace)) &&
      !Files.exists(metaFile(nsPath(namespace)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    val dir = nsPath(namespace)
    if (Files.exists(dir)) throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(dir)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties are not stored")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      val empty = { val s = Files.list(dir); try !s.iterator().hasNext finally s.close() }
      if (!empty && !cascade) throw new NonEmptyNamespaceException(namespace)
      deleteRecursively(dir)
      true
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.deleteIfExists(_))
    }
}

object GraftCatalog {
  /** TBLPROPERTIES key declaring the engine's MERGE key columns. */
  val KeysProp = "graft.keys"
  /** TBLPROPERTIES key registering an existing engine root by path. */
  val LocationProp = "graft.location"
}
