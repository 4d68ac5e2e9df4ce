package graft.sources

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Spark catalog over the manifest warehouse — name resolution for
  * pure SQL, the last UX seam the TVFs left open:
  *
  * {{{
  * spark.sql.extensions      = graft.GraftExtensions
  * spark.sql.catalog.graft   = graft.sources.GraftCatalog
  * spark.sql.catalog.graft.root = /warehouse/base
  *
  * SELECT * FROM graft.wh.orders WHERE o_orderkey < 100
  * INSERT INTO graft.wh.orders SELECT ...
  * CREATE TABLE graft.wh.t (k BIGINT, v STRING)
  * }}}
  *
  * One namespace level = one directory under the configured root, each
  * holding an independent [[Warehouse]]; tables are that warehouse's
  * manifest tables. The split of responsibilities is the Delta Lake
  * shape (catalog for names, extension rule for plans):
  *
  *  - READS: `loadTable` returns a [[GraftTable]] whose schema is the
  *    live snapshot's; the extension's [[graft.plans.CatalogReadRule]]
  *    then splices the warehouse's one V1 read plan (merge-on-read
  *    deletes, auto-skip enrollment, meta-agg collapse — everything
  *    the Scala surface gets) in place of the V2 relation at
  *    analysis. The catalog therefore REQUIRES the extension for
  *    reads, exactly like Delta requires its session extension.
  *  - WRITES: `V1_BATCH_WRITE` + [[V1Write]] route INSERT INTO /
  *    INSERT OVERWRITE / CTAS onto the warehouse's own commit paths
  *    (`append` = O(delta) manifest commit, overwrite =
  *    `atomicPublish`) — Spark's planner does the fallback, no rule
  *    needed.
  *
  * `CREATE TABLE` publishes an empty snapshot of the declared schema
  * (schema lives in parquet footers + manifest, no extra metadata
  * file), which is exactly what makes CTAS = create + append
  * compose. `DROP TABLE` delegates to the warehouse's `dropTable` —
  * MANAGED-table semantics (recursive delete of the table directory:
  * data, manifests, deletion vectors, pointer), the standard
  * lakehouse DROP: a reader holding the dropped snapshot fails
  * loudly on its next file open, never silently.
  *
  * Every namespace/table path resolves through Hadoop `FileSystem`
  * (same as the warehouse itself), so the catalog root may live on
  * any Hadoop scheme — HDFS, S3A, local — not just `file:`.
  */
class GraftCatalog extends CatalogPlugin with TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog {

  private var catName: String = _
  private var initRoot: Option[String] = None
  // access-order LinkedHashMap = true LRU: at capacity the ELDEST
  // entry alone is evicted (a Warehouse is just cached metadata —
  // re-construction is cheap), instead of dropping every live
  // warehouse at once
  private val whCache =
    new java.util.LinkedHashMap[(String, String), Warehouse](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Warehouse]): Boolean =
        size() > 64
    }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initRoot = Option(options.get("root"))
  }

  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  /** The warehouse base dir, read from the LIVE session conf on every
    * use (falling back to the initialize-time option): Spark caches
    * the plugin instance per catalog name for the session's lifetime,
    * so binding the root at initialize would pin the first value
    * forever — a later `SET spark.sql.catalog.<name>.root=...` (or a
    * test/bench re-pointing at a fresh scratch dir) would silently
    * keep serving the old, possibly deleted, location.
    */
  private def root: String =
    spark.conf.getOption(s"spark.sql.catalog.$catName.root")
      .orElse(initRoot).getOrElse(
        throw new IllegalArgumentException(
          s"spark.sql.catalog.$catName.root must point at the warehouse base dir"))

  private def wh(ns: Array[String]): Warehouse = {
    require(ns.length == 1, s"graft catalog namespaces are one level, got ${ns.mkString(".")}")
    val r = root
    whCache.synchronized {
      val key = (r, ns.head)
      Option(whCache.get(key)).getOrElse {
        val w = new Warehouse(spark, s"$r/${ns.head}")
        whCache.put(key, w)
        w
      }
    }
  }

  // ---- namespaces ---------------------------------------------------
  // All through Hadoop FileSystem (resolved per-path, like Warehouse):
  // a java.io.File layer here would silently report an empty catalog
  // the moment the root points at HDFS/S3 — the only home a 100 TB
  // warehouse has.

  private def hadoopFs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def listNamespaces(): Array[Array[String]] = {
    val base = new Path(root)
    val fs = hadoopFs(base)
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory)
      .map(st => Array(st.getPath.getName))
      .filterNot(_.head.startsWith("_")).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && {
      val p = new Path(s"$root/${namespace.head}")
      val fs = hadoopFs(p)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "one namespace level")
    // '_'/'.'-prefixed names collide with warehouse metadata dirs
    // (the Warehouse.tableNames convention) AND would be invisible to
    // listNamespaces' metadata filter — a namespace that exists but
    // never lists. Refuse at create, loudly (r17 advice).
    require(!namespace.head.startsWith("_") && !namespace.head.startsWith("."),
      s"graft namespace names must not start with '_' or '.': " +
      s"'${namespace.head}' collides with warehouse metadata entries")
    val p = new Path(s"$root/${namespace.head}")
    hadoopFs(p).mkdirs(p); ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    val p = new Path(s"$root/${namespace.head}")
    whCache.synchronized { whCache.remove((root, namespace.head)); () }
    hadoopFs(p).delete(p, true)
  }

  // ---- tables -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    wh(namespace).listTables().map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) && wh(ident.namespace).tableExists(ident.name)

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      // a VIEW resolves through the table path on purpose: OSS
      // Spark's relation resolution consults loadTable only (nothing
      // calls ViewCatalog.loadView), so the stored view surfaces as a
      // schema-bearing marker table here and the post-hoc
      // CatalogViewReadRule splices the expanded definition over the
      // resolved relation — the exact mechanism CatalogReadRule uses
      // for real tables.
      val v = wh(ident.namespace).getView(ident.name)
        .map(GraftView.decode(ident, _))
      v match {
        case Some(view) => return new GraftViewTable(this, name(), ident, view)
        case None       => throw new NoSuchTableException(ident)
      }
    }
    new GraftTable(wh(ident.namespace), ident)
  }

  /** Time travel: `SELECT ... FROM graft.<ns>.<t> VERSION AS OF n` —
    * the analyzer routes the versioned table ref here; the returned
    * table's snapshot is `Warehouse.readVersion`, with the same
    * retention contract (current + previous guaranteed; older
    * versions fail loudly once GC'd).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft time travel takes a numeric version, got '$version'"))
    new GraftTable(wh(ident.namespace), ident, Some(v))
  }

  /** `TIMESTAMP AS OF` time travel: Spark hands the instant in
    * MICROseconds; the warehouse resolves it against manifest commit
    * times (immutable-file mtimes, the Delta/Iceberg convention).
    * Failing loudly when every retained commit is newer keeps the
    * contract predictable — same stance as a GC'd `VERSION AS OF`.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val w = wh(ident.namespace)
    val v = w.versionAtTimestamp(ident.name, timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"graft time travel: no retained snapshot of ${ident.name} at or " +
        s"before timestamp ${timestamp}us — history may have been GC'd " +
        "(raise retain_snapshots/retain_ms) or the instant predates the table"))
    new GraftTable(w, ident, Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft catalog supports identity partitioning only, got $other")
    }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    val w = wh(ident.namespace)
    require(w.getView(ident.name).isEmpty,
      s"cannot CREATE TABLE ${ident.name}: a view with that name exists")
    // empty snapshot of the declared schema: the schema's home is the
    // parquet footer + manifest, so CREATE = publish(empty) and CTAS
    // (create + append) composes with zero extra metadata machinery.
    // The empty snapshot is published FLAT even for a partitioned
    // table (zero rows write no hive dirs — an empty partitioned write
    // would record NO schema-bearing file at all); the declared layout
    // lives in the `partition_cols` prop, and every INSERT writes
    // under it (appendEvolved — the flat zero-row vintage is vacuous).
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).coalesce(1)
    w.atomicPublish(ident.name, empty)
    if (partCols.nonEmpty)
      w.setTableProp(ident.name, "partition_cols", partCols.mkString(","))
    properties.asScala.foreach { case (k, v) =>
      if (!k.startsWith("option.") && k != "owner" && k != "provider") {
        requireUserProp(k)
        w.setTableProp(ident.name, k, v)
      }
    }
    new GraftTable(w, ident)
  }

  /** Internal schema/layout bookkeeping keys are NOT a SQL property
    * surface (r17 advice): `UNSET TBLPROPERTIES ('dropped_cols')`
    * would silently resurrect dropped-column values from old files —
    * the exact hazard the re-ADD guard refuses — and SET on
    * `added_cols`/`partition_cols`/`renamed_cols` corrupts the
    * metadata-only schema-evolution and layout accounting. Retention
    * props (`retain_snapshots`/`retain_ms`) stay the supported SQL
    * control surface.
    */
  private def requireUserProp(key: String): Unit = {
    val reserved = Set("partition_cols", "added_cols", "dropped_cols",
      "renamed_cols", "current_version")
    if (reserved.contains(key))
      throw new UnsupportedOperationException(
        s"graft table property '$key' is internal schema/layout " +
        "bookkeeping — it cannot be SET or UNSET via TBLPROPERTIES " +
        "(use ALTER TABLE ADD/DROP/RENAME COLUMN and PARTITIONED BY)")
    if (key.startsWith("constraint_"))
      throw new UnsupportedOperationException(
        s"graft table property '$key' records a CHECK constraint — " +
        "use ALTER TABLE ADD/DROP CONSTRAINT, the surface that also " +
        "validates existing rows")
  }

  /** Catalog-level capability: CHECK constraints are a first-class
    * DDL surface (`ALTER TABLE ... ADD CONSTRAINT ... CHECK (...)`),
    * enforced per-row inside every write's own pass (see
    * Warehouse.addCheckConstraint / constraintGuard).
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** Route a DSv2 constraint onto the warehouse's CHECK store. Only
    * CHECK is accepted: PRIMARY KEY / UNIQUE / FOREIGN KEY are
    * informational in Spark (never enforced), and a constraint this
    * engine would silently not enforce is a lie — refuse loudly.
    */
  private def addConstraint(w: Warehouse, ident: Identifier,
      c: Constraint): Unit = c match {
    case ck: Check =>
      val sql = Option(ck.predicateSql()).filter(_.nonEmpty).getOrElse(
        throw new UnsupportedOperationException(
          s"CHECK constraint ${ck.name} carries no predicate SQL"))
      w.addCheckConstraint(ident.name, ck.name, sql)
    case other => throw new UnsupportedOperationException(
      s"graft enforces CHECK constraints only; ${other.toDDL} is " +
      "informational in Spark and would not be enforced — refusing " +
      "rather than recording a guarantee nothing checks")
  }

  /** ALTER TABLE. Supported changes, each O(metadata):
    *  - ADD COLUMN (top-level, nullable, appended last): recorded in
    *    the `added_cols` prop — the Delta model: adding a column is a
    *    metadata action; reads null-fill until a write materializes
    *    it (GraftTable.snapshot does the fill, so catalog SQL and the
    *    write path agree on the schema from the next analysis on).
    *  - SET/UNSET TBLPROPERTIES: user props only (internal
    *    schema/layout bookkeeping keys are refused loudly) — this is
    *    the SQL control surface for the GC horizon (`retain_snapshots`
    *    / `retain_ms`), making `VERSION AS OF` availability a declared
    *    policy instead of a discovered accident.
    *  - RENAME COLUMN: the `renamed_cols` mapping prop (old files read
    *    through it, new writes use the new name) — no rewrite.
    *  - DROP COLUMN: the `dropped_cols` projection prop (below).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val w = wh(ident.namespace)
    val cur = new GraftTable(w, ident).schema()
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft ALTER TABLE adds top-level columns only")
        require(add.isNullable,
          "added columns must be nullable (existing rows null-fill)")
        require(add.position() == null,
          "graft ALTER TABLE appends columns at the end only")
        require(add.defaultValue() == null,
          "added columns take no DEFAULT (existing rows null-fill)")
        val name = add.fieldNames.head
        require(!cur.fieldNames.contains(name), s"column $name already exists")
        require(!w.tableProp(ident.name, "dropped_cols").exists(
            _.split(',').contains(name)),
          s"column $name was dropped; re-adding it would resurrect old " +
          "values from pre-drop files — pick a new name or rewrite the table")
        require(!w.renameMap(ident.name).exists(_._1 == name),
          s"column $name is the pre-rename physical name of an existing " +
          "column; re-adding it would make old files' bytes ambiguous — " +
          "pick a new name or rewrite the table")
        val prev = w.tableProp(ident.name, "added_cols")
          .map(StructType.fromDDL).getOrElse(new StructType())
        val next = prev.add(name, add.dataType(), nullable = true)
        w.setTableProp(ident.name, "added_cols", next.toDDL)
      case set: TableChange.SetProperty =>
        requireUserProp(set.property)
        w.setTableProp(ident.name, set.property, set.value)
      case rm: TableChange.RemoveProperty =>
        requireUserProp(rm.property)
        w.setTableProp(ident.name, rm.property, "")
      // DROP COLUMN is a metadata action too (the `dropped_cols`
      // prop): reads project the column away; files keep their bytes
      // (storage is reclaimed by the next full rewrite, same as
      // Delta without column mapping). Partition columns are layout,
      // not data — refuse. Re-ADDing a dropped name is refused as
      // well: old files still hold the physical values, and a re-add
      // would silently resurrect them instead of reading null.
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft ALTER TABLE drops top-level columns only")
        val name = del.fieldNames.head
        require(cur.fieldNames.contains(name), s"no such column: $name")
        val parts = w.tableProp(ident.name, "partition_cols")
          .map(_.split(',').toSeq).getOrElse(Nil)
        require(!parts.contains(name),
          s"cannot drop partition column $name")
        val added = w.tableProp(ident.name, "added_cols")
          .map(StructType.fromDDL).getOrElse(new StructType())
        if (added.fieldNames.contains(name))
          w.setTableProp(ident.name, "added_cols",
            StructType(added.fields.filterNot(_.name == name)).toDDL)
        val dropped = w.tableProp(ident.name, "dropped_cols")
          .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        w.setTableProp(ident.name, "dropped_cols",
          (dropped :+ name).distinct.mkString(","))
      // RENAME COLUMN is a metadata action too (the `renamed_cols`
      // prop, Delta column-mapping lite): old files keep the physical
      // name, every per-version scan maps old→new at read
      // (Warehouse.readFiles), new writes carry the new name
      // natively. Chains compose here (a→b then b→c stores a:c;
      // renaming back to the original drops the identity pair).
      // Partition columns are layout — refuse; a new name colliding
      // with a dropped column's physical bytes — refuse.
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "graft ALTER TABLE renames top-level columns only")
        val from = rn.fieldNames.head
        val to = rn.newName()
        require(cur.fieldNames.contains(from), s"no such column: $from")
        require(!cur.fieldNames.contains(to), s"column $to already exists")
        val parts = w.tableProp(ident.name, "partition_cols")
          .map(_.split(',').toSeq).getOrElse(Nil)
        require(!parts.contains(from),
          s"cannot rename partition column $from (layout, not data)")
        require(!w.tableProp(ident.name, "dropped_cols").exists(
            _.split(',').contains(to)),
          s"column $to was dropped; renaming onto it would collide with " +
          "pre-drop files' physical bytes — pick another name")
        // prop-added column: rename its declared entry so the
        // null-fill uses the new name (the mapping still covers any
        // files that materialized it under the old name)
        val added = w.tableProp(ident.name, "added_cols")
          .map(StructType.fromDDL).getOrElse(new StructType())
        if (added.fieldNames.contains(from))
          w.setTableProp(ident.name, "added_cols",
            StructType(added.fields.map(f =>
              if (f.name == from) f.copy(name = to) else f)).toDDL)
        // EVERY historical physical name must map to the current one:
        // files written during an intermediate epoch carry that
        // epoch's name, so a→b→c keeps BOTH a:c and b:c (collapsing
        // to a:c alone would orphan the b-named files' bytes).
        // Renaming back to a historical name drops its identity pair.
        val prev = w.renameMap(ident.name)
        val composed =
          prev.map { case (o, n) => if (n == from) (o, to) else (o, n) } :+
            (from -> to)
        w.setTableProp(ident.name, "renamed_cols",
          composed.filter { case (o, n) => o != n }.distinct
            .map { case (o, n) => s"$o:$n" }.mkString(","))
      case ac: TableChange.AddConstraint =>
        addConstraint(w, ident, ac.constraint())
      case dc: TableChange.DropConstraint =>
        val have = w.checkConstraints(ident.name).exists(_._1 == dc.name)
        if (!have && !dc.ifExists)
          throw new IllegalArgumentException(
            s"no such constraint on ${ident.name}: ${dc.name}")
        w.dropCheckConstraint(ident.name, dc.name)
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE does not support $other")
    }
    new GraftTable(w, ident)
  }

  /** CREATE TABLE with inline constraints (the TableInfo entry point —
    * the 4-arg default would silently DROP them): create through the
    * ordinary path, then register each constraint against the
    * still-empty table (validation is vacuous; non-CHECK kinds refuse
    * loudly before any metadata lands).
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    info.constraints().foreach {
      case _: Check => ()
      case other => throw new UnsupportedOperationException(
        s"graft enforces CHECK constraints only; ${other.toDDL} is " +
        "informational in Spark and would not be enforced")
    }
    val t = createTable(ident,
      StructType(info.columns().map(c =>
        org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable))),
      info.partitions(), info.properties())
    val w = wh(ident.namespace)
    info.constraints().foreach(addConstraint(w, ident, _))
    t
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && { wh(ident.namespace).dropTable(ident.name); true }

  // ---- views (Spark 4.1 ViewCatalog) ---------------------------------
  //
  // `CREATE VIEW graft.ns.v AS SELECT ...` / SELECT through it / SHOW
  // VIEWS / ALTER VIEW SET TBLPROPERTIES / RENAME / DROP. A view is
  // pure METADATA — the SQL text plus the name-resolution context it
  // was authored in (catalog + namespace, so `FROM orders` inside the
  // text keeps meaning the same table wherever the view is read from)
  // plus the authored-time schema for Spark's schema-binding checks.
  // Stored one small file per view in the namespace's `_VIEWS/` dir
  // (Warehouse.putView — create-no-overwrite, the commit discipline
  // at view scale); expansion is Spark's own view resolution, so every
  // graft read optimization applies to the expanded plan unchanged.

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    wh(ns).listViews().map(v => Identifier.of(ns, v)).toArray
  }

  override def loadView(ident: Identifier): View = {
    val content = wh(ident.namespace).getView(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    GraftView.decode(ident, content)
  }

  override def viewExists(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) &&
      wh(ident.namespace).getView(ident.name).isDefined

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    require(!tableExists(ident),
      s"cannot CREATE VIEW ${ident.name}: a table with that name exists")
    if (!wh(ident.namespace).putView(ident.name, GraftView.encode(info),
        replace = false))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident).asInstanceOf[GraftView]
    val props = changes.foldLeft(v.props) {
      case (p, s: ViewChange.SetProperty)    => p + (s.property -> s.value)
      case (p, r: ViewChange.RemoveProperty) => p - r.property
      case (_, other) => throw new UnsupportedOperationException(
        s"graft ALTER VIEW does not support $other")
    }
    wh(ident.namespace).putView(ident.name,
      GraftView.encode(v.copy(props = props)), replace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    namespaceExists(ident.namespace) && wh(ident.namespace).dropView(ident.name)

  override def renameView(from: Identifier, to: Identifier): Unit = {
    require(from.namespace.sameElements(to.namespace),
      "graft RENAME VIEW stays within one namespace")
    if (!viewExists(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    if (viewExists(to) || tableExists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    wh(from.namespace).renameView(from.name, to.name)
  }

  // ---- procedures (CALL graft.system.<proc>) -------------------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, ns => wh(Array(ns)))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    // `RENAME TO` identifiers arrive verbatim: accept the bare table
    // name, the same namespace, or the fully-qualified spelling with
    // this catalog's own name prefixed (`ALTER TABLE graft.ns.a RENAME
    // TO graft.ns.b`) — anything else would cross warehouse roots
    val ns = newIdent.namespace
    val sameNs = ns.isEmpty || ns.sameElements(oldIdent.namespace) ||
      (ns.length == oldIdent.namespace.length + 1 && ns.head == catName &&
        ns.drop(1).sameElements(oldIdent.namespace))
    require(sameNs,
      "graft RENAME stays within one namespace (one warehouse root); got " +
      s"${oldIdent} -> ${newIdent}")
    wh(oldIdent.namespace).renameTable(oldIdent.name, newIdent.name)
  }
}

/** One warehouse table as a DSv2 `Table`. The read path never executes
  * through this object — [[graft.plans.CatalogReadRule]] splices
  * `snapshot` (the full V1 read plan) over the V2 relation at
  * analysis — so the only live surfaces are `schema` (the snapshot's)
  * and the V1 write builder.
  */
final class GraftTable(val wh: Warehouse, ident: Identifier,
    version: Option[Long] = None)
    extends Table with SupportsWrite with TruncatableTable {

  /** `TRUNCATE TABLE graft.ns.t`: publish an empty snapshot of the
    * current schema — a normal commit (time travel to the pre-truncate
    * version still works within retention), not a file purge.
    */
  override def truncateTable(): Boolean = {
    wh.atomicPublish(ident.name, snapshot.limit(0))
    true
  }

  /** Declared CHECK constraints, surfaced to the analyzer (DESCRIBE,
    * and Spark's own DSv2 write-side CheckInvariant planning — the
    * warehouse's writeVersion guard stays the single enforcement
    * authority either way).
    */
  override def constraints(): Array[Constraint] =
    wh.checkConstraints(ident.name).map { case (cn, sql) =>
      Constraint.check(cn).predicateSql(sql).build(): Constraint
    }.toArray

  /** Declared hive layout (partitioned CREATE TABLE), if any. */
  private def partCols: Seq[String] =
    wh.tableProp(ident.name, "partition_cols")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** The table's snapshot read — current, or the `VERSION AS OF`
    * manifest — built once per loadTable (= once per query analysis):
    * schema truth AND the plan the read rule splices. Analysis-time
    * snapshot semantics, same contract as the TVFs. Columns added by
    * `ALTER TABLE ADD COLUMN` (the `added_cols` prop — a metadata
    * action, Delta-style) are null-filled here until some write
    * materializes them, so schema() and the spliced read plan agree
    * by construction. The fill applies to versioned reads too: a
    * pre-ALTER snapshot shows the column as all-null rather than
    * re-deriving a per-version schema — documented, not accidental.
    */
  lazy val snapshot: DataFrame = {
    val base =
      version.map(wh.readVersion(ident.name, _)).getOrElse(wh.read(ident.name))
    val withAdded = wh.tableProp(ident.name, "added_cols")
      .map(StructType.fromDDL).map { st =>
        st.fields.filterNot(f => base.columns.contains(f.name))
          .foldLeft(base)((d, f) => d.withColumn(f.name,
            org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      }.getOrElse(base)
    // DROP COLUMN projection (metadata drop): files keep the bytes,
    // every read path through the catalog projects them away
    wh.tableProp(ident.name, "dropped_cols")
      .map(_.split(',').toSeq.filter(_.nonEmpty))
      .map(ds => withAdded.drop(ds: _*)).getOrElse(withAdded)
  }

  override def name(): String = ident.toString
  /** The bare warehouse table name (the namespace IS the warehouse). */
  private[graft] def bareName: String = ident.name()
  override def schema(): StructType = snapshot.schema
  override def partitioning(): Array[Transform] =
    partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray

  /** Reported properties: the declared layout plus the snapshot-GC
    * horizon — `retain_snapshots`/`retain_ms` surface here (and via
    * SHOW TBLPROPERTIES) so `VERSION AS OF` availability is a policy
    * a user can READ, not an accident discovered at failure time.
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (partCols.nonEmpty) m.put("partition_cols", partCols.mkString(","))
    Seq("retain_snapshots", "retain_ms", "added_cols", "dropped_cols").foreach(k =>
      wh.tableProp(ident.name, k).foreach(v => m.put(k, v)))
    wh.currentVersion(ident.name).foreach(v =>
      m.put("current_version", v.toString))
    m
  }

  /** AUTOMATIC_SCHEMA_EVOLUTION: opts into the analyzer's
    * `ResolveMergeIntoSchemaEvolution` for `MERGE ... WITH SCHEMA
    * EVOLUTION` — Spark computes the schema diff and drives it through
    * [[GraftCatalog.alterTable]]'s metadata-only AddColumn path (so
    * the re-ADD-of-a-dropped-column refusal and the top-level/nullable
    * guards apply to evolution too), then re-expands the star
    * assignments against the widened schema.
    */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.BATCH_READ,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ow: Boolean): Unit = {
              val parts = partCols
              if (overwrite || ow) wh.atomicPublish(ident.name, data, parts)
              // declared-layout tables write hive dirs EXPLICITLY
              // (appendEvolved): plain append is layout-preserving
              // from the head file, and the CREATE-time empty
              // snapshot's head is flat
              else if (parts.nonEmpty) wh.appendEvolved(ident.name, data, parts)
              else wh.append(ident.name, data)
            }
          }
      }
    }
}

/** A stored view definition (Spark 4.1 [[ViewCatalog]] `View`). The
  * wire format is one `key<TAB>base64(value)` line per field — base64
  * because the SQL text and schema JSON carry arbitrary characters;
  * lists join on U+0001 with U+0000 as the null sentinel (column
  * comments may be null per position).
  */
final case class GraftView(viewName: String, sql: String, cat: String,
    ns: Array[String], viewSchema: StructType, queryCols: Array[String],
    aliases: Array[String], comments: Array[String],
    props: Map[String, String]) extends View {
  override def name(): String = viewName
  override def query(): String = sql
  override def currentCatalog(): String = cat
  override def currentNamespace(): Array[String] = ns
  override def schema(): StructType = viewSchema
  override def queryColumnNames(): Array[String] = queryCols
  override def columnAliases(): Array[String] = aliases
  override def columnComments(): Array[String] = comments
  override def properties(): util.Map[String, String] = props.asJava
}

object GraftView {
  private val Sep = "\u0001"
  private val Nul = "\u0000"
  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
  private def packList(a: Array[String]): String =
    b64(Option(a).getOrElse(Array.empty[String])
      .map(x => if (x == null) Nul else x).mkString(Sep))
  private def unpackList(s: String): Array[String] = {
    val raw = unb64(s)
    if (raw.isEmpty) Array.empty
    else raw.split(Sep, -1).map(x => if (x == Nul) null else x)
  }

  private def encodeFields(sql: String, cat: String, ns: Array[String],
      schema: StructType, queryCols: Array[String], aliases: Array[String],
      comments: Array[String], props: Seq[(String, String)]): String = Seq(
    "sql" -> b64(sql),
    "catalog" -> b64(Option(cat).getOrElse("")),
    "namespace" -> packList(ns),
    "schema" -> b64(schema.json),
    "query_cols" -> packList(queryCols),
    "aliases" -> packList(aliases),
    "comments" -> packList(comments),
    "props" -> packList(props.sortBy(_._1)
      .flatMap { case (k, v) => Seq(k, v) }.toArray)
  ).map { case (k, v) => s"$k\t$v" }.mkString("\n")

  def encode(info: ViewInfo): String =
    encodeFields(info.sql, info.currentCatalog, info.currentNamespace,
      info.schema, info.queryColumnNames, info.columnAliases,
      info.columnComments, info.properties.asScala.toSeq)

  def encode(v: GraftView): String =
    encodeFields(v.sql, v.cat, v.ns, v.viewSchema, v.queryCols, v.aliases,
      v.comments, v.props.toSeq)

  def decode(ident: Identifier, content: String): GraftView = {
    val kv = content.split('\n').filter(_.contains('\t')).map { l =>
      val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1)
    }.toMap
    def req(k: String): String = kv.getOrElse(k,
      throw new IllegalStateException(
        s"corrupt view definition for ${ident.name}: missing '$k'"))
    GraftView(
      viewName = ident.name,
      sql = unb64(req("sql")),
      cat = unb64(req("catalog")),
      ns = unpackList(req("namespace")),
      viewSchema = org.apache.spark.sql.types.DataType.fromJson(
        unb64(req("schema"))).asInstanceOf[StructType],
      queryCols = unpackList(req("query_cols")),
      aliases = unpackList(req("aliases")),
      comments = unpackList(req("comments")),
      props = unpackList(req("props")).grouped(2).collect {
        case Array(k, v) => k -> v
      }.toMap)
  }
}

/** Marker `Table` a stored VIEW resolves to (see GraftCatalog
  * .loadTable): schema = the authored view schema, no read/write
  * capability of its own — `plans.CatalogViewReadRule` replaces the
  * resolved relation with the expanded definition before any physical
  * planning, and a write aimed at it fails on the missing capability,
  * which is the correct loud answer for INSERT-into-view.
  */
final class GraftViewTable(val catalog: GraftCatalog, val catalogName: String,
    val ident: Identifier, val view: GraftView) extends Table {
  override def name(): String = s"$catalogName.${ident.namespace.mkString(".")}.${ident.name}"
  override def schema(): StructType = view.viewSchema
  override def capabilities(): util.Set[TableCapability] =
    util.Collections.emptySet()
  override def properties(): util.Map[String, String] = view.properties()
}
