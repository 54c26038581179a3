package graft.sources

import java.io.File
import java.util

import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** TableCatalog over GraftStore tables — the piece that turns the
  * connector pair into a full catalog citizen: after
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root = /some/dir
  * }}}
  *
  * plain SQL drives the whole lifecycle — `CREATE TABLE graft.t (…)`,
  * `CREATE TABLE graft.t AS SELECT …`, `INSERT INTO graft.t …`,
  * `SELECT … FROM graft.t`, `DROP/ALTER-less RENAME` — with reads and
  * writes going through GraftStoreTable's scan/write builders and their
  * manifest-pointer commit protocol (exactly-once, atomic swap, GC).
  *
  * Layout: a table named `graft.ns….name` lives at `root/ns…/name`; a
  * directory IS a table iff it holds a `_manifest` (whose first line is
  * the schema, so the catalog needs no metastore — the storage is the
  * metadata, the same stance Iceberg/Delta take at 100 TB where a
  * central metastore RPC per task is the scaling anti-pattern).
  * `createTable` materializes an EMPTY manifest atomically, so a crashed
  * create can never leave a half-table visible; `dropTable` removes the
  * manifest first (readers instantly see no table) and then the data.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
  with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.ViewCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = _
  private var root: String = _

  // ---------------------------------------------------------------- views

  /** ViewCatalog half (round 13): `CREATE VIEW cat.v AS SELECT …`
    * through Spark 4's native ViewCatalog API. Storage follows the
    * catalog's storage-is-the-metadata stance: a view named
    * `cat.ns….name` is a directory holding ONE `_view` sidecar (java
    * Properties: the SQL text, the capture-time catalog/namespace the
    * analyzer re-resolves against, the declared schema DDL, column
    * lineage arrays, user properties), written atomically (tmp + MOVE)
    * so a crashed create never leaves a half-view visible. A directory
    * is a table iff `_manifest`, a view iff `_view` — the two can never
    * alias. Views are SQL-over-tables: zero data, zero refresh cost;
    * the 100 TB story is that a view ships the QUERY to the data. */
  private val ViewFileName = "_view"
  // unit-separator joins for the string-array view fields (cannot occur
  // in identifiers or SQL text the analyzer produced)
  private val SEP: Char = 31.toChar
  private def isView(dir: File): Boolean = new File(dir, ViewFileName).isFile

  private def writeViewProps(dir: File,
      p: java.util.Properties): Unit = {
    java.nio.file.Files.createDirectories(dir.toPath)
    val tmp = new File(dir, s".view.tmp.${java.util.UUID.randomUUID()}")
    val out = new java.io.FileOutputStream(tmp)
    try p.store(out, null) finally out.close()
    java.nio.file.Files.move(tmp.toPath,
      new File(dir, ViewFileName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def readViewProps(dir: File): java.util.Properties = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(new File(dir, ViewFileName))
    try p.load(in) finally in.close()
    p
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = new File((root +: namespace).mkString(File.separator))
    Option(ns.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && isView(f))
      .map(f => Identifier.of(namespace.toArray, f.getName))
      .sortBy(_.name())
  }

  override def viewExists(ident: Identifier): Boolean = isView(dirFor(ident))

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    val dir = dirFor(ident)
    if (!isView(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val p = readViewProps(dir)
    def arr(k: String): Array[String] = {
      val v = p.getProperty(k, "")
      if (v.isEmpty) Array.empty else v.split(SEP)
    }
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = ident.toString
      override def query(): String = p.getProperty("sql")
      override def currentCatalog(): String = p.getProperty("catalog")
      override def currentNamespace(): Array[String] = arr("namespace")
      override def schema(): StructType =
        StructType.fromDDL(p.getProperty("schema"))
      override def queryColumnNames(): Array[String] = arr("qcols")
      override def columnAliases(): Array[String] = arr("aliases")
      override def columnComments(): Array[String] = arr("comments")
      override def properties(): util.Map[String, String] = {
        val m = new util.HashMap[String, String]()
        p.stringPropertyNames().forEach { k =>
          if (k.startsWith("prop.")) m.put(k.stripPrefix("prop."), p.getProperty(k))
        }
        m
      }
    }
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val dir = dirFor(info.ident())
    if (isView(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident())
    require(!isTable(dir), s"${info.ident()} already exists as a TABLE")
    val p = new java.util.Properties()
    p.setProperty("sql", info.sql())
    p.setProperty("catalog", info.currentCatalog())
    p.setProperty("namespace", info.currentNamespace().mkString(SEP.toString))
    p.setProperty("schema", info.schema().toDDL)
    p.setProperty("qcols", info.queryColumnNames().mkString(SEP.toString))
    p.setProperty("aliases", info.columnAliases().mkString(SEP.toString))
    p.setProperty("comments", info.columnComments().mkString(SEP.toString))
    info.properties().forEach((k, v) => p.setProperty(s"prop.$k", v))
    writeViewProps(dir, p)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    val dir = dirFor(ident)
    if (!isView(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val p = readViewProps(dir)
    changes.foreach {
      case sp: org.apache.spark.sql.connector.catalog.ViewChange.SetProperty =>
        p.setProperty(s"prop.${sp.property()}", sp.value())
      case rp: org.apache.spark.sql.connector.catalog.ViewChange.RemoveProperty =>
        p.remove(s"prop.${rp.property()}")
      case other => throw new IllegalArgumentException(
        s"unsupported view change: $other")
    }
    writeViewProps(dir, p)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    if (!isView(dir)) return false
    new File(dir, ViewFileName).delete()
    dir.delete() // only removes if now empty — never data
    true
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val src = dirFor(from)
    if (!isView(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    val dst = dirFor(to)
    if (isView(dst))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    require(!isTable(dst), s"$to already exists as a TABLE")
    java.nio.file.Files.createDirectories(dst.toPath.getParent)
    java.nio.file.Files.move(src.toPath, dst.toPath)
  }

  /** ProcedureCatalog half (Spark 4's native `CALL` statement): the
    * table-maintenance surface — purge_deletes / restore / compact /
    * expire_snapshots — resolved from any namespace (`system` by
    * convention), each the SQL face of an audited GraftStore primitive.
    * See [[GraftProcedures]]. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(namespace, n)).toArray
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(ident, root)

  /** FunctionCatalog half (the Iceberg SparkFunctions pattern): exposes
    * the functions the engine's transforms need resolved — `bucket`
    * (write-distribution exchange key + SPJ canonical-name comparison)
    * and the temporal family `days`/`hours`/`months`/`years` (the
    * derived SORT key a non-final transform term of a composite spec
    * demands, see GraftStoreWrite.requiredOrdering). Resolved from any
    * namespace depth (transform resolution probes the empty
    * namespace). */
  private val temporalFns = Set("days", "hours", "months", "years")
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    ("bucket" +: temporalFns.toSeq.sorted)
      .map(Identifier.of(namespace, _)).toArray
  override def loadFunction(ident: Identifier): UnboundFunction = {
    val n = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (n == "bucket") new GraftBucketUnbound
    else if (temporalFns.contains(n)) new GraftTemporalUnbound(n)
    else throw new NoSuchFunctionException(ident)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null, s"catalog $name requires spark.sql.catalog.$name.root")
  }
  override def name(): String = catalogName

  /** Resolve a table identifier to its on-disk path — the handle the
    * `table_changes` TVF rule needs to open a change-feed read on the
    * same directory the catalog serves. Fails like loadTable on a
    * missing table. */
  private[graft] def tablePath(ident: Identifier): String = {
    val dir = dirFor(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    dir.getPath
  }

  /** root/ns…/name with traversal-proof segments. */
  private def dirFor(ident: Identifier): File = {
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.foreach(p => require(!p.contains("/") && !p.contains("\\") &&
      p != ".." && p.nonEmpty, s"illegal identifier segment: $p"))
    new File((root +: parts).mkString(File.separator))
  }
  private def isTable(dir: File): Boolean =
    new File(dir, GraftStore.ManifestName).isFile

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new File((root +: namespace.toSeq).mkString(File.separator))
    Option(ns.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && isTable(f) && !f.getName.startsWith("."))
      .map(f => Identifier.of(namespace, f.getName))
      .sortBy(_.name())
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style METADATA TABLES: `SELECT * FROM cat.`t$snapshots``
    // (version/n_files/n_rows per retained snapshot), `t$files` (the
    // current manifest's per-file entries), `t$partitions` (files and
    // live rows per partition-value tuple, re-proven from per-file stats
    // — see [[GraftStore.partitionRows]]), `t$refs` (tags) and
    // `t$deletes` (live position vectors + equality deletes — the
    // purge-scheduling dashboard) and `t$manifests` (round 18: the
    // current snapshot's manifest layout — one row per child manifest
    // with its entry count, live rows and partition-cell tag; one
    // `(inline)` row for an unsharded table). Driver-side metadata
    // walks by construction — one small file read per snapshot, zero
    // data I/O ($manifests reads the parent's ChildRef lines only).
    ident.name().split('$') match {
      case Array(base, kind @ ("snapshots" | "files" | "partitions" | "refs" | "deletes" | "branches" | "manifests")) =>
        val dir = dirFor(Identifier.of(ident.namespace(), base))
        if (!isTable(dir)) throw new NoSuchTableException(ident)
        return new GraftMetadataTable(dir.getPath, ident.toString, kind)
      case _ =>
    }
    val dir = dirFor(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val schema = GraftStore.snapshot(GraftStore.manifestFile(dir.getPath, None)).get.schema
    new GraftStoreTable(dir.getPath, schema, None, None, None, None,
      partitionBy = GraftStore.readPartitionBy(dir.getPath))
  }

  /** `SELECT … FROM graft.t VERSION AS OF <n>` — time travel lands here;
    * the returned table scans the retained `_manifest.v<n>` snapshot
    * (same format, same stats and file skipping — only the pointer
    * differs) and refuses writes. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirFor(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // `VERSION AS OF 'audit-q1'`: a non-numeric version string is a TAG
    // name resolved against the table's _refs/ (the Iceberg surface
    // where VERSION AS OF accepts a ref name)
    val v = GraftStore.resolveVersionSpec(dir.getPath, version)
    val schema = GraftStore.snapshot(GraftStore.manifestFile(dir.getPath, Some(v)))
      .getOrElse(throw new NoSuchTableException(ident)).schema
    new GraftStoreTable(dir.getPath, schema, None, None, None, None, Some(v))
  }

  /** `SELECT … FROM graft.t TIMESTAMP AS OF <t>` — Spark hands the
    * timestamp in MICROseconds; it resolves to the latest snapshot whose
    * `!ts=` commit time is at or before it (the Iceberg/Delta rule),
    * then reads exactly like VERSION AS OF. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirFor(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = GraftStore.versionAsOfTimestamp(dir.getPath, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of $ident committed at or before timestamp " +
          s"${timestamp}us — the table's retained history starts later"))
    loadTable(ident, v.toString)
  }

  /** `PARTITIONED BY (...)` — identity columns and MONOTONE hidden
    * transforms (`days(ts)`, `truncate(w, col)`), any mix. The spec is
    * table-constant, stored once in the `_partition` sibling (written
    * BEFORE the manifest, so it is never observable without the table);
    * writes then demand clustering + ordering on each term's SOURCE
    * column and ROLL a new data file at each derived-value change, so
    * every manifest entry is single-valued on each term by construction
    * — partition pruning is ordinary stats skipping ON THE SOURCE
    * COLUMN (the Iceberg hidden-partitioning contract: the user filters
    * on `ts`, never on a derived day value) and dropping a whole
    * partition is a metadata-only DELETE. Bucket transforms are refused
    * loudly: they are not monotone in their source, so source-ordered
    * input is not bucket-contiguous and the rolling write cannot prove
    * single-valued files without a derived-value exchange key. */
  /** Map Spark's Transform[] to the `_partition` term-list spec (shared
    * by CREATE TABLE and the staged CTAS/RTAS path). */
  private def partitionSpecOf(schema: StructType,
      partitions: Array[Transform]): Option[String] = {
    def srcOf(t: Transform): String = {
      require(t.references().length == 1, s"transform $t must reference one column")
      val ref = t.references()(0).fieldNames()
      require(ref.length == 1 && schema.fieldNames.contains(ref.head),
        s"partition column ${ref.mkString(".")} must be a top-level table column")
      require(!ref.head.contains(",") && !ref.head.contains("(") &&
        !ref.head.contains(")"),
        s"partition column ${ref.head} must not contain ',', '(' or ')'")
      ref.head
    }
    partitions.toSeq match {
      case Seq() => None
      case ts =>
        // comma-joined term list in the `_partition` sibling; split (top
        // level only — trunc carries an internal comma) at every use site
        val terms = ts.map { t =>
          t.name().toLowerCase(java.util.Locale.ROOT) match {
            case "identity" => srcOf(t)
            case "days" =>
              val c = srcOf(t)
              val dt = schema.fields(schema.fieldIndex(c)).dataType
              require(dt == org.apache.spark.sql.types.TimestampType ||
                dt == org.apache.spark.sql.types.TimestampNTZType ||
                dt == org.apache.spark.sql.types.DateType,
                s"days($c) needs a timestamp/date column, got $dt")
              s"days($c)"
            case "hours" =>
              val c = srcOf(t)
              val dt = schema.fields(schema.fieldIndex(c)).dataType
              require(dt == org.apache.spark.sql.types.TimestampType ||
                dt == org.apache.spark.sql.types.TimestampNTZType,
                s"hours($c) needs a timestamp column, got $dt")
              s"hours($c)"
            case "months" =>
              val c = srcOf(t)
              val dt = schema.fields(schema.fieldIndex(c)).dataType
              require(dt == org.apache.spark.sql.types.TimestampType ||
                dt == org.apache.spark.sql.types.TimestampNTZType ||
                dt == org.apache.spark.sql.types.DateType,
                s"months($c) needs a timestamp/date column, got $dt")
              s"months($c)"
            case "years" =>
              val c = srcOf(t)
              val dt = schema.fields(schema.fieldIndex(c)).dataType
              require(dt == org.apache.spark.sql.types.TimestampType ||
                dt == org.apache.spark.sql.types.TimestampNTZType ||
                dt == org.apache.spark.sql.types.DateType,
                s"years($c) needs a timestamp/date column, got $dt")
              s"years($c)"
            case "truncate" | "trunc" =>
              val c = srcOf(t)
              val dt = schema.fields(schema.fieldIndex(c)).dataType
              require(dt == org.apache.spark.sql.types.StringType ||
                dt == org.apache.spark.sql.types.IntegerType ||
                dt == org.apache.spark.sql.types.LongType,
                s"truncate over $c needs a string/int/long column, got $dt")
              val w = t.arguments().collectFirst {
                case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value().isInstanceOf[Number] =>
                  l.value().asInstanceOf[Number].intValue()
              }.getOrElse(throw new IllegalArgumentException(
                s"truncate needs an integer width argument: $t"))
              require(w > 0, s"truncate width must be positive, got $w")
              s"trunc($w,$c)"
            case "bucket" =>
              val c = srcOf(t)
              val dt = schema.fields(schema.fieldIndex(c)).dataType
              require(dt == org.apache.spark.sql.types.IntegerType ||
                dt == org.apache.spark.sql.types.LongType,
                s"bucket over $c needs an int/long column, got $dt")
              val n = t.arguments().collectFirst {
                case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value().isInstanceOf[Number] =>
                  l.value().asInstanceOf[Number].intValue()
              }.getOrElse(throw new IllegalArgumentException(
                s"bucket needs an integer bucket-count argument: $t"))
              require(n > 0, s"bucket count must be positive, got $n")
              s"bucket($n,$c)"
            case other => throw new UnsupportedOperationException(
              "graft catalog tables support identity, years, months, days, " +
                s"hours, truncate and bucket partition transforms (got $other in ${ts.mkString(", ")})")
          }
        }
        val sources = ts.map(srcOf)
        require(sources.distinct.size == sources.size,
          s"duplicate partition source columns: ${sources.mkString(", ")}")
        Some(terms.mkString(","))
    }
  }

  /** TBLPROPERTIES('sortBy') — the write-order dial (see createTable). */
  private def sortByOf(schema: StructType,
      properties: util.Map[String, String]): Option[String] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("sortBy") => v
    }.map { c =>
      require(schema.fieldNames.contains(c),
        s"sortBy column $c must be a table column")
      c
    }
  }

  /** Persisted `_props` dials (write.mode; `check.<name>` constraints
    * round 15). A check property is validated for enforceability at
    * DDL time (must analyze against the schema and translate to a
    * stats-provable v1 filter) so an impossible constraint fails at
    * CREATE/ALTER, never at first write. */
  private def persistedPropsOf(schema: StructType,
      properties: util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val writeMode = properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("write.mode") => v
    }
    writeMode.foreach(m => require(
      m == "copy-on-write" || m == "merge-on-read",
      s"write.mode must be copy-on-write or merge-on-read, got $m"))
    val checks = properties.asScala.filter(_._1.startsWith("check.")).toMap
    checks.foreach { case (k, v) =>
      GraftStore.checkFilterOf(org.apache.spark.sql.SparkSession.active,
        schema, k, v)
    }
    writeMode.map(m => "write.mode" -> m).toMap ++ checks
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val partitionBy = partitionSpecOf(schema, partitions)
    val dir = dirFor(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    dir.mkdirs()
    partitionBy.foreach(c => java.nio.file.Files.write(
      new File(dir, GraftStore.PartitionFileName).toPath,
      c.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // TBLPROPERTIES('sortBy'='col'): the CTAS write demands this as the
    // secondary sort within each partition value — the writer then
    // VERIFIES the order per file and records ColStats.mono, which is
    // what the scan's reported ordering is proven from (the property
    // itself persists nothing: unsorted later appends simply write
    // files without the flag and the advertisement degrades)
    val sortBy = sortByOf(schema, properties)
    // persisted table properties (the `_props` sibling): write-path dials
    // only — `write.mode=merge-on-read` routes DML through the deletion-
    // vector delta path; no reader correctness ever depends on a property
    GraftStore.writeProps(dir.getPath, persistedPropsOf(schema, properties))
    // an empty manifest IS the table: created atomically, never half-visible
    // (base 0: a racing CREATE on the same ident conflicts on the v1 claim)
    GraftStore.commit(dir.getPath, GraftStore.Manifest(schema))(_.copy(op = "create"))
    new GraftStoreTable(dir.getPath, schema, None, sortBy, None, None,
      partitionBy = partitionBy)
  }

  // ------------------------------------------------- staged CTAS / RTAS

  /** StagingTableCatalog (round 13) — ATOMIC `CREATE TABLE … AS SELECT`
    * and `[CREATE OR] REPLACE TABLE … AS SELECT`. Without this Spark
    * falls back to drop-then-create-then-write: a crash mid-write leaves
    * a dropped or half-written table, and a concurrent reader can see
    * the gap. The staged protocol writes the SELECT into a hidden
    * scratch table under `root/.staging/`, then publishes in ONE atomic
    * step — and the REPLACE publish is deliberately NOT a directory
    * swap: it commits the scratch's (schema, files) as a NEW VERSION of
    * the existing table (op=replace, hard-linked files, equality
    * deletes cleared), so the replace itself lands in the history and
    * time travel to pre-replace snapshots keeps working — the
    * storage-format take on RTAS that a swap-based implementation
    * cannot give. A fresh CREATE publishes by one atomic directory
    * move. Abort (query failure) deletes the scratch; the target is
    * untouched in every failure mode. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (isTable(dirFor(ident))) throw new TableAlreadyExistsException(ident)
    staged(ident, schema, partitions, properties, allowReplace = false,
      requireExisting = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!isTable(dirFor(ident))) throw new NoSuchTableException(ident)
    staged(ident, schema, partitions, properties, allowReplace = true,
      requireExisting = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, schema, partitions, properties, allowReplace = true,
      requireExisting = false)

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      allowReplace: Boolean, requireExisting: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val partitionBy = partitionSpecOf(schema, partitions)
    val sortBy = sortByOf(schema, properties)
    val scratch = new File(new File(root, ".staging"),
      java.util.UUID.randomUUID().toString)
    scratch.mkdirs()
    partitionBy.foreach(c => java.nio.file.Files.write(
      new File(scratch, GraftStore.PartitionFileName).toPath,
      c.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    GraftStore.writeProps(scratch.getPath, persistedPropsOf(schema, properties))
    val target = dirFor(ident)
    val stagedSchema = schema // the anon class's schema() would shadow it
    val inner = new GraftStoreTable(scratch.getPath, schema, None, sortBy,
      None, None, partitionBy = partitionBy)
    new org.apache.spark.sql.connector.catalog.StagedTable
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
      override def name(): String = ident.toString
      override def schema(): StructType = stagedSchema
      override def partitioning(): Array[Transform] = inner.partitioning()
      override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
        inner.capabilities()
      override def newWriteBuilder(
          info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        inner.newWriteBuilder(info)

      override def commitStagedChanges(): Unit = {
        if (isTable(target)) {
          require(allowReplace,
            s"$ident was created concurrently — CREATE TABLE AS cannot " +
              "replace it (use CREATE OR REPLACE)")
          // REPLACE AS A COMMIT: new version of the existing lineage —
          // the scratch's entries hard-link in, its schema becomes the
          // table's, live deletes clear (replaced content owes nothing
          // to old key sets), old snapshots stay time-travelable
          val schema2 = GraftStore.readManifest(scratch.getPath)
            .fold(stagedSchema)(_._1)
          // stamped names: a scratch file's task-derived name can collide
          // with a file an earlier session committed into this table
          val entries = GraftStore.linkStamped(target.getPath, scratch, "rtas")
          GraftStore.commit(target.getPath, GraftStore.latest(target.getPath)
            .getOrElse(GraftStore.Manifest(schema2)))(_.copy(schema = schema2,
            entries = entries, op = "replace", epoch = None, eqDels = Seq.empty))
          // spec/props swap AFTER the commit (same ordering rationale as
          // evolvePartitionBy: the spec is a write-layout hint)
          val pf = new File(target, GraftStore.PartitionFileName)
          partitionBy match {
            case Some(c) => java.nio.file.Files.write(pf.toPath,
              c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            case None => java.nio.file.Files.deleteIfExists(pf.toPath)
          }
          GraftStore.deleteRecursively(scratch)
        } else {
          // fresh CREATE: one atomic directory move — never half-visible
          java.nio.file.Files.createDirectories(target.toPath.getParent)
          java.nio.file.Files.move(scratch.toPath, target.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }

      override def abortStagedChanges(): Unit =
        GraftStore.deleteRecursively(scratch)
    }
  }

  /** Schema evolution = a metadata COMMIT: `ALTER TABLE … ADD COLUMN`
    * rewrites only the manifest's schema line (every data file untouched
    * — their per-entry arity says how many fields their bytes carry and
    * the reader null-pads the tail), through the same atomic pointer
    * swap as a write, so it bumps the version and time travel to a
    * pre-ALTER snapshot reads the OLD schema. Supported: nullable
    * end-appended columns (null-padded by arity), RENAME COLUMN
    * (positional framing makes it safe without field ids — see
    * [[GraftStore.renameColumn]]), and int->long widening
    * ([[GraftStore.widenColumn]], in-place lane sign-extension at
    * read). Anything lossy (narrowing, drops, moves) is refused. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirFor(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // RENAME COLUMN and int->long widening are self-contained metadata
    // commits with their own name-keyed remapping (stats keys, eq-delete
    // key lists, partition spec) / per-entry lane markers — route them
    // to the dedicated operations; ADD COLUMN stays the fold below
    val routed = changes.partition {
      case _: TableChange.RenameColumn => true
      case _: TableChange.UpdateColumnType => true
      case a: TableChange.AddColumn => a.fieldNames().length == 2
      case d: TableChange.DeleteColumn => d.fieldNames().length == 2
      case _: TableChange.SetProperty => true
      case _: TableChange.RemoveProperty => true
      case _ => false
    }
    routed._1.foreach {
      case sp: TableChange.SetProperty =>
        // ALTER TABLE … SET TBLPROPERTIES: write.mode flips the DML
        // route; `check.<name>` ADDS a CHECK constraint — validated for
        // enforceability AND against every EXISTING file's stats (the
        // Delta ADD CONSTRAINT scan, priced as a driver metadata walk)
        // before it persists, so a standing violation can never hide
        // behind a later-added constraint
        val (sch0, entries0) = GraftStore.readManifest(dir.getPath).get
        if (sp.property().startsWith("check.")) {
          GraftStore.checkFilterOf(
            org.apache.spark.sql.SparkSession.active, sch0,
            sp.property(), sp.value())
          val saved = GraftStore.readProps(dir.getPath)
          GraftStore.writeProps(dir.getPath,
            saved + (sp.property() -> sp.value()))
          try GraftStore.enforceChecks(
            org.apache.spark.sql.SparkSession.active, dir.getPath, sch0,
            entries0, "existing")
          catch { case e: Throwable =>
            GraftStore.writeProps(dir.getPath, saved); throw e }
        } else if (sp.property().equalsIgnoreCase("write.mode")) {
          require(sp.value() == "copy-on-write" || sp.value() == "merge-on-read",
            s"write.mode must be copy-on-write or merge-on-read, got ${sp.value()}")
          GraftStore.writeProps(dir.getPath,
            GraftStore.readProps(dir.getPath) + ("write.mode" -> sp.value()))
        } else throw new UnsupportedOperationException(
          s"unsupported table property ${sp.property()} — persisted " +
            "properties are write.mode and check.<name>")
      case rp: TableChange.RemoveProperty =>
        GraftStore.writeProps(dir.getPath,
          GraftStore.readProps(dir.getPath) - rp.property())
      case add: TableChange.AddColumn =>
        // ALTER TABLE t ADD COLUMN meta.f TYPE — nested add is its own
        // metadata-only commit with per-file struct-arity markers
        require(add.isNullable,
          s"appended nested field ${add.fieldNames().mkString(".")} must " +
            "be nullable — existing files null-pad it")
        require(add.position() == null,
          "only appending at the END of the struct is supported")
        GraftStore.addStructField(dir.getPath, add.fieldNames()(0),
          add.fieldNames()(1), add.dataType())
      case r: TableChange.RenameColumn if r.fieldNames().length == 2 =>
        // ALTER TABLE t RENAME COLUMN meta.f TO g — nested rename is
        // pure metadata (data is positional; no name-keyed metadata
        // reaches below the top level)
        GraftStore.renameStructField(dir.getPath, r.fieldNames()(0),
          r.fieldNames()(1), r.newName())
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "RENAME COLUMN supports top-level columns and struct subfields " +
            "(col.field), not deeper nesting")
        GraftStore.renameColumn(dir.getPath, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        // ALTER TABLE t DROP COLUMN meta.f — nested drop is its own
        // metadata-only commit with per-file physical SKIP markers;
        // top-level drops stay refused (positional data has no
        // column-erasure story without a rewrite)
        GraftStore.dropStructField(dir.getPath, d.fieldNames()(0),
          d.fieldNames()(1))
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 2 =>
        // ALTER TABLE t ALTER COLUMN meta.f TYPE DOUBLE — nested widen
        // (long -> double), per-file physical WIDEN markers
        GraftStore.widenStructField(dir.getPath, u.fieldNames()(0),
          u.fieldNames()(1), u.newDataType())
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "ALTER COLUMN TYPE supports top-level columns and struct " +
            "subfields (col.field), not deeper nesting")
        require(u.newDataType() == org.apache.spark.sql.types.LongType ||
            u.newDataType() == org.apache.spark.sql.types.DoubleType ||
            u.newDataType().isInstanceOf[org.apache.spark.sql.types.DecimalType],
          "only widening to BIGINT, DOUBLE or a wider same-scale DECIMAL " +
            s"is supported, got ${u.newDataType()}")
        GraftStore.widenColumn(dir.getPath, u.fieldNames()(0),
          u.newDataType())
      case _ => ()
    }
    val base = GraftStore.latest(dir.getPath).get
    val newSchema = routed._2.foldLeft(base.schema) {
      case (sch, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "ADD COLUMN supports top-level columns and struct subfields " +
            "(col.field), not deeper nesting")
        val name = add.fieldNames()(0)
        require(add.isNullable,
          s"appended column $name must be nullable — existing files null-pad it")
        require(add.position() == null,
          "only appending at the END of the schema is supported")
        require(!sch.fieldNames.contains(name), s"column $name already exists")
        sch.add(name, add.dataType(), nullable = true)
      case (_, other) => throw new UnsupportedOperationException(
        "graft catalog tables support ADD COLUMN, RENAME COLUMN and " +
          s"ALTER COLUMN TYPE BIGINT (got ${other.getClass.getSimpleName})")
    }
    if (routed._2.nonEmpty)
      GraftStore.commit(dir.getPath, base)(b => b.copy(schema = newSchema,
        entries = b.files(dir.getPath), op = "evolve"))
    new GraftStoreTable(dir.getPath, newSchema, None, None, None, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirFor(ident)
    if (!isTable(dir)) return false
    // manifest first: the atomic "table gone" step; snapshots + data after
    new File(dir, GraftStore.ManifestName).delete()
    new File(dir, GraftStore.PartitionFileName).delete()
    new File(dir, GraftStore.PropsFileName).delete()
    GraftStore.snapshotFiles(dir.getPath).foreach(_.delete())
    Option(new File(dir, "data").listFiles()).getOrElse(Array.empty)
      .foreach(_.delete())
    new File(dir, "data").delete()
    dir.delete()
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirFor(oldIdent)
    val to = dirFor(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    to.getParentFile.mkdirs()
    if (!from.renameTo(to)) throw new IllegalStateException(
      s"rename ${from.getPath} -> ${to.getPath} failed")
  }
}

/** Read-only metadata table over a GraftStore table's manifest state:
  * `snapshots` = (version, n_files, n_rows) per retained snapshot,
  * `files` = the current manifest's per-file entries. Planned fresh at
  * every scan from a driver-side metadata walk (one small file read per
  * snapshot, zero data I/O — metadata BY CONSTRUCTION, like q_store_history). */
class GraftMetadataTable(path: String, ident: String, kind: String)
  extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField}

  override def name(): String = ident
  override def schema(): StructType = kind match {
    case "snapshots" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("op", StringType, nullable = false)))
    // `partition` is NULL for files whose stats cannot prove a derived
    // tuple (pre-spec history, compaction-merged cells) — degraded
    // honestly into one catch-all row, never guessed
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    case "refs" => StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    // writable branches: name, the main version the next publish checks
    // against, the branch's own head, and its manifest row count (counts
    // rows hidden by live deletes, like every manifest-derived count)
    // retention columns (r14): creation and last-commit wall-clocks +
    // the per-branch retain_for override (null = catalog default) — age
    // is now() - last_commit_at, a trivial projection, deliberately not
    // materialized (a wall-clock column would make every read
    // non-deterministic)
    case "branches" => StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("fork_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("created_at", org.apache.spark.sql.types.TimestampType, nullable = false),
      StructField("last_commit_at", org.apache.spark.sql.types.TimestampType, nullable = false),
      StructField("retain_for_ms", LongType, nullable = true)))
    // the "how much read-side delete debt has accumulated / when do I
    // schedule CALL purge_deletes" dashboard: one row per live delete —
    // position vectors (target = the masked data file, n = masked rows)
    // and equality deletes (target = the key sidecar, n = key tuples)
    case "deletes" => StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("target", StringType, nullable = false),
      StructField("detail", StringType, nullable = false),
      StructField("n", LongType, nullable = false)))
    // manifest layout of the CURRENT snapshot: `(inline)` for an
    // unsharded table, else one row per content-addressed child with
    // its cell tag (`c:<cell>` / `u` for the catch-all)
    case "manifests" => StructType(Seq(
      StructField("manifest", StringType, nullable = false),
      StructField("n_entries", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("cell", StringType, nullable = false)))
    case _ => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("cols", IntegerType, nullable = false)))
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new GraftMetadataScan(path, kind, schema())
}

class GraftMetadataScan(path: String, kind: String, schema: StructType)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}

  override def readSchema(): StructType = schema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String = s"graft_metadata($path, $kind)"

  override def planInputPartitions(): Array[InputPartition] = {
    val rows: Array[Array[Any]] = kind match {
      case "snapshots" => GraftStore.history(path)
        .map { case (v, f, r, op) => Array[Any](v, f, r,
          org.apache.spark.unsafe.types.UTF8String.fromString(op)) }.toArray
      case "partitions" => GraftStore.partitionRows(path)
        .map { case (p, f, r) => Array[Any](
          p.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
          f, r) }.toArray
      case "branches" =>
        import org.apache.spark.unsafe.types.UTF8String.{fromString => utf8}
        GraftStore.branchList(path).map { b =>
          val bp = GraftStore.branchPath(path, b)
          val tip = GraftStore.latest(bp)
          Array[Any](utf8(b), GraftStore.branchForkVersion(path, b),
            tip.fold(0L)(_.version),
            tip.fold(0L)(_.files(bp).map(_.rows).sum),
            GraftStore.branchCreatedAt(path, b) * 1000L,
            GraftStore.branchLastCommitAt(path, b) * 1000L,
            GraftStore.branchRetainFor(path, b).map(Long.box).orNull)
        }.toArray
      case "refs" => GraftStore.readRefs(path).toSeq.sortBy(_._1)
        .map { case (tag, v) =>
          val rows = GraftStore.snapshot(GraftStore.manifestFile(path, Some(v)))
            .fold(0L)(_.files(path).map(_.rows).sum)
          Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(tag), v, rows)
        }.toArray
      case "deletes" =>
        import org.apache.spark.unsafe.types.UTF8String.{fromString => utf8}
        val (entries, eqs) = GraftStore.snapshot(GraftStore.manifestFile(path, None))
          .fold((Seq.empty[GraftStore.FileEntry], Seq.empty[GraftStore.EqDelete]))(
            m => (m.files(path), m.eqDels))
        val dvRows = entries.filter(_.dv.nonEmpty).map { e =>
          val masked = GraftStore.Dv.bitset(
            new java.io.File(path, e.dv).getPath).cardinality().toLong
          Array[Any](utf8("position"), utf8(e.file), utf8(e.dv), masked)
        }
        val eqRows = eqs.map { d =>
          val keys = GraftStore.EqSet.cached(
            new java.io.File(path, d.file).getPath).size.toLong
          Array[Any](utf8("equality"), utf8(d.file),
            utf8(d.cols.mkString(",")), keys)
        }
        (dvRows ++ eqRows).toArray
      case "manifests" =>
        import org.apache.spark.unsafe.types.UTF8String.{fromString => utf8}
        GraftStore.snapshot(GraftStore.manifestFile(path, None)) match {
          case Some(m) if m.children.nonEmpty =>
            m.children.map(c => Array[Any](utf8(c.file), c.nfiles, c.rows,
              utf8(c.cell))).toArray
          case Some(m) =>
            Array(Array[Any](utf8("(inline)"), m.entries.size.toLong,
              m.entries.map(e => math.max(e.rows, 0L)).sum, utf8("")))
          case None => Array.empty[Array[Any]]
        }
      case _ => GraftStore.readManifest(path).map(_._2).getOrElse(Seq.empty)
        .map(e => Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(e.file),
          e.rows, e.cols)).toArray
    }
    Array(GraftMetadataPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
        val rows = p.asInstanceOf[GraftMetadataPartition].rows
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rows(i))
          override def close(): Unit = ()
        }
      }
    }
}

case class GraftMetadataPartition(rows: Array[Array[Any]])
  extends org.apache.spark.sql.connector.read.InputPartition
