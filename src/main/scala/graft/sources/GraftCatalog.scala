package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A [[TableCatalog]] over manifest tables, so the DSv2 table format is
  * reachable BY NAME from plain SQL — the first thing a real user wants
  * after `.format(...).option("path", ...)` stops scaling past one
  * notebook:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   spark.sql("CREATE NAMESPACE graft.db")
  *   spark.sql("CREATE TABLE graft.db.t (id BIGINT, s STRING, x DOUBLE)")
  *   spark.sql("INSERT INTO graft.db.t SELECT ...")      // CAS append
  *   spark.sql("INSERT OVERWRITE graft.db.t SELECT ...") // truncate commit
  *   spark.sql("SELECT * FROM graft.db.t WHERE id > 5")  // pruned+skipped scan
  *   spark.sql("SELECT * FROM graft.db.t VERSION AS OF 3") // time travel
  *   spark.sql("DELETE FROM graft.db.t WHERE id = 7")    // copy-on-write
  *   spark.sql("DROP TABLE graft.db.t")
  * }}}
  *
  * Layout is directory-per-namespace under the warehouse root, with each
  * table directory owned by the manifest commit protocol ([[ManifestSink]]
  * — the catalog never touches manifests itself; `CREATE TABLE` IS a
  * truncate-mode commit of zero files, so a concurrent create races
  * through the same CAS as any writer and exactly one wins). All reads
  * and writes resolve through [[ManifestTable]], so SQL-by-name and
  * path-based access observe identical snapshots.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with FunctionCatalog with ViewCatalog {
  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog $name requires spark.sql.catalog.$name.warehouse to be set")
    warehouse = Paths.get(w)
    Files.createDirectories(warehouse)
  }
  override def name(): String = catalogName

  /** Column DEFAULTs are supported end to end: CREATE/ALTER carry the
    * default in the column metadata (Spark's CURRENT_DEFAULT /
    * EXISTS_DEFAULT keys, persisted inside the schema JSON), INSERTs
    * omitting the column resolve CURRENT_DEFAULT at analysis, and scans
    * fill EXISTS_DEFAULT for files written before the column existed —
    * see the per-file reconciliation in ManifestSink. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  // ---- functions --------------------------------------------------------
  // The single catalog function is the `bucket` transform identity:
  // Spark's SPJ machinery (V2ScanPartitioningAndOrdering →
  // V2ExpressionUtils.loadV2FunctionOpt) resolves a scan-reported
  // bucket(N, col) through the TABLE's catalog-as-FunctionCatalog, and
  // two bucketed scans join shuffle-free iff both sides bind to the
  // same canonical function — see [[GraftBucketFunction]].
  override def listFunctions(namespace: Array[String]):
      Array[Identifier] =
    if (namespace.isEmpty || Files.isDirectory(nsPath(namespace)))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(namespace)
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def nsPath(ns: Array[String]): Path = ns.foldLeft(warehouse)(_.resolve(_))
  private def tablePath(ident: Identifier): Path =
    nsPath(ident.namespace()).resolve(ident.name())
  /** A directory is a table iff the commit protocol has published a
    * version in it. */
  private def isTable(p: Path): Boolean = ManifestSink.currentVersion(p) > 0L

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(p)
    try s.iterator().asScala
      .filter(d => Files.isDirectory(d) && isTable(d))
      .map(d => Identifier.of(namespace, d.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    if (isTable(p)) return new ManifestTable(p, ManifestSink.readSchema(p))
    // metadata views, Iceberg-style: `db.t.history` parses as namespace
    // [db, t] + name "history" — if the namespace tail IS a table, serve
    // the view over its manifests (driver-side kilobytes: version lines,
    // never data files)
    if (ident.namespace().nonEmpty) {
      val parent = nsPath(ident.namespace())
      if (isTable(parent)) ident.name() match {
        case "history" => return GraftCatalog.historyTable(parent)
        case "files" => return GraftCatalog.filesTable(parent)
        case "partitions" => return GraftCatalog.partitionsTable(parent)
        case "stats" => return GraftCatalog.statsTable(parent)
        case "refs" => return GraftCatalog.refsTable(parent)
        // Iceberg-style branch identifier: `db.t.branch_audit` reads the
        // WAP staging lane (anchor snapshot + staged appends) and
        // accepts INSERT INTO (appends stage onto the branch)
        case n if n.startsWith("branch_") =>
          val b = n.stripPrefix("branch_")
          ManifestSink.requireBranchName(b)
          require(ManifestSink.branchCurrentVersion(parent, b) >= 1L,
            s"no branch '$b' on table ${ident.namespace().mkString(".")} " +
              s"(branches: ${ManifestSink.listBranches(parent).mkString(", ")})")
          val base = ManifestSink.branchBase(parent, b)
          return new ManifestTable(parent,
            ManifestSink.readSchema(parent, Some(base)), branch = Some(b))
        case _ => ()
      }
    }
    throw new NoSuchTableException(ident)
  }

  /** SQL time travel: `SELECT ... FROM graft.db.t VERSION AS OF 3` pins
    * the scan to manifest version 3 — same mechanism as the path-based
    * `versionAsOf` read option. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    version.toLongOption match {
      case Some(v) =>
        new ManifestTable(p, ManifestSink.readSchema(p, Some(v)), pinned = Some(v))
      case None =>
        // `VERSION AS OF 'v1-release'` — a TAG read: pinned to the
        // version the tag names (immutable by construction)
        ManifestSink.tagsOf(p).get(version) match {
          case Some(v) =>
            new ManifestTable(p, ManifestSink.readSchema(p, Some(v)), pinned = Some(v))
          case None =>
            // `VERSION AS OF 'audit'` — a BRANCH read (Iceberg's branch
            // time travel): anchor snapshot + staged appends
            require(ManifestSink.branchCurrentVersion(p, version) >= 1L,
              s"'$version' is neither a version number, a tag nor a branch of " +
                s"$ident (tags: ${ManifestSink.tagsOf(p).keys.mkString(", ")}; " +
                s"branches: ${ManifestSink.listBranches(p).mkString(", ")})")
            val base = ManifestSink.branchBase(p, version)
            new ManifestTable(p, ManifestSink.readSchema(p, Some(base)),
              branch = Some(version))
        }
    }
  }

  /** SQL `SELECT ... FROM graft.db.t TIMESTAMP AS OF <ts>`: resolves to
    * the newest version published at or before the instant
    * ([[ManifestSink.versionAtTimestamp]]) and pins the scan there —
    * the wall-clock twin of VERSION AS OF. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val v = ManifestSink.versionAtTimestamp(p, timestampMicros)
    new ManifestTable(p, ManifestSink.readSchema(p, Some(v)), pinned = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createTableImpl(ident, schema, partitions, properties, Map.empty)

  /** CREATE TABLE with inline constraints: Spark's CreateTableExec calls
    * THIS overload (the legacy one via the default implementation would
    * silently DISCARD `TableInfo.constraints` — verified in 4.1.2's
    * default `TableCatalog.createTable(ident, TableInfo)`). The table is
    * created empty, so the constraints are trivially valid; they persist
    * exactly like ADD CONSTRAINT's and every subsequent write enforces
    * them. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    import org.apache.spark.sql.connector.catalog.constraints.Check
    val names = info.constraints().map(_.name.toLowerCase(java.util.Locale.ROOT))
    require(names.distinct.length == names.length,
      s"duplicate constraint names in CREATE TABLE: ${names.mkString(", ")}")
    val known = info.schema().fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val cprops = info.constraints().map {
      case ck: Check =>
        require(ck.enforced(),
          s"constraint ${ck.name}: manifest tables support ENFORCED CHECK " +
            "constraints only — write-side invariant injection does not " +
            "honor NOT ENFORCED")
        val refs = ManifestSink.constraintRefCols(ck.predicateSql)
        require(refs.subsetOf(known),
          s"constraint ${ck.name} (${ck.predicateSql}) references unknown " +
            s"column(s) ${(refs -- known).mkString(", ")}")
        s"${ManifestSink.ConstraintPropPrefix}${ck.name}" ->
          ManifestSink.encodeConstraint(ck.rely(), ck.predicateSql)
      case other => throw new UnsupportedOperationException(
        s"manifest tables enforce CHECK constraints only; " +
          s"${other.getClass.getSimpleName} (${other.name}) is not supported")
    }.toMap
    createTableImpl(ident, info.schema(), info.partitions(), info.properties(),
      cprops)
  }

  private def createTableImpl(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      constraintProps: Map[String, String]): Table = {
    // identity + the EXACT interval transforms (days/months/years/hours,
    // truncate — each covers a contiguous interval of the source domain,
    // so file pruning and metadata-only DELETE proofs stay exact) +
    // PRUNE-ONLY bucket(N) (equality/IN skip non-matching buckets;
    // ranges and full-match proofs fall back to the read path).
    def refCol(t: Transform): String = {
      require(t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1,
        s"partition transform $t must reference exactly one top-level column")
      val c = t.references()(0).fieldNames()(0)
      // the spec header encodes transforms as `days(c)` tokens; a column
      // name carrying parens would be ambiguous with a token
      require(!c.contains("(") && !c.contains(")"),
        s"partition column name '$c' may not contain parentheses")
      c
    }
    def fieldOf(c: String) = {
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"partition column $c is not in the table schema")
      f.get
    }
    def widthArg(t: Transform): Long = {
      val lits = t.arguments().collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value() match {
            case i: java.lang.Integer => i.longValue()
            case l2: java.lang.Long => l2.longValue()
            case other => throw new IllegalArgumentException(
              s"transform width must be an integer literal, got $other")
          }
      }
      require(lits.length == 1, s"transform needs exactly one integer argument: $t")
      require(lits.head > 0, s"transform width must be positive, got ${lits.head}")
      lits.head
    }
    val partSpec: Seq[ManifestSink.PartTransform] = partitions.map { t =>
      t.name match {
        case "identity" =>
          val c = refCol(t)
          // the partition-value codec (writer fan-out, pruning literals,
          // zorder group filters) covers exactly these types — reject the
          // rest at CREATE instead of failing every subsequent INSERT
          val ok = Set[org.apache.spark.sql.types.DataType](
            LongType, IntegerType, StringType, BooleanType,
            org.apache.spark.sql.types.DoubleType)
          require(ok(fieldOf(c).dataType),
            s"partition column $c has unsupported type " +
              s"${fieldOf(c).dataType.simpleString} " +
              "(supported: BIGINT, INT, STRING, BOOLEAN, DOUBLE)")
          ManifestSink.PIdentity(c)
        case "days" =>
          val c = refCol(t)
          require(fieldOf(c).dataType == LongType,
            s"days($c) requires a BIGINT epoch-microsecond column; " +
              s"$c is ${fieldOf(c).dataType.simpleString}")
          ManifestSink.PDays(c)
        case "months" =>
          val c = refCol(t)
          require(fieldOf(c).dataType == LongType,
            s"months($c) requires a BIGINT epoch-microsecond column; " +
              s"$c is ${fieldOf(c).dataType.simpleString}")
          ManifestSink.PMonths(c)
        case "years" =>
          val c = refCol(t)
          require(fieldOf(c).dataType == LongType,
            s"years($c) requires a BIGINT epoch-microsecond column; " +
              s"$c is ${fieldOf(c).dataType.simpleString}")
          ManifestSink.PYears(c)
        case "hours" =>
          // fixed-width sibling of days: an hour of epoch-micros IS an
          // integer truncation, so the interval machinery is shared
          val c = refCol(t)
          require(fieldOf(c).dataType == LongType,
            s"hours($c) requires a BIGINT epoch-microsecond column; " +
              s"$c is ${fieldOf(c).dataType.simpleString}")
          ManifestSink.PTruncInt(c, 3600000000L)
        case "truncate" =>
          val c = refCol(t)
          val w = widthArg(t)
          fieldOf(c).dataType match {
            case LongType | IntegerType => ManifestSink.PTruncInt(c, w)
            case StringType =>
              require(w <= Int.MaxValue, s"truncate length $w out of range")
              ManifestSink.PTruncStr(c, w.toInt)
            case other => throw new IllegalArgumentException(
              s"truncate($w, $c) requires BIGINT/INT/STRING; $c is " +
                other.simpleString)
          }
        case "bucket" =>
          // hash bucketing (the Iceberg v2 transform): PRUNE-ONLY —
          // equality/IN filters skip buckets the literal cannot live in;
          // ranges and full-match proofs fall back to the read path
          // (evalPartFilter never answers TRUE for a bucket). INT columns
          // hash as 64-bit so INT->BIGINT widening never re-routes rows.
          val c = refCol(t)
          val n = widthArg(t)
          require(n > 1 && n <= (1 << 20),
            s"bucket count must be in (1, 2^20], got $n")
          fieldOf(c).dataType match {
            case LongType | IntegerType => ManifestSink.PBucketInt(c, n.toInt)
            case StringType => ManifestSink.PBucketStr(c, n.toInt)
            case other => throw new IllegalArgumentException(
              s"bucket($n, $c) requires BIGINT/INT/STRING; $c is " +
                other.simpleString)
          }
        case other => throw new IllegalArgumentException(
          s"manifest tables support identity, days/months/years/hours, " +
            s"truncate and bucket partition transforms, got $other($t)")
      }
    }.toSeq
    val partCols = partSpec.map(_.col)
    require(partCols.distinct.size == partCols.size,
      s"each column may appear once in the partition spec: $partCols")
    ManifestSink.requireSafeColumnNames(schema)
    // TBLPROPERTIES ('delete.mode' = 'merge-on-read'): row deletes write
    // positional deletion vectors instead of copy-on-write rewrites
    val deleteMode = Option(properties.get("delete.mode"))
      .getOrElse(ManifestSink.DeleteModeCow)
    require(deleteMode == ManifestSink.DeleteModeCow ||
        deleteMode == ManifestSink.DeleteModeMor,
      s"delete.mode must be '${ManifestSink.DeleteModeCow}' or " +
        s"'${ManifestSink.DeleteModeMor}', got '$deleteMode'")
    // TBLPROPERTIES ('bloom.columns' = 'c1,c2'): writers collect a
    // per-file bloom over each listed STRING column for equality skipping
    val bloomCols = Option(properties.get("bloom.columns"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    bloomCols.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"bloom.columns names unknown column $c")
      require(f.get.dataType == StringType,
        s"bloom.columns supports STRING columns; $c is ${f.get.dataType.simpleString}")
    }
    // TBLPROPERTIES ('write.sort-by' = 'c1,c2'): appends request range
    // distribution + in-task ordering on these columns, so files carry
    // tight, mostly-disjoint min/max ranges from the first write
    val sortCols = Option(properties.get("write.sort-by"))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    sortCols.foreach(c => require(schema.fieldNames.contains(c),
      s"write.sort-by names unknown column $c"))
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    require(!viewExists(ident),
      s"cannot create table ${ident.name()}: a view with that name exists")
    Files.createDirectories(p)
    // CREATE TABLE is itself a commit: v1 publishes the schema (and the
    // partition spec) with an empty file list through the same CAS as
    // any write, so a concurrent create/write to the same name resolves
    // to exactly one winner
    // free-form TBLPROPERTIES (minus the dedicated knobs and Spark's
    // own catalog bookkeeping) persist from v1 onward
    // a TBLPROPERTIES forgery of the constraint prefix would persist an
    // unvalidated "constraint" — loud refusal, not silent filtering
    properties.asScala.keys.foreach(k =>
      require(!k.startsWith(ManifestSink.ConstraintPropPrefix),
        s"table property $k is reserved — declare constraints with " +
          "CONSTRAINT ... CHECK (...)"))
    val userProps = properties.asScala.toMap
      .filter { case (k, _) => !ManifestSink.reservedProp(k) }
    // validated knobs that ride the free-form bag must fail at CREATE,
    // not on every subsequent INSERT
    ManifestSink.rowGroupBytesOf(userProps): Unit
    ManifestSink.validateQuantCols(schema, userProps)
    ManifestSink.publishCommit(p, schema, truncateFirst = true, Seq.empty,
      markerUpdate = None, GcPolicy(None, 3600L * 1000), createPartSpec = partSpec,
      createDeleteMode = deleteMode, createBloomCols = bloomCols,
      createSortCols = sortCols, createProps = userProps ++ constraintProps)
    new ManifestTable(p, schema)
  }

  /** ALTER TABLE ADD / RENAME / DROP COLUMN: metadata-only commits (see
    * [[ManifestSink.alterSchema]]) — no data file is rewritten; readers
    * reconcile per file (absent columns null-fill, renames resolve
    * through the column mapping). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    ManifestSink.alterSchema(p, changes)
    new ManifestTable(p, ManifestSink.readSchema(p))
  }

  // ---- SQL views (DSv2 ViewCatalog) -------------------------------------
  //
  // Persisted SQL views: `CREATE VIEW graft.db.v AS SELECT ...` stores
  // the view TEXT (plus its resolution context — current catalog /
  // namespace, the analyzed schema, query column names and aliases) as
  // one flat FILE `<name>.view` inside the namespace directory. Tables
  // are directories, views are files — the filesystem itself keeps the
  // two spaces disjoint, and create paths double-check so a view can
  // never shadow a table or vice versa. Spark re-parses the stored SQL
  // against the stored context at resolution, so a view tracks its
  // underlying tables' CURRENT data (including manifest time-travel
  // semantics of the moment it is queried) — exactly the lazy-SQL
  // contract of a warehouse view. Creates are atomic (CREATE_NEW);
  // replace/alter write a temp file and ATOMIC_MOVE it over.

  private def viewPath(ident: Identifier): Path =
    nsPath(ident.namespace()).resolve(ident.name() + ".view")

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val p = nsPath(ns)
    if (!Files.isDirectory(p)) throw new NoSuchNamespaceException(ns)
    val s = Files.list(p)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".view"))
      .map(f => Identifier.of(ns, f.getFileName.toString.stripSuffix(".view")))
      .toArray
    finally s.close()
  }

  override def viewExists(ident: Identifier): Boolean =
    Files.isRegularFile(viewPath(ident))

  override def loadView(ident: Identifier): View = {
    val p = viewPath(ident)
    if (!Files.isRegularFile(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    GraftCatalog.decodeView(ident.name(), Files.readString(p))
  }

  /** A view identifier with an EMPTY namespace (e.g. `CREATE VIEW
    * graft.v` — the head consumed as the catalog, nothing left as the
    * namespace) would land the .view file at the warehouse ROOT: the
    * namespace-exists check passes vacuously (the root directory
    * exists) and per-namespace SHOW VIEWS can never list the result.
    * Reject it loudly on every path that creates or moves a view. */
  private def requireViewNamespace(ident: Identifier): Unit =
    require(ident.namespace().nonEmpty,
      s"view ${ident.name()} needs a namespace — a reference like " +
        s"<catalog>.${ident.name()} leaves the namespace empty; use " +
        s"<catalog>.<namespace>.${ident.name()}")

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    requireViewNamespace(ident)
    if (!Files.isDirectory(nsPath(ident.namespace())))
      throw new NoSuchNamespaceException(ident.namespace())
    require(!isTable(tablePath(ident)),
      s"cannot create view ${ident.name()}: a table with that name exists")
    val body = GraftCatalog.encodeView(info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(), info.properties().asScala.toMap)
    try Files.writeString(viewPath(ident), body,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .ViewAlreadyExistsException(ident)
    }
    GraftCatalog.decodeView(ident.name(), body)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    requireViewNamespace(ident)
    if (!orCreate && !viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    require(!isTable(tablePath(ident)),
      s"cannot replace view ${ident.name()}: a table with that name exists")
    val body = GraftCatalog.encodeView(info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(), info.properties().asScala.toMap)
    val tmp = Files.createTempFile(nsPath(ident.namespace()), ".view-", ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, viewPath(ident),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    GraftCatalog.decodeView(ident.name(), body)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    var props = v.properties().asScala.toMap
    changes.foreach {
      case sp: ViewChange.SetProperty => props += sp.property() -> sp.value()
      case rp: ViewChange.RemoveProperty => props -= rp.property()
      case other => throw new UnsupportedOperationException(
        s"unsupported view change $other")
    }
    val body = GraftCatalog.encodeView(v.query(), v.currentCatalog(),
      v.currentNamespace(), v.schema(), v.queryColumnNames(),
      v.columnAliases(), v.columnComments(), props)
    val tmp = Files.createTempFile(nsPath(ident.namespace()), ".view-", ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, viewPath(ident),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    GraftCatalog.decodeView(ident.name(), body)
  }

  override def dropView(ident: Identifier): Boolean =
    Files.deleteIfExists(viewPath(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireViewNamespace(newIdent)
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    require(!isTable(tablePath(newIdent)),
      s"cannot rename view to ${newIdent.name()}: a table with that name exists")
    // the target namespace must already exist — silently inventing one
    // would turn a typo'd RENAME into a stray directory
    if (!Files.isDirectory(nsPath(newIdent.namespace())))
      throw new NoSuchNamespaceException(newIdent.namespace())
    Files.move(viewPath(oldIdent), viewPath(newIdent))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tablePath(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // ---- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val s = Files.list(warehouse)
    try s.iterator().asScala
      .filter(d => Files.isDirectory(d) && !isTable(d))
      .map(d => Array(d.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val p = nsPath(namespace)
    if (!Files.isDirectory(p)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(p)
    try s.iterator().asScala
      .filter(d => Files.isDirectory(d) && !isTable(d))
      .map(d => namespace :+ d.getFileName.toString)
      .toArray
    finally s.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    Files.createDirectories(nsPath(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p)) false
    else {
      if (!cascade) {
        val s = Files.list(p)
        val empty = try !s.iterator().hasNext finally s.close()
        require(empty, s"namespace ${namespace.mkString(".")} is not empty")
      }
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
      true
    }
  }

  // ---- procedures -------------------------------------------------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftCatalog.SystemNs))
      Array(Identifier.of(GraftCatalog.SystemNs, "vacuum"),
        Identifier.of(GraftCatalog.SystemNs, "optimize"),
        Identifier.of(GraftCatalog.SystemNs, "rollback"),
        Identifier.of(GraftCatalog.SystemNs, "create_branch"),
        Identifier.of(GraftCatalog.SystemNs, "fast_forward"),
        Identifier.of(GraftCatalog.SystemNs, "drop_branch"),
        Identifier.of(GraftCatalog.SystemNs, "evolve_spec"),
        Identifier.of(GraftCatalog.SystemNs, "migrate_spec"),
        Identifier.of(GraftCatalog.SystemNs, "tag"),
        Identifier.of(GraftCatalog.SystemNs, "drop_tag"),
        Identifier.of(GraftCatalog.SystemNs, "ssim_reindex"))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("vacuum"))
      new GraftCatalog.VacuumProcedure(this)
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("optimize"))
      new GraftCatalog.OptimizeProcedure(this)
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("rollback"))
      new GraftCatalog.RollbackProcedure(this)
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("create_branch"))
      new GraftCatalog.BranchProcedure(this, "create_branch")
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("fast_forward"))
      new GraftCatalog.BranchProcedure(this, "fast_forward")
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("drop_branch"))
      new GraftCatalog.BranchProcedure(this, "drop_branch")
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("evolve_spec"))
      new GraftCatalog.SpecProcedure(this, evolve = true)
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("migrate_spec"))
      new GraftCatalog.SpecProcedure(this, evolve = false)
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("tag"))
      new GraftCatalog.TagProcedure(this, create = true)
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("drop_tag"))
      new GraftCatalog.TagProcedure(this, create = false)
    else if (ident.namespace().sameElements(GraftCatalog.SystemNs) &&
        ident.name().equalsIgnoreCase("ssim_reindex"))
      new GraftCatalog.SsimReindexProcedure(this)
    else throw new IllegalArgumentException(
      s"unknown procedure $ident; available: graft.system.vacuum, " +
        "graft.system.optimize, graft.system.rollback, " +
        "graft.system.create_branch, graft.system.fast_forward, " +
        "graft.system.drop_branch, graft.system.evolve_spec, " +
        "graft.system.migrate_spec, graft.system.tag, graft.system.drop_tag, " +
        "graft.system.ssim_reindex")
}

object GraftCatalog {
  // ---- view file codec ---------------------------------------------------
  // Line-based, URL-encoded fields (the manifest header convention):
  //   graft-view\t1            format marker + version
  //   sql\t<enc>               the view text, verbatim
  //   ctx\t<enc catalog>\t<enc ns part>...
  //   schema\t<enc schema.json>
  //   qcols / aliases / comments\t<enc>...   (absent = empty)
  //   prop\t<enc k>\t<enc v>   (repeated)

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  private[sources] def encodeView(sql: String, cat: String, ns: Array[String],
      schema: StructType, qcols: Array[String], aliases: Array[String],
      comments: Array[String], props: Map[String, String]): String = {
    def arr(tag: String, a: Array[String]): Option[String] =
      if (a == null || a.isEmpty) None
      else Some((tag +: a.map(enc).toSeq).mkString("\t"))
    (Seq(
      "graft-view\t1",
      s"sql\t${enc(sql)}",
      (Seq("ctx", enc(cat)) ++ Option(ns).getOrElse(Array.empty).map(enc)).mkString("\t"),
      s"schema\t${enc(schema.json)}") ++
      arr("qcols", qcols) ++ arr("aliases", aliases) ++
      // comments may contain nulls (no comment on that column): encode a
      // null as the bare marker NUL ("\u0000"), which enc() never produces
      Option(comments).filter(_.nonEmpty).map(cs =>
        ("comments" +: cs.map(c => if (c == null) "\u0000" else enc(c)).toSeq)
          .mkString("\t")) ++
      props.toSeq.sortBy(_._1).map { case (k, v) => s"prop\t${enc(k)}\t${enc(v)}" })
      .mkString("\n")
  }

  private[sources] def decodeView(name: String, body: String): View = {
    val lines = body.linesIterator.toSeq
    require(lines.headOption.exists(_.startsWith("graft-view\t")),
      s"not a graft view file: ${lines.headOption.getOrElse("<empty>")}")
    def field(tag: String): Option[Seq[String]] =
      lines.find(_.startsWith(tag + "\t")).map(_.split("\t", -1).toSeq.tail)
    val sql = dec(field("sql").get.head)
    val ctx = field("ctx").get
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(dec(field("schema").get.head)).asInstanceOf[StructType]
    def arr(tag: String): Array[String] =
      field(tag).map(_.map(dec).toArray).getOrElse(Array.empty)
    val comments = field("comments")
      .map(_.map(c => if (c == "\u0000") null else dec(c)).toArray)
      .getOrElse(Array.empty[String])
    val props = lines.filter(_.startsWith("prop\t")).map { l =>
      val Array(_, k, v) = l.split("\t", 3)
      dec(k) -> dec(v)
    }.toMap
    new GraftView(name, sql, dec(ctx.head), ctx.tail.map(dec).toArray,
      schema, arr("qcols"), arr("aliases"), comments, props)
  }

  private[sources] final class GraftView(viewName: String, viewSql: String,
      cat: String, ns: Array[String], viewSchema: StructType,
      qcols: Array[String], aliases: Array[String], comments: Array[String],
      props: Map[String, String]) extends View {
    override def name(): String = viewName
    override def query(): String = viewSql
    override def currentCatalog(): String = cat
    override def currentNamespace(): Array[String] = ns
    override def schema(): StructType = viewSchema
    override def queryColumnNames(): Array[String] = qcols
    override def columnAliases(): Array[String] = aliases
    override def columnComments(): Array[String] = comments
    override def properties(): util.Map[String, String] = props.asJava
  }

  private val SystemNs = Array("system")

  /** A read-only table over driver-computed rows ([[LocalScan]] — Spark
    * plans it as a local relation, no executors touched). Metadata views
    * are manifest-derived kilobytes, so local is the right plan. */
  private def staticTable(tname: String, tschema: StructType,
      trows: Array[InternalRow]): Table =
    new Table with SupportsRead {
      override def name(): String = tname
      override def schema(): StructType = tschema
      override def capabilities(): util.Set[TableCapability] =
        util.Collections.singleton(TableCapability.BATCH_READ)
      override def newScanBuilder(
          options: org.apache.spark.sql.util.CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
        new org.apache.spark.sql.connector.read.ScanBuilder {
          override def build(): Scan = new LocalScan {
            override def readSchema(): StructType = tschema
            override def rows(): Array[InternalRow] = trows
          }
        }
    }

  private val HistorySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false)))

  /** `SELECT * FROM cat.db.t.history` — one row per manifest version,
    * with the operation kind inferred from the entry diff: append-only
    * step = append; `#rewrite` marker = optimize; removal-only or a
    * deletion-vector change = delete; removed AND added = replace (a
    * copy-on-write DELETE/UPDATE/MERGE rewrite or an INSERT OVERWRITE —
    * the manifest records file moves, not statements); no entry
    * change = alter (schema/metadata commit); v1 with no files =
    * create. */
  private[sources] def historyTable(root: Path): Table = {
    val cur = ManifestSink.currentVersion(root)
    var prev = Seq.empty[ManifestSink.FileEntry]
    // Vacuum / retainVersions GC may have expired early manifests; report
    // the surviving history (an "expired" placeholder row per gap) instead
    // of letting resolveVersion throw on the first missing file.
    val rows = (1L to cur).map { v =>
      if (!java.nio.file.Files.exists(ManifestSink.manifestAt(root, v))) {
        new GenericInternalRow(Array[Any](v, UTF8String.fromString("expired"),
          0, 0L, 0L)): InternalRow
      } else {
      val es = ManifestSink.committedEntries(root, Some(v))
      val prevNames = prev.map(_.name).toSet
      val names = es.map(_.name).toSet
      val removed = prevNames.diff(names)
      val added = names.diff(prevNames)
      val prevDv = prev.map(e => e.name -> (e.dvName, e.dvRows)).toMap
      val dvChanged = es.exists(e => prevDv.get(e.name).exists(_ != ((e.dvName, e.dvRows))))
      val op =
        if (v == 1L && es.isEmpty) "create"
        else if (ManifestSink.isRewriteVersion(root, v)) "optimize"
        else if (removed.nonEmpty && added.nonEmpty) "replace"
        else if (removed.nonEmpty || dvChanged) "delete"
        else if (added.nonEmpty) "append"
        else "alter"
      prev = es
      new GenericInternalRow(Array[Any](v, UTF8String.fromString(op),
        es.size, es.map(_.rows).sum, es.map(_.liveRows).sum)): InternalRow
      }
    }.toArray
    staticTable(s"history($root)", HistorySchema, rows)
  }

  private val FilesSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false),
    StructField("dv_rows", LongType, nullable = false),
    StructField("partition", StringType, nullable = false),
    // row-lineage accounting (Iceberg v3 files-table shape): id bounds
    // over non-gap segments, version-stamp bounds, segment count and
    // whether segments spilled to a sidecar; NULLs = pre-lineage file
    StructField("first_row_id", LongType, nullable = true),
    StructField("last_row_id", LongType, nullable = true),
    StructField("min_last_updated", LongType, nullable = true),
    StructField("max_last_updated", LongType, nullable = true),
    StructField("lineage_segments", LongType, nullable = false),
    StructField("lineage_spilled", BooleanType, nullable = false)))

  /** `SELECT * FROM cat.db.t.files` — the current snapshot's data files
    * with physical/live row counts, deletion-vector sizes and partition
    * tuples. */
  private[sources] def filesTable(root: Path): Table = {
    val rows = ManifestSink.committedEntries(root, None).map { e =>
      val parts = e.parts.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(",")
      // the view READS spilled sidecars (an operator readout, priced per
      // view query, not per table scan) so accounting stays exact
      val segs = e.lineageSegs(root)
      val known = ManifestSink.lineageRuns(segs, e.rows)
      val (fid, lid, mnv, mxv): (Any, Any, Any, Any) =
        if (known.isEmpty) (null, null, null, null)
        else (known.map(_._1).min, known.map(_._2).max,
          known.map(_._3).min, known.map(_._3).max)
      new GenericInternalRow(Array[Any](UTF8String.fromString(e.name),
        e.rows, e.liveRows, e.dvRows, UTF8String.fromString(parts),
        fid, lid, mnv, mxv, segs.size.toLong,
        e.lineageRef.isDefined)): InternalRow
    }.toArray
    staticTable(s"files($root)", FilesSchema, rows)
  }

  private val PartitionsSchema = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("spec_id", LongType, nullable = false),
    StructField("files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false),
    StructField("dv_rows", LongType, nullable = false)))

  /** `SELECT * FROM cat.db.t.partitions` — the Iceberg partitions
    * metadata table: one row per partition tuple with file/row/DV
    * accounting, straight off the manifest (kilobytes, LocalScan, no
    * executors). The operator's first stop for skew and small-file
    * diagnosis: at 100 TB "which partitions hold how many files of what
    * size" IS the compaction and retention work list, and answering it
    * must never cost a data scan. Unpartitioned tables report one
    * all-table row with partition ''. */
  private[sources] def partitionsTable(root: Path): Table = {
    // group by (spec id, tuple): under spec evolution the same tuple
    // string can mean different things (identity "3" vs bucket id 3) —
    // one row per meaning, the Iceberg partitions-view shape
    val rows = ManifestSink.committedEntries(root, None)
      .groupBy(e => (e.specId,
        e.parts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")))
      .toSeq.sortBy(_._1)
      .map { case ((spec, part), es) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(part), spec,
          es.size, es.map(_.rows).sum, es.map(_.liveRows).sum,
          es.map(_.dvRows).sum)): InternalRow
      }.toArray
    staticTable(s"partitions($root)", PartitionsSchema, rows)
  }

  private val StatsSchema = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("ndv", LongType, nullable = true),
    StructField("exact_ndv", BooleanType, nullable = false),
    StructField("null_count", LongType, nullable = true),
    StructField("min", LongType, nullable = true),
    StructField("max", LongType, nullable = true),
    // distribution quartiles from the merged per-file value samples
    // ([[ManifestSink]] 'quantile.columns' sketches) — NULL for columns
    // without a complete sketch cover, never fabricated
    StructField("q25", LongType, nullable = true),
    StructField("q50", LongType, nullable = true),
    StructField("q75", LongType, nullable = true)))

  /** `SELECT * FROM cat.db.t.stats` — per-column table statistics, the
    * operational twin of the scan's CBO `columnStats` report: one row
    * per schema column with the NDV (exact for identity partition keys
    * — the distinct tuple set — and for single-file tables; otherwise
    * the per-file-exact counts folded to an upper bound), the null
    * count, and integer bounds, all from manifest metadata alone
    * (kilobytes, LocalScan, no executors). Columns the manifest has no
    * stats for report NULLs — absence is visible, never fabricated.
    * This is what an operator reads to decide whether a join key needs
    * a layout change or a filter is worth a z-order. */
  private[sources] def statsTable(root: Path): Table = {
    val st = ManifestSink.readState(root)
    val es = st.entries
    val schema = st.schema.getOrElse(StructType(Nil))
    val tfByCol = st.partSpec.map(t => t.col -> t).toMap
    val rows = schema.fields.map { f =>
      val name = f.name
      val intish = f.dataType == LongType || f.dataType == IntegerType
      val identityKey = es.nonEmpty && st.partCols.contains(name) &&
        tfByCol.get(name).forall(_.isInstanceOf[ManifestSink.PIdentity]) &&
        es.forall(e => e.specId == st.specId && e.parts.contains(name))
      // (value, exact): identity keys and single clean files are exact;
      // multi-file tables answer from the merged HLL sketches (6.5%
      // standard error — cross-file duplicates deduplicate); legacy
      // sketch-less files fall back to the exact-count sum upper bound
      val (ndv, ndvExact): (Option[Long], Boolean) =
        if (identityKey)
          (Some(es.map(_.parts(name)).distinct
            .count(_ != ManifestSink.NullPartValue).toLong), true)
        else if (es.size == 1 && es.head.ndvs.contains(name))
          (Some(es.head.ndvs(name)), true)
        else if (es.nonEmpty && es.forall(_.ndvSk.contains(name)))
          (Some(math.min(
            NdvSketch.estimate(es.map(e => NdvSketch.decode(e.ndvSk(name)))
              .reduce(NdvSketch.merge)),
            es.map(_.liveRows).sum)), false)
        else if (es.nonEmpty && es.forall(_.ndvs.contains(name)))
          (Some(math.min(es.map(_.ndvs(name)).sum, es.map(_.liveRows).sum)), false)
        else (None, false)
      val nulls: Option[Long] =
        if (identityKey)
          Some(es.filter(_.parts(name) == ManifestSink.NullPartValue)
            .map(_.liveRows).sum)
        else if (es.nonEmpty && es.forall(_.nulls.contains(name)))
          Some(es.map(_.nulls(name)).sum)
        else None
      val (mn, mx): (Option[Long], Option[Long]) =
        if (intish && es.nonEmpty &&
            es.forall(e => e.mins.contains(name) && e.maxs.contains(name)))
          (Some(es.map(_.mins(name)).min), Some(es.map(_.maxs(name)).max))
        else (None, None)
      // quartiles: only when EVERY entry carries this column's value
      // sample (a partial cover would bias toward the sketched files);
      // the merged bottom-k is exactly the sketch one writer over the
      // whole table would have produced, so the estimate is
      // split-invariant
      val qsks =
        if (es.nonEmpty && es.forall(_.qsk.contains(name)))
          Some(es.map(e => QuantileSketch.decode(e.qsk(name)))
            .reduce(QuantileSketch.merge))
        else None
      def quart(num: Int): Option[Long] =
        qsks.flatMap(entries => QuantileSketch.quantile(entries, num, 4))
      // outstanding equality deletes hide rows the manifest still
      // counts — every count degrades to an upper bound until OPTIMIZE
      // materializes them, so exactness is only claimed on a clean table
      new GenericInternalRow(Array[Any](UTF8String.fromString(name),
        ndv.map(Long.box).orNull,
        ndvExact && st.eqDels.isEmpty,
        nulls.map(Long.box).orNull,
        mn.map(Long.box).orNull, mx.map(Long.box).orNull,
        quart(1).map(Long.box).orNull,
        quart(2).map(Long.box).orNull,
        quart(3).map(Long.box).orNull)): InternalRow
    }
    staticTable(s"stats($root)", StatsSchema, rows)
  }

  private val OptimizeOutput = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("files_before", IntegerType, nullable = false),
    StructField("files_after", IntegerType, nullable = false),
    StructField("rewritten_files", IntegerType, nullable = false),
    StructField("rewritten_rows", LongType, nullable = false)))

  /** `CALL graft.system.optimize(table => 'db.t', target_rows => N)` —
    * bin-packing compaction ([[ManifestSink.compact]]); with
    * `zorder => 'c1,c2'` a full clustered rewrite instead
    * ([[ManifestSink.compactZOrder]]): rows re-sorted on the Morton
    * interleave of the named integer columns so multi-column range
    * predicates prune files. Both publish dataChange=false rewrite
    * versions: streams and the change feed skip them, time travel keeps
    * the prior layout readable. */
  private class OptimizeProcedure(catalog: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "optimize"
    override def description(): String =
      "Compact a manifest table: bin-pack small files, or ZORDER-cluster " +
        "the whole table when `zorder` names columns"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name within this catalog, e.g. 'db.t'").build(),
      ProcedureParameter.in("target_rows", LongType)
        .comment("target rows per output file").build(),
      ProcedureParameter.in("zorder", StringType).defaultValue("''")
        .comment("comma-separated integer columns to cluster by; " +
          "empty = plain bin-packing").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val targetRows = input.getLong(1)
      val zorder = Option(input.getUTF8String(2)).map(_.toString).getOrElse("")
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val parts = tableName.split('.')
      val ident = Identifier.of(parts.init, parts.last)
      val root = catalog.tablePath(ident)
      if (!catalog.isTable(root)) throw new NoSuchTableException(ident)
      val res =
        if (zorder.isEmpty) ManifestSink.compact(root.toString, targetRows)
        else ManifestSink.compactZOrder(
          org.apache.spark.sql.SparkSession.active, root.toString, zorder, targetRows)
      val row = new GenericInternalRow(Array[Any](
        res.version, res.filesBefore, res.filesAfter,
        res.rewrittenFiles, res.rewrittenRows)): InternalRow
      util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = OptimizeOutput
        override def rows(): Array[InternalRow] = Array(row)
      }).iterator()
    }
  }

  private val SsimReindexOutput = StructType(Seq(
    StructField("source_version", LongType, nullable = false),
    StructField("prefix_files_before", IntegerType, nullable = false),
    StructField("prefix_files_after", IntegerType, nullable = false)))

  /** `CALL graft.system.ssim_reindex(source => 'db.docs',
    * df_table => 'db.sdf', prefix_table => 'db.spre')` — rebuild the
    * set-sim prefix index's frozen df order and every stored prefix
    * from the source's current snapshot ([[SsimIndexMaintenance
    * .reindex]]): the scheduled drift repair q199's frozen-df contract
    * calls for. Probe results are invariant (exact verification); what
    * the rebuild restores is pruning power — and the per-append prefix
    * files consolidate back into one token-clustered layout. */
  private class SsimReindexProcedure(catalog: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "ssim_reindex"
    override def description(): String =
      "Rebuild a set-sim prefix index (frozen df + prefixes) from the " +
        "source's current snapshot"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("source", StringType)
        .comment("document source table within this catalog, e.g. 'db.docs'").build(),
      ProcedureParameter.in("df_table", StringType)
        .comment("the index's document-frequency table").build(),
      ProcedureParameter.in("prefix_table", StringType)
        .comment("the index's prefix table").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val Seq(src, dfT, preT) = (0 to 2)
        .map(i => input.getUTF8String(i).toString)
      Seq(src, dfT, preT).foreach { t =>
        val parts = t.split('.')
        val ident = Identifier.of(parts.init, parts.last)
        if (!catalog.isTable(catalog.tablePath(ident)))
          throw new NoSuchTableException(ident)
      }
      val s = org.apache.spark.sql.SparkSession.active
      val preRoot = catalog.tablePath(
        Identifier.of(preT.split('.').init, preT.split('.').last))
      val before = ManifestSink.committedEntries(preRoot, None).size
      val v = SsimIndexMaintenance.reindex(s, catalog.name(), src, dfT, preT)
      val after = ManifestSink.committedEntries(preRoot, None).size
      val row = new GenericInternalRow(Array[Any](v, before, after)): InternalRow
      util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = SsimReindexOutput
        override def rows(): Array[InternalRow] = Array(row)
      }).iterator()
    }
  }

  private val SpecOutput = StructType(Seq(
    StructField("spec_id", LongType, nullable = false),
    StructField("migrated_files", LongType, nullable = false),
    StructField("migrated_rows", LongType, nullable = false)))

  /** `CALL graft.system.evolve_spec(table => 'db.t', spec => 'days(ts)')`
    * — metadata-only partition-spec evolution
    * ([[ManifestSink.evolvePartitionSpec]]); existing files keep
    * pruning under the spec they were written with.
    * `CALL graft.system.migrate_spec(table => 'db.t')` rewrites
    * stale-spec files through the current layout
    * ([[ManifestSink.migrateToCurrentSpec]]), unlocking dynamic
    * overwrite / ZORDER / SPJ after an evolution. */
  private class SpecProcedure(catalog: GraftCatalog, evolve: Boolean)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = if (evolve) "evolve_spec" else "migrate_spec"
    override def description(): String =
      if (evolve) "Change a manifest table's partition spec (metadata-only)"
      else "Rewrite files still laid out under archived partition specs"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] =
      if (evolve) Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name within this catalog, e.g. 'db.t'").build(),
        ProcedureParameter.in("spec", StringType)
          .comment("new spec, e.g. 'days(ts)' or 'bucket(16, k), region'; " +
            "empty = unpartitioned").build())
      else Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name within this catalog, e.g. 'db.t'").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val parts = tableName.split('.')
      val ident = Identifier.of(parts.init, parts.last)
      val root = catalog.tablePath(ident)
      if (!catalog.isTable(root)) throw new NoSuchTableException(ident)
      val row: InternalRow =
        if (evolve) {
          val schema = ManifestSink.readSchema(root)
          val spec = ManifestSink.parseSpecString(
            Option(input.getUTF8String(1)).map(_.toString).getOrElse(""), schema)
          val id = ManifestSink.evolvePartitionSpec(root.toString, spec)
          new GenericInternalRow(Array[Any](id, 0L, 0L))
        } else {
          val res = ManifestSink.migrateToCurrentSpec(root.toString)
          new GenericInternalRow(Array[Any](
            ManifestSink.readHeader(root).specId,
            res.rewrittenFiles.toLong, res.rewrittenRows))
        }
      util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = SpecOutput
        override def rows(): Array[InternalRow] = Array(row)
      }).iterator()
    }
  }

  private val RollbackOutput = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("restored_version", LongType, nullable = false)))

  /** `CALL graft.system.rollback(table => 'db.t', version => N)` —
    * RESTORE to version N as a NEW commit ([[ManifestSink.rollback]]):
    * history stays append-only, the bad versions remain auditable, and
    * a concurrent commit loses the CAS loudly. */
  private class RollbackProcedure(catalog: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "Restore a manifest table to an earlier version as a new commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name within this catalog, e.g. 'db.t'").build(),
      ProcedureParameter.in("version", LongType)
        .comment("manifest version to restore (must be earlier than current)").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val toVersion = input.getLong(1)
      val parts = tableName.split('.')
      val ident = Identifier.of(parts.init, parts.last)
      val root = catalog.tablePath(ident)
      if (!catalog.isTable(root)) throw new NoSuchTableException(ident)
      val newVersion = ManifestSink.rollback(root.toString, toVersion)
      val row = new GenericInternalRow(Array[Any](newVersion, toVersion)): InternalRow
      util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = RollbackOutput
        override def rows(): Array[InternalRow] = Array(row)
      }).iterator()
    }
  }

  private val BranchOutput = StructType(Seq(
    StructField("branch", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  /** The three WAP verbs as one procedure family:
    *  - `CALL graft.system.create_branch(table => 'db.t', branch => 'audit')`
    *    anchors a staging lane at the current version (returned);
    *  - `fast_forward` publishes the staged appends onto main as one
    *    commit (returns the new main version) — loud failure if main
    *    moved since the anchor;
    *  - `drop_branch` abandons the lane metadata-only (returns how many
    *    branch manifests were removed); staged data files age into
    *    vacuum's orphan sweep. */
  private class BranchProcedure(catalog: GraftCatalog, verb: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = verb
    override def description(): String = verb match {
      case "create_branch" => "Create a WAP staging branch anchored at the current version"
      case "fast_forward" => "Publish a staged branch onto main as one commit"
      case _ => "Drop a staging branch (metadata-only)"
    }
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name within this catalog, e.g. 'db.t'").build(),
      ProcedureParameter.in("branch", StringType)
        .comment("branch name ([A-Za-z0-9_-], max 64 chars)").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val b = input.getUTF8String(1).toString
      val parts = tableName.split('.')
      val ident = Identifier.of(parts.init, parts.last)
      val root = catalog.tablePath(ident)
      if (!catalog.isTable(root)) throw new NoSuchTableException(ident)
      val v: Long = verb match {
        case "create_branch" => ManifestSink.createBranch(root, b)
        case "fast_forward" => ManifestSink.fastForward(root, b)
        case _ => ManifestSink.dropBranch(root, b).toLong
      }
      val row = new GenericInternalRow(
        Array[Any](UTF8String.fromString(b), v)): InternalRow
      util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = BranchOutput
        override def rows(): Array[InternalRow] = Array(row)
      }).iterator()
    }
  }

  private val RefsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  /** `SELECT * FROM cat.db.t.refs` — every named reference on the table
    * (the Iceberg refs metadata table): `main` at the current version,
    * each TAG at its pinned version, each live BRANCH at its anchor.
    * What an operator reads before a vacuum or a retention change —
    * "what would break if this snapshot expired". Manifest-derived
    * kilobytes, LocalScan, no executors. */
  private[sources] def refsTable(root: Path): Table = {
    val rows =
      (Seq(("main", "branch", ManifestSink.currentVersion(root))) ++
        ManifestSink.tagsOf(root).toSeq.sortBy(_._1)
          .map { case (n, v) => (n, "tag", v) } ++
        ManifestSink.listBranches(root).sorted
          .map(b => (b, "branch", ManifestSink.branchBase(root, b))))
        .map { case (n, t, v) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(n),
            UTF8String.fromString(t), v)): InternalRow
        }.toArray
    staticTable(s"refs($root)", RefsSchema, rows)
  }

  private val TagOutput = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  /** `CALL graft.system.tag(table => 'db.t', name => 'v1-release')`
    * pins the CURRENT version under an immutable name (pass
    * `version => N` for an older snapshot); `drop_tag` releases it.
    * Both are metadata-only CAS commits; vacuum pins tagged versions
    * like live branch anchors, and `VERSION AS OF '<name>'` resolves
    * tags before branches. */
  private class TagProcedure(catalog: GraftCatalog, create: Boolean)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = if (create) "tag" else "drop_tag"
    override def description(): String =
      if (create) "Pin the current (or a named) version under an immutable tag"
      else "Drop a tag (metadata-only; the snapshot ages back into retention)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] =
      if (create) Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name within this catalog, e.g. 'db.t'").build(),
        ProcedureParameter.in("name", StringType)
          .comment("tag name ([A-Za-z0-9_-], max 64 chars)").build(),
        ProcedureParameter.in("version", LongType).defaultValue("-1")
          .comment("version to pin (default: the current one)").build())
      else Array(
        ProcedureParameter.in("table", StringType)
          .comment("table name within this catalog, e.g. 'db.t'").build(),
        ProcedureParameter.in("name", StringType)
          .comment("tag to drop").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val t = input.getUTF8String(1).toString
      val parts = tableName.split('.')
      val ident = Identifier.of(parts.init, parts.last)
      val root = catalog.tablePath(ident)
      if (!catalog.isTable(root)) throw new NoSuchTableException(ident)
      val v: Long =
        if (create) {
          val at = input.getLong(2)
          ManifestSink.createTag(root.toString, t,
            if (at < 0L) None else Some(at))
        } else ManifestSink.dropTag(root.toString, t)
      val row = new GenericInternalRow(
        Array[Any](UTF8String.fromString(t), v)): InternalRow
      util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = TagOutput
        override def rows(): Array[InternalRow] = Array(row)
      }).iterator()
    }
  }

  private val VacuumOutput = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("deleted", BooleanType, nullable = false)))

  /** `CALL graft.system.vacuum(table => 'db.t', retain => 3)` — retention
    * GC with an operator-reviewable preview. The DEFAULT is a dry run:
    * the result set lists exactly what a real pass would delete (expired
    * manifests, unreferenced data files past the orphan grace window,
    * orphaned staging files) without touching anything, so the sweep can
    * be reviewed before `dry_run => false` performs it. A procedure
    * rather than a write option because VACUUM is an operator action on
    * the table, not a property of any particular write. */
  private class VacuumProcedure(catalog: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "List (dry_run, the default) or delete manifest-table files no " +
        "longer reachable from the `retain` most recent versions"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("table name within this catalog, e.g. 'db.t'").build(),
      ProcedureParameter.in("retain", IntegerType)
        .comment("number of most-recent versions to keep (>= 1)").build(),
      ProcedureParameter.in("dry_run", BooleanType).defaultValue("true")
        .comment("preview only (default); false performs the deletions").build(),
      ProcedureParameter.in("grace_ms", LongType).defaultValue("3600000")
        .comment("age before an unreferenced data/tmp file is sweepable").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val tableName = input.getUTF8String(0).toString
      val retain = input.getInt(1)
      val dryRun = input.getBoolean(2)
      val graceMs = input.getLong(3)
      val parts = tableName.split('.')
      val ident = Identifier.of(parts.init, parts.last)
      val root = catalog.tablePath(ident)
      if (!catalog.isTable(root)) throw new NoSuchTableException(ident)
      val report = ManifestSink.vacuum(root, retain, graceMs, dryRun)
      val resultRows = report.candidates.map { c =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(c.kind), UTF8String.fromString(c.name),
          c.bytes, !report.dryRun)): InternalRow
      }.toArray
      util.Collections.singletonList[Scan](new LocalScan {
        override def readSchema(): StructType = VacuumOutput
        override def rows(): Array[InternalRow] = resultRows
      }).iterator()
    }
  }
}
