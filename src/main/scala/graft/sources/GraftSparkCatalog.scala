package graft.sources

import graft.catalog.GraftCatalog
import graft.format.{Predicate, Transform => GTransform}
import graft.table.{GraftScan, GraftTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal => CLiteral, And => CAnd, Or => COr, EqualTo => CEq, GreaterThan => CGt, GreaterThanOrEqual => CGtEq, LessThan => CLt, LessThanOrEqual => CLtEq, In => CIn, IsNull => CIsNull, IsNotNull => CIsNotNull, StartsWith => CStartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference, Transform => VTransform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 catalog surface for Graft tables (reference docs/04:5-23,
  * docs/08:83-141 — every user-facing write in the reference is SQL):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.g", classOf[GraftTableCatalog].getName)
  * spark.conf.set("spark.sql.catalog.g.warehouse", "/wh")
  * spark.sql("CREATE TABLE g.db.events (id BIGINT, ts TIMESTAMP_NTZ) PARTITIONED BY (days(ts))")
  * spark.sql("INSERT INTO g.db.events SELECT ...")
  * spark.sql("DELETE FROM g.db.events WHERE id < 10")
  * spark.sql("SELECT * FROM g.db.events VERSION AS OF 3")
  * spark.sql("ALTER TABLE g.db.events ADD COLUMN note STRING")
  * }}}
  *
  * Read-path design: every read of a snapshot — catalog SQL, time travel
  * and `format("graft")` alike — is served by one DSv2 batch scan,
  * [[GraftDppScan]]: manifest/file pruning happens driver-side with the
  * pushed filters, each file decodes through Spark's own vectorized
  * parquet reader under its write schema with columns resolved by field
  * ID, position deletes are applied per task, and the scan stays in the
  * plan so it can take runtime filters and, for bucketed tables, report
  * storage partitioning. [[GraftSqlRewrites]], installed when the catalog
  * or source is first used in a session, translates SQL DML and answers
  * exact global aggregates from metadata.
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with FunctionCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var cat: GraftCatalog = _

  // FunctionCatalog: exposes the write path's partition transforms so Spark
  // can resolve reported KeyGroupedPartitioning keys (storage-partitioned
  // joins resolve `bucket` through the relation's function catalog).
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse"))
      .getOrElse(sys.error(s"catalog $name requires option 'warehouse'"))
    cat = new GraftCatalog(wh)
    GraftExtensions.install(SparkSession.active)
  }

  override def name(): String = catalogName

  private def fullName(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    cat.listTables(namespace.mkString(".")).map { n =>
      Identifier.of(namespace, n.split('.').last)
    }.toArray

  override def loadTable(ident: Identifier): Table = {
    if (!cat.tableExists(fullName(ident))) {
      // Iceberg-style metadata tables (docs/03:173-180, docs/05:75-80):
      // `SELECT * FROM g.db.t.snapshots` resolves db.t + a meta suffix.
      val base = ident.namespace().mkString(".")
      if (ident.namespace().length > 1 && cat.tableExists(base) &&
          GraftMetaSparkTable.suffixes.contains(ident.name().toLowerCase))
        return new GraftMetaSparkTable(cat.loadTable(base), ident.name().toLowerCase)
      throw new NoSuchTableException(ident)
    }
    new GraftSparkTable(cat.loadTable(fullName(ident)), TimeTravel.None)
  }

  // ---- procedures: CALL <cat>.system.<proc>(...) (SQL maintenance surface,
  // reference docs/03:184-206 — see GraftProcedures) ----

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    GraftProcedures.load(cat, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  /** VERSION AS OF <snapshot-id | ref-name> (docs/05:60-67,141-171). A
    * non-numeric version is resolved as a branch/tag ref, the way Iceberg
    * resolves version strings — branches read the live schema, tags pin.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!cat.tableExists(fullName(ident))) throw new NoSuchTableException(ident)
    val t = cat.loadTable(fullName(ident))
    val travel = version.toLongOption match {
      case Some(id) => TimeTravel.AtSnapshot(id)
      case None =>
        require(t.meta.refs.contains(version),
          s"${fullName(ident)}: '$version' is neither a snapshot id nor a known branch/tag ref")
        TimeTravel.AtRef(version)
    }
    new GraftSparkTable(t, travel)
  }

  /** TIMESTAMP AS OF — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!cat.tableExists(fullName(ident))) throw new NoSuchTableException(ident)
    new GraftSparkTable(cat.loadTable(fullName(ident)), TimeTravel.AsOf(timestamp / 1000L))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[VTransform],
                           properties: util.Map[String, String]): Table = {
    val partitionBy = partitions.toSeq.map(GraftTableCatalog.toGraftTransform)
    val props = properties.asScala.toMap -- Seq("provider", "owner", "location", "comment")
    new GraftSparkTable(cat.createTable(fullName(ident), schema, partitionBy, props),
      TimeTravel.None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = cat.loadTable(fullName(ident))
    // every change becomes a pure metadata transform; ONE CAS commit folds
    // them, so a multi-change ALTER is atomic — per-change commits let a
    // failing later change strand the earlier ones durably applied
    val ops: Seq[graft.format.TableMetadata => graft.format.TableMetadata] = changes.map {
      case c: TableChange.SetProperty =>
        (m: graft.format.TableMetadata) => m.copy(properties = m.properties + (c.property() -> c.value()))
      case c: TableChange.RemoveProperty =>
        (m: graft.format.TableMetadata) => m.copy(properties = m.properties - c.property())
      // dotted paths address struct subfields (nested evolution, docs/06:114-118)
      case c: TableChange.AddColumn =>
        val after = c.position() match {
          case null => None
          case a: TableChange.After => Some(a.column())
          case other => sys.error(s"unsupported column position $other (AFTER only)")
        }
        t.addColumnChange(c.fieldNames().mkString("."), c.dataType(), after)
      case c: TableChange.RenameColumn =>
        t.renameColumnChange(c.fieldNames().mkString("."), c.newName())
      case c: TableChange.DeleteColumn =>
        t.dropColumnChange(c.fieldNames().mkString("."))
      case c: TableChange.UpdateColumnType =>
        t.widenColumnChange(c.fieldNames().mkString("."), c.newDataType())
      case c: TableChange.UpdateColumnNullability =>
        if (c.nullable()) t.makeOptionalChange(c.fieldNames().mkString("."))
        else sys.error("cannot add NOT NULL to an existing column")
      case other => sys.error(s"unsupported table change: $other")
    }
    t.alterAtomically(ops)
    new GraftSparkTable(t, TimeTravel.None)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (!cat.tableExists(fullName(ident))) false
    else { cat.dropTable(fullName(ident)); true }

  // ---- staged DDL: CREATE OR REPLACE [AS SELECT] (docs/01:182) ----
  // Spark's atomic exec nodes write through the staged table and only then
  // call commitStagedChanges(); nothing below persists before that call, so
  // a failed REPLACE leaves the live table untouched. The replace itself is
  // GraftTable.replaceWith — one CAS commit preserving identity + history.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[VTransform],
                           properties: util.Map[String, String]): StagedTable =
    new GraftStagedTable(cat, fullName(ident), schema, partitions, properties,
      GraftStagedTable.Create)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[VTransform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!cat.tableExists(fullName(ident))) throw new NoSuchTableException(ident)
    new GraftStagedTable(cat, fullName(ident), schema, partitions, properties,
      GraftStagedTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[VTransform],
                                    properties: util.Map[String, String]): StagedTable =
    new GraftStagedTable(cat, fullName(ident), schema, partitions, properties,
      GraftStagedTable.CreateOrReplace)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported")

  // ---- namespaces (single-level, directory-backed) ----

  private def whPath = java.nio.file.Paths.get(cat.warehouse)

  override def listNamespaces(): Array[Array[String]] = {
    if (!java.nio.file.Files.exists(whPath)) return Array.empty
    val s = java.nio.file.Files.list(whPath)
    try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString)).toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(cat.warehouse, namespace: _*))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(cat.warehouse, namespace: _*))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = java.nio.file.Paths.get(cat.warehouse, namespace: _*)
    if (!java.nio.file.Files.exists(p)) false
    else {
      // "empty" must count stored VIEWS too (GraftViews' view.sql files) —
      // listTables only recognizes table dirs, and the no-cascade guard
      // exists precisely to refuse deleting definitions the caller forgot
      def hasViews: Boolean = {
        val s = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.exists(d => java.nio.file.Files.exists(d.resolve("view.sql")))
        } finally s.close()
      }
      require(cascade || (listTables(namespace).isEmpty && !hasViews),
        "namespace is not empty")
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile); true
    }
  }
}

/** A staged CREATE / REPLACE / CREATE OR REPLACE target. Writes during
  * staging (CTAS/RTAS) buffer the source DataFrame; commitStagedChanges()
  * then performs the whole operation — for REPLACE, one CAS commit via
  * [[GraftTable.replaceWith]] with the data folded into the "replace"
  * snapshot, so readers never observe an intermediate empty table. Nothing
  * persists before commit; abort is a no-op.
  */
class GraftStagedTable(cat: GraftCatalog, tableName: String, tableSchema: StructType,
                       partitions: Array[VTransform], props: util.Map[String, String],
                       mode: GraftStagedTable.Mode) extends StagedTable with SupportsWrite {

  private var buffered: Option[DataFrame] = None

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // staged target is empty by definition
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: DataFrame, ovr: Boolean): Unit = { buffered = Some(data) }
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    val partitionBy = partitions.toSeq.map(GraftTableCatalog.toGraftTransform)
    val properties = props.asScala.toMap -- Seq("provider", "owner", "location", "comment")
    mode match {
      case GraftStagedTable.Create =>
        val t = cat.createTable(tableName, tableSchema, partitionBy, properties)
        buffered.foreach(df => t.append(df.sparkSession, df,
          statementId = Some(s"ctas-$tableName")))
      case GraftStagedTable.Replace =>
        cat.loadTable(tableName)
          .replaceWith(tableSchema, partitionBy, properties, data = buffered)
      case GraftStagedTable.CreateOrReplace =>
        cat.replaceTable(tableName, tableSchema, partitionBy, properties,
          spark = buffered.map(_.sparkSession), data = buffered)
    }
  }

  override def abortStagedChanges(): Unit = () // nothing persisted pre-commit
}

object GraftStagedTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

object GraftTableCatalog {
  /** Map Spark connector partition transforms to Graft transforms. */
  def toGraftTransform(t: VTransform): (String, GTransform) = {
    def col(ref: NamedReference): String = {
      require(ref.fieldNames().length == 1, "nested partition columns not supported")
      ref.fieldNames()(0)
    }
    // the Scala extractors for connector transforms are private[sql];
    // match on the stable name()/references()/arguments() surface instead
    def ref: String = {
      require(t.references().length == 1, s"unsupported partition transform: $t")
      col(t.references()(0))
    }
    def intArg: Int = t.arguments().collectFirst { case l: VLiteral[_] => l.value }
      .getOrElse(sys.error(s"transform $t lacks an int argument")).toString.toInt
    t.name() match {
      case "identity" => ref -> GTransform.Identity
      case "years" | "year" => ref -> GTransform.Year
      case "months" | "month" => ref -> GTransform.Month
      case "days" | "day" => ref -> GTransform.Day
      case "hours" | "hour" => ref -> GTransform.Hour
      case "bucket" => ref -> GTransform.Bucket(intArg)
      case "truncate" => ref -> GTransform.Truncate(intArg)
      case _ => sys.error(s"unsupported partition transform: $t")
    }
  }
}

/** How a loaded table is pinned in time. */
sealed trait TimeTravel
object TimeTravel {
  case object None extends TimeTravel
  final case class AtSnapshot(id: Long) extends TimeTravel
  final case class AsOf(tsMs: Long) extends TimeTravel
  final case class AtRef(name: String) extends TimeTravel
}

/** DSv2 Table over a [[GraftTable]], pinned in time: batch read (the DSv2
  * scan over the pinned snapshot), V1 batch write (append/overwrite),
  * filter-based DELETE, truncate. Both the catalog and the
  * `format("graft")` source serve this table.
  */
class GraftSparkTable(val graftTable: GraftTable, val travel: TimeTravel) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  override def name(): String = graftTable.name
  // a time-traveled relation reports the PINNED snapshot's schema — the
  // current schema may be unrelated after CREATE OR REPLACE (docs/01:182)
  override def schema(): StructType = travel match {
    case TimeTravel.None => graftTable.schema
    case _ => nativeScan(Nil).scanSchema
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** Surface the hidden-partitioning spec + table properties so DESCRIBE /
    * SHOW CREATE reflect reality.
    */
  override def partitioning(): Array[VTransform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val m = graftTable.meta
    m.defaultSpec.fields.flatMap { pf =>
      val src = m.currentSchema.fields
        .find(f => graft.format.GraftSchema.fieldId(f) == pf.sourceId).map(_.name)
      src.map { col =>
        pf.transform match {
          case graft.format.Transform.Identity => Expressions.identity(col)
          case graft.format.Transform.Year => Expressions.years(col)
          case graft.format.Transform.Month => Expressions.months(col)
          case graft.format.Transform.Day => Expressions.days(col)
          case graft.format.Transform.Hour => Expressions.hours(col)
          case graft.format.Transform.Bucket(n) => Expressions.bucket(n, col)
          case graft.format.Transform.Truncate(w) =>
            Expressions.apply("truncate", Expressions.literal(w), Expressions.column(col))
          case _ => Expressions.identity(col)
        }
      }
    }.toArray
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    graftTable.properties.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** The pinned native scan (current snapshot unless time-traveling). */
  def nativeScan(preds: Seq[Predicate]): GraftScan = travel match {
    case TimeTravel.AtSnapshot(id) => graftTable.atSnapshot(id, preds: _*)
    case TimeTravel.AsOf(ts) => graftTable.asOf(ts, preds: _*)
    case TimeTravel.AtRef(r) => graftTable.atRef(r, preds: _*)
    case TimeTravel.None => graftTable.scan(preds: _*)
  }

  /** ONE pinned native scan per build plans the snapshot: its files and
    * deletes feed the DSv2 scan, with runtime filters for tables that
    * carry a prunable plane and key-grouped partitions for bucketed ones.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(schema(), (preds, accepted, required) => {
      val native = nativeScan(preds) // cheap: planning is lazy inside
      val (files, deletes, _) = native.plan
      new GraftDppScan(native, files, deletes, accepted, required,
        GraftSpj.shapeOf(SparkSession.active, this, files),
        GraftDpp.runtimePrunable(native.meta))
    })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: DataFrame, ovr: Boolean): Unit = {
            val spark = data.sparkSession
            if (overwrite || ovr) graftTable.overwrite(spark, data)
            else graftTable.append(spark, data)
          }
        }
      }
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => CatalystPredicates.toPredicate(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit =
    graftTable.delete(SparkSession.active,
      filters.flatMap(f => CatalystPredicates.toPredicate(f)).toSeq)
}

/** Pushed filters and pruned columns of one Graft read; `scan` builds the
  * DSv2 scan from the translated predicates, the accepted filters and the
  * pruned read schema.
  */
class GraftScanBuilder(schema: StructType,
                       scan: (Seq[Predicate], Array[Filter], StructType) => Scan)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var preds: Seq[Predicate] = Nil
  private var accepted: Array[Filter] = Array.empty
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => CatalystPredicates.toPredicate(f).isDefined)
    preds = accepted.flatMap(f => CatalystPredicates.toPredicate(f)).toSeq
    // every filter stays post-scan (Spark re-applies them all): the pushed
    // predicates only drive Graft's driver-side manifest/file pruning and
    // row-group skipping, so soundness never depends on the translation.
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = scan(preds, accepted, required.getOrElse(schema))
}

/** A read of an explicit file list of one pinned [[GraftScan]] — the
  * relation behind `GraftScan.toDF` and `materialize` (DML candidate reads,
  * compaction, the change feed). The files are already planned, so pushed
  * filters only reach the parquet reader, and no runtime filter is
  * offered. With `withFileMeta` the rows carry `_gf_file` (the data file's
  * URI, as `_metadata.file_path` gives it) and `_gf_pos` (the row's
  * position in that file), which MOR deletes are written from.
  */
class GraftFilesTable(native: GraftScan, files: Seq[graft.format.DataFile],
                      deletes: Seq[graft.format.DataFile], withFileMeta: Boolean)
    extends Table with SupportsRead {
  override def name(): String = native.table.name
  // column IDs stay table metadata: the frame's top-level fields carry none
  override def schema(): StructType = {
    val cols = StructType(native.scanSchema.fields.map(_.copy(
      metadata = org.apache.spark.sql.types.Metadata.empty)))
    if (!withFileMeta) cols
    else cols.add(GraftSpj.FileCol, org.apache.spark.sql.types.StringType)
      .add(GraftSpj.PosCol, org.apache.spark.sql.types.LongType)
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(schema(), (_, accepted, required) =>
      new GraftDppScan(native, files, deletes, accepted, required,
        bucketing = None, runtimeFiltering = false))

  // identity by content, so Spark's cache manager recognizes a second read
  // of the same files (ResultCache serves repeated reads through it)
  private lazy val key = (native.meta.location, native.scanSchema, files.map(_.path),
    deletes.map(_.path), withFileMeta)
  override def equals(o: Any): Boolean = o match {
    case t: GraftFilesTable => t.key == key
    case _ => false
  }
  override def hashCode(): Int = key.hashCode()
}

/** Spark → Graft predicate translation, for both shapes Spark hands a
  * Graft read: `sources.Filter`s (pushed into the scan builder, DELETE's
  * `SupportsDelete`, the DSv2 scan's runtime filters) and Catalyst
  * expressions (SQL DML conditions, metadata aggregates). Partial on
  * purpose: untranslatable conjuncts just don't prune — Spark re-applies
  * the full filter, so soundness never depends on the translation.
  */
object CatalystPredicates {
  def toPredicate(f: Filter): Option[Predicate] = f match {
    case sources.EqualTo(c, v) => Some(Predicate.Eq(c, v))
    case sources.GreaterThan(c, v) => Some(Predicate.Gt(c, v))
    case sources.GreaterThanOrEqual(c, v) => Some(Predicate.GtEq(c, v))
    case sources.LessThan(c, v) => Some(Predicate.Lt(c, v))
    case sources.LessThanOrEqual(c, v) => Some(Predicate.LtEq(c, v))
    case sources.In(c, vs) => Some(Predicate.In(c, vs.toSeq))
    case sources.IsNull(c) => Some(Predicate.IsNull(c))
    case sources.IsNotNull(c) => Some(Predicate.NotNull(c))
    case sources.StringStartsWith(c, p) => Some(Predicate.StartsWith(c, p))
    case sources.And(l, r) => (toPredicate(l), toPredicate(r)) match {
      case (Some(a), Some(b)) => Some(Predicate.And(a, b))
      case (a, b) => a.orElse(b) // half-pushable AND is still sound
    }
    case sources.Or(l, r) => for (a <- toPredicate(l); b <- toPredicate(r))
      yield Predicate.Or(a, b)
    case _ => None
  }

  def toPredicate(e: Expression): Option[Predicate] = e match {
    case CEq(a: AttributeReference, l: CLiteral) => lit(l).map(Predicate.Eq(a.name, _))
    case CEq(l: CLiteral, a: AttributeReference) => lit(l).map(Predicate.Eq(a.name, _))
    case CGt(a: AttributeReference, l: CLiteral) => lit(l).map(Predicate.Gt(a.name, _))
    case CGt(l: CLiteral, a: AttributeReference) => lit(l).map(Predicate.Lt(a.name, _))
    case CGtEq(a: AttributeReference, l: CLiteral) => lit(l).map(Predicate.GtEq(a.name, _))
    case CGtEq(l: CLiteral, a: AttributeReference) => lit(l).map(Predicate.LtEq(a.name, _))
    case CLt(a: AttributeReference, l: CLiteral) => lit(l).map(Predicate.Lt(a.name, _))
    case CLt(l: CLiteral, a: AttributeReference) => lit(l).map(Predicate.Gt(a.name, _))
    case CLtEq(a: AttributeReference, l: CLiteral) => lit(l).map(Predicate.LtEq(a.name, _))
    case CLtEq(l: CLiteral, a: AttributeReference) => lit(l).map(Predicate.GtEq(a.name, _))
    case CIn(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[CLiteral]) =>
      val lits = vs.map(v => lit(v.asInstanceOf[CLiteral]))
      if (lits.forall(_.isDefined)) Some(Predicate.In(a.name, lits.flatten)) else None
    case CIsNull(a: AttributeReference) => Some(Predicate.IsNull(a.name))
    case CIsNotNull(a: AttributeReference) => Some(Predicate.NotNull(a.name))
    case CStartsWith(a: AttributeReference, l: CLiteral) =>
      lit(l).collect { case s: String => Predicate.StartsWith(a.name, s) }
    case CAnd(x, y) => (toPredicate(x), toPredicate(y)) match {
      case (Some(a), Some(b)) => Some(Predicate.And(a, b))
      case (a, b) => a.orElse(b) // half-pushable AND still prunes soundly
    }
    case COr(x, y) => for (a <- toPredicate(x); b <- toPredicate(y)) yield Predicate.Or(a, b)
    case _ => None
  }

  /** Strict variant for EXACT consumers (metadata aggregates): every node
    * must translate completely. The half-pushable-AND relaxation above is a
    * sound *weakening* for pruning, but a weakened predicate under an OR
    * would make a collapsed COUNT overcount — here a partial translation is
    * a refusal, never an approximation.
    */
  def toPredicateExact(e: Expression): Option[Predicate] = e match {
    case CAnd(x, y) =>
      for (a <- toPredicateExact(x); b <- toPredicateExact(y)) yield Predicate.And(a, b)
    case COr(x, y) =>
      for (a <- toPredicateExact(x); b <- toPredicateExact(y)) yield Predicate.Or(a, b)
    case other => toPredicate(other) // leaves translate all-or-nothing
  }

  /** Catalyst literal → external (JVM) value Graft's Canonical understands. */
  private def lit(l: CLiteral): Option[Any] = {
    if (l.value == null) return None
    Option(org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(l.value, l.dataType))
  }
}

/** Optimizer rule for Graft relations: SQL DML becomes native commands,
  * and exact global aggregates collapse to metadata.
  */
case class GraftSqlRewrites(spark: SparkSession) extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, MergeIntoTable, UpdateTable}

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // row-level SQL DML on Graft tables → native DML commands (arbitrary
    // conditions/assignments; translatable conjuncts also drive pruning)
    case u: UpdateTable if GraftSqlDml.graftTableOf(u.table).isDefined =>
      GraftSqlDml.translateUpdate(u).get
    case m: MergeIntoTable if GraftSqlDml.graftTableOf(m.targetTable).isDefined =>
      // the source side re-enters this rule when the command analyzes it
      GraftSqlDml.translateMerge(m).get
    case d: DeleteFromTable if GraftSqlDml.graftTableOf(d.table).isDefined =>
      GraftSqlDml.translateDelete(d).get
    // non-graft DELETE targets must stay v2 relations for SupportsDelete
    case _: DeleteFromTable => plan
    case _ => plan.transformWithSubqueries {
      case agg: Aggregate if agg.groupingExpressions.isEmpty =>
        tryMetadataAggregate(agg).getOrElse(agg)
    }
  }

  /** Metadata-plane global aggregates: COUNT(*) / MIN / MAX over a Graft
    * relation (optionally under an exactly-translatable Filter and a plain
    * column-pruning Project) answered from manifest record counts and file
    * stats via [[graft.table.GraftScan.metadataCount]] — the whole subtree
    * collapses to a one-row LocalRelation, zero data-file I/O. Bails (and
    * the DSv2 scan reads the data) whenever any part is not
    * provably exact: residual filters, deletes, distinct/filtered
    * aggregates, or non-identity-partition predicate columns.
    */
  private def tryMetadataAggregate(agg: Aggregate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
    import org.apache.spark.sql.catalyst.InternalRow

    def unwrapChild(p: LogicalPlan, conds: Seq[Expression]): Option[(Seq[Expression], GraftSparkTable)] =
      p match {
        case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          unwrapChild(child, conds)
        case LFilter(c, child) => unwrapChild(child, conds ++ GraftSqlDml.splitConjuncts(c))
        case r: DataSourceV2ScanRelation if r.relation.table.isInstanceOf[GraftSparkTable] =>
          Some((conds, r.relation.table.asInstanceOf[GraftSparkTable]))
        case _ => None
      }

    val (conds, tbl) = unwrapChild(agg.child, Nil).getOrElse(return None)
    // EXACT translation only: a weakened predicate here would overcount.
    // The already-pushed (possibly half-translated) v2-scan preds are
    // deliberately NOT used — pushFilters keeps every filter post-scan, so
    // the residual Filter above the relation carries the full condition.
    val translated = conds.map(CatalystPredicates.toPredicateExact)
    if (translated.exists(_.isEmpty)) return None // residual filter would change the result
    val pushed = translated.flatten
    val scan = tbl.nativeScan(pushed)

    def internalOf(dt: org.apache.spark.sql.types.DataType, canonical: Any): Any = {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType => canonical.asInstanceOf[Long].toByte
        case ShortType => canonical.asInstanceOf[Long].toShort
        case IntegerType => canonical.asInstanceOf[Long].toInt
        case LongType => canonical
        case FloatType => canonical.asInstanceOf[Double].toFloat
        case DoubleType => canonical
        case StringType =>
          org.apache.spark.unsafe.types.UTF8String.fromString(canonical.asInstanceOf[String])
        case d: DecimalType =>
          Decimal(canonical.asInstanceOf[BigDecimal], d.precision, d.scale)
        case DateType => canonical // Int days
        case TimestampType | TimestampNTZType => canonical // Long micros
        case BooleanType => canonical
        case _ => return null
      }
    }

    val values: Seq[Option[Any]] = agg.aggregateExpressions.map {
      case Alias(AggregateExpression(Count(children), _, false, None, _), _)
          if children.forall(c => c.isInstanceOf[CLiteral] &&
            c.asInstanceOf[CLiteral].value != null) =>
        scan.metadataCount.map(n => n: Any)
      case Alias(AggregateExpression(Min(a: AttributeReference), _, false, None, _), _) =>
        scan.metadataMinMax(a.name, isMin = true)
          .map(_.map(internalOf(a.dataType, _)).orNull)
      case Alias(AggregateExpression(Max(a: AttributeReference), _, false, None, _), _) =>
        scan.metadataMinMax(a.name, isMin = false)
          .map(_.map(internalOf(a.dataType, _)).orNull)
      case _ => None
    }
    if (values.exists(_.isEmpty)) return None
    Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
      Seq(InternalRow.fromSeq(values.map(_.get)))))
  }
}

/** Installs [[GraftSqlRewrites]] into a session at runtime (idempotent).
  * Invoked by [[GraftTableCatalog.initialize]] and [[GraftSource.getTable]],
  * both of which run while the reading session analyzes its first Graft
  * relation, so every session that can name a Graft table also has the
  * rule that SQL DML and metadata aggregates depend on.
  */
object GraftExtensions {
  def install(spark: SparkSession): Unit = synchronized {
    val already = spark.experimental.extraOptimizations.exists {
      case GraftSqlRewrites(s) => s eq spark
      case _ => false
    }
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GraftSqlRewrites(spark)
    // SQL names for the pipeline functions ride along with the catalog:
    // any session that can see graft tables can also call graft_minhash(...)
    graft.functions.SqlFunctions.install(spark)
  }
}
