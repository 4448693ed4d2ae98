package graft.format

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** The Graft table metadata tree — a minimal Iceberg-style format
  * (reference: docs/01-table-format-architecture.md:9-46):
  *
  *   version-hint.text -> vN.metadata.json -> snap-*.manifest-list.json
  *     -> manifest-*.json -> immutable parquet data files
  *
  * Metadata files are JSON (the *capability* is explicit file enumeration +
  * per-file stats for planning, docs/03-metadata-management.md:5-17; the Avro
  * encoding of real Iceberg is an implementation detail we do not need).
  * All paths are stored relative to the table location.
  */

/** Column-ID discipline (reference docs/06-schema-evolution.md:55-73):
  * fields are tracked by stable integer IDs carried in StructField metadata;
  * renames keep the ID, dropped IDs are never reused.
  */
object GraftSchema {
  val IdKey = "graft.column-id"

  /** Logical-type annotation for types Spark lacks a storable native type
    * for (docs/06's type matrix): "time" = INT64 micros since midnight
    * (Iceberg's physical TIME encoding), "uuid" = 36-char string.
    */
  val LogicalTypeKey = "graft.logical-type"

  def fieldId(f: StructField): Int = f.metadata.getLong(IdKey).toInt

  def withId(f: StructField, id: Int): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata).putLong(IdKey, id.toLong).build())

  /** Normalize a schema to nullable at every nesting level. Table columns
    * are optional-by-default (Iceberg semantics); this also keeps the
    * read-path cast legal — parquet reads surface as nullable, and Spark
    * refuses to cast a nullable struct field onto a NOT NULL target.
    */
  def deepNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(elementType = deepNullable(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(keyType = deepNullable(m.keyType), valueType = deepNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** Assign fresh IDs, numbered on from `lastColumnId`, to every field —
    * at every nesting level (struct fields inside structs, array elements,
    * map values), so nested evolution (docs/06:114-118) can rename/drop/
    * widen by stable ID exactly like top-level columns. An ID the incoming
    * field already carries is replaced: a schema taken from a read of
    * another Graft table carries that table's IDs, which would collide
    * with the fresh ones and leave last-column-id understated. Returns the
    * new schema and the new last-column-id.
    */
  def assignIds(schema: StructType, lastColumnId: Int): (StructType, Int) = {
    var next = lastColumnId
    def walkType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(walkField))
      case a: ArrayType => a.copy(elementType = walkType(a.elementType))
      case m: MapType => m.copy(valueType = walkType(m.valueType))
      case other => other
    }
    def walkField(f: StructField): StructField = {
      val withType = f.copy(dataType = walkType(f.dataType))
      next += 1
      withId(withType, next)
    }
    (StructType(schema.fields.map(walkField)), next)
  }

  /** Largest field ID anywhere in the schema (nested fields included); 0 for
    * ID-less fields so a partially-annotated schema never understates it.
    */
  def maxId(schema: StructType): Int = {
    def ofType(dt: DataType): Int = dt match {
      case s: StructType => s.fields.foldLeft(0)((acc, f) => math.max(acc, ofField(f)))
      case a: ArrayType => ofType(a.elementType)
      case m: MapType => ofType(m.valueType)
      case _ => 0
    }
    def ofField(f: StructField): Int =
      math.max(if (f.metadata.contains(IdKey)) fieldId(f) else 0, ofType(f.dataType))
    ofType(schema)
  }

  def idToField(schema: StructType): Map[Int, StructField] =
    schema.fields.map(f => fieldId(f) -> f).toMap
}

/** One partition field: a source column (by ID) + a transform + the name the
  * derived value is stored under (docs/07-partitioning.md:87-100).
  */
case class PartitionField(sourceId: Int, name: String, transform: Transform)

case class PartitionSpec(specId: Int, fields: Seq[PartitionField]) {
  def isPartitioned: Boolean = fields.nonEmpty
}

object PartitionSpec {
  val unpartitioned: PartitionSpec = PartitionSpec(0, Nil)

  /** Build spec fields for `partitionBy` against an id-assigned schema —
    * shared by CREATE TABLE and CREATE OR REPLACE (docs/01:182), which must
    * derive identical hidden-partition field names.
    */
  def fieldsFor(schemaWithIds: StructType,
                partitionBy: Seq[(String, Transform)]): Seq[PartitionField] = {
    val byName = schemaWithIds.fields.map(f => f.name -> f).toMap
    val fields = partitionBy.map { case (colName, tr) =>
      val f = byName.getOrElse(colName,
        sys.error(s"unknown partition source column $colName"))
      val suffix = tr match {
        case Transform.Identity => ""
        case t => "_" + t.name.takeWhile(_ != '[')
      }
      PartitionField(GraftSchema.fieldId(f), s"$colName$suffix", tr)
    }
    // DataFile.partition keys by field NAME: two same-family transforms of
    // one column (bucket[4] + bucket[16]) would collide, one value silently
    // overwriting the other and the scanner interval-checking a probe
    // against the WRONG transform's value — unsound pruning. Refuse now.
    val dup = fields.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate partition field name(s) ${dup.mkString(", ")}: " +
        "two transforms of the same family on one column are not supported")
    fields
  }
}

/** Per-column stats for one data file (canonical-space values serialized as
  * strings; see [[Canonical]]). Reference docs/03:96-109. `bloom` is an
  * optional base64 bitmap for equality file-skipping (see [[graft.io.Bloom]]),
  * present only for columns listed in `write.bloom-columns`.
  */
case class ColStats(min: Option[String], max: Option[String], nullCount: Option[Long],
                    bloom: Option[String] = None)

/** One immutable data (or position-delete) file.
  * `partition` maps partition-field name -> Some(serialized transform value)
  * or None for a null partition value. `schemaId` records the schema the file
  * was written under (drives column-ID read resolution, docs/06:75-90).
  */
case class DataFile(
    path: String,
    content: String, // "data" | "position-deletes"
    partition: Map[String, Option[String]],
    recordCount: Long,
    fileSizeBytes: Long,
    schemaId: Int,
    specId: Int,
    stats: Map[Int, ColStats])

/** Partition-range summary for one manifest (drives phase-1 manifest pruning,
  * docs/09-query-performance.md:17-31, docs/03:137-150).
  */
case class FieldSummary(lower: Option[String], upper: Option[String], containsNull: Boolean)

/** Manifest-list entry: one manifest file + its summaries (docs/03:77-92). */
case class ManifestMeta(
    path: String,
    content: String, // "data" | "position-deletes"
    fileCount: Int,
    recordCount: Long,
    specId: Int,
    partitionSummaries: Map[String, FieldSummary])

case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    sequenceNumber: Long,
    timestampMs: Long,
    operation: String, // append | overwrite | delete | replace | expire ...
    summary: Map[String, String],
    manifestListPath: String,
    schemaId: Int,
    specId: Int)

/** A named ref — Iceberg's branch/tag model (iceberg spec "refs"): a BRANCH
  * is a movable head whose readers follow the table's LIVE schema; a TAG is
  * an immutable pin whose readers keep the pinned snapshot's schema.
  * Branch-ness is a property of the REF, never inferred from the snapshot
  * it points at: the same snapshot can be a branch head and a tag target
  * at once, with different read semantics.
  */
case class Ref(snapshotId: Long, isBranch: Boolean)

case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    schemas: Map[Int, StructType],
    currentSchemaId: Int,
    specs: Map[Int, PartitionSpec],
    defaultSpecId: Int,
    lastSequenceNumber: Long,
    snapshots: Seq[Snapshot],
    currentSnapshotId: Option[Long],
    refs: Map[String, Ref],
    properties: Map[String, String],
    /** statement-id -> snapshot produced, for BEFORE(STATEMENT => id)
      * time travel (docs/05-snapshots-time-travel.md:69-72). */
    statementLog: Seq[(String, Long)]) {

  def currentSchema: StructType = schemas(currentSchemaId)
  def defaultSpec: PartitionSpec = specs(defaultSpecId)
  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))
  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)
  def property(key: String, default: String): String = properties.getOrElse(key, default)
}

object TableProperties {
  val TargetFileSize = "write.target-file-size-bytes" // docs/02:90-95
  val RetentionDays = "data-retention-time-in-days"   // docs/05:88-95 (default 1, max 90)
  val MergeOnRead = "enable-iceberg-merge-on-read"    // docs/08:112-116
  val ClusterBy = "cluster-by"                        // docs/09:156-168 (comma-sep col names)
  val ClusterStrategy = "write.cluster-strategy"      // "linear" (default) | "zorder"
  val BloomColumns = "write.bloom-columns"            // comma-sep cols to bloom-index
  /** How many statement-log entries survive snapshot expiry REGARDLESS of
    * whether their snapshot was expired (default 10000). The log is the
    * replay-idempotency ledger for statementId-keyed commits (streaming
    * micro-batches): it must outlive data retention, because a stream that
    * crashes, stays down past the retention window while maintenance runs,
    * then resumes would otherwise replay micro-batches whose entries were
    * pruned with their snapshots — a SILENT double-ingest. Entries whose
    * snapshot is still retained always survive; this knob bounds only the
    * expired-snapshot tail (newest-first).
    */
  val StatementLogRetainLast = "statement-log.retain-last"
}

/** JSON (de)serialization of the metadata tree. Hand-rolled codecs: explicit,
  * deterministic, zero reflection.
  */
object MetaJson {
  import JsonMethods._

  private def js(o: Option[String]): JValue = o.map(JString(_)).getOrElse(JNull)

  // ----- schema: reuse Spark's own StructType JSON (includes field metadata,
  // hence our column IDs ride along for free)
  private def schemaToJson(s: StructType): JValue = parse(s.json)
  private def schemaFromJson(j: JValue): StructType =
    DataType.fromJson(compact(render(j))).asInstanceOf[StructType]

  private def specToJson(sp: PartitionSpec): JValue =
    ("spec-id" -> sp.specId) ~
      ("fields" -> sp.fields.map(f =>
        ("source-id" -> f.sourceId) ~ ("name" -> f.name) ~ ("transform" -> f.transform.name)))

  private def specFromJson(j: JValue): PartitionSpec = PartitionSpec(
    intOf(j \ "spec-id"),
    (j \ "fields") match {
      case JArray(fs) => fs.map { f =>
        PartitionField(
          intOf(f \ "source-id"),
          strOf(f \ "name"),
          Transform.fromString(strOf(f \ "transform")))
      }
      case _ => Nil
    })

  private def intOf(j: JValue): Int = j match { case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => sys.error(s"expected int: $j") }
  private def longOf(j: JValue): Long = j match { case JInt(i) => i.toLong; case JLong(l) => l; case _ => sys.error(s"expected long: $j") }
  private def strOf(j: JValue): String = j match { case JString(s) => s; case _ => sys.error(s"expected string: $j") }
  private def optLong(j: JValue): Option[Long] = j match { case JInt(i) => Some(i.toLong); case JLong(l) => Some(l); case _ => None }
  private def optStr(j: JValue): Option[String] = j match { case JString(s) => Some(s); case _ => None }

  private def snapshotToJson(s: Snapshot): JValue =
    ("snapshot-id" -> s.snapshotId) ~
      ("parent-snapshot-id" -> s.parentId) ~
      ("sequence-number" -> s.sequenceNumber) ~
      ("timestamp-ms" -> s.timestampMs) ~
      ("operation" -> s.operation) ~
      ("summary" -> s.summary) ~
      ("manifest-list" -> s.manifestListPath) ~
      ("schema-id" -> s.schemaId) ~
      ("spec-id" -> s.specId)

  private def snapshotFromJson(j: JValue): Snapshot = Snapshot(
    longOf(j \ "snapshot-id"),
    optLong(j \ "parent-snapshot-id"),
    longOf(j \ "sequence-number"),
    longOf(j \ "timestamp-ms"),
    strOf(j \ "operation"),
    mapOfStr(j \ "summary"),
    strOf(j \ "manifest-list"),
    intOf(j \ "schema-id"),
    intOf(j \ "spec-id"))

  private def mapOfStr(j: JValue): Map[String, String] = j match {
    case JObject(fs) => fs.collect { case JField(k, JString(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  def metadataToJson(m: TableMetadata): String = {
    val j: JValue =
      ("format-version" -> m.formatVersion) ~
        ("table-uuid" -> m.tableUuid) ~
        ("location" -> m.location) ~
        ("last-updated-ms" -> m.lastUpdatedMs) ~
        ("last-column-id" -> m.lastColumnId) ~
        ("schemas" -> m.schemas.toSeq.sortBy(_._1).map { case (id, s) =>
          ("schema-id" -> id) ~ ("schema" -> schemaToJson(s)) }) ~
        ("current-schema-id" -> m.currentSchemaId) ~
        ("partition-specs" -> m.specs.toSeq.sortBy(_._1).map(x => specToJson(x._2))) ~
        ("default-spec-id" -> m.defaultSpecId) ~
        ("last-sequence-number" -> m.lastSequenceNumber) ~
        ("snapshots" -> m.snapshots.map(snapshotToJson)) ~
        ("current-snapshot-id" -> m.currentSnapshotId) ~
        ("refs" -> m.refs.map { case (n, r) =>
          n -> (("snapshot-id" -> r.snapshotId) ~
            ("type" -> (if (r.isBranch) "branch" else "tag"))) }) ~
        ("properties" -> m.properties) ~
        ("statement-log" -> m.statementLog.map { case (q, s) =>
          ("statement-id" -> q) ~ ("snapshot-id" -> s) })
    pretty(render(j))
  }

  def metadataFromJson(s: String): TableMetadata = {
    val j = parse(s)
    TableMetadata(
      formatVersion = intOf(j \ "format-version"),
      tableUuid = strOf(j \ "table-uuid"),
      location = strOf(j \ "location"),
      lastUpdatedMs = longOf(j \ "last-updated-ms"),
      lastColumnId = intOf(j \ "last-column-id"),
      schemas = (j \ "schemas") match {
        case JArray(xs) => xs.map(x => intOf(x \ "schema-id") -> schemaFromJson(x \ "schema")).toMap
        case _ => Map.empty
      },
      currentSchemaId = intOf(j \ "current-schema-id"),
      specs = (j \ "partition-specs") match {
        case JArray(xs) => xs.map(specFromJson).map(sp => sp.specId -> sp).toMap
        case _ => Map.empty
      },
      defaultSpecId = intOf(j \ "default-spec-id"),
      lastSequenceNumber = longOf(j \ "last-sequence-number"),
      snapshots = (j \ "snapshots") match {
        case JArray(xs) => xs.map(snapshotFromJson); case _ => Nil
      },
      currentSnapshotId = optLong(j \ "current-snapshot-id"),
      refs = (j \ "refs") match {
        // current form: {"name": {"snapshot-id": N, "type": "branch"|"tag"}};
        // metadata written before refs were typed stored a plain number —
        // read it as a tag (the old read semantics: snapshot-schema pin)
        case JObject(fs) => fs.collect {
          case JField(k, v) if optLong(v \ "snapshot-id").isDefined =>
            k -> Ref(longOf(v \ "snapshot-id"), optStr(v \ "type").contains("branch"))
          case JField(k, v) if optLong(v).isDefined => k -> Ref(longOf(v), isBranch = false)
        }.toMap
        case _ => Map.empty
      },
      properties = mapOfStr(j \ "properties"),
      statementLog = (j \ "statement-log") match {
        case JArray(xs) => xs.map(x => strOf(x \ "statement-id") -> longOf(x \ "snapshot-id"))
        case _ => Nil
      })
  }

  // ----- manifest list -----

  def manifestListToJson(ms: Seq[ManifestMeta]): String = {
    val j: JValue = JArray(ms.toList.map { m =>
      ("path" -> m.path) ~
        ("content" -> m.content) ~
        ("file-count" -> m.fileCount) ~
        ("record-count" -> m.recordCount) ~
        ("spec-id" -> m.specId) ~
        ("partition-summaries" -> JObject(m.partitionSummaries.toList.map { case (k, v) =>
          JField(k, ("lower" -> js(v.lower)) ~ ("upper" -> js(v.upper)) ~
            ("contains-null" -> v.containsNull))
        }))
    })
    pretty(render(j))
  }

  def manifestListFromJson(s: String): Seq[ManifestMeta] = parse(s) match {
    case JArray(xs) => xs.map { j =>
      ManifestMeta(
        strOf(j \ "path"),
        strOf(j \ "content"),
        intOf(j \ "file-count"),
        longOf(j \ "record-count"),
        intOf(j \ "spec-id"),
        (j \ "partition-summaries") match {
          case JObject(fs) => fs.map { case JField(k, v) =>
            k -> FieldSummary(optStr(v \ "lower"), optStr(v \ "upper"),
              (v \ "contains-null") match { case JBool(b) => b; case _ => true })
          }.toMap
          case _ => Map.empty
        })
    }
    case _ => Nil
  }

  // ----- manifest (list of data files) -----

  def manifestToJson(files: Seq[DataFile]): String = {
    val j: JValue = JArray(files.toList.map { f =>
      ("path" -> f.path) ~
        ("content" -> f.content) ~
        ("partition" -> JObject(f.partition.toList.map { case (k, v) => JField(k, js(v)) })) ~
        ("record-count" -> f.recordCount) ~
        ("file-size-in-bytes" -> f.fileSizeBytes) ~
        ("schema-id" -> f.schemaId) ~
        ("spec-id" -> f.specId) ~
        ("stats" -> JObject(f.stats.toList.sortBy(_._1).map { case (id, st) =>
          JField(id.toString, ("min" -> js(st.min)) ~ ("max" -> js(st.max)) ~
            ("null-count" -> st.nullCount) ~ ("bloom" -> js(st.bloom)))
        }))
    })
    pretty(render(j))
  }

  def manifestFromJson(s: String): Seq[DataFile] = parse(s) match {
    case JArray(xs) => xs.map { j =>
      DataFile(
        strOf(j \ "path"),
        strOf(j \ "content"),
        (j \ "partition") match {
          case JObject(fs) => fs.map { case JField(k, v) => k -> optStr(v) }.toMap
          case _ => Map.empty
        },
        longOf(j \ "record-count"),
        longOf(j \ "file-size-in-bytes"),
        intOf(j \ "schema-id"),
        intOf(j \ "spec-id"),
        (j \ "stats") match {
          case JObject(fs) => fs.map { case JField(k, v) =>
            k.toInt -> ColStats(optStr(v \ "min"), optStr(v \ "max"), optLong(v \ "null-count"),
              optStr(v \ "bloom"))
          }.toMap
          case _ => Map.empty
        })
    }
    case _ => Nil
  }
}
