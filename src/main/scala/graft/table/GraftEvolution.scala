package graft.table

import graft.format._
import org.apache.spark.sql.types._

/** Metadata-only schema evolution (reference docs/06-schema-evolution.md:9-51):
  * every change creates a NEW schema version in the metadata file; no data file
  * is touched. Columns are tracked by stable IDs (docs/06:55-73): rename keeps
  * the ID, drop retires it forever, and the read path (GraftSpj.layoutOf)
  * maps each file's write-schema to the current schema by ID so files written
  * under schema v1 stay readable under v4 (docs/06:75-90).
  */
trait GraftEvolution { self: GraftTable =>

  /** One schema change as a PURE metadata transform: the building block of
    * both the single-change methods below (each committing one transform)
    * and [[GraftTable.alterAtomically]] (a multi-change ALTER folding
    * several transforms into ONE CAS commit — per-change commits would let
    * a failing later change leave earlier ones durably half-applied).
    */
  private def evolveT(f: (TableMetadata, StructType) => StructType): TableMetadata => TableMetadata =
    m => {
      val next = f(m, m.currentSchema)
      val newId = m.schemas.keys.max + 1
      val lastCol = math.max(m.lastColumnId, GraftSchema.maxId(next))
      m.copy(schemas = m.schemas + (newId -> next), currentSchemaId = newId,
        lastColumnId = lastCol)
    }


  /** Navigate a dotted path's PARENT and rewrite that struct. The path walks
    * struct fields and descends through array elements / map values when the
    * intermediate type wraps a struct (so `tags.element.key`-style surgery is
    * expressed simply as `tags.key`). Nested evolution is first-class in the
    * reference (docs/06-schema-evolution.md:114-118): a struct subfield is
    * added/renamed/dropped/widened by ID exactly like a top-level column.
    */
  private def rewriteParent(schema: StructType, path: Seq[String])(
      op: StructType => StructType): StructType = {
    def intoType(dt: DataType, rest: Seq[String], owner: String): DataType = dt match {
      case s: StructType => into(s, rest)
      case a: ArrayType => a.copy(elementType = intoType(a.elementType, rest, owner))
      case m: MapType => m.copy(valueType = intoType(m.valueType, rest, owner))
      case other => sys.error(s"$owner is ${other.simpleString}, not a struct")
    }
    def into(s: StructType, rest: Seq[String]): StructType =
      if (rest.isEmpty) op(s)
      else {
        val i = s.fieldNames.indexOf(rest.head)
        require(i >= 0, s"column ${rest.head} not found")
        val f = s.fields(i)
        StructType(s.fields.updated(i,
          f.copy(dataType = intoType(f.dataType, rest.tail, f.name))))
      }
    into(schema, path)
  }

  /** Literal-first path resolution: a top-level column whose NAME contains
    * a dot (legal in Spark schemas) wins over dotted-path navigation, so
    * pre-existing tables with such columns keep evolving. Navigation only
    * applies when the whole string is not an existing top-level name.
    */
  private def split(schema: StructType, path: String): (Seq[String], String) = {
    if (schema.fieldNames.contains(path) || !path.contains('.')) (Nil, path)
    else {
      val parts = path.split('.').toSeq
      // navigation requires an existing first segment; otherwise the whole
      // string is a literal new-column name (addColumn of "c.d")
      if (schema.fieldNames.contains(parts.head)) (parts.init, parts.last)
      else (Nil, path)
    }
  }

  /** ALTER TABLE ... ADD COLUMN [AFTER other] (docs/06:22-28). New column gets
    * a fresh ID; files written before it read as NULL. A dotted `name`
    * ("address.zip") adds a subfield inside a nested struct (docs/06:114-118);
    * `after` names a sibling within the same parent.
    */
  def addColumn(name: String, dataType: DataType, after: Option[String] = None): TableMetadata =
    commitMetadata()(addColumnChange(name, dataType, after))

  private[graft] def addColumnChange(name: String, dataType: DataType,
      after: Option[String] = None): TableMetadata => TableMetadata =
    evolveT { (m, schema) =>
      val (parent, leaf) = split(schema, name)
      val (typed, _) = GraftSchema.assignIds(
        StructType(Seq(StructField(leaf,
          GraftSchema.deepNullable(dataType), nullable = true))), m.lastColumnId)
      val field = typed.fields.head
      rewriteParent(schema, parent) { s =>
        require(!s.fieldNames.contains(leaf), s"column $name already exists")
        val fields = after match {
          case None => s.fields :+ field
          case Some(a) =>
            val i = s.fieldNames.indexOf(a)
            require(i >= 0, s"AFTER column $a not found")
            (s.fields.take(i + 1) :+ field) ++ s.fields.drop(i + 1)
        }
        StructType(fields)
      }
    }

  /** ALTER TABLE ... DROP COLUMN (docs/06:33-35): removed from the current
    * schema; its ID is never reused (evolve() keeps lastColumnId monotone), so
    * old files' values for it are simply no longer projected. Dotted names
    * drop a subfield inside a nested struct.
    */
  def dropColumn(name: String): TableMetadata =
    commitMetadata()(dropColumnChange(name))

  private[graft] def dropColumnChange(name: String): TableMetadata => TableMetadata =
    evolveT { (_, schema) =>
      val (parent, leaf) = split(schema, name)
      rewriteParent(schema, parent) { s =>
        require(s.fieldNames.contains(leaf), s"column $name not found")
        require(s.fields.length > 1, s"cannot drop the only column of ${if (parent.isEmpty) "the table" else parent.mkString(".")}")
        StructType(s.fields.filterNot(_.name == leaf))
      }
    }

  /** ALTER TABLE ... RENAME COLUMN (docs/06:40-42): name changes, ID stays —
    * data files still carry the old name and resolve by ID. `from` may be
    * dotted; `to` is the new leaf name within the same parent.
    */
  def renameColumn(from: String, to: String): TableMetadata =
    commitMetadata()(renameColumnChange(from, to))

  private[graft] def renameColumnChange(from: String, to: String): TableMetadata => TableMetadata =
    evolveT { (_, schema) =>
      val (parent, leaf) = split(schema, from)
      require(!to.contains('.'), "rename target is a leaf name, not a path")
      rewriteParent(schema, parent) { s =>
        require(s.fieldNames.contains(leaf), s"column $from not found")
        require(!s.fieldNames.contains(to), s"column $to already exists")
        StructType(s.fields.map(f => if (f.name == leaf) f.copy(name = to) else f))
      }
    }

  /** ALTER COLUMN ... SET DATA TYPE — widening only (docs/06:46-51); the
    * allow/deny promotion matrix is docs/06:138-151. Old files are cast up on
    * read; narrowing is rejected because existing data could overflow.
    * Dotted names widen a subfield inside a nested struct.
    */
  def widenColumn(name: String, to: DataType): TableMetadata =
    commitMetadata()(widenColumnChange(name, to))

  private[graft] def widenColumnChange(name: String, to: DataType): TableMetadata => TableMetadata =
    evolveT { (_, schema) =>
      val (parent, leaf) = split(schema, name)
      rewriteParent(schema, parent) { s =>
        val f = s.fields.find(_.name == leaf).getOrElse(sys.error(s"column $name not found"))
        require(canPromote(f.dataType, to),
          s"cannot promote ${f.dataType.simpleString} to ${to.simpleString} (widening only)")
        StructType(s.fields.map(x => if (x.name == leaf) x.copy(dataType = to) else x))
      }
    }

  /** Partition evolution (docs/07-partitioning.md:117-129): install a new
    * default partition spec WITHOUT rewriting data. Files written under the
    * old spec keep their spec ID — the scanner prunes each file under the
    * spec it was written with — while new writes use the new spec. This is
    * the operation that lets a table move from day() to hour() partitioning
    * as volume grows, with both epochs queryable through one scan.
    */
  def evolvePartitionSpec(partitionBy: Seq[(String, Transform)]): TableMetadata =
    commitMetadata() { m =>
      val schema = m.currentSchema
      val byName = schema.fields.map(f => f.name -> f).toMap
      val fields = partitionBy.map { case (colName, tr) =>
        val f = byName.getOrElse(colName, sys.error(s"unknown partition source column $colName"))
        val suffix = tr match {
          case Transform.Identity => ""
          case t => "_" + t.name.takeWhile(_ != '[')
        }
        PartitionField(GraftSchema.fieldId(f), s"$colName$suffix", tr)
      }
      val newSpecId = m.specs.keys.max + 1
      m.copy(specs = m.specs + (newSpecId -> PartitionSpec(newSpecId, fields)),
        defaultSpecId = newSpecId)
    }

  /** required -> optional is always allowed; the reverse is not (docs/06:17). */
  def makeOptional(name: String): TableMetadata =
    commitMetadata()(makeOptionalChange(name))

  private[graft] def makeOptionalChange(name: String): TableMetadata => TableMetadata =
    evolveT { (_, schema) =>
      val (parent, leaf) = split(schema, name)
      rewriteParent(schema, parent) { s =>
        require(s.fieldNames.contains(leaf), s"column $name not found")
        StructType(s.fields.map(f => if (f.name == leaf) f.copy(nullable = true) else f))
      }
    }

  /** Promotion rules (docs/06:138-151): int->long, float->double,
    * decimal(P,S)->decimal(P',S) with P' >= P. Everything else denied.
    */
  def canPromote(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (_: ByteType | _: ShortType | _: IntegerType, _: LongType) => true
    case (_: ByteType | _: ShortType, _: IntegerType) => true
    case (_: FloatType, _: DoubleType) => true
    case (a: DecimalType, b: DecimalType) => b.scale == a.scale && b.precision >= a.precision
    case _ => false
  }
}
