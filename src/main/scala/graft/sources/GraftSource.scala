package graft.sources

import graft.catalog.GraftCatalog
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Transform => VTransform}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import scala.jdk.CollectionConverters._

/** Spark DataSource integration for Graft tables:
  *
  * {{{
  * spark.read.format("graft")
  *   .option("warehouse", "/wh").option("table", "db.events")
  *   .option("snapshotId", "3")          // optional time travel
  *   .option("asOfTimestampMs", "...")   // optional time travel
  *   .option("ref", "audit")             // optional branch/tag
  *   .load()
  * df.write.format("graft").mode("append")
  *   .option("warehouse", "/wh").option("table", "db.events").save()
  * }}}
  *
  * Reads are DSv2: `getTable` hands Spark the same [[GraftSparkTable]] the
  * catalog serves, pinned by the time-travel options, so `format("graft")`
  * and catalog SQL share one scan builder and one runtime-filtering scan.
  * Writes stay on `createRelation(mode)`: the
  * table reports only `V1_BATCH_WRITE`, so Spark's writer falls back to
  * this provider's V1 path in every save mode.
  */
class GraftSource extends TableProvider with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  private def required(options: util.Map[String, String], key: String): String =
    Option(new CaseInsensitiveStringMap(options).get(key))
      .getOrElse(sys.error(s"option '$key' is required"))

  // the write path hands getTable the frame's schema without inferring one
  // (a save may target a table that does not exist yet); a read without a
  // user schema infers here, which fails cleanly for a missing table
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    getTable(null, Array.empty, options) match {
      case t: GraftSparkTable => t.schema()
      case _ => sys.error(s"graft table ${options.get("table")} does not exist")
    }

  // Spark's getTableFromProvider calls inferSchema and then getTable with the
  // same options on this instance: load each table (one metadata read) once
  private val loaded = new java.util.concurrent.ConcurrentHashMap[Map[String, String], GraftSparkTable]()

  override def getTable(schema: StructType, partitioning: Array[VTransform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val key = opts.asScala.toMap
    val memo = loaded.get(key)
    if (memo != null) return memo
    val cat = new GraftCatalog(required(opts, "warehouse"))
    val tableName = required(opts, "table")
    if (!cat.tableExists(tableName)) {
      // a save target that does not exist yet: writable only through
      // createRelation, which creates it
      val target = Option(schema).getOrElse(new StructType())
      return new Table {
        override def name(): String = tableName
        override def schema(): StructType = target
        override def capabilities(): util.Set[TableCapability] =
          util.EnumSet.of(TableCapability.V1_BATCH_WRITE)
      }
    }
    // Spark resolves format("graft") reads during analysis of the reading
    // session, so the active session is the one that plans this read
    GraftExtensions.install(SparkSession.active)
    val travel: TimeTravel =
      Option(opts.get("snapshotId")).map(id => TimeTravel.AtSnapshot(id.toLong))
        .orElse(Option(opts.get("asOfTimestampMs")).map(ts => TimeTravel.AsOf(ts.toLong)))
        .orElse(Option(opts.get("ref")).map(TimeTravel.AtRef))
        .getOrElse(TimeTravel.None)
    val t = new GraftSparkTable(cat.loadTable(tableName), travel)
    loaded.put(key, t)
    t
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val cat = new GraftCatalog(required(parameters.asJava, "warehouse"))
    val name = required(parameters.asJava, "table")
    val spark = ctx.sparkSession
    val table =
      if (!cat.tableExists(name)) cat.createTableAs(spark, name, data)
      else mode match {
        case SaveMode.Append => val t = cat.loadTable(name); t.append(spark, data); t
        case SaveMode.Overwrite => val t = cat.loadTable(name); t.overwrite(spark, data); t
        case SaveMode.ErrorIfExists => sys.error(s"table $name already exists")
        case SaveMode.Ignore => cat.loadTable(name)
      }
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = table.schema
    }
  }
}
