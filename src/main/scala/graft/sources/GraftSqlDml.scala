package graft.sources

import graft.format.Predicate
import org.apache.spark.sql.{Column, GraftSqlShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Cast, EqualTo => CEq, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.lit

/** SQL row-level DML over Graft tables (reference docs/08:99-141,
  * docs/12:107-126 — `UPDATE`, `DELETE`, `MERGE INTO` are the reference's
  * primary write surface). Spark's own row-level rewrite framework demands
  * a SupportsRowLevelOperations implementation whose group-based rewrite
  * duplicates machinery Graft already has (candidate pruning + COW rewrite
  * + OCC commit), so instead the analyzed UpdateTable / DeleteFromTable /
  * MergeIntoTable plans are translated into RunnableCommands that invoke
  * the native DML with rebound expressions:
  *
  *   - row conditions and SET/INSERT values are catalyst expressions whose
  *     attribute references are rebound by NAME (plain for UPDATE/DELETE,
  *     `t.`/`s.`-qualified for MERGE) and re-resolved by the DML's own
  *     DataFrame plans — arbitrary expressions work, not just the
  *     filter-translatable subset;
  *   - the translatable conjuncts additionally drive manifest/file pruning
  *     (sound to under-approximate: candidates are a superset of matches).
  */
object GraftSqlDml {

  def graftTableOf(plan: LogicalPlan): Option[GraftSparkTable] = plan.collectFirst {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSparkTable] =>
      r.table.asInstanceOf[GraftSparkTable]
    case r: DataSourceV2ScanRelation if r.relation.table.isInstanceOf[GraftSparkTable] =>
      r.relation.table.asInstanceOf[GraftSparkTable]
  }

  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Rebind attribute references to (possibly qualified) names so the
    * expression re-resolves against the DataFrames the native DML builds.
    */
  def rebind(e: Expression, name: AttributeReference => Seq[String]): Column =
    GraftSqlShim.column(e.transform { case a: AttributeReference => UnresolvedAttribute(name(a)) })

  private def plain(a: AttributeReference): Seq[String] = Seq(a.name)

  private def assignName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case other => sys.error(s"only top-level column assignments are supported, got $other")
  }

  /** UpdateTable → command. */
  def translateUpdate(u: UpdateTable): Option[GraftUpdateCommand] =
    graftTableOf(u.table).map { tbl =>
      val set = u.assignments.map(a => assignName(a.key) -> rebind(a.value, plain)).toMap
      val cond = u.condition.map(rebind(_, plain)).getOrElse(lit(true))
      val prune = u.condition.toSeq.flatMap(splitConjuncts).flatMap(CatalystPredicates.toPredicate)
      GraftUpdateCommand(tbl, set, cond, prune)
    }

  /** DeleteFromTable → command (any condition but subqueries; the
    * translatable conjuncts drive pruning).
    */
  def translateDelete(d: DeleteFromTable): Option[GraftDeleteCommand] =
    graftTableOf(d.table).map { tbl =>
      val cond = rebind(d.condition, plain)
      val prune = splitConjuncts(d.condition).flatMap(CatalystPredicates.toPredicate)
      GraftDeleteCommand(tbl, cond, prune)
    }

  /** MergeIntoTable → command. Supported shape (the reference's own
    * docs/12:107-126 pattern): equality ON keys, at most one WHEN MATCHED
    * UPDATE, at most one WHEN MATCHED DELETE, conditional WHEN NOT MATCHED
    * INSERT, and WHEN NOT MATCHED BY SOURCE UPDATE/DELETE actions.
    */
  def translateMerge(m: MergeIntoTable): Option[GraftMergeCommand] =
    graftTableOf(m.targetTable).map { tbl =>
      val targetIds = m.targetTable.outputSet
      val sourceIds = m.sourceTable.outputSet
      def qualified(a: AttributeReference): Seq[String] =
        if (sourceIds.contains(a)) Seq("s", a.name)
        else if (targetIds.contains(a)) Seq("t", a.name)
        else Seq(a.name)

      // the analyzer may wrap either side in implicit casts
      def attr(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        case c: Cast => attr(c.child)
        case _ => None
      }
      val onKeys = splitConjuncts(m.mergeCondition).map {
        case CEq(x, y) =>
          (attr(x), attr(y)) match {
            case (Some(a), Some(b)) if targetIds.contains(a) && sourceIds.contains(b) =>
              a.name -> b.name
            case (Some(b), Some(a)) if targetIds.contains(a) && sourceIds.contains(b) =>
              a.name -> b.name
            case _ => sys.error(
              s"MERGE ON must be a conjunction of target=source equalities, got ${CEq(x, y)}")
          }
        case other => sys.error(
          s"MERGE ON must be a conjunction of target=source equalities, got $other")
      }

      var update: Map[String, Column] = Map.empty
      var updateCond: Option[Column] = None
      var delete: Option[Column] = None
      m.matchedActions.foreach {
        case UpdateAction(cond, assignments, _) =>
          require(update.isEmpty, "at most one WHEN MATCHED UPDATE is supported")
          update = assignments.map(a => assignName(a.key) -> rebind(a.value, qualified)).toMap
          updateCond = cond.map(rebind(_, qualified))
        case DeleteAction(cond) =>
          require(delete.isEmpty, "at most one WHEN MATCHED DELETE is supported")
          delete = Some(cond.map(rebind(_, qualified)).getOrElse(lit(true)))
        case other => sys.error(s"unsupported WHEN MATCHED action: $other")
      }
      var insert: Option[Map[String, Column]] = None
      var insertCond: Option[Column] = None
      m.notMatchedActions.foreach {
        case InsertAction(cond, assignments) =>
          require(insert.isEmpty, "at most one WHEN NOT MATCHED INSERT is supported")
          insert = Some(assignments.map(a => assignName(a.key) -> rebind(a.value, qualified)).toMap)
          insertCond = cond.map(rebind(_, qualified))
        case other => sys.error(s"unsupported WHEN NOT MATCHED action: $other")
      }
      var bsUpdate: Map[String, Column] = Map.empty
      var bsUpdateCond: Option[Column] = None
      var bsDelete: Option[Column] = None
      m.notMatchedBySourceActions.foreach {
        case UpdateAction(cond, assignments, _) =>
          require(bsUpdate.isEmpty, "at most one WHEN NOT MATCHED BY SOURCE UPDATE is supported")
          bsUpdate = assignments.map(a => assignName(a.key) -> rebind(a.value, qualified)).toMap
          bsUpdateCond = cond.map(rebind(_, qualified))
        case DeleteAction(cond) =>
          require(bsDelete.isEmpty, "at most one WHEN NOT MATCHED BY SOURCE DELETE is supported")
          bsDelete = Some(cond.map(rebind(_, qualified)).getOrElse(lit(true)))
        case other => sys.error(s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }

      GraftMergeCommand(tbl, m.sourceTable, onKeys, update, updateCond, delete,
        insert, insertWhenNotMatched = insert.isDefined, insertCond,
        bsUpdate, bsUpdateCond, bsDelete)
    }
}

case class GraftUpdateCommand(tbl: GraftSparkTable, set: Map[String, Column],
                              cond: Column, prune: Seq[Predicate])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    tbl.graftTable.updateWhere(spark, set, cond, prune)
    Nil
  }
}

case class GraftDeleteCommand(tbl: GraftSparkTable, cond: Column, prune: Seq[Predicate])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    tbl.graftTable.deleteWhere(spark, cond, prune)
    Nil
  }
}

case class GraftMergeCommand(
    tbl: GraftSparkTable,
    source: LogicalPlan,
    onKeys: Seq[(String, String)],
    matchedUpdate: Map[String, Column],
    matchedUpdateCond: Option[Column],
    matchedDelete: Option[Column],
    notMatchedInsert: Option[Map[String, Column]],
    insertWhenNotMatched: Boolean,
    notMatchedInsertCond: Option[Column],
    bySourceUpdate: Map[String, Column],
    bySourceUpdateCond: Option[Column],
    bySourceDelete: Option[Column])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    tbl.graftTable.merge(spark, GraftSqlShim.ofRows(spark, source), onKeys,
      whenMatchedUpdate = matchedUpdate,
      whenMatchedUpdateCond = matchedUpdateCond,
      whenMatchedDelete = matchedDelete,
      whenNotMatchedInsert = notMatchedInsert,
      insertWhenNotMatched = insertWhenNotMatched,
      whenNotMatchedInsertCond = notMatchedInsertCond,
      whenNotMatchedBySourceUpdate = bySourceUpdate,
      whenNotMatchedBySourceUpdateCond = bySourceUpdateCond,
      whenNotMatchedBySourceDelete = bySourceDelete)
    Nil
  }
}
