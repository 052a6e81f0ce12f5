package graft.sources

import graft.table.{GraftTable, MergeClause}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.GraftSqlShims.{columnOf, dataFrameOf}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** SQL `DELETE FROM`, `UPDATE` and `MERGE INTO` over a graft table run the
  * table layer's own `delete`, `update` and `merge`: the same file
  * discovery, the same tombstone-or-rewrite step (`rewriteRows`), the same
  * CHECK, generated, identity and row-id handling and the same conflict
  * classification as the API. This post-hoc resolution rule, injected by
  * [[graft.GraftExtensions]], replaces each resolved statement with a graft
  * leaf command (the way Delta's session extension plans its DML).
  *
  * The statement's expressions were resolved against the catalog relation;
  * each of its columns is rebound BY NAME to the table layer's frame
  * (qualified `t.` in a MERGE). A MERGE source stays its analyzed plan, and
  * the command reads it through a frame built from that plan, so source
  * attributes keep their ids and bind as resolved. Schema evolution
  * (`MERGE WITH SCHEMA EVOLUTION`) is Spark's: it has altered the table
  * before the statement resolves here. */
object GraftDml extends Rule[LogicalPlan] {

  private[sources] val TargetAlias = "t"
  private[sources] val SourceAlias = "s"

  /** The graft table behind a (possibly aliased) catalog relation, with
    * the relation's columns. */
  private object GraftRelation {
    def unapply(plan: LogicalPlan): Option[(GraftTable, AttributeSet)] =
      EliminateSubqueryAliases(plan) match {
        case r: DataSourceV2Relation => r.table match {
          case t: GraftSqlTable => Some((t.table, AttributeSet(r.output)))
          case _ => None
        }
        case _ => None
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(GraftRelation(t, out), cond) if d.resolved =>
      GraftDeleteCommand(t, bind(cond, out, Nil))
    case u @ UpdateTable(GraftRelation(t, out), assignments, cond) if u.resolved =>
      GraftUpdateCommand(t, bind(cond.getOrElse(Literal.TrueLiteral), out, Nil),
        columns(assignments, out, Nil))
    case m @ MergeIntoTable(GraftRelation(t, out), source, cond, matched, notMatched,
        bySource, _) if m.resolved && m.duplicateResolved && !m.needSchemaEvolution =>
      val q = Seq(TargetAlias)
      def c(e: Option[Expression]): Option[Column] = e.map(bind(_, out, q))
      GraftMergeCommand(t, source, bind(cond, out, q),
        matched.map {
          case UpdateAction(e, as, _) => MergeClause.MatchedUpdate(c(e), columns(as, out, q))
          case DeleteAction(e) => MergeClause.MatchedDelete(c(e))
          case a => unsupported(a)
        },
        notMatched.map {
          case InsertAction(e, as) => MergeClause.NotMatchedInsert(c(e), columns(as, out, q))
          case a => unsupported(a)
        },
        bySource.map {
          case UpdateAction(e, as, _) => MergeClause.BySourceUpdate(c(e), columns(as, out, q))
          case DeleteAction(e) => MergeClause.BySourceDelete(c(e))
          case a => unsupported(a)
        })
  }

  /** `e` with every column of the relation `out` spelled by name under
    * `qualifier`, for the table layer's frame to resolve. A subquery
    * correlated with the target is refused: its inner plan holds the
    * relation's columns as outer references, which a name cannot rebind
    * without capture by the subquery's own columns. */
  private def bind(e: Expression, out: AttributeSet, qualifier: Seq[String]): Column = {
    e.foreach {
      case q: SubqueryExpression if q.getOuterAttrs.exists(_.references.exists(out.contains)) =>
        throw new UnsupportedOperationException(
          s"graft SQL DML does not support a subquery correlated with the target table: ${q.sql}")
      case _ =>
    }
    columnOf(e.transform {
      case a: AttributeReference if out.contains(a) => UnresolvedAttribute(qualifier :+ a.name)
    })
  }

  /** SET / INSERT assignments as column name → value. */
  private def columns(assignments: Seq[Assignment], out: AttributeSet,
      qualifier: Seq[String]): Map[String, Column] = {
    val named = assignments.map {
      case Assignment(k: AttributeReference, v) if out.contains(k) => k.name -> bind(v, out, qualifier)
      case Assignment(k, _) => throw new UnsupportedOperationException(
        s"graft SQL DML assigns top-level columns only, got ${k.sql}")
    }
    val dup = named.map(_._1).diff(named.map(_._1).distinct)
    require(dup.isEmpty, s"column(s) ${dup.distinct.mkString(", ")} assigned more than once")
    named.toMap
  }

  private def unsupported(a: MergeAction): Nothing =
    throw new UnsupportedOperationException(s"graft MERGE does not support the clause $a")
}

/** `DELETE FROM` over a graft table: [[GraftTable.delete]]. */
case class GraftDeleteCommand(table: GraftTable, condition: Column) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = { table.delete(condition); Nil }
}

/** `UPDATE` over a graft table: [[GraftTable.update]] with Column values. */
case class GraftUpdateCommand(table: GraftTable, condition: Column, set: Map[String, Column])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = { table.updateWith(condition, set); Nil }
}

/** `MERGE INTO` a graft table: the MERGE behind [[graft.table.MergeBuilder]].
  * `source` is the statement's analyzed source plan, held as a plan (not a
  * child) and read through a frame built from it at run time. */
case class GraftMergeCommand(table: GraftTable, source: LogicalPlan, condition: Column,
    matched: Seq[MergeClause.Matched], notMatched: Seq[MergeClause.NotMatchedInsert],
    bySource: Seq[MergeClause.BySource]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    table.executeMerge(dataFrameOf(spark, source), condition, GraftDml.TargetAlias,
      GraftDml.SourceAlias, matched, notMatched, bySource)
    Nil
  }
}
