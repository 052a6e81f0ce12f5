package graft

import graft.functions.{DotProduct, HammingDistance}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension wiring: runs SQL `UPDATE`, `MERGE INTO` and
  * `DELETE FROM` over catalog graft tables through the table layer's
  * native row-level path ([[graft.sources.GraftDml]]), registers the
  * native graft expressions for SQL use (`SELECT vec_dot(a, b)`) and the
  * table-valued functions that give the table layer's metadata surfaces a
  * SQL front door:
  *
  * {{{
  *   SELECT version, operation FROM graft_history('/data/events')
  *   SELECT * FROM graft_table_changes('/data/events', 0, 2)
  * }}}
  *
  * (`graft_history` is the DESCRIBE HISTORY equivalent; the TVF shape
  * matches Delta's `table_changes`.) Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`. As with
  * Delta's session extension, a session without it still reads, writes
  * and runs DDL on catalog graft tables, and a `DELETE FROM` whose
  * predicate translates to data source filters still deletes; Spark
  * refuses `UPDATE` and `MERGE INTO` at planning, before anything is
  * written.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litAt(children: Seq[Expression], i: Int, usage: String): Any = {
    require(children.length > i && children(i).foldable,
      s"usage: $usage — argument ${i + 1} must be a literal")
    children(i).eval()
  }
  private def strAt(children: Seq[Expression], i: Int, usage: String): String =
    String.valueOf(litAt(children, i, usage))
  private def longAt(children: Seq[Expression], i: Int, usage: String): Long =
    litAt(children, i, usage) match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(s"usage: $usage — got $other")
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => graft.sources.GraftDml)
    // metadata-only COUNT(*): answer an unfiltered global count over a
    // graft relation from the transaction log (zero files, zero jobs)
    ext.injectOptimizerRule(session => graft.plans.MetadataOnlyCount(session))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      children => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("hamming"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming"),
      children => HammingDistance(children.head, children(1))))

    // Table-valued functions resolve at analysis time on the driver: the
    // builder runs the metadata fold (history) or builds the CDF plan
    // (changes) and splices the resulting ANALYZED logical plan in place
    // of the function call — no parser change, public extension API only.
    ext.injectTableFunction((
      new FunctionIdentifier("graft_history"),
      new ExpressionInfo(classOf[graft.table.GraftTable].getName, "graft_history"),
      { children =>
        val usage = "graft_history('/table/path')"
        val t = graft.table.GraftTable.forPath(
          org.apache.spark.sql.SparkSession.active, strAt(children, 0, usage))
        t.history().queryExecution.analyzed
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(classOf[graft.table.GraftTable].getName, "graft_table_changes"),
      { children =>
        val usage = "graft_table_changes('/table/path', fromVersion|'fromTs', toVersion|'toTs')"
        val t = graft.table.GraftTable.forPath(
          org.apache.spark.sql.SparkSession.active, strAt(children, 0, usage))
        // Delta's table_changes accepts versions OR timestamp strings;
        // timestamps resolve through the log's O(log n) binary search to
        // the inclusive window [fromTs, toTs]: every commit at/after
        // fromTs up to the last commit at/before toTs. (Version bounds
        // keep their established (from, to] shape — q138 — so the
        // timestamp form subtracts one from the resolved start.)
        def bound(i: Int, isFrom: Boolean): Long = litAt(children, i, usage) match {
          case n: java.lang.Number => n.longValue()
          case s =>
            val ms = java.sql.Timestamp.valueOf(String.valueOf(s)).getTime
            if (isFrom) t.log.firstVersionAtOrAfter(ms).map(_ - 1).getOrElse(
              throw new IllegalArgumentException(
                s"no commits at or after '$s' in ${t.path}"))
            else t.versionAt(ms)
        }
        t.changes(bound(1, isFrom = true), bound(2, isFrom = false))
          .queryExecution.analyzed
      }))
    // DESCRIBE DETAIL front door: one-row table summary from the log alone
    // (version, files, rows, bytes, partition columns — zero data files
    // opened), Delta's `DESCRIBE DETAIL` as a TVF.
    ext.injectTableFunction((
      new FunctionIdentifier("graft_detail"),
      new ExpressionInfo(classOf[graft.table.GraftTable].getName, "graft_detail"),
      { children =>
        val usage = "graft_detail('/table/path')"
        val t = graft.table.GraftTable.forPath(
          org.apache.spark.sql.SparkSession.active, strAt(children, 0, usage))
        t.detail().queryExecution.analyzed
      }))
  }
}
