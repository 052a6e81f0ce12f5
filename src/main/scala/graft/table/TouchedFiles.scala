package graft.table

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** The row-level ops' touched-file pass: which files a DELETE, UPDATE,
  * replaceWhere or MERGE touches and how many rows of each it affects,
  * found in one SQL execution and one Spark job that adds no exchange
  * (Delta Lake's touched-file scan over the join).
  *
  * Each task folds its rows into per-file bitmaps of matched and affected
  * positions; the driver ORs them across tasks. A position matched twice,
  * within one task or in two tasks, is a duplicate match. The check reads
  * only positions, so it holds wherever the join puts the copies of a
  * target row: broadcast, shuffled-hash, sort-merge or skew-split. */
object TouchedFiles {

  val DuplicateMatch = "MERGE failed: multiple source rows matched the same target row"

  /** One file's matched and affected positions, from one task or combined
    * over all of them; `duplicate` when some position was matched twice. */
  final case class Fold(file: String, matched: RoaringBitmap, affected: RoaringBitmap,
      duplicate: Boolean)

  /** Each file's affected positions, keyed by the rows' `__fname`; files
    * without one are left out. `rows` carry `__fname` and `__pos`
    * provenance; `matched` flags a row a MERGE source row matched (lit
    * false where no guard applies) and `affected` a row the op changes or
    * removes. Throws [[DuplicateMatch]] when a touched file holds a
    * position matched twice, before anything is written. */
  def affectedPerFile(rows: DataFrame, matched: Column, affected: Column)
      : Map[String, RoaringBitmap] = {
    val qe = rows.select(col("__fname"), col("__pos"), matched, affected).queryExecution
    val folds = SQLExecution.withNewExecutionId(qe, Some("graft discover")) {
      qe.toRdd.mapPartitions(foldTask).collect()
    }
    touched(combine(folds.iterator))
  }

  /** The tasks' folds ORed per file. */
  private[table] def combine(folds: Iterator[Fold]): Map[String, Fold] = {
    val out = mutable.HashMap.empty[String, Fold]
    folds.foreach { f =>
      out(f.file) = out.get(f.file).fold(f)(acc => Fold(f.file,
        RoaringBitmap.or(acc.matched, f.matched), RoaringBitmap.or(acc.affected, f.affected),
        acc.duplicate || f.duplicate || RoaringBitmap.intersects(acc.matched, f.matched)))
    }
    out.toMap
  }

  /** Affected positions of each file with one; throws on a duplicate
    * match in such a file. */
  private[table] def touched(files: Map[String, Fold]): Map[String, RoaringBitmap] = {
    val hit = files.values.filterNot(_.affected.isEmpty)
    if (hit.exists(_.duplicate)) throw new IllegalStateException(DuplicateMatch)
    hit.map(f => f.file -> f.affected).toMap
  }

  private final class Bits {
    val matched = new RoaringBitmap
    val affected = new RoaringBitmap
    var duplicate = false
  }

  /** One task's rows (`__fname`, `__pos`, matched, affected) as one fold
    * per file. Rows of one file mostly arrive together, so a row costs one
    * comparison of its file name with the previous row's. */
  private def foldTask(rows: Iterator[InternalRow]): Iterator[Fold] = {
    val files = mutable.HashMap.empty[UTF8String, Bits]
    var lastKey: UTF8String = null
    var last: Bits = null
    rows.foreach { r =>
      val key = r.getUTF8String(0)
      if (key != lastKey) {
        lastKey = key.clone()
        last = files.getOrElseUpdate(lastKey, new Bits)
      }
      // the int bound every deletion-vector bitmap relies on
      val p = r.getLong(1)
      if (p < 0 || p > Int.MaxValue)
        throw new IllegalStateException(s"row position $p of $key is outside the int range")
      if (!r.isNullAt(2) && r.getBoolean(2) && !last.matched.checkedAdd(p.toInt))
        last.duplicate = true
      if (!r.isNullAt(3) && r.getBoolean(3)) last.affected.add(p.toInt)
    }
    files.iterator.map { case (k, b) =>
      b.matched.runOptimize(); b.affected.runOptimize()
      Fold(k.toString, b.matched, b.affected, b.duplicate)
    }
  }
}
