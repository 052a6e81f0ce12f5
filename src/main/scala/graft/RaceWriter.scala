package graft

/** Cross-process concurrency probe: a standalone JVM that runs `nOps`
  * one-commit operations against an existing GraftTable, racing the
  * in-process writer launched by ConcurrencySpec — exercising the
  * CREATE_NEW commit protocol AND the logical conflict-resolution rebase
  * across OS processes, not just threads.
  *
  * Modes (the 2nd argument):
  *  - any other string: append (writerId, seq) rows, one commit each —
  *    a lost commit is directly observable as a missing pair;
  *  - `deleter`: DELETE `writer = 'victim' AND seq = i` for i in 1..n —
  *    predicate-disjoint from the racing appends, so with logical conflict
  *    resolution every delete must land (rebase, not error).
  *
  * Usage: tools/run.sh graft.RaceWriter <tablePath> <writerId|deleter> <nOps>
  */
object RaceWriter {
  def main(args: Array[String]): Unit = {
    val Array(tablePath, mode, n) = args
    val spark = Harness.session(2)
    import spark.implicits._
    val t = graft.table.GraftTable.forPath(spark, tablePath)
    if (mode == "deleter") {
      var total = 0L
      (1 to n.toInt).foreach { i =>
        total += t.delete(s"writer = 'victim' AND seq = $i")
      }
      // the spec asserts on this marker: every planned row was deleted
      println(s"DELETED $total")
    } else {
      (1 to n.toInt).foreach { i =>
        t.append(Seq((mode, i)).toDF("writer", "seq"))
      }
    }
    spark.stop()
  }
}
