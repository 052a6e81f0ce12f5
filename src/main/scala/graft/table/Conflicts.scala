package graft.table

/** Typed logical-conflict taxonomy for multi-writer commits (the public
  * Delta concurrency-exception surface; semantics per the Delta Lake VLDB
  * 2020 paper §3.2 — the machinery running beneath the reference's
  * concurrent gunicorn workers, docker-compose.yml:4-13 / api.py:102,107).
  *
  * Every class extends `java.util.ConcurrentModificationException` (as
  * Delta's do) so pre-existing catch sites keep working; the subtype tells
  * the caller WHAT logically conflicted:
  *
  *  - [[ConcurrentAppendException]]       — the winner added files this
  *    transaction's read (predicate or whole-table) should have seen.
  *  - [[ConcurrentDeleteReadException]]   — the winner removed files this
  *    transaction read.
  *  - [[ConcurrentDeleteDeleteException]] — the winner removed files this
  *    transaction also removes.
  *  - [[MetadataChangedException]]        — the winner changed table
  *    metadata (schema / partitioning / properties).
  *  - [[ProtocolChangedException]]        — the winner upgraded the
  *    protocol.
  *
  * A lost race whose winners trigger NONE of these classifications is not
  * a logical conflict at all: the transaction rebases onto the new head and
  * retries the same actions (disjoint-file DML + appends all land).
  */
class GraftConcurrentWriteException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

final class ConcurrentAppendException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class ConcurrentDeleteReadException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class ConcurrentDeleteDeleteException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class MetadataChangedException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class ProtocolChangedException(msg: String)
    extends GraftConcurrentWriteException(msg)

/** What a transaction READ and intends to REMOVE — the inputs to conflict
  * classification after a lost commit race. `OptimisticCommit.commit`
  * also writes the `RemoveFile` for each path in `removes`.
  *
  *  - `readWholeTable`: the txn's result depends on every row (a MERGE
  *    with no source-key pruning, an INSERT OVERWRITE, a RESTORE, a
  *    REPLACE TABLE, any metadata-only DDL) — any concurrent append
  *    invalidates it.
  *  - `readPredicate`: file-level predicate scoping the read (a DELETE's
  *    WHERE, a pruned MERGE's source-key range). Appends whose stats may
  *    match it conflict; provably-disjoint appends do not.
  *  - `readFiles`: paths whose CONTENT the txn read (pruned candidates,
  *    rewrite inputs). A winner removing one invalidates what we read.
  *  - `removes`: paths this txn's commit removes. Two writers removing the
  *    same file are two conflicting row-level operations.
  *
  * Metadata-only DDL (ADD CONSTRAINT, SET NOT NULL, SET TBLPROPERTIES, ...)
  * validated or re-stated the rows it saw, so it passes [[TxnInfo.wholeTable]]:
  * every data, metadata or protocol winner conflicts, and only a winner
  * that changed nothing (a zero-row DELETE) is rebased past. REPLACE TABLE
  * and INSERT OVERWRITE also remove every live file.
  *
  * OPTIMIZE-style reorganizations pass `readWholeTable = false` and no
  * predicate: they reorganize exactly `readFiles`, so appends never
  * conflict with them (Delta's dataChange=false leniency).
  */
private[table] final case class TxnInfo(
    readWholeTable: Boolean,
    readPredicate: Option[org.apache.spark.sql.Column],
    readFiles: Set[String],
    removes: Set[String])

private[table] object TxnInfo {
  /** Reads nothing, removes nothing (blind appends, zero-row DML): only a
    * concurrent metadata or protocol change conflicts. */
  val Blind: TxnInfo = TxnInfo(readWholeTable = false, None, Set.empty, Set.empty)

  /** Depends on every live file of `s`; with `removeAll`, also removes
    * every one of them. */
  def wholeTable(s: Snapshot, removeAll: Boolean = false): TxnInfo = {
    val live = s.files.map(_.path).toSet
    TxnInfo(readWholeTable = true, None, live, if (removeAll) live else Set.empty)
  }
}

/** The one optimistic commit path of a [[GraftTable]] (Delta Lake, VLDB
  * 2020 §3): every write, DML and DDL reads a snapshot, records in a
  * [[TxnInfo]] what it read and removes, and commits here. Only the
  * version-0 creates (CREATE, CTAS, CLONE, CONVERT) and ADOPT publish
  * through the log themselves. */
trait OptimisticCommit { self: GraftTable =>

  /** Commit a transaction based on snapshot `s`:
    *
    *  1. refuse if `s.protocol` lists a writer feature this build lacks;
    *  1. build the one `CommitInfo(v, ts, op, metrics)`;
    *  1. write a `RemoveFile(path, ts, dataChange)` for each path in
    *     `info.removes` (only OPTIMIZE passes `dataChange = false`),
    *     ahead of `actions(v, ts)` — RESTORE and DV deletes re-add paths
    *     they remove, and replay applies a commit's actions in order;
    *  1. publish through `GraftLog.commit`;
    *  1. on a lost race, classify every winner against `info`
    *     ([[classifyWinner]]): an overlap throws a typed
    *     [[GraftConcurrentWriteException]], a disjoint winner is REBASED
    *     past — the same actions rebuilt for the new head. The data files
    *     were already written and stay invisible until a commit lands, so
    *     a rebase costs one log read per winner and no data work. A writer
    *     that loses 10 straight races is livelocked and gets the error.
    *
    * `actions(v, ts)` builds everything else the commit carries; actions
    * that embed the version (a protection boundary, an enablement
    * version) are built there. `onRaceRecheck` runs after each lost race
    * whose winners were disjoint, with the new head: returning true
    * abandons the commit — the hook idempotent writers (appendIdempotent,
    * copyInto) use to re-probe their ledgers instead of rebasing into a
    * double write. A LogStore that breaks its publish contract is never
    * retried. Returns the committed version, or None when abandoned. */
  private[table] def commit(s: Snapshot, info: TxnInfo, op: String,
      metrics: Map[String, String], dataChange: Boolean = true,
      onRaceRecheck: Long => Boolean = _ => false)(
      actions: (Long, Long) => Seq[Action]): Option[Long] = {
    gateWriterFeatures(s.protocol)
    var base = s.version
    var attempts = 0
    while (true) {
      val v = base + 1
      val ts = log.nextTimestamp()
      try {
        log.commit(v, CommitInfo(v, ts, op, metrics) +:
          (info.removes.toSeq.map(RemoveFile(_, ts, dataChange)) ++ actions(v, ts)))
        return Some(v)
      } catch {
        case e: java.util.ConcurrentModificationException
            if !e.isInstanceOf[LogStoreContractException] =>
          attempts += 1
          val head = latestVersion
          (v to head).foreach(w => classifyWinner(s, w, info))
          if (onRaceRecheck(head)) return None
          if (attempts >= 10) throw e
          base = head
      }
    }
    None
  }

  /** One winning commit vs this transaction: throw the first applicable
    * typed conflict, or return (disjoint — safe to rebase past). */
  private def classifyWinner(s: Snapshot, w: Long, info: TxnInfo): Unit = {
    val actions = log.readVersion(w)
    val op = actions.collectFirst { case c: CommitInfo => c.operation }.getOrElse("?")
    if (actions.exists(_.isInstanceOf[Protocol]))
      throw new ProtocolChangedException(
        s"commit $w of $path upgraded the table protocol during this transaction")
    if (actions.exists(_.isInstanceOf[MetaData]))
      throw new MetadataChangedException(
        s"commit $w of $path ($op) changed table metadata during this transaction")
    val wRemoves = actions.collect { case r: RemoveFile => r.path }.toSet
    val dd = wRemoves.intersect(info.removes)
    if (dd.nonEmpty)
      throw new ConcurrentDeleteDeleteException(
        s"commit $w of $path ($op) removed ${dd.size} file(s) this transaction " +
          s"also removes (e.g. ${dd.head})")
    val dr = wRemoves.intersect(info.readFiles)
    if (dr.nonEmpty)
      throw new ConcurrentDeleteReadException(
        s"commit $w of $path ($op) removed ${dr.size} file(s) this transaction " +
          s"read (e.g. ${dr.head})")
    val wAdds = actions.collect { case a: AddFile => a }
    if (wAdds.nonEmpty) {
      val conflicting =
        if (info.readWholeTable) wAdds
        else info.readPredicate
          .map(p => pruneCandidates(s, p, wAdds)).getOrElse(Nil)
      if (conflicting.nonEmpty)
        throw new ConcurrentAppendException(
          s"commit $w of $path ($op) added ${conflicting.size} file(s) this " +
            "transaction's read should have seen")
    }
  }

  /** Streaming-sink entry: gate once at writer-factory creation, before
    * any executor writes a file. */
  private[graft] def gateWrite(s: Snapshot): Unit = gateWriterFeatures(s.protocol)

  /** Writer-feature gate (the write-side twin of GraftLog's reader gate): a
    * table whose protocol lists a writerFeature this build does not
    * implement must not be written — e.g. a generated-columns table written
    * by a writer that ignores the generation rule would silently break the
    * column invariant for every later reader. */
  protected def gateWriterFeatures(protocol: Protocol): Unit = {
    val unsupported = protocol.writerFeatures.filterNot(Protocol.supportedWriterFeatures)
    if (unsupported.nonEmpty) throw new GraftProtocolException(
      s"table $path requires writer features ${unsupported.mkString(", ")} " +
        s"this build does not support (supported: " +
        s"${Protocol.supportedWriterFeatures.toSeq.sorted.mkString(", ")})")
  }
}
