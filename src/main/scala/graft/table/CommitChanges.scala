package graft.table

/** What one commit changed, classified once from its actions — the one
  * `dataChange` rule behind batch `changes()`, the streaming source's row
  * mode, its change-feed mode and its admission control (Delta derives its
  * streaming source and its change data feed from the same log actions the
  * same way). A commit is one of four kinds:
  *
  *  - [[CommitChanges.Maintenance]]: a reorganization that changes no table
  *    content — one of graft's [[CommitChanges.MaintenanceOps]], or a
  *    foreign commit whose adds are all `dataChange = false`, whose removes
  *    are too, and which carries no change-data file;
  *  - [[CommitChanges.Sidecars]]: the commit wrote `_cdc/` change files;
  *  - [[CommitChanges.Appends]]: it adds rows and removes none;
  *  - [[CommitChanges.Rewrite]]: it removes rows and wrote no change files.
  *
  * `adds` and `removes` hold only the data-changing actions: a
  * `dataChange = false` add or remove pairs with the rows a reorganization
  * moved, not with new or deleted rows. */
sealed trait CommitChanges {
  def version: Long
  def info: Option[CommitInfo]
  def adds: Seq[AddFile]
  def removes: Seq[RemoveFile]

  def operation: String = info.map(_.operation).getOrElse("?")

  /** True when the commit deletes or rewrites rows: an append-only reader
    * cannot serve it as new rows. */
  def rewrites: Boolean = removes.nonEmpty

  /** The files and bytes a micro-batch reads for this commit: the change
    * files in change-feed mode when the commit wrote them, else the
    * data-changing adds. A change file logged before sizes were recorded
    * reads as size 0; a commit whose change files sum to 0 costs a large
    * sentinel instead, so a byte cap still gives it a batch of its own
    * rather than admitting the whole backlog at once. */
  def readCost(changeFeed: Boolean): (Long, Long) = this match {
    case s: CommitChanges.Sidecars if changeFeed =>
      val bytes = s.cdc.map(_.size).sum
      (s.cdc.size.toLong, if (bytes == 0L) Long.MaxValue / 4 else bytes)
    case _ => (adds.size.toLong, adds.map(_.size).sum)
  }
}

object CommitChanges {

  /** Graft operations that reorganize files or change only table
    * properties: never new or deleted rows. */
  val MaintenanceOps = Set("OPTIMIZE", "VACUUM", "SET TBLPROPERTIES",
    "UNSET TBLPROPERTIES", "ADD CONSTRAINT", "DROP CONSTRAINT")

  final case class Maintenance(version: Long, info: Option[CommitInfo])
      extends CommitChanges {
    def adds: Seq[AddFile] = Nil
    def removes: Seq[RemoveFile] = Nil
  }

  final case class Appends(version: Long, info: Option[CommitInfo], adds: Seq[AddFile])
      extends CommitChanges {
    def removes: Seq[RemoveFile] = Nil
  }

  final case class Rewrite(version: Long, info: Option[CommitInfo],
      adds: Seq[AddFile], removes: Seq[RemoveFile]) extends CommitChanges

  /** A commit with change files. `files` reads each file's shape against
    * the metaData governing the version, on first use: a reader that never
    * opens the change files (the row stream, admission control) reads no
    * snapshot for it and never meets a malformed-shape refusal. */
  final case class Sidecars(version: Long, info: Option[CommitInfo],
      adds: Seq[AddFile], removes: Seq[RemoveFile], cdc: Seq[CdcFile])(
      log: GraftLog) extends CommitChanges {
    lazy val governing: Snapshot = log.snapshotAt(version)
    lazy val files: Seq[Sidecar] = cdc.map(shapeOf(log.tablePath, version, governing, _))
  }

  /** One change file and how to read it. `partitionValues` is Some when
    * the action carries a value for every partition column — Delta's
    * AddCDCFile shape, whose file omits those columns — and None when the
    * columns are in the file (graft-native sidecars). `physical` is true
    * when the file spells physical column names (with field ids in id
    * mode): Delta-shaped files, every change file of a foreign table, and
    * the sidecars of a delta-compat version. */
  final case class Sidecar(file: CdcFile, partitionValues: Option[Seq[String]],
      physical: Boolean)

  /** Commit `v` of `log`, classified. */
  def of(log: GraftLog, v: Long): CommitChanges = {
    val actions = log.readVersion(v)
    val info = actions.collectFirst { case c: CommitInfo => c }
    val allAdds = actions.collect { case a: AddFile => a }
    val adds = allAdds.filterNot(_.tags.contains(Actions.DataChangeFalseTag))
    val removes = actions.collect { case r: RemoveFile if r.dataChange => r }
    val cdc = actions.collect { case c: CdcFile => c }
    // A foreign reorganization needs every guard: the add-side flag alone
    // is ambiguous, since a DV DELETE whose files all came out of an
    // earlier OPTIMIZE re-adds only once-flagged paths, yet its removes
    // change data (and a CDF table logs its change file).
    val foreignReorg = allAdds.nonEmpty && adds.isEmpty && removes.isEmpty && cdc.isEmpty
    if (info.exists(c => MaintenanceOps(c.operation)) || foreignReorg) Maintenance(v, info)
    else if (cdc.nonEmpty) Sidecars(v, info, adds, removes, cdc)(log)
    else if (removes.isEmpty) Appends(v, info, adds)
    else Rewrite(v, info, adds, removes)
  }

  /** `c`'s shape under the governing snapshot `s`. Its partition values
    * are looked up by physical name first (the key space data files use),
    * then by logical name. */
  private def shapeOf(tablePath: String, v: Long, s: Snapshot, c: CdcFile): Sidecar = {
    val partCols = s.metaData.partitionColumns
    val foreign = s.metaData.properties.contains(Actions.DeltaReadMarker)
    val cdcPartitionValues = partCols.map { pc =>
      val phys = s.schema.fields.find(_.name == pc).map(ColumnMapping.physicalName).getOrElse(pc)
      c.partitionValues.get(phys).orElse(c.partitionValues.get(pc))
    }
    val values =
      if (partCols.nonEmpty && cdcPartitionValues.forall(_.isDefined)) Some(cdcPartitionValues.flatten)
      else None
    // a partitioned FOREIGN change file without values is malformed:
    // nothing can reconstitute its partition columns, so refuse rather
    // than serve NULLs
    if (values.isEmpty && partCols.nonEmpty && foreign)
      throw new GraftProtocolException(
        s"cdc action of PARTITIONED foreign Delta table $tablePath at version " +
          s"$v carries no partitionValues; the change feed cannot " +
          "reconstitute its partition columns")
    Sidecar(c, values,
      physical = values.isDefined || foreign || DeltaWriteCompat.enabled(s.metaData))
  }
}
