package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot = the table state at one version: last metaData wins, live files
  * = adds minus removes, latest txn version per appId, last protocol wins —
  * replayed over commits 0..version (Delta protocol semantics —
  * SURVEY.md §2-B.1). */
final case class Snapshot(version: Long, metaData: MetaData, files: Seq[AddFile],
    transactions: Map[String, Long] = Map.empty,
    protocol: Protocol = Protocol()) {
  lazy val schema: StructType = DataType.fromJson(metaData.schemaString).asInstanceOf[StructType]
}

/** The `_delta_log/` of a GraftTable: numbered JSON commit files.
  *
  * Commit N is `_delta_log/%020d.json`. Every storage touch — reads,
  * existence probes, listings, and above all the atomic publish that
  * makes version N's commit file the mutual-exclusion lock — rides the
  * [[LogStore]] seam; [[PosixLogStore]] (hard-link CAS) is the default,
  * and an object-store deployment plugs its putIfAbsent shim in here (the
  * contract is documented on the trait, public Delta's LogStore shape).
  * A store that silently violates the contract is caught by the commit
  * path's read-back verification, not by corrupt tables downstream.
  */
final class GraftLog(val tablePath: String,
    val store: LogStore = PosixLogStore) {
  val logDir: Path = Paths.get(tablePath, "_delta_log")

  def exists: Boolean =
    store.isDirectory(logDir) &&
      (store.exists(versionFile(earliestVersion)) || checkpointOnly)

  /** True for a foreign Delta log whose EVERY JSON commit was deleted by
    * delta-spark's metadata cleanup (a valid post-cleanup Delta state):
    * only the checkpoint parquet (+ `_last_checkpoint`) survives. Such a
    * log must still read (the checkpoint IS the snapshot) and must refuse
    * graft writes — `GraftTable.create` inside a live Delta table would
    * let a later graft VACUUM delete Delta's live data files. */
  @volatile private var checkpointOnlyCache = false
  private def checkpointOnly: Boolean = checkpointOnlyCache || {
    val r = !store.exists(versionFile(earliestVersion)) &&
      recoveredFloor.exists(checkpointExistsAt)
    if (r) checkpointOnlyCache = true // a JSON commit never reappears below the floor
    r
  }

  def versionFile(v: Long): Path = logDir.resolve(f"$v%020d.json")

  /** Retention floor recovered by inspection for logs with no `_log_start`
    * and no version-0 JSON (foreign-cleaned Delta logs): the minimum
    * surviving JSON commit, else the newest Delta checkpoint version
    * (fully-cleaned checkpoint-only log). MEMOIZED once found — the floor
    * only moves at cleanup (which rewrites the pointers this fallback
    * substitutes for), and without memoization every exists/latestVersion
    * call would re-LIST the directory: object-store LIST multiplication on
    * the hot read path. Never memoized while nothing is found, so a table
    * created later still probes fresh. */
  @volatile private var recoveredFloorCache: Option[Long] = None
  private def recoveredFloor: Option[Long] = {
    val c = recoveredFloorCache
    if (c.isDefined) c
    else {
      val f = listVersions.minOption.orElse(newestCheckpointByListing)
      if (f.isDefined) recoveredFloorCache = f
      f
    }
  }

  /** Newest checkpoint version on disk, pointer first, one listing as the
    * fallback (lost `_last_checkpoint`) — only consulted off the recovered
    * floor path, never per-read. */
  private def newestCheckpointByListing: Option[Long] =
    lastCheckpointPointer.filter(checkpointExistsAt).orElse {
      if (!store.isDirectory(logDir)) None
      else {
        listingCount += 1
        // one glob covers every checkpoint spelling: graft json/parquet,
        // delta classic/multi-part parquet, and v2 UUID manifests (which
        // may be .json — the old *.parquet glob missed those)
        store.list(logDir, "*.checkpoint*")
          .map(_.getFileName.toString)
          .flatMap(n => "^(\\d{20})\\.checkpoint".r
            .findFirstMatchIn(n).map(_.group(1).toLong))
          .maxOption
      }
    }

  /** Earliest commit file still on disk: 0 unless `cleanupExpiredLogs`
    * pruned history, in which case the `_log_start` pointer (written
    * atomically at cleanup) names the retention boundary — zero-listing,
    * like `_last_checkpoint`. Time travel below it fails with
    * version-does-not-exist, the documented retention contract. */
  private val logStartFile: Path = logDir.resolve("_log_start")
  def earliestVersion: Long =
    if (!store.exists(logStartFile)) {
      // No retention pointer: 0 for every graft table (cleanup always
      // writes `_log_start`). A FOREIGN delta log cleaned by delta-spark
      // has no pointer AND no version-0 JSON — recover the floor from the
      // commit files themselves (memoized single listing, foreign-cleaned
      // path only).
      if (store.exists(versionFile(0L))) 0L
      else recoveredFloor.getOrElse(0L)
    }
    else try store.readString(logStartFile).trim.toLong
    catch { case _: Exception =>
      // a present-but-unreadable pointer on a CLEANED log must not fall
      // back to 0: version 0's commit file is deleted, so exists /
      // latestVersion would probe it and declare an intact table
      // unreadable — the very corruption this fallback exists to survive.
      // Recover the true floor from the commit files themselves (one
      // memoized listing, corrupt-pointer path only — never the hot path).
      recoveredFloor.getOrElse(0L)
    }

  /** Delete commit + checkpoint files whose versions predate the newest
    * checkpoint at or before `cutoffTs` (Delta's metadata cleanup /
    * logRetentionDuration): every retained version still folds (the
    * boundary checkpoint is the replay seed), the log stops growing
    * without bound at one commit file per write forever, and time travel
    * older than the retention window dies — the same trade VACUUM makes
    * for data files. Returns the number of files removed.
    *
    * `protectedBelow` (delta's checkpointProtection feature, from the
    * `delta.requireCheckpointProtectionBeforeVersion` property): the spec
    * permits metadata cleanup ONLY as a truncation to a boundary AT OR
    * ABOVE the protected version — the protected range holds checkpoints
    * a feature-drop workflow planted to shield old readers, and
    * recreating a boundary checkpoint inside it could resurrect state
    * those checkpoints exist to hide. When the newest in-retention
    * checkpoint falls below the protected version there is NO legal
    * boundary, so cleanup no-ops (the spec's alternative — validate every
    * feature of every removed commit — is intentionally unused: the
    * truncation path is always sound and eventually unblocks as the
    * table's own checkpoints pass the protected version). */
  def cleanupExpiredLogs(cutoffTs: Long, protectedBelow: Long = -1L): Int = {
    // the read-only contract covers MAINTENANCE, not just commits: log
    // cleanup deletes delta-spark's commit files and plants graft's
    // _log_start pointer inside a log another engine owns
    refuseForeignMutation("log cleanup")
    // stray staging files (".<uuid>...tmp") are crash leftovers: every
    // normal path deletes its tmp in `finally`, so anything old enough to
    // predate the cutoff can only be debris from a killed writer — sweep
    // it here (cleanup already owns a listing; nothing else ever will)
    var removed = sweepStaleTmp(cutoffTs)
    val boundaryVersion = lastVersionAtOrBefore(cutoffTs).getOrElse(return removed)
    val cp = latestCheckpointAtOrBefore(boundaryVersion).getOrElse(return removed)
    // checkpointProtection clamp: a truncation below the protected
    // version is illegal under the delta spec — no-op until the newest
    // in-retention checkpoint reaches it
    if (cp < protectedBelow) return removed
    val first = earliestVersion
    if (cp <= first) return removed
    // publish the new start BEFORE deleting: a concurrent reader either
    // sees the old start (files still present) or the new one
    val tmp = logDir.resolve(s".${java.util.UUID.randomUUID()}.start.tmp")
    store.writeTmp(tmp, cp.toString.getBytes(StandardCharsets.UTF_8))
    store.publishOverwrite(tmp, logStartFile)
    (first until cp).foreach { v =>
      if (store.deleteIfExists(versionFile(v))) removed += 1
      if (store.deleteIfExists(checkpointFile(v))) removed += 1
      if (store.deleteIfExists(parquetCheckpointFile(v))) removed += 1
      val parts = multipartFiles(v)
      parts.foreach(p => if (store.deleteIfExists(p)) removed += 1)
      if (parts.nonEmpty && store.deleteIfExists(multipartManifestFile(v))) removed += 1
    }
    removed
  }

  private def sweepStaleTmp(cutoffTs: Long): Int = {
    if (!store.isDirectory(logDir)) return 0
    // debris floor INDEPENDENT of the caller's log-retention argument: a
    // retention-0 cleanup must never reap the tmp a concurrent writer is
    // between write and createLink on, or a just-moved part ahead of its
    // manifest — anything under an hour old could be a live publish
    val debrisCutoff = math.min(cutoffTs, System.currentTimeMillis() - 3600L * 1000)
    listingCount += 1
    val stale = store.list(logDir, ".*.tmp")
    val tmps = stale.count { p =>
      try store.mtimeMs(p) < debrisCutoff && store.deleteIfExists(p)
      catch { case _: java.io.IOException => false } // racing writer's live tmp
    }
    // manifest-less multipart parts are debris from a crash between the
    // part moves and the manifest publish — invisible to every reader,
    // reclaimed here once old enough to predate the cutoff
    listingCount += 1
    val parts = store.list(logDir, "*.checkpoint.*.parquet")
    val orphans = parts
      .filter(_.getFileName.toString.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.parquet"))
      .count { p =>
        val v = p.getFileName.toString.take(20).toLong
        try !store.isRegularFile(multipartManifestFile(v)) &&
          store.mtimeMs(p) < debrisCutoff && store.deleteIfExists(p)
        catch { case _: java.io.IOException => false }
      }
    tmps + orphans
  }

  def listVersions: Seq[Long] = {
    listingCount += 1
    if (!store.isDirectory(logDir)) Seq.empty
    else store.list(logDir, "*.json")
      .map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong)
      .sorted
  }

  /** Latest version WITHOUT listing the log directory: start at the
    * `_last_checkpoint` pointer (advisory — possibly stale, never wrong)
    * and probe forward with existence checks. Commit files are created
    * contiguously, so the walk is O(commits since last checkpoint), not
    * O(history) — the object-store LIST bottleneck Delta's pointer file
    * exists to avoid. */
  def latestVersion: Long = {
    // the no-pointer fallback starts at earliestVersion, NOT 0: after
    // cleanupExpiredLogs pruned old commits, a lost/corrupt pointer must
    // still find the head (probing from 0 would stop at the pruned gap
    // and declare an intact table unreadable)
    // the pointer is usable when its commit JSON survives OR (checkpoint-
    // only foreign log) the checkpoint itself does — the fold then seeds
    // from the checkpoint with zero commits to replay
    val start = lastCheckpointPointer
      .filter(v => store.exists(versionFile(v)) || checkpointExistsAt(v))
      .getOrElse {
        require(exists, s"$tablePath is not a GraftTable: empty ${logDir}")
        earliestVersion
      }
    var v = start
    while (store.exists(versionFile(v + 1))) v += 1
    v
  }

  /** Parsed-actions cache: commit files are created CREATE_NEW and never
    * rewritten (VACUUM removes data files, not log files), so a parsed
    * version can be cached forever — bounded LRU so a long history doesn't
    * pin the heap. DML paths read the same commits repeatedly (snapshot
    * fold, conflict classification, CDC planning, nextTimestamp); this
    * turns those re-reads into map hits. */
  private val actionCache =
    new java.util.LinkedHashMap[Long, Seq[Action]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Seq[Action]]): Boolean =
        size > 256
    }

  /** Newest mention of a delta `domainMetadata` domain in the retained
    * JSON tail (head → earliest): Some(Some(cfg)) when present,
    * Some(None) when the newest mention REMOVED it (a checkpoint fallback
    * must not resurrect it), None when the tail never mentions it (the
    * domain may still live in a checkpoint — domains survive metadata
    * cleanup only there). Graft's own fold skips domain actions
    * (IgnoredAction) — this raw scan is how ADOPTION folds the engine
    * state delta keeps in domains (the rowTracking high-water mark,
    * liquid clustering columns) into graft's native spellings. */
  private[table] def domainConfig(domain: String): Option[Option[String]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val first = earliestVersion
    var v = latestVersion
    while (v >= first) {
      val f = versionFile(v)
      if (store.exists(f)) {
        val hits = store.readLines(f).filter(_.contains("\"domainMetadata\""))
          .flatMap { l =>
            val n = mapper.readTree(l)
            Option(n.get("domainMetadata"))
              .filter(_.get("domain").asText() == domain)
          }
        hits.lastOption.foreach { n =>
          return if (Option(n.get("removed")).exists(_.asBoolean())) Some(None)
                 else Some(Some(n.get("configuration").asText()))
        }
      }
      v -= 1
    }
    None
  }

  /** The delta checkpoint file set at the `_last_checkpoint` version —
    * adoption's domain fallback reads domainMetadata rows from it when
    * the JSON tail never mentions the domain (metadata cleanup leaves
    * the checkpoint as the only carrier). */
  private[table] def checkpointFilesForDomains: Seq[Path] =
    lastCheckpointPointer.toSeq.flatMap(deltaCheckpointFiles)

  def readVersion(v: Long): Seq[Action] = synchronized {
    val cached = actionCache.get(v)
    if (cached != null) cached
    else {
      uncachedVersionReads += 1
      val f = versionFile(v)
      require(store.exists(f), s"version $v does not exist for table $tablePath")
      val parsed = store.readLines(f)
        .filter(_.nonEmpty).map(Actions.fromJson)
        .map {
          // a Delta commitInfo names no version (the commit FILE does) —
          // patch it here so history()/time travel see real versions
          case c: CommitInfo if c.version < 0 => c.copy(version = v)
          case a => a
        }
      actionCache.put(v, parsed)
      parsed
    }
  }

  /** Atomically create commit `v`. Throws if `v` already exists (lost race —
    * caller re-resolves the latest version and retries or aborts). */
  /** Schema-driven protocol auto-upgrade (Delta's feature-on-first-use
    * semantics, centralized so EVERY path that commits a MetaData — create,
    * staged CTAS/RTAS, REPLACE, ADD COLUMNS, mergeSchema writes, MERGE
    * schema evolution — is covered): a schema that contains a VARIANT
    * column requires the `variantType` reader feature, so a foreign build
    * that cannot decode the parquet variant group refuses the table at the
    * gate instead of misreading it. */
  private def ensureSchemaFeatures(v: Long, actions: Seq[Action]): Seq[Action] = {
    // schema-derived protocol features: a reader that predates the TYPE
    // (variant's parquet layout; NTZ's zone-less timestamp semantics)
    // must fail loudly at load, so the first commit whose schema carries
    // it stamps the feature in the same version
    // hasVariantType / hasNtzType carry their own cheap substring
    // pre-filters before the schema-JSON parse
    val needed: Seq[String] = actions.collectFirst { case m: MetaData => m }
      .map { m =>
        (if (DeltaWriteCompat.hasVariantType(m)) Seq("variantType") else Nil) ++
        (if (DeltaWriteCompat.hasNtzType(m)) Seq("timestampNtz") else Nil) ++
        // collated strings (round 17): a reader that predates collations
        // would compare the column by binary order — silently wrong
        // equality/GROUP BY/sort — so the first collated schema gates the
        // table under a graft-private feature name (delta's own collation
        // spelling is preview-only; compat refuses collated schemas)
        (if (DeltaWriteCompat.hasCollatedStrings(m)) Seq("graft.collations")
         else Nil)
      }.getOrElse(Nil)
    if (needed.isEmpty) return actions
    val base = actions.collectFirst { case p: Protocol => p }
      .getOrElse(if (v == 0) Protocol() else snapshotAt(v - 1).protocol)
    val missing = needed.filterNot(base.readerFeatures.contains)
    if (missing.isEmpty) actions
    else {
      val up = base.copy(
        minReaderVersion = math.max(base.minReaderVersion, 2),
        minWriterVersion = math.max(base.minWriterVersion, 2),
        readerFeatures = base.readerFeatures ++ missing,
        writerFeatures = (base.writerFeatures ++ missing).distinct)
      up +: actions.filterNot(_.isInstanceOf[Protocol])
    }
  }

  /** True when the log was written by REAL delta-spark, probed from the
    * earliest retained commit via [[Actions.isDeltaShaped]] — the SAME
    * node-level criteria the parser dispatches on (add carrying
    * `dataChange`/nested `stats`/no top-level `numRecords`; metaData with
    * a `format`/`configuration` block). Node-level, never substring: a
    * graft column literally NAMED `dataChange` lands inside min/max stat
    * maps and must not flip its own table read-only. A checkpoint-only
    * foreign log (Delta metadata cleanup can delete every JSON commit) is
    * detected by the surviving Delta checkpoint parquet itself. Evaluated
    * lazily at the FIRST commit attempt (a not-yet-existing table is
    * graft's own by construction) and memoized — one extra read per log
    * instance, never per commit. */
  /** True when the log was written by real delta-spark — such tables are
    * READ-ONLY end to end: commits, checkpoints, log cleanup and data
    * vacuum all refuse (the foreign engine owns retention and layout). */
  private[graft] def isForeignDelta: Boolean = foreignDeltaLog

  /** Shared refusal for every path that would MUTATE a foreign Delta
    * table's directory (write a file into its `_delta_log`, or delete one
    * from it). */
  private[table] def refuseForeignMutation(what: String): Unit =
    if (foreignDeltaLog) throw new GraftProtocolException(
      s"$tablePath is a Delta table written by delta-spark — graft reads " +
        s"it transparently but $what would mutate state the foreign " +
        "engine owns; adopt it in place (CALL graft.system.adopt_delta — " +
        "zero copy) or copy it into a fresh graft table " +
        "(CALL graft.system.import_delta) first")

  /** Memoized but INVALIDATABLE: [[adoptForeignDelta]] flips ownership in
    * place, so the probe cannot be a one-shot lazy val. The cache carries
    * (isForeign, hasForeignPrefix, latestVersion at probe time): for
    * ADOPTED logs (foreign prefix, graft-marked head) the answer
    * re-validates whenever the log GREW past the probed version — a
    * foreign engine committing past the adoption must flip even a
    * long-lived handle back to read-only foreign, not only fresh opens. */
  @volatile private var foreignDeltaCache: Option[(Boolean, Boolean, Long)] = None

  /** The newest commit carries the graft ownership markers (the adopting
    * commit, then every compat commit graft writes). */
  private def graftOwnedHead(lv: Long): Boolean =
    try !checkpointOnly &&
      store.readLines(versionFile(lv)).exists(Actions.hasGraftWriterMarker)
    catch { case _: Exception => false }

  private def foreignDeltaLog: Boolean = foreignDeltaCache match {
    // stable answers: a natively-graft log never becomes foreign, and a
    // foreign log only becomes graft's through adoptForeignDelta (which
    // rewrites the cache itself); another HANDLE's adoption keeps this one
    // refusing writes until reopened — conservative, never corrupting
    case Some((ans, false, _)) => ans
    case Some((true, _, _)) => true
    // ADOPTED: contested-ownership check — if the log grew since the
    // probe, re-read just the newest commit's marker (cached read)
    case Some((false, true, v0)) =>
      val lv = latestVersion
      if (lv == v0) false
      else {
        val owned = graftOwnedHead(lv)
        foreignDeltaCache = Some((!owned, true, lv))
        !owned
      }
    case None =>
      val lv = if (exists) latestVersion else -1L
      // checkpointOnly ⇒ foreign: graft's own cleanup always retains the
      // boundary JSON, so a zero-JSON log can only be delta-spark's. A
      // delta-shaped earliest commit is graft's own when it carries the
      // compat.delta.write authorship marker (metaData configuration or
      // commitInfo.engineInfo — present in every compat commit).
      val foreignByEarliest = exists && {
        try checkpointOnly || {
          val lines = store.readLines(versionFile(earliestVersion))
          lines.exists(Actions.isDeltaShaped) &&
            !lines.exists(Actions.hasGraftWriterMarker)
        } catch { case _: Exception => false }
      }
      // If a foreign engine wrote PAST an adoption, the newest commit
      // loses the marker and the table is read-only foreign — the safe
      // default for contested ownership (re-adopt to reclaim).
      val r = foreignByEarliest && !graftOwnedHead(lv)
      foreignDeltaCache = Some((r, foreignByEarliest, lv))
      r
  }

  /** One-shot bypass for the adopting commit ([[adoptForeignDelta]]). */
  @volatile private var adoptionInProgress = false

  /** In-place adoption of a foreign delta log (zero-copy migration):
    * publish the ownership-stamping actions as version `v`, bypassing the
    * foreign-mutation refusal for exactly this one commit, then flip the
    * memoized ownership probe. The caller (GraftTable.adoptDelta) has
    * already verified every protocol/feature gate; the actions MUST
    * include a compat-enabled MetaData, or the commit would serialize
    * graft-shaped into a delta-shaped log. */
  private[graft] def adoptForeignDelta(v: Long, actions: Seq[Action]): Unit = {
    require(actions.collectFirst { case m: MetaData => m }
      .exists(DeltaWriteCompat.enabled),
      "the adopting commit must carry a compat.delta.write metaData")
    adoptionInProgress = true
    try commit(v, actions)
    finally adoptionInProgress = false
    foreignDeltaCache = Some((false, true, v))
  }

  /** Compat + mapped (name OR id mode): every COMMITTED metaData carries
    * a delta column-mapping id on every field (DeltaWriteCompat
    * .withFieldIds — idempotent, persisted in the schemaString so ids
    * stay stable for the table's lifetime). One site covers enabling
    * compat and mapping in either order, ADD COLUMN, and merge schema
    * evolution. The data-write paths stamp the SAME deterministic ids
    * into new parquet files (GraftTable.writeDataMappedUncapped), so a
    * schema-evolving commit's files carry the ids its schema declares. */
  private def stampMappingIds(actions: Seq[Action]): Seq[Action] =
    actions.map {
      case m: MetaData if DeltaWriteCompat.stampsIds(m) =>
        DeltaWriteCompat.withFieldIds(m)
      case a => a
    }

  def commit(v: Long, actions0: Seq[Action]): Unit = {
    // Foreign Delta logs are READ-ONLY: appending graft-format actions
    // would leave a mixed history that neither delta-spark nor this
    // reader could replay coherently. Refuse with the migration path.
    // Checked at EVERY version including 0 — a checkpoint-only foreign
    // log (all JSONs cleaned) leaves 0.json free, and a graft create
    // landing there would put graft data (and a later graft VACUUM)
    // inside a live Delta table. A truly fresh directory probes false.
    if (foreignDeltaLog && !adoptionInProgress) throw new GraftProtocolException(
      s"$tablePath is a Delta table written by delta-spark — graft reads " +
        "it transparently but will not append to its log; adopt it in " +
        "place (CALL graft.system.adopt_delta — zero copy) or copy it " +
        "into a fresh graft table (CALL graft.system.import_delta) to write")
    store.createDirectories(logDir)
    val actions = stampMappingIds(ensureSchemaFeatures(v, actions0))
    // Delta write-compat: when the governing metaData (this commit's, or
    // the previous snapshot's) declares compat.delta.write, the WHOLE
    // commit serializes in delta-1.0 action shape via DeltaShapeWriter —
    // readable by real delta readers, still writable by graft (the
    // authorship markers keep the foreign probe quiet). Features a
    // delta-1.0 reader cannot honor refuse HERE, which also makes the
    // property-enabling commit itself the enforcement point.
    // v-1 is only unfoldable when this commit is a doomed duplicate (a
    // loser racing a version at/below the cleaned retention floor) — skip
    // the fold THERE and let the publishIfAbsent CAS reject it with the
    // typed conflict. Any OTHER fold failure rethrows: silently falling
    // back to native serialization would publish a graft-shaped line into
    // a delta-shaped compat log, breaking real Delta readers mid-tail.
    val governingMeta = actions.collectFirst { case m: MetaData => m }
      .orElse(if (v > 0 && v - 1 >= earliestVersion)
                Some(snapshotAt(v - 1).metaData)
              else None)
    val compatMeta = governingMeta.filter(DeltaWriteCompat.enabled)
    val serialize: Action => String = compatMeta match {
      case Some(m) =>
        DeltaWriteCompat.refusal(m, actions).foreach(why =>
          throw new GraftProtocolException(
            s"${DeltaWriteCompat.Prop}: a delta-1.0 reader cannot honor " +
              s"$why — disable the feature or the compat property"))
        // ENABLING-transition gate: the first compat commit must also
        // prove no LIVE file still carries a legacy parquet-sidecar DV —
        // those never appear in this commit's actions, but the compat
        // CHECKPOINT re-serializes the whole live set, and a native
        // sidecar has no delta spelling (dropping it silently resurrects
        // deleted rows for every reader). Checked only on the transition
        // (prev snapshot not compat), never per commit.
        if (actions.exists(_.isInstanceOf[MetaData]) && v > 0 &&
            v - 1 >= earliestVersion &&
            !DeltaWriteCompat.enabled(snapshotAt(v - 1).metaData)) {
          // the POST-commit live set is what the compat checkpoint will
          // re-serialize: carriers this very commit removes (a REPLACE
          // that rewrites the table while enabling compat) don't count
          val removedNow = actions.collect { case r: RemoveFile => r.path }.toSet
          val nativeDv = snapshotAt(v - 1).files.filter(f =>
            !removedNow.contains(f.path) &&
              f.dvPath.exists(p => !DeltaDeletionVectors.isDescriptor(p)))
          if (nativeDv.nonEmpty) throw new GraftProtocolException(
            s"${DeltaWriteCompat.Prop}: ${nativeDv.size} live file(s) carry " +
              "legacy native deletion-vector sidecars (`_dv/`) — a " +
              "delta reader cannot apply them; run OPTIMIZE (purges DVs) " +
              "before enabling the property")
        }
        new DeltaShapeWriter(m).line
      case None => Actions.toJson
    }
    // Row tracking under compat (round 16): adds stamp their
    // defaultRowCommitVersion (= this commit, unless the add already
    // carries one — re-adds keep their birth version), and any commit
    // whose MetaData may have moved the row-id high-water mark carries
    // the delta.rowTracking domainMetadata line deriving it from that
    // metaData — the standard delta spelling rowTracking readers/writers
    // require (metaData-less commits emit no line: the hwm only moves
    // with a MetaData action, so the last emitted domain stays current).
    // Native (non-compat) commits stamp the version too (the field is
    // part of the model and both checkpoint codecs round-trip it), but
    // emit no domain line. Derived from the GOVERNING metaData (this
    // commit's, else the previous snapshot's) regardless of compat: a
    // native rowTracking commit that adds files WITHOUT a MetaData action
    // (e.g. OPTIMIZE re-adds preserving ids via the materialized column)
    // must still stamp defaultRowCommitVersion — if compat is enabled
    // later, the compat checkpoint re-serializes those adds and delta's
    // rowTracking expects the field on every add of an enabled table.
    val rtOn = governingMeta.exists(DeltaWriteCompat.rowTrackingOn)
    val stamped0 =
      if (!rtOn) actions
      else actions.map {
        case a: AddFile if a.defaultRowCommitVersion.isEmpty =>
          a.copy(defaultRowCommitVersion = Some(v))
        case other => other
      }
    // Delta's in-commit-timestamp spec requires commitInfo to be the
    // FIRST action of every commit once ICT is enabled (real readers'
    // ICT fast path reads only the first action). One chokepoint covers
    // the DDL builders that lead with protocol/metaData — including the
    // ICT-enabling commit itself. Replay is order-insensitive within a
    // commit (one metaData/protocol each; adds/removes commute), so the
    // reorder is pure serialization.
    val stamped =
      if (compatMeta.exists(DeltaWriteCompat.ictOn)) {
        val (ci, rest) = stamped0.partition(_.isInstanceOf[CommitInfo])
        ci ++ rest
      } else stamped0
    val domainLines: Seq[String] =
      if (compatMeta.isEmpty) Nil
      else stamped.collectFirst { case mm: MetaData => mm }
        .map(DeltaShapeWriter.domainLines).getOrElse(Nil)
    def commitLines: Iterator[String] =
      stamped.iterator.map(serialize) ++ domainLines.iterator
    // ATOMIC publish-or-fail: a direct CREATE_NEW write makes the version
    // file VISIBLE WHILE EMPTY — a concurrent reader probing latestVersion
    // in that window folds a truncated commit (dropping, e.g., an identity
    // frontier bump → silent duplicate ids; ConflictResolutionSpec's
    // identity-contention test pins it) and poisons its immutable action
    // cache with it.
    // Instead the body lands fully in a temp file and the store publishes
    // it under the LogStore putIfAbsent contract: exactly one writer wins
    // version v, losers get FileAlreadyExists (the compare-and-swap the
    // commit protocol needs; PosixLogStore uses hard-link creation).
    // The body is handed over line by line — a 1M-AddFile commit is a
    // GB-scale document that must never materialize as one driver-side
    // string here. How much the STORE buffers is its writeTmpLines
    // contract: PosixLogStore streams to the file handle (zero buffering);
    // the trait default spools to local scratch and pays one byte[] at
    // the writeTmp hand-off.
    val tmp = logDir.resolve(s".${java.util.UUID.randomUUID()}.commit.tmp")
    store.writeTmpLines(tmp, commitLines)
    try store.publishIfAbsent(tmp, versionFile(v))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit: version $v already exists in $tablePath")
    }
    finally store.deleteIfExists(tmp)
    // Read-back verification — only for stores that ask for it
    // (verifyAfterPublish; default true, PosixLogStore's hard-link CAS
    // opts out): a store that VIOLATES the putIfAbsent contract
    // (non-atomic rename that lets a racing loser overwrite the winner;
    // publish whose visibility is lost) must surface as a typed
    // concurrency error here, never as a silently corrupted log. The
    // compare is a content DIGEST, not the full line sequence — at
    // 1M-AddFile commits the body must not materialize twice.
    if (store.verifyAfterPublish) {
      val back = try store.readLines(versionFile(v)) catch {
        case e: Exception => throw new LogStoreContractException(
          s"commit $v of $tablePath is not readable after publish — the " +
            s"LogStore lost the write (read-after-publish visibility " +
            s"violated): $e")
      }
      def digest(lines: Iterator[String]): Array[Byte] = {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        lines.foreach { l =>
          md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
        }
        md.digest()
      }
      if (!java.util.Arrays.equals(digest(back.iterator),
          digest(commitLines)))
        throw new LogStoreContractException(
          s"commit $v of $tablePath does not contain this writer's actions " +
            "after publish — the LogStore's publishIfAbsent is not atomic " +
            "(a concurrent writer overwrote the commit); see the LogStore " +
            "contract for what an object store must provide")
    }
    // cache the STAMPED actions — what the file actually says (a fold
    // from cache must equal a fold from storage; caching the pre-stamp
    // list would drop defaultRowCommitVersion until the next cold read)
    synchronized { actionCache.put(v, stamped) }
    if (v > 0 && v % checkpointInterval == 0) writeCheckpoint(v)
  }

  /** Checkpoint every N commits: the full folded snapshot (metaData +
    * live adds + txns + protocol), so replay cost is bounded by the
    * checkpoint interval instead of the table's whole history — the
    * Delta-protocol answer to unbounded logs. Two formats:
    * `%020d.checkpoint.json` (text, one action per line) while the table
    * is small, `%020d.checkpoint.parquet` (CheckpointCodec) once the
    * live-file count passes `parquetCheckpointThreshold` — at millions of
    * files, parsing a JSON line per file is itself the bottleneck Delta's
    * parquet checkpoints exist to remove. The table property
    * `checkpoint.format` (json | parquet) forces either. */
  val checkpointInterval = 10

  /** Live-file count at which checkpoints switch to parquet. */
  val parquetCheckpointThreshold = 10000

  def checkpointFile(v: Long): Path = logDir.resolve(f"$v%020d.checkpoint.json")

  def parquetCheckpointFile(v: Long): Path =
    logDir.resolve(f"$v%020d.checkpoint.parquet")

  /** Part `i` of a multipart parquet checkpoint: at the file count a
    * 100 TB table has, one single-threaded parquet write/read is the
    * measured bottleneck of checkpointing — parts encode and decode
    * concurrently. */
  def multipartCheckpointFile(v: Long, i: Int): Path =
    logDir.resolve(f"$v%020d.checkpoint.$i%010d.parquet")

  /** Manifest naming the part count, written atomically AFTER every part
    * landed — so its existence IS the multipart checkpoint's existence
    * (one stat, ZERO directory listing, the same discipline as
    * `_last_checkpoint`), and a crash mid-publish leaves invisible part
    * debris, never a torn checkpoint. */
  def multipartManifestFile(v: Long): Path =
    logDir.resolve(f"$v%020d.checkpoint.manifest")

  /** Default max AddFiles per checkpoint part (property
    * `checkpoint.partSize` overrides). */
  val checkpointPartSize = 250000

  /** The complete, validated part set of a multipart checkpoint at `cp`,
    * or Nil (absent / torn — caller falls back to an older seed + replay,
    * which is always correct). Listing-free: the manifest names n. */
  private def multipartFiles(cp: Long): Seq[Path] = {
    val mf = multipartManifestFile(cp)
    if (!store.isRegularFile(mf)) return Nil
    val n = try """"parts"\s*:\s*(\d+)""".r
      .findFirstMatchIn(store.readString(mf)).map(_.group(1).toInt)
    catch { case _: java.io.IOException => None }
    n match {
      case Some(k) if k > 0 =>
        val named = (0 until k).map(i => multipartCheckpointFile(cp, i))
        if (named.forall(store.exists(_))) named else Nil
      case _ => Nil
    }
  }

  /** `_last_checkpoint`: advisory pointer to the newest checkpoint version
    * — O(1) discovery for both snapshot seeding and latestVersion. Written
    * atomically AFTER the checkpoint itself; corruption or staleness only
    * costs the listing fallback, never correctness. */
  val lastCheckpointFile: Path = logDir.resolve("_last_checkpoint")

  private def lastCheckpointPointer: Option[Long] =
    try {
      if (!store.isRegularFile(lastCheckpointFile)) None
      else """"version"\s*:\s*(\d+)""".r
        .findFirstMatchIn(store.readString(lastCheckpointFile))
        .map(_.group(1).toLong)
    } catch { case _: java.io.IOException => None }

  def writeCheckpoint(v: Long): Unit = {
    refuseForeignMutation("writing a checkpoint")
    // fold via snapshotAt: seeds from the newest checkpoint ≤ v and
    // replays only the tail — a full replay(0, v) here would re-read the
    // ENTIRE log every checkpointInterval commits, quadratic total work
    // over a long-lived table's life (measured: commit-file reads per
    // landed commit under racing writers grew with history before this)
    val s = snapshotAt(v)
    if (DeltaWriteCompat.enabled(s.metaData)) {
      // compat tables always checkpoint in DELTA's parquet layout (a real
      // delta reader must be able to seed from it; it would die on graft's
      // codec), single-part, regardless of checkpoint.format/partSize
      writeDeltaCompatCheckpoint(v, s)
      return
    }
    val parquet = s.metaData.properties.get("checkpoint.format") match {
      case Some("parquet") => true
      case Some("json") => false
      case _ => s.files.size >= parquetCheckpointThreshold
    }
    val partSize = s.metaData.properties.get("checkpoint.partSize")
      .flatMap(p => scala.util.Try(p.toInt).toOption).filter(_ > 0)
      .getOrElse(checkpointPartSize)
    val nParts = if (parquet) ((s.files.size + partSize - 1) / partSize).max(1) else 1
    if (nParts > 1) {
      // MULTIPART: slices encode concurrently (the single-threaded 1M-row
      // parquet write was the measured bottleneck of a 100k-file log),
      // land fully in tmp files, then move into place part by part; the
      // pointer (with `parts`) publishes LAST, so a crash mid-move leaves
      // at worst an incomplete part set that multipartFiles treats as
      // absent and cleanup removes. A lost checkpoint race deletes our
      // tmps and keeps the winner's files, and so does a failed part.
      val slices = s.files.grouped(partSize).toSeq
      val staged = slices.zipWithIndex.map { case (slice, i) =>
        (logDir.resolve(s".${java.util.UUID.randomUUID()}.cp$i.tmp"),
         multipartCheckpointFile(v, i),
         if (i == 0) Some(s) else None, slice)
      }
      try {
        graft.DriverPool.all(staged.map { case (tmp, _, hdr, slice) =>
          () => CheckpointCodec.writePart(tmp, hdr, slice) })
        // Per-part publish tolerates FileAlreadyExists and KEEPS GOING:
        // an existing part is normally this part, left by a crashed
        // earlier attempt of this version's checkpoint (fold order and
        // the metadata-resolved partSize are fixed at v). Abandoning on
        // the first collision (the old behavior) made a crash-then-retry
        // unable to ever COMPLETE a partially-published checkpoint. But
        // that determinism is VERIFIED, not assumed: a survivor whose
        // byte digest differs from our staged part (non-deterministic
        // encode, torn write) is deleted and republished — silently
        // keeping it would publish a manifest over mixed-attempt parts,
        // an undetected torn checkpoint with duplicated/missing AddFiles.
        def sha(p: Path): Array[Byte] =
          java.security.MessageDigest.getInstance("SHA-256")
            .digest(store.readBytes(p)) // through the seam — the part may not be a local file
        staged.foreach { case (tmp, target, _, _) =>
          var attempts = 0
          var done = false
          while (!done) {
            try { store.publishIfAbsent(tmp, target); done = true }
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                // a concurrent non-identical checkpointer can DELETE the
                // survivor between our failed publish and the digest read
                // (its own mismatch handling) — treat a vanished target as
                // "slot free again" and retry the publish
                val same =
                  try java.util.Arrays.equals(sha(target), sha(tmp))
                  catch { case _: java.nio.file.NoSuchFileException |
                               _: java.io.FileNotFoundException => false }
                if (same) done = true
                else if (store.exists(multipartManifestFile(v))) {
                  // a manifest for v has LANDED: the checkpoint is complete
                  // and readers may already be folding through it — deleting
                  // one of its parts now would tear a published checkpoint.
                  // The survivor set is internally coherent (its writer
                  // published all parts before the manifest), so abandon our
                  // attempt; `finally` sweeps our staged tmps.
                  return
                } else {
                  attempts += 1
                  if (attempts > 2) throw new IllegalStateException(
                    s"checkpoint part $target keeps reappearing with " +
                      "different content — a concurrent writer is producing " +
                      "non-identical parts for this version; abandoning " +
                      "before a torn manifest can land", e)
                  store.deleteIfExists(target)
                }
            }
          }
        }
        // the manifest publishes LAST: until it lands the parts are
        // invisible debris, never a torn checkpoint
        val mf = logDir.resolve(s".${java.util.UUID.randomUUID()}.mf.tmp")
        store.writeTmp(mf, s"""{"parts":${slices.size}}"""
          .getBytes(StandardCharsets.UTF_8))
        try store.publishIfAbsent(mf, multipartManifestFile(v))
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        finally store.deleteIfExists(mf)
        publishPointer(v, slices.size)
      } finally staged.foreach(t => store.deleteIfExists(t._1))
      return
    }
    val tmp = logDir.resolve(s".${java.util.UUID.randomUUID()}.tmp")
    if (parquet) CheckpointCodec.write(tmp, s)
    else {
      val actions: Seq[Action] =
        (s.protocol +: s.metaData +: s.files) ++
          s.transactions.toSeq.sortBy(_._1).map { case (a, tv) => Txn(a, tv) }
      val body = actions.map(Actions.toJson).mkString("", "\n", "\n")
      store.writeTmp(tmp, body.getBytes(StandardCharsets.UTF_8))
    }
    val target = if (parquet) parquetCheckpointFile(v) else checkpointFile(v)
    try store.publishIfAbsent(tmp, target)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally store.deleteIfExists(tmp)
    // pointer publishes UNCONDITIONALLY, outside the catch (same repair as
    // the compat and multipart branches): a crash between checkpoint
    // publish and pointer publish must not leave retries hitting
    // FileAlreadyExists and skipping the pointer forever
    publishPointer(v, 1)
  }

  private def publishPointer(v: Long, parts: Int, size: Long = -1L): Unit = {
    // Monotonic guard: the pointer publishes unconditionally on the happy
    // path (crash-repair — see callers), but a straggler RETRYING an old
    // checkpoint after another writer already checkpointed a newer version
    // must not regress `_last_checkpoint` — log cleanup keyed to the newer
    // checkpoint may have deleted the files an older pointer references.
    // Racy read-then-write is fine: both racers satisfy v >= existing, and
    // either winning value is a valid, newer-than-before pointer.
    if (lastCheckpointPointer.exists(_ > v)) return
    val ptr = logDir.resolve(s".${java.util.UUID.randomUUID()}.ptr.tmp")
    // `size` (action count) is what DELTA readers require of
    // _last_checkpoint — emitted by the compat checkpoint; graft's own
    // parser reads only `version`
    val sz = if (size >= 0) s""","size":$size""" else ""
    val body = if (parts > 1) s"""{"version":$v$sz,"parts":$parts}"""
               else s"""{"version":$v$sz}"""
    store.writeTmp(ptr, body.getBytes(StandardCharsets.UTF_8))
    store.publishOverwrite(ptr, lastCheckpointFile)
  }

  /** Delta-1.x-format checkpoint for `compat.delta.write` tables: one
    * nullable struct column per action, single part, `_last_checkpoint`
    * with `size` — a real delta reader SEEDS from this (which is also what
    * makes a compat log whose graft-shaped prefix was written before the
    * property flipped fully delta-readable: the reader starts at the
    * checkpoint, never the prefix). Graft's own fold reads it back through
    * [[DeltaCheckpointCompat]]. Driver-side like the graft codec — the
    * checkpoint is metadata, not data. */
  private def writeDeltaCompatCheckpoint(v: Long, s: Snapshot): Unit = {
    val w = new DeltaShapeWriter(s.metaData)
    val actions: Seq[Action] =
      // the real snapshot protocol — DeltaShapeWriter derives the compat
      // declaration (feature-gated minWriter) from it; hardcoding (1, 2)
      // here would under-declare constraint/identity tables
      (s.protocol +: s.metaData +: s.files) ++
        s.transactions.toSeq.sortBy(_._1).map { case (a, tv) => Txn(a, tv) }
    // + the rowTracking high-water-mark domain: a delta reader SEEDING
    // from this checkpoint must see it (the JSON commits behind the
    // checkpoint may be cleaned away)
    val lines = actions.map(w.line) ++ DeltaShapeWriter.domainLines(s.metaData)
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.read.schema(DeltaWriteCompat.checkpointSchema)
      .json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
    val stage = Files.createTempDirectory("graft-delta-cp-")
    def listStage(): Seq[Path] = {
      val st = Files.list(stage)
      try st.iterator().asScala.toSeq finally st.close()
    }
    try {
      val part = DataFileWriter.write(df.coalesce(1), stage.toString).headOption
        .map(w => stage.resolve(w.path))
        .getOrElse(throw new IllegalStateException(
          s"delta-compat checkpoint $v produced no parquet part"))
      val tmp = logDir.resolve(s".${java.util.UUID.randomUUID()}.cp.tmp")
      // stage THROUGH the store (never Files directly): on a non-posix
      // LogStore the log namespace may not be locally writable at all —
      // the same seam rule every other log write follows
      store.writeTmp(tmp, Files.readAllBytes(part))
      try store.publishIfAbsent(tmp, parquetCheckpointFile(v))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally store.deleteIfExists(tmp)
      // the pointer publishes UNCONDITIONALLY, outside the catch: a crash
      // between checkpoint publish and pointer publish would otherwise
      // make every retry hit FileAlreadyExists and skip the pointer
      // forever — _last_checkpoint stays stale until some future version
      // checkpoints, losing the seed for real Delta readers and graft's
      // own boundary reads. The pointer body is deterministic at v (the
      // snapshot fold fixes the action count), so re-publishing over a
      // concurrent writer's pointer is idempotent.
      publishPointer(v, 1, lines.size.toLong)
    } finally {
      listStage().foreach(p => Files.deleteIfExists(p))
      Files.deleteIfExists(stage)
    }
  }

  private def checkpointExistsAt(cp: Long): Boolean =
    store.exists(checkpointFile(cp)) || store.exists(parquetCheckpointFile(cp)) ||
      multipartFiles(cp).nonEmpty ||
      // a delta-spark MULTI-part checkpoint has neither graft name nor a
      // manifest; without recognizing it here a checkpoint-only foreign
      // log would replay from a version-0 JSON that no longer exists
      deltaCheckpointFiles(cp).nonEmpty

  /** Directory listings performed by this log instance — object-store LIST
    * calls are the scaling hazard the `_last_checkpoint` pointer and the
    * aligned probing below exist to avoid; a spec counts this stays 0 on
    * the snapshot/time-travel paths. */
  private[table] var listingCount: Int = 0

  /** Commit files actually read from storage by this instance (cache
    * misses only) — the observable proving a conflict rebase costs
    * O(winner commits), never a full log re-read (perfbench reports it
    * per op as `GraftLog.uncached_reads_per_op`). */
  private[graft] var uncachedVersionReads: Int = 0

  /** Snapshots this instance seeded from a checkpoint: a warm log that
    * folds forward from its cached snapshots reads none. */
  private[table] var checkpointReads: Int = 0

  private def latestCheckpointAtOrBefore(v: Long): Option[Long] = {
    // fast path: the pointer names a usable checkpoint ≤ v (the common
    // latest-snapshot read) — no directory listing at all
    lastCheckpointPointer.filter(cp => cp <= v && checkpointExistsAt(cp))
      .orElse {
        // time travel below the pointer: checkpoints land only at
        // multiples of checkpointInterval (commit() writes them there), so
        // probe the aligned versions backwards — O(v / interval) existence
        // checks worst case, first probe hits in the common case, and no
        // directory LIST either way
        var cp = (v / checkpointInterval) * checkpointInterval
        while (cp > 0 && !checkpointExistsAt(cp)) cp -= checkpointInterval
        if (cp > 0) Some(cp) else None
      }
      // checkpoint-only foreign log with a LOST pointer: the recovered
      // floor IS a checkpoint (checkpointOnly proved it) — without this a
      // pointer-less cleaned Delta table at an interval-unaligned version
      // would fall to a version-0 replay that cannot exist
      .orElse(if (checkpointOnly) recoveredFloor.filter(_ <= v) else None)
  }

  /** The delta-spark checkpoint file set at `cp`: the single
    * `%020d.checkpoint.parquet` (same name graft uses — the content, not
    * the name, decides the codec), delta's multi-part
    * `%020d.checkpoint.%010d.%010d.parquet` naming (part i of n, no
    * manifest — one listing resolves the set), or a V2 checkpoint's
    * UUID-named manifest `%020d.checkpoint.<uuid>.{parquet|json}` (one
    * complete checkpoint per manifest; its `sidecar` actions name the
    * rest — DeltaCheckpointCompat resolves them). */
  private def deltaCheckpointFiles(cp: Long): Seq[Path] = {
    val single = parquetCheckpointFile(cp)
    if (store.isRegularFile(single)) Seq(single)
    else {
      listingCount += 1
      if (!store.isDirectory(logDir)) Nil
      else {
        val listed = store.list(logDir, f"$cp%020d.checkpoint.*")
        val multi = listed.filter(_.getFileName.toString
          .matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
          .sortBy(_.getFileName.toString)
        if (multi.nonEmpty) multi
        // any ONE v2 manifest is a complete checkpoint (a writer may leave
        // several; each is self-contained) — take the lexicographically
        // first for determinism. A PURE-DIGIT middle is excluded: that is
        // graft's own multipart PART naming (%020d.checkpoint.%010d), and
        // a crash mid-multipart-publish leaves manifest-less part debris
        // that must stay invisible, never masquerade as a v2 manifest.
        else listed.filter { p =>
          val n = p.getFileName.toString
          n.matches("\\d{20}\\.checkpoint\\.[0-9a-zA-Z-]+\\.(parquet|json)") &&
            !n.matches("\\d{20}\\.checkpoint\\.\\d+\\.(parquet|json)")
        }.sortBy(_.getFileName.toString).take(1)
      }
    }
  }

  /** Checkpoint state at version cp, whichever format exists (parquet
    * preferred when both do). */
  private def readCheckpoint(cp: Long): Snapshot =
    if (store.exists(parquetCheckpointFile(cp)))
      CheckpointCodec.read(parquetCheckpointFile(cp), cp)
    else {
      val parts = multipartFiles(cp)
      if (parts.nonEmpty) CheckpointCodec.readMulti(parts, cp)
      else readJsonCheckpointTail(cp)
    }

  private def readJsonCheckpointTail(cp: Long): Snapshot = {
      val lines = store.readLines(checkpointFile(cp))
        .filter(_.nonEmpty).map(Actions.fromJson)
      val meta = lines.collectFirst { case m: MetaData => m }.getOrElse(
        throw new IllegalStateException(s"checkpoint $cp of $tablePath lacks metaData"))
      Snapshot(cp, meta, lines.collect { case a: AddFile => a },
        lines.collect { case t: Txn => t.appId -> t.version }.toMap,
        lines.collectFirst { case p: Protocol => p }.getOrElse(Protocol()))
    }

  /** Replay commits (from..v], optionally seeded from a checkpoint state. */
  private def replay(from: Long, v: Long, seed: Option[Snapshot]): Snapshot = {
    var meta: Option[MetaData] = seed.map(_.metaData)
    var protocol: Protocol = seed.map(_.protocol).getOrElse(Protocol())
    val txns = scala.collection.mutable.Map[String, Long]()
    seed.foreach(_.transactions.foreach { case (a, tv) => txns(a) = tv })
    val live = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    seed.foreach(_.files.foreach(a => live(a.path) = a))
    (from to v).foreach { i =>
      readVersion(i).foreach {
        case m: MetaData   => meta = Some(m)
        case a: AddFile    => live(a.path) = a
        case r: RemoveFile => live.remove(r.path)
        case t: Txn        => txns(t.appId) = t.version
        case p: Protocol   => protocol = p
        case _: CommitInfo => ()
        case _: CdcFile    => () // per-commit change data, not snapshot state
        case IgnoredAction => () // foreign engine-private state, skippable
      }
    }
    gateReaderFeatures(protocol)
    val m = meta.getOrElse(throw new IllegalStateException(
      s"no metaData in log of $tablePath"))
    gateForeignMetadata(m)
    Snapshot(v, m, live.values.toSeq, txns.toMap, protocol)
  }

  /** Feature gate driven by the table CONFIGURATION of a foreign Delta
    * log. NAME-mode column mapping reads natively (the fold translates
    * `delta.columnMapping.physicalName` into graft's own key, see
    * Actions.fromJson / ColumnMapping.fromDeltaSchema); ID mode reads
    * natively too since round 14 — the fold copies delta's field ids
    * into Spark's `parquet.field.id` metadata and every parquet read
    * path (V1 scan, vectorized V2 factory) enables Spark's field-id
    * resolution when the schema carries ids. Any OTHER mode a future
    * protocol invents refuses loudly. */
  private def gateForeignMetadata(meta: MetaData): Unit = {
    val mode = meta.properties.get("delta.columnMapping.mode")
      .filterNot(m => m.isEmpty || m.equalsIgnoreCase("none") ||
        m.equalsIgnoreCase("name") || m.equalsIgnoreCase("id"))
    if (mode.isDefined) throw new GraftProtocolException(
      s"table $tablePath is a Delta table with columnMapping.mode=" +
        s"${mode.get} — a resolution rule this reader does not know " +
        "(name and id modes read natively)")
  }

  /** The unsupported-reader-feature gate. Applied to EVERY snapshot this
    * log hands out — both the replay path and the checkpoint-seed fast
    * path (a version that coincides with a checkpoint, e.g. one written by
    * a future writer, must not bypass the gate and silently misread). */
  private def gateReaderFeatures(protocol: Protocol): Unit = {
    // Delta reader versions 1-3 are understood (v2's column mapping and
    // v3's feature list are gated by name below / by configuration); a
    // higher version promises semantics this reader cannot even enumerate
    if (protocol.minReaderVersion > 3) throw new GraftProtocolException(
      s"table $tablePath requires protocol minReaderVersion=" +
        s"${protocol.minReaderVersion}; this reader supports up to 3")
    val unsupported = protocol.readerFeatures.filterNot(Protocol.supportedReaderFeatures)
    if (unsupported.nonEmpty) throw new GraftProtocolException(
      s"table $tablePath requires reader features ${unsupported.mkString(", ")} " +
        s"this build does not support (supported: " +
        s"${Protocol.supportedReaderFeatures.toSeq.sorted.mkString(", ")})")
  }

  /** Folded snapshots are as immutable as the commits they fold — cache
    * the last few (DML reads its snapshot several times per operation:
    * pruning, rewrite, CDC, conflict info). Small bound: at large file
    * counts a Snapshot's file list is the dominant driver-memory object. */
  private val snapshotCache =
    new java.util.LinkedHashMap[Long, Snapshot](4, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Snapshot]): Boolean =
        size > 4
    }

  /** Snapshot at version v. A cached snapshot at most
    * `checkpointInterval` commits below v is extended by the commits
    * between them, as Delta updates a snapshot by applying the new log
    * records; so a warm log never re-parses a checkpoint to step forward.
    * Otherwise, or when a commit file of that tail is gone (log cleanup),
    * v folds from the nearest checkpoint ≤ v plus the commits after it.
    * Both folds apply the same actions in the same order, so they give
    * equal snapshots, file order included. */
  def snapshotAt(v: Long): Snapshot = synchronized {
    val cached = snapshotCache.get(v)
    if (cached != null) {
      gateReaderFeatures(cached.protocol)
      gateForeignMetadata(cached.metaData)
      cached
    }
    else {
      val snap = foldForward(v).getOrElse(foldFromCheckpoint(v))
      snapshotCache.put(v, snap)
      snap
    }
  }

  /** `v` folded from the newest cached snapshot below it, or None when no
    * cached snapshot is within `checkpointInterval` commits or a commit
    * file between them is gone. A reader-feature refusal propagates. */
  private def foldForward(v: Long): Option[Snapshot] =
    snapshotCache.values.asScala
      .filter(s => s.version < v && v - s.version <= checkpointInterval)
      .maxByOption(_.version)
      .filter(s => (s.version + 1 to v).forall(i => store.exists(versionFile(i))))
      .flatMap { s =>
        try Some(replay(s.version + 1, v, Some(s)))
        catch {
          case e: GraftProtocolException => throw e
          case scala.util.control.NonFatal(_) => None
        }
      }

  /** `v` folded from the nearest checkpoint ≤ v plus the commits after
    * it, or from version 0 when there is no usable checkpoint. */
  private def foldFromCheckpoint(v: Long): Snapshot =
    latestCheckpointAtOrBefore(v) match {
      case Some(cp) =>
        checkpointReads += 1
        // A checkpoint written by a FOREIGN writer (delta-spark's parquet
        // checkpoints share graft's file naming but not its schema) fails
        // decode; the seed is only ever an optimization, so fall back to
        // a full JSON replay when the commit files still reach back to
        // version 0 — and fail loudly (not confusingly mid-parquet-parse)
        // when retention already pruned them.
        scala.util.Try(readCheckpoint(cp)) match {
          case scala.util.Success(seed) =>
            if (cp == v) {
              gateReaderFeatures(seed.protocol)
              gateForeignMetadata(seed.metaData)
              seed
            } else replay(cp + 1, v, Some(seed))
          case scala.util.Failure(e: GraftProtocolException) => throw e
          case scala.util.Failure(e) =>
            // graft codec refused — a REAL delta-spark checkpoint shares
            // the file naming but not the layout; decode it through the
            // compat reader, and only when that too fails fall back to a
            // full JSON replay (commits intact) or a named error.
            scala.util.Try(DeltaCheckpointCompat.read(
                deltaCheckpointFiles(cp), cp)) match {
              case scala.util.Success(seed) =>
                if (cp == v) {
                  gateReaderFeatures(seed.protocol)
                  gateForeignMetadata(seed.metaData)
                  seed
                } else replay(cp + 1, v, Some(seed))
              case scala.util.Failure(e2: GraftProtocolException) => throw e2
              case scala.util.Failure(_) if earliestVersion == 0L =>
                replay(0L, v, None)
              case scala.util.Failure(e2) => throw new GraftProtocolException(
                s"checkpoint $cp of $tablePath decodes as neither a graft " +
                  "checkpoint nor a Delta single/multi-part/v2 " +
                  "checkpoint, and the JSON commits before it were " +
                  s"already cleaned up — cannot fold version $v: " +
                  s"graft codec: $e; delta: $e2")
            }
        }
      case None => replay(0L, v, None)
    }

  /** All commitInfo records, one per version, ascending. Empty for a
    * checkpoint-only foreign log — no commit files survive, so there is
    * no history to report (delta-spark says the same after cleanup). */
  def commitInfos: Seq[CommitInfo] =
    if (!store.exists(versionFile(earliestVersion))) Seq.empty
    else (earliestVersion to latestVersion).flatMap(v =>
      readVersion(v).collectFirst { case c: CommitInfo => c })

  private def tsOf(v: Long): Long =
    readVersion(v).collectFirst { case c: CommitInfo => c.timestamp }
      .getOrElse(Long.MinValue)

  /** Earliest version whose commit timestamp is >= `ms`, or None when the
    * instant is past the last commit. Commit timestamps are strictly
    * increasing (nextTimestamp), so this binary-searches the log reading
    * O(log history) commit files — a 100k-commit table resolves a
    * timestamp in ~17 file reads, not 100k. */
  def firstVersionAtOrAfter(ms: Long): Option[Long] = {
    val last = latestVersion
    // checkpoint-only foreign log: no commitInfo survives anywhere — no
    // timestamp can resolve (same contract as delta-spark post-cleanup)
    if (!store.exists(versionFile(earliestVersion))) return None
    if (last < 0 || tsOf(last) < ms) return None
    var lo = earliestVersion; var hi = last
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (tsOf(mid) >= ms) hi = mid else lo = mid + 1
    }
    Some(lo)
  }

  /** Latest version with commit timestamp <= `ms` (the timestampAsOf
    * resolution rule), or None when `ms` predates commit 0. */
  def lastVersionAtOrBefore(ms: Long): Option[Long] = {
    val last = latestVersion
    if (!store.exists(versionFile(earliestVersion))) return None
    if (last < 0 || tsOf(earliestVersion) > ms) return None
    var lo = earliestVersion; var hi = last
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (tsOf(mid) <= ms) lo = mid else hi = mid - 1
    }
    Some(lo)
  }

  /** Strictly-increasing commit timestamp (guards timestampAsOf resolution
    * against clock granularity between rapid commits). Reads only the last
    * commit file, not the whole log. */
  def nextTimestamp(): Long = {
    val prev =
      if (!exists || !store.exists(versionFile(latestVersion))) Long.MinValue
      else readVersion(latestVersion)
        .collectFirst { case c: CommitInfo => c.timestamp }
        .getOrElse(Long.MinValue)
    math.max(System.currentTimeMillis(), prev + 1)
  }
}
