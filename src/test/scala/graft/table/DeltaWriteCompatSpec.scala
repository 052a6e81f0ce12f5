package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** WRITE-side Delta compatibility (`compat.delta.write`): graft emits
  * genuine delta-1.0 action shape, so real Delta readers can open graft
  * tables — the mirror of DeltaCompatSpec's read-interop.
  *
  * No delta jar exists in this environment (which is the point: the
  * format, not a library, is the contract), so the strongest evidence is
  * an INDEPENDENT mini delta replayer written against the delta-1.0
  * protocol spec alone — seed from `_last_checkpoint`, replay JSON tails,
  * URI-decode paths, last-metaData-wins — that must reconstruct the same
  * rows graft serves. */
class DeltaWriteCompatSpec extends SparkTestBase {
  private val mapper = new ObjectMapper()

  private def logLines(dir: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(dir, "_delta_log", f"$v%020d.json")).asScala.toSeq

  /** An independent delta-1.0 replayer: protocol-spec semantics only, no
    * graft code in the fold. Returns the live (relative) data-file paths. */
  private def deltaReplayLiveFiles(dir: String): Seq[String] = {
    val logDir = Paths.get(dir, "_delta_log")
    val last = Paths.get(logDir.toString, "_last_checkpoint")
    val cpVersion: Option[Long] =
      if (!Files.exists(last)) None
      else Some(mapper.readTree(Files.readString(last)).get("version").asLong())
    val live = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    def decode(p: String): String = new java.net.URI(p).getPath
    // seed: the checkpoint parquet, read by column name as a delta reader does
    cpVersion.foreach { cp =>
      val cpFile = logDir.resolve(f"$cp%020d.checkpoint.parquet")
      assert(Files.exists(cpFile), "compat checkpoint must use delta's single-part name")
      spark.read.parquet(cpFile.toString).select("add.path").collect()
        .foreach(r => if (!r.isNullAt(0)) live(decode(r.getString(0))) = true)
    }
    // tail: JSON commits after the checkpoint
    val versions = Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted
      .dropWhile(v => cpVersion.exists(v <= _))
    versions.foreach { v =>
      logLines(dir, v).filter(_.nonEmpty).foreach { l =>
        val root = mapper.readTree(l)
        if (root.has("add")) live(decode(root.get("add").get("path").asText())) = true
        if (root.has("remove")) live.remove(decode(root.get("remove").get("path").asText()))
      }
    }
    live.keys.toSeq
  }

  private def assertDeltaShaped(dir: String, v: Long): Unit =
    logLines(dir, v).filter(_.nonEmpty).foreach { l =>
      val root = mapper.readTree(l)
      assert(Actions.isDeltaShaped(l) || !root.has("add") && !root.has("metaData"),
        s"line must be delta-shaped: $l")
      if (root.has("add")) {
        val n = root.get("add")
        for (f <- Seq("path", "partitionValues", "size", "modificationTime",
                      "dataChange", "stats"))
          assert(n.has(f), s"delta add requires $f: $l")
        assert(!n.has("numRecords") && !n.has("minValues"),
          s"graft-native inline stats must not leak into a compat add: $l")
        val st = mapper.readTree(n.get("stats").asText())
        assert(st.has("numRecords") && st.has("minValues") && st.has("nullCount"),
          s"stats string must carry delta's nested layout: $l")
      }
      if (root.has("metaData")) {
        val n = root.get("metaData")
        assert(n.get("format").get("provider").asText() == "parquet", l)
        assert(n.has("configuration") && !n.has("properties"),
          s"delta metaData carries configuration, never properties: $l")
      }
      if (root.has("protocol")) {
        val p = root.get("protocol")
        // feature-derived gates: reader 1 plain, 3 with deletion vectors
        // (readerFeatures listed); writer 2 plain, 3 with CHECK
        // constraints, 7 with writer features (list present)
        val r = p.get("minReaderVersion").asInt()
        assert(Set(1, 3).contains(r), l)
        assert(p.has("readerFeatures") == (r == 3),
          s"readerFeatures iff protocol reader v3: $l")
        val w = p.get("minWriterVersion").asInt()
        assert(Set(2, 3, 7).contains(w), l)
        assert(p.has("writerFeatures") == (w == 7),
          s"writerFeatures iff protocol v7: $l")
      }
      if (root.has("commitInfo"))
        assert(!root.get("commitInfo").has("version"),
          s"delta commitInfo is versionless (the file names the version): $l")
      if (root.has("remove"))
        assert(root.get("remove").has("dataChange"),
          s"delta removes declare dataChange (false for reorgs): $l")
    }

  private def seed(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"v$i")).toDF("id", "s")
  }

  test("compat commits are pure delta-1.0 shape; an independent delta replay matches graft") {
    val dir = tmpDir("dwc-basic-")
    val t = GraftTable.create(spark, dir, seed(6))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.append(seed(4).withColumn("id", col("id") + 100))
    t.delete(col("id") === 101L)
    (2L to t.latestVersion).foreach(assertDeltaShaped(dir, _))
    // CHECKPOINT makes the table delta-readable END TO END even though
    // commits 0-1 predate the property: a delta reader seeds from
    // _last_checkpoint and never parses the graft-shaped prefix
    t.log.writeCheckpoint(t.latestVersion)
    val liveByDelta = deltaReplayLiveFiles(dir).map(p => s"$dir/$p")
    val byDelta = spark.read.parquet(liveByDelta: _*)
      .select("id").collect().map(_.getLong(0)).sorted
    val byGraft = t.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(byDelta.sameElements(byGraft),
      "an independent delta-1.0 replay must serve exactly graft's rows")
    assert(byGraft.toSeq === ((0L until 6L) ++ Seq(100L, 102L, 103L)))
  }

  test("graft re-opens a compat log as its OWN: reads, time travel, history, more writes") {
    val dir = tmpDir("dwc-reopen-")
    val t0 = GraftTable.create(spark, dir, seed(3))
    t0.setProperty(DeltaWriteCompat.Prop, "true")
    t0.append(seed(2))
    val t = GraftTable.forPath(spark, dir) // fresh instance, fresh log fold
    assert(t.toDF.count() === 5L)
    assert(t.versionAsOf(0L).count() === 3L)
    // versionless compat commitInfo is patched back from the file name
    val hist = t.history().select("version", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist(2L) === "APPEND" || hist(2L) === "WRITE", s"got $hist")
    t.append(seed(1).withColumn("id", col("id") + 50)) // NOT flagged foreign
    assert(t.toDF.count() === 6L)
    assert(GraftTable.forPath(spark, dir).toDF.count() === 6L)
  }

  test("compat log survives log cleanup: earliest retained commit has no metaData, engineInfo marks it") {
    val dir = tmpDir("dwc-cleanup-")
    val t = GraftTable.create(spark, dir, seed(2))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    (1 to 4).foreach(i => t.append(seed(1).withColumn("id", col("id") + i * 10)))
    t.log.writeCheckpoint(t.latestVersion)
    t.log.cleanupExpiredLogs(System.currentTimeMillis() + 1000)
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.toDF.count() === 6L)
    t2.append(seed(1).withColumn("id", col("id") + 99)) // still graft-writable
    assert(t2.toDF.count() === 7L)
  }

  test("null partition values and encodable paths round-trip (JSON null on disk, sentinel inside)") {
    import spark.implicits._
    val dir = tmpDir("dwc-nullpart-")
    val df0 = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "a"))
      .toDF("id", "p")
    val t = GraftTable.create(spark, dir, df0, partitionBy = Seq("p"))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.append(Seq((4L, null.asInstanceOf[String])).toDF("id", "p"))
    val addLine = logLines(dir, t.latestVersion).find(_.contains("\"add\"")).get
    val pv = mapper.readTree(addLine).get("add").get("partitionValues")
    assert(pv.has("p") && pv.get("p").isNull,
      s"a null partition value must serialize as JSON null, got $addLine")
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.toDF.filter(col("p").isNull).count() === 2L)
    assert(t2.toDF.count() === 4L)
  }

  test("a DV DELETE's Delta descriptor needs no OPTIMIZE before compat enables") {
    val dir = tmpDir("dwc-dv-descriptor-")
    val t = GraftTable.create(spark, dir, seed(6))
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 1L)
    assert(t.snapshot.files.flatMap(_.dvPath).exists(DeltaDeletionVectors.isDescriptor))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    assert(t.snapshot.files.exists(_.dvPath.isDefined), "enabling compat keeps the DV")
    assert(GraftTable.forPath(spark, dir).toDF.count() === 5L)
    assert(t.metadataCount() === 5L)
  }

  test("constraints travel as constraint.* configuration and still enforce after reopen") {
    val dir = tmpDir("dwc-constraint-")
    val t = GraftTable.create(spark, dir, seed(3))
    t.addConstraint("pos", "id >= 0")
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.append(seed(1).withColumn("id", col("id") + 7))
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.snapshot.metaData.constraints.get("pos").contains("id >= 0"))
    intercept[Exception](t2.append(seed(1).withColumn("id", lit(-5L))))
  }

  test("features a delta reader cannot honor refuse at the enabling commit") {
    // LEGACY `_dv/` parquet sidecars: the live set (not this commit's
    // actions) carries tombstones no delta reader can apply — the
    // enabling-transition gate must refuse until OPTIMIZE purges them
    val dir = tmpDir("dwc-refuse-")
    val t = GraftTable.create(spark, dir, seed(6))
    t.setProperty("deletionVectors.enabled", "true")
    val (f, pos) = DeletionVectorSpec.rowPositions(spark, t)(1L)
    DeletionVectorSpec.pointAt(t,
      DeletionVectorSpec.legacySidecar(spark, dir, Seq(f.path -> pos)), Seq(f -> 1L))
    assert(t.toDF.count() === 5L)
    val e = intercept[GraftProtocolException](
      t.setProperty(DeltaWriteCompat.Prop, "true"))
    assert(e.getMessage.contains("native deletion-vector"), s"got $e")
    // OPTIMIZE rebases the DV carriers (purges sidecars) — compat then enables
    t.optimize()
    t.setProperty(DeltaWriteCompat.Prop, "true")
    assert(t.toDF.count() === 5L)
    // and the reverse order: compat first, then the incompatible feature
    val dir2 = tmpDir("dwc-refuse2-")
    val t2 = GraftTable.create(spark, dir2, seed(3))
    t2.setProperty(DeltaWriteCompat.Prop, "true")
    // changeDataFeed is compat-legal on unpartitioned tables since the
    // CDF emission landed (see the dedicated CDF test); NAME-mode column
    // mapping emits the standard delta spelling since round 15. ID mode
    // cannot be ENABLED on an existing table (its pre-mapping files carry
    // no field ids — delta has the same restriction; it arrives only via
    // adoptDelta, round 16) — setProperty refuses up front
    val eId = intercept[IllegalArgumentException](
      t2.setProperty("columnMapping.mode", "id"))
    assert(eId.getMessage.contains("cannot be enabled on an existing table"))
    t2.append(seed(1)) // the table itself stays healthy after refusals
    assert(t2.toDF.count() === 4L)
  }

  test("merge-on-read under compat: DV DML writes delta-format .bin, descriptors round-trip") {
    val dir = tmpDir("dwc-dv-")
    val t = GraftTable.create(spark, dir, seed(8))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 2L || col("id") === 5L)
    // every re-add carries a delta DESCRIPTOR, not a sidecar path (the
    // two tombstoned rows may live in one or two files — seed frames
    // write several parquet parts)
    val dvs = logLines(dir, t.latestVersion).filter(_.contains("\"add\""))
      .map(l => mapper.readTree(l).get("add").get("deletionVector"))
      .filter(_ != null)
    assert(dvs.nonEmpty && dvs.forall(_.get("storageType").asText() == "u"))
    assert(dvs.map(_.get("cardinality").asLong()).sum === 2L)
    // the referenced .bin exists, is delta layout, and each blob verifies
    // (version byte + size + CRC through the read-interop decoder)
    val rel = DeltaDeletionVectors.resolveRelativePath(
      dvs.head.get("pathOrInlineDv").asText())
    assert(Files.exists(Paths.get(dir, rel)), s"DV file $rel must exist")
    val pos = dvs.map(dv => DeltaDeletionVectors.positions(dir,
      DeltaDeletionVectors.pack("u", dv.get("pathOrInlineDv").asText(),
        dv.get("offset").asLong(), dv.get("sizeInBytes").asLong(),
        dv.get("cardinality").asLong())).length).sum
    assert(pos === 2)
    // graft re-reads its own compat DVs through the interop path
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 3L, 4L, 6L, 7L))
    // protocol declares the standard DV gate: minReader 3 + reader feature
    t2.log.writeCheckpoint(t2.latestVersion)
    val cp = Paths.get(dir, "_delta_log", f"${t2.latestVersion}%020d.checkpoint.parquet")
    val proto = spark.read.parquet(cp.toString)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion")
      .na.drop("all").collect()
    assert(proto.head.getInt(0) === 3 && proto.head.getInt(1) === 7)
    // checkpoint round-trips the descriptor: a fresh fold seeded from it
    // still applies the tombstones
    val t3 = GraftTable.forPath(spark, dir)
    assert(t3.toDF.count() === 6L)
    // vacuum retains the referenced .bin while its version is retained
    t2.setProperty("vacuum.retentionDurationCheck", "false")
    GraftTable.forPath(spark, dir).vacuum(retainVersions = 0, retentionMs = 0L)
    assert(Files.exists(Paths.get(dir, rel)),
      "a DV file referenced by the live snapshot must survive vacuum")
    // further merge-on-read DML through the SAME store path (MERGE twin) —
    // the touched file's DV re-points at a fresh .bin (old + new positions)
    import spark.implicits._
    t2.merge(Seq((3L, "UPD")).toDF("id", "s"), "t.id = s.id")
      .whenMatchedUpdate(Map("s" -> "s.s")).execute()
    val rows = GraftTable.forPath(spark, dir).toDF.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(3L) === "UPD" && rows.size === 6)
    // ... and once OPTIMIZE rebases every carrier (purging all DVs) no
    // retained version references any bin — vacuum collects them like
    // aged-out data files
    val t4 = GraftTable.forPath(spark, dir)
    t4.optimize()
    t4.vacuum(retainVersions = 0, retentionMs = 0L)
    assert(!Files.exists(Paths.get(dir, rel)),
      "an unreferenced DV file must be vacuumed")
    assert(t4.toDF.count() === 6L, "rows survive the purge+vacuum")
  }

  test("compat checkpoint is delta layout: single part, _last_checkpoint carries size") {
    val dir = tmpDir("dwc-cp-")
    val t = GraftTable.create(spark, dir, seed(4))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.append(seed(2))
    t.log.writeCheckpoint(t.latestVersion)
    val cp = Paths.get(dir, "_delta_log", f"${t.latestVersion}%020d.checkpoint.parquet")
    assert(Files.exists(cp))
    // delta's layout: nullable struct column per action, stats a STRING
    val cpDf = spark.read.parquet(cp.toString)
    assert(Set("add", "metaData", "protocol").subsetOf(cpDf.columns.toSet))
    val addRows = cpDf.select("add.path", "add.stats", "add.dataChange")
      .na.drop("all").collect()
    assert(addRows.length === t.snapshot.files.size)
    addRows.foreach { r =>
      assert(r.getBoolean(2) === true)
      assert(mapper.readTree(r.getString(1)).has("numRecords"))
    }
    val ptr = mapper.readTree(
      Files.readString(Paths.get(dir, "_delta_log", "_last_checkpoint")))
    assert(ptr.get("version").asLong() === t.latestVersion)
    assert(ptr.get("size").asLong() > 0L)
    // graft folds back from this checkpoint (fresh instance seeds from it)
    assert(GraftTable.forPath(spark, dir).toDF.count() === 6L)
  }

  test("constraint tables declare writer 3 and delta.constraints.*; dropping kills the ghost") {
    val dir = tmpDir("dwc-proto3-")
    val t = GraftTable.create(spark, dir, seed(3))
    t.addConstraint("pos", "id >= 0")
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.append(seed(1).withColumn("id", col("id") + 7))
    // checkpoint carries the protocol line: feature-derived, not (1, 2) —
    // a bare minWriter 2 would invite a real delta writer to INSERT rows
    // violating a constraint it cannot see
    t.log.writeCheckpoint(t.latestVersion)
    val cp = Paths.get(dir, "_delta_log", f"${t.latestVersion}%020d.checkpoint.parquet")
    val proto = spark.read.parquet(cp.toString)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion")
      .na.drop("all").collect()
    assert(proto.length === 1)
    assert(proto.head.getInt(0) === 1 && proto.head.getInt(1) === 3,
      "CHECK constraints gate foreign writers at delta writer version 3")
    // the config carries the STANDARD key real delta writers enforce
    val metaLine = logLines(dir, t.latestVersion - 1)
      .find(_.contains("\"metaData\"")).orElse(
        logLines(dir, 2L).find(_.contains("\"metaData\"")))
    val conf = mapper.readTree(metaLine.get).get("metaData").get("configuration")
    assert(conf.has("delta.constraints.pos") &&
      conf.get("delta.constraints.pos").asText() == "id >= 0", metaLine.get)
    assert(conf.has("constraint.pos"), "native round-trip key stays too")
    // graft fold-back: constraint enforced, derived key not a ghost property
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.snapshot.metaData.constraints.get("pos").contains("id >= 0"))
    assert(!t2.snapshot.metaData.properties.keys.exists(_.startsWith("delta.constraints.")),
      "derived mirror keys must fold OUT of properties")
    // dropping the constraint removes the delta.constraints ghost from
    // the next emitted metaData (a foreign writer must stop enforcing)
    t2.dropConstraint("pos")
    val metaLine2 = logLines(dir, t2.latestVersion).find(_.contains("\"metaData\"")).get
    val conf2 = mapper.readTree(metaLine2).get("metaData").get("configuration")
    assert(!conf2.has("delta.constraints.pos") && !conf2.has("constraint.pos"),
      s"dropped constraint must not linger: $metaLine2")
  }

  test("engine-private writer semantics gate foreign writers at v7 under graft-named features") {
    import spark.implicits._
    val dir = tmpDir("dwc-proto7-")
    val t = GraftTable.create(spark, dir, Seq("a", "b").toDF("s"),
      identity = Map("id" -> (1L, 1L)))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.append(Seq("x").toDF("s"))
    t.log.writeCheckpoint(t.latestVersion)
    val cp = Paths.get(dir, "_delta_log", f"${t.latestVersion}%020d.checkpoint.parquet")
    val proto = spark.read.parquet(cp.toString)
      .select("protocol.minWriterVersion", "protocol.writerFeatures")
      .na.drop("all").collect()
    assert(proto.length === 1)
    assert(proto.head.getInt(0) === 7,
      "identity columns are maintainable by no foreign writer — v7 gate")
    val feats = proto.head.getSeq[String](1)
    assert(feats.contains("graft.identityColumns"),
      s"graft-private feature name locks foreign writers out, got $feats")
    assert(feats.contains("invariants"), s"v7 lists legacy capabilities: $feats")
    // graft itself keeps writing THROUGH the gate (it is the declared writer)
    val t2 = GraftTable.forPath(spark, dir)
    t2.append(Seq("c").toDF("s"))
    val got = t2.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(got.length === 4 && got.distinct.length === 4 && got.forall(_ >= 1L),
      s"identity allocation survives fold-back, got ${got.toSeq}")
  }

  test("CDF under compat: delta-shaped cdc actions, feed readable after reopen") {
    val dir = tmpDir("dwc-cdf-")
    val t = GraftTable.create(spark, dir, seed(6))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("changeDataFeed.enabled", "true")
    t.delete(col("id") === 2L)
    // the cdc action is delta's AddCDCFile shape: URI path, explicit
    // partitionValues, dataChange=false, NO graft-native numRecords
    val cdcLine = logLines(dir, t.latestVersion).find(_.contains("\"cdc\"")).get
    val c = mapper.readTree(cdcLine).get("cdc")
    assert(c.has("dataChange") && !c.get("dataChange").asBoolean(), cdcLine)
    assert(c.has("partitionValues") && !c.has("numRecords"), cdcLine)
    // the config mirror real delta CDF readers key on
    val metaLine = logLines(dir, t.latestVersion - 1).find(_.contains("\"metaData\"")).get
    assert(mapper.readTree(metaLine).get("metaData").get("configuration")
      .get("delta.enableChangeDataFeed").asText() == "true", metaLine)
    // fresh fold (delta-shaped cdc folds back with unknown count): the
    // change feed still serves the delete
    val t2 = GraftTable.forPath(spark, dir)
    val ch = t2.changes(t.latestVersion - 1, t.latestVersion)
      .select("id", "_change_type").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(ch.toSeq === Seq(2L -> "delete"), s"got ${ch.toSeq}")
    assert(t2.toDF.count() === 5L)
  }

  test("CDF under compat on a PARTITIONED table: cdc files omit partition columns, actions carry them") {
    import spark.implicits._
    val dir = tmpDir("dwc-cdf-part-")
    val t = GraftTable.create(spark, dir,
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("id", "p"),
      partitionBy = Seq("p"))
    t.setProperty("changeDataFeed.enabled", "true")
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.delete(col("id").isin(2L, 3L)) // touches BOTH partitions
    val v = t.latestVersion
    assertDeltaShaped(dir, v)
    // one cdc action per touched partition, each carrying its value on the
    // ACTION (delta's AddCDCFile layout); the FILE must omit the partition
    // column — a real delta reader reconstitutes it from partitionValues
    val cdcNodes = logLines(dir, v).filter(_.contains("\"cdc\""))
      .map(l => mapper.readTree(l).get("cdc"))
    assert(cdcNodes.map(_.get("partitionValues").get("p").asText()).toSet
      === Set("a", "b"), s"got ${cdcNodes}")
    cdcNodes.foreach { c =>
      val f = spark.read.parquet(Paths.get(dir,
        new java.net.URI(c.get("path").asText()).getPath).toString)
      assert(!f.columns.contains("p"),
        s"compat cdc file must omit the partition column, got ${f.columns.toSeq}")
      assert(f.columns.contains("_change_type"))
    }
    // fresh fold reconstitutes the columns in batch changes() ...
    val t2 = GraftTable.forPath(spark, dir)
    val ch = t2.changes(v - 1, v).select("id", "p", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch === Set((2L, "a", "delete"), (3L, "b", "delete")), s"got $ch")
    assert(t2.toDF.count() === 2L)
    // ... and in the CDF stream (the constant-row path)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", v)
      .load(dir)
      .writeStream.format("memory").queryName("dwc_part_cdf")
      .option("checkpointLocation", tmpDir("dwc-cdf-part-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dwc_part_cdf").select("id", "p", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((2L, "a", "delete"), (3L, "b", "delete")), s"got $got")
  }

  test("CDF under compat + column mapping: cdc files spell PHYSICAL names; both feeds read back") {
    import spark.implicits._
    val dir = tmpDir("dwc-cdf-map-")
    val t = GraftTable.create(spark, dir,
      Seq((1L, "a", "x1"), (2L, "a", "x2"), (3L, "b", "x3"), (4L, "b", "x4"))
        .toDF("id", "p", "s"),
      partitionBy = Seq("p"))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("columnMapping.mode", "name")
    t.setProperty("changeDataFeed.enabled", "true")
    t.renameColumn("s", "label") // physical stays "s", logical diverges
    t.delete($"id".isin(2L, 3L)) // touches BOTH partitions
    val v = t.latestVersion
    assertDeltaShaped(dir, v)
    // the cdc FILES spell the PHYSICAL column name — a logical spelling
    // would silently NULL the renamed column for every delta CDF reader
    // AND for graft's own physical-requesting shaped read (round 16)
    val cdcNodes = logLines(dir, v).filter(_.contains("\"cdc\""))
      .map(l => mapper.readTree(l).get("cdc"))
    assert(cdcNodes.nonEmpty)
    cdcNodes.foreach { c =>
      val f = spark.read.parquet(Paths.get(dir,
        new java.net.URI(c.get("path").asText()).getPath).toString)
      assert(f.columns.toSet === Set("id", "s", "_change_type"),
        s"cdc files must spell physical names (partition col omitted), " +
          s"got ${f.columns.toSeq}")
    }
    // batch changes(): logical names, renamed column VALUES intact
    val ch = t.changes(v - 1, v).select("id", "p", "label", "_change_type")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(ch === Set((2L, "a", "x2", "delete"), (3L, "b", "x3", "delete")),
      s"got $ch")
    // the CDF stream decodes the same sidecars through the reader factory
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", v)
      .load(dir)
      .writeStream.format("memory").queryName("dwc_map_cdf")
      .option("checkpointLocation", tmpDir("dwc-cdf-map-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dwc_map_cdf").select("id", "p", "label", "_change_type")
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got === ch, s"stream/batch CDF parity: $got vs $ch")
    // a pre-compat NATIVE sidecar in the same table's history would read
    // logical — per-version dispatch, pinned by the existing mixed-shape
    // coverage; here the post-enable feed replays delta-shaped end to end
    assert(deltaReplayLiveFiles(dir).toSet === t.snapshot.files.map(_.path).toSet)
  }

  test("mixed cdc history: native (logical) sidecars and compat (physical) sidecars both replay") {
    import spark.implicits._
    val dir = tmpDir("dwc-cdf-mixed-")
    val t = GraftTable.create(spark, dir,
      Seq((1L, "x1"), (2L, "x2"), (3L, "x3"), (4L, "x4")).toDF("id", "s"))
    t.setProperty("changeDataFeed.enabled", "true")
    t.delete($"id" === 1L) // NATIVE sidecar: logical-named columns
    val vNative = t.latestVersion
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("columnMapping.mode", "name")
    t.renameColumn("s", "label")
    t.delete($"id" === 2L) // COMPAT sidecar: physical-named columns
    val vCompat = t.latestVersion
    // per-VERSION dispatch: the pre-compat sidecar reads logical, the
    // post-compat one physical — one feed serves both spellings. (The
    // pre-rename delete is read through ITS version's schema, where the
    // column was still logically named s.)
    val t2 = GraftTable.forPath(spark, dir)
    val chNative = t2.changes(vNative - 1, vNative)
      .select("id", "s", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(chNative === Set((1L, "x1", "delete")), s"got $chNative")
    val chCompat = t2.changes(vCompat - 1, vCompat)
      .select("id", "label", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(chCompat === Set((2L, "x2", "delete")), s"got $chCompat")
    assert(t2.toDF.count() === 2L)
  }

  test("BUCKETED tables under compat: v7 graft.bucketing gates foreign writers; layout round-trips") {
    import spark.implicits._
    val dir = tmpDir("dwc-bucket-")
    val t = GraftTable.create(spark, dir,
      (0L until 40L).map(i => (i, s"v$i")).toDF("id", "s"),
      bucketBy = Some(("id", 4)))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.delete(col("id") % 7 === 0L)
    val v = t.latestVersion
    assertDeltaShaped(dir, v)
    // bucket purity is an engine-private write invariant — the emitted
    // protocol must lock foreign writers out at v7 under the graft name
    val protoLine = (0L to v).flatMap(i => logLines(dir, i))
      .filter(_.contains("\"protocol\"")).last
    val p = mapper.readTree(protoLine).get("protocol")
    assert(p.get("minWriterVersion").asInt() === 7, protoLine)
    assert(p.get("writerFeatures").toString.contains("graft.bucketing"), protoLine)
    // fold-back keeps every bucket id (the SPJ eligibility invariant) and
    // graft stays the writer
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.snapshot.files.nonEmpty)
    assert(t2.snapshot.files.forall(
      _.partitionValues.contains(graft.table.Bucketing.BucketCol)),
      "compat round-trip must keep the hidden bucket ids")
    t2.append(Seq((100L, "x")).toDF("id", "s"))
    assert(t2.toDF.count() === 40L - 6L + 1L)
    // the independent delta-1.0 replay still reconstructs the live set
    assert(deltaReplayLiveFiles(dir).toSet ===
      t2.snapshot.files.map(_.path).toSet)

    // REBUCKETING an (unbucketed) compat table must introduce the v7
    // gate IN the rebucket commit itself — a foreign writer replaying
    // the JSON log must never see a window where the table is bucketed
    // but still writable at the old writer version
    val dir2 = tmpDir("dwc-rebucket-")
    val u = GraftTable.create(spark, dir2, seed(12))
    u.setProperty(DeltaWriteCompat.Prop, "true")
    u.optimize(rebucketTo = Some(("id", 4)))
    val lastProto = (0L to u.latestVersion).flatMap(i => logLines(dir2, i))
      .filter(_.contains("\"protocol\"")).last
    val lp = mapper.readTree(lastProto).get("protocol")
    assert(lp.get("minWriterVersion").asInt() === 7, lastProto)
    assert(lp.get("writerFeatures").toString.contains("graft.bucketing"), lastProto)
    assert(GraftTable.forPath(spark, dir2).snapshot.files.forall(
      _.partitionValues.contains(graft.table.Bucketing.BucketCol)))
  }

  test("MERGE and metadata-only evolution stay delta-shaped") {
    import spark.implicits._
    val dir = tmpDir("dwc-merge-")
    val t = GraftTable.create(spark, dir, seed(5))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.merge(Seq((1L, "UPD"), (9L, "NEW")).toDF("id", "s"), "t.id = s.id")
      .whenMatchedUpdate(Map("s" -> "s.s"))
      .whenNotMatchedInsert(Map("id" -> "s.id", "s" -> "s.s"))
      .execute()
    assertDeltaShaped(dir, t.latestVersion)
    t.addColumn("extra", org.apache.spark.sql.types.IntegerType)
    assertDeltaShaped(dir, t.latestVersion)
    val rows = GraftTable.forPath(spark, dir).toDF
      .select("id", "s").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) === "UPD" && rows(9L) === "NEW" && rows.size === 6)
  }

  test("NAME-mode column mapping under compat: rename round-trips through a real mapped log") {
    import spark.implicits._
    val dir = tmpDir("dwc-map-")
    val t = GraftTable.create(spark, dir, seed(5))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("columnMapping.mode", "name")
    // the enabling commit stamps delta field ids + maxColumnId and the
    // (3,7) columnMapping protocol — checked on the RAW log line
    val enableLines = logLines(dir, t.latestVersion)
    val metaNode = enableLines.filter(_.contains("\"metaData\""))
      .map(mapper.readTree(_).get("metaData")).head
    assert(metaNode.get("configuration").get("delta.columnMapping.mode")
      .asText() === "name")
    assert(metaNode.get("configuration").get("delta.columnMapping.maxColumnId")
      .asText() === "2")
    val emittedSchema = org.apache.spark.sql.types.DataType
      .fromJson(metaNode.get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    emittedSchema.fields.foreach { f =>
      assert(f.metadata.contains("delta.columnMapping.id"), s"id on ${f.name}")
      assert(f.metadata.contains("delta.columnMapping.physicalName"),
        s"physicalName on ${f.name}")
    }
    val protoNode = enableLines.filter(_.contains("\"protocol\""))
      .map(mapper.readTree(_).get("protocol")).head
    assert(protoNode.get("minReaderVersion").asInt() === 3)
    assert(protoNode.get("readerFeatures").toString.contains("columnMapping"))
    assert(protoNode.get("writerFeatures").toString.contains("columnMapping"))
    // RENAME + DROP + re-ADD + DML — the schema changes mapping exists for
    t.renameColumn("s", "label")
    t.append(Seq((100L, "fresh")).toDF("id", "label"))
    t.dropColumn("label")
    t.addColumn("label", org.apache.spark.sql.types.StringType)
    // the re-added column gets a FRESH id past the dropped one's
    val metaJson2 = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => logLines(dir, v)).find(_.contains("\"metaData\"")).get
    val emitted2 = org.apache.spark.sql.types.DataType
      .fromJson(mapper.readTree(metaJson2).get("metaData")
        .get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val readded = emitted2.fields.find(_.name == "label").get
    assert(readded.metadata.getLong("delta.columnMapping.id") === 3L,
      "re-added column must get a fresh id (never the dropped column's)")
    assert(readded.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"), "re-added column binds a fresh physical name")
    // every commit stayed delta-shaped; graft reopens the log as its own
    (2L to t.latestVersion).foreach(assertDeltaShaped(dir, _))
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.toDF.columns.toSeq === Seq("id", "label"))
    assert(t2.toDF.filter($"label".isNotNull).count() === 0L,
      "dropped data must not resurrect into the re-added column")
    assert(t2.toDF.count() === 6L)
    // independent delta replay equality
    assert(deltaReplayLiveFiles(dir).toSet ===
      t2.snapshot.files.map(_.path).toSet)
  }

  test("mapped compat data files carry parquet field ids matching the committed schema") {
    import spark.implicits._
    val dir = tmpDir("dwc-mapids-")
    val t = GraftTable.create(spark, dir, seed(4))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("columnMapping.mode", "name")
    t.renameColumn("s", "label") // physical stays "s", id 2
    t.append(Seq((50L, "x")).toDF("id", "label"))
    assert(t.delete($"id" === 1L) === 1L) // CoW rewrite path
    // every live file written under mapping (the append + the rewrite)
    // must spell the PHYSICAL names and carry the committed field ids —
    // the delta columnMapping write contract (id-resolving readers bind
    // new files only through the ids)
    def footerIds(rel: String): Map[String, Option[Int]] = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(Paths.get(dir, rel).toString),
        new org.apache.hadoop.conf.Configuration())
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rd.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
      finally rd.close()
    }
    val createAdds = logLines(dir, 0L).filter(_.contains("\"add\""))
      .map(mapper.readTree(_).get("add").get("path").asText()).toSet
    val mappedWritten = t.snapshot.files.map(_.path).filterNot(createAdds)
    assert(mappedWritten.nonEmpty, "fixture: DML must have written new files")
    mappedWritten.foreach { rel =>
      val ids = footerIds(rel)
      assert(ids.keySet === Set("id", "s"),
        s"mapped files spell physical names, got ${ids.keySet} in $rel")
      assert(ids("id").contains(1) && ids("s").contains(2),
        s"field ids must match the committed mapping ids, got $ids in $rel")
    }
    // pre-mapping files legally carry no ids (name-mode readers resolve
    // by physicalName); only files written under mapping must
    val pre = t.snapshot.files.map(_.path).find(createAdds).toSeq
    pre.foreach(rel => assert(footerIds(rel).values.forall(_.isEmpty),
      "create-time files predate the mapping — no ids expected"))
    // the V2 writer path (catalog INSERT) stamps the same ids
    val beforeV2 = t.snapshot.files.map(_.path).toSet
    graft.sources.GraftCatalog.register(spark, tmpDir("dwc-mapids-wh-"),
      name = "mapids")
    spark.sql(s"CREATE TABLE mapids.default.t USING graft LOCATION '$dir'")
    spark.sql("INSERT INTO mapids.default.t VALUES (60, 'v2row')")
    val t2 = GraftTable.forPath(spark, dir)
    val v2New = t2.snapshot.files.map(_.path).filterNot(beforeV2)
    assert(v2New.size === 1, s"one V2-written file expected, got $v2New")
    val v2Ids = footerIds(v2New.head)
    assert(v2Ids.keySet === Set("id", "s") &&
        v2Ids("id").contains(1) && v2Ids("s").contains(2),
      s"the V2 writer must stamp the same physical names + ids, got $v2Ids")
    assert(t2.toDF.filter($"label" === "v2row").count() === 1L)
  }

  test("row tracking under compat: standard delta spelling, baseRowId continuity across DML") {
    import spark.implicits._
    val dir = tmpDir("dwc-rt-")
    // one seed file: the CoW delete below must REWRITE it (a per-row file
    // layout would just drop the whole file, leaving no add to inspect)
    val t = GraftTable.create(spark, dir, seed(4).coalesce(1))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("rowTracking.enabled", "true")
    // the enabling commit: standard rowTracking + domainMetadata writer
    // features, the config mirrors, and the hwm domain (backfill set it)
    val enable = logLines(dir, t.latestVersion)
    val protoN = enable.filter(_.contains("\"protocol\""))
      .map(mapper.readTree(_).get("protocol")).head
    assert(protoN.get("writerFeatures").toString.contains("rowTracking"))
    assert(protoN.get("writerFeatures").toString.contains("domainMetadata"))
    assert(!protoN.get("writerFeatures").toString.contains("graft.rowTracking"),
      "round 16 emits the STANDARD spelling, not the private name")
    val metaN = enable.filter(_.contains("\"metaData\""))
      .map(mapper.readTree(_).get("metaData")).head
    assert(metaN.get("configuration").get("delta.enableRowTracking")
      .asText() === "true")
    assert(metaN.get("configuration")
      .get("delta.rowTracking.materializedRowIdColumnName").asText() === "_row_id")
    def domainHwm(lines: Seq[String]): Option[Long] =
      lines.map(mapper.readTree).find(_.has("domainMetadata")).map { n =>
        val d = n.get("domainMetadata")
        assert(d.get("domain").asText() === "delta.rowTracking")
        mapper.readTree(d.get("configuration").asText())
          .get("rowIdHighWaterMark").asLong()
      }
    assert(domainHwm(enable).contains(3L), "backfill hwm = 4 rows - 1")
    // DML: append mints ids, CoW delete preserves survivors' ids — the
    // delta-visible state (baseRowId + materialized column) must agree
    val idsBefore = t.scanWithRowIds()
      .select($"id", col(GraftTable.RowIdCol)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.append(Seq((50L, "x"), (51L, "y")).toDF("id", "s"))
    val appendLines = logLines(dir, t.latestVersion)
    val appendAdd = appendLines.filter(_.contains("\"add\""))
      .map(mapper.readTree(_).get("add")).head
    assert(appendAdd.get("baseRowId").asLong() === 4L,
      "fresh base ids continue above the backfill hwm")
    assert(appendAdd.get("defaultRowCommitVersion").asLong() === t.latestVersion)
    assert(domainHwm(appendLines).contains(5L), "hwm advances with the append")
    assert(t.delete($"id" === 1L) === 1L)
    val delLines = logLines(dir, t.latestVersion)
    val delAdd = delLines.filter(_.contains("\"add\""))
      .map(mapper.readTree(_).get("add")).head
    // graft's CoW rewrite materializes EVERY surviving row's id into the
    // new file and deliberately omits a fresh baseRowId (allocating one
    // would force an hwm MetaData bump, re-introducing metadata conflicts
    // for concurrent appends). A delta reader's id rule —
    // coalesce(materialized, base + pos) — never reaches the base for
    // such files: the materialized column is TOTAL, proven below.
    assert(delAdd.has("defaultRowCommitVersion"),
      "rewrite adds still stamp their commit version")
    val after = t.scanWithRowIds()
      .select($"id", col(GraftTable.RowIdCol)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    idsBefore.foreach { case (id, rid) =>
      if (id != 1L) assert(after(id) === rid,
        s"row $id must keep its id across the CoW delete")
    }
    // the rewritten parquet file physically carries the materialized
    // _row_id column (what the config key promises delta readers), with
    // NO null — total coverage is what makes the omitted base sound
    val rewrittenRel = delAdd.get("path").asText()
    val rewritten = spark.read.parquet(Paths.get(dir,
      new java.net.URI(rewrittenRel).getPath).toString)
    assert(rewritten.columns.contains("_row_id"),
      s"got ${rewritten.columns.toSeq}")
    assert(rewritten.filter(col("_row_id").isNull).count() === 0L,
      "every rewritten row must carry its materialized id")
    // every commit stayed delta-shaped; independent replay equality
    (2L to t.latestVersion).foreach(assertDeltaShaped(dir, _))
    assert(deltaReplayLiveFiles(dir).toSet === t.snapshot.files.map(_.path).toSet)
    // checkpoint leg: drive to the checkpoint interval — the compat
    // checkpoint must carry the hwm domain + per-add row-id fields so a
    // delta reader SEEDING from it keeps allocating safely
    while (t.latestVersion < 10L) t.append(Seq((60L + t.latestVersion, "z")).toDF("id", "s"))
    assert(Files.exists(Paths.get(dir, "_delta_log",
      f"${10L}%020d.checkpoint.parquet")))
    val cp = spark.read.parquet(Paths.get(dir, "_delta_log",
      f"${10L}%020d.checkpoint.parquet").toString)
    val cpDom = cp.filter(col("domainMetadata").isNotNull)
      .select("domainMetadata.domain", "domainMetadata.configuration").collect()
    assert(cpDom.length === 1 && cpDom(0).getString(0) === "delta.rowTracking")
    val cpAdds = cp.filter(col("add").isNotNull)
      .select("add.baseRowId", "add.defaultRowCommitVersion").collect()
    assert(cpAdds.nonEmpty && cpAdds.forall(r => !r.isNullAt(1)),
      "checkpointed adds must keep defaultRowCommitVersion")
    assert(cpAdds.count(r => !r.isNullAt(0)) === cpAdds.length - 1,
      "every add except the fully-materialized rewrite keeps its baseRowId")
    // graft itself re-reads its compat checkpoint (fold through the
    // delta-checkpoint reader) with ids intact
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.scanWithRowIds().select(col(GraftTable.RowIdCol)).distinct().count()
      === t2.toDF.count())
  }

  test("in-commit timestamps under compat: feature declared, the replayed clock equals history") {
    import spark.implicits._
    val dir = tmpDir("dwc-ict-")
    val t = GraftTable.create(spark, dir, seed(3))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("delta.enableInCommitTimestamps", "true")
    val enableV = t.latestVersion
    // the enabling commit declares the feature and pins the enablement
    // markers delta 4.x readers use to locate the clock switch
    val enable = logLines(dir, enableV)
    val protoN = enable.map(mapper.readTree).find(_.has("protocol"))
      .map(_.get("protocol")).get
    assert(protoN.get("writerFeatures").toString.contains("inCommitTimestamp"))
    val metaN = enable.map(mapper.readTree).find(_.has("metaData"))
      .map(_.get("metaData")).get
    assert(metaN.get("configuration")
      .get("delta.inCommitTimestampEnablementVersion").asText().toLong === enableV)
    assert(metaN.get("configuration")
      .has("delta.inCommitTimestampEnablementTimestamp"))
    t.append(Seq((10L, "a")).toDF("id", "s"))
    t.append(Seq((11L, "b")).toDF("id", "s"))
    // every post-enablement commitInfo carries the authoritative field,
    // equal to the legacy timestamp (one monotone clock, two spellings)
    val icts = (enableV to t.latestVersion).map { v =>
      val ci = logLines(dir, v).map(mapper.readTree)
        .find(_.has("commitInfo")).map(_.get("commitInfo")).get
      assert(ci.has("inCommitTimestamp"), s"v$v must carry the ICT field")
      assert(ci.get("inCommitTimestamp").asLong() === ci.get("timestamp").asLong())
      ci.get("inCommitTimestamp").asLong()
    }
    assert(icts == icts.sorted && icts.distinct.length == icts.length,
      s"the ICT clock must be strictly monotone: $icts")
    // the independent replay's clock equals graft's own history()
    val hist = t.history().select("version", "timestamp").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    (enableV to t.latestVersion).zip(icts).foreach { case (v, ict) =>
      assert(hist(v) === ict, s"history must serve the ICT clock at v$v")
    }
    (2L to t.latestVersion).foreach(assertDeltaShaped(dir, _))
  }

  test("VARIANT under compat: the variantType feature gates the emitted protocol, shred stats intact") {
    import spark.implicits._
    val dir = tmpDir("dwc-var-")
    val t = GraftTable.create(spark, dir,
      seed(5).withColumn("props",
        expr("parse_json(concat('{\"k\":', CAST(id AS STRING), '}'))")))
    // enable compat ON a variant table (round-14 refused this)
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.append(seed(2).withColumn("id", $"id" + 50)
      .withColumn("props", expr("parse_json('{\"k\":99}')")))
    (1L to t.latestVersion).foreach(assertDeltaShaped(dir, _))
    val protoNode = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => logLines(dir, v)).filter(_.contains("\"protocol\""))
      .map(mapper.readTree(_).get("protocol")).next()
    assert(protoNode.get("minReaderVersion").asInt() === 3)
    assert(protoNode.get("readerFeatures").toString.contains("variantType"))
    assert(protoNode.get("writerFeatures").toString.contains("variantType"))
    // variant values and the ingestion path survive the compat reopen
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.toDF.selectExpr("CAST(try_variant_get(props, '$.k', 'long') AS LONG)")
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L, 4L, 99L))
    assert(deltaReplayLiveFiles(dir).toSet ===
      t2.snapshot.files.map(_.path).toSet)
  }

  test("ICT commits lead with commitInfo — DDL/metadata commits included") {
    import spark.implicits._
    val dir = tmpDir("dwc-ict-first-")
    val t = GraftTable.create(spark, dir, seed(3))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("delta.enableInCommitTimestamps", "true")
    val enableV = t.latestVersion
    // exercise the DDL builders that historically serialized protocol/
    // metaData BEFORE commitInfo — delta's ICT fast path reads only a
    // commit's FIRST action, so these commits would break real readers
    t.addConstraint("pos_id", "id >= 0")
    t.addColumn("extra", org.apache.spark.sql.types.LongType)
    t.setProperty("some.key", "v1")
    t.append(seed(2).withColumn("id", $"id" + 10)
      .withColumn("extra", $"id" + 1))
    t.delete(col("id") === 1)
    (enableV to t.latestVersion).foreach { v =>
      val first = mapper.readTree(logLines(dir, v).head)
      assert(first.has("commitInfo"),
        s"v$v: commitInfo must be the FIRST action under ICT, got " +
          logLines(dir, v).head.take(80))
      assert(first.get("commitInfo").has("inCommitTimestamp"),
        s"v$v: the leading commitInfo must carry the ICT field")
    }
  }

  test("mapped compat stats key PHYSICAL names: a renamed timestamp column emits ISO under its physical key") {
    import spark.implicits._
    val dir = tmpDir("dwc-statphys-")
    val df = seed(3).withColumn("ts", expr("timestamp_seconds(1700000000 + id)"))
    val t = GraftTable.create(spark, dir, df)
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("columnMapping.mode", "name")
    // the logical name diverges from the physical one ("ts" stays pinned
    // in the parquet footers); stat maps are physical-keyed, so the
    // emitter's timestamp dispatch must be too — keying by logical name
    // would emit raw micros under "ts" (delta readers lose skipping, or
    // worse parse micros as epoch seconds)
    t.renameColumn("ts", "event_ts")
    t.append(seed(2).withColumn("id", $"id" + 100)
      .withColumn("ts", expr("timestamp_seconds(1800000000 + id)"))
      .withColumnRenamed("ts", "event_ts").coalesce(1))
    val addN = logLines(dir, t.latestVersion).map(mapper.readTree)
      .find(_.has("add")).map(_.get("add")).get
    val st = mapper.readTree(addN.get("stats").asText())
    assert(st.get("minValues").has("ts"),
      s"stats must key the PHYSICAL name: ${addN.get("stats").asText()}")
    val minTs = st.get("minValues").get("ts")
    assert(minTs.isTextual && minTs.asText().matches(
      """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z"""),
      s"renamed timestamp stat must emit ISO-8601, got $minTs")
    val maxTs = st.get("maxValues").get("ts")
    assert(maxTs.isTextual && maxTs.asText() > minTs.asText())
    // the numeric dispatch stays physical-keyed too (id emits as a number)
    assert(st.get("minValues").get("id").isNumber)
  }

  test("type widening under compat: typeWidening feature + delta.typeChanges, both file eras replay") {
    import spark.implicits._
    val dir = tmpDir("dwc-widen-")
    val narrow = (0 until 4).map(i => (i, i + 1)).toDF("k", "v") // v: INT
    val t = GraftTable.create(spark, dir, narrow)
    t.setProperty(DeltaWriteCompat.Prop, "true")
    val filesBefore = t.snapshot.files.map(_.path).toSet
    t.alterColumnType("v", org.apache.spark.sql.types.LongType)
    assert(t.snapshot.files.map(_.path).toSet === filesBefore,
      "widening must stay metadata-only under compat")
    // wide era: values only BIGINT holds
    t.append(Seq((100, 10L * Int.MaxValue)).toDF("k", "v"))
    (1L to t.latestVersion).foreach(assertDeltaShaped(dir, _))
    // the widening commit declares delta's typeWidening feature on BOTH
    // sides — a delta reader that predates it refuses instead of failing
    // its scan on BIGINT-schema-over-INT32-parquet
    val protoN = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => logLines(dir, v)).filter(_.contains("\"protocol\""))
      .map(mapper.readTree(_).get("protocol")).next()
    assert(protoN.get("minReaderVersion").asInt() === 3)
    assert(protoN.get("readerFeatures").toString.contains("typeWidening"))
    assert(protoN.get("writerFeatures").toString.contains("typeWidening"))
    // the committed schemaString records the change in delta's spelling
    val metaN = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => logLines(dir, v)).filter(_.contains("\"metaData\""))
      .map(mapper.readTree(_).get("metaData")).next()
    val widened = org.apache.spark.sql.types.DataType
      .fromJson(metaN.get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val vField = widened.fields.find(_.name == "v").get
    assert(vField.dataType === org.apache.spark.sql.types.LongType)
    assert(vField.metadata.contains("delta.typeChanges"))
    val changes = vField.metadata.getMetadataArray("delta.typeChanges")
    assert(changes.length === 1)
    assert(changes(0).getString("fromType") === "integer")
    assert(changes(0).getString("toType") === "long")
    // independent replay sees both eras; reading the narrow file through
    // the wide schema upcasts (what the feature promises delta readers)
    assert(deltaReplayLiveFiles(dir).toSet ===
      t.snapshot.files.map(_.path).toSet)
    val agg = t.toDF.agg(sum($"v"), max($"v")).head()
    assert(agg.getLong(1) === 10L * Int.MaxValue)
    assert(agg.getLong(0) === (1L + 2 + 3 + 4) + 10L * Int.MaxValue)
    // a second widen APPENDS to the history, never overwrites it
    t.alterColumnType("k", org.apache.spark.sql.types.LongType)
    val kField = t.snapshot.schema.fields.find(_.name == "k").get
    assert(kField.metadata.getMetadataArray("delta.typeChanges").length === 1)
    val vField2 = t.snapshot.schema.fields.find(_.name == "v").get
    assert(vField2.metadata.getMetadataArray("delta.typeChanges").length === 1,
      "an unrelated widen must not touch another column's history")
  }

  test("column defaults under compat declare allowColumnDefaults") {
    val dir = tmpDir("dwc-defaults-")
    val t = GraftTable.create(spark, dir, seed(3))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setColumnDefault("s", Some("'fresh'"))
    val protoN = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => logLines(dir, v)).filter(_.contains("\"protocol\""))
      .map(mapper.readTree(_).get("protocol")).next()
    assert(protoN.get("minWriterVersion").asInt() === 7)
    assert(protoN.get("writerFeatures").toString.contains("allowColumnDefaults"),
      "CURRENT_DEFAULT in the schemaString requires the feature — a " +
        "foreign writer that predates defaults must refuse to commit")
    val metaN = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => logLines(dir, v)).filter(_.contains("\"metaData\""))
      .map(mapper.readTree(_).get("metaData")).next()
    assert(metaN.get("schemaString").asText().contains("CURRENT_DEFAULT"))
    (1L to t.latestVersion).foreach(assertDeltaShaped(dir, _))
  }

  test("existence defaults have no delta spelling: compat refuses ADD COLUMN DEFAULT and the later enable") {
    import spark.implicits._
    // ON a compat table the DDL itself refuses (delta parity — delta
    // rejects ADD COLUMN DEFAULT because its readers fill missing columns
    // with NULL, not the default)
    val dir = tmpDir("dwc-exdef-")
    val t = GraftTable.create(spark, dir, seed(3))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    val e = intercept[GraftProtocolException](
      t.addColumn("c", org.apache.spark.sql.types.StringType, Some("'x'")))
    assert(e.getMessage.contains("SET DEFAULT"), e.getMessage)
    // on a NATIVE table the add works (scan fills the default for old
    // files) but a LATER compat enable refuses until the files rewrite
    val dir2 = tmpDir("dwc-exdef2-")
    val t2 = GraftTable.create(spark, dir2, seed(3))
    t2.addColumn("c", org.apache.spark.sql.types.StringType, Some("'x'"))
    assert(t2.toDF.select("c").collect().forall(_.getString(0) == "x"),
      "pre-add rows must read the existence default natively")
    val e2 = intercept[GraftProtocolException](
      t2.setProperty(DeltaWriteCompat.Prop, "true"))
    assert(e2.getMessage.contains("existence defaults") &&
      e2.getMessage.contains("c"), e2.getMessage)
    // OPTIMIZE rewrites through the filling scan — values materialize
    t2.optimize(targetFileBytes = 512L * 1024 * 1024)
    t2.setProperty(GraftTable.ExistenceDefaultsProp, "")
    t2.setProperty(DeltaWriteCompat.Prop, "true")
    val enableV = t2.latestVersion
    // the materialized values are IN the files now: delta readers agree
    val live = GraftTable.forPath(spark, dir2).snapshot.files.map(_.path)
    val raw = spark.read.parquet(live.map(p => s"$dir2/$p"): _*)
    assert(raw.columns.contains("c") &&
      raw.select("c").collect().forall(_.getString(0) == "x"),
      "post-OPTIMIZE files must carry the materialized default")
    // the pre-compat prefix legally stays graft-shaped (delta readers
    // seed from the compat checkpoint); the tail is delta
    t2.append(seed(2).withColumn("id", col("id") + 50)
      .withColumn("c", lit("later")))
    (enableV to t2.latestVersion).foreach(assertDeltaShaped(dir2, _))
  }

  test("DROP FEATURE under compat: the drop commit is delta-shaped, feature-free, checkpoint-protected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("dwc-dropfeat-")
    val t = GraftTable.create(spark, dir, seed(4))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("deletionVectors.enabled", "true")
    t.delete(col("id") === 1L)
    t.optimize() // purge the DV debt
    t.dropFeature("deletionVectors")
    val dropV = t.latestVersion
    assertDeltaShaped(dir, dropV)
    // the drop commit's protocol: deletionVectors gone from both sides,
    // checkpointProtection declared writer-side only
    val proto = logLines(dir, dropV).map(mapper.readTree)
      .find(_.has("protocol")).map(_.get("protocol")).get
    assert(!proto.toString.contains("deletionVectors"), proto.toString)
    assert(proto.get("writerFeatures").toString.contains("checkpointProtection"))
    assert(proto.get("readerFeatures") == null ||
      !proto.get("readerFeatures").toString.contains("checkpointProtection"))
    val metaN = logLines(dir, dropV).map(mapper.readTree)
      .find(_.has("metaData")).map(_.get("metaData")).get
    assert(metaN.get("configuration")
      .get("delta.requireCheckpointProtectionBeforeVersion").asText().toLong === dropV)
    // the continued tail stays delta-shaped and DV-free
    t.append(seed(2).withColumn("id", col("id") + 100))
    (dropV to t.latestVersion).foreach(assertDeltaShaped(dir, _))
    assert(t.snapshot.files.forall(_.dvPath.isEmpty))
    // the SQL spelling drives the same flow
    graft.sources.GraftCatalog.register(spark, tmpDir("dwc-dropfeat-wh-"),
      name = "dfc")
    val dir2 = tmpDir("dwc-dropfeat2-")
    val t2 = GraftTable.create(spark, dir2, seed(3))
    t2.setProperty("changeDataFeed.enabled", "true")
    val r = spark.sql(
      s"CALL dfc.system.drop_feature(table => '$dir2', feature => 'changeDataFeed')")
      .head()
    assert(r.getString(0) === "changeDataFeed")
    val s2 = GraftTable.forPath(spark, dir2).snapshot
    assert(!s2.protocol.writerFeatures.contains("changeDataFeed") &&
      !s2.metaData.properties.contains("changeDataFeed.enabled"))
  }

  test("clustering.columns emits the delta.clustering domain and rides the checkpoint") {
    import spark.implicits._
    val dir = tmpDir("dwc-clu-")
    val t = GraftTable.create(spark, dir,
      seed(4).withColumn("ts", expr("timestamp_seconds(1700000000 + id)")))
    t.setProperty(DeltaWriteCompat.Prop, "true")
    t.setProperty("columnMapping.mode", "name")
    t.renameColumn("s", "label")
    t.setProperty("clustering.columns", "label,id")
    // the domain line rides the enabling commit — spelled with PHYSICAL
    // names (delta-spark's convention for the clustering domain)
    val domN = logLines(dir, t.latestVersion).map(mapper.readTree)
      .find(n => n.has("domainMetadata") &&
        n.get("domainMetadata").get("domain").asText() == "delta.clustering")
      .map(_.get("domainMetadata"))
    assert(domN.isDefined, "the clustering domain must ride the commit")
    val cluConf = mapper.readTree(domN.get.get("configuration").asText())
    val cols = (0 until cluConf.get("clusteringColumns").size()).map(i =>
      cluConf.get("clusteringColumns").get(i).get(0).asText())
    assert(cols === Seq("s", "id"),
      s"the domain must spell PHYSICAL names (label's footer name is s): $cols")
    // the protocol declares clustering + domainMetadata (writer features)
    val protoN = (t.latestVersion to 1L by -1L).iterator
      .flatMap(v => logLines(dir, v)).filter(_.contains("\"protocol\""))
      .map(mapper.readTree(_).get("protocol")).next()
    assert(protoN.get("writerFeatures").toString.contains("\"clustering\""))
    assert(protoN.get("writerFeatures").toString.contains("domainMetadata"))
    // the compat checkpoint re-serializes the domain (a delta reader
    // seeding from it must see the clustering advice)
    t.log.writeCheckpoint(t.latestVersion)
    val cp = Paths.get(dir, "_delta_log",
      f"${t.latestVersion}%020d.checkpoint.parquet")
    assert(Files.exists(cp))
    val domRows = spark.read.parquet(cp.toString)
      .select("domainMetadata.domain", "domainMetadata.configuration")
      .collect().filter(r => !r.isNullAt(0) && r.getString(0) == "delta.clustering")
    assert(domRows.length === 1)
    assert(domRows.head.getString(1).contains("\"s\""))
  }
}
