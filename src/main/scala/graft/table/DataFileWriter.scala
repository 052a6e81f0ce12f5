package graft.table

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

/** The one writer of table parquet files: data files and `_cdc/` sidecars,
  * for batch jobs, the SQL row-level rewrite and the streaming sink alike
  * (deletion vectors are Delta `.bin` files, written on the driver by
  * [[DeltaDeletionVectors.writeDvFile]]).
  *
  * Each task writes its files at their final names under the table root,
  * `<dir>/<partition dirs>/<kind>-<writeId>-<uuid>.parquet`, and returns
  * them with the stats of their own footers. Nothing is staged, renamed or
  * re-read on the driver: a file is invisible until the log commit that
  * adds it lands, so the commit is the only publish (Delta Lake's rule).
  *
  * Encoding is Spark's own (`ParquetWriteSupport`), configured once per
  * write on the driver: the session's Hadoop conf with the write options,
  * through `ParquetFileFormat.prepareWrite` like a batch `df.write.parquet`,
  * plus INT64 TIMESTAMP_MICROS timestamps. INT96 (Spark's default) is
  * deprecated and carries no footer min/max, so a time-range predicate
  * could never data-skip. The target carries only the entries of that
  * conf that differ from [[FileOps.baseConf]] (a few dozen: parquet keys,
  * bloom options, session overrides), and each task rebuilds the conf
  * from `baseConf` plus those entries. No conf is broadcast: a broadcast
  * per write cost more than the small writes it configured. Files go
  * through `java.nio` (parquet's `LocalOutputFile`), not a Hadoop
  * FileSystem: no `.crc` siblings and no permission calls per create.
  *
  * Partition dirs are spelled as Spark's file writer spells them: each
  * value cast to string in the session time zone, Hive-escaped, with null
  * and "" as `__HIVE_DEFAULT_PARTITION__`. A file is opened on the first
  * row it receives, so no write ever leaves a zero-row file. */
object DataFileWriter {

  /** One written file: table-relative path plus what its AddFile records. */
  final case class Written(path: String, size: Long, modificationTime: Long, rows: Long,
      mins: Map[String, String], maxs: Map[String, String], nulls: Map[String, Long],
      partitionValues: Map[String, String]) {
    def add: AddFile = AddFile(path, size, modificationTime, rows, mins, maxs,
      partitionValues, nullCounts = nulls)
  }

  /** Where one write's files go and how they are encoded. `partitionDirs`
    * false keeps a partitioned write's files flat in `dir` (their values
    * ride only on the returned [[Written]]). `conf` holds the write conf's
    * entries that differ from [[FileOps.baseConf]]. */
  final case class Target(root: String, dir: String, kind: String, writeId: String,
      partitionDirs: Boolean, fileSchema: StructType, conf: Map[String, String]) {
    private[DataFileWriter] def prefix: String = s"$kind-$writeId-"

    /** The write's Hadoop conf, rebuilt on the task side. */
    def hadoopConf: Configuration = {
      val c = new Configuration(FileOps.baseConf)
      conf.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  /** A new write's target: its Hadoop conf built once on the driver and
    * kept as its difference from [[FileOps.baseConf]]. */
  def target(spark: SparkSession, root: String, fileSchema: StructType,
      kind: String = "part", dir: String = "", partitionDirs: Boolean = true,
      options: Map[String, String] = Map.empty): Target = {
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    new ParquetFileFormat().prepareWrite(spark, job, options, fileSchema)
    val conf = job.getConfiguration
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    val base = FileOps.baseConf
    val diff = conf.iterator().asScala.collect {
      case e if base.getRaw(e.getKey) != e.getValue => e.getKey -> e.getValue
    }.toMap
    Target(root, dir, kind, UUID.randomUUID().toString, partitionDirs, fileSchema, diff)
  }

  /** Deletes every file that carries `t`'s writeId: the cleanup of a failed
    * write (those files were never committed, so never visible). */
  def deleteWrite(t: Target): Unit = {
    val top = Paths.get(t.root, t.dir)
    if (Files.isDirectory(top)) {
      val st = Files.walk(top)
      val mine =
        try st.iterator().asScala.filter(_.getFileName.toString.startsWith(t.prefix)).toList
        finally st.close()
      mine.foreach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
    }
  }

  /** Writes `df` as one Spark job (one SQL execution) and returns its files.
    * `partitionCols` move out of the files into Hive-style dirs (or, with
    * `partitionDirs` false, onto the returned files only); each task sorts
    * its rows by them and rolls to the next file when the values change,
    * so a task holds one open file. If the job fails, the write's files
    * are deleted before the failure propagates. */
  def write(df: DataFrame, root: String, kind: String = "part", dir: String = "",
      partitionCols: Seq[String] = Nil, partitionDirs: Boolean = true,
      options: Map[String, String] = Map.empty): Seq[Written] = {
    val spark = df.sparkSession
    val in =
      if (partitionCols.isEmpty) df
      else df.sortWithinPartitions(
        partitionCols.map(c => df.col(s"`${c.replace("`", "``")}`")): _*)
    val schema = in.schema
    val partIdx = partitionCols.map(schema.fieldIndex)
    val dataIdx = schema.indices.filterNot(partIdx.contains).toArray
    val t = target(spark, root, StructType(dataIdx.map(schema(_))), kind, dir,
      partitionDirs, options)
    val keys = partitionCols.zip(partIdx).map { case (c, i) =>
      c -> (BoundReference(i, schema(i).dataType, nullable = true): Expression) }
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val qe = in.queryExecution
    try SQLExecution.withNewExecutionId(qe, Some(s"graft write $kind")) {
      qe.toRdd.mapPartitions { rows =>
        val files = new TaskFiles(t, keys, tz, oneOpen = true)
        val view =
          if (keys.isEmpty) null else new graft.streaming.RemappedRow(dataIdx, t.fileSchema)
        try {
          rows.foreach(r => files.write(r, if (view == null) r else view.set(r)))
          Iterator(files.commit())
        } catch { case e: Throwable => files.abort(); throw e }
      }.collect().toSeq.flatten
    } catch { case e: Throwable => deleteWrite(t); throw e }
  }

  /** The files one task writes for target `t`. `keys` compute a row's
    * partition values (name → expression over the incoming row); with
    * `oneOpen` a change of values closes the current file (input sorted by
    * them), otherwise a file per distinct values stays open to the end. */
  final class TaskFiles(t: Target, keys: Seq[(String, Expression)], tz: String,
      oneOpen: Boolean) {
    private val conf = t.hadoopConf
    private val keyOf = if (keys.isEmpty) null else UnsafeProjection.create(keys.map(_._2))
    private lazy val spell = keys.zipWithIndex.map { case ((name, e), i) =>
      name -> Cast(BoundReference(i, e.dataType, nullable = true), StringType, Some(tz)) }
    private val open = mutable.LinkedHashMap[InternalRow, OpenFile]()
    private val done = mutable.ArrayBuffer[Written]()
    private var last: OpenFile = _
    private var lastKey: InternalRow = _

    def write(row: InternalRow, data: InternalRow): Unit = {
      val k = if (keyOf == null) InternalRow.empty else keyOf(row)
      if (last == null || k != lastKey) {
        if (oneOpen && last != null) done += close(open.remove(lastKey).get)
        lastKey = k.copy()
        last = open.getOrElseUpdate(lastKey, openFile(lastKey))
      }
      last.writer.write(data)
    }

    /** Closes every open file; the task's files with their footer stats. */
    def commit(): Seq[Written] = {
      open.values.foreach(f => done += close(f))
      open.clear(); last = null
      done.toSeq
    }

    /** Closes and deletes every file this task created. */
    def abort(): Unit = {
      open.values.foreach { f =>
        try f.writer.close() catch { case _: Exception => () }
        Files.deleteIfExists(Paths.get(t.root, f.rel))
      }
      done.foreach(w => Files.deleteIfExists(Paths.get(t.root, w.path)))
      open.clear(); done.clear(); last = null
    }

    private final class OpenFile(val rel: String, val values: Map[String, String],
        val writer: ParquetWriter[InternalRow])

    private def openFile(key: InternalRow): OpenFile = {
      val values = spell.map { case (name, e) =>
        val v = e.eval(key)
        name -> (if (v == null || v.toString.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
                 else v.toString)
      }
      val dirs =
        if (!t.partitionDirs) Nil
        else values.map { case (k, v) => ExternalCatalogUtils.getPartitionPathString(k, v) }
      val rel = (Seq(t.dir).filter(_.nonEmpty) ++ dirs :+
        s"${t.prefix}${UUID.randomUUID()}.parquet").mkString("/")
      val abs = Paths.get(t.root, rel)
      Files.createDirectories(abs.getParent)
      new OpenFile(rel, values.toMap, builder(abs).build())
    }

    /** Parquet properties as `ParquetOutputFormat` reads them from the conf,
      * bloom filters per file column (`parquet.bloom.filter.*#<column>`). */
    private def builder(abs: Path): RowWriterBuilder = {
      var b = new RowWriterBuilder(new LocalOutputFile(abs))
        .withConf(conf)
        .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
        .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
        .withPageSize(ParquetOutputFormat.getPageSize(conf))
        .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
        .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
        .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
        .withValidation(ParquetOutputFormat.getValidation(conf))
      t.fileSchema.fieldNames.foreach { c =>
        if (conf.getBoolean(s"${ParquetOutputFormat.BLOOM_FILTER_ENABLED}#$c", false))
          b = b.withBloomFilterEnabled(c, true)
        Option(conf.get(s"${ParquetOutputFormat.BLOOM_FILTER_EXPECTED_NDV}#$c"))
          .foreach(n => b = b.withBloomFilterNDV(c, n.toLong))
      }
      b
    }

    private def close(f: OpenFile): Written = {
      f.writer.close()
      val abs = Paths.get(t.root, f.rel)
      val attrs = Files.readAttributes(abs, classOf[BasicFileAttributes])
      val (rows, mins, maxs, nulls) = FileOps.footerStats(new LocalInputFile(abs), conf)
      Written(f.rel, attrs.size, attrs.lastModifiedTime.toMillis, rows, mins, maxs, nulls,
        f.values)
    }
  }

  /** parquet-mr's writer over Spark's `ParquetWriteSupport`: InternalRows go
    * straight into the column writers, as in a batch `df.write.parquet`. */
  private final class RowWriterBuilder(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] = new ParquetWriteSupport
    override def self(): RowWriterBuilder = this
  }
}
