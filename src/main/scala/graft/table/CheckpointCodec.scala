package graft.table

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Parquet encoding of a checkpoint (the full folded snapshot: metaData +
  * live AddFiles + per-app txn versions + protocol) — what a text-JSON
  * checkpoint becomes once a table has enough files that parsing a JSON
  * line per file dominates log replay (Delta's checkpoints are parquet for
  * the same reason). One row per action; the hot per-file scalars (path,
  * size, numRecords, ...) are typed parquet columns read without any JSON
  * work, while the small string-map fields (stats, partition values, table
  * properties) stay JSON-encoded in binary columns. Written and read with
  * parquet-mr's public Example API — GraftLog stays free of any
  * SparkSession, so snapshot resolution works on a bare driver. */
object CheckpointCodec {

  private val mapper = new ObjectMapper()

  private val schema: MessageType = {
    def optLong(n: String) = Types.primitive(INT64, Type.Repetition.OPTIONAL).named(n)
    def optStr(n: String) = Types.primitive(BINARY, Type.Repetition.OPTIONAL)
      .as(LogicalTypeAnnotation.stringType()).named(n)
    new MessageType("graft_checkpoint",
      Types.primitive(BINARY, Type.Repetition.REQUIRED)
        .as(LogicalTypeAnnotation.stringType()).named("kind"), // meta | add | txn | protocol
      optStr("path"), optLong("size"), optLong("modificationTime"),
      optLong("numRecords"), optStr("minValues"), optStr("maxValues"),
      optStr("partitionValues"), optStr("dvPath"), optLong("dvCount"),
      optStr("metaId"), optStr("schemaString"), optLong("createdTime"),
      optStr("partitionColumns"), optStr("constraints"), optStr("properties"),
      optStr("txnAppId"), optLong("txnVersion"), optStr("protocolJson"),
      optLong("baseRowId"), optStr("nullCounts"), optStr("tags"),
      optLong("defaultRowCommitVersion"))
  }

  private def jsonMap(m: Map[String, String]): String = {
    val node = mapper.createObjectNode()
    m.foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  private def jsonSeq(s: Seq[String]): String = {
    val node = mapper.createArrayNode()
    s.foreach(node.add)
    mapper.writeValueAsString(node)
  }

  /** Minimal parser for the flat {"k":"v",...} string maps THIS codec
    * writes (jsonMap above — Jackson-escaped string values only). At 1M
    * files the checkpoint read parses 3 maps per file; a general
    * ObjectMapper tree parse there is the single hottest cost of a
    * checkpoint-seeded fold (perfbench's `LogProbe` times it as
    * `GraftLog.open`), and this parser is ~6× leaner.
    * Falls back to Jackson on anything unexpected — correctness first. */
  private def readMap(s: String): Map[String, String] = {
    try {
      val b = Map.newBuilder[String, String]
      var i = 0
      val n = s.length
      def ws(): Unit = { while (i < n && s.charAt(i) <= ' ') i += 1 }
      def fail(): Nothing = throw new IllegalArgumentException(s)
      def string(): String = {
        if (s.charAt(i) != '"') fail()
        i += 1
        val start = i
        var sb: StringBuilder = null
        while (true) {
          val c = s.charAt(i)
          if (c == '"') {
            val out = if (sb == null) s.substring(start, i) else sb.toString
            i += 1
            return out
          } else if (c == '\\') {
            if (sb == null) { sb = new StringBuilder; sb.append(s, start, i) }
            i += 1
            s.charAt(i) match {
              case '"'  => sb.append('"');  i += 1
              case '\\' => sb.append('\\'); i += 1
              case '/'  => sb.append('/');  i += 1
              case 'b'  => sb.append('\b'); i += 1
              case 'f'  => sb.append('\f'); i += 1
              case 'n'  => sb.append('\n'); i += 1
              case 'r'  => sb.append('\r'); i += 1
              case 't'  => sb.append('\t'); i += 1
              case 'u'  =>
                sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
                i += 5
              case _ => fail()
            }
          } else { if (sb != null) sb.append(c); i += 1 }
        }
        fail()
      }
      ws(); if (s.charAt(i) != '{') fail(); i += 1; ws()
      if (i < n && s.charAt(i) == '}') return b.result()
      while (true) {
        ws()
        val k = string()
        ws(); if (s.charAt(i) != ':') fail(); i += 1; ws()
        val v = string()
        b += k -> v
        ws()
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => return b.result()
          case _   => fail()
        }
      }
      b.result()
    } catch {
      case _: IllegalArgumentException | _: StringIndexOutOfBoundsException =>
        val node = mapper.readTree(s)
        node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  private def readSeq(s: String): Seq[String] =
    mapper.readTree(s).elements().asScala.map(_.asText()).toSeq

  def write(file: Path, s: Snapshot): Unit = writePart(file, Some(s), s.files)

  /** One checkpoint part: the header (protocol + metaData + txns — part 0
    * of a multipart checkpoint, or the whole of a single-file one) plus a
    * slice of the live AddFiles. Multipart checkpoints exist because a
    * single-threaded 1M-row parquet write is the measured bottleneck of
    * `writeCheckpoint` at the file count a 100 TB table actually has —
    * slices write CONCURRENTLY. */
  def writePart(file: Path, header: Option[Snapshot], files: Seq[AddFile]): Unit = {
    val factory = new SimpleGroupFactory(schema)
    // java.nio output (no Hadoop FileSystem): no `.crc` sibling is left
    // beside the tmp file once it is published under its final name
    val w: ParquetWriter[Group] =
      ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(file))
      .withType(schema).withConf(new Configuration(FileOps.baseConf))
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try {
      header.foreach { s =>
        val meta = s.metaData
        val pg = factory.newGroup()
        pg.add("kind", "protocol")
        pg.add("protocolJson", Actions.toJson(s.protocol))
        w.write(pg)
        val mg = factory.newGroup()
        mg.add("kind", "meta")
        mg.add("metaId", meta.id)
        mg.add("schemaString", meta.schemaString)
        mg.add("createdTime", meta.createdTime)
        mg.add("partitionColumns", jsonSeq(meta.partitionColumns))
        mg.add("constraints", jsonMap(meta.constraints))
        mg.add("properties", jsonMap(meta.properties))
        w.write(mg)
        s.transactions.toSeq.sortBy(_._1).foreach { case (appId, tv) =>
          val tg = factory.newGroup()
          tg.add("kind", "txn")
          tg.add("txnAppId", appId)
          tg.add("txnVersion", tv)
          w.write(tg)
        }
      }
      files.foreach { f =>
        val g = factory.newGroup()
        g.add("kind", "add")
        g.add("path", f.path)
        g.add("size", f.size)
        g.add("modificationTime", f.modificationTime)
        g.add("numRecords", f.numRecords)
        g.add("minValues", jsonMap(f.minValues))
        g.add("maxValues", jsonMap(f.maxValues))
        g.add("partitionValues", jsonMap(f.partitionValues))
        f.dvPath.foreach { p => g.add("dvPath", p); g.add("dvCount", f.dvCount) }
        f.baseRowId.foreach(b => g.add("baseRowId", b))
        if (f.nullCounts.nonEmpty)
          g.add("nullCounts", jsonMap(f.nullCounts.map { case (k, v) => k -> v.toString }))
        if (f.tags.nonEmpty) g.add("tags", jsonMap(f.tags))
        f.defaultRowCommitVersion.foreach(v => g.add("defaultRowCommitVersion", v))
        w.write(g)
      }
    } finally w.close()
  }

  /** The checkpoint schema as Spark types, for the vectorized read path.
    * Field order IS the column order the batch exposes. */
  private val sparkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("kind", StringType), StructField("path", StringType),
      StructField("size", LongType), StructField("modificationTime", LongType),
      StructField("numRecords", LongType), StructField("minValues", StringType),
      StructField("maxValues", StringType), StructField("partitionValues", StringType),
      StructField("dvPath", StringType), StructField("dvCount", LongType),
      StructField("metaId", StringType), StructField("schemaString", StringType),
      StructField("createdTime", LongType), StructField("partitionColumns", StringType),
      StructField("constraints", StringType), StructField("properties", StringType),
      StructField("txnAppId", StringType), StructField("txnVersion", LongType),
      StructField("protocolJson", StringType), StructField("baseRowId", LongType),
      StructField("nullCounts", StringType), StructField("tags", StringType),
      StructField("defaultRowCommitVersion", LongType)))
  }

  /** Read a parquet checkpoint back to the folded snapshot at `version`.
    *
    * Decodes with Spark's VECTORIZED parquet reader (column-at-a-time page
    * decode, no per-row Group materialization) — on synthetic logs the
    * row-path Group decode DOMINATED snapshot resolution at the 1M-file
    * scale a 100 TB table actually has (~800k × 128 MB files); the
    * columnar decode plus the flat-map parser above cut the
    * checkpoint-seeded snapshot to a fraction. Checkpoints
    * written before a column existed (e.g. dvPath) decode it as a null
    * vector — parquet missing-column semantics, same back-compat as the
    * old per-file-schema path. No SparkSession involved: the reader class
    * runs on a bare JVM exactly like the rest of GraftLog. */
  def read(file: Path, version: Long): Snapshot = readMulti(Seq(file), version)

  /** Assemble the snapshot from one or many checkpoint part files. Parts
    * decode CONCURRENTLY (one vectorized reader per part on a
    * [[graft.DriverPool]] thread — the same parallelism the write side
    * gets; the first part that fails fails the read), then merge:
    * exactly one part carries the header, every part contributes adds. */
  def readMulti(parts: Seq[Path], version: Long): Snapshot = {
    val decoded = graft.DriverPool.all(parts.map(p => () => readPart(p)))
    val meta = decoded.flatMap(_._1).headOption.getOrElse(
      throw new IllegalStateException(
        s"parquet checkpoint ${parts.head} lacks metaData"))
    val protocol = decoded.flatMap(_._2).headOption.getOrElse(Protocol())
    Snapshot(version, meta, decoded.flatMap(_._4),
      decoded.flatMap(_._3).toMap, protocol)
  }

  private def readPart(file: Path): (Option[MetaData], Option[Protocol],
      Seq[(String, Long)], Seq[AddFile]) = {
    val rdr = FileOps.openVectorized(file.toString, sparkSchema)
    try {
      rdr.enableReturningBatches()
      var meta: Option[MetaData] = None
      var protocol: Option[Protocol] = None
      val txns = Seq.newBuilder[(String, Long)]
      val files = Seq.newBuilder[AddFile]
      while (rdr.nextBatch()) {
        val batch = rdr.resultBatch()
        def str(c: Int, r: Int): String = batch.column(c).getUTF8String(r).toString
        def lng(c: Int, r: Int): Long =
          if (batch.column(c).isNullAt(r)) 0L else batch.column(c).getLong(r)
        var r = 0
        val n = batch.numRows()
        while (r < n) {
          str(0, r) match {
            case "add" => files += AddFile(
              str(1, r), lng(2, r), lng(3, r), lng(4, r),
              readMap(str(5, r)), readMap(str(6, r)), readMap(str(7, r)),
              if (batch.column(8).isNullAt(r)) None else Some(str(8, r)),
              lng(9, r),
              if (batch.column(19).isNullAt(r)) None else Some(batch.column(19).getLong(r)),
              if (batch.column(20).isNullAt(r)) Map.empty
              else readMap(str(20, r)).map { case (k, v) => k -> v.toLong },
              if (batch.column(21).isNullAt(r)) Map.empty else readMap(str(21, r)),
              if (batch.numCols() <= 22 || batch.column(22).isNullAt(r)) None
              else Some(batch.column(22).getLong(r)))
            case "meta" => meta = Some(MetaData(
              str(10, r), str(11, r), lng(12, r),
              readSeq(str(13, r)), readMap(str(14, r)), readMap(str(15, r))))
            case "txn" => txns += str(16, r) -> lng(17, r)
            case "protocol" => Actions.fromJson(str(18, r)) match {
              case p: Protocol => protocol = Some(p)
              case _ => ()
            }
          }
          r += 1
        }
      }
      (meta, protocol, txns.result(), files.result())
    } finally rdr.close()
  }
}
