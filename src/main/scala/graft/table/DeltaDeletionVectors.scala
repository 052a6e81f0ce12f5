package graft.table

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import org.roaringbitmap.longlong.Roaring64NavigableMap

/** graft's one deletion-vector format: the Delta protocol's per-file
  * descriptor. Every merge-on-read DML writes one
  * `deletion_vector_<uuid>.bin` with a bitmap per touched file
  * ([[writeDvFile]]), and each touched file's AddFile carries its packed
  * descriptor. `FileOps.dvBitsFor` decodes a descriptor, graft's own or
  * one a delta-spark writer left, into the file's row-index mask, so
  * every read path (snapshot, time travel, pruned splits, streaming)
  * applies both the same way, and a Delta reader applies graft's.
  * Tables written before this format may still point at a commit-scoped
  * `_dv/` parquet sidecar, which `FileOps.dvPositions` keeps reading
  * until OPTIMIZE purges it.
  *
  * Everything here follows the PUBLIC formats:
  *
  *  - Descriptor (Delta protocol, "Deletion Vector Descriptor Schema"):
  *    `storageType` `u` (relative, Z85 uuid file name) / `i` (inline,
  *    Z85 of the data) / `p` (absolute path); `pathOrInlineDv`;
  *    `offset` (position of the DV within a shared `.bin` file);
  *    `sizeInBytes` (length of the serialized bitmap data);
  *    `cardinality` (tombstone count).
  *  - On-disk layout (Delta protocol, "Deletion Vector File Storage
  *    Format"): file starts with a version byte = 1; each DV blob is
  *    `[size: int32 BIG-endian][data][crc32(data): int32 BIG-endian]`
  *    with `offset` pointing at the size field.
  *  - `data` (Delta's RoaringBitmapArray "portable" format): magic
  *    1681511377 (int32 LITTLE-endian), then RoaringBitmap's 64-bit
  *    portable serialization (`Roaring64NavigableMap.serializePortable`:
  *    bitmap count as int64 LE, then each `[key: int32 LE][32-bit
  *    roaring bitmap]`, the key carrying a row index's high 32 bits).
  *    RoaringBitmap does the container coding both ways.
  *  - Z85 (ZeroMQ base85): 5 chars → 4 bytes, the alphabet below;
  *    non-multiple-of-4 payloads are encoded padded and truncated to
  *    `sizeInBytes` on decode (delta's Base85Codec discipline).
  */
object DeltaDeletionVectors {

  /** `dvPath` marker prefix distinguishing a packed descriptor from a
    * legacy parquet sidecar path (sidecar paths are always relative file
    * paths; `#` never starts one). */
  val Marker = "#deltaDv#"

  /** Pack a parsed descriptor into the AddFile.dvPath slot. Fields are
    * tab-separated (tab cannot appear in Z85 or in a JSON string field
    * unescaped, so the encoding is unambiguous). Cardinality rides along
    * so the decode can RECONCILE: metadata-only counts subtract the
    * descriptor's cardinality while scans filter the decoded positions —
    * a disagreement between the two must fail loudly, never serve a
    * silent metadata/scan divergence. */
  def pack(storageType: String, pathOrInlineDv: String, offset: Long,
      sizeInBytes: Long, cardinality: Long): String =
    s"$Marker$storageType\t$pathOrInlineDv\t$offset\t$sizeInBytes\t$cardinality"

  def isDescriptor(dvPath: String): Boolean = dvPath.startsWith(Marker)

  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Long, sizeInBytes: Long, cardinality: Long)

  def unpack(dvPath: String): Descriptor = {
    require(isDescriptor(dvPath), s"not a delta DV marker: $dvPath")
    dvPath.stripPrefix(Marker).split('\t') match {
      case Array(st, p, off, sz, card) =>
        Descriptor(st, p, off.toLong, sz.toLong, card.toLong)
      case other => throw new GraftProtocolException(
        s"malformed delta DV marker (${other.length} fields): $dvPath")
    }
  }

  // ---- Z85 ----------------------------------------------------------------

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Decode Z85 text to exactly `outLen` bytes (encoders pad the tail
    * group; the descriptor's sizeInBytes recovers the true length). */
  def z85Decode(s: String, outLen: Int): Array[Byte] = {
    require(s.length % 5 == 0,
      s"Z85 input length ${s.length} is not a multiple of 5")
    val full = (s.length / 5) * 4
    require(outLen <= full && outLen > full - 4,
      s"Z85 output length $outLen does not fit ${s.length} chars")
    val out = new Array[Byte](full)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        if (d < 0) throw new GraftProtocolException(
          s"invalid Z85 character '$c' in delta DV descriptor")
        v = v * 85 + d
        j += 1
      }
      val o = (i / 5) * 4
      out(o) = ((v >>> 24) & 0xFF).toByte
      out(o + 1) = ((v >>> 16) & 0xFF).toByte
      out(o + 2) = ((v >>> 8) & 0xFF).toByte
      out(o + 3) = (v & 0xFF).toByte
      i += 5
    }
    if (outLen == full) out else java.util.Arrays.copyOf(out, outLen)
  }

  /** Resolve a `u`-type pathOrInlineDv to the DV file path under the
    * table root: `[randomPrefix/]deletion_vector_<uuid>.bin`, uuid being
    * the Z85-decoded trailing 20 characters. */
  def resolveRelativePath(pathOrInlineDv: String): String = {
    require(pathOrInlineDv.length >= 20,
      s"u-type DV path too short for a Z85 uuid: $pathOrInlineDv")
    val (prefix, enc) = pathOrInlineDv.splitAt(pathOrInlineDv.length - 20)
    val b = z85Decode(enc, 16)
    val bb = ByteBuffer.wrap(b)
    val uuid = new java.util.UUID(bb.getLong, bb.getLong)
    val dir = if (prefix.isEmpty) "" else s"${prefix.stripSuffix("/")}/"
    s"${dir}deletion_vector_$uuid.bin"
  }

  /** Re-anchor a packed marker under a relative directory (shallow-clone
    * path rebasing): a `u`-type marker's prefix — the directory part of
    * its resolved path — gains `dir/` in front; inline and absolute
    * markers need no rebase. */
  def rebase(packed: String, dir: String): String = {
    val d = unpack(packed)
    if (d.storageType != "u") packed
    else pack("u", s"$dir/${d.pathOrInlineDv}", d.offset, d.sizeInBytes,
      d.cardinality)
  }

  // ---- blob access ----------------------------------------------------------

  /** The serialized bitmap bytes of one descriptor. `tableRoot` anchors
    * `u`-type relative paths; CRC and declared size are verified for the
    * file-backed forms (torn/corrupt DV files must fail loudly — a
    * misdecoded DV silently resurrects or over-deletes rows). */
  def blob(tableRoot: String, d: Descriptor): Array[Byte] = d.storageType match {
    case "i" =>
      z85Decode(d.pathOrInlineDv, d.sizeInBytes.toInt)
    case "u" | "p" =>
      val p =
        if (d.storageType == "p") absoluteDvPath(d.pathOrInlineDv)
        else Paths.get(tableRoot, resolveRelativePath(d.pathOrInlineDv))
      val all = Files.readAllBytes(p)
      require(all.nonEmpty && all(0) == 1,
        s"delta DV file $p: unsupported version byte ${if (all.isEmpty) "<empty>" else all(0)}")
      val off = if (d.offset > 0) d.offset.toInt else 1
      require(off + 4 <= all.length, s"delta DV file $p: offset $off out of range")
      val bb = ByteBuffer.wrap(all).order(ByteOrder.BIG_ENDIAN)
      val size = bb.getInt(off)
      require(size == d.sizeInBytes,
        s"delta DV $p: stored size $size != descriptor sizeInBytes ${d.sizeInBytes}")
      require(off + 4 + size + 4 <= all.length,
        s"delta DV file $p: data+checksum out of range (size $size at $off)")
      val data = java.util.Arrays.copyOfRange(all, off + 4, off + 4 + size)
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val stored = bb.getInt(off + 4 + size)
      require(stored == crc.getValue.toInt,
        s"delta DV $p: checksum mismatch (stored $stored, computed ${crc.getValue.toInt})")
      data
    case other => throw new GraftProtocolException(
      s"delta DV storageType '$other' is not readable (u, i, p)")
  }

  /** A `p`-type descriptor carries an ABSOLUTE path per the Delta
    * protocol, which in real logs is a URI (`file:///...`, `s3://...`).
    * `Paths.get("file:///x")` would treat the whole string as a relative
    * path, so parse it as a URI first; scheme-less strings are plain
    * filesystem paths, `file:` URIs resolve through the filesystem, and
    * remote schemes refuse loudly — this engine has no object-store
    * client, and a silent relative-path fallback would mis-resolve. */
  private def absoluteDvPath(s: String): Path = {
    val uri = try new java.net.URI(s) catch {
      case _: java.net.URISyntaxException => return Paths.get(s)
    }
    uri.getScheme match {
      case null   => Paths.get(s)
      case "file" => Paths.get(uri)
      case scheme => throw new GraftProtocolException(
        s"delta DV absolute path '$s': scheme '$scheme' is not reachable " +
          "from this engine (local file paths only)")
    }
  }

  // ---- RoaringBitmapArray portable format -----------------------------------

  private val Magic = 1681511377

  /** All tombstoned row indexes of one serialized RoaringBitmapArray,
    * ascending. */
  def decode(data: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == Magic,
      s"delta DV data: bad magic $magic (expected $Magic) — not a portable RoaringBitmapArray")
    val n = bb.getLong
    require(n >= 0 && n <= Int.MaxValue, s"delta DV data: bitmap count $n")
    val bits = new Roaring64NavigableMap()
    bits.deserializePortable(new DataInputStream(
      new ByteArrayInputStream(data, 4, data.length - 4)))
    bits.toArray
  }

  /** The RoaringBitmapArray bytes of `bits`, its containers run-optimized
    * first (a run is the smaller spelling of a deleted range). */
  private def serialize(bits: Roaring64NavigableMap): Array[Byte] = {
    bits.runOptimize()
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(Integer.reverseBytes(Magic))
    bits.serializePortable(out)
    out.flush()
    bytes.toByteArray
  }

  /** Tombstoned positions of one packed descriptor, decoded on the
    * executor that reads the file (through [[bitsAbs]], which
    * `FileOps.dvBitsFor` calls). Reconciles the decoded
    * count against the descriptor's declared cardinality (which is what
    * metadata-only counts subtract): a mismatch — bit rot in the log line,
    * a buggy writer, inline payloads which carry no CRC — must fail
    * loudly, never split the table's COUNT(*) from its SELECT rows. */
  def positions(tableRoot: String, packed: String): Array[Long] = {
    val d = unpack(packed)
    val out = decode(blob(tableRoot, d))
    require(out.length.toLong == d.cardinality,
      s"delta DV decodes ${out.length} positions but the descriptor " +
        s"declares cardinality ${d.cardinality} — refusing the divergence")
    out
  }

  /** The table-relative STORAGE file a dvPath slot references (what
    * vacuum must retain while the version is retained, and may collect
    * once it expires): a legacy sidecar references itself; a packed
    * 'u'-type marker references its `deletion_vector_*.bin`; inline
    * markers reference nothing; 'p' markers point outside the table (not
    * vacuum's to manage). */
  def referencedFile(dvPath: String): Option[String] =
    if (!isDescriptor(dvPath)) Some(dvPath)
    else {
      val d = unpack(dvPath)
      if (d.storageType == "u") Some(resolveRelativePath(d.pathOrInlineDv))
      else None
    }

  // ---- encode ----------------------------------------------------------------

  /** Z85-encode, zero-padding the tail group (delta's Base85Codec pads on
    * encode; decoders truncate via sizeInBytes). */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else java.util.Arrays.copyOf(bytes, ((bytes.length / 4) + 1) * 4)
    val sb = new StringBuilder
    var i = 0
    while (i < padded.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (padded(i + j) & 0xFFL); j += 1 }
      val digits = new Array[Char](5)
      var k = 4
      while (k >= 0) { digits(k) = Z85Alphabet((v % 85).toInt); v /= 85; k -= 1 }
      sb.appendAll(digits)
      i += 4
    }
    sb.toString
  }

  /** Serialize + Z85-encode as an inline ('i') descriptor payload.
    * Returns (pathOrInlineDv, sizeInBytes). */
  def encodeInline(rows: Seq[Long]): (String, Int) = {
    val data = serialize(Roaring64NavigableMap.bitmapOf(rows: _*))
    (z85Encode(data), data.length)
  }

  /** Write ONE delta-format DV FILE (`deletion_vector_<uuid>.bin`:
    * version byte 1, then per entry `[size: int32 BE][data][crc32: int32
    * BE]`) holding each file's tombstone bitmap, under the table root.
    * Returns fname → packed 'u'-type descriptor (what AddFile.dvPath
    * carries; under compat DeltaShapeWriter unpacks it into the
    * descriptor JSON real delta readers consume). */
  def writeDvFile(tableRoot: String,
      perFile: Seq[(String, Roaring64NavigableMap)]): Map[String, String] = {
    val uuid = java.util.UUID.randomUUID()
    val uuidBytes = ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits)
      .putLong(uuid.getLeastSignificantBits).array()
    val enc = z85Encode(uuidBytes)
    val out = new ByteArrayOutputStream()
    out.write(1) // version byte
    var offset = 1L
    val descriptors = perFile.map { case (fname, rows) =>
      val data = serialize(rows)
      val crc = new java.util.zip.CRC32(); crc.update(data)
      val head = ByteBuffer.allocate(4) // big-endian default
      head.putInt(data.length)
      out.write(head.array()); out.write(data)
      val tail = ByteBuffer.allocate(4)
      tail.putInt(crc.getValue.toInt)
      out.write(tail.array())
      val d = fname -> pack("u", enc, offset, data.length.toLong, rows.getLongCardinality)
      offset += 4 + data.length + 4
      d
    }.toMap
    val target = Paths.get(tableRoot, s"deletion_vector_$uuid.bin")
    Files.write(target, out.toByteArray)
    descriptors
  }

  /** Absolute form carried through InputPartitions (the per-file V2 /
    * streaming readers get one opaque string per file): the table root
    * rides along NUL-separated so the executor needs no other context. */
  def packAbs(tableRoot: String, packed: String): String =
    s"$Marker$tableRoot\u0000${packed.stripPrefix(Marker)}"

  def isDescriptorAbs(dvAbs: String): Boolean =
    dvAbs.startsWith(Marker) && dvAbs.indexOf('\u0000') >= 0

  /** Tombstone BitSet of one packAbs string — the per-file skip mask
    * `FileOps.dvBitsFor` returns for a descriptor (FileOps.dvPositions is
    * its legacy-sidecar twin). */
  def bitsAbs(dvAbs: String): java.util.BitSet = {
    val body = dvAbs.stripPrefix(Marker)
    val sep = body.indexOf('\u0000')
    require(sep >= 0, s"malformed absolute delta DV marker: $dvAbs")
    val bits = new java.util.BitSet()
    positions(body.substring(0, sep), Marker + body.substring(sep + 1)).foreach { p =>
      require(p >= 0 && p <= Int.MaxValue,
        s"delta DV row index $p exceeds the per-file row range this reader supports")
      bits.set(p.toInt)
    }
    bits
  }
}
