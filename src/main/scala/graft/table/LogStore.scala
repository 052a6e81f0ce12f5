package graft.table

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Storage seam for the commit log — the shape of public Delta's
  * `io.delta.storage.LogStore`: every read, existence probe, listing and,
  * critically, every PUBLISH the log performs goes through this trait, so
  * porting the table format to a new storage system means implementing
  * ONE small interface instead of auditing the commit protocol.
  *
  * The contract an implementation MUST honor:
  *
  *  1. **Mutual-exclusion publish** — `publishIfAbsent(src, dst)` makes
  *     the fully-written `src` visible at `dst` and throws
  *     `FileAlreadyExistsException` when `dst` already exists. Of N
  *     concurrent publishers of the same `dst`, EXACTLY ONE succeeds, and
  *     no reader may ever observe a partial `dst` (publish is
  *     all-or-nothing, never a create-then-fill). This putIfAbsent is the
  *     primitive optimistic concurrency rests on: version N's commit file
  *     is the lock.
  *  2. **Read-after-publish visibility** — once a publish returns,
  *     subsequent `exists`/`readLines`/`list` calls (from any process)
  *     see it. A store with delayed LIST visibility must compensate
  *     (Delta's S3 single-writer LogStore keeps a recent-writes cache).
  *  3. `publishOverwrite` need only be atomic (readers see the old or the
  *     new content, never torn) — it serves only ADVISORY pointers
  *     (`_last_checkpoint`, `_log_start`) whose staleness is safe by
  *     design.
  *
  * POSIX and HDFS-class filesystems satisfy (1) natively — O_EXCL create
  * or hard-link CAS ([[PosixLogStore]] below). S3-class object stores
  * have no native putIfAbsent across writers and need a shim: a
  * conditional PUT (If-None-Match), or an external mutex row — exactly
  * the S3DynamoDBLogStore arrangement public Delta documents. The commit
  * path additionally READS BACK every published commit and fails loudly
  * on a mismatch, so a store that silently violates (1) or (2) surfaces
  * as a typed concurrency error, not a corrupt table (LogStoreSpec).
  *
  * Parquet checkpoint payloads are written to tmp paths by
  * [[CheckpointCodec]] directly (bulk data-plane IO, same as Delta) —
  * only their PUBLISH rides this seam, which is where atomicity lives.
  */
/** A LogStore broke its publish contract (lost visibility, non-atomic
  * publish). Still a `ConcurrentModificationException` for existing catch
  * sites, but no retry can fix it, so the commit path never retries one. */
final class LogStoreContractException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

trait LogStore {
  /** All lines of `p` (no trailing-newline entry). */
  def readLines(p: Path): Seq[String]

  /** Whole content of small pointer files. */
  def readString(p: Path): String

  /** Whole BINARY content — used by the multipart-checkpoint retry to
    * digest-compare a surviving published part against the staged bytes.
    * The default reads the local filesystem, correct wherever the log
    * paths are POSIX-readable (local, NFS, fuse-mounted stores); an
    * object-store implementation whose paths are not locally readable
    * must override this alongside its other read primitives. */
  def readBytes(p: Path): Array[Byte] = java.nio.file.Files.readAllBytes(p)

  /** Stage bytes at a private tmp path (not yet visible to readers). */
  def writeTmp(p: Path, bytes: Array[Byte]): Unit

  /** Stage newline-terminated lines at a private tmp path. The DEFAULT
    * spools to LOCAL scratch (streamed, bounded memory) and then delegates
    * the staging itself to `writeTmp` — correctness-first: a custom store
    * that only implements the required primitives still stages through
    * ITS OWN tmp path (the scratch file is working memory, never the
    * staged artifact). One full byte[] still materializes at the
    * `writeTmp` hand-off (its API is bytes) — stores that serve GB-scale
    * commit bodies should override: [[PosixLogStore]] streams straight to
    * a file handle with no buffering at all, and an object store would
    * spool the scratch file to a multipart upload. */
  def writeTmpLines(p: Path, lines: Iterator[String]): Unit = {
    val spool = java.nio.file.Files.createTempFile("graft-lines-", ".spool")
    try {
      val out = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(spool))
      try lines.foreach { l =>
        out.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.write('\n')
      } finally out.close()
      writeTmp(p, java.nio.file.Files.readAllBytes(spool))
    } finally java.nio.file.Files.deleteIfExists(spool)
  }

  /** Publish `src` at `dst`; throws
    * [[java.nio.file.FileAlreadyExistsException]] if `dst` exists.
    * `src` survives — the caller deletes it (in `finally`). */
  def publishIfAbsent(src: Path, dst: Path): Unit

  /** Atomically replace `dst` with `src` (advisory pointers only). */
  def publishOverwrite(src: Path, dst: Path): Unit

  def exists(p: Path): Boolean
  def isRegularFile(p: Path): Boolean
  def isDirectory(p: Path): Boolean

  /** Entries of `dir` matching `glob` (non-recursive). */
  def list(dir: Path, glob: String): Seq[Path]

  def deleteIfExists(p: Path): Boolean
  def mtimeMs(p: Path): Long
  def createDirectories(p: Path): Unit

  /** Whether the commit path must read back each just-published commit and
    * verify its content digest (the belt-and-suspenders check that turns a
    * contract-violating store into a typed concurrency error instead of a
    * corrupt table). Defaults to true — any external/object-store
    * implementation keeps the verification. A store whose
    * `publishIfAbsent` is a SINGLE proven-atomic filesystem primitive with
    * POSIX visibility (hard-link CAS, O_EXCL create) may override to false
    * and skip the extra read: at the 1M-AddFile commits the design
    * targets, re-reading every commit body doubles commit I/O — and on a
    * remote store it is a full extra round-trip per commit. */
  def verifyAfterPublish: Boolean = true
}

object LogStore {
  /** Conf key naming the LogStore implementation — the deployment lever
    * public Delta exposes as `spark.delta.logStore.class`. The value is a
    * fully-qualified Scala `object` or zero-arg-constructor class
    * implementing [[LogStore]]; unset/empty selects [[PosixLogStore]]. */
  val ConfKey = "spark.graft.logStore.class"

  // one instance per class name per JVM: stores are stateless seams, and
  // table caches key off the store's identity being stable
  private val instances =
    new java.util.concurrent.ConcurrentHashMap[String, LogStore]()

  /** The session-selected store. Resolution happens at TABLE LOAD
    * (`GraftTable.forPath` / catalog load / create): a misconfigured class
    * fails loudly here, never mid-commit with a half-staged tmp file. */
  def resolve(spark: org.apache.spark.sql.SparkSession): LogStore = {
    val name = spark.conf.get(ConfKey, "")
    if (name == null || name.isEmpty) PosixLogStore
    else instances.computeIfAbsent(name, instantiate)
  }

  /** Best-effort resolve when no session is reachable (static probes like
    * `GraftTable.isGraftTable`): the active session's conf if one exists,
    * else the POSIX default. */
  def resolveActive(): LogStore =
    scala.util.Try(org.apache.spark.sql.SparkSession.active).toOption
      .map(resolve).getOrElse(PosixLogStore)

  private def instantiate(name: String): LogStore =
    try {
      // a Scala `object` compiles to <name>$ with a MODULE$ singleton;
      // accept the plain name, the $-suffixed name, or a zero-arg class
      def moduleOf(cls: Class[_]): Option[LogStore] =
        scala.util.Try(cls.getField("MODULE$").get(null)
          .asInstanceOf[LogStore]).toOption
      val asObject = scala.util.Try(Class.forName(name + "$")).toOption
        .flatMap(moduleOf)
        .orElse(scala.util.Try(Class.forName(name)).toOption.flatMap(moduleOf))
      asObject.getOrElse(Class.forName(name).getDeclaredConstructor()
        .newInstance().asInstanceOf[LogStore])
    } catch {
      case e: Throwable => throw new IllegalArgumentException(
        s"$ConfKey=$name is not a loadable LogStore (need a Scala object " +
          s"or a zero-arg class implementing graft.table.LogStore): $e", e)
    }
}

/** The local-filesystem LogStore: hard-link creation is the
  * compare-and-swap (a single atomic filesystem op that fails with
  * FileAlreadyExists when another writer won — a `Files.move` without
  * REPLACE_EXISTING would be check-then-act and can silently overwrite
  * the winner under a race), ATOMIC_MOVE serves pointer replacement.
  * Correct on POSIX and HDFS-like stores; see the trait scaladoc for what
  * an object store needs instead. */
object PosixLogStore extends LogStore {
  import java.nio.charset.StandardCharsets.UTF_8

  override def readLines(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq

  override def readString(p: Path): String = Files.readString(p)

  override def writeTmp(p: Path, bytes: Array[Byte]): Unit =
    Files.write(p, bytes)

  /** Stream lines straight to the file — never materialize a GB-scale
    * commit body on the driver (the trait default buffers for stores
    * whose only staging primitive is byte-array `writeTmp`). */
  override def writeTmpLines(p: Path, lines: Iterator[String]): Unit = {
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(p))
    try lines.foreach { l =>
      out.write(l.getBytes(UTF_8))
      out.write('\n')
    } finally out.close()
  }

  override def publishIfAbsent(src: Path, dst: Path): Unit =
    Files.createLink(dst, src)

  override def publishOverwrite(src: Path, dst: Path): Unit =
    Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)

  override def exists(p: Path): Boolean = Files.exists(p)
  override def isRegularFile(p: Path): Boolean = Files.isRegularFile(p)
  override def isDirectory(p: Path): Boolean = Files.isDirectory(p)

  override def list(dir: Path, glob: String): Seq[Path] = {
    val st = Files.newDirectoryStream(dir, glob)
    try st.iterator().asScala.toSeq finally st.close()
  }

  override def deleteIfExists(p: Path): Boolean = Files.deleteIfExists(p)
  override def mtimeMs(p: Path): Long = Files.getLastModifiedTime(p).toMillis
  override def createDirectories(p: Path): Unit = { Files.createDirectories(p); () }

  /** Hard-link creation IS the atomicity proof (one kernel op, POSIX
    * read-after-publish visibility) — no second read per commit. */
  override def verifyAfterPublish: Boolean = false
}
