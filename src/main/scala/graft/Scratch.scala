package graft

import java.nio.file.{Files, Path, Paths}

/** Throwaway-scratch allocation for harness-built tables, streaming
  * checkpoints and finite-replay sinks. Prefers RAM-backed /dev/shm over
  * java.io.tmpdir: scenario builds and micro-batch commits issue many
  * small synchronous writes, and on a disk-backed /tmp those — not
  * compute — dominate under box write-back pressure. Production supplies
  * real storage URIs via config; scratch here is always throwaway, so
  * every directory handed out is deleted, with its contents, when the JVM
  * exits.
  */
object Scratch {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() => made.forEach(deleteTree)))

  def dir(prefix: String): Path = {
    val shm = Paths.get("/dev/shm")
    deletedAtExit(
      if (Files.isWritable(shm)) Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix))
  }

  /** `d`, registered to be deleted with its contents when the JVM exits. */
  def deletedAtExit(d: Path): Path = {
    made.add(d)
    d
  }

  private def deleteTree(d: Path): Unit =
    if (Files.exists(d)) {
      val walk = Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
      finally walk.close()
    }
}
