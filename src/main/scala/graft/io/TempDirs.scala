package graft.io

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** JVM-scoped temp-directory registry: every dir created here is
  * recursively deleted by one shutdown hook, so driver queries that
  * need scratch space (streaming fixtures, mutable-table state) never
  * leave orphans behind a long-running batch process. Deletion is
  * best-effort — a dir that is already gone (or still being written by
  * a crashed task) is skipped, not fatal.
  */
object TempDirs {

  private val dirs = new ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(deleteRecursively(_))
    }, "graft-tempdir-cleanup"))

  /** Create a fresh temp directory registered for deletion at exit. */
  def create(prefix: String): Path = {
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }

  /** Delete `root` and everything under it now, best-effort (the
    * same walk the exit hook runs), for a query that frees its scratch
    * space before it returns. */
  def deleteRecursively(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
        finally walk.close()
      }
    } catch { case _: Exception => () }
}
