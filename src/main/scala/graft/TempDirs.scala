package graft

import java.nio.file.{Files, Path}

/** Session-scoped temp directories with RELIABLE cleanup: `deleteOnExit`
  * only removes a directory inode if it is empty, so a dir that receives
  * parquet/ORC output is never reclaimed — repeated runs
  * would steadily fill /tmp. Directories created here are recursively
  * deleted by one JVM shutdown hook. */
object TempDirs {

  private val dirs = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[Path, java.lang.Boolean]())

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach(p => deleteRecursively(p))
  }, "graft-tempdir-cleanup"))

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { try Files.delete(f) catch { case _: Throwable => () } })
        finally s.close()
      }
    } catch { case _: Throwable => () }

  /** A fresh temp directory, registered for recursive delete at exit. */
  def create(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }
}
