package graft.util

import java.nio.file.{Files, Path}

object FileTree {

  /** Recursive best-effort delete of a directory tree (a stream's
    * checkpoint, a scratch dataset) — `Files.deleteIfExists` alone
    * silently no-ops once anything has been written into the directory.
    * Errors are swallowed: the caller is cleaning up. */
  def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(q => { Files.deleteIfExists(q); () })
        finally walk.close()
      }
    } catch { case _: Exception => () }
}
