package graft.core

/** Local-filesystem helpers of the commit protocol ([[Commit]]). */
object Fs {
  /** Delete `f` and, if it is a real directory, everything under it. A
    * symbolic link is removed itself, never followed: a collected
    * generation's links point at data the live generation still uses. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
