package graft

/** Test helper: age a directory tree so a versioned-root vacuum judges
  * it stale debris (its newest file older than the orphan grace). */
object TreeAge {
  val PastGraceMs: Long = graft.store.VersionedRoot.OrphanGraceMs + 3600000L

  /** Set the mtime of `dir` and of everything under it past the grace. */
  def backdate(dir: String): Unit = {
    val t = System.currentTimeMillis() - PastGraceMs
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.forEach(p => p.toFile.setLastModified(t): Unit) finally s.close()
  }
}
