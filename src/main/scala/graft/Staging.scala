package graft

/** Per-JVM scratch root for the write-path queries (sinks, compaction,
  * DPP fixtures, CSV quarantine, schema evolution). These queries
  * stage their own inputs by WRITING under tmpdir and reading back;
  * with a fixed shared path, two graft JVMs on one box (the dual-run
  * determinism gate, a Bench next to a Verify) can interleave one
  * JVM's `overwrite` with the other's lazy read and grade a partial
  * directory against the oracle. A UUID-per-JVM root makes every
  * staging path private to its process — the staged CONTENT is a
  * deterministic function of the fixture tables, so isolation changes
  * nothing about results, only removes the cross-process window.
  *
  * The root is removed on JVM exit (recursive, best-effort, and only
  * our own UUID dir) so repeated runs don't accrete tmp debris the
  * way the old fixed paths at least avoided by reuse.
  */
object Staging {
  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stage-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scala.util.Try(delete(p.toFile))
      ()
    }))
    p
  }

  /** Recursive, best-effort delete of `f` (absent is fine). */
  private[graft] def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }

  /** Absolute path of a named scratch area under this JVM's root. */
  def dir(name: String): String = root.resolve(name).toString

  /** [[dir]] emptied: whatever an earlier use left there is deleted, so
    * the path does not exist until the caller writes it (an append
    * sink or a streaming checkpoint re-run in the same JVM must start
    * clean). */
  def fresh(name: String): String = {
    val d = dir(name)
    delete(new java.io.File(d))
    d
  }
}
