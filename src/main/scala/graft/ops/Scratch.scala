package graft.ops

/** Process-lifetime scratch directories for query-produced artifacts that
  * must OUTLIVE the query builder (lazily-read state tables, streaming
  * sink readbacks) but not the JVM: deletion is deferred to a single
  * shutdown hook, bounding the tmp-dir leak to process lifetime instead
  * of unbounded growth across bench/verify sweeps (each Bench sample
  * re-invokes every query builder).
  *
  * BOUNDARY — the shutdown hook runs on normal exit and SIGTERM/SIGINT,
  * but NOT on SIGKILL or a JVM crash: a killed sweep leaves its dirs
  * behind. Mitigation: every scratch dir lives under
  * `java.io.tmpdir/graft-scratch/<pid>/`, and the first [[dir]] call of a
  * new JVM best-effort reaps sibling `<pid>` roots whose process no
  * longer exists — so a kill leaks only until the next graft run (or the
  * OS tmp-dir policy), never accumulates.
  */
object Scratch {

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(pidRoot), "graft-scratch-cleanup"))
    ()
  }

  private lazy val pidRoot: java.nio.file.Path = {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-scratch")
    java.nio.file.Files.createDirectories(base)
    reapStale(base)
    val mine = base.resolve(ProcessHandle.current().pid().toString)
    java.nio.file.Files.createDirectories(mine)
    mine
  }

  /** Remove sibling pid-roots left by SIGKILLed JVMs: a numeric dir whose
    * pid is no longer alive is stale. Conservative — a live unrelated
    * process that recycled the pid keeps the dir until the pid frees up.
    */
  private def reapStale(base: java.nio.file.Path): Unit =
    try {
      val st = java.nio.file.Files.list(base)
      try st.forEach { p =>
        val pid =
          try Some(java.lang.Long.parseLong(p.getFileName.toString))
          catch { case _: NumberFormatException => None }
        pid.foreach { id =>
          if (id != ProcessHandle.current().pid() && !ProcessHandle.of(id).isPresent)
            rm(p)
        }
      } finally st.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** A fresh temp dir under the per-process scratch root, deleted (with
    * the whole root) at JVM exit. */
  def dir(prefix: String): java.nio.file.Path = {
    hookInstalled
    java.nio.file.Files.createTempDirectory(pidRoot, prefix)
  }

  /** Delete `root` and everything under it, best-effort (a path already
    * gone or not deletable is left as it is). */
  private[graft] def rm(root: java.nio.file.Path): Unit =
    try {
      val st = java.nio.file.Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
      finally st.close()
    } catch { case scala.util.control.NonFatal(_) => () }
}
