package graft

/** PID-scoped scratch paths under java.io.tmpdir, deleted on JVM exit. */
object Scratch {

  /** Stable within the process (same name → same dir) so repeated runs
    * overwrite rather than accumulate. A SIGKILLed run's hook never
    * fires, so on first use the same-name dirs of DEAD processes are
    * reclaimed — /tmp garbage is bounded by live runs, not run history.
    * The directory itself is not created. */
  def dir(name: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val pid = ProcessHandle.current().pid()
    val f = new java.io.File(tmp, s"${name}_p$pid")
    if (registered.add(f.getAbsolutePath)) {
      val Stale = s"""${java.util.regex.Pattern.quote(name)}_p(\\d+)""".r
      Option(tmp.listFiles).foreach(_.foreach { d =>
        d.getName match {
          case Stale(p) if p.toLong != pid && {
              val h = ProcessHandle.of(p.toLong)
              !(h.isPresent && h.get.isAlive)
            } =>
            graft.sources.Landing.deleteNoFollow(d)
          case _ => ()
        }
      })
      scala.sys.addShutdownHook(graft.sources.Landing.deleteNoFollow(f))
      ()
    }
    f.getAbsolutePath
  }
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A fresh, empty directory per call, `<prefix><n>` under the one
    * `graft_work` [[dir]] of this process: for work whose output is read
    * lazily after the call returns (a stream replay's sink), so a later
    * call must not reuse it. Deleted with its parent on JVM exit, or
    * reclaimed by the next run after a kill. A name left by an earlier
    * process of the same PID is skipped. */
  def fresh(prefix: String): java.nio.file.Path = {
    import java.nio.file.{FileAlreadyExistsException, Files, Paths}
    val parent = Files.createDirectories(Paths.get(dir("graft_work")))
    Iterator.continually(parent.resolve(s"$prefix${children.incrementAndGet()}"))
      .find { d =>
        try { Files.createDirectory(d); true }
        catch { case _: FileAlreadyExistsException => false }
      }.get
  }
  private val children = new java.util.concurrent.atomic.AtomicLong()
}
