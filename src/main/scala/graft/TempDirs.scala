package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** JVM temp directories the engine creates and reclaims itself: each is
  * deleted recursively by one shared shutdown hook (`File.deleteOnExit`
  * only handles empty dirs), or earlier by [[deleteNow]] once its contents
  * are materialized elsewhere.
  *
  * Per-process roots that outlive the JVM on purpose ([[processRoot]]:
  * `graft_incr_p<pid>`, `graft_e2e_p<pid>`, `graft_s8sync_p<pid>`; the
  * DuckDB oracle reads them after the run) are never registered here. */
object TempDirs {

  private val pending = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => pending.forEach(p => delete(p))))

  /** A fresh temp directory named `prefix<random>`, deleted at JVM exit. */
  def create(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    pending.add(dir)
    dir
  }

  /** Delete `dir` now and drop it from the exit set. */
  def deleteNow(dir: Path): Unit = {
    pending.remove(dir)
    delete(dir)
  }

  /** `${java.io.tmpdir}/graft_<name>_p<pid>`, embedded in the oracle SQL
    * this process dumps: concurrent processes never race each other. */
  def processRoot(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_p${ProcessHandle.current.pid}"

  private[graft] def isPending(dir: Path): Boolean = pending.contains(dir)

  private def delete(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: Exception => () }
}
