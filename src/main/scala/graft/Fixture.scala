package graft

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Once-per-JVM gate state: memoised builds and the temp directories
  * they live in.
  *
  * A gate whose operator is the SERVE over some standing state (a
  * rewritten table, an ingested index, a trained model) builds that
  * state here once per (name, sf dir), so later invocations — bench
  * passes 2..n, a second Verify gate reading the same state — time
  * only the serve. Directories come from `java.io.tmpdir`, are unique
  * per process, and one shutdown hook deletes them all at JVM exit.
  */
object Fixture {

  private final class Holder { var value: Option[Any] = None }

  private val holders = new ConcurrentHashMap[(String, String), Holder]()

  private val dirs = new ConcurrentLinkedQueue[File]()

  Runtime.getRuntime.addShutdownHook(
    new Thread(() => dirs.forEach(d => deleteTree(d))))

  /** `build`'s value, built at most once per (name, sfDir). Each key
    * locks its own holder, so a build may call `once` for another key;
    * a build that throws memoises nothing and runs again next call.
    */
  def once[A](name: String, sfDir: String = "")(build: => A): A = {
    val h = holders.computeIfAbsent((name, sfDir), _ => new Holder)
    h.synchronized {
      if (h.value.isEmpty) h.value = Some(build)
      h.value.get.asInstanceOf[A]
    }
  }

  /** A fresh, empty directory under `java.io.tmpdir`, deleted at exit. */
  def dir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs.add(d)
    d.toString
  }

  /** Recursive delete; `listFiles` is null when the tree vanished or an
    * IO error hit at exit, and an NPE would abort the whole hook.
    */
  private[graft] def deleteTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete(); ()
  }
}
