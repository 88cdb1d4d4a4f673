package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Once-per-JVM gate state: memoised builds, the temp directories
  * they live in, and the versioned fixture directories under the
  * checkout.
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

  private val markers = new ConcurrentHashMap[String, AnyRef]()

  /** Keep the directory behind `marker` at `version`: when the marker
    * file is missing or holds another version, `write` runs and the
    * marker is stamped after it, so a write that dies midway leaves the
    * directory stale, not falsely fresh. Writes serialize per marker;
    * a write may bring another marker's directory up to date first.
    */
  def versioned(marker: String, version: Int)(write: => Unit): Unit =
    markers.computeIfAbsent(marker, _ => new Object).synchronized {
      val m = Paths.get(marker)
      if (!Files.exists(m) || new String(Files.readAllBytes(m)).trim != version.toString) {
        write
        Files.write(m, version.toString.getBytes)
      }
    }

  /** `fixtures/<name>` under the working directory: the checkout, for
    * sbt's forked tests and `run`, so each checkout keeps its own store.
    */
  def checkoutDir(name: String): String =
    Paths.get("fixtures", name).toAbsolutePath.toString

  /** A fresh, empty directory under `java.io.tmpdir`, deleted at exit. */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
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
