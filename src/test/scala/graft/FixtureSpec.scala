package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Once-per-JVM gate state: the memo builds once per key, tolerates a
  * nested build, forgets failures, and the temp directories it hands
  * out live under `java.io.tmpdir` and are deleted as whole trees.
  */
class FixtureSpec extends AnyFunSuite {

  test("8 concurrent callers on one key run the build exactly once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          Fixture.once("spec_concurrent", "sf") {
            builds.incrementAndGet()
            Thread.sleep(50)
            "built"
          }
        })
      }
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet == Set("built"))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a once nested inside another key's build returns") {
    val outer = Fixture.once("spec_outer", "sf") {
      Fixture.once("spec_inner", "sf")(20) + 1
    }
    assert(outer == 21)
    assert(Fixture.once("spec_inner", "sf")(-1) == 20)
  }

  test("a build that throws is not memoised and runs again") {
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Fixture.once("spec_retry", "sf") {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(Fixture.once("spec_retry", "sf") { builds.incrementAndGet(); 7 } == 7)
    assert(Fixture.once("spec_retry", "sf") { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
  }

  test("dir hands out a fresh empty directory under java.io.tmpdir") {
    val a = new File(Fixture.dir("graft_spec_dir"))
    val b = new File(Fixture.dir("graft_spec_dir"))
    val tmp = new File(System.getProperty("java.io.tmpdir")).getCanonicalFile
    assert(a.getParentFile.getCanonicalFile == tmp)
    assert(a.isDirectory && a.list().isEmpty)
    assert(a != b)
  }

  test("deleteTree removes a populated nested tree") {
    val root = new File(Fixture.dir("graft_spec_tree"))
    val leaf = new File(root, "a/b/c")
    assert(leaf.mkdirs())
    Files.write(new File(leaf, "part-0.parquet").toPath, Array[Byte](1, 2))
    Files.write(new File(root, "a/_SUCCESS").toPath, Array.emptyByteArray)
    Fixture.deleteTree(root)
    assert(!root.exists())
    Fixture.deleteTree(root) // already gone: a no-op, not an NPE
  }

  test("versioned writes a missing or stale directory once, then stamps it") {
    val root = Fixture.dir("graft_spec_versioned")
    val marker = s"$root/VERSION"
    val writes = new AtomicInteger()
    def ensure(version: Int): Unit =
      Fixture.versioned(marker, version) { writes.incrementAndGet(); () }
    ensure(1)
    ensure(1)
    assert(writes.get == 1)
    assert(new String(Files.readAllBytes(new File(marker).toPath)) == "1")
    ensure(2)
    assert(writes.get == 2)
    intercept[IllegalStateException] {
      Fixture.versioned(marker, 3)(throw new IllegalStateException("write fails"))
    }
    assert(new String(Files.readAllBytes(new File(marker).toPath)) == "2")
  }

  test("a versioned write may bring another marker's directory up to date") {
    val root = Fixture.dir("graft_spec_versioned")
    val inner = s"$root/inner.VERSION"
    Fixture.versioned(s"$root/outer.VERSION", 1) {
      Fixture.versioned(inner, 1)(())
    }
    assert(new File(inner).isFile && new File(s"$root/outer.VERSION").isFile)
  }

  test("no default root points into one fixed checkout") {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the repo root: $main")
    // a string literal holding an absolute path to a fixtures dir
    val absoluteRoot = "\"/[^\"\\s]*/fixtures\\b".r
    val walk = Files.walk(main.toPath)
    val hits = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toFile).filter(_.getName.endsWith(".scala"))
        .filter { f =>
          absoluteRoot.findFirstIn(new String(Files.readAllBytes(f.toPath), "UTF-8")
            .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")).isDefined
        }.map(_.getName).toList
    } finally walk.close()
    assert(hits.isEmpty, s"resolve fixture roots with Fixture.checkoutDir: $hits")
  }

  test("gate code keeps no hand-rolled once-per-JVM state or temp dirs") {
    val banned = Seq("ConcurrentHashMap", "createTempDirectory",
      "addShutdownHook", "/tmp/graft_")
    val queries = new File("src/main/scala/graft/queries")
    assert(queries.isDirectory, s"run from the repo root: $queries")
    val files = queries.listFiles().filter(_.getName.endsWith(".scala")) :+
      new File("src/main/scala/graft/SparkEntry.scala")
    val hits = for {
      f <- files.toSeq
      src = new String(Files.readAllBytes(f.toPath), "UTF-8")
      b <- banned if src.contains(b)
    } yield s"${f.getName}: $b"
    assert(hits.isEmpty, s"route gate state through graft.Fixture: $hits")
  }
}
