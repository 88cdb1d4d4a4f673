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
