package graft

import graft.sources.{Refs, Snapshots}

/** Branch/tag refs over the snapshot log: branch isolation, immutable
  * tags, fast-forward merge, and vacuum protection for pinned
  * versions.
  */
class RefsSpec extends SparkSpec {

  private def freshTable(): String =
    Fixture.dir("graft-refs")

  private def names(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("name").collect().map(_.getString(0)).toSet

  test("branch commits are isolated from main; fast-forward adopts them") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("id", "name")) // v0
    Refs.branch(spark, dir, "main")
    Refs.branch(spark, dir, "dev")
    // two commits to dev: append b, append c — each carries from the
    // DEV head, so the branch accumulates
    Refs.commitTo(spark, dir, "dev", Seq((2L, "b")).toDF("id", "name"), "append")
    Refs.commitTo(spark, dir, "dev", Seq((3L, "c")).toDF("id", "name"), "append")
    assert(names(Refs.read(spark, dir, "dev")) == Set("a", "b", "c"))
    assert(names(Refs.read(spark, dir, "main")) == Set("a"),
      "main must not see branch commits")
    // merge = fast-forward main onto dev's head
    Refs.fastForward(spark, dir, "main", "dev")
    assert(names(Refs.read(spark, dir, "main")) == Set("a", "b", "c"))
  }

  test("a concurrent main commit after branching does not leak into the " +
    "branch, and branch commits carry the branch head, not global latest") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("id", "name")) // v0
    Refs.branch(spark, dir, "main")
    Refs.branch(spark, dir, "dev") // both at v0
    Refs.commitTo(spark, dir, "main", Seq((9L, "m")).toDF("id", "name"), "append")
    Refs.commitTo(spark, dir, "dev", Seq((2L, "d")).toDF("id", "name"), "append")
    assert(names(Refs.read(spark, dir, "main")) == Set("a", "m"))
    assert(names(Refs.read(spark, dir, "dev")) == Set("a", "d"),
      "dev must carry from ITS head (v0), not main's commit")
  }

  test("tags are immutable and duplicate ref names are refused") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    Refs.tag(spark, dir, "release-1")
    intercept[Exception](Refs.tag(spark, dir, "release-1"))
    intercept[Exception](
      Refs.commitTo(spark, dir, "release-1", Seq((2L, "b")).toDF("id", "name")))
    intercept[Exception](Refs.fastForward(spark, dir, "release-1", "release-1"))
    assert(Refs.resolve(spark, dir, "release-1") == 0)
  }

  test("vacuum never deletes a version a ref pins; dropping the ref " +
    "releases it") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("id", "name")) // v0
    Refs.tag(spark, dir, "pin-v0")
    (2 to 6).foreach(i =>
      Snapshots.commit(spark, dir, Seq((i.toLong, s"x$i")).toDF("id", "name")))
    Snapshots.vacuum(spark, dir, keepLast = 2)
    // v0 survives the keepLast=2 horizon because the tag pins it
    assert(names(Snapshots.read(spark, dir, Some(0))) == Set("a"))
    assert(Refs.all(spark, dir) == Map("pin-v0" -> 0))
    Refs.drop(spark, dir, "pin-v0")
    Snapshots.vacuum(spark, dir, keepLast = 2)
    assert(!Snapshots.versions(spark, dir).contains(0),
      "unpinned old version must vacuum away")
  }
}
