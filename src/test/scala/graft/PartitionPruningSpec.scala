package graft

import org.apache.spark.sql.functions._

/** Partition pruning: a predicate on a partition column must prune at
  * the file-listing level (PartitionFilters in the scan), not scan
  * everything and filter — the difference between reading 1/N and N/N
  * of a 100 TB table.
  */
class PartitionPruningSpec extends SparkSpec {

  test("partition column predicate prunes the scan") {
    val dir = new java.io.File(Fixture.dir("graft-part"))
    val events = Tables(spark, sfDir, "events")
    events.write.partitionBy("event_type").mode("overwrite")
      .parquet(dir.getAbsolutePath)

    val clicks = spark.read.parquet(dir.getAbsolutePath)
      .filter(col("event_type") === "click")
    clicks.collect()
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("(event_type"), plan.take(1500))
    assert(clicks.count() ==
      events.filter(col("event_type") === "click").count())
  }

  test("a dim-side filter prunes fact partitions dynamically (DPP)") {
    import spark.implicits._
    // fact partitioned on the join key; the selective filter lives on
    // the (broadcast) dim side only — static pruning can't see it, so
    // the scan must carry a dynamicpruning subquery that waits for the
    // dim's build side. At 100 TB this is how a star join reads one
    // partition instead of the full fact history.
    val root = Fixture.dir("graft-dpp")
    val dir = new java.io.File(root, "fact")
    Tables(spark, sfDir, "events")
      .write.partitionBy("event_type").mode("overwrite")
      .parquet(dir.getAbsolutePath)
    // the dim must be a file-based scan: a local Seq would constant-fold
    // the filter into a LocalRelation and DPP's selective-predicate
    // detection would see no filter at all
    Seq(("click", "hot"), ("view", "cold"), ("purchase", "cold"))
      .toDF("et", "tier")
      .write.mode("overwrite").parquet(s"$root/dim")
    val dim = spark.read.parquet(s"$root/dim")
    val joined = spark.read.parquet(dir.getAbsolutePath)
      .join(broadcast(dim).filter(col("tier") === "hot"),
        col("event_type") === col("et"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n${plan.take(2000)}")
  }

  test("schema evolution: a reader with mergeSchema unions old and new " +
    "file schemas; old files answer the new column as NULL") {
    import spark.implicits._
    // a 100 TB table is never rewritten when a column lands — new files
    // carry it, old files must keep answering
    val dir = Fixture.dir("graft-evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/batch=0")
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "score")
      .write.parquet(s"$dir/batch=1")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v", "score", "batch"))
    val rows = merged.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(rows == Map(1L -> -1L, 2L -> -1L, 3L -> 30L, 4L -> 40L))
  }
}
