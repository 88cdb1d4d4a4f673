package graft

import java.nio.file.{Files, Paths}

import graft.sources.TarShards

class TarShardsSpec extends SparkSpec {

  private def entries(sizes: Seq[Int]): Seq[(String, Array[Byte])] =
    sizes.zipWithIndex.map { case (n, i) =>
      s"e$i-$n.bin" -> Array.tabulate(n)(j => ((i * 31 + j) % 251).toByte)
    }

  test("tar round-trips entries across block-padding boundaries") {
    // 0, 1, block-1, block, block+1: every padding case
    val in = entries(Seq(0, 1, 511, 512, 513, 1000))
    val tar = Files.createTempFile("graft_tar", ".tar")
    TarShards.writeTar(tar.toString, in)
    val out = TarShards.parseTar(Files.readAllBytes(tar)).toSeq
    assert(out.map(_._1) == in.map(_._1), "names in order")
    out.zip(in).foreach { case ((_, got), (_, want)) =>
      assert(java.util.Arrays.equals(got, want), "bytes survive exactly")
    }
    Files.delete(tar)
  }

  test("non-file entries are skipped, not misread as data") {
    val in = entries(Seq(100, 200))
    val tar = Files.createTempFile("graft_tar", ".tar")
    TarShards.writeTar(tar.toString, in)
    val bytes = Files.readAllBytes(tar)
    bytes(156) = '5' // first header's typeflag: directory
    val out = TarShards.parseTar(bytes).toSeq
    assert(out.map(_._1) == Seq(in(1)._1),
      "the directory entry must be skipped and scanning must continue")
    Files.delete(tar)
  }

  test("corpus export replays the seeded order shard-major") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val shuffled = graft.operators.Curation.deterministicShuffle(
        docs.select("doc_id", "text"), "doc_id", seed = 9L)
      .select(col("pos"),
        concat(lit("doc-"), col("doc_id"), lit(".txt")).as("name"),
        col("text").cast("binary").as("content"))
    val dir = Fixture.dir("graft_corpus_tar")
    TarShards.exportCorpus(shuffled, dir, shards = 8)
    val back = TarShards.read(spark, dir)
    // shard-major, entry-order read == the seeded global order
    val inOrder = back.collect()
      .sortBy(_.getString(0)) // shard file names sort in shard order
      .map(_.getString(1)).toSeq
    // ...but collect() has no intra-shard order guarantee from Spark, so
    // re-read each tar directly: parse order IS file order
    val replay = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
      .flatMap(f => TarShards.parseTar(Files.readAllBytes(f.toPath)).map(_._1))
      .toSeq
    val want = shuffled.orderBy("pos").select("name")
      .collect().map(_.getString(0)).toSeq
    assert(replay == want, "tar stream order must equal the seeded order")
    assert(inOrder.toSet == want.toSet)
  }

  test("shard read parallelizes by shard and preserves every entry") {
    val dir = Fixture.dir("graft_tar_shards")
    val a = entries(Seq(64, 700))
    val b = entries(Seq(513)).map { case (n, c) => (s"b-$n", c) }
    TarShards.writeTar(s"$dir/shard-000.tar", a)
    TarShards.writeTar(s"$dir/shard-001.tar", b)
    Files.write(Paths.get(s"$dir/ignore.txt"), "x".getBytes) // non-tar
    val got = TarShards.read(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Array[Byte]](2).length)).toSet
    val want = (a.map(e => ("shard-000.tar", e._1, e._2.length)) ++
      b.map(e => ("shard-001.tar", e._1, e._2.length))).toSet
    assert(got == want)
  }
}
