package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The repeated-block rule: a window of 8 consecutive code lines
  * (trimmed; blank and comment lines skipped) holding at least 200
  * characters, written twice anywhere across the scanned files, is one
  * repeated window. `apply` returns each such window's "file:line"
  * sites.
  */
object RepeatedBlocks {

  def apply(files: Seq[File]): Seq[Seq[String]] = {
    val windows = for {
      f <- files.sortBy(_.getName)
      code = new String(Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toVector.zipWithIndex.map { case (l, i) => (l.trim, i + 1) }
        .filter { case (l, _) => l.nonEmpty &&
          !Seq("//", "*", "/*").exists(l.startsWith) }
      j <- 0 to code.size - 8
      w = code.slice(j, j + 8)
      if w.map(_._1.length).sum >= 200
    } yield w.map(_._1) -> s"${f.getName}:${w.head._2}"
    windows.groupBy(_._1).values.map(_.map(_._2))
      .filter(_.size >= 2).toSeq.sortBy(_.head)
  }
}

/** Media decode and fixture authoring, the bitmap aggregates and the
  * versioned fixture directories hold each block once.
  */
class RepeatedBlocksSpec extends AnyFunSuite {

  test("media, bitmap and fixture-directory code holds no repeated block") {
    val files = Seq("operators/Multimodal.scala", "operators/MediaFixtures.scala",
      "expressions/BitmapAgg.scala", "refstar/Fixtures.scala",
      "sources/Jsonl.scala", "sources/Orc.scala", "Fixture.scala")
      .map(p => new File(s"src/main/scala/graft/$p"))
    assert(files.forall(_.isFile), s"run from the repo root: $files")
    val repeated = RepeatedBlocks(files)
    assert(repeated.isEmpty,
      s"${repeated.size} repeated windows: ${repeated.take(5).mkString("; ")}")
  }
}
