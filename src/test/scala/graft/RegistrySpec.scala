package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** Gates are filed by domain: each registry holds exactly the gate-name
  * prefixes of its domain, and no prefix is split across registries.
  * The `q` prefix is the one shared family — the four ETL-shape gates
  * live in `Etl`, every other `q` gate in `Relational` — so those four
  * are keyed by their number. Spark-free: it only reads the registries.
  */
class RegistrySpec extends AnyFunSuite {

  private val EtlKeys = Set("q27", "q31", "q32", "q67")

  private def key(gate: String): String = {
    val num = gate.takeWhile(_ != '_')
    if (EtlKeys(num)) num else gate.takeWhile(_.isLetter)
  }

  private val registries: Seq[(String, Seq[Q], Set[String])] = Seq(
    ("Relational", Relational.all, Set("q", "qa", "qf")),
    ("Etl", Etl.all, EtlKeys),
    ("RefStarQueries", RefStarQueries.all, Set("qr", "qv")),
    ("LakehouseGates", LakehouseGates.all, Set("qj")),
    ("DedupGates", DedupGates.all, Set("qd", "qe")),
    ("SearchGates", SearchGates.all, Set("qs")),
    ("TextGates", TextGates.all, Set("qt")),
    ("GraphGates", GraphGates.all, Set("qg")),
    ("CurationGates", CurationGates.all, Set("qc", "qp", "qq")),
    ("MultimodalGates", MultimodalGates.all, Set("qm")))

  test("each domain registry holds exactly its own prefixes") {
    for ((name, gates, keys) <- registries)
      assert(gates.map(q => key(q.name)).toSet == keys, name)
  }

  test("no prefix is split across registries") {
    val homes = for {
      (name, gates, _) <- registries
      k <- gates.map(q => key(q.name)).distinct
    } yield k -> name
    val split = homes.groupBy(_._1).filter(_._2.size > 1)
    assert(split.isEmpty, split)
  }

  test("allQueries is the ten registries, each gate name once") {
    val names = SparkEntry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.sorted == registries.flatMap(_._2).map(_.name).sorted)
  }
}
