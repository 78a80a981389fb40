package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry: every registered query name, and which of them
  * carry a DuckDB oracle, against the checked-in list in
  * `src/test/resources/registry.txt` (one `name oracle|none` line per
  * query, sorted by name). A change that drops, renames or adds a
  * query, or loses an oracle, fails here and must update the list on
  * purpose. Regenerate the list with `Test/runMain graft.RegistrySpec`. */
class RegistrySpec extends AnyFunSuite {

  test("the registered query names and their oracles match the checked-in list") {
    val src = scala.io.Source.fromResource("registry.txt")
    val pinned = try src.getLines().map(_.trim).filter(_.nonEmpty).toSeq finally src.close()
    val actual = RegistrySpec.lines
    assert(pinned.size === 188, "the pinned list holds the 188 registered queries")
    assert(actual === pinned,
      s"registry drifted — missing: ${pinned.diff(actual)}; unexpected: ${actual.diff(pinned)}")
  }
}

object RegistrySpec {
  def lines: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.map { n =>
    s"$n ${if (SparkEntry.oracleSql.contains(n)) "oracle" else "none"}"
  }

  def main(args: Array[String]): Unit = lines.foreach(println)
}
