package graft.gates

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry's assembly: names are unique, oracles are built
  * lazily, and every registered name is written down exactly once.
  */
class GateSpec extends AnyFunSuite {

  private def stub(name: String): Gate =
    Gate(name, (_, _) => throw new UnsupportedOperationException, "SELECT 1")

  test("a name registered twice is rejected, and the error names it") {
    val e = intercept[IllegalArgumentException](Gate.byName(
      Seq(stub("q1"), stub("s_orc_roundtrip"), stub("t_mad"), stub("s_orc_roundtrip"))))
    assert(e.getMessage.contains("s_orc_roundtrip"), e.getMessage)
    assert(!e.getMessage.contains("q1") && !e.getMessage.contains("t_mad"), e.getMessage)
    assert(Gate.byName(Seq(stub("q1"), stub("t_mad"))).keySet == Set("q1", "t_mad"))
  }

  test("an oracle is built on its first read, and only once") {
    var builds = 0
    val g = Gate("x", (_, _) => throw new UnsupportedOperationException,
      { builds += 1; "SELECT 1" })
    assert(builds == 0)
    assert(g.oracle == "SELECT 1" && g.oracle == "SELECT 1")
    assert(builds == 1)
  }

  test("every registered name is one Gate literal in the sources") {
    val dir = Paths.get("src/main/scala/graft/gates")
    val files = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val literals = files.flatMap(p =>
      """Gate\("([a-z0-9_]+)",""".r.findAllMatchIn(Files.readString(p)).map(_.group(1)))
    assert(literals.size == 382, literals.size)
    assert(literals.sorted == SparkEntry.queries.keys.toSeq.sorted)
  }
}
