package graft.gates

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registered gates and their oracle texts are the ones the
  * committed manifest names ([[GateManifest]]): a change to either
  * must be deliberate, with the manifest regenerated in the same
  * change.
  */
class GateManifestSpec extends AnyFunSuite {

  test("every gate's oracle text matches the committed manifest") {
    val want = GateManifest.parse(
      new String(getClass.getResourceAsStream("/gates.tsv").readAllBytes(), "UTF-8"))
    val got = GateManifest.of(SparkEntry.oracleSql)
    val added = got.keySet.diff(want.keySet).toSeq.sorted
    val missing = want.keySet.diff(got.keySet).toSeq.sorted
    val changed = got.keySet.intersect(want.keySet).filter(n => got(n) != want(n)).toSeq.sorted
    assert(added.isEmpty && missing.isEmpty && changed.isEmpty,
      s"added: ${added.mkString(", ")}; missing: ${missing.mkString(", ")}; " +
        s"changed: ${changed.mkString(", ")}")
  }
}
