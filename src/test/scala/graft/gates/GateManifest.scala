package graft.gates

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** The gate manifest: one `name<TAB>sha256(oracle SQL)` line per
  * registered gate, sorted by name, committed as `gates.tsv` under the
  * test resources. [[GateManifestSpec]] holds `SparkEntry.oracleSql` to
  * it, so no refactor can rename, drop or add a gate, or change an
  * oracle's text, as a side effect. After a deliberate change,
  * regenerate it with
  * {{{
  * sbt -batch "Test/runMain graft.gates.GateManifest src/test/resources/gates.tsv"
  * }}}
  */
object GateManifest {

  def sha256(text: String): String =
    MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  def of(oracles: Map[String, String]): Map[String, String] =
    oracles.map { case (name, sql) => name -> sha256(sql) }

  def render(manifest: Map[String, String]): String =
    manifest.toSeq.sorted.map { case (name, h) => s"$name\t$h\n" }.mkString

  def parse(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(name, h) = line.split('\t')
      name -> h
    }.toMap

  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), render(of(graft.SparkEntry.oracleSql)))
}
