package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession]], with one set of
  * settings: the mains, the benchmark's board and the suite all run
  * queries under the same conf.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  test("local(4) pins master, the four spark.sql settings and the UI") {
    assert(GraftSession.conf(4) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"))
    // the suite's own session is that session
    assert(spark.sparkContext.master == "local[4]")
    GraftSession.conf(4).foreach { case (k, v) =>
      if (k.startsWith("spark.sql.")) assert(spark.conf.get(k) == v, k)
    }
  }

  /** Source files under src/main and src/test, relative to the build root. */
  private def sources(): Seq[Path] =
    Seq("src/main", "src/test").flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }

  private def filesMatching(pattern: String): Map[String, Int] =
    sources().flatMap { p =>
      val n = pattern.r.findAllMatchIn(Files.readString(p)).size
      if (n > 0) Some(p.toString -> n) else None
    }.toMap

  private val session = "src/main/scala/graft/GraftSession.scala"

  // the patterns are split so that this file does not match them
  test("only GraftSession builds a session, in two places") {
    assert(sources().size > 100, "source tree not found from the working directory")
    assert(filesMatching("""SparkSession\s*""" + """\.\s*builder""") ==
      Map(session -> 2))
  }

  test("only GraftSession reads the core-count variable") {
    assert(filesMatching("\"SPARK_GRAFT_" + "CPUS\"") == Map(session -> 1))
  }
}
