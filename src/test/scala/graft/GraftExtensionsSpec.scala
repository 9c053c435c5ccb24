package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SQL front door registered by [[GraftExtensions]]: each
  * function resolves in pure SQL and agrees with its Column-level
  * source formulation.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  private def withExtendedSession[T](f: SparkSession => T): T =
    f(GraftSession.withExtensions(spark))

  test("rolling_hash in SQL matches the reference recurrence") {
    withExtendedSession { s =>
      val h = s.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
      assert(h === "abc".foldLeft(0L)((h, c) => (h * 31 + c) % 2147483647L))
    }
  }

  test("fingerprint in SQL matches TextFunctions.fingerprint and normalizes") {
    withExtendedSession { s =>
      val r = s.sql(
        """SELECT fingerprint('Hello  World') AS a,
          |       fingerprint(' hello world ') AS b,
          |       fingerprint('other') AS c""".stripMargin).collect().head
      assert(r.getString(0) === r.getString(1))
      assert(r.getString(0) !== r.getString(2))
      import s.implicits._
      val viaCol = Seq("Hello  World").toDF("t")
        .select(graft.text.TextFunctions.fingerprint(col("t"))).collect().head.getString(0)
      assert(r.getString(0) === viaCol)
    }
  }

  test("graft_bucket in SQL matches Sampling.bucket") {
    withExtendedSession { s =>
      import s.implicits._
      val ids = (1L to 200L).toDF("id")
      val viaSql = ids.selectExpr("id", "graft_bucket(id, 42) AS b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaScala = ids.select(col("id"),
        graft.ops.Sampling.bucket(col("id"), 42L).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaSql === viaScala)
    }
  }

  test("quality_rules struct and quality_pass agree with QualityFilters.rules") {
    withExtendedSession { s =>
      val good = ("the quick brown fox jumps over the lazy dog and that " +
        "cat has been quite happy to have seen it with all of them ") * 3
      val r = s.sql(
        s"SELECT quality_rules('$good') AS r, quality_pass('$good') AS p, " +
          "quality_pass('# # # ...') AS junk").collect().head
      val names = graft.text.QualityFilters.rules(col("x")).map(_._1)
      assert(r.getStruct(0).schema.fieldNames.toSeq === names)
      assert(r.getStruct(0).toSeq.forall(_ == true))
      assert(r.getBoolean(1) && !r.getBoolean(2))
    }
  }

  test("z_interleave in SQL matches the Column form; bits must be a literal") {
    withExtendedSession { s =>
      val z = s.sql("SELECT z_interleave(3, 0, 2) AS z").collect().head.getLong(0)
      assert(z === 5L) // 0b11 with 0b00 -> 0b0101
      val err = intercept[Exception] {
        s.sql("SELECT z_interleave(1, 2, 1 + 1)").collect()
      }
      assert(err.getMessage.contains("integer literal") ||
        Option(err.getCause).exists(_.getMessage.contains("integer literal")),
        s"got: ${err.getMessage}")
    }
  }

  test("chunk_windows in SQL matches Chunking.windowsOf; sizes must be literals") {
    withExtendedSession { s =>
      import s.implicits._
      val d = Seq("a b c d e f g", "", "one two").toDF("t")
      val viaSql = d.selectExpr("explode(chunk_windows(t, 4, 3)) AS w")
        .selectExpr("w.chunk_id", "w.start_tok", "w.n_tokens", "w.chunk_text")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .sorted.toSeq
      val viaCol = d.select(org.apache.spark.sql.functions.explode(
          graft.text.Chunking.windowsOf(col("t"), 4, 3)).as("w"))
        .select(col("w.chunk_id"), col("w.start_tok"),
          col("w.n_tokens"), col("w.chunk_text"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .sorted.toSeq
      assert(viaSql === viaCol && viaSql.nonEmpty)
      val windows = s.sql(
        """SELECT w.chunk_id, w.start_tok, w.n_tokens, w.chunk_text
          |FROM (SELECT explode(chunk_windows('a b c d e f g', 4, 3)) AS w)"""
          .stripMargin).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
      assert(windows === Seq((0, 0, 4, "a b c d"), (1, 3, 4, "d e f g"), (2, 6, 1, "g")))
      val err = intercept[Exception] {
        s.sql("SELECT chunk_windows('x', 4, 1 + 2)").collect()
      }
      assert(err.getMessage.contains("integer literal"),
        s"non-literal stride must be rejected with a named error: ${err.getMessage}")
    }
  }

  test("lang_id in SQL matches TextFunctions.langId") {
    withExtendedSession { s =>
      import s.implicits._
      val d = Seq("the of and to a in", "el la de que y en los").toDF("t")
      val viaSql = d.selectExpr("lang_id(t) AS l").collect().map(_.getString(0)).toSeq
      val viaCol = d.select(graft.text.TextFunctions.langId(col("t")))
        .collect().map(_.getString(0)).toSeq
      assert(viaSql === viaCol)
      assert(viaSql.head === "en")
    }
  }

  test("html_extract in SQL matches Html.extractText") {
    withExtendedSession { s =>
      import s.implicits._
      val d = Seq("<p>a &amp; b</p>", "plain").toDF("t")
      val viaSql = d.selectExpr("html_extract(t) AS c")
        .collect().map(_.getString(0)).toSeq
      val viaCol = d.select(graft.text.Html.extractText(col("t")))
        .collect().map(_.getString(0)).toSeq
      assert(viaSql === viaCol)
      assert(viaSql === Seq("a & b", "plain"))
    }
  }

  test("arity errors name the function") {
    withExtendedSession { s =>
      val err = intercept[Exception] { s.sql("SELECT fingerprint('a', 'b')").collect() }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
      assert(msgs(err).exists(m => m != null && m.contains("fingerprint")),
        s"got: ${msgs(err)}")
    }
  }
}
