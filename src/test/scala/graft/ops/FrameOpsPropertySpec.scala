package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Property-based FrameOps tests — the ScalaCheck port of the
  * reference's Hypothesis layer
  * (`/root/reference/tests/test_dataframe_operations.py`,
  * `tests/test_connector.py:20-40`), driven with a seeded Gen chain
  * (scalatestplus is unavailable offline).
  */
class FrameOpsPropertySpec extends AnyFunSuite with SparkSpec {

  private case class Fx(
      cols: Seq[String], rows: Seq[Seq[String]], renamed: Seq[String])

  private val fxGen: Gen[Fx] = for {
    nCols <- Gen.choose(1, 4)
    nRows <- Gen.choose(0, 6)
    cells <- Gen.listOfN(nCols * nRows,
      Gen.oneOf(Gen.alphaNumStr.map(_.take(5)), Gen.const(null: String)))
  } yield {
    val cols = (0 until nCols).map(i => s"c$i")
    val renamed = (0 until nCols).map(i => s"r$i")
    val rows = (0 until nRows).map(r => (0 until nCols).map(c => cells(r * nCols + c)))
    Fx(cols, rows, renamed)
  }

  private def mkDf(cols: Seq[String], rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 2),
      StructType(cols.map(c => StructField(c, StringType, nullable = true))))

  private def iterate[A](gen: Gen[A], n: Int)(body: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = Seed(7L)
    (1 to n).foreach { _ =>
      body(gen.pureApply(params, seed))
      seed = seed.next
    }
  }

  test("preprocess∘postprocess restores column names; output is deduped") {
    iterate(fxGen, 10) { fx =>
      val df = mkDf(fx.cols, fx.rows)
      val m = fx.cols.zip(fx.renamed).toMap
      val pre = FrameOps.preprocess(df, m)
      assert(pre.columns.toSeq.sorted == fx.renamed.sorted)
      assert(pre.count() == pre.dropDuplicates().count())
      val post = FrameOps.postprocess(pre, m)
      assert(post.columns.toSeq.sorted == fx.cols.sorted)
    }
  }

  test("getRows is a deduped projection; compare is reflexive") {
    iterate(fxGen, 10) { fx =>
      val df = mkDf(fx.cols, fx.rows)
      val sub = fx.cols.take(1 + fx.cols.size / 2)
      val rows = FrameOps.getRows(df, sub)
      assert(rows.columns.toSeq == sub)
      assert(rows.count() == df.select(sub.map(FrameOps.quoted): _*).distinct().count())
      // A7 reflexivity: any frame exactly-compares with itself
      if (fx.rows.nonEmpty) FrameOps.compareFrames(df, df, exact = true)
    }
  }

  test("mergeIds preserves row count when db keys are unique (incl. null keys)") {
    iterate(fxGen, 8) { fx =>
      val df0 = mkDf(fx.cols, fx.rows)
      val df = df0.dropDuplicates()
      val n = df.count()
      if (n > 0) {
        import org.apache.spark.sql.functions._
        val dbSide = df.withColumn("the_id",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(fx.cols.map(FrameOps.quoted): _*)))
        val merged = FrameOps.mergeIds(df, dbSide, "the_id", "t")
        assert(merged.count() == n)
        assert(merged.filter(col("the_id").isNull).count() == 0)
      }
    }
  }

  test("containsRows fails exactly when compareFrames(exact = false) does, on the same rows") {
    import org.apache.spark.sql.types._
    import graft.{CompareMissingRowsError, connector}
    val dataSchema = StructType(Seq(
      StructField("d", DoubleType), StructField("f", DoubleType),
      StructField("m", DecimalType(6, 2)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("b", BinaryType),
      StructField("s", StringType), StructField("l", LongType)))
    // the database side as a JDBC read types it: another column order,
    // an extra column, REAL, a wider DECIMAL and INT where the frame differs
    val dbSchema = StructType(Seq(
      StructField("extra", StringType), StructField("s", StringType),
      StructField("l", IntegerType), StructField("b", BinaryType),
      StructField("ts", TimestampType), StructField("dt", DateType),
      StructField("m", DecimalType(10, 4)), StructField("f", FloatType),
      StructField("d", DoubleType)))
    def dec(s: String) = new java.math.BigDecimal(s)
    val overflow = dec("123456.7890")

    def outcome(body: => Unit): String =
      try { body; "ok" } catch {
        case e: Throwable =>
          def messages(t: Throwable): Seq[String] =
            Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
          val label = "MatchDatatypesError: column `[^`]*` value '[^']*' does not cast to \\S+".r
          messages(e).flatMap(label.findFirstIn).headOption match {
            case Some(l) => l
            case None if e.isInstanceOf[CompareMissingRowsError] =>
              // rows print binary values by identity, and their order is
              // the plan's. A zero's sign is too: `except` prints 0.0 when
              // its distinct aggregate runs, but adaptive execution drops
              // that aggregate over a single row, which then keeps -0.0
              e.getMessage.split("\n").toSeq.tail
                .map(_.replaceAll("\\[B@[0-9a-f]+", "<bytes>")
                  .replaceAll("-0\\.0(?![0-9])", "0.0"))
                .sorted.mkString("\n")
            case None => throw e
          }
      }

    (1 to 40).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
      def maybe[A](v: => A): Any = if (rnd.nextInt(10) == 0) null else v
      def dataRow(): Row = Row(
        pick(null, Double.NaN, 0.0, -0.0, 1.5, -2.25),
        maybe(pick(1.5, -0.0, 0.1)),
        maybe(pick(dec("1.50"), dec("12.34"), dec("-0.01"))),
        maybe(java.sql.Date.valueOf(pick("2020-02-29", "1970-01-01"))),
        maybe(java.sql.Timestamp.valueOf(
          pick("2024-01-01 00:00:00.000001", "2024-01-01 00:00:00"))),
        maybe(pick(Array[Byte](), Array[Byte](1, 2), Array[Byte](0))),
        maybe(pick("", "a", "a ")),
        maybe(pick(1L, -3L)))
      val data = Seq.fill(rnd.nextInt(8))(dataRow())
      // most data rows reach the database side, some with a value that
      // casts to the same or to another one; plus rows of its own
      def toDb(r: Row): Row = {
        def at(i: Int)(f: Any => Any): Any = if (r.isNullAt(i)) null else f(r.get(i))
        Row(
          pick("x", null),
          r.get(6),
          at(7)(_.asInstanceOf[Long].toInt),
          at(5)(_.asInstanceOf[Array[Byte]].clone()),
          r.get(4), r.get(3),
          at(2)(_.asInstanceOf[java.math.BigDecimal].add(dec(pick("0", "0.0049", "0.005")))),
          at(1)(_.asInstanceOf[Double].toFloat),
          at(0) {
            case d: Double if d == 0.0 => pick(0.0, -0.0)
            case other => other
          })
      }
      val db = data.filter(_ => rnd.nextInt(4) != 0).map(toDb) ++
        Seq.fill(rnd.nextInt(3))(toDb(dataRow())) ++
        (if (rnd.nextInt(6) == 0) Seq(Row(null, "a", 1, null, null, null, overflow, 1.5f, 1.5))
         else Nil)

      val viaSpark = outcome(FrameOps.compareFrames(
        connector.JdbcFrames.frameOf(spark, data, dataSchema),
        FrameOps.matchTypes(connector.JdbcFrames.frameOf(spark, db, dbSchema), dataSchema),
        exact = false))
      val driver = outcome(FrameOps.containsRows(data, dataSchema, db, dbSchema))
      assert(driver == viaSpark, s"seed $seed")
    }
  }
}
