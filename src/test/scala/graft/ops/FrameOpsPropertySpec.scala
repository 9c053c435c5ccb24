package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.Bridge
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
    import graft.CompareMissingRowsError
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
        HeldRows.frameOf(spark, data, dataSchema),
        FrameOps.matchTypes(HeldRows.frameOf(spark, db, dbSchema), dataSchema),
        exact = false))
      val driver = outcome(FrameOps.containsRows(HeldRows.data(data, dataSchema),
        HeldRows.read(db, dbSchema)))
      assert(driver == viaSpark, s"seed $seed")
    }
  }

  /** "ok", or the failure: the MatchDatatypesError label where one is
    * in the error's chain (Spark wraps it in job-specific text),
    * else the error's class and message with byte arrays, which rows
    * print by identity, masked, and its lines sorted: the rows an error
    * reports come in the order of the plan that found them.
    */
  private def verdict(body: => Any): String =
    try { body; "ok" } catch {
      case e: Throwable =>
        def messages(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
        val label = "MatchDatatypesError: column `[^`]*` value '[^']*' does not cast to \\S+".r
        messages(e).flatMap(label.findFirstIn).headOption.getOrElse(
          e.getClass.getName + ": " + e.getMessage.replaceAll("\\[B@[0-9a-f]+", "<bytes>")
            .split("\n").sorted.mkString("\n"))
    }

  /** A frame's rows with byte arrays by content, in a fixed order. */
  private def contents(df: DataFrame): Seq[String] = rowContents(df.collect().toSeq)

  /** Rows with byte arrays by content, in a fixed order. */
  private def rowContents(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Text with each −0.0 as 0.0: rows of the caller's frame may keep
    * either sign where the driver holds 0.0.
    */
  private def unsigned(text: String): String = text.replaceAll("-0\\.0(?![0-9])", "0.0")

  private def unsigned(rows: Seq[String]): Seq[String] = rows.map(unsigned).sorted

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("the driver id guard passes exactly when mergeIds does, and mergeIdRows returns its join") {
    import org.apache.spark.sql.types._
    val dataSchema = StructType(Seq(
      StructField("d", DoubleType), StructField("m", DecimalType(6, 2)),
      StructField("b", BinaryType), StructField("l", LongType),
      StructField("i", IntegerType), StructField("s", StringType)))
    // as a JDBC read types the retrieve query: the id first, then the
    // columns in another order, a wider DECIMAL, INT for BIGINT and
    // BIGINT for INT
    val dbSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("s", StringType),
      StructField("i", LongType), StructField("l", IntegerType),
      StructField("b", BinaryType), StructField("m", DecimalType(10, 4)),
      StructField("d", DoubleType)))
    def dec(s: String) = new java.math.BigDecimal(s)

    (1 to 40).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
      def maybe[A](v: => A): Any = if (rnd.nextInt(8) == 0) null else v
      def dataRow(): Row = Row(
        maybe(pick(Double.NaN, 0.0, -0.0, 1.5)),
        maybe(pick(dec("1.50"), dec("-0.01"))),
        maybe(pick(Array[Byte](), Array[Byte](1, 2))),
        maybe(pick(1L, -3L)),
        maybe(pick(7, -7)),
        maybe(pick("a", "a ", "")))
      // the database rows for one key: one row holding the key as the
      // JDBC reader returns it, each value cast back to the same one
      // (a wider DECIMAL, ±0.0, INT for BIGINT and back), or, under
      // `fault`, a key the guard must reject: gone, twice, with a null
      // id, a DECIMAL that rounds to another value, or a string whose
      // trailing space a CHAR column's read dropped
      var nextId = 0
      def toDb(r: Row, fault: String): Seq[Row] = {
        def at(i: Int)(f: Any => Any): Any = if (r.isNullAt(i)) null else f(r.get(i))
        def row(): Row = {
          nextId += 1
          Row(
            if (fault == "null id") null else nextId,
            at(5) { case v: String => if (fault == "trimmed") v.stripTrailing() else v },
            at(4)(_.asInstanceOf[Int].toLong),
            at(3)(_.asInstanceOf[Long].toInt),
            at(2)(_.asInstanceOf[Array[Byte]].clone()),
            at(1)(_.asInstanceOf[java.math.BigDecimal].add(
              dec(if (fault == "rounds away") "0.005" else pick("0", "0.0049")))),
            at(0) {
              case d: Double if d == 0.0 => pick(0.0, -0.0)
              case other => other
            })
        }
        fault match {
          case "gone"  => Nil
          case "twice" => Seq(row(), row())
          case _       => Seq(row())
        }
      }
      // the caller's frame, deduped by Spark: −0.0 may survive the dedup
      val data = Seq.fill(1 + rnd.nextInt(6))(dataRow())
      val df = FrameOps.preprocess(HeldRows.frameOf(spark, data, dataSchema))
      val keys = df.collect().toSeq
      // one key, or none, gets a fault; plus rows of the database's own,
      // and now and then a BIGINT that does not fit an INT
      val fault = pick("none", "none", "none", "gone", "twice", "null id", "rounds away",
        "trimmed", "overflow")
      val faulty = rnd.nextInt(keys.size)
      val db = keys.zipWithIndex.flatMap { case (k, i) => toDb(k, if (i == faulty) fault else "none") } ++
        Seq.fill(rnd.nextInt(3))(dataRow()).flatMap(toDb(_, "none")) ++
        (if (fault == "overflow") Seq(Row(99, "z", 3000000000L, 1, null, null, 1.0)) else Nil)
      val allowDuplication = rnd.nextInt(3) == 0

      withAnsi(seed % 2 == 0) {
        val dbDf = HeldRows.frameOf(spark, db, dbSchema)
        var viaSparkRows = Seq.empty[String]
        val viaSpark = verdict {
          val joined = FrameOps.mergeIds(df, dbDf, "id", "t", allowDuplication)
          viaSparkRows = contents(joined)
          joined.unpersist()
        }
        // the keys as the driver holds them: normalized (−0.0 as 0.0, one NaN)
        val held = HeldRows.data(keys, dataSchema, spare = 1)
        // mergeIdRows stands for mergeIds over a frame of the rows it holds
        var heldSparkRows = Seq.empty[String]
        val heldViaSpark = verdict {
          val joined = FrameOps.mergeIds(HeldRows.frameOf(spark, HeldRows.rows(held), dataSchema),
            dbDf, "id", "t", allowDuplication)
          heldSparkRows = contents(joined)
          joined.unpersist()
        }
        var threadedRows = Seq.empty[String]
        val (driver, actions) = withActions(verdict {
          // the frame's columns are the table's: its rows are the keys
          val threaded = FrameOps.mergeIdRows(spark, held, dataSchema.names.toSeq,
            HeldRows.read(db, dbSchema), "id", "t", allowDuplication, slot = dataSchema.size)
          threadedRows = rowContents(HeldRows.rows(threaded))
        })
        assert(driver == heldViaSpark, s"seed $seed")
        assert(threadedRows == heldSparkRows, s"seed $seed")
        // the driver decides and raises alone, with no Spark action
        assert(actions.isEmpty, s"seed $seed: $actions")
        // and mergeIds over the caller's frame, before normalizing, passes
        // or fails alike, with the same rows up to the sign of a zero
        assert(unsigned(driver) == unsigned(viaSpark), s"seed $seed")
        assert(unsigned(threadedRows) == unsigned(viaSparkRows), s"seed $seed")
      }
    }
  }

  test("the driver cascade projects each step and threads its ids as the Spark chain does") {
    import org.apache.spark.sql.types._
    def dec(s: String) = new java.math.BigDecimal(s)
    val dataSchema = StructType(Seq(
      StructField("d", DoubleType), StructField("m", DecimalType(6, 2)),
      StructField("b", BinaryType), StructField("s", StringType),
      StructField("l", LongType), StructField("p", IntegerType, nullable = false)))
    // a column as a JDBC read types it: a wider DECIMAL, INT for BIGINT
    // and BIGINT for INT
    def dbType(dt: DataType): DataType = dt match {
      case LongType       => IntegerType
      case IntegerType    => LongType
      case _: DecimalType => DecimalType(10, 4)
      case other          => other
    }
    // rows as sets compare −0.0 and 0.0 alike ([[unsigned]]):
    // `dropDuplicates` keeps either sign, and AQE decides which

    (1 to 40).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
      def maybe[A](v: => A): Any = if (rnd.nextInt(8) == 0) null else v
      // a name as the session's resolver matches it: now and then in
      // upper case
      def anyCase(c: String): String = if (rnd.nextInt(3) == 0) c.toUpperCase else c
      // distinct through `p`, so no dedup runs; normalized, as the load
      // holds its rows
      val data = HeldRows.normalized((0 until 1 + rnd.nextInt(8)).map(p => Row(
        maybe(pick(Double.NaN, 0.0, -0.0, 1.5)),
        maybe(pick(dec("1.50"), dec("-0.01"))),
        maybe(pick(Array[Byte](), Array[Byte](1, 2))),
        maybe(pick("a", "a ", "")),
        maybe(pick(1L, -3L)),
        p)), dataSchema)
      // the Spark chain of the cascade as `load` ran it, and the rows the
      // driver follows it with, with a free value per step for its id
      var chain: DataFrame = HeldRows.frameOf(spark, data, dataSchema)
      var held = HeldRows.data(data, dataSchema, spare = 3)
      val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var nextId = 0
      var failed = false
      (0 until 3).foreach { step =>
        if (!failed) {
          // a step's renames, keyed by a name the resolver matches
          val renames = chain.columns.toSeq.filter(_ => rnd.nextInt(4) == 0)
            .map(c => anyCase(c) -> s"${c}_$step").toMap
          val in = chain.withColumnsRenamed(renames)
          val inHeld = held.copy(schema = FrameOps.renamed(held.schema, renames))
          assert(inHeld.schema == in.schema, s"seed $seed step $step: $renames")
          val cols = in.columns.toSeq.filter(_ => rnd.nextInt(2) == 0) match {
            case Seq() => Seq(pick(in.columns.toSeq: _*))
            case some  => some
          }
          val keyHeld = FrameOps.distinctRows(inHeld, cols)
          val (keys, keySchema) = (HeldRows.rows(keyHeld), keyHeld.schema)
          assert(unsigned(rowContents(keys)) ==
            unsigned(contents(FrameOps.getRows(in, cols))), s"seed $seed step $step")

          // the database side: each key once as the JDBC reader returns
          // it, in another column order; under allowDuplication now and
          // then twice; now and then one key the guard must reject (gone,
          // twice, a null id, a DECIMAL that rounds away, a string whose
          // trailing space a CHAR column's read dropped); and a row of the
          // database's own
          val allowDuplication = rnd.nextInt(2) == 0
          val alias = s"id$step"
          val dbSchema = StructType(StructField(alias, IntegerType) +:
            keySchema.reverse.map(f => f.copy(dataType = dbType(f.dataType), nullable = true)))
          def toDb(key: Row, fault: String): Seq[Row] = {
            def row(): Row = {
              nextId += 1
              Row.fromSeq((if (fault == "null id") null else nextId) +:
                key.toSeq.reverse.map {
                  case null                    => null
                  case l: Long                 => l.toInt
                  case i: Int                  => i.toLong
                  case m: java.math.BigDecimal =>
                    m.add(dec(if (fault == "rounds away") "0.005" else pick("0", "0.0049")))
                  case d: Double if d == 0.0   => pick(0.0, -0.0)
                  case b: Array[Byte]          => b.clone()
                  case v: String               => if (fault == "trimmed") v.stripTrailing() else v
                  case other                   => other
                })
            }
            fault match {
              case "gone"                     => Nil
              case "twice"                    => Seq(row(), row())
              case _ if allowDuplication && rnd.nextInt(3) == 0 => Seq(row(), row())
              case _                          => Seq(row())
            }
          }
          val fault = pick("none", "none", "none", "none", "gone", "twice", "null id",
            "rounds away", "trimmed")
          val faulty = rnd.nextInt(keys.size)
          val db = keys.zipWithIndex.flatMap { case (k, i) =>
            toDb(k, if (i == faulty) fault else "none")
          } ++ (if (rnd.nextInt(3) == 0) Seq(Row.fromSeq(99 +: keySchema.map(_ => null))) else Nil)
          // the table's natural columns the step drops after it, by names
          // the resolver matches, one of them now and then absent
          val natural = cols.filter(_ => rnd.nextBoolean()).map(anyCase) ++
            (if (rnd.nextInt(4) == 0) Seq("absent") else Nil)
          val replace = rnd.nextInt(3) != 0

          var sparkOut: DataFrame = null
          val viaSpark = verdict {
            val joined = FrameOps.mergeIds(in, HeldRows.frameOf(spark, db, dbSchema),
              alias, "t", allowDuplication)
            cached += joined
            val kept = if (replace) FrameOps.dropReplaced(joined, natural) else joined
            sparkOut = FrameOps.postprocess(kept, renames)
          }
          var out: FrameOps.Held = null
          val (driver, actions) = withActions(verdict {
            val joined = FrameOps.mergeIdRows(spark, inHeld, cols,
              HeldRows.read(db, dbSchema), alias, "t", allowDuplication,
              slot = dataSchema.size + step)
            val kept = if (replace) FrameOps.dropRows(joined, natural) else joined
            out = kept.copy(schema = FrameOps.postprocessed(kept.schema, renames))
          })
          assert(driver == viaSpark, s"seed $seed step $step")
          // every join is decided, and every failure raised, on the
          // driver, with no Spark action
          assert(actions.isEmpty, s"seed $seed step $step: $actions")
          if (driver != "ok") failed = true
          else {
            assert(out.schema == sparkOut.schema, s"seed $seed step $step")
            assert(rowContents(HeldRows.rows(out)) == contents(sparkOut), s"seed $seed step $step")
            chain = sparkOut
            held = out
          }
        }
      }
      assert(held.schema == chain.schema, s"seed $seed")
      assert(rowContents(HeldRows.rows(held)) == contents(chain), s"seed $seed")
      cached.foreach(_.unpersist())
    }
  }

  test("distinctRows over all columns of a collected frame is preprocess's dedup") {
    import org.apache.spark.sql.types._
    def dec(s: String) = new java.math.BigDecimal(s)
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("m", DecimalType(6, 2)), StructField("b", BinaryType),
      StructField("s", StringType), StructField("l", LongType)))
    // `dropDuplicates` groups −0.0 with 0.0 and prints either sign

    (1 to 40).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
      def maybe[A](v: => A): Any = if (rnd.nextInt(5) == 0) null else v
      def row(): Row = Row(
        maybe(pick(Double.NaN, 0.0, -0.0, 1.5)),
        maybe(pick(Float.NaN, 0.0f, -0.0f)),
        maybe(pick(dec("1.50"), dec("1.5"), dec("-0.01"))),
        maybe(pick(Array[Byte](), Array[Byte](1, 2))),
        maybe(pick("a", "a ", "")),
        maybe(pick(1L, -3L)))
      val distinct = Seq.fill(1 + rnd.nextInt(6))(row())
      // duplicate rows, some equal only as `dropDuplicates` keys them
      val data = rnd.shuffle(distinct ++ Seq.fill(rnd.nextInt(8))(pick(distinct: _*)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 1 + rnd.nextInt(3)),
        schema)
      val viaSpark = FrameOps.preprocess(df).collect().toSeq
      val driver = HeldRows.rows(FrameOps.distinctRows(Bridge.collectInternal(df), df.schema))
      assert(driver.size == viaSpark.size, s"seed $seed")
      assert(unsigned(rowContents(driver)) == unsigned(rowContents(viaSpark)), s"seed $seed")
    }
  }

  test("the driver compare fails exactly when compareFrames(exact = true | false) does, " +
    "with the same message") {
    import org.apache.spark.sql.types._
    val dataSchema = StructType(Seq(
      StructField("d", DoubleType), StructField("m", DecimalType(6, 2)),
      StructField("b", BinaryType), StructField("s", StringType),
      StructField("l", LongType)))
    // as a JDBC read types the compare query: another column order, an
    // extra column, a wider DECIMAL and INT for BIGINT
    val dbSchema = StructType(Seq(
      StructField("extra", StringType), StructField("s", StringType),
      StructField("l", IntegerType), StructField("b", BinaryType),
      StructField("m", DecimalType(10, 4)), StructField("d", DoubleType)))
    def dec(s: String) = new java.math.BigDecimal(s)

    /** The compare as the loader ran it before: the asserts on counts
      * Spark took, then `compareFrames` in Spark.
      */
    def sparkCompare(df: DataFrame, db: Seq[Row], exact: Boolean): Unit = {
      import org.apache.spark.sql.functions._
      Predef.assert(db.nonEmpty, "Compare query yielded no results.")
      val n = df.count()
      val nulls = n == 0 ||
        df.filter(df.columns.map(c => FrameOps.quoted(c).isNull).reduce(_ || _)).count() > 0
      if (!nulls)
        Predef.assert(db.size >= n, s"Compare query yielded fewer rows (${db.size}) than data.")
      FrameOps.compareFrames(df,
        FrameOps.matchTypes(HeldRows.frameOf(spark, db, dbSchema), dataSchema), exact = exact)
    }

    (1 to 40).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
      def maybe[A](v: => A): Any = if (rnd.nextInt(10) == 0) null else v
      def dataRow(): Row = Row(
        pick(Double.NaN, 0.0, -0.0, 1.5, null),
        maybe(pick(dec("1.50"), dec("12.34"), dec("-0.01"))),
        maybe(pick(Array[Byte](), Array[Byte](1, 2))),
        maybe(pick("", "a", "a ")),
        maybe(pick(1L, -3L)))
      def toDb(r: Row): Row = {
        def at(i: Int)(f: Any => Any): Any = if (r.isNullAt(i)) null else f(r.get(i))
        Row(
          pick("x", null),
          r.get(3),
          at(4)(_.asInstanceOf[Long].toInt),
          at(2)(_.asInstanceOf[Array[Byte]].clone()),
          at(1)(_.asInstanceOf[java.math.BigDecimal].add(dec(pick("0", "0", "0.0049", "0.005")))),
          at(0) {
            case d: Double if d == 0.0 => pick(0.0, -0.0)
            case other => other
          })
      }
      val data = Seq.fill(rnd.nextInt(7))(dataRow())
      val df = FrameOps.preprocess(HeldRows.frameOf(spark, data, dataSchema)).cache()
      // the database side of a load: usually every data row, some twice;
      // now and then one missing, rows of its own, or an overflowing
      // DECIMAL
      val db = data.filter(_ => rnd.nextInt(8) != 0).flatMap(r => Seq.fill(pick(1, 1, 2))(toDb(r))) ++
        (if (rnd.nextInt(4) == 0) Seq.fill(1 + rnd.nextInt(2))(toDb(dataRow())) else Nil) ++
        (if (rnd.nextInt(8) == 0) Seq(Row(null, "a", 1, null, dec("123456.7890"), 1.5)) else Nil)

      // the rows as the driver holds them: normalized (−0.0 as 0.0, one
      // NaN); compareRows stands for the compare over a frame of them
      val held = HeldRows.data(df.collect().toSeq, df.schema)
      val heldDf = HeldRows.frameOf(spark, HeldRows.rows(held), dataSchema)
      Seq(true, false).foreach { exact =>
        withAnsi(seed % 2 == 0) {
          val viaSpark = verdict(sparkCompare(heldDf, db, exact))
          val (driver, actions) =
            withActions(verdict(FrameOps.compareRows(spark, held, HeldRows.read(db, dbSchema), exact)))
          assert(driver == viaSpark, s"seed $seed exact $exact")
          // and the caller's frame, before normalizing, passes or fails alike
          assert((verdict(sparkCompare(df, db, exact)) == "ok") == (driver == "ok"),
            s"seed $seed exact $exact")
          // the driver decides every compare and raises its error alone
          assert(actions.isEmpty, s"seed $seed exact $exact: $actions")
        }
      }
      df.unpersist()
    }
  }
}
