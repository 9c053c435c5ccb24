package graft.ops

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft._

/** Ports of `/root/reference/tests/test_dataframe_operations.py` and
  * `tests/test_connector.py:20-40` (preprocess/postprocess).
  */
class FrameOpsSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private def df(pairs: (String, Seq[Any])*) = {
    val names = pairs.map(_._1)
    val rows = pairs.head._2.indices.map(i => Row(pairs.map(_._2(i)): _*))
    val fields = pairs.map { case (n, vs) =>
      val dt = vs.find(_ != null) match {
        case Some(_: Int)    => org.apache.spark.sql.types.IntegerType
        case Some(_: Long)   => org.apache.spark.sql.types.LongType
        case Some(_: Double) => org.apache.spark.sql.types.DoubleType
        case _               => org.apache.spark.sql.types.StringType
      }
      org.apache.spark.sql.types.StructField(n, dt, nullable = true)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      org.apache.spark.sql.types.StructType(fields))
  }

  test("preprocess renames and dedups (connector.py:26-40)") {
    val d = df("a" -> Seq("x", "x", "y"), "b" -> Seq(1, 1, 2))
    val out = FrameOps.preprocess(d, Map("a" -> "naam"))
    assert(out.columns.toSeq == Seq("naam", "b"))
    assert(out.count() == 2)
  }

  test("postprocess inverts rename only for present columns (connector.py:43-59)") {
    val d = df("naam" -> Seq("x"), "b" -> Seq(1))
    val out = FrameOps.postprocess(d.drop("b"), Map("a" -> "naam", "c" -> "gone"))
    assert(out.columns.toSeq == Seq("a"))
  }

  test("preprocess∘postprocess restores names (test_connector.py:20-40)") {
    val d = df("a" -> Seq("x", "y"), "b" -> Seq(1, 2))
    val m = Map("a" -> "t.a", "b" -> "t.b")
    val out = FrameOps.postprocess(FrameOps.preprocess(d, m), m)
    assert(out.columns.toSeq == Seq("a", "b"))
  }

  test("hasNulls (dataframe_operations.py:12-16)") {
    assert(FrameOps.hasNulls(df("a" -> Seq(null, "x"))))
    assert(!FrameOps.hasNulls(df("a" -> Seq("x", "y"))))
    // empty frame counts as has-nulls in the reference
    assert(FrameOps.hasNulls(df("a" -> Seq("x")).filter(lit(false))))
  }

  test("getRows projects and dedups (dataframe_operations.py:59-76)") {
    val d = df("a" -> Seq("x", "x"), "b" -> Seq(1, 1), "c" -> Seq(9, 8))
    val out = FrameOps.getRows(d, Seq("a", "b"))
    assert(out.columns.toSeq == Seq("a", "b"))
    assert(out.count() == 1)
    intercept[IllegalArgumentException](FrameOps.getRows(d, Seq("nope")))
  }

  test("matchTypes casts to target schema (dataframe_operations.py:79-103)") {
    val target = df("a" -> Seq(1), "b" -> Seq("s"))
    val dbLike = df("a" -> Seq("2"), "b" -> Seq("t"))
    val out = FrameOps.matchTypes(dbLike, target.schema)
    assert(out.schema("a").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("matchTypes raises MatchDatatypesError-labeled on an impossible cast " +
    "(dataframe_operations.py:101-103), even with ANSI off") {
    val target = df("a" -> Seq(1))
    val dbLike = df("a" -> Seq("not-a-number"))
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      // ANSI off is the dangerous mode: a bare cast would silently
      // null the value; the guard must still fail loudly
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val e = intercept[Exception](
        FrameOps.matchTypes(dbLike, target.schema).collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("MatchDatatypesError")),
        s"expected MatchDatatypesError-labeled failure, got: $e")
      // nulls pass through untouched — only non-null corruption raises
      val okNull = df("a" -> Seq[String](null))
      assert(FrameOps.matchTypes(okNull, target.schema).collect()(0).isNullAt(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("containsRows raises the same MatchDatatypesError text as matchTypes on an impossible cast") {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val target = StructType(Seq(StructField("a", IntegerType)))
    val dbSchema = StructType(Seq(StructField("a", StringType)))
    val dbRows = Seq(Row("1"), Row("not-a-number"))
    val label = "MatchDatatypesError: column `a` value 'not-a-number' does not cast to INT"
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val e = intercept[MatchDatatypesError](
        FrameOps.containsRows(HeldRows.data(Seq(Row(1)), target), HeldRows.read(dbRows, dbSchema)))
      assert(e.getMessage == label)
      val viaSpark = intercept[Exception](FrameOps.matchTypes(
        spark.createDataFrame(spark.sparkContext.parallelize(dbRows, 1), dbSchema),
        target).collect())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(viaSpark).exists(_.contains(label)), viaSpark)
      // a null casts to null, and a castable value is found
      FrameOps.containsRows(HeldRows.data(Seq(Row(1)), target),
        HeldRows.read(Seq(Row(null), Row("1")), dbSchema))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("the inexact compare of an empty cached frame raises on a value that does not cast, every time") {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val target = StructType(Seq(StructField("a", IntegerType)))
    val data = HeldRows.frameOf(spark, Nil, target).cache()
    assert(data.count() == 0)
    val db = FrameOps.matchTypes(HeldRows.frameOf(spark, Seq(Row("not-a-number")),
      StructType(Seq(StructField("a", StringType)))), target)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // repeated: whether the database side runs at all once the cached
    // data side turns out empty depended on which stage finished first
    try (1 to 10).foreach { run =>
      val e = intercept[Exception](FrameOps.compareFrames(data, db, exact = false))
      assert(messages(e).exists(_.contains(
        "MatchDatatypesError: column `a` value 'not-a-number' does not cast to INT")), s"run $run: $e")
    } finally data.unpersist()
  }

  test("the keys the driver cannot match as Spark does are decided by mergeIds or compareFrames") {
    import org.apache.spark.sql.types._
    def schema(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    def frame(rows: Seq[Row], schema: StructType) = HeldRows.frameOf(spark, rows, schema)
    // an analysis error names each attribute with its plan's own id
    def verdict(body: => Any): String =
      try { body; "ok" } catch {
        case e: Throwable => e.getClass.getName + ": " + e.getMessage.replaceAll("#\\d+", "#")
      }
    /** (the local compare on the Spark driver, Spark's) of `data` against the read `db`. */
    def compared(data: Seq[Row], dataSchema: StructType, db: Seq[Row], dbSchema: StructType) = (
      () => FrameOps.compareRows(spark, HeldRows.data(data, dataSchema), HeldRows.read(db, dbSchema),
        exact = true),
      () => FrameOps.compareFrames(frame(data, dataSchema),
        FrameOps.matchTypes(frame(db, dbSchema), dataSchema), exact = true))
    val lcase = StringType("UTF8_LCASE")
    val int = schema("s" -> IntegerType)

    // (member of the set, the check made locally on the Spark driver, the Spark operator it stands for)
    val cases = Seq[(String, (() => Any, () => Any))](
      // 'A' and 'a' are one value under the collation
      "a collated key" -> compared(Seq(Row("A")), schema("s" -> lcase), Seq(Row("a")), schema("s" -> lcase)),
      "a nested key" -> compared(Seq(Row(Seq(1, 2))), schema("s" -> ArrayType(IntegerType)),
        Seq(Row(Seq(1, 2))), schema("s" -> ArrayType(IntegerType))),
      "a column the read lacks" -> compared(Seq(Row(1)), int, Seq(Row(1)), schema("t" -> IntegerType)),
      "an ambiguous column" -> compared(Seq(Row(1)), int, Seq(Row(1, 1)),
        schema("s" -> IntegerType, "S" -> IntegerType)),
      // matchTypes leaves `S` uncast, so the compare widens the INT
      "a column not named exactly" -> compared(Seq(Row(1)), int, Seq(Row(3000000000L)),
        schema("S" -> LongType)),
      "a cast Spark rejects" -> compared(Seq(Row(1)), int, Seq(Row(Array[Byte](1))),
        schema("s" -> BinaryType)),
      // the join matches on `x` too, which the table's columns leave out
      "a frame column outside the keys that the read also names" -> {
        val data = Seq(Row(1, 1))
        val dataSchema = schema("k" -> IntegerType, "x" -> IntegerType)
        val db = Seq(Row(5, 1, 2))
        val dbSchema = schema("id" -> IntegerType, "k" -> IntegerType, "x" -> IntegerType)
        (() => FrameOps.mergeIdRows(spark, HeldRows.data(data, dataSchema, spare = 1), Seq("k"),
          HeldRows.read(db, dbSchema), "id", "t", allowDuplication = false, slot = 2),
          () => FrameOps.mergeIds(frame(data, dataSchema), frame(db, dbSchema), "id", "t"))
      })

    cases.foreach { case (member, (driver, viaSpark)) =>
      val expected = verdict(viaSpark())
      val (got, actions) = withActions(verdict(driver()))
      assert(got == expected, member)
      // Spark decided: it ran a job, or its analysis raised
      assert(actions.nonEmpty || got.startsWith("org.apache.spark.sql.AnalysisException"),
        s"$member: $got")
    }
  }

  test("the loader raises each error once: Connector names no Spark twin, FrameOps falls back to each at one site") {
    import java.nio.file.{Files, Paths}
    def source(path: String): String = {
      val p = Paths.get(path)
      assert(Files.exists(p), s"$path not found from the working directory")
      Files.readString(p)
    }
    val connector = source("src/main/scala/graft/connector/Connector.scala")
    for (name <- Seq("mergeIds", "compareFrames", "preprocess", "mergeIdFrame"))
      assert(s"\\b$name\\b".r.findFirstIn(connector).isEmpty, name)
    // FrameOps' code without its comments, by the method each line is in
    val code = source("src/main/scala/graft/ops/FrameOps.scala").linesIterator
      .filterNot(l => Seq("*", "/**", "//").exists(l.trim.startsWith)).mkString("\n")
    val methods = "\n  (?:private(?:\\[graft\\])? )?def (\\w+)".r.findAllMatchIn(code).toSeq
    val bodies = methods.zip(methods.drop(1).map(_.start) :+ code.length).map { case (m, end) =>
      m.group(1) -> code.substring(m.end, end)
    }
    for ((operator, fallback) <- Seq("mergeIds" -> "mergeIdRows", "compareFrames" -> "compareRows")) {
      val sites = bodies.flatMap { case (name, body) =>
        Seq.fill(s"\\b$operator\\(".r.findAllMatchIn(body).size)(name)
      }
      assert(sites == Seq(fallback), operator)
    }
  }

  test("mergeIds joins ids null-safely (dataframe_operations.py:106-161)") {
    val data = df("naam" -> Seq("een", "twee", null))
    val dbRows = df("id" -> Seq(1, 2, 3), "naam" -> Seq("een", "twee", null))
    val out = FrameOps.mergeIds(data, dbRows, "id", "a")
    assert(out.columns.toSeq == Seq("naam", "id"))
    assert(out.count() == 3)
    // null joined to null (nulls_equal=True)
    assert(out.filter(col("naam").isNull && col("id") === 3).count() == 1)
  }

  test("mergeIds rejects missing ids (MissingKeysAfterMergeError)") {
    val data = df("naam" -> Seq("een", "onbekend"))
    val dbRows = df("id" -> Seq(1), "naam" -> Seq("een"))
    intercept[MissingKeysAfterMergeError](
      FrameOps.mergeIds(data, dbRows, "id", "a"))
  }

  test("mergeIds duplication guard (dataframe_operations.py:143-148)") {
    val data = df("naam" -> Seq("een"))
    val dbRows = df("id" -> Seq(1, 2), "naam" -> Seq("een", "een"))
    intercept[AssertionError](FrameOps.mergeIds(data, dbRows, "id", "a"))
    val out = FrameOps.mergeIds(data, dbRows, "id", "a", allowDuplication = true)
    assert(out.count() == 2)
  }

  test("compareFrames exact (dataframe_operations.py:19-56)") {
    val a = df("x" -> Seq("1", "2"), "y" -> Seq("a", null))
    val sameSet = df("x" -> Seq("2", "1", "1"), "y" -> Seq(null, "a", "a"))
    FrameOps.compareFrames(a, sameSet, exact = true) // set-equal, dups ignored

    val extra = df("x" -> Seq("1", "2", "3"), "y" -> Seq("a", null, "c"))
    intercept[CompareNoExactMatchError](
      FrameOps.compareFrames(a, extra, exact = true))
  }

  test("compareFrames non-exact drops nulls then requires containment") {
    val a = df("x" -> Seq("1", "2"), "y" -> Seq("a", null))
    val dbOnlyFull = df("x" -> Seq("1", "9"), "y" -> Seq("a", "z"))
    // row ("2", null) dropped before check; ("1","a") present -> ok
    FrameOps.compareFrames(a, dbOnlyFull, exact = false)

    val dbMissing = df("x" -> Seq("9"), "y" -> Seq("z"))
    intercept[CompareMissingRowsError](
      FrameOps.compareFrames(a, dbMissing, exact = false))
  }

  test("dropReplaced tolerant of absent columns (test_bugs.py:192-220)") {
    val d = df("a" -> Seq("x"), "b" -> Seq(1))
    assert(FrameOps.dropReplaced(d, Seq("b", "absent")).columns.toSeq == Seq("a"))
  }
}
