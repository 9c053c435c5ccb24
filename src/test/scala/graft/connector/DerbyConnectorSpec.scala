package graft.connector

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft._

/** End-to-end connector tests against embedded Derby — ports of the
  * reference's SQLite integration suite
  * (`/root/reference/tests/test_sqlite_connector.py:52-285`), fixtures
  * F1-F4 of FIXTURES.md. Derby stands in for SQLite (no SQLite JDBC
  * driver ships in this environment; Derby does, with real
  * transactions, FKs and unique constraints).
  */
class DerbyConnectorSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.functions._

  private var dbCounter = 0
  private def freshDb(): String = {
    dbCounter += 1
    s"jdbc:derby:memory:graft_test_$dbCounter;create=true"
  }

  private def ddl(url: String, statements: String*): Unit = {
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    statements.foreach(st.execute)
    st.close(); c.commit(); c.close()
  }

  private def strDf(pairs: (String, Seq[String])*): DataFrame = {
    val rows = pairs.head._2.indices.map(i => Row(pairs.map(_._2(i)): _*))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(pairs.map(p => StructField(p._1, StringType, nullable = true))))
  }

  test("F2: insert_and_retrieve_ids with replace/rename (test_sqlite_connector.py:52-92)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE a (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, a VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE b (a_id INT REFERENCES a (id), b VARCHAR(50) NOT NULL UNIQUE)")
    val data = strDf("a" -> Seq("one", "two", "three"), "b" -> Seq("een", "twee", "drie"))

    Connector.withConnection(spark, url) { c =>
      val replaced = c.insertAndRetrieveIds(data, "a", "a_id")
      assert(replaced.columns.contains("a_id"))
      assert(!replaced.columns.contains("a"))

      val renamed = c.insertAndRetrieveIds(
        data, "a", "a_id", columns = Map("a" -> "weg", "b" -> "a"))
      assert(renamed.columns.contains("a_id"))
      assert(!renamed.columns.contains("b"))

      val kept = c.insertAndRetrieveIds(data, "a", "a_id", replace = false)
      assert(kept.columns.contains("a_id") && kept.columns.contains("a"))
    }
  }

  test("empty schema detected (test_sqlite_connector.py:97-101)") {
    val url = freshDb()
    ddl(url, "VALUES 1") // touch the db so it exists
    Connector.withConnection(spark, url) { c =>
      assert(c.schemaIsEmpty)
      intercept[EmptySchemaError](c.load(strDf("a" -> Seq("x"))))
    }
  }

  test("F3: failed insert raises + rollback keeps old data (test_sqlite_connector.py:106-127)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE a (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "naam VARCHAR(50) NOT NULL UNIQUE, waarde INT NOT NULL)")
    val first = strDf("naam" -> Seq("a", "b", "c"), "waarde" -> Seq("1", "2", "3"))
      .withColumn("waarde", col("waarde").cast("int"))
    val second = strDf("naam" -> Seq("a", "b", "c"), "waarde" -> Seq("4", "5", "6"))
      .withColumn("waarde", col("waarde").cast("int"))

    Connector.withConnection(spark, url)(c => c.load(first))
    intercept[InsertingDataFailedError] {
      Connector.withConnection(spark, url)(c => c.load(second))
    }
    // rollback left first load intact
    Connector.withConnection(spark, url) { c =>
      val rows = JdbcFrames.queryToDataFrame(spark, c.conn,
        "SELECT naam, waarde FROM a ORDER BY naam")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(rows == Seq(("a", 1), ("b", 2), ("c", 3)))
    }
  }

  /** land <- stad <- straat: loading it runs two insert+retrieve steps
    * (land, stad) and a plain insert (straat). land's name is UNIQUE
    * when `uniqueLand` is set.
    */
  private def streetDb(uniqueLand: Boolean = true): String = {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE land (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "land VARCHAR(50) NOT NULL" + (if (uniqueLand) " UNIQUE)" else ")"),
      "CREATE TABLE stad (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "land_id INT NOT NULL REFERENCES land (id), stad VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE straat (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "stad_id INT NOT NULL REFERENCES stad (id), straat VARCHAR(50) NOT NULL UNIQUE, " +
        "lengte VARCHAR(10))")
    url
  }

  /** The rows of the streets tables, one string per row. */
  private def streetTables(url: String): Seq[Seq[String]] =
    Connector.withConnection(spark, url) { c =>
      Seq("SELECT id, land FROM land ORDER BY id",
        "SELECT id, land_id, stad FROM stad ORDER BY id",
        "SELECT id, stad_id, straat, lengte FROM straat ORDER BY id").map { q =>
        JdbcFrames.queryToDataFrame(spark, c.conn, q).collect().map(_.mkString("|")).toSeq
      }
    }

  private def streets(land: String, stad: String, straat: String,
      lengtes: String*): DataFrame = strDf(
    "land" -> lengtes.map(_ => land), "stad" -> lengtes.map(_ => stad),
    "straat" -> lengtes.map(_ => straat), "lengte" -> lengtes)

  test("a successful load leaves no cache") {
    val url = streetDb()
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val rows = Connector.withConnection(spark, url)(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1")).count())
    assert(rows == 1)
    assert(sc.getPersistentRDDs.keySet.diff(persistedBefore).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** Whether `body` starts a job that builds a broadcast. */
  private def broadcasts(body: => Any): Boolean = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ListenerBus

    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(e.properties))
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.exists(_.contains("broadcast exchange"))
  }

  test("the frame a load returns is local: no join, cache or broadcast under it") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, ResolvedHint}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation

    // the listener sees a broadcast job where one runs
    assert(broadcasts(spark.range(3).join(broadcast(spark.range(3)), "id").collect()))

    val url = streetDb()
    Connector.withConnection(spark, url) { c =>
      val out = c.load(strDf("land" -> Seq("NL", "NL"), "stad" -> Seq("Utrecht", "Utrecht"),
        "straat" -> Seq("Oudegracht", "Neude"), "lengte" -> Seq("1", "2")))
      val plan = out.queryExecution.optimizedPlan
      assert(plan.collectFirst { case j: Join => j }.isEmpty, plan)
      assert(plan.collectFirst { case m: InMemoryRelation => m }.isEmpty, plan)
      assert(plan.collectFirst { case h: ResolvedHint => h }.isEmpty, plan)
      assert(plan.collectFirst { case l: LocalRelation => l }.nonEmpty, plan)
      assert(!broadcasts(assert(out.groupBy().count().head().getLong(0) == 2)))
      assert(out.columns.toSeq == Seq("straat", "lengte", "land_id", "stad_id"))
    }
  }

  /** `df` as a frame that counts, in the accumulator returned, the
    * partitions of `df` each evaluation of it computes.
    */
  private def counted(df: DataFrame): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evaluated = spark.sparkContext.longAccumulator
    (spark.createDataFrame(df.rdd.mapPartitions { it => evaluated.add(1); it }, df.schema),
      evaluated)
  }

  test("a load whose compare fails evaluates the caller's frame once and rolls back") {
    val url = streetDb()
    val data = streets("NL", "Utrecht", "Oudegracht", "1")
    val (source, evaluated) = counted(data)
    val err = intercept[CompareNoExactMatchError] {
      Connector.withConnection(spark, url)(c => c.load(source, compareQuery = Some(
        "SELECT 'NL' AS land, 'Utrecht' AS stad, 'Oudegracht' AS straat, '2' AS lengte " +
          "FROM SYSIBM.SYSDUMMY1")))
    }
    assert(err.getMessage ==
      "Datasets do not match exactly.\nRows in data and not in db:\n[NL,Utrecht,Oudegracht,1]\n" +
        "Rows in db and not in data:\n[NL,Utrecht,Oudegracht,2]\n\n" +
        "Consider adding a WHERE clause to filter out irrelevant data.\n" +
        "Note: if this happens due to your data containing missings and your database not " +
        "allowing those, set exact=False", err.getMessage)
    // once: each of the frame's partitions one time
    assert(evaluated.value == data.rdd.getNumPartitions)
    assert(streetTables(url).forall(_.isEmpty))

    // the public compare raises from the rows it collected too
    Connector.withConnection(spark, url)(c => c.load(data))
    val (other, compared) = counted(streets("NL", "Utrecht", "Oudegracht", "2"))
    val mismatch = intercept[CompareNoExactMatchError] {
      Connector.withConnection(spark, url)(c => c.compare(other))
    }
    assert(mismatch.getMessage.startsWith(
      "Datasets do not match exactly.\nRows in data and not in db:\n[NL,Utrecht,Oudegracht,2]\n" +
        "Rows in db and not in data:\n[NL,Utrecht,Oudegracht,1]\n"), mismatch.getMessage)
    assert(compared.value == data.rdd.getNumPartitions)
  }

  test("a load failing at its third step rolls back and releases every cache it took") {
    val url = streetDb()
    Connector.withConnection(spark, url)(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1")))
    val before = streetTables(url)
    assert(before.forall(_.size == 1))

    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    // land and stad insert and retrieve new rows; straat, the third
    // step, gets two rows with one UNIQUE key and different values, so
    // its D1 check fails after the first two steps cached their frames
    intercept[InsertingDataFailedError] {
      Connector.withConnection(spark, url)(c =>
        c.load(streets("BE", "Gent", "Veldstraat", "1", "2")))
    }
    assert(streetTables(url) == before)
    assert(sc.getPersistentRDDs.keySet == persistedBefore)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("one load of the three-table streets fixture runs at most 1 SQL action") {
    // the collect of the deduped frame; each step's projection, D1, the
    // id guards, the id threading and the compare run on the driver
    // over its rows. With a collect per step and the compare probing
    // the cached frame the load ran 4, with the id guards and the
    // compare in Spark 7, with D1 in Spark too 10, and 13 before each
    // step was evaluated once
    val url = streetDb()
    val (_, actions) = withActions(Connector.withConnection(spark, url)(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1"))))
    assert(actions == Seq("collect"), actions.mkString(", "))
    spark.catalog.clearCache()
  }

  test("load(compare = false) runs no SQL action the compare-free load did not run") {
    // the same load without the compare: the one collect; 3 with a
    // collect per step, 6 with the id guards in Spark, 9 with D1 in
    // Spark too, 10 before each step was evaluated once
    val url = streetDb()
    val (_, actions) = withActions(Connector.withConnection(spark, url)(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1"), compare = false)))
    assert(actions.size <= 1, actions.mkString(", "))
    spark.catalog.clearCache()
  }

  test("a one-step load and a three-step load run the same number of SQL actions") {
    // the SQL actions of a load do not grow with its steps
    val one = freshDb()
    ddl(one, "CREATE TABLE land (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "land VARCHAR(50) NOT NULL UNIQUE)")
    val (_, oneStep) = withActions(Connector.withConnection(spark, one)(c =>
      c.load(strDf("land" -> Seq("NL", "BE")))))
    val (_, threeSteps) = withActions(Connector.withConnection(spark, streetDb())(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1"))))
    assert(oneStep.size == threeSteps.size, s"$oneStep vs $threeSteps")
    spark.catalog.clearCache()
  }

  test("load(allowDuplication = true) guards a duplicating join with no count") {
    val url = freshDb()
    // no UNIQUE on tag: the load inserts a third 'x', and its retrieve
    // step then matches three ids
    ddl(url,
      "CREATE TABLE tag (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(20) NOT NULL)",
      "CREATE TABLE item (tag_id INT REFERENCES tag (id), waarde VARCHAR(20) NOT NULL)",
      "INSERT INTO tag (naam) VALUES ('x'), ('x')")
    val data = strDf("naam" -> Seq("x"), "waarde" -> Seq("1"))

    // the id guard raises from the rows the driver threaded: the
    // caller's frame is evaluated once
    val (source, evaluated) = counted(data)
    val dup = intercept[AssertionError] {
      Connector.withConnection(spark, url)(c => c.load(source))
    }
    assert(dup.getMessage == "Rows were duplicated when joining on ids.", dup.getMessage)
    assert(evaluated.value == data.rdd.getNumPartitions)
    val (rows, actions) = withActions(Connector.withConnection(spark, url)(c =>
      c.load(data, allowDuplication = true).collect().toSeq))
    assert(rows.size == 3 && rows.map(_.getAs[Int]("tag_id")).distinct.size == 3)
    // the id guard counts each key's matches on the driver, so the
    // duplicating join needs no count of its input (one before)
    assert(!actions.contains("count"), actions.mkString(", "))
    spark.catalog.clearCache()
  }

  test("a failing streets load raises each loader error from the rows it holds, after one collect") {
    // the streets tables; with no UNIQUE on land, holding 'NL' twice
    def db(uniqueLand: Boolean): String = {
      val url = streetDb(uniqueLand)
      if (!uniqueLand) ddl(url, "INSERT INTO land (land) VALUES ('NL'), ('NL')")
      url
    }
    val street = streets("NL", "Utrecht", "Oudegracht", "1")
    def compareRow(lengte: String) = Some("SELECT 'NL' AS land, 'Utrecht' AS stad, " +
      s"'Oudegracht' AS straat, $lengte AS lengte FROM SYSIBM.SYSDUMMY1")
    val exactMismatch = "Datasets do not match exactly.\nRows in data and not in db:\n" +
      "[NL,Utrecht,Oudegracht,1]\nRows in db and not in data:\n[NL,Utrecht,Oudegracht,2]\n\n" +
      "Consider adding a WHERE clause to filter out irrelevant data.\n" +
      "Note: if this happens due to your data containing missings and your database not " +
      "allowing those, set exact=False"
    // (case, whether land is UNIQUE, the load, the error's class and text);
    // the single-table calls fail the same way
    val cases = Seq[(String, Boolean, Connector => Any, Class[_], String)](
      ("duplicated ids", false, _.load(street), classOf[AssertionError],
        "Rows were duplicated when joining on ids."),
      ("insertAndRetrieveIds: duplicated ids", false, _.insertAndRetrieveIds(street, "land", "land_id"),
        classOf[AssertionError], "Rows were duplicated when joining on ids."),
      // a null land is no row land may hold, so it is not inserted
      ("a key with no id", true, _.load(streets(null, "Utrecht", "Oudegracht", "1")),
        classOf[MissingKeysAfterMergeError],
        "When reading from land Some id's were returned as NA:\n[null,Utrecht,Oudegracht,1,null]\n" +
          "Check if the uniqueness assumptions you made in your database schema are correct, " +
          "or whether your made a mistake in your schema definitions somewhere."),
      ("D1 missing rows", true, _.load(streets("NL", "Utrecht", "Oudegracht", "1", "2")),
        classOf[InsertingDataFailedError],
        "Encountered an error upon inserting data into table 'straat':\n\t" +
          "Some rows from data were not found in the database:\n[1,Oudegracht,2]\n" +
          "This usually happens due to a uniqueness constraint not allowing new data to be inserted.\n" +
          "Either clear the relevant tables, or reset the database."),
      ("D2 exact = true", true, _.load(street, compareQuery = compareRow("'2'")),
        classOf[CompareNoExactMatchError], exactMismatch),
      ("compare: D2 exact = true", true, _.compare(street, query = compareRow("'2'")),
        classOf[CompareNoExactMatchError], exactMismatch),
      ("D2 exact = false", true, _.load(street, compareQuery = compareRow("'2'"), exact = false),
        classOf[CompareMissingRowsError],
        "Some rows from data were not found in the database:\n[NL,Utrecht,Oudegracht,1]"),
      ("an uncastable compare value", true,
        _.load(street.withColumn("lengte", col("lengte").cast("int")),
          compareQuery = compareRow("'een'")),
        classOf[MatchDatatypesError],
        "MatchDatatypesError: column `lengte` value 'een' does not cast to INT"))

    cases.foreach { case (name, uniqueLand, load, kind, text) =>
      val url = db(uniqueLand)
      val before = streetTables(url)
      val (err, actions) = withActions(intercept[Throwable](Connector.withConnection(spark, url)(load)))
      assert(err.getClass == kind && err.getMessage == text, s"$name: $err")
      assert(actions == Seq("collect"), s"$name: $actions")
      assert(streetTables(url) == before, name)
    }
    spark.catalog.clearCache()
  }

  test("insert dedups the rows it inserts and D1 reports the rows a conflict kept out") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE a (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "naam VARCHAR(50) NOT NULL UNIQUE, waarde INT NOT NULL)")
    def frame(rows: (String, String, String)*): DataFrame =
      strDf("naam" -> rows.map(_._1), "waarde" -> rows.map(_._2), "extra" -> rows.map(_._3))
        .withColumn("waarde", col("waarde").cast("int"))
    def table(): Seq[(String, Int)] = Connector.withConnection(spark, url) { c =>
      JdbcFrames.queryToDataFrame(spark, c.conn, "SELECT naam, waarde FROM a ORDER BY naam")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    }

    // a duplicate full row, and two rows that project to the same (naam, waarde)
    Connector.withConnection(spark, url)(c =>
      c.insert(frame(("a", "1", "x"), ("a", "1", "x"), ("a", "1", "y"), ("b", "2", "z")), "a"))
    assert(table() == Seq(("a", 1), ("b", 2)))

    // 'a' exists with another waarde: the UNIQUE key keeps (a, 4) out
    val err = intercept[InsertingDataFailedError] {
      Connector.withConnection(spark, url)(c =>
        c.insert(frame(("a", "4", "x"), ("a", "4", "x"), ("a", "4", "y")), "a"))
    }
    assert(err.getMessage.contains(
      "Some rows from data were not found in the database:\n[a,4]\n"), err.getMessage)
    assert(table() == Seq(("a", 1), ("b", 2)))
  }

  test("DECIMAL(31,0) values round-trip through queryToDataFrame and load") {
    val big = new java.math.BigDecimal("1234567890123456789012345")
    val url = freshDb()
    ddl(url,
      "CREATE TABLE bedrag (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "amount DECIMAL(31,0) NOT NULL UNIQUE)",
      "CREATE TABLE boeking (bedrag_id INT REFERENCES bedrag (id), " +
        "omschrijving VARCHAR(20) NOT NULL)")
    Connector.withConnection(spark, url) { c =>
      val back = JdbcFrames.queryToDataFrame(spark, c.conn,
        "VALUES CAST(1234567890123456789012345 AS DECIMAL(31,0))")
      assert(back.schema.head.dataType == DecimalType(31, 0))
      assert(back.collect().map(_.getDecimal(0)).toSeq == Seq(big))
    }

    val data = spark.createDataFrame(java.util.List.of(Row(big, "salaris")),
      StructType(Seq(StructField("amount", DecimalType(31, 0)),
        StructField("omschrijving", StringType))))
    Connector.withConnection(spark, url) { c =>
      val loaded = c.load(data).collect()
      assert(loaded.map(_.getAs[String]("omschrijving")).toSeq == Seq("salaris"))
      val db = JdbcFrames.queryToDataFrame(spark, c.conn,
        "SELECT bedrag.amount, boeking.omschrijving FROM boeking " +
          "JOIN bedrag ON boeking.bedrag_id = bedrag.id", lowercaseLabels = true)
      assert(db.collect().map(r => (r.getDecimal(0), r.getString(1))).toSeq ==
        Seq((big, "salaris")))
    }
    spark.catalog.clearCache()
  }

  test("a CHAR(5) natural key loads, retrieves and compares despite Derby's padding") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE land (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "land CHAR(5) NOT NULL UNIQUE)",
      "CREATE TABLE stad (land_id INT NOT NULL REFERENCES land (id), " +
        "stad VARCHAR(50) NOT NULL UNIQUE)")
    val data = strDf("land" -> Seq("NL", "BE", "NL"), "stad" -> Seq("Utrecht", "Gent", "Delft"))
    Connector.withConnection(spark, url) { c =>
      assert(c.load(data).count() == 3)
      val back = JdbcFrames.queryToDataFrame(spark, c.conn, "SELECT land FROM land ORDER BY land")
      assert(back.collect().map(_.getString(0)).toSeq == Seq("BE", "NL"))
    }
    spark.catalog.clearCache()
  }

  test("D1 and the compare take one column of each type the JDBC reader maps") {
    // the reader widens SMALLINT and REAL and keeps the column's own
    // DECIMAL scale, so D1 and the compare cast three of these columns
    // back to the frame's types
    val url = freshDb()
    ddl(url,
      "CREATE TABLE meting (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "klein SMALLINT NOT NULL UNIQUE, enkel REAL NOT NULL, dubbel DOUBLE NOT NULL, " +
        "bedrag DECIMAL(10,4) NOT NULL, tijd TIMESTAMP NOT NULL, " +
        "bytes VARCHAR(16) FOR BIT DATA NOT NULL, opmerking VARCHAR(20))")
    val schema = StructType(Seq(
      StructField("klein", ShortType), StructField("enkel", FloatType),
      StructField("dubbel", DoubleType), StructField("bedrag", DecimalType(6, 2)),
      StructField("tijd", TimestampType), StructField("bytes", BinaryType),
      StructField("opmerking", StringType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      Row(1.toShort, 1.5f, -0.0d, new java.math.BigDecimal("12.34"),
        ts("2024-02-29 13:45:10.123456"), Array[Byte](0, 1, -1), null),
      Row(2.toShort, -0.25f, 2.5d, new java.math.BigDecimal("-0.01"),
        ts("1999-12-31 23:59:59.000001"), Array[Byte](7), "tweede"))
    val data = spark.createDataFrame(java.util.List.of(rows: _*), schema)

    Connector.withConnection(spark, url) { c =>
      c.load(data)
      c.compare(data)
      val back = JdbcFrames.queryToDataFrame(spark, c.conn,
        "SELECT klein, bedrag, tijd, opmerking FROM meting ORDER BY klein", lowercaseLabels = true)
        .collect().map(r => (r.getInt(0), r.getDecimal(1), r.getTimestamp(2), r.get(3))).toSeq
      assert(back == Seq(
        (1, new java.math.BigDecimal("12.3400"), ts("2024-02-29 13:45:10.123456"), null),
        (2, new java.math.BigDecimal("-0.0100"), ts("1999-12-31 23:59:59.000001"), "tweede")))
    }
    spark.catalog.clearCache()
  }

  /** The streets fixture's loaded row again (so the exact compare of a
    * clean load passes) plus two new streets.
    */
  private def faultData(): DataFrame =
    strDf("land" -> Seq("NL", "BE", "BE"), "stad" -> Seq("Utrecht", "Gent", "Gent"),
      "straat" -> Seq("Oudegracht", "Veldstraat", "Korenmarkt"), "lengte" -> Seq("1", "1", "2"))

  /** The JDBC statements a clean load of [[faultData]] executes. */
  private val cleanLoadStatements = 10

  test("a fault at any statement of a load rolls it back and releases every cache") {
    val url = streetDb()
    Connector.withConnection(spark, url)(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1")))
    val before = streetTables(url)
    val faulty = FaultyDriver.url(url)
    val data = faultData()
    def load() = Connector.withConnection(spark, faulty)(c => c.load(data))

    // a clean load, rolled back, counts the statements a load executes
    class Undo extends RuntimeException
    FaultyDriver.arm(Int.MaxValue)
    intercept[Undo](Connector.withConnection(spark, faulty) { c =>
      c.load(data); throw new Undo
    })
    val statements = FaultyDriver.executed.get
    // each table receives a row, so each is read, written and read
    // again (the last read serves D1, and for the two keyed tables the
    // id guard and the id join), then the compare; 7 when no table was
    // read before its insert, which sent every row
    assert(statements == cleanLoadStatements, statements)
    assert(streetTables(url) == before)

    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    (1 to statements).foreach { k =>
      FaultyDriver.arm(k)
      val e = intercept[java.sql.SQLException](load())
      assert(e.getMessage == s"injected fault at statement $k", e)
      assert(streetTables(url) == before, s"fault at statement $k")
      assert(sc.getPersistentRDDs.keySet == persistedBefore, s"fault at statement $k")
      assert(spark.sharedState.cacheManager.isEmpty, s"fault at statement $k")
    }
    FaultyDriver.arm(Int.MaxValue)
    load()
    assert(streetTables(url).map(_.size) == Seq(2, 2, 3))
    spark.catalog.clearCache()
  }

  test("a connection dying at any statement of a load surfaces that fault, not the failed close") {
    val url = streetDb()
    Connector.withConnection(spark, url)(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1")))
    val before = streetTables(url)
    val data = faultData()

    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    (1 to cleanLoadStatements).foreach { k =>
      FaultyDriver.arm(k, dies = true)
      val e = intercept[java.sql.SQLException](
        Connector.withConnection(spark, FaultyDriver.url(url))(c => c.load(data)))
      assert(e.getMessage == s"injected fault at statement $k", e)
      // closing the statement, the rollback and the close all hit the
      // dead connection, and ride along as suppressed
      val suppressed = e.getSuppressed.map(_.getMessage).toSeq
      assert(suppressed.size >= 2 && suppressed.forall(_ == FaultyDriver.Dead),
        s"fault at statement $k: $suppressed")
      // the load's transaction is still open in Derby, behind the
      // dead connection: end it there
      FaultyDriver.underlying.rollback()
      FaultyDriver.underlying.close()
      assert(streetTables(url) == before, s"fault at statement $k")
      assert(sc.getPersistentRDDs.keySet == persistedBefore, s"fault at statement $k")
      assert(spark.sharedState.cacheManager.isEmpty, s"fault at statement $k")
    }
    FaultyDriver.arm(Int.MaxValue)
  }

  test("a reload of the streets fixture executes no INSERT and changes nothing") {
    val url = streetDb()
    val data = faultData()
    val loaded = Connector.withConnection(spark, url)(c => c.load(data).collect().toSeq)
    val before = streetTables(url)
    assert(before.map(_.size) == Seq(2, 2, 3))

    FaultyDriver.arm(Int.MaxValue)
    val reloaded = Connector.withConnection(spark, FaultyDriver.url(url))(c =>
      c.load(data).collect().toSeq)
    // one read per table, which finds every row, and the compare
    val statements = FaultyDriver.executions.toArray.toSeq
    assert(FaultyDriver.inserts.isEmpty, statements)
    assert(statements.size == 4, statements)
    assert(streetTables(url) == before)
    assert(reloaded == loaded)
    spark.catalog.clearCache()
  }

  test("a load into partly filled tables sends only the rows they lack") {
    val url = streetDb()
    Connector.withConnection(spark, url)(c =>
      c.load(streets("NL", "Utrecht", "Oudegracht", "1")))
    val before = streetTables(url)

    // NL, Utrecht and Oudegracht are stored; BE, Gent and two streets are not
    FaultyDriver.arm(Int.MaxValue)
    Connector.withConnection(spark, FaultyDriver.url(url))(c => c.load(faultData()))
    assert(FaultyDriver.inserts == Seq(("land", 1), ("stad", 1), ("straat", 2)),
      FaultyDriver.executions)
    val after = streetTables(url)
    assert(after.zip(before).forall { case (a, b) => a.take(b.size) == b })
    assert(after.map(_.size) == Seq(2, 2, 3))
    spark.catalog.clearCache()
  }

  test("a load into a table larger than twice its rows stops the first read and reads it again") {
    val url = streetDb()
    val n = 8
    Connector.withConnection(spark, url)(c => c.load(strDf("land" -> Seq.fill(n)("NL"),
      "stad" -> Seq.fill(n)("Utrecht"), "straat" -> (1 to n).map(i => s"Straat $i"),
      "lengte" -> Seq.fill(n)("1"))))
    val before = streetTables(url)

    // one stored street: straat's first read stops after 3 of its 8
    // rows, so straat is read again, whether or not the street was among
    // those 3 and kept out of the insert; land and stad hold one row
    // each and are read once (the compare reads every street, so it
    // asks only that the frame's rows are stored)
    FaultyDriver.arm(Int.MaxValue)
    Connector.withConnection(spark, FaultyDriver.url(url))(c =>
      c.load(streets("NL", "Utrecht", s"Straat $n", "1"), exact = false))
    def reads(table: String) = FaultyDriver.executions.toArray.toSeq
      .count { case (sql: String, _) => sql.endsWith(s" FROM $table") }
    assert(Seq("land", "stad", "straat").map(reads) == Seq(1, 1, 2), FaultyDriver.executions)
    assert(FaultyDriver.inserts.forall(_._1 == "straat"), FaultyDriver.executions)
    assert(streetTables(url) == before)
    spark.catalog.clearCache()
  }

  test("a row with a null in a unique column is sent to the insert") {
    import graft.ops.{FrameOps, HeldRows}
    // Derby reports no key set over a nullable column, so this reads a
    // Derby table and asks for the rows to send under the key set that
    // Postgres or SQLite would report for UNIQUE (naam, code)
    val url = freshDb()
    ddl(url,
      "CREATE TABLE code (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "naam VARCHAR(20) NOT NULL, code VARCHAR(10))",
      "INSERT INTO code (naam, code) VALUES ('a', NULL), ('b', 'x')")
    val schema = StructType(Seq(StructField("naam", StringType), StructField("code", StringType)))
    val rows = HeldRows.data(Seq(Row("a", null), Row("b", "x"), Row("c", "y")), schema)
    val sent = Connector.withConnection(spark, url)(c => FrameOps.unwritten(rows,
      JdbcFrames.readQuery(c.conn, "SELECT DISTINCT naam, code FROM code", lowercaseLabels = true),
      Seq(Seq("naam", "code"))))
    // SQL's `=` never matches a null, so (a, null) is never found
    // stored; (b, x) is, and (c, y) is not
    assert(HeldRows.rows(sent) == Seq(Row("a", null), Row("c", "y")))
  }

  test("a DECIMAL key that matches only after a lossy cast is sent, not left out") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE bedrag (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "amount DECIMAL(10,4) NOT NULL UNIQUE)",
      "INSERT INTO bedrag (amount) VALUES (1.5049)")
    // 1.5049 read as the frame's DECIMAL(6,2) is 1.50, but the table
    // holds no 1.5000, so the insert writes the frame's 1.50
    val data = spark.createDataFrame(java.util.List.of(Row(new java.math.BigDecimal("1.50"))),
      StructType(Seq(StructField("amount", DecimalType(6, 2)))))
    FaultyDriver.arm(Int.MaxValue)
    Connector.withConnection(spark, FaultyDriver.url(url))(c => c.insert(data, "bedrag"))
    assert(FaultyDriver.inserts == Seq(("bedrag", 1)), FaultyDriver.executions)
    val amounts = Connector.withConnection(spark, url)(c => JdbcFrames.queryToDataFrame(spark,
      c.conn, "SELECT amount FROM bedrag ORDER BY amount").collect().map(_.getDecimal(0)).toSeq)
    assert(amounts == Seq(new java.math.BigDecimal("1.5000"), new java.math.BigDecimal("1.5049")))
  }

  test("a second load of the same frame starts no broadcast job and runs one collect") {
    val lengtes = strDf("straat" -> Seq("Oudegracht", "Neude"), "lengte" -> Seq("1", "2"))
    val data = strDf("land" -> Seq("NL", "NL"), "stad" -> Seq("Utrecht", "Utrecht"),
      "straat" -> Seq("Oudegracht", "Neude")).join(broadcast(lengtes), "straat")
    val url = streetDb()
    // the first load plans the frame and builds its broadcast
    var first: Seq[Row] = Nil
    assert(broadcasts { first = Connector.withConnection(spark, url)(c => c.load(data).collect().toSeq) })
    // the second collects through the frame's own plan, whose broadcast
    // is built: the load's collect, then the test's
    var second: Seq[Row] = Nil
    val (built, actions) = withActions(broadcasts {
      second = Connector.withConnection(spark, streetDb())(c => c.load(data).collect().toSeq)
    })
    assert(!built)
    assert(actions == Seq("collect", "collect"), actions.mkString(", "))
    assert(second.map(_.getAs[String]("straat")) == first.map(_.getAs[String]("straat")))
    spark.catalog.clearCache()
  }

  test("load renames by its columns map as withColumnsRenamed does, and fails on duplicate columns") {
    import graft.ops.FrameOps
    val data = strDf("Land" -> Seq("NL"), "plaats" -> Seq("Utrecht"),
      "straat" -> Seq("Oudegracht"), "lengte" -> Seq("1"))
    // matched by the session's resolver, as Spark matches it
    val columns = Map("LAND" -> "land", "plaats" -> "stad")
    assert(FrameOps.renamed(data.schema, columns) == data.withColumnsRenamed(columns).schema)
    val url = streetDb()
    val out = Connector.withConnection(spark, url)(c => c.load(data, columns = columns))
    assert(out.columns.toSeq == Seq("straat", "lengte", "land_id", "stad_id"))
    assert(streetTables(url).map(_.size) == Seq(1, 1, 1))

    // a rename that leaves two columns named alike: Spark keeps both,
    // which no entry point could tell apart, so each fails before it
    // runs a Spark action or a JDBC statement
    val clash = Map("plaats" -> "LAND")
    assert(data.withColumnsRenamed(clash).columns.toSeq == Seq("Land", "LAND", "straat", "lengte"))
    val other = streetDb()
    Seq[(String, Connector => Any)](
      "load" -> (_.load(data, columns = clash)),
      "insert" -> (_.insert(data, "land", columns = clash)),
      "retrieveIds" -> (_.retrieveIds(data, "land", "land_id", columns = clash)),
      "insertAndRetrieveIds" -> (_.insertAndRetrieveIds(data, "land", "land_id", columns = clash)),
      "compare" -> (_.compare(data, columns = clash)),
    ).foreach { case (entry, call) =>
      FaultyDriver.arm(Int.MaxValue)
      val (err, actions) = withActions(intercept[IllegalArgumentException](
        Connector.withConnection(spark, FaultyDriver.url(other))(call)))
      assert(err.getMessage.contains("leaves duplicate columns"), s"$entry: ${err.getMessage}")
      assert(actions.isEmpty, s"$entry: $actions")
      assert(FaultyDriver.executions.isEmpty, s"$entry: ${FaultyDriver.executions}")
    }
    assert(streetTables(other).forall(_.isEmpty))
  }

  test("JdbcFrames.batchInsert binds each Row's fields by the names of its columns") {
    val url = freshDb()
    ddl(url, "CREATE TABLE paar (naam VARCHAR(20), bedrag DECIMAL(10,4), n BIGINT)")
    val schema = StructType(Seq(StructField("n", LongType), StructField("naam", StringType),
      StructField("bedrag", DecimalType(10, 4))))
    val rows = Seq(Row(1L, "a", new java.math.BigDecimal("1.5049")), Row(null, "b", null))
    val stored = Connector.withConnection(spark, url) { c =>
      JdbcFrames.batchInsert(c.conn, "INSERT INTO paar (bedrag, naam, n) VALUES (?, ?, ?)",
        rows, schema, Seq("bedrag", "naam", "n"))
      JdbcFrames.queryToDataFrame(spark, c.conn, "SELECT naam, bedrag, n FROM paar ORDER BY naam")
        .collect().toSeq
    }
    assert(stored == Seq(Row("a", new java.math.BigDecimal("1.5049"), 1L), Row("b", null, null)))
  }

  test("F1: vehicle star schema full load + compare round trip (test_sqlite_connector.py:130-234)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE eigenaar (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE merk (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE voertuig_type (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE dealer (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE voertuig (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "type_id INT REFERENCES voertuig_type (id), merk_id INT REFERENCES merk (id), " +
        "CONSTRAINT uq_voertuig UNIQUE (type_id, merk_id))",
      "CREATE TABLE merk_dealer (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "merk_id INT REFERENCES merk (id), dealer_id INT REFERENCES dealer (id), " +
        "CONSTRAINT uq_merk_dealer UNIQUE (merk_id, dealer_id))",
      "CREATE TABLE voertuig_eigenaar (eigenaar_id INT REFERENCES eigenaar (id), " +
        "voertuig_id INT REFERENCES voertuig (id), " +
        "CONSTRAINT uq_ve UNIQUE (voertuig_id, eigenaar_id))",
      "CREATE TABLE aankoop (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
        "voertuig_id INT REFERENCES voertuig (id), merk_dealer_id INT REFERENCES merk_dealer (id), " +
        "datum VARCHAR(20), CONSTRAINT uq_aankoop UNIQUE (voertuig_id, merk_dealer_id, datum))")

    val data = strDf(
      "eigenaar" -> Seq("Luc", "Dave", "Erwin", "Erwin"),
      "soort_voertuig" -> Seq("fiets", "auto", "auto", "motor"),
      "merk" -> Seq("Batavus", "Renault", "Toyota", "Kawasaki"),
      "dealer" -> Seq("Kees Klappertand", "Zoest Occasions", "Zoest Occasions", "Berts Tweewielers"),
      "aankoop" -> Seq("2024-03-01", "2021-06-25", "2022-10-13", "2020-02-03"))
    val columns = Map(
      "eigenaar" -> "eigenaar.naam",
      "soort_voertuig" -> "voertuig_type.naam",
      "merk" -> "merk.naam",
      "dealer" -> "dealer.naam",
      "aankoop" -> "datum")

    Connector.withConnection(spark, url)(c => c.load(data, columns = columns))

    // read back through the hand-written reconstruction query the
    // reference uses, and check frame equality (order-insensitive)
    Connector.withConnection(spark, url) { c =>
      val db = JdbcFrames.queryToDataFrame(spark, c.conn,
        """SELECT eigenaar.naam as eigenaar, voertuig_type.naam as soort_voertuig,
          | merk.naam as merk, dealer.naam as dealer, aankoop.datum as aankoop
          |FROM eigenaar
          |LEFT JOIN voertuig_eigenaar ON voertuig_eigenaar.eigenaar_id = eigenaar.id
          |LEFT JOIN voertuig ON voertuig_eigenaar.voertuig_id = voertuig.id
          |LEFT JOIN voertuig_type ON voertuig.type_id = voertuig_type.id
          |LEFT JOIN merk ON voertuig.merk_id = merk.id
          |LEFT JOIN merk_dealer ON merk_dealer.merk_id = merk.id
          |LEFT JOIN dealer ON merk_dealer.dealer_id = dealer.id
          |LEFT JOIN aankoop ON aankoop.voertuig_id = voertuig.id""".stripMargin)
      assert(db.count() == 4)
      assert(db.except(data).isEmpty && data.except(db).isEmpty)
    }
  }

  test("F4: missing values round-trip (test_sqlite_connector.py:239-285)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE a (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, a_num VARCHAR(20) NOT NULL UNIQUE)",
      "CREATE TABLE b (a_id INT REFERENCES a (id), b_num VARCHAR(20) NOT NULL, " +
        "CONSTRAINT uq_b UNIQUE (a_id, b_num))",
      "CREATE TABLE c (a_id INT REFERENCES a (id), naam VARCHAR(20) NOT NULL, " +
        "CONSTRAINT uq_c UNIQUE (a_id, naam))")

    val data = strDf(
      "a_num" -> Seq("A1", "A2", "A3", "A4", "A5"),
      "b_num" -> Seq("B1", "B3", "B4", null, null),
      "naam" -> Seq("ab1", "ab3", null, "ab4", null))

    Connector.withConnection(spark, url) { c =>
      c.load(data)
      val db = JdbcFrames.queryToDataFrame(spark, c.conn,
        """SELECT a.a_num as a_num, b.b_num as b_num, c.naam as naam
          |FROM a
          |LEFT JOIN b ON b.a_id = a.id
          |LEFT JOIN c ON c.a_id = a.id""".stripMargin)
      assert(db.except(data).isEmpty && data.except(db).isEmpty)
    }
  }

  test("dialect SQL text matches reference exactly (test_sqlite_connector.py:23-46, test_postgres_connector.py:17-40)") {
    assert(SqliteDialect.getInsertQuery("fiets", Seq("naam", "merk")) ==
      "INSERT OR IGNORE INTO fiets (naam, merk) VALUES (:naam, :merk)")
    assert(SqliteDialect.getCheckInsertQuery("fiets", Seq("naam", "merk")) ==
      "SELECT DISTINCT naam, merk FROM fiets")
    assert(SqliteDialect.getRetrieveQuery("fiets", "id", "fiets_id", Seq("naam", "merk")) ==
      "SELECT id as fiets_id, naam, merk FROM fiets")

    assert(PostgresDialect.getInsertQuery("fiets", Seq("naam", "merk")) ==
      "INSERT INTO fiets (naam, merk) VALUES (%(naam)s, %(merk)s) ON CONFLICT DO NOTHING")
    assert(PostgresDialect.getCheckInsertQuery("fiets", Seq("naam", "merk")) ==
      "SELECT DISTINCT naam, merk FROM fiets")
    assert(PostgresDialect.getRetrieveQuery("fiets", "id", "fiets_id", Seq("naam", "merk")) ==
      "SELECT id as fiets_id, naam, merk FROM fiets")

    // the JDBC-executable variant: same statement, ? placeholders
    assert(PostgresJdbcDialect.getInsertQuery("fiets", Seq("naam", "merk")) ==
      "INSERT INTO fiets (naam, merk) VALUES (?, ?) ON CONFLICT DO NOTHING")
    assert(PostgresJdbcDialect.insertParamOrder(Seq("naam", "merk")) ==
      Seq("naam", "merk"))
  }

  test("introspection maps pk/fk/unique/not-null (B8/B9)") {
    val url = freshDb()
    ddl(url,
      "CREATE TABLE parent (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, naam VARCHAR(50) NOT NULL UNIQUE)",
      "CREATE TABLE child (parent_id INT REFERENCES parent (id), waarde VARCHAR(50))")
    val conn = DriverManager.getConnection(url)
    val s = Introspect(conn)
    conn.close()
    val parent = s.tables.find(_.name == "parent").get
    assert(parent.primaryKey == "id" && parent.columns == Seq("naam"))
    val child = s.tables.find(_.name == "child").get
    assert(child.foreignKeys == Seq("parent_id") && child.columns == Seq("waarde"))
    assert(s.references == Seq(graft.schema.Reference("child", "parent_id", "parent", "id")))
    assert(s.uniqueKeySets("parent") == Seq(Seq("naam")))
    assert(s.notNullColumns("parent") == Set("id", "naam"))
  }
}

/** Hands out Derby connections, under `jdbc:graftfault:<derby url>`,
  * whose statements throw at the `failAt`-th execution counted across
  * all of them. A connection armed to die throws on every later call
  * too, rollback and close included, as a connection lost mid-load does.
  */
private object FaultyDriver extends java.sql.Driver {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
  import java.sql.{Connection, SQLException, Statement}
  import java.util.concurrent.atomic.AtomicInteger

  val Dead = "connection is dead"

  private val prefix = "jdbc:graftfault:"
  @volatile private var failAt = Int.MaxValue
  @volatile private var dies = false
  @volatile private var dead = false
  val executed = new AtomicInteger()
  /** Each statement execution since [[arm]]: its SQL text, and the rows
    * of its batch (0 for a query).
    */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
  /** The Derby connection behind the most recent faulty one. */
  @volatile var underlying: Connection = _
  DriverManager.registerDriver(this)

  def url(derbyUrl: String): String = prefix + derbyUrl

  /** Fail at the `k`-th statement execution from now on; with `dies`,
    * fail every call on the connection after it as well.
    */
  def arm(k: Int, dies: Boolean = false): Unit = {
    failAt = k; this.dies = dies; dead = false; executed.set(0); executions.clear()
  }

  /** The INSERTs executed since [[arm]]: the table and the rows sent. */
  def inserts: Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    executions.asScala.toSeq.collect {
      case (sql, rows) if sql.startsWith("INSERT INTO ") => (sql.split(" ")(2), rows)
    }
  }

  private def forward(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    if (dead) throw new SQLException(Dead)
    else
      try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
      catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[_], handler: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), handler).asInstanceOf[T]

  /** `target`, of type `iface`, prepared with `prepared` if it was. */
  private def statement(target: Statement, iface: Class[_], prepared: Option[String]): Statement = {
    var batch = 0
    proxy(iface, (_: AnyRef, m: Method, args: Array[AnyRef]) => {
      if (!dead && m.getName == "addBatch") batch += 1
      if (!dead && m.getName.startsWith("execute")) {
        val sql = Option(args).flatMap(_.headOption).collect { case q: String => q }.orElse(prepared)
        executions.add((sql.getOrElse(""), batch))
        batch = 0
        if (executed.incrementAndGet() == failAt) {
          dead = dies
          throw new SQLException(s"injected fault at statement $failAt")
        }
      }
      forward(target, m, args)
    })
  }

  def connect(url: String, info: java.util.Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val conn = DriverManager.getConnection(url.stripPrefix(prefix))
      underlying = conn
      proxy(classOf[Connection], (_: AnyRef, m: Method, args: Array[AnyRef]) =>
        forward(conn, m, args) match {
          case st: Statement => statement(st, m.getReturnType,
            if (m.getName.startsWith("prepare")) Some(args(0).toString) else None)
          case other => other
        })
    }

  def acceptsURL(url: String): Boolean = url.startsWith(prefix)
  def getPropertyInfo(url: String, info: java.util.Properties): Array[java.sql.DriverPropertyInfo] =
    Array.empty
  def getMajorVersion: Int = 1
  def getMinorVersion: Int = 0
  def jdbcCompliant: Boolean = false
  def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}
