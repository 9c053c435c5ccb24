package graft

import graft.schema._

/** Runnable end-to-end demo of the schema planner: models the TPC-H-ish
  * testdata star schema as a Schema DAG, plans a load, generates the
  * compare (reconstruction) query, and executes it on the real parquet
  * tables. `sbt "runMain graft.Demo [sfDir]"`.
  */
object Demo {
  def tpchSchema: Schema = new Schema(
    Seq(
      Table("region", Seq("r_name"), "r_regionkey"),
      Table("nation", Seq("n_name"), "n_nationkey", Seq("n_regionkey")),
      Table("customer", Seq("c_name", "c_acctbal", "c_mktsegment"),
        "c_custkey", Seq("c_nationkey")),
      Table("orders", Seq("o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"), "o_orderkey", Seq("o_custkey")),
      Table("lineitem", Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag"), "", Seq("l_orderkey")),
    ),
    Seq(
      Reference("nation", "n_regionkey", "region", "r_regionkey"),
      Reference("customer", "c_nationkey", "nation", "n_nationkey"),
      Reference("orders", "o_custkey", "customer", "c_custkey"),
      Reference("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ),
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val s = tpchSchema

    println("=== load instructions for [c_name, o_totalprice, l_quantity, n_name, r_name] ===")
    val li = s.getLoadInstructions(
      Seq("c_name", "o_totalprice", "l_quantity", "n_name", "r_name"))
    li.insertAndRetrieve.foreach(x => println(s"  insert+retrieve ${x.table} as ${x.alias}"))
    li.insert.foreach(x => println(s"  insert          ${x.table}"))

    println("\n=== generated compare query (spark-quoted) ===")
    val q = s.getCompareQuery(
      Seq("c_name", "o_totalprice", "l_quantity", "n_name", "r_name"),
      aliasQuote = "`")
    println(q)

    println("\n=== probe: ambiguous / unknown columns ===")
    val vehicle = new Schema(
      Seq(Table("merk", Seq("naam"), "id"), Table("dealer", Seq("naam"), "id")),
      Nil)
    try vehicle.getTableNameByColumn("naam")
    catch { case e: ColumnIsAmbiguousError => println(s"  ambiguous ok: ${e.getMessage.linesIterator.next()}") }
    try s.getLoadInstructions(Seq("no_such_col"))
    catch { case e: NoSuchColumnInSchemaError => println(s"  unknown ok: ${e.getMessage.linesIterator.next()}") }

    println("\n=== executing compare query on " + sfDir + " ===")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    Seq("region", "nation", "customer", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    val df = spark.sql(q)
    println(s"rows: ${df.count()}")
    df.show(5, truncate = false)

    println("\n=== FrameOps drive: retrieve-ids shape on customer ===")
    import graft.ops.FrameOps
    import org.apache.spark.sql.functions.col
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    // denormalized "data" knows customers by name; merge in their pk
    val data = FrameOps.preprocess(
      customer.select(col("c_name"), col("c_mktsegment")))
    val dbSide = customer.select(
      col("c_custkey").as("customer_id"), col("c_name"), col("c_mktsegment"))
    val merged = FrameOps.mergeIds(data, dbSide, "customer_id", "customer")
    println(s"merged rows: ${merged.count()}, columns: ${merged.columns.mkString(",")}")
    // round-trip containment: merged natural columns ⊆ db read-back
    FrameOps.compareFrames(
      merged.select(col("c_name"), col("c_mktsegment")),
      dbSide.select(col("c_name"), col("c_mktsegment")))
    println("compareFrames: exact match ok")
    merged.show(3, truncate = false)

    println("\n=== Connector drive: normalize parquet data into Derby ===")
    // real testdata in, normalized star schema out, transactional
    import graft.connector.{Connector, JdbcFrames}
    val url = "jdbc:derby:memory:graft_demo;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    val st = c0.createStatement()
    st.execute("CREATE TABLE regio (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, r_name VARCHAR(50) NOT NULL UNIQUE)")
    st.execute("CREATE TABLE natie (regio_id INT REFERENCES regio (id), n_name VARCHAR(50) NOT NULL UNIQUE)")
    st.close(); c0.commit(); c0.close()

    val denorm = spark.read.parquet(s"$sfDir/nation.parquet")
      .join(spark.read.parquet(s"$sfDir/region.parquet"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
    Connector.withConnection(spark, url) { c =>
      val out = c.load(denorm)
      println(s"loaded; returned columns: ${out.columns.mkString(",")}")
      val readBack = JdbcFrames.queryToDataFrame(spark, c.conn,
        "SELECT natie.n_name as n_name, regio.r_name as r_name FROM natie " +
          "LEFT JOIN regio ON natie.regio_id = regio.id", lowercaseLabels = true)
      println(s"read back ${readBack.count()} nation rows; " +
        s"round-trip equal: ${readBack.except(denorm).isEmpty && denorm.except(readBack).isEmpty}")
    }
    spark.stop()
  }
}
