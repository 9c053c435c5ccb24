package perfbench

import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.{Connector, DerbyDialect}
import graft.ops.FrameOps

/** The paper's flagship path: `Connector.load` of one lineitem-grain
  * denormalized frame (13 columns) into a fresh in-memory Derby star
  * schema (region <- nation <- customer <- orders <- lineitem, each with
  * an identity key and a natural UNIQUE key), then the same frame again
  * into the same database. One transaction per load, committed when the
  * load (with its generated-compare validation) succeeds.
  *
  * A pass is one fresh database and the two loads `load` and `reload`.
  * Each is checked: per-table counts read back must equal the frame's
  * distinct natural keys, and the reload must leave them unchanged and
  * return the same keyed frame as the load.
  */
final class StarLoad(data: String) extends Harness.Workload {
  import StarLoad._

  private var dbs = 0
  private var expected: Map[String, Long] = Map.empty
  private var frameRows = 0L

  def frame(spark: SparkSession): DataFrame = {
    def t(name: String) = spark.read.parquet(s"$data/$name.parquet")
    t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"), col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
  }

  private def freshDb(): (String, Connection) = {
    dbs += 1
    val name = s"perfbench_star_$dbs"
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$name;create=true")
    conn.setAutoCommit(false)
    val st = conn.createStatement()
    Ddl.foreach(st.execute)
    st.close()
    conn.commit()
    (name, conn)
  }

  private def dropDb(name: String, conn: Connection): Unit = {
    conn.rollback() // ends the read-only transaction of introspection and checks
    conn.close()
    // Derby reports a successful drop as SQLState 08006
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: SQLException => () }
  }

  def setUp(spark: SparkSession): Unit = {
    val (name, conn) = freshDb()
    new Connector(spark, conn, DerbyDialect)
    frame(spark).queryExecution.executedPlan
    dropDb(name, conn)
  }

  def warmUp(spark: SparkSession): Seq[String] = {
    val f = frame(spark)
    val keys = Map(
      "region" -> Seq("r_name"), "nation" -> Seq("n_name"),
      "customer" -> Seq("c_name"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("o_orderkey", "l_linenumber"))
    expected = keys.map { case (t, k) => t -> f.select(k.map(col): _*).distinct().count() }
    frameRows = f.count()
    // one fresh load warms every code path the timed loads take
    cycle(new Harness.Context(spark, None), reload = false).filterNot(_.ok)
      .map(o => s"${o.name}: ${o.error}")
  }

  def pass(ctx: Harness.Context): Seq[Harness.Op] = cycle(ctx, reload = true)

  private def cycle(ctx: Harness.Context, reload: Boolean): Seq[Harness.Op] = {
    val (name, raw) = freshDb()
    val conn = ctx.tracer.fold(raw)(JdbcTrace.wrap(raw, _, () => ctx.currentOp()))
    try {
      val c = new Connector(ctx.spark, conn, DerbyDialect)
      val df = frame(ctx.spark)
      def loadOnce(): String = {
        ctx.tracer.foreach { t =>
          // the planner calls load() makes, repeated outside it for timing
          val cols = FrameOps.preprocess(df).columns.toSeq
          val t0 = System.nanoTime()
          val li = c.schema.getLoadInstructions(cols)
          c.schema.getCompareQuery(cols)
          t.emit("schema", "op" -> ctx.currentOp(), "plan_ms" -> (System.nanoTime() - t0) / 1e6,
            "steps" -> (li.insertAndRetrieve.size + li.insert.size))
        }
        try {
          val d = Digest.of(c.load(df))
          conn.commit()
          d
        } catch { case e: Throwable => conn.rollback(); throw e }
      }
      val load = ctx.run("load")(loadOnce())(_ => checkCounts(raw))
      if (!reload) Seq(load)
      else Seq(load, ctx.run("reload")(loadOnce()) { d =>
        if (d != load.digest) Some(s"reload returned digest $d, load returned ${load.digest}")
        else checkCounts(raw)
      })
    } finally dropDb(name, raw)
  }

  private def checkCounts(conn: Connection): Option[String] = {
    val st = conn.createStatement()
    try {
      val bad = expected.toSeq.sortBy(_._1).flatMap { case (t, want) =>
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next()
        val got = rs.getLong(1)
        rs.close()
        if (got == want) None else Some(s"$t has $got rows, expected $want")
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    } finally st.close()
  }

  override def facts: Map[String, Any] =
    Map("frame_rows" -> frameRows, "table_rows" -> expected)
}

object StarLoad {
  val Ddl: Seq[String] = Seq(
    "CREATE TABLE region (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "r_name VARCHAR(25) NOT NULL UNIQUE)",
    "CREATE TABLE nation (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "region_id INT NOT NULL REFERENCES region (id), n_name VARCHAR(25) NOT NULL UNIQUE)",
    "CREATE TABLE customer (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "nation_id INT NOT NULL REFERENCES nation (id), c_name VARCHAR(25) NOT NULL UNIQUE, " +
      "c_acctbal DOUBLE, c_mktsegment VARCHAR(10))",
    "CREATE TABLE orders (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "customer_id INT NOT NULL REFERENCES customer (id), o_orderkey BIGINT NOT NULL UNIQUE, " +
      "o_orderstatus VARCHAR(1), o_totalprice DOUBLE, o_orderdate DATE)",
    "CREATE TABLE lineitem (id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "orders_id INT NOT NULL REFERENCES orders (id), l_linenumber INT NOT NULL, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "UNIQUE (orders_id, l_linenumber))")
}
