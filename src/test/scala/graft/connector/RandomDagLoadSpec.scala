package graft.connector

import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.ops.FrameOps

/** Port of the reference's highest-value test: property-based random
  * DAG schemas round-tripped through `load` and the auto-generated
  * compare query (`/root/reference/tests/generators.py:90-123`,
  * `tests/test_sqlite_connector.py:334-447`), against embedded Derby.
  *
  * Fixture semantics preserved: 3-7 tables, random lower-triangular
  * DAG, pk iff successors (else coin flip), `<parent>_id` FK columns,
  * 1-3 natural VARCHAR columns per table, no unique constraints,
  * 3-5 rows of globally-unique stringified integers. Connected
  * isolate-free schemas round-trip exactly; others must at least load.
  */
class RandomDagLoadSpec extends AnyFunSuite with SparkSpec {

  private val dbCounter = new AtomicInteger(0)

  private case class RandTable(
      name: String, pk: String, natural: Seq[String], parents: Seq[String])

  private case class Fixture(
      tables: Seq[RandTable], nRows: Int, connected: Boolean)

  private val fixtureGen: Gen[Fixture] = for {
    nTables <- Gen.choose(3, 7)
    edgeFlags <- Gen.listOfN(nTables * nTables, Gen.prob(0.4))
    pkFlags <- Gen.listOfN(nTables, Gen.prob(0.5))
    nNat <- Gen.listOfN(nTables, Gen.choose(1, 3))
    nRows <- Gen.choose(3, 5)
  } yield {
    val names = (0 until nTables).map(i => s"t$i")
    val edges = for {
      i <- 0 until nTables; j <- (i + 1) until nTables
      if edgeFlags(i * nTables + j)
    } yield (names(i), names(j))
    val colCounter = new AtomicInteger(0)
    val tables = names.zipWithIndex.map { case (n, i) =>
      val succs = edges.collect { case (p, c) if p == n => c }
      val parents = edges.collect { case (p, c) if c == n => p }
      val pk = if (succs.nonEmpty || pkFlags(i)) s"${n}_pk" else ""
      val natural = (0 until nNat(i)).map(_ => s"c${colCounter.getAndIncrement()}")
      RandTable(n, pk, natural, parents)
    }
    // connectivity of the induced undirected graph, no isolates
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val reachable = {
      var seen = Set(names.head)
      var frontier = List(names.head)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Nil)).filterNot(seen)
        seen ++= next
        frontier = next
      }
      seen
    }
    val noIsolates = names.forall(n => adj.contains(n))
    Fixture(tables, nRows, noIsolates && reachable.size == names.size)
  }

  /** `n` fixtures of the seeded Gen chain, each with its fresh Derby
    * database (tables created) and its frame.
    */
  private def fixtures(n: Int): Seq[(Fixture, String, DataFrame)] = {
    // scalatestplus is not in the offline cache; drive the Gen
    // directly with a deterministic seed chain
    val params = Gen.Parameters.default
    var seed = Seed(42L)
    (1 to n).map { _ =>
      val fx = fixtureGen.pureApply(params, seed)
      seed = seed.next
      val url = s"jdbc:derby:memory:graft_rand_${dbCounter.incrementAndGet()};create=true"
      val conn = DriverManager.getConnection(url)
      val st = conn.createStatement()
      fx.tables.foreach { t =>
        val cols =
          (if (t.pk.nonEmpty)
            Seq(s"${t.pk} INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY")
          else Nil) ++
            t.parents.map { p =>
              val parentPk = fx.tables.find(_.name == p).get.pk
              s"${p}_id INT REFERENCES $p ($parentPk)"
            } ++
            t.natural.map(c => s"$c VARCHAR(50)")
        st.execute(s"CREATE TABLE ${t.name} (${cols.mkString(", ")})")
      }
      st.close(); conn.commit(); conn.close()

      // one globally-unique stringified int per (row, natural column)
      val naturalCols = fx.tables.flatMap(_.natural)
      val rows = (0 until fx.nRows).map { r =>
        Row.fromSeq(naturalCols.indices.map(c =>
          (r * naturalCols.size + c).toString))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        StructType(naturalCols.map(c => StructField(c, StringType, nullable = true))))
      (fx, url, df)
    }
  }

  test("random DAG schemas: load round-trips through the generated compare query (F6)") {
    fixtures(12).foreach { case (fx, url, df) =>
      Connector.withConnection(spark, url) { c =>
        if (fx.connected) {
          c.load(df, exact = false)
          val q = c.schema.getCompareQuery(df.columns.toSeq)
          val back = JdbcFrames.queryToDataFrame(spark, c.conn, q,
            lowercaseLabels = true)
          assert(back.except(df).isEmpty && df.except(back).isEmpty,
            s"round trip failed for schema ${fx.tables}")
        } else {
          c.load(df, compare = false)
        }
      }
    }
  }

  test("random DAG schemas: a reload that doubles every table threads each of its ids") {
    // no table has a UNIQUE constraint, so a reload inserts every row
    // again and each key then matches two ids, then four below a doubled
    // parent, and so on: under allowDuplication each row of the cascade
    // expands once per id. The returned frame must carry every id of
    // every keyed table, each with the natural and parent columns of
    // its own row, and no null id; a cascade that threads fewer ids on
    // the driver than the join matches leaves child rows unkeyed
    fixtures(12).foreach { case (fx, url, df) =>
      Connector.withConnection(spark, url) { c =>
        c.load(df, compare = false)
        val out = c.load(df, compare = false, replace = false, allowDuplication = true)
        // every parent table is a keyed step of the load
        val keyed = fx.tables.filter(t => fx.tables.exists(_.parents.contains(t.name)))
        assert(keyed.forall(t => out.columns.contains(s"${t.name}_id")), out.columns.toSeq)
        keyed.foreach { t =>
          val cols = s"${t.name}_id" +: (t.parents.map(p => s"${p}_id") ++ t.natural)
          val threaded = out.select(cols.map(FrameOps.quoted): _*).distinct()
            .collect().map(_.toSeq).toSet
          val table = JdbcFrames.queryToDataFrame(spark, c.conn,
            s"SELECT ${(t.pk +: cols.tail).mkString(", ")} FROM ${t.name}", lowercaseLabels = true)
            .collect().map(_.toSeq).toSet
          assert(threaded == table, s"table ${t.name} of ${fx.tables}")
        }
        spark.catalog.clearCache()
      }
    }
  }
}
