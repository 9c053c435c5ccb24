package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the harness's own pieces that need a JVM: the digest and
  * the loader statement classifier. Prints one line per check and exits
  * non-zero if any fails. Run by `test_perfbench.py`.
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(2, args.headOption.getOrElse("."))
    import spark.implicits._
    var failed = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
      println(s"${if (pass) "ok" else "FAIL"} $name")
      if (!pass) failed += 1
    }

    val df = Seq((1, "a", 1.5), (2, "b", 2.5), (3, null, 3.5), (3, null, 3.5))
      .toDF("k", "s", "x")
    val d = Digest.of(df)
    check("digest counts every row, duplicates included")(d.startsWith("4:"))
    check("digest ignores row order and partitioning")(
      Digest.of(df.orderBy(desc("k")).repartition(3)) == d)
    check("digest sees a change in any column")(Seq(
      df.withColumn("k", when($"k" === 2, 9).otherwise($"k")),
      df.withColumn("s", when($"k" === 1, "z").otherwise($"s")),
      df.withColumn("x", when($"k" === 3, 0.0).otherwise($"x"))).forall(Digest.of(_) != d))
    check("digest sees a dropped duplicate")(Digest.of(df.distinct()) != d)
    check("digest of an empty result")(Digest.of(df.limit(0)) == "0:0")
    check("digest takes duplicate column names")(
      Digest.of(df.select($"k", $"k")) == Digest.of(df.select($"k", $"k".as("k2"))))
    val maps = Seq((1, Map("a" -> 1)), (2, Map("b" -> 2))).toDF("k", "m")
    check("digest hashes map columns")(
      Digest.of(maps) != Digest.of(maps.withColumn("m", map(lit("a"), lit(2)))))

    check("classifier: conditional insert")(JdbcTrace.kind(
      "INSERT INTO t (a) SELECT ? FROM SYSIBM.SYSDUMMY1 WHERE NOT EXISTS (SELECT 1)") == "insert")
    check("classifier: insert check read")(JdbcTrace.kind("SELECT DISTINCT a, b FROM t") == "check")
    check("classifier: key retrieval")(JdbcTrace.kind("SELECT id as t_id, a FROM t") == "retrieve")
    check("classifier: reconstruction")(JdbcTrace.kind(
      "SELECT\nt.a as \"a\"\nFROM t\nLEFT JOIN u ON t.u_id = u.id") == "compare")

    spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
