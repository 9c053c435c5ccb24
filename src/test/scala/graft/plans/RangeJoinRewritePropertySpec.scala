package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkSpec}

/** Seeded randomized equivalence for [[RangeJoinRewrite]]: across
  * random points/intervals (including inverted and empty intervals,
  * negative values, and varied bin widths) the rewritten plans must
  * produce EXACTLY the multiset a driver-side nested loop produces —
  * ground truth never touches Spark, so the rule cannot influence it.
  */
class RangeJoinRewritePropertySpec extends AnyFunSuite with SparkSpec {

  private def withExtendedSession[T](f: SparkSession => T): T =
    f(GraftSession.withExtensions(spark))

  test("rewritten point and overlap joins equal driver-side nested loops on random data") {
    withExtendedSession { s =>
      val rnd = new scala.util.Random(20260813L)
      for (trial <- 0 until 6) {
        val bw = Seq(1L, 7L, 32L, 500L)(trial % 4)
        s.conf.set("spark.graft.rangeJoin.binWidth", bw.toString)
        val pts = (0 until 60).map(i =>
          (i.toLong, rnd.nextLong() % 400L)) // negatives included
        val ivs = (0 until 25).map(i =>
          { val lo = rnd.nextLong() % 400L
            // ~1 in 5 inverted (empty for the point shape)
            val hi = if (rnd.nextInt(5) == 0) lo - 1 - rnd.nextInt(50)
                     else lo + rnd.nextInt(120)
            (i.toLong, lo, hi) })
        val p = s.createDataFrame(
          s.sparkContext.parallelize(pts.map(x => Row(x._1, x._2)), 3),
          StructType(Seq(StructField("pid", LongType), StructField("p", LongType))))
        val iv = s.createDataFrame(
          s.sparkContext.parallelize(ivs.map(x => Row(x._1, x._2, x._3)), 2),
          StructType(Seq(StructField("iid", LongType),
            StructField("lo", LongType), StructField("hi", LongType))))

        // --- point-in-interval, inner ---
        val inner = p.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
          .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
        val innerExp = for {
          (pid, pv) <- pts; (iid, lo, hi) <- ivs
          if pv >= lo && pv <= hi
        } yield (pid, iid)
        assert(inner.sorted.toSeq === innerExp.sorted.toSeq,
          s"inner mismatch (trial $trial bw $bw)")

        // --- point-in-interval, left outer (points preserved) ---
        val louter = p.join(iv,
          col("p") >= col("lo") && col("p") <= col("hi"), "left")
          .select("pid", "iid").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        val matched = innerExp.map(_._1).toSet
        val louterExp = innerExp.map { case (a, b) => (a, b) } ++
          pts.map(_._1).filterNot(matched).map(pid => (pid, -1L))
        assert(louter.sorted.toSeq === louterExp.sorted.toSeq,
          s"left outer mismatch (trial $trial bw $bw)")

        // --- interval overlap (both sides filtered -> constraint proven) ---
        val l = iv.filter(col("lo") <= col("hi"))
        val r2 = iv.select(col("iid").as("jid"),
            col("lo").as("lo2"), col("hi").as("hi2"))
          .filter(col("lo2") <= col("hi2"))
        val ov = l.join(r2, col("lo") <= col("hi2") && col("lo2") <= col("hi"))
          .select("iid", "jid").collect().map(r => (r.getLong(0), r.getLong(1)))
        val valid = ivs.filter(x => x._2 <= x._3)
        val ovExp = for {
          (a, alo, ahi) <- valid; (b, blo, bhi) <- valid
          if alo <= bhi && blo <= ahi
        } yield (a, b)
        assert(ov.sorted.toSeq === ovExp.sorted.toSeq,
          s"overlap mismatch (trial $trial bw $bw)")
      }
    }
  }
}
