package graft.ann

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** Tasks of this spec run in the test JVM (local mode), so they can
  * signal the driver through a shared latch.
  */
private object NswSignals {
  @volatile var started = new CountDownLatch(1)
}

/** Graph-ANN semantics: the beam walks the graph toward the query's
  * region, saturating beam+rounds recovers the exact top-k, and the
  * build guard bounds the all-pairs arm.
  */
class NswSpec extends AnyFunSuite with SparkSpec {

  private def frame(rows: Seq[(Long, Seq[Float])], cols: (String, String)) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }, 2),
      StructType(Seq(StructField(cols._1, LongType),
        StructField(cols._2, ArrayType(FloatType)))))

  // 12 unit-ish vectors on a circle: angular neighbors are cosine
  // neighbors, so the kNN graph is a ring — beam search must WALK it
  private def circle = (0L until 12L).map { i =>
    val a = i * math.Pi / 6
    (i, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
  }

  test("beam search walks the ring from entry 0 to the far side") {
    val c = frame(circle, ("id", "v"))
    val g = Nsw.knnGraph(c, "id", "v", k = 2) // ring edges
    // query at angle 7π/6 -> true NN is node 7, antipodal to entry 0
    val q = frame(Seq((100L,
      Seq(math.cos(7 * math.Pi / 6).toFloat,
        math.sin(7 * math.Pi / 6).toFloat))), ("id", "v"))
    val got = Nsw.beamSearch(g, c, q, "id", "v",
      beam = 3, rounds = 6, k = 1).collect()
    assert(got.length == 1 && got.head.getLong(1) == 7L,
      s"beam failed to reach node 7: ${got.toSeq}")
  }

  test("too few rounds strands the beam near the entry") {
    val c = frame(circle, ("id", "v"))
    val g = Nsw.knnGraph(c, "id", "v", k = 2)
    val q = frame(Seq((100L,
      Seq(math.cos(7 * math.Pi / 6).toFloat,
        math.sin(7 * math.Pi / 6).toFloat))), ("id", "v"))
    val got = Nsw.beamSearch(g, c, q, "id", "v",
      beam = 2, rounds = 1, k = 1).collect()
    assert(got.head.getLong(1) != 7L) // one hop can't cross the ring
  }

  test("saturated beam + rounds equals the exact top-k") {
    val c = frame(circle, ("id", "v"))
    val g = Nsw.knnGraph(c, "id", "v", k = 3)
    val q = frame(Seq(
      (100L, Seq(0.9f, 0.43f)), (101L, Seq(-0.7f, -0.7f))), ("id", "v"))
    val beam = Nsw.beamSearch(g, c, q, "id", "v",
      beam = 12, rounds = 12, k = 4)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Ann.bruteForceTopK(q, c, "id", "v", k = 4)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(beam == exact)
  }

  test("results are partition-independent") {
    val c = frame(circle, ("id", "v"))
    val g = Nsw.knnGraph(c, "id", "v", k = 2)
    val q = frame(Seq((100L, Seq(0.2f, -0.97f))), ("id", "v"))
    def run(parts: Int) =
      Nsw.beamSearch(g.repartition(parts), c.repartition(parts), q,
        "id", "v", beam = 4, rounds = 4, k = 3)
        .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(run(2) == run(7))
  }

  test("nn-descent: rounds improve edge recall; one group is exact") {
    val c = frame(circle, ("id", "v"))
    def recall(rounds: Int, groups: Int, seeds: Int): Long =
      Nsw.graphRecall(
        Nsw.nnDescentGraph(c, "id", "v", k = 2, rounds, groups, seeds),
        c, "id", "v", k = 2).collect().head.getLong(3)
    // one bucket = all-pairs init = already the exact graph
    assert(recall(0, 1, 1) == 1000000L)
    // 4 buckets x 3 seedings: init misses half the ring edges; two
    // local-join rounds recover the FULL exact graph on this instance
    val r0 = recall(0, 4, 3)
    val r2 = recall(2, 4, 3)
    assert(r0 < 1000000L, s"init unexpectedly exact: $r0")
    assert(r2 == 1000000L, s"descent did not converge: $r0 -> $r2")
  }

  test("nn-descent with ONE seeding is trapped in its init components") {
    // the documented pathology that motivates multi-seed init:
    // disjoint md5 groups are disjoint graph components, and the
    // local join can never merge components — recall stays at zero
    val c = frame(circle, ("id", "v"))
    def recall(rounds: Int): Long =
      Nsw.graphRecall(
        Nsw.nnDescentGraph(c, "id", "v", k = 2, rounds, groups = 6,
          initSeeds = 1),
        c, "id", "v", k = 2).collect().head.getLong(3)
    assert(recall(0) == 0L && recall(3) == 0L)
  }

  test("the graph-build guard raises above maxRows") {
    val c = frame(circle, ("id", "v"))
    val ex = intercept[Exception] {
      Nsw.knnGraph(c, "id", "v", k = 2, maxRows = 5).collect()
    }
    assert(ex.getMessage != null)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refLevel(id: Long): Int =
    md5hex(s"lvl:$id").takeWhile(_ == '0').length

  test("hnswLevel matches the md5 reference and layers shrink ~16x") {
    val ids = (0L until 4000L)
    val got = frame(ids.map(i => (i, Seq(1.0f, 0.0f))), ("id", "v"))
      .select(col("id"), Nsw.hnswLevel(col("id")).as("lvl"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === ids.map(i => i -> refLevel(i)).toMap)
    val upper = got.values.count(_ >= 1)
    // 4000/16 = 250 expected; allow generous binomial slack
    assert(upper > 150 && upper < 380, s"upper layer size $upper")
  }

  test("beamSearch entries plumbing: constant min-id entries equal the flat search") {
    val c = frame(circle, ("id", "v"))
    val g = Nsw.knnGraph(c, "id", "v", k = 2)
    val q = frame(Seq(
      (100L, Seq(math.cos(7 * math.Pi / 6).toFloat,
        math.sin(7 * math.Pi / 6).toFloat)),
      (101L, Seq(math.cos(2 * math.Pi / 6).toFloat,
        math.sin(2 * math.Pi / 6).toFloat))), ("id", "v"))
    def rows(entries: Option[org.apache.spark.sql.DataFrame]) =
      Nsw.beamSearch(g, c, q, "id", "v", beam = 3, rounds = 6, k = 2,
        entries = entries)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val flat = rows(None)
    val viaEntries = rows(Some(
      q.select(col("id").as("query_id"), lit(0L).as("node"))))
    assert(viaEntries === flat)
  }

  test("hnswSearch falls back to the flat entry on an empty upper layer") {
    // pick 8 circle ids whose level is 0 — the upper layer is empty
    // by construction, so hnswSearch must equal the flat beamSearch
    val ids = (0L until 200L).filter(refLevel(_) == 0).take(8)
    val pts = ids.zipWithIndex.map { case (id, i) =>
      val a = i * math.Pi / 4
      (id, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    val c = frame(pts, ("id", "v"))
    val q = frame(Seq((1000L, Seq(0.9f, -0.4f))), ("id", "v"))
    def graphOf(df: org.apache.spark.sql.DataFrame) =
      Nsw.knnGraph(df, "id", "v", k = 2)
    val hnsw = Nsw.hnswSearch(c, q, "id", "v", graphOf(_),
        beam = 3, rounds = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val flat = Nsw.beamSearch(graphOf(c), c, q, "id", "v",
        beam = 3, rounds = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hnsw === flat)
  }

  test("hnswSearch: a failing upper-layer chain cancels the base-graph build") {
    val n = 64
    val c = frame((0L until n.toLong).map { i =>
      val a = 2 * math.Pi * i / n
      (i, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }, ("id", "v"))
    val q = frame(Seq((1000L, Seq(1.0f, 0.0f))), ("id", "v"))
    val sc = spark.sparkContext
    NswSignals.started = new CountDownLatch(1)
    // the base build runs a job that would take a minute; the upper
    // chain fails once that job runs
    def graphOf(df: DataFrame): DataFrame =
      if (df eq c) {
        sc.parallelize(1 to 2, 2).map { x =>
          NswSignals.started.countDown()
          Thread.sleep(60000)
          x
        }.count()
        Nsw.knnGraph(df, "id", "v", k = 2)
      } else {
        assert(NswSignals.started.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("upper layer fails")
      }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      Nsw.hnswSearch(c, q, "id", "v", graphOf, beam = 3, rounds = 3, k = 1))
    assert(e.getMessage == "upper layer fails")
    assert((System.nanoTime() - t0) / 1e9 < 30)
    // a cancelled job's end reaches the status store just after its
    // caller wakes
    eventually(timeout(10.seconds)) {
      ListenerBus.drain(sc)
      assert(sc.statusTracker.getActiveJobIds().isEmpty, "the base-graph build still runs")
    }
  }

  test("hnswSearch reaches an antipodal neighbor the flat search cannot (entry locality)") {
    // 64-node ring; the md5 levels put exactly {26, 32, 54} in the
    // upper layer (asserted, so a level-rule change fails loudly).
    // A query AT node 32's angle is 32 ring-hops from the flat
    // entry 0 — unreachable in 3 rounds — but the upper-layer
    // descent hands the base beam node 32 itself as the entry.
    val n = 64
    val uppers = (0L until n).filter(refLevel(_) >= 1)
    assert(uppers === Seq(26L, 32L, 54L), s"level rule moved: $uppers")
    val pts = (0L until n.toLong).map { i =>
      val a = 2 * math.Pi * i / n
      (i, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    val c = frame(pts, ("id", "v"))
    val qa = 2 * math.Pi * 32 / n + 0.01
    val q = frame(Seq((1000L,
      Seq(math.cos(qa).toFloat, math.sin(qa).toFloat))), ("id", "v"))
    def graphOf(df: org.apache.spark.sql.DataFrame) =
      Nsw.knnGraph(df, "id", "v", k = 2)
    val hnsw = Nsw.hnswSearch(c, q, "id", "v", graphOf(_),
      beam = 3, rounds = 3, k = 1).collect()
    assert(hnsw.length == 1 && hnsw.head.getLong(1) == 32L,
      s"descent did not reach node 32: ${hnsw.toSeq}")
    val flat = Nsw.beamSearch(graphOf(c), c, q, "id", "v",
      beam = 3, rounds = 3, k = 1).collect()
    assert(flat.head.getLong(1) != 32L,
      s"flat search reached 32 in 3 rounds — the fixture no longer " +
        s"demonstrates entry locality: ${flat.toSeq}")
  }
}
