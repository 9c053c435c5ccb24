package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Integer PageRank: symmetry, hub concentration, the exact
  * micro-unit recurrence on a hand graph, and co-citation edge
  * construction.
  */
class LinkAnalysisSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("2-node cycle stays symmetric at the fixed point") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val out = LinkAnalysis.pageRank(edges, iters = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("a") == out("b"))
    // fixed point of r = 150000 + 85*r div 100 is 1_000_000
    assert(out("a") == 1000000L)
  }

  test("hand-computed recurrence on a 3-node chain with a dangling sink") {
    // a -> b -> c; c dangles (leaks mass)
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val out = LinkAnalysis.pageRank(edges, iters = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // iter1: a=150000, b=150000+85*1e6 div 100=1000000, c=1000000
    // iter2: a=150000, b=150000+(85*150000) div 100=277500,
    //        c=150000+(85*1000000) div 100=1000000
    assert(out == Map("a" -> 150000L, "b" -> 277500L, "c" -> 1000000L))
  }

  test("star graph concentrates rank at the hub") {
    val spokes = (1 to 8).map(i => s"s$i")
    val edges = (spokes.map(s => (s, "hub")) ++ spokes.map(s => ("hub", s)))
      .toDF("src", "dst")
    val out = LinkAnalysis.pageRank(edges, iters = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spokes.forall(s => out("hub") > 3 * out(s)))
  }

  test("HITS: symmetric cycle is a fixed point at the 1e6 ceiling") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val out = LinkAnalysis.hits(edges, iters = 4).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set(("a", 1000000L, 1000000L),
      ("b", 1000000L, 1000000L)))
  }

  test("HITS: a star's center is the top authority, spokes the hubs") {
    val spokes = (1 to 6).map(i => s"s$i")
    val edges = spokes.map(s => (s, "ctr")).toDF("src", "dst")
    val out = LinkAnalysis.hits(edges, iters = 5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // center: max authority (1e6 after rescale), zero hub (no out-edges)
    assert(out("ctr") == (0L, 1000000L))
    // spokes: max hubs, zero authority
    spokes.foreach(s => assert(out(s) == (1000000L, 0L), s"$s -> ${out(s)}"))
  }

  test("HITS: only the returned frame's checkpoint outlives the call") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val spokes = (1 to 6).map(i => s"s$i")
    val edges = spokes.map(s => (s, "ctr")).toDF("src", "dst")
    val out = LinkAnalysis.hits(edges, iters = 3)
    assert(out.count() == 7)
    val kept = sc.getPersistentRDDs.keySet.diff(before)
    assert(kept.size <= 1, s"persisted RDDs left behind: $kept")
    kept.foreach(id => sc.getPersistentRDDs(id).unpersist(false))
  }

  test("triangles: K4 has 4, a path has 0, duplicates/directions collapse") {
    val k4 = (for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a != b
    } yield (a, b)).toDF("src", "dst") // both directions + all pairs
    val got = LinkAnalysis.triangles(k4).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == (4L, 6L, 4L))
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    assert(LinkAnalysis.triangles(path).head().getLong(2) == 0L)
  }

  test("triangles: hub fan with one closing edge counts exactly once") {
    // star a-{b,c,d,e} plus edge b-c: exactly one triangle (a,b,c),
    // regardless of which endpoint the orientation picks as source
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
      ("b", "c")).toDF("src", "dst")
    val got = LinkAnalysis.triangles(edges).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == (5L, 5L, 1L))
  }

  test("cocitationEdges: per-doc distinct, both directions, no self") {
    val urls = Seq((1L, "x.com"), (1L, "x.com"), (1L, "y.com"),
      (2L, "x.com"), (3L, "z.com")).toDF("id", "domain")
    val edges = LinkAnalysis.cocitationEdges(urls).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("x.com", "y.com"), ("y.com", "x.com")))
  }

  test("trianglesPerVertex: K4 corners carry 3 each, a pendant carries 0") {
    // K4 on {a,b,c,d} (each vertex in 3 triangles) + pendant e-a
    val k4 = for {
      x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
      if x < y
    } yield (x, y)
    val edges = (k4 :+ ("a", "e")).toDF("src", "dst")
    val got = LinkAnalysis.trianglesPerVertex(edges).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "a" -> (4L, 3L), "b" -> (3L, 3L), "c" -> (3L, 3L),
      "d" -> (3L, 3L), "e" -> (1L, 0L)))
  }

  test("kCorePeel: pendant chain sheds, the clique core survives with in-core degrees") {
    // triangle {a,b,c} + chain c-d-e: d and e peel at k=2 (e first,
    // then d), the triangle survives with degree 2 each
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("c", "d"), ("d", "e")).toDF("src", "dst")
    val got = LinkAnalysis.kCorePeel(edges, k = 2, rounds = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kCorePeel: bounded rounds stop where the spec says, not at the fixpoint") {
    // chain a-b-c-d-e at k=2: each round peels only the current
    // endpoints, so ONE round leaves the inner chain b-c-d (degree
    // recomputed in the survivor subgraph), while 4 rounds empty it
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val one = LinkAnalysis.kCorePeel(chain, k = 2, rounds = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one == Map("b" -> 1L, "c" -> 2L, "d" -> 1L))
    assert(LinkAnalysis.kCorePeel(chain, k = 2, rounds = 4).isEmpty)
  }

  test("linkPredict: path graph predicts the two-hop pair with exact RA weight") {
    // path a-b-c: (a, c) share only b (deg 2) -> n_common 1,
    // ra = 1000000 div 2; the adjacent pairs are anti-joined away
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val got = LinkAnalysis.linkPredict(edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "c", 1L, 500000L)))
  }

  test("linkPredict: shared-neighbor count and RA sum over a double wedge") {
    // a and d share b (deg 2) and c (deg 3, extra pendant e):
    // n_common 2, ra = 500000 + 333333; e-a and e-d share c only
    val edges = Seq(("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"),
      ("c", "e")).toDF("src", "dst")
    val got = LinkAnalysis.linkPredict(edges).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(("a", "d")) == (2L, 833333L))
    assert(got(("a", "e")) == (1L, 333333L))
    assert(got(("d", "e")) == (1L, 333333L))
    // b and c also share two neighbors (a and d, deg 2 each)
    assert(got(("b", "c")) == (2L, 1000000L))
    assert(got.size == 4)
  }

  test("bfsLayers assigns exact hop distances within the round budget") {
    // path a-b-c-d-e seeded at a: layers 0..3 within 3 rounds; e is
    // 4 hops away and must be ABSENT (distance "> rounds")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val got = LinkAnalysis.bfsLayers(edges, Seq("a"), rounds = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("bfsLayers: multi-source seeds take the minimum distance; cycles don't revisit") {
    // triangle a-b-c plus pendant c-d, seeded at {a, d}: b is 1 from
    // a; c is 1 from both sides — counted once at layer 1
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src", "dst")
    val got = LinkAnalysis.bfsLayers(edges, Seq("a", "d"), rounds = 4)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> 0, "d" -> 0, "b" -> 1, "c" -> 1))
  }

  test("linkPredict: the hub cap excludes wedges through celebrity nodes") {
    // star hub-{s1..s5}: every spoke pair is predicted through the
    // hub at cap >= 5, and NOTHING survives at cap 4 (the hub is the
    // only intermediate) — the fan-out bound is observable behavior
    val edges = (1 to 5).map(i => ("hub", s"s$i")).toDF("src", "dst")
    assert(LinkAnalysis.linkPredict(edges, maxHubDeg = 64).count() == 10L)
    assert(LinkAnalysis.linkPredict(edges, maxHubDeg = 4).isEmpty)
  }
}
