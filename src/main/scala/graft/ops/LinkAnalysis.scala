package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Caching.checkpointRdd

/** Link analysis for source-quality scoring — the Common-Crawl-lore
  * pattern: rank hosts by a PageRank-style centrality over the link
  * (here: co-citation) graph and prefer high-centrality sources when
  * curating. The implementation is an ALL-INTEGER power iteration so
  * every intermediate sits under the hash gate:
  *
  *   r_0(v) = 1e6;
  *   contrib(u→v) = r_t(u) div outdeg(u)            (integer div)
  *   r_{t+1}(v)   = 150000 + (85 · Σ contrib) div 100
  *
  * i.e. damping 0.85 and teleport 0.15 in micro-units with
  * floor-division at exactly two pinned points — deterministic with
  * NO floating point anywhere (the usual double-sum order hazard
  * cannot exist). Dangling mass is dropped (nodes with no out-edges
  * leak their rank — the standard simplification; totals are not
  * conserved and the gate pins values, not invariants).
  *
  * Scale shape: each iteration is one edge⋈rank equi-join on `src`
  * + one `dst`-keyed sum — the textbook Pregel-free formulation;
  * ranks are node-sized, edges edge-sized, nothing else
  * materializes. Iteration count is fixed and small (the BPE-round
  * argument); the oracle unrolls the same rounds as chained CTEs.
  */
object LinkAnalysis {

  /** Distinct directed co-citation edges between domains appearing in
    * the same document: `(src, dst)`, both directions, self-pairs
    * excluded. Input: `(id, domain)` URL rows (e.g.
    * [[graft.text.Urls.extractUrls]] output).
    */
  def cocitationEdges(urls: DataFrame): DataFrame = {
    val d = urls.select(col("id"), col("domain")).distinct()
    d.as("a").join(d.as("b"),
        col("a.id") === col("b.id") && col("a.domain") =!= col("b.domain"))
      .select(col("a.domain").as("src"), col("b.domain").as("dst"))
      .distinct()
  }

  /** Integer PageRank over an edge list — see object scaladoc.
    * Output: `(domain, rank_micro)`.
    */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    // each round nests two joins into ONE unexecuted plan — without a
    // lineage cut, analyzer/optimizer cost grows exponentially in
    // iters. The cap bounds the failure mode loudly, and the periodic
    // localCheckpoint (the Bpe.train device) keeps the plan
    // constant-size between cuts, freeing the previous cut's blocks
    require(iters >= 1 && iters <= 100,
      s"iters $iters must be in [1, 100] — PageRank converges in tens " +
        "of rounds; an unbounded count only grows the plan")
    val nodes = edges.select(col("src").as("domain"))
      .union(edges.select(col("dst"))).distinct()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    var prevCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("domain", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("domain"),
          expr("rank_micro div deg").as("c"))
        .groupBy(col("domain")).agg(sum(col("c")).as("in_sum"))
      ranks = nodes.join(contrib, Seq("domain"), "left")
        .select(col("domain"),
          (lit(150000L) +
            expr("85 * coalesce(in_sum, 0L) div 100")).as("rank_micro"))
      if (i % 5 == 0 && i < iters) {
        val cut = ranks.localCheckpoint() // eager: plan → LogicalRDD
        prevCkpt.flatMap(checkpointRdd).foreach(_.unpersist(false))
        prevCkpt = Some(cut)
        ranks = cut
      }
    }
    ranks
  }

  /** Integer HITS (Kleinberg hubs & authorities) over an edge list —
    * PageRank's companion centrality: a good HUB links to many good
    * authorities, a good AUTHORITY is linked from many good hubs
    * (`a ← Σ h(in-neighbors)`, `h ← Σ a(out-neighbors)`). Where the
    * classical algorithm L2-normalizes each half-step (floating
    * point, engine-divergent), this variant rescales to a fixed
    * 10^6 MAXIMUM by floor division — `x·10^6 div max(x)` — which
    * keeps every intermediate an exact BIGINT (scores ≤ 10^6 ·
    * max-degree per half-step, no overflow) and makes the fixed
    * point deterministic, so the whole iteration sits under the hash
    * gate. Scale shape per half-step: one edge⋈score equi-join + one
    * keyed sum + a 1-row max broadcast — same as [[pageRank]], and
    * the same iters cap + periodic localCheckpoint bounds plan
    * growth. Output: `(domain, hub, auth)` in micro-units.
    */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 100,
      s"iters $iters must be in [1, 100] — HITS converges in tens of rounds")
    // materialize the edge list once: every per-iteration job would
    // otherwise recompute the caller's edge derivation (for the
    // co-citation gate, a corpus regexp scan) 2×iters times. At
    // cluster scale an iterative graph algorithm persists its edges
    // as a matter of course.
    val e = edges.localCheckpoint()
    val nodes = e.select(col("src").as("domain"))
      .union(e.select(col("dst"))).distinct().localCheckpoint()
    var scores = nodes
      .withColumn("hub", lit(1000000L)).withColumn("auth", lit(1000000L))
    // every half-step still cuts lineage eagerly (without the cuts
    // the plan doubled per rescale — 67 s of pure analyzer time for 5
    // rounds on a 24-node graph), but the rescale MAX now rides the
    // cut action itself as an OBSERVED metric (CollectMetrics — the
    // Dedup.connectedComponents convergence device) instead of a
    // separate max-aggregate job + broadcast crossJoin per half-step:
    // the loop's cost is driver round-trips (measured: ~330 tasks at
    // peak width 4 on the co-citation gate), so one job per half-step
    // is the floor, and the rescale becomes a LITERAL projection over
    // the checkpointed rows — identical integer arithmetic, no
    // broadcast, no plan growth from the max branch.
    var live = List.empty[org.apache.spark.rdd.RDD[_]]
    def rescaleCut(df: DataFrame, c: String)
        : (DataFrame, Option[org.apache.spark.rdd.RDD[_]]) = {
      val obs = org.apache.spark.sql.Observation()
      val m = df.observe(obs, max(col(c)).as("__mx"))
        .localCheckpoint() // eager: the observation is complete here
      val mx = obs.get.get("__mx").flatMap(Option(_)) match {
        case Some(n: Number) => n.longValue()
        case _ => 1L // empty frame: the projection below has no rows
      }
      (m.withColumn(c, expr(s"$c * 1000000L div ${mx}L")), checkpointRdd(m))
    }
    for (_ <- 1 to iters) {
      val authSum = e
        .join(scores.select(col("domain").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("domain")).agg(sum(col("hub")).as("auth"))
      val (a, aRdd) = rescaleCut(
        nodes.join(authSum, Seq("domain"), "left")
          .select(col("domain"), coalesce(col("auth"), lit(0L)).as("auth")),
        "auth")
      val hubSum = e
        .join(a.select(col("domain").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("domain")).agg(sum(col("auth")).as("hub"))
      val (h, hRdd) = rescaleCut(
        nodes.join(hubSum, Seq("domain"), "left")
          .select(col("domain"), coalesce(col("hub"), lit(0L)).as("hub")),
        "hub")
      // the round's result stays a LAZY node-sized join of the two
      // checkpointed half-steps (each a literal projection over a
      // LogicalRDD, so plan size is constant across rounds); the next
      // round's first cut materializes through it exactly once
      val next = h.join(a, Seq("domain"))
        .select(col("domain"), col("hub"), col("auth"))
      // this round's cuts are materialized: the previous round's
      // blocks are dead — free them now rather than waiting for the
      // GC-driven ContextCleaner
      live.foreach(_.unpersist(false))
      live = List(aRdd, hRdd).flatten
      scores = next
    }
    // cut the result itself, so the last round's two half-step
    // checkpoints, the edges and the nodes can all be freed: only the
    // returned frame's one checkpoint outlives the call
    val out = scores.localCheckpoint()
    (live ++ checkpointRdd(e) ++ checkpointRdd(nodes)).foreach(_.unpersist(false))
    out
  }

  /** Degree-oriented triangle count over an undirected edge set —
    * the clustering-density census (spam link farms and mirror
    * clusters show as triangle-dense neighborhoods; organic link
    * graphs are sparse in triangles relative to edges). Input edges
    * may be directed/duplicated ([[cocitationEdges]] emits both
    * directions); they canonicalize to `src < dst` first.
    *
    * The count uses the standard SKEW-SAFE orientation: every edge
    * points from its lower-`(degree, node)` endpoint to the higher
    * one (a total order, so the oriented graph is acyclic and each
    * triangle has exactly ONE source vertex with two out-edges —
    * counted once, no /3 or /6 correction). Orientation bounds every
    * join fan-out by O(√|E|): a celebrity node of degree millions
    * receives almost all its edges INBOUND, so the wedge join
    * `e1.dst = e2.src` never explodes on it — the reason this shape
    * survives power-law graphs at 100×. Two equi-joins + one count;
    * degrees are one keyed census.
    *
    * Output: one row `(n_nodes, n_edges, n_triangles)`.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val (und, deg, oriented) = orientedCore(edges)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("u"), col("e2.t").as("w"))
    // the closing edge between the two out-neighbors: wedges already
    // order u < w by VALUE, so the lookup joins the canonical a<b
    // undirected set on BOTH columns — a plain hash-joinable
    // equi-pair (an `(u,w) OR (w,u)` probe against the ORIENTED set
    // would be a nested-loop join: OR'd key pairs have no hash key)
    val closed = wedges.join(und
      .select(col("a").as("u"), col("b").as("w")), Seq("u", "w"), "left_semi")
    val nn = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("d")).as("sum_d"))
    closed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(nn))
      .select(col("n_nodes"),
        expr("sum_d div 2").as("n_edges"), col("n_triangles"))
  }

  /** The shared skeleton of the triangle family: canonical `a < b`
    * undirected edge set, the degree census, and the degree-oriented
    * edge set (see [[triangles]] for why orientation bounds wedge
    * fan-out by O(√|E|) on power-law graphs).
    */
  private def orientedCore(
      edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient by (degree, node): lower endpoint -> higher endpoint
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    (und, deg, oriented)
  }

  /** Per-vertex (local) triangle counts — WHICH domains are
    * triangle-dense, the actionable form of [[triangles]]'s global
    * census (a spam-farm hunt needs the dense vertices, not just the
    * corpus total). Same oriented-wedge plan; each closed wedge
    * `(s, u, w)` is one triangle crediting all three corners, so the
    * per-vertex tally is a 3-way explode + keyed count over the
    * triangle set (output-sized, never edge×edge). Zero-triangle
    * nodes survive through the degree left join — the contrast
    * between high degree and zero closure is itself the signal.
    *
    * Output: `(domain, degree, n_triangles)`, one row per node.
    */
  def trianglesPerVertex(edges: DataFrame): DataFrame = {
    val (und, deg, oriented) = orientedCore(edges)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("s"), col("e1.t").as("u"), col("e2.t").as("w"))
    val tri = wedges.join(und
      .select(col("a").as("u"), col("b").as("w")), Seq("u", "w"), "left_semi")
    val perV = tri
      .select(explode(array(col("s"), col("u"), col("w"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    deg.join(perV, Seq("v"), "left")
      .select(col("v").as("domain"), col("d").as("degree"),
        coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** Bounded-round k-core peel over an undirected edge set — which
    * nodes sit inside a DENSE CORE, the third member of the spam-farm
    * toolkit beside [[trianglesPerVertex]] (local closure) and
    * [[hits]] (mutual reinforcement): farms survive high-k peels,
    * organically-linked spokes shed in the first rounds. Each round
    * recomputes degrees over the surviving edge set, keeps nodes with
    * degree ≥ k, and restricts edges to kept endpoints.
    *
    * `rounds` is part of the operator's SPEC (both the Spark side and
    * the oracle compute the identical R-round peel — the pageRank
    * `iters` convention): the planted test graph converges well
    * inside R, and a production caller raises R or loops the same
    * per-round plan to fixpoint via an emptiness check.
    *
    * 100 TB shape: one keyed degree census + two semi joins per
    * round, everything equi-keyed on the node; lineage cut every 3
    * rounds (the HITS localCheckpoint lesson — each round references
    * the previous frame three times, so the plan would otherwise grow
    * 3^R). Output: surviving `(domain, degree)`, degree measured in
    * the surviving subgraph.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(rounds >= 1 && rounds <= 64, s"rounds $rounds out of [1, 64]")
    // cut lineage at ENTRY, not just mid-loop: every round references
    // the previous frame three times (census union twice + the
    // restricted join), so an uncut chain re-executes the upstream
    // edge construction — typically a full corpus scan (URL regex +
    // explode) — 3^depth times. Checkpointing the canonical edge set
    // first makes every reference a scan of a small materialized RDD.
    var cur = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    for (i <- 1 to rounds) {
      val keep = cur.select(col("a").as("v")).union(cur.select(col("b")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("v"))
      cur = cur
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
      if (i % 2 == 0 && i < rounds) cur = cur.localCheckpoint(true)
    }
    cur.select(col("a").as("v")).union(cur.select(col("b")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
      .select(col("v").as("domain"), col("degree"))
  }

  /** DuckDB rendering of [[cocitationEdges]] + [[kCorePeel]] over URL
    * rows produced by `urlRowsSql` (must yield `(id, domain)`) —
    * rounds unrolled as MATERIALIZED CTE stages, the [[hitsSql]]
    * device.
    */
  def kCorePeelSql(urlRowsSql: String, k: Int, rounds: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""u AS MATERIALIZED (SELECT DISTINCT id, domain FROM ($urlRowsSql) q),
         |e0 AS MATERIALIZED (SELECT DISTINCT
         |    least(a.domain, b.domain) AS a, greatest(a.domain, b.domain) AS b
         |  FROM u a JOIN u b ON a.id = b.id AND a.domain <> b.domain)""".stripMargin)
    for (i <- 1 to rounds) {
      parts += s"""k$i AS MATERIALIZED (SELECT v FROM (
                  |    SELECT v, count(*) AS d FROM (SELECT a AS v FROM e${i - 1}
                  |      UNION ALL SELECT b FROM e${i - 1}) x$i GROUP BY v) dd$i
                  |  WHERE d >= $k)""".stripMargin
      parts += s"""e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
                  |  WHERE a IN (SELECT v FROM k$i)
                  |    AND b IN (SELECT v FROM k$i))""".stripMargin
    }
    "WITH " + parts.mkString(",\n") +
      s""",
         |fd AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
         |    SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds) xf
         |  GROUP BY v)
         |SELECT v AS domain, degree FROM fd ORDER BY domain""".stripMargin
  }

  /** DuckDB rendering of [[cocitationEdges]] + [[trianglesPerVertex]]
    * over URL rows produced by `urlRowsSql` (must yield
    * `(id, domain)`).
    */
  def trianglesPerVertexSql(urlRowsSql: String): String =
    s"""WITH u AS MATERIALIZED (SELECT DISTINCT id, domain
       |  FROM ($urlRowsSql) q),
       |und AS MATERIALIZED (SELECT DISTINCT
       |    least(a.domain, b.domain) AS a, greatest(a.domain, b.domain) AS b
       |  FROM u a JOIN u b ON a.id = b.id AND a.domain <> b.domain),
       |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) x
       |  GROUP BY v),
       |o AS MATERIALIZED (SELECT
       |    CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
       |         THEN und.a ELSE und.b END AS s,
       |    CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
       |         THEN und.b ELSE und.a END AS t
       |  FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v),
       |w3 AS (SELECT e1.s AS s, e1.t AS u, e2.t AS w FROM o e1
       |  JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t),
       |tri AS (SELECT * FROM w3 WHERE EXISTS (SELECT 1 FROM und
       |  WHERE und.a = w3.u AND und.b = w3.w)),
       |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT s AS v FROM tri UNION ALL SELECT u FROM tri
       |    UNION ALL SELECT w FROM tri) x GROUP BY v)
       |SELECT deg.v AS domain, deg.d AS degree,
       |  CAST(coalesce(pv.n, 0) AS BIGINT) AS n_triangles
       |FROM deg LEFT JOIN pv ON deg.v = pv.v
       |ORDER BY domain""".stripMargin

  /** DuckDB rendering of [[cocitationEdges]] + [[triangles]] over URL
    * rows produced by `urlRowsSql` (must yield `(id, domain)`).
    */
  def trianglesSql(urlRowsSql: String): String =
    s"""WITH u AS MATERIALIZED (SELECT DISTINCT id, domain
       |  FROM ($urlRowsSql) q),
       |und AS MATERIALIZED (SELECT DISTINCT
       |    least(a.domain, b.domain) AS a, greatest(a.domain, b.domain) AS b
       |  FROM u a JOIN u b ON a.id = b.id AND a.domain <> b.domain),
       |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) x
       |  GROUP BY v),
       |o AS MATERIALIZED (SELECT
       |    CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
       |         THEN und.a ELSE und.b END AS s,
       |    CASE WHEN da.d < db.d OR (da.d = db.d AND und.a < und.b)
       |         THEN und.b ELSE und.a END AS t
       |  FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v),
       |wedge AS (SELECT e1.t AS u, e2.t AS w FROM o e1
       |  JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t),
       |tri AS (SELECT * FROM wedge WHERE EXISTS (SELECT 1 FROM und
       |  WHERE und.a = wedge.u AND und.b = wedge.w))
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       |  (SELECT CAST(SUM(d) // 2 AS BIGINT) FROM deg) AS n_edges,
       |  (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles""".stripMargin

  /** DuckDB rendering of [[cocitationEdges]] + [[hits]] over URL rows
    * produced by `urlRowsSql` (must yield `(id, domain)`).
    */
  def hitsSql(urlRowsSql: String, iters: Int = 5): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""u AS MATERIALIZED (SELECT DISTINCT id, domain FROM ($urlRowsSql) q),
         |edges AS MATERIALIZED (SELECT DISTINCT a.domain AS src, b.domain AS dst
         |  FROM u a JOIN u b ON a.id = b.id AND a.domain <> b.domain),
         |nodes AS MATERIALIZED (SELECT src AS domain FROM edges
         |  UNION SELECT dst FROM edges),
         |s0 AS MATERIALIZED (SELECT domain, CAST(1000000 AS BIGINT) AS hub,
         |  CAST(1000000 AS BIGINT) AS auth FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      parts += s"""ar$i AS MATERIALIZED (SELECT n.domain,
                  |    CAST(coalesce(t.s, 0) AS BIGINT) AS auth
                  |  FROM nodes n LEFT JOIN (SELECT e.dst AS domain,
                  |      SUM(s.hub) AS s FROM edges e
                  |      JOIN s${i - 1} s ON e.src = s.domain
                  |      GROUP BY e.dst) t ON n.domain = t.domain)""".stripMargin
      parts += s"""a$i AS MATERIALIZED (SELECT domain, CAST(auth * 1000000 //
                  |    (SELECT MAX(auth) FROM ar$i) AS BIGINT) AS auth
                  |  FROM ar$i)""".stripMargin
      parts += s"""hr$i AS MATERIALIZED (SELECT n.domain,
                  |    CAST(coalesce(t.s, 0) AS BIGINT) AS hub
                  |  FROM nodes n LEFT JOIN (SELECT e.src AS domain,
                  |      SUM(a.auth) AS s FROM edges e
                  |      JOIN a$i a ON e.dst = a.domain
                  |      GROUP BY e.src) t ON n.domain = t.domain)""".stripMargin
      parts += s"""s$i AS MATERIALIZED (SELECT h.domain, CAST(h.hub * 1000000 //
                  |    (SELECT MAX(hub) FROM hr$i) AS BIGINT) AS hub, a.auth
                  |  FROM hr$i h JOIN a$i a ON h.domain = a.domain)""".stripMargin
    }
    "WITH " + parts.mkString(",\n") +
      s"\nSELECT domain, hub, auth FROM s$iters ORDER BY domain"
  }

  /** DuckDB rendering of [[cocitationEdges]] + [[pageRank]] over URL
    * rows produced by `urlRowsSql` (must yield `(id, domain)`).
    */
  def pageRankSql(urlRowsSql: String, iters: Int = 5): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""u AS (SELECT DISTINCT id, domain FROM ($urlRowsSql) q),
         |edges AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
         |  FROM u a JOIN u b ON a.id = b.id AND a.domain <> b.domain),
         |nodes AS (SELECT src AS domain FROM edges
         |  UNION SELECT dst FROM edges),
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT domain, CAST(1000000 AS BIGINT) AS rank_micro
         |  FROM nodes)""".stripMargin)
    for (i <- 1 to iters) {
      parts += s"""c$i AS (SELECT e.dst AS domain,
                  |    CAST(SUM(r.rank_micro // o.deg) AS BIGINT) AS in_sum
                  |  FROM edges e
                  |  JOIN r${i - 1} r ON e.src = r.domain
                  |  JOIN outdeg o ON e.src = o.src
                  |  GROUP BY e.dst)""".stripMargin
      parts += s"""r$i AS (SELECT n.domain,
                  |    CAST(150000 + 85 * coalesce(c.in_sum, 0) // 100 AS BIGINT)
                  |      AS rank_micro
                  |  FROM nodes n LEFT JOIN c$i c ON n.domain = c.domain)""".stripMargin
    }
    "WITH " + parts.mkString(",\n") +
      s"\nSELECT domain, rank_micro FROM r$iters ORDER BY domain"
  }

  /** Link prediction over an undirected edge set — which NON-adjacent
    * domain pairs look like they belong together, the curation signal
    * for "likely same publisher / likely mirror" before any content
    * comparison runs. Two classic neighborhood indices per candidate
    * pair `(u, w)`:
    *
    *   - `n_common`  — common-neighbor count |Γ(u) ∩ Γ(w)|;
    *   - `ra_micro`  — the Resource Allocation index
    *     Σ_{z ∈ Γ(u)∩Γ(w)} 1/deg(z) (Zhou, Lü & Zhang 2009), in
    *     integer micro-units `1000000 div deg(z)` so the sum is exact
    *     BIGINT — no double-sum order hazard under the hash gate.
    *
    * Candidates are generated THROUGH the shared neighbor: the
    * adjacency list self-joined on z emits one wedge per neighbor
    * pair, so the fan-out per intermediate node is deg(z)², the
    * classic hub hazard. The `maxHubDeg` cap is part of the operator
    * SPEC (both engines exclude wedges through nodes with
    * deg > cap): on power-law graphs the celebrity hubs contribute
    * RA weight ≤ 1e6/cap each — negligible by construction — while
    * costing the square of a million-degree fan-out. This is the
    * standard top-degree truncation used by production
    * people-you-may-know pipelines; the cap bounds per-node work at
    * cap² regardless of corpus size.
    *
    * Scale shape: one degree census, one bounded self-join, one
    * keyed sum, one hash anti-join against the existing edge set —
    * no all-pairs anywhere; output is candidate-sized.
    *
    * Output: `(u, w, n_common, ra_micro)` for non-adjacent pairs
    * with at least `minCommon` shared neighbors, `u < w`.
    */
  def linkPredict(
      edges: DataFrame, maxHubDeg: Int = 64,
      minCommon: Long = 1L): DataFrame = {
    require(maxHubDeg >= 2 && maxHubDeg <= 1000000,
      s"maxHubDeg $maxHubDeg out of [2, 1e6] — the cap bounds wedge " +
        "fan-out at cap^2 per node; an unbounded cap re-opens the " +
        "celebrity-hub explosion")
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val adj = und.select(col("a").as("z"), col("b").as("n"))
      .union(und.select(col("b"), col("a")))
    val small = adj
      .join(deg.filter(col("d") <= maxHubDeg)
        .select(col("v").as("z"), col("d")), Seq("z"))
      .withColumn("ra", expr("1000000L div d"))
    val wedge = small.as("x")
      .join(small.as("y"),
        col("x.z") === col("y.z") && col("x.n") < col("y.n"))
      .select(col("x.n").as("u"), col("y.n").as("w"), col("x.ra").as("ra"))
    wedge.groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("n_common"), sum(col("ra")).as("ra_micro"))
      .join(und.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"), "left_anti")
      .filter(col("n_common") >= minCommon)
  }

  /** Bounded-round multi-source BFS over an undirected edge set —
    * hop-distance layers from a seed set, the "how far is everything
    * from the known-bad (or known-good) core" census: seed domains at
    * layer 0, each round's frontier is the unvisited neighborhood of
    * the previous frontier. `rounds` is part of the operator SPEC on
    * both engines (the [[kCorePeel]] convention — unreached nodes are
    * simply absent, their distance is "> rounds").
    *
    * 100 TB shape per round: one adjacency semi join on the frontier
    * + one anti join against the visited set (both node-sized, hash
    * equi-joins), then an eager `localCheckpoint` — the visited
    * frame is referenced twice per round (union + anti join), so an
    * uncut chain re-executes the upstream edge construction 2^depth
    * times (the [[kCorePeel]] lesson). Frontier size is bounded by
    * the graph's expansion, never the corpus.
    *
    * Output: `(domain, layer)` for every node within `rounds` hops.
    */
  def bfsLayers(
      edges: DataFrame, seeds: Seq[String], rounds: Int): DataFrame = {
    require(seeds.nonEmpty, "bfsLayers: empty seed set")
    require(rounds >= 1 && rounds <= 64, s"rounds $rounds out of [1, 64]")
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = und.select(col("a").as("v"), col("b").as("n"))
      .union(und.select(col("b"), col("a")))
      .localCheckpoint(true)
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = seeds.toDF("v").distinct()
      .withColumn("layer", lit(0)).localCheckpoint(true)
    var frontier = visited.select(col("v"))
    for (i <- 1 to rounds) {
      val nxt = adj.join(frontier, Seq("v"), "left_semi")
        .select(col("n").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
      visited = visited.union(nxt.withColumn("layer", lit(i)))
        .localCheckpoint(true)
      frontier = nxt
    }
    visited.select(col("v").as("domain"), col("layer"))
  }

  /** DuckDB rendering of [[cocitationEdges]] + [[bfsLayers]] over URL
    * rows produced by `urlRowsSql` — rounds unrolled as MATERIALIZED
    * CTE stages (the [[kCorePeelSql]] device).
    */
  def bfsLayersSql(
      urlRowsSql: String, seeds: Seq[String], rounds: Int): String = {
    val seedVals = seeds.distinct
      .map(s => s"('${s.replace("'", "''")}')").mkString(", ")
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""u AS MATERIALIZED (SELECT DISTINCT id, domain FROM ($urlRowsSql) q),
         |und AS MATERIALIZED (SELECT DISTINCT
         |    least(a.domain, b.domain) AS a, greatest(a.domain, b.domain) AS b
         |  FROM u a JOIN u b ON a.id = b.id AND a.domain <> b.domain),
         |adj AS MATERIALIZED (SELECT a AS v, b AS n FROM und
         |  UNION ALL SELECT b, a FROM und),
         |vis0 AS MATERIALIZED (SELECT v, 0 AS layer
         |  FROM (VALUES $seedVals) s(v)),
         |f0 AS MATERIALIZED (SELECT v FROM vis0)""".stripMargin)
    for (i <- 1 to rounds) {
      parts += s"""f$i AS MATERIALIZED (SELECT DISTINCT adj.n AS v
                  |  FROM adj JOIN f${i - 1} f ON adj.v = f.v
                  |  WHERE adj.n NOT IN (SELECT v FROM vis${i - 1}))""".stripMargin
      parts += s"""vis$i AS MATERIALIZED (SELECT v, layer FROM vis${i - 1}
                  |  UNION ALL SELECT v, $i FROM f$i)""".stripMargin
    }
    "WITH " + parts.mkString(",\n") +
      s"\nSELECT v AS domain, layer FROM vis$rounds ORDER BY domain"
  }

  /** DuckDB rendering of [[cocitationEdges]] + [[linkPredict]] over
    * URL rows produced by `urlRowsSql` (must yield `(id, domain)`).
    */
  def linkPredictSql(
      urlRowsSql: String, maxHubDeg: Int = 64,
      minCommon: Long = 1L): String =
    s"""WITH u AS MATERIALIZED (SELECT DISTINCT id, domain
       |  FROM ($urlRowsSql) q),
       |und AS MATERIALIZED (SELECT DISTINCT
       |    least(a.domain, b.domain) AS a, greatest(a.domain, b.domain) AS b
       |  FROM u a JOIN u b ON a.id = b.id AND a.domain <> b.domain),
       |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS d
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) x
       |  GROUP BY v),
       |adj AS MATERIALIZED (SELECT a AS z, b AS n FROM und
       |  UNION ALL SELECT b, a FROM und),
       |sm AS MATERIALIZED (SELECT adj.z, adj.n, deg.d
       |  FROM adj JOIN deg ON adj.z = deg.v WHERE deg.d <= $maxHubDeg),
       |wedge AS (SELECT x.n AS u, y.n AS w,
       |    CAST(1000000 // x.d AS BIGINT) AS ra
       |  FROM sm x JOIN sm y ON x.z = y.z AND x.n < y.n),
       |cand AS (SELECT u, w, CAST(count(*) AS BIGINT) AS n_common,
       |    CAST(SUM(ra) AS BIGINT) AS ra_micro
       |  FROM wedge GROUP BY u, w)
       |SELECT u, w, n_common, ra_micro FROM cand
       |WHERE NOT EXISTS (SELECT 1 FROM und
       |    WHERE und.a = cand.u AND und.b = cand.w)
       |  AND n_common >= $minCommon
       |ORDER BY u, w""".stripMargin
}
