package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Fixtures._

/** Sources, sinks and sketches (`s_`): format round-trips, graph and
  * sketch operators, data-quality audits, scan pruning.
  */
private[gates] object SourcesGates {

  /** `(id, domain)` URL rows of the [[plantedUrls]] corpus — the
    * shared oracle core for the domain-graph centrality gates
    * (`s_domain_rank` PageRank, `s_domain_hits` HITS).
    */
  private val plantedDomainRowsSql: String =
    """WITH d AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN text
      |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
      |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
      |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
      |                 ELSE '' END END AS text
      |  FROM documents),
      |uu AS (SELECT doc_id AS id,
      |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
      |  FROM d)
      |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
      |FROM uu""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("s_profile", (s, dir) => {
      // one-pass column audit (single Expand-widened agg, unpivoted
      // without touching the driver); gated columns are int/string
      // only — double/timestamp STRING renderings differ cross-engine
      graft.ops.Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")
    },
      {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
           |CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }),
    Gate("s_erasure_plan", (s, dir) => {
      // GDPR erasure work order: events sharded BY SUBJECT (user div
      // 10), erase requests for user_id % 37 = 0 — the plan shows the
      // subject-clustered layout localizing each request to its own
      // shard (5 rewrites of 15) instead of smearing across all; the
      // request batch broadcasts, censuses are map-combined
      val ev = t(s, dir, "events")
      graft.ops.Anonymize.erasurePlan(
        ev.select(col("user_id")),
        expr("user_id div 10"), "user_id",
        ev.filter(col("user_id") % 37 === 0).select(col("user_id")))
        .orderBy("shard")
    },
      (graft.ops.Anonymize.erasurePlanSql(
        "events", "user_id // 10", "user_id",
        "SELECT user_id AS k FROM events WHERE user_id % 37 = 0") +
        "\nORDER BY 1")), // r.shard; bare `shard` is ambiguous post-join
    Gate("s_schema_compat", (s, dir) => {
      // data-contract gate: schema manifests of two table versions
      // full-outer diffed under the registry compat rules. The plant
      // exercises every change kind — widened fk, dropped comment,
      // narrowed price (retyped), loosened/tightened nullability,
      // and both added flavors (nullable ok, required breaks forward)
      import s.implicits._
      val prev = Seq(
        ("o_orderkey", "bigint", false), ("o_custkey", "int", false),
        ("o_comment", "string", true), ("o_totalprice", "double", true),
        ("o_clerk", "string", false), ("o_orderstatus", "string", true))
        .toDF("col_name", "dtype", "nullable")
      val next = Seq(
        ("o_orderkey", "bigint", false), ("o_custkey", "bigint", false),
        ("o_totalprice", "int", true),
        ("o_clerk", "string", true), ("o_orderstatus", "string", false),
        ("o_tags", "string", true), ("o_version", "bigint", false))
        .toDF("col_name", "dtype", "nullable")
      graft.ops.SchemaCompat.diff(prev, next).orderBy("col_name")
    },
      s"""WITH prev_m(col_name, dtype, nullable) AS (VALUES
         |  ('o_orderkey', 'bigint', false), ('o_custkey', 'int', false),
         |  ('o_comment', 'string', true), ('o_totalprice', 'double', true),
         |  ('o_clerk', 'string', false), ('o_orderstatus', 'string', true)),
         |next_m(col_name, dtype, nullable) AS (VALUES
         |  ('o_orderkey', 'bigint', false), ('o_custkey', 'bigint', false),
         |  ('o_totalprice', 'int', true),
         |  ('o_clerk', 'string', true), ('o_orderstatus', 'string', false),
         |  ('o_tags', 'string', true), ('o_version', 'bigint', false))
         |${graft.ops.SchemaCompat.diffSql}
         |ORDER BY col_name""".stripMargin),
    Gate("s_encoding_advisor", (s, dir) => {
      // per-column parquet-encoding advisor: exact ndv + width census
      // -> rle/dict/plain recommendation (the dictionary-overflow
      // decision a 100 TB writer otherwise makes silently). The four
      // columns span all three verdicts: unique key -> plain,
      // mid-cardinality fk -> dict, status/priority -> rle
      graft.ops.Profile.encodingAdvisor(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")
    },
      (graft.ops.Profile.encodingAdvisorSql("orders",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")) +
        "\nORDER BY col_name")),
    Gate("s_domain_rank", (s, dir) => {
      // source-quality link analysis: ALL-INTEGER PageRank (micro
      // units, floor-div at two pinned points — no double-sum order
      // hazard) over the domain co-citation graph; the planted
      // mirror host becomes the hub and concentrates rank
      val urls = graft.text.Urls.extractUrls(
        plantedUrls(s, dir), "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.pageRank(
        graft.ops.LinkAnalysis.cocitationEdges(urls), iters = 5)
        .orderBy("domain")
    },
      graft.ops.LinkAnalysis.pageRankSql(plantedDomainRowsSql, iters = 5)),
    Gate("s_quantile_reload", (s, dir) => {
      // sketch-state persistence: the ≤ ~2k-cell census writes once
      // and rank queries answer from the RELOAD — the sketch-store
      // consumption path (monitoring reads sketches, never raw data)
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      val out = s"${scratchRoot()}/quantile_cells"
      graft.ops.QuantileSketch.cells(li, "cents", m = 5)
        .write.mode("overwrite").parquet(out)
      graft.ops.QuantileSketch.quantiles(
        s.read.parquet(out), Seq(250, 750, 950), m = 5)
        .orderBy("q_permille")
    },
      graft.ops.QuantileSketch.quantilesSql(
        "lineitem", "floor(l_extendedprice * 100 + 0.5)", Seq(250, 750, 950), 5)),
    Gate("s_domain_hits", (s, dir) => {
      // PageRank's companion centrality: integer HITS hubs &
      // authorities over the same co-citation graph — L2 norm
      // replaced by a fixed 10^6-max floor-div rescale so every
      // intermediate is exact BIGINT and the iteration hash-gates
      val urls = graft.text.Urls.extractUrls(
        plantedUrls(s, dir), "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.hits(
        graft.ops.LinkAnalysis.cocitationEdges(urls), iters = 5)
        .orderBy("domain")
    },
      graft.ops.LinkAnalysis.hitsSql(plantedDomainRowsSql, iters = 5)),
    Gate("s_graph_triangles", (s, dir) => {
      // clustering-density census over the domain co-citation graph:
      // degree-oriented triangle count (each edge points low→high
      // (degree, node), so every triangle counts exactly once and
      // join fan-out is O(√E)-bounded even on power-law hubs). The
      // two-hub planting makes triangles actually exist: docs citing
      // spoke+mirror+hub2 close (spoke, mirror, hub2) triangles
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.triangles(
        graft.ops.LinkAnalysis.cocitationEdges(urls))
    },
      graft.ops.LinkAnalysis.trianglesSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin)),
    Gate("s_triangle_domains", (s, dir) => {
      // WHICH domains are triangle-dense (the spam-farm hunt's
      // actionable output): per-vertex local triangle counts over
      // the same planted co-citation graph as s_graph_triangles —
      // the mirror/hub2 farm corners show high closure, the organic
      // s<N> spokes mostly zero despite nonzero degree
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.trianglesPerVertex(
        graft.ops.LinkAnalysis.cocitationEdges(urls))
        .orderBy("domain")
    },
      graft.ops.LinkAnalysis.trianglesPerVertexSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin)),
    Gate("s_kcore_domains", (s, dir) => {
      // the dense-core complement of the triangle census: a 4-round
      // 2-core peel. The planting DIFFERS from s_graph_triangles in
      // one dial: only spokes with residue < 12 ever cite hub2, so
      // spokes 12..22 hang off mirror alone (degree 1) and shed in
      // round 1, while the farm (mirror/hub2 + doubly-linked spokes
      // 0..11) survives — the peel must discriminate, not rubber-
      // stamp. Bounded rounds are the spec on both engines (the
      // pageRank iters convention)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0 && col("doc_id") % 23 < 12,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.kCorePeel(
        graft.ops.LinkAnalysis.cocitationEdges(urls), k = 2, rounds = 4)
        .orderBy("domain")
    },
      graft.ops.LinkAnalysis.kCorePeelSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 AND doc_id % 23 < 12
          |                 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin, k = 2, rounds = 4)),
    Gate("s_link_predict", (s, dir) => {
      // which non-adjacent domains SHOULD be linked (the
      // same-publisher prior before any content comparison): common
      // neighbors + integer Resource Allocation index over the
      // k-core planting, whose one dial (hub2 only for residue < 12)
      // splits the predictions — spoke pairs both < 12 share two
      // neighbors (mirror AND hub2), mixed/high pairs share mirror
      // alone, and the RA weights differ with the hubs' degrees. The
      // maxHubDeg wedge cap is part of the operator spec (both
      // engines): fan-out through any node is bounded by cap^2
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0 && col("doc_id") % 23 < 12,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.linkPredict(
        graft.ops.LinkAnalysis.cocitationEdges(urls), maxHubDeg = 64)
        .orderBy("u", "w")
    },
      graft.ops.LinkAnalysis.linkPredictSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 AND doc_id % 23 < 12
          |                 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin, maxHubDeg = 64)),
    Gate("s_bfs_layers", (s, dir) => {
      // hop-distance census from a seed hub over the k-core planting:
      // hub2 reaches its doubly-linked spokes (residue < 12) and
      // mirror at layer 1; mirror's exclusive spokes (12..22) only at
      // layer 2 — the frontier genuinely advances twice. Bounded
      // rounds are the spec; per round one semi + one anti equi-join,
      // visited checkpointed (it is referenced twice per round)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" https://s"),
              (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
              col("doc_id").cast("string"),
              when(col("doc_id") % 3 === 0,
                lit(" http://mirror.example.org/m")).otherwise(lit("")),
              when(col("doc_id") % 5 === 0 && col("doc_id") % 23 < 12,
                lit(" http://hub2.example.org/x")).otherwise(lit(""))))
            .as("text"))
      val urls = graft.text.Urls.extractUrls(docs, "doc_id", "text")
        .select(col("doc_id").as("id"), col("domain"))
      graft.ops.LinkAnalysis.bfsLayers(
        graft.ops.LinkAnalysis.cocitationEdges(urls),
        seeds = Seq("hub2.example.org"), rounds = 3)
        .orderBy("domain")
    },
      graft.ops.LinkAnalysis.bfsLayersSql(
        """WITH d AS (SELECT doc_id,
          |  CASE WHEN doc_id % 4 = 0 THEN text
          |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
          |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
          |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
          |                 ELSE '' END ||
          |            CASE WHEN doc_id % 5 = 0 AND doc_id % 23 < 12
          |                 THEN ' http://hub2.example.org/x'
          |                 ELSE '' END END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain
          |FROM uu""".stripMargin,
        seeds = Seq("hub2.example.org"), rounds = 3)),
    Gate("s_kmv_distinct", (s, dir) =>
      // KMV cardinality sketch: distinct → TakeOrdered heap of the
      // 256 smallest md5 hashes → one division. Deterministic where
      // HyperLogLog is engine-private, so the ESTIMATE hash-matches
      graft.ops.Sketches.kmvDistinct(
        t(s, dir, "lineitem"), "l_partkey", 256),
      graft.ops.Sketches.kmvDistinctSql("lineitem", "l_partkey", 256)),
    Gate("s_kmv_overlap", (s, dir) => {
      // sketch-level set intersection: Jaccard/overlap of two slices'
      // distinct part keys from 256-hash KMV sketches — sizes a
      // cross-snapshot dedup BEFORE any corpus-scale join runs; the
      // estimate itself only ever touches k-row frames
      val li = t(s, dir, "lineitem")
      graft.ops.Sketches.kmvOverlap(
        li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 3 === 0),
        "l_partkey", 256)
    },
      graft.ops.Sketches.kmvOverlapSql("lineitem", "l_partkey",
        "WHERE l_orderkey % 2 = 0", "WHERE l_orderkey % 3 = 0", 256)),
    Gate("s_hll_registers", (s, dir) =>
      // deterministic HyperLogLog registers: md5 hash → 8-bit bucket
      // + leftmost-1 rho via STRING bit length (no log2 rounding
      // hazard); groupBy(bucket).max — max is duplicate-blind, so no
      // distinct shuffle ever runs (the scale edge over KMV)
      graft.ops.Hll.registerFrame(t(s, dir, "lineitem"), "l_partkey")
        .orderBy("bucket"),
      graft.ops.Hll.registersSql("lineitem", "l_partkey")),
    Gate("s_hll_groups", (s, dir) =>
      // per-group HLL: one ≤256-cell register set per order priority
      // — the per-domain cardinality census at 2 KB of state per
      // group, no distinct shuffle at any group cardinality
      graft.ops.Hll.distinctPerGroup(
        t(s, dir, "orders"), "o_orderpriority", "o_custkey")
        .orderBy("o_orderpriority"),
      graft.ops.Hll.distinctPerGroupSql(
        "orders", "o_orderpriority", "o_custkey")),
    Gate("s_hll_estimate", (s, dir) =>
      // the raw HLL estimator with an INTEGER harmonic denominator
      // (z_scaled = Σ 2^(53-M_j), exact in BIGINT) and one final IEEE
      // division — est_raw hashes raw; v_zero ships so consumers can
      // apply the ln-based small-range correction engine-side
      graft.ops.Hll.distinctEstimate(t(s, dir, "lineitem"), "l_partkey"),
      graft.ops.Hll.estimateSql("lineitem", "l_partkey")),
    Gate("s_kmv_groups", (s, dir) =>
      // per-group sketches through the bounded-heap TopK aggregate —
      // O(k) state per group, never a per-group sort
      graft.ops.Sketches.kmvDistinctPerGroup(
        t(s, dir, "orders"), "o_orderpriority", "o_custkey", 64)
        .orderBy("o_orderpriority"),
      graft.ops.Sketches.kmvGroupsSql("orders", "o_orderpriority", "o_custkey", 64)),
    Gate("s_quantile_sketch", (s, dir) => {
      // mergeable quantile sketch: HDR-style log-linear buckets in
      // ALL-INTEGER arithmetic (bit length via the string-length
      // device, no log2) — one map-combined groupBy collapses any
      // row count to ≤ ~2k cells; merging shards = adding counts
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.cells(li, "cents", m = 5)
        .select(col("bucket"), col("cnt"),
          graft.ops.QuantileSketch.lowerBound(col("bucket"), 5).as("est_lb"),
          graft.ops.QuantileSketch.upperBound(col("bucket"), 5).as("est_ub"))
        .orderBy("bucket")
    },
      graft.ops.QuantileSketch.cellsSql("lineitem", "floor(l_extendedprice * 100 + 0.5)", 5)),
    Gate("s_quantile_answers", (s, dir) => {
      // rank queries on the sketch: integer per-mille targets
      // (rank = (n·q + 999) div 1000 — no float ever multiplies a
      // count), answered by a cumulative walk over the cell frame;
      // the true quantile lies in [est_lb, est_ub], width ≤ 2^-5
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.cells(li, "cents", m = 5),
        Seq(500, 900, 990, 999), m = 5)
        .orderBy("q_permille")
    },
      graft.ops.QuantileSketch.quantilesSql(
        "lineitem", "floor(l_extendedprice * 100 + 0.5)", Seq(500, 900, 990, 999), 5)),
    Gate("s_quantile_groups", (s, dir) => {
      // per-group quantile sketch: ≤ ~2k cells per order priority at
      // ANY group cardinality — the bounded-state per-domain latency/
      // size percentile census
      val o = t(s, dir, "orders")
        .withColumn("cents",
          floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.quantilesPerGroup(
        graft.ops.QuantileSketch.cellsPerGroup(o, "o_orderpriority", "cents", 5),
        Seq(500, 900), m = 5)
        .withColumnRenamed("g", "o_orderpriority")
        .orderBy("o_orderpriority", "q_permille")
    },
      graft.ops.QuantileSketch.quantilesPerGroupSql(
        "orders", "o_orderpriority", "floor(o_totalprice * 100 + 0.5)", Seq(500, 900), 5)),
    Gate("s_quantile_bins", (s, dir) => {
      // equal-frequency discretization through the sketch: quartile
      // boundaries from the sketch answers ride a 1-row broadcast
      // and each row bins via a codegen'd HOF — no join, no sort,
      // no second data pass beyond the cell census
      val o = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .withColumn("cents",
          floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      graft.ops.QuantileSketch.discretize(
        o, "o_orderkey", "cents", Seq(250, 500, 750), m = 5)
        .orderBy("id")
    },
      graft.ops.QuantileSketch.discretizeSql(
        "(SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents" +
          " FROM orders WHERE o_orderkey % 3 = 0) oslice",
        "o_orderkey", "cents", Seq(250, 500, 750), 5)),
    Gate("s_incr_join", (s, dir) => {
      // join-view maintenance: A'⋈B' reconstructed as the stored
      // view plus THREE delta-sided joins (each bounded by |Δ| ·
      // fan-out, never a full re-join), aggregated per priority —
      // the oracle joins the full tables directly; hash equality is
      // the bag delta algebra, multiplicities and all
      import graft.ops.IncrementalAgg
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      val full = IncrementalAgg.maintainedJoin(
        li.filter(col("l_linenumber") =!= 3),
        li.filter(col("l_linenumber") === 3),
        o.filter(col("o_orderkey") % 7 =!= 3),
        o.filter(col("o_orderkey") % 7 === 3),
        "l_orderkey", "o_orderkey")
      full.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Gate("s_incr_agg", (s, dir) => {
      // incremental aggregate maintenance — the materialized-view
      // law: per-supplier mergeable state (count/sum/min/max in
      // exact cents) computed over two disjoint ingest slices
      // INDEPENDENTLY and merged; the oracle recomputes the whole
      // table in one pass. Hash equality proves the aggregation-
      // homomorphism identity merge(stats(old), stats(delta)) ≡
      // stats(old ∪ delta) cross-engine — the license to never
      // re-scan a 100 TB corpus on ingest
      import graft.ops.IncrementalAgg
      val li = t(s, dir, "lineitem")
        .withColumn("cents",
          floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
      val prev = li.filter(col("l_orderkey") % 10 =!= 7)
      val delta = li.filter(col("l_orderkey") % 10 === 7)
      IncrementalAgg.withMean(IncrementalAgg.merge(
        Seq(IncrementalAgg.stats(prev, Seq("l_suppkey"), col("cents")),
          IncrementalAgg.stats(delta, Seq("l_suppkey"), col("cents"))),
        Seq("l_suppkey")))
        .orderBy("l_suppkey")
    },
      graft.ops.IncrementalAgg.directSql("lineitem", Seq("l_suppkey"),
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")),
    Gate("s_cms_counts", (s, dir) => {
      // count-min frequency sketch probed with the corpus's own keys,
      // true counts alongside — the overcount column exhibits the
      // no-undercount guarantee in the gated data itself
      import graft.ops.Sketches
      val li = t(s, dir, "lineitem")
      val cells = Sketches.cmsCells(li, "l_suppkey", 4, 512)
      val truth = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_true"))
      Sketches.cmsEstimate(cells, li, "l_suppkey", 4, 512)
        .join(truth, Seq("l_suppkey"))
        .select(col("l_suppkey"), col("n_true"), col("n_est"),
          (col("n_est") - col("n_true")).as("overcount"))
        .orderBy("l_suppkey")
    },
      graft.ops.Sketches.cmsCountsSql("lineitem", "l_suppkey", 4, 512)),
    Gate("s_ordered_shards", (s, dir) => {
      // "shard files ARE the training order": global shuffle rank
      // bucketed into fixed-size shards — each shard's rank range
      // must be contiguous and exactly sized; the audit a loader
      // runs before trusting shard order
      graft.ops.Shuffling.shuffleRank(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "doc_id", seed = 29L)
        .groupBy(expr("rank div 100").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("rank")).as("min_rank"), max(col("rank")).as("max_rank"))
        .orderBy("shard")
    },
      s"""WITH r AS (${graft.ops.Shuffling.shuffleRankSql(seed = 29L,
            whereClause = "WHERE doc_id % 2 = 1")})
         |SELECT CAST(rank // 100 AS BIGINT) AS shard,
         |  count(*) AS n_docs,
         |  min(rank) AS min_rank, max(rank) AS max_rank
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin),
    Gate("s_warc_roundtrip", (s, dir) => {
      // WARC ingest (the Common Crawl container): documents render as
      // WARC/1.0 response records through the text sink, read back
      // with the distributed sentinel-split reader (lineSep record
      // delimiter, byte-exact Content-Length payload cut), and every
      // field is hash-checked against the source rows — id parsed
      // from the record URN, byte length from the header, payload
      // digest from the cut itself
      import graft.sources.Warc
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"), col("text"))
      val out = s"${scratchRoot()}/warc_roundtrip"
      Warc.writeWarc(docs, "doc_id", "text", s"$out/w")
      Warc.readWarc(s, s"$out/w")
        .select(
          regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
            .cast("long").as("id"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("id")
    },
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 3 ORDER BY id""".stripMargin),
    Gate("s_warc_gz", (s, dir) => {
      // compressed-WARC roundtrip (the Common Crawl WIRE format —
      // .warc.gz shards, one gzip member per record): documents
      // render through the member-per-record gz writer, read back
      // with the binaryFile + streamed multi-member inflate reader
      // (same sentinel split and parse body as the plain reader),
      // every field hash-checked against the source rows. The slice
      // spans multiple partitions, so shards genuinely concatenate
      // many members
      import graft.sources.Warc
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), col("text"))
      val out = s"${scratchRoot()}/warc_gz"
      Warc.writeWarcGz(docs, "doc_id", "text", s"$out/w")
      Warc.readWarcGz(s, s"$out/w")
        .select(
          regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
            .cast("long").as("id"),
          col("content_length").as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("id")
    },
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 5 = 2 ORDER BY id""".stripMargin),
    Gate("s_jsonl_quarantine", (s, dir) => {
      // ingest robustness: JSONL with planted malformed lines (every
      // %3==0 line truncated mid-record) through the PERMISSIVE
      // quarantine reader — good rows parse with full fidelity
      // (digest hash-checked against the source), corrupt rows land
      // as null-field quarantine rows, NEVER silently dropped (the
      // count is part of the hash). Staging is the bounded
      // driver-side harness (the binary-ingest stance)
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 1 && col("doc_id") < 50000)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("text"))).as("j"))
        .orderBy("doc_id").collect()
      val lines = rows.map { r =>
        if (r.getLong(0) % 3 == 0) r.getString(1).dropRight(5)
        else r.getString(1)
      }
      val tmp = java.nio.file.Files.createTempDirectory("jsonl_gate_")
      tmp.toFile.deleteOnExit()
      val f = tmp.resolve("docs.jsonl")
      java.nio.file.Files.write(f,
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toFile.deleteOnExit()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.sources.Sources.readJsonQuarantine(s, tmp.toString, schema)
        .select(col("doc_id"),
          when(col("_corrupt").isNull, md5(col("text"))).as("digest"),
          when(col("_corrupt").isNotNull, 1).otherwise(0).as("bad"))
        .orderBy(col("bad"), col("doc_id"))
    },
      """SELECT doc_id, md5(text) AS digest, 0 AS bad FROM documents
        |WHERE doc_id % 7 = 1 AND doc_id < 50000 AND doc_id % 3 <> 0
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 1
        |FROM documents
        |WHERE doc_id % 7 = 1 AND doc_id < 50000 AND doc_id % 3 = 0
        |ORDER BY bad, doc_id""".stripMargin),
    Gate("s_csv_roundtrip", (s, dir) => {
      import graft.sources.Sources
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/csv_roundtrip"
      Sources.writeCsv(nation, s"$out/n")
      Sources.readCsv(s, s"$out/n", nation.schema).orderBy("n_nationkey")
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    Gate("s_json_roundtrip", (s, dir) => {
      import graft.sources.Sources
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/json_roundtrip"
      Sources.writeJson(nation, s"$out/n")
      Sources.readJson(s, s"$out/n", nation.schema).orderBy("n_nationkey")
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    Gate("s_orc_roundtrip", (s, dir) => {
      // ORC sink/scan roundtrip (Spark-native columnar alternative);
      // the oracle reads the parquet source, so the hash-match proves
      // the ORC write+read preserved every value
      import graft.sources.Sources
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/orc_roundtrip"
      Sources.writeOrc(nation, s"$out/n")
      Sources.readOrc(s, s"$out/n").orderBy("n_nationkey")
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    Gate("s_binary_ingest", (s, dir) => {
      // the multimodal INGEST door: raw files through Spark's
      // binaryFile source into a (path, length, content) frame —
      // id parsed from the filename, byte length, payload md5, all
      // three hash-checked against the staged originals. Staging is
      // a bounded verification harness (<= 1% slice, hard-capped)
      // into a PER-INVOCATION temp dir (the Replay pattern): a
      // shared path would let concurrent runs — or a stale stage
      // from another scale factor — pollute the read. deleteOnExit
      // is LIFO, so registering the dir before its files deletes
      // children first; the dir must outlive this call because the
      // returned frame reads it lazily.
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 100 === 1 && col("doc_id") < 20000)
        .select(col("doc_id"), col("text")).collect()
      val root = java.nio.file.Files.createTempDirectory("graft_bin_")
      root.toFile.deleteOnExit()
      rows.foreach { r =>
        val p = root.resolve(f"${r.getLong(0)}%09d.bin")
        java.nio.file.Files.write(p,
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        p.toFile.deleteOnExit()
      }
      graft.sources.Sources.readBinaryFiles(s, root.toString, "*.bin")
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast("long").as("id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("digest"))
        .orderBy("id")
    },
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents WHERE doc_id % 100 = 1 AND doc_id < 20000
        |ORDER BY id""".stripMargin),
    Gate("s_dq_report", (s, dir) =>
      // Deequ-style declarative expectations: every rule folds into
      // ONE map-combined corpus pass; the publish gate artifact
      graft.ops.Dq.report(t(s, dir, "orders"), Seq(
        "price_nonpositive" -> (col("o_totalprice") <= 0),
        "status_null" -> col("o_orderstatus").isNull,
        "status_unknown" -> !col("o_orderstatus").isin("F", "O", "P"),
        "date_after_1997" -> (col("o_orderdate") > lit("1997-01-01").cast("date"))))
        .orderBy("rule"),
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
        |v AS (
        |  SELECT 'price_nonpositive' AS rule, CAST(coalesce(sum(
        |    CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_violations FROM orders
        |  UNION ALL SELECT 'status_null', CAST(coalesce(sum(
        |    CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    FROM orders
        |  UNION ALL SELECT 'status_unknown', CAST(coalesce(sum(
        |    CASE WHEN NOT (o_orderstatus IN ('F', 'O', 'P')) THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM orders
        |  UNION ALL SELECT 'date_after_1997', CAST(coalesce(sum(
        |    CASE WHEN o_orderdate > DATE '1997-01-01' THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) FROM orders)
        |SELECT rule, n_violations, n.n_rows,
        |  CASE WHEN n.n_rows > 0 THEN
        |    ((n.n_rows - n_violations) * 1000000) // n.n_rows END AS pass_ppm
        |FROM v, n ORDER BY rule""".stripMargin),
    Gate("s_bucketed_join", (s, dir) => {
      // the SCALE.md prescription for recurring 100 TB fact joins,
      // driver-gated: both sides written bucketed+sorted on the join
      // key (no per-query shuffle — BucketedJoinSpec pins the plan),
      // then joined and aggregated; the oracle joins the source
      // tables, so the hash-match proves the bucketed layout loses
      // nothing. Tables land in the gitignored spark-warehouse.
      // Stale state from a PRIOR JVM must be cleared first: the
      // in-memory catalog starts empty, and CREATE on a leftover
      // managed-table location fails with LOCATION_ALREADY_EXISTS
      // (DROP alone can't see it); tables stay registered after —
      // the returned frame reads them lazily
      for (tbl <- Seq("g_orders_b", "g_lineitem_b")) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val wh = java.nio.file.Paths.get(java.net.URI.create(
          s.conf.get("spark.sql.warehouse.dir")).getPath, tbl)
        if (java.nio.file.Files.exists(wh)) {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.walk(wh)) { st =>
            st.iterator().asScala.toSeq
              .reverse.foreach(java.nio.file.Files.delete)
          }
        }
      }
      t(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("g_orders_b")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("g_lineitem_b")
      s.table("g_lineitem_b")
        .join(s.table("g_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          decAgg(sum(dec(col("l_quantity"), 18, 4)), 28, 4).as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Gate("s_compaction_plan", (s, dir) => {
      // OPTIMIZE-style small-file compaction planning: a per-month
      // file manifest (metadata-sized) binned into contiguous
      // compaction groups by cumulative byte offset
      val manifest = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("bigint").as("file_id"))
        .agg((count(lit(1)) * 64L).as("n_bytes"))
      graft.sources.Sources.compactionPlan(
        manifest, "file_id", "n_bytes", targetBytes = 200000L)
        .orderBy("file_id")
    },
      """WITH m AS (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS file_id,
        |    CAST(count(*) * 64 AS BIGINT) AS n_bytes
        |  FROM orders GROUP BY 1),
        |c AS (SELECT file_id, n_bytes,
        |    CAST(coalesce(sum(n_bytes) OVER (ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM m)
        |SELECT file_id, n_bytes, cum_before // 200000 AS grp,
        |  cum_before % 200000 AS grp_offset
        |FROM c ORDER BY file_id""".stripMargin),
    Gate("s_merge_schema", (s, dir) => {
      // schema-evolution read: two parquet drops with DIFFERENT
      // schemas (columns added over time, the normal life of a 100 TB
      // dataset) unified by mergeSchema=true — missing columns null,
      // names matched, no rewrite of old files. The oracle builds the
      // same union from the source table, so the hash-match proves
      // the merged read reconstructs every value and null slot
      val nation = t(s, dir, "nation")
      val out = s"${scratchRoot()}/merge_schema"
      nation.select(col("n_nationkey"), col("n_name"), lit("v1").as("src"))
        .write.mode("overwrite").parquet(s"$out/v1")
      nation.select(col("n_nationkey"), col("n_regionkey"),
        (col("n_nationkey") * 2).as("extra"), lit("v2").as("src"))
        .write.mode("overwrite").parquet(s"$out/v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/v1", s"$out/v2")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("extra"), col("src"))
        .orderBy("n_nationkey", "src")
    },
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
        |    CAST(NULL AS INTEGER) AS extra, 'v1' AS src FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, CAST(NULL AS VARCHAR), n_regionkey,
        |    CAST(n_nationkey * 2 AS INTEGER), 'v2' FROM nation)
        |ORDER BY n_nationkey, src""".stripMargin),
    Gate("s_heavy_hitters", (s, dir) => {
      // join-key skew diagnosis: top-25 part keys by lineitem row
      // count with exact share — one map-combined hash agg, total
      // re-derived from the group-sized census, TakeOrderedAndProject
      graft.ops.Profile.heavyHitters(
        t(s, dir, "lineitem"), Seq("l_partkey"), k = 25)
    },
      """WITH c AS (SELECT l_partkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(n_rows) AS total FROM c)
        |SELECT l_partkey, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c, t ORDER BY n_rows DESC, l_partkey LIMIT 25""".stripMargin),
    Gate("s_shard_delta", (s, dir) => {
      // incremental-publish planning: manifests of the previous and
      // current snapshots joined on shard — only shards whose 16-byte
      // checksum changed get re-read/re-published; manifest-sized
      // work, the corpus is touched only by the manifest aggregates
      import graft.sources.Sources
      val cols = Seq("doc_id", "source", "lang")
      // previous snapshot: shard 3 absent entirely (-> 'added' now)
      // and a sparse doc_id slice of shard 5 missing (-> 'changed');
      // every other shard is untouched (-> 'same') — all three
      // statuses exercised, because the filter aligns with the SAME
      // md5 shard function the manifest uses
      val shardOf = graft.ops.Sampling.bucket(col("doc_id"), 42L) % 8
      val prev = Sources.shardManifest(
        t(s, dir, "documents").filter(shardOf =!= 3 &&
          !(shardOf === 5 && col("doc_id") % 7 === 0)),
        "doc_id", cols, nShards = 8)
        .select(col("shard"), col("n_rows").as("n_prev"),
          col("checksum").as("ck_prev"))
      val cur = Sources.shardManifest(
        t(s, dir, "documents"), "doc_id", cols, nShards = 8)
        .select(col("shard"), col("n_rows").as("n_cur"),
          col("checksum").as("ck_cur"))
      prev.join(cur, Seq("shard"), "full_outer")
        .select(col("shard"),
          coalesce(col("n_prev"), lit(0L)).as("n_prev"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"),
          when(col("ck_prev").isNull, lit("added"))
            .when(col("ck_cur").isNull, lit("removed"))
            .when(col("ck_prev") === col("ck_cur"), lit("same"))
            .otherwise(lit("changed")).as("status"))
        .orderBy("shard")
    },
      {
      val cols = Seq("doc_id", "source", "lang")
      val shardOf =
        s"(${graft.ops.Sampling.bucketSql("doc_id", 42L)} % 8)"
      val prev = graft.sources.Sources.shardManifestSql("documents",
        "doc_id", cols, nShards = 8,
        whereClause = s"WHERE $shardOf <> 3 " +
          s"AND NOT ($shardOf = 5 AND doc_id % 7 = 0)")
      val cur = graft.sources.Sources.shardManifestSql("documents",
        "doc_id", cols, nShards = 8)
      s"""WITH p AS ($prev), c AS ($cur)
         |SELECT coalesce(p.shard, c.shard) AS shard,
         |  CAST(coalesce(p.n_rows, 0) AS BIGINT) AS n_prev,
         |  CAST(coalesce(c.n_rows, 0) AS BIGINT) AS n_cur,
         |  CASE WHEN p.checksum IS NULL THEN 'added'
         |       WHEN c.checksum IS NULL THEN 'removed'
         |       WHEN p.checksum = c.checksum THEN 'same'
         |       ELSE 'changed' END AS status
         |FROM p FULL OUTER JOIN c ON p.shard = c.shard
         |ORDER BY shard""".stripMargin
    }),
    Gate("s_shard_manifest", (s, dir) => {
      // deterministic sharded training-set write + verifiable manifest:
      // the gate covers the manifest math (md5-bucket shard assignment,
      // per-shard count + order-independent content checksum); the
      // write/read-back round trip is pinned in SourcesSpec
      graft.sources.Sources.shardManifest(
        t(s, dir, "documents"), "doc_id",
        Seq("doc_id", "source", "lang"), nShards = 8)
        .orderBy("shard")
    },
      (graft.sources.Sources.shardManifestSql("documents", "doc_id",
        Seq("doc_id", "source", "lang"), nShards = 8) + "\nORDER BY shard")),
    Gate("s_fd_audit", (s, dir) =>
      // functional-dependency discovery census: propose candidate
      // FDs, keep the zero-violation ones — (orderkey, linenumber)
      // is a true key (0), the two fan-out candidates report their
      // violating-key counts. One pair-distinct census per candidate
      graft.ops.Integrity.fdSummary(t(s, dir, "lineitem"), Seq(
        ("line_key_to_part", Seq("l_orderkey", "l_linenumber"),
          "l_partkey"),
        ("order_to_linestatus", Seq("l_orderkey"), "l_linestatus"),
        ("part_to_supp", Seq("l_partkey"), "l_suppkey")))
        .orderBy("fd"),
      graft.ops.Integrity.fdSummarySql("lineitem", Seq(
        ("line_key_to_part", Seq("l_orderkey", "l_linenumber"),
          "l_partkey"),
        ("order_to_linestatus", Seq("l_orderkey"), "l_linestatus"),
        ("part_to_supp", Seq("l_partkey"), "l_suppkey")))),
    Gate("s_ri_orphans", (s, dir) =>
      // referential-integrity audit with planted orphans: every
      // fifth order deleted from the parent side, so ~20% of
      // lineitems dangle — the anti-join census a pipeline runs
      // before trusting a join key
      graft.ops.Integrity.riAudit(
        t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders").filter(col("o_orderkey") % 5 =!= 2),
        "o_orderkey"),
      graft.ops.Integrity.riAuditSql(
        "lineitem", "l_orderkey",
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 5 <> 2)",
        "o_orderkey")),
    Gate("s_join_size_est", (s, dir) => {
      // the System R cardinality formula as a pre-join redflag
      // check: metadata-priced summaries (count + exact ndv) feed
      // |A||B| div max(ndv) via the overflow-free decomposition;
      // the exact join count rides alongside so the estimate's
      // error is itself pinned data
      graft.ops.JoinStats.joinSizeEstimate(
        t(s, dir, "lineitem"),
        t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0),
        "l_orderkey", "o_orderkey")
    },
      graft.ops.JoinStats.joinSizeEstimateSql(
        "lineitem", "l_orderkey",
        "(SELECT * FROM orders WHERE o_orderkey % 3 = 0) ob", "o_orderkey")),
    Gate("s_k_anon", (s, dir) => {
      // k-anonymity by global recoding: the 6-level generalization
      // ladder (acctbal buckets widening 500→1000→2000, then bal /
      // segment / nation suppressed in turn) walks until every
      // equivalence class holds >= 10 customers and publishes the
      // LEAST such level — minimal information loss subject to the
      // privacy floor. The acctbal offset (+1000) keeps the bucket
      // arithmetic non-negative so Spark's div and DuckDB's //
      // agree (they differ on negatives)
      import graft.ops.Anonymize
      val nat = col("c_nationkey").cast("string")
      val seg = col("c_mktsegment")
      def balB(w: Int) = expr(
        s"cast((cast(floor(c_acctbal) as bigint) + 1000) div $w as string)")
      def lvl(n: Column, s2: Column, b: Column) =
        Seq(n.as("g_nation"), s2.as("g_segment"), b.as("g_bal"))
      Anonymize.kAnonLadder(t(s, dir, "customer"), Seq(
        lvl(nat, seg, balB(500)), lvl(nat, seg, balB(1000)),
        lvl(nat, seg, balB(2000)), lvl(nat, seg, lit("*")),
        lvl(nat, lit("*"), lit("*")),
        lvl(lit("*"), lit("*"), lit("*"))), k = 10)
        .orderBy("g_nation", "g_segment", "g_bal")
    },
      {
      val natS = "CAST(c_nationkey AS VARCHAR)"
      def balS(w: Int) =
        s"CAST((CAST(floor(c_acctbal) AS BIGINT) + 1000) // $w AS VARCHAR)"
      def slvl(n: String, sg: String, b: String) =
        Seq(n -> "g_nation", sg -> "g_segment", b -> "g_bal")
      graft.ops.Anonymize.kAnonLadderSql("customer", Seq(
        slvl(natS, "c_mktsegment", balS(500)),
        slvl(natS, "c_mktsegment", balS(1000)),
        slvl(natS, "c_mktsegment", balS(2000)),
        slvl(natS, "c_mktsegment", "'*'"),
        slvl(natS, "'*'", "'*'"),
        slvl("'*'", "'*'", "'*'")), k = 10,
        orderBy = Seq("g_nation", "g_segment", "g_bal"))
    }),
    Gate("s_l_diversity", (s, dir) => {
      // distinct l-diversity over the same recoding machinery: the
      // homogeneity-attack fix — every published class must hold >=10
      // customers AND >=3 distinct market segments (the sensitive
      // attribute), so a class can't leak its segment by being
      // uniform. One extra exact distinct census per ladder level
      import graft.ops.Anonymize
      val nat = col("c_nationkey").cast("string")
      def balB(w: Int) = expr(
        s"cast((cast(floor(c_acctbal) as bigint) + 1000) div $w as string)")
      def lvl(n: Column, b: Column) =
        Seq(n.as("g_nation"), b.as("g_bal"))
      Anonymize.lDiverseLadder(t(s, dir, "customer"), Seq(
        lvl(nat, balB(500)), lvl(nat, balB(1000)), lvl(nat, balB(2000)),
        lvl(nat, lit("*")), lvl(lit("*"), lit("*"))),
        col("c_mktsegment"), k = 10, l = 3)
        .orderBy("g_nation", "g_bal")
    },
      {
      val natS = "CAST(c_nationkey AS VARCHAR)"
      def balS(w: Int) =
        s"CAST((CAST(floor(c_acctbal) AS BIGINT) + 1000) // $w AS VARCHAR)"
      def slvl(n: String, b: String) =
        Seq(n -> "g_nation", b -> "g_bal")
      graft.ops.Anonymize.lDiverseLadderSql("customer", Seq(
        slvl(natS, balS(500)), slvl(natS, balS(1000)),
        slvl(natS, balS(2000)), slvl(natS, "'*'"),
        slvl("'*'", "'*'")), "c_mktsegment", k = 10, l = 3,
        orderBy = Seq("g_nation", "g_bal"))
    }),
    Gate("s_zorder_skip", (s, dir) => {
      // the two-dimensional layout contrast behind writeZOrdered: a
      // lexicographic layout serves only its leading key (y zones
      // span the full domain — zero skips), while Morton tiles keep
      // BOTH coordinates narrow per zone, so range predicates on
      // either dimension skip most zones. Pure integer zone ids on
      // known domains; two envelope censuses per dimension
      graft.sources.Sources.zorderSkipContrast(
        t(s, dir, "lineitem")
          .withColumn("xq", col("l_partkey") % 1024)
          .withColumn("yq", col("l_orderkey") % 1024),
        "xq", "yq", bits = 10, nZones = 256,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L)
        .orderBy("layout", "pred")
    },
      graft.sources.Sources.zorderSkipContrastSql(
        "lineitem", "l_partkey % 1024", "l_orderkey % 1024",
        bits = 10, nZones = 256,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L)),
    Gate("s_hilbert_skip", (s, dir) => {
      // the curve face-off on the same rows and predicates as
      // s_zorder_skip: Morton vs Hilbert zone envelopes. nZones=192
      // deliberately NOT a power of four — aligned zone counts make
      // every zone one quadrant tile in BOTH curves (identical skip
      // counts, vacuous contrast); at 192 zones straddle quadrant
      // seams, where Morton's seam jump widens the straddler's box
      // while Hilbert's unit-step walk keeps it tight. Measured here:
      // Hilbert skips more zones in aggregate, but the win is
      // per-dimension asymmetric, not uniform — the honest trade a
      // layout advisor must price
      graft.sources.Sources.hilbertSkipContrast(
        t(s, dir, "lineitem")
          .withColumn("xq", col("l_partkey") % 1024)
          .withColumn("yq", col("l_orderkey") % 1024),
        "xq", "yq", bits = 10, nZones = 192,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L)
        .orderBy("layout", "pred")
    },
      graft.sources.Sources.hilbertSkipContrastSql(
        "lineitem", "l_partkey % 1024", "l_orderkey % 1024",
        bits = 10, nZones = 192,
        xLo = 100L, xHi = 150L, yLo = 200L, yHi = 250L)),
    Gate("s_zone_skip", (s, dir) => {
      // data-skipping effectiveness contrast — the quantified case
      // for clustered layouts: the same orders rows zoned 64 ways by
      // (a) hash bucket and (b) fixed-width o_orderdate binning, the
      // 1995-Q1 range predicate evaluated against each layout's
      // zone-map envelopes. Clustered skips nearly every zone,
      // random skips none — the whole reason writeZOrdered /
      // range-partitioned writes exist. All-integer epoch-day values
      val lo = expr("datediff(date'1995-01-01', date'1970-01-01')")
      val hi = expr("datediff(date'1995-03-31', date'1970-01-01')")
      graft.sources.Sources.layoutSkipContrast(
        t(s, dir, "orders")
          .withColumn("v_days",
            datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))),
        "o_orderkey", "v_days", nZones = 64, lo = lo, hi = hi)
        .orderBy("layout")
    },
      graft.sources.Sources.layoutSkipContrastSql(
        "orders", "o_orderkey",
        "(CAST(o_orderdate AS DATE) - DATE '1970-01-01')",
        nZones = 64,
        loSql = "DATE '1995-01-01' - DATE '1970-01-01'",
        hiSql = "DATE '1995-03-31' - DATE '1970-01-01'")),
    // partitioned parquet sink + partition-pruned scan: the filter on
    // the partition column prunes directories before any IO (the
    // .explain shows PartitionFilters, not a full scan + filter)
    Gate("s_partition_prune", (s, dir) => {
      import graft.sources.Sources
      val out = s"${scratchRoot()}/partition_prune"
      Sources.writeParquet(t(s, dir, "orders"), s"$out/o",
        partitionBy = Seq("o_orderstatus"))
      Sources.readParquet(s, s"$out/o")
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
    Gate("s_dynamic_prune", (s, dir) => {
      // DYNAMIC partition pruning under the gate (s_partition_prune's
      // join-driven sibling): the fact is partitioned by order YEAR
      // and the dim keeps only years whose max order price clears a
      // threshold — a DATA-DEPENDENT aggregate predicate no static
      // rule can fold into a partition filter (a literal dim folds
      // away; a key-derivable predicate gets inferred as a static
      // constraint — both tried and rejected by this gate's own plan
      // assertion). Spark must plant a dynamicpruning subquery in the
      // fact scan's partition filters, fed by the dim broadcast.
      // Asserted on the executed plan, the o_range_join_rewrite
      // device: a silently-full scan fails loudly here, not at 100 TB
      // where the partitions are months.
      import graft.sources.Sources
      val out = s"${scratchRoot()}/dynamic_prune"
      Sources.writeParquet(
        t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
        s"$out/o", partitionBy = Seq("o_year"))
      val fact = Sources.readParquet(s, s"$out/o")
      val dim = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(max(col("o_totalprice")).as("mx"))
        .filter(col("mx") > 499000.0)
      val res = fact
        .join(broadcast(dim), col("o_year") === col("y"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"))
        .orderBy("o_orderpriority")
      val plan = res.queryExecution.executedPlan.toString
      require(plan.toLowerCase.contains("dynamicpruning"),
        "dynamic partition pruning did not plant its subquery — the " +
          s"dim-filtered join would full-scan the fact:\n$plan")
      res
    },
      """WITH y AS (SELECT year(o_orderdate) AS y
        |  FROM orders GROUP BY 1 HAVING max(o_totalprice) > 499000.0)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  min(o_orderkey) AS min_key
        |FROM orders JOIN y ON year(o_orderdate) = y.y
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
  )
}
