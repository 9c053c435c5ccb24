package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Caching.checkpointRdd

/** Graph-based ANN — the NSW/HNSW family's search primitive, closing
  * the index taxonomy beside LSH (ann/Ann.scala:316), IVF (:418),
  * PQ and the binary path: a kNN PROXIMITY GRAPH over the corpus,
  * then greedy BEAM SEARCH from a fixed entry point — each round
  * expands the current beam's graph neighbors, scores them against
  * the query, and keeps the best `beam` nodes. Query cost is
  * O(rounds · beam · degree) — independent of corpus size, which is
  * the entire reason production vector stores (HNSW in faiss/
  * pgvector/Lucene) pay the graph build.
  *
  * Determinism (what makes this gateable where HNSW is not): no
  * random level assignment, a FIXED entry point (the corpus min id),
  * a FIXED round count, and every top-`beam`/top-`k` cut through the
  * bounded-heap TopK rule `(score desc, id asc)` — the oracle unrolls
  * the identical iteration as CTEs. Classic NSW instead stops when
  * the beam stops improving and tracks a visited set; fixed rounds
  * re-score already-seen nodes (idempotent — scores are pure) and
  * bound the plan statically, trading a little wasted work for an
  * exactly-reproducible search path.
  *
  * 100 TB shape: the SEARCH is rounds-many equi-joins on
  * constant-bounded frontiers (queries × beam rows joining the
  * degree-k edge list — never corpus-scans); the graph BUILD here is
  * the exact all-pairs kNN (guarded, slice-bounded by contract) —
  * at corpus scale you build it with NN-descent or banded-LSH
  * candidate pruning and keep the same search.
  */
object Nsw {

  /** Exact kNN proximity graph over a bounded corpus slice:
    * `(src, dst)` edges, k per node. All-pairs by contract — the
    * [[Jl.distortionCensus]] guard device bounds it.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, maxRows: Long = 2000L): DataFrame = {
    val cnt = corpus.agg(count(lit(1)).as("__n"))
    val guarded = corpus.crossJoin(broadcast(cnt))
      .filter(when(col("__n") <= maxRows, lit(true))
        .otherwise(raise_error(concat(col("__n").cast("string"),
          lit(s" rows exceed maxRows=$maxRows — the exact kNN-graph build " +
            "is O(n²) by contract; build with NN-descent/LSH candidates " +
            "at corpus scale, search is unchanged")))))
      .drop("__n")
    Ann.bruteForceTopK(guarded, guarded, idCol, vecCol, k)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
  }

  /** Beam search: `(query_id, neighbor_id, rank, score)` — top `k`
    * of the final beam after `rounds` expansions from the corpus min
    * id. `graph` is the `(src, dst)` edge list; `corpus` supplies
    * node vectors, `queries` the probes (ids may overlap the corpus;
    * self-matches are legitimate results here, unlike the
    * exact-baseline verifiers).
    *
    * The rounds are sequential actions (each round's beam is
    * localCheckpointed — see the fold comment), so the three frames
    * every round re-references — the edge list and the two vector
    * projections — would otherwise RE-EXECUTE per round: for a graph
    * that arrives as a lazy build plan (the NN-descent composition)
    * that is rounds× the whole build. `persistInputs` (default on)
    * persists them MEMORY_AND_DISK for the search's duration — the
    * reuse-over-recompute call a production searcher makes by reading
    * its index from storage; pass `false` when the caller has already
    * persisted/checkpointed all three. A frame the caller ALREADY
    * persisted (non-NONE storage level) is left alone — persisted
    * once is persisted; re-persisting would make the exit unpersist
    * drop the CALLER's cache entry as a side effect (the r17 ADVICE
    * hazard: `Dataset.unpersist` removes the entry for the plan, not
    * a reference count). The final cut ranks the LAST
    * round's carried scores — cosine is pure, so re-scoring the final
    * beam through another pair of vector joins would compute
    * identical values; skipping it drops one join chain from the
    * critical path at any scale.
    */
  def beamSearch(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, beam: Int, rounds: Int,
      k: Int, persistInputs: Boolean = true,
      entries: Option[DataFrame] = None): DataFrame = {
    require(beam >= 1 && rounds >= 0 && k >= 1 && k <= beam,
      s"need 1 <= k <= beam and rounds >= 0, got beam=$beam rounds=$rounds k=$k")
    val reused = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def reuse(df: DataFrame): DataFrame =
      // skip frames the caller already persisted: reuse their cache
      // instead of double-registering, and never unpersist what this
      // search didn't persist (see the scaladoc)
      if (persistInputs &&
          df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        reused += p
        p
      } else df
    val g = reuse(graph)
    // norms hoisted to per-row columns (the bruteForceTopK rule):
    // scoring a candidate costs one fused dot, not three — operand
    // order matches Ann.cosine, so the doubles are bit-identical
    val nodes = reuse(corpus.select(col(idCol).as("node"), col(vecCol).as("nv"),
        Ann.norm(col(vecCol)).as("nn"))
      .filter(col("nn") > 0))
    val qs = reuse(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        Ann.norm(col(vecCol)).as("qn"))
      .filter(col("qn") > 0))
    def score(cands: DataFrame): DataFrame =
      cands.join(nodes, Seq("node"))
        .join(qs, Seq("query_id"))
        .select(col("query_id"), col("node").as("neighbor_id"),
          Ann.cosinePre(col("qv"), col("nv"), col("qn"), col("nn"))
            .as("score"))
    // per-query entry points (the HNSW descent hands these down) or
    // the flat-NSW global min-id entry
    val beam0 = entries match {
      case Some(e) => qs.select(col("query_id"))
        .join(e.select(col("query_id"), col("node")), Seq("query_id"))
      case None =>
        val entry = nodes.agg(min(col("node")).as("node"))
        qs.select(col("query_id")).crossJoin(broadcast(entry))
    }
    // each round: b is referenced TWICE (kept ∪ expanded) — uncut,
    // the plan tree doubles per round (the HITS lesson, SCALE.md);
    // the beam is queries×beam rows, so an eager localCheckpoint per
    // round costs nothing and keeps the plan constant-size. Once a
    // round's cut materializes, the PREVIOUS round's blocks are dead —
    // free them now instead of leaking them to the ContextCleaner
    // (the Bpe.train bookkeeping)
    var prevCut: Option[org.apache.spark.rdd.RDD[_]] = None
    def expand(b: DataFrame): DataFrame = {
      val cut = b.localCheckpoint(true)
      prevCut.foreach(_.unpersist(false))
      prevCut = checkpointRdd(cut)
      // ONE exchange keyed query_id serves the whole round (guide
      // §2.4): the dedup's aggregate (ClusteredDistribution(query_id,
      // node) is satisfied by hashpartitioning(query_id)), the score
      // joins (broadcast locally, key-preserving at scale), and the
      // final heapRank cut (grouped by query_id) all ride the same
      // partitioning — previously the distinct hashed by (query_id,
      // node) and heapRank re-exchanged by query_id, two shuffles of
      // the same rows per round
      val expanded = cut
        .unionByName(cut.join(g, col("node") === col("src"))
          .select(col("query_id"), col("dst").as("node")))
        .repartition(col("query_id")).distinct()
      Ann.heapRank(score(expanded), "score", "double", beam,
        ascending = false)
    }
    val result =
      if (rounds == 0)
        Ann.heapRank(score(beam0.distinct()), "score", "double", k,
          ascending = false)
      else {
        val last = (2 to rounds).foldLeft(expand(beam0)) { (b, _) =>
          expand(b.select(col("query_id"), col("neighbor_id").as("node")))
        }
        Ann.heapRank(
          last.select(col("query_id"), col("neighbor_id"), col("score")),
          "score", "double", k, ascending = false)
      }
    // materialize the (queries×k) answer eagerly, then release
    // everything the search pinned: the persisted inputs and the last
    // round's beam — without this the session accumulates a graph- and
    // corpus-projection-sized persist per call
    val out = result.localCheckpoint(true)
    prevCut.foreach(_.unpersist(false))
    reused.foreach(_.unpersist(false))
    out
  }

  /** HNSW layer level for an id: the count of leading `0` hex chars
    * of `md5("lvl:" || id)` — `P(level >= L) = 16^-L`, the geometric
    * layer assignment of Malkov & Yashunin 2018 at `mL = 1/ln 16`
    * (a coarser-than-classic shrink: each layer is 16× smaller, so
    * even a trillion-row corpus needs only ~10 layers). Pure string
    * arithmetic, so the oracle computes the identical level.
    */
  def hnswLevel(id: Column): Column =
    length(regexp_extract(
      md5(concat(lit("lvl:"), id.cast("string"))), "^(0*)", 1))

  /** DuckDB rendering of [[hnswLevel]]. */
  def hnswLevelSql(id: String): String =
    s"length(regexp_extract(md5('lvl:' || CAST($id AS VARCHAR)), '^(0*)', 1))"

  /** HNSW-style hierarchical search (Malkov & Yashunin 2018) in its
    * Spark-native shape: nodes draw geometric levels ([[hnswLevel]]);
    * the level-`>= 1` layer (16× smaller) is searched first with a
    * narrow beam to find a GOOD PER-QUERY ENTRY, and the base-layer
    * [[beamSearch]] starts from that entry instead of the flat-NSW
    * global min id — the hierarchy buys entry locality, so the base
    * beam needs fewer rounds to reach the query's neighborhood (the
    * whole point of HNSW over NSW at corpus diameter).
    *
    * `graphOf` builds the kNN graph for a layer's node set —
    * [[knnGraph]] for bounded layers/gates, [[nnDescentGraph]] at
    * corpus scale (the base layer is the corpus itself; the upper
    * layer is corpus/16, so one extra build at 1/256 the pair
    * volume). One upper layer per call — at extreme scale, recurse:
    * the upper layer's OWN entries can come from a `hnswSearch` over
    * level >= 2 (each layer 16× smaller, ~10 layers at 1e12 rows);
    * the single-upper-layer form is the gated one. An EMPTY upper
    * layer (small corpora — levels are 1/16 draws) falls back to the
    * flat entry, checked with one bounded action.
    */
  def hnswSearch(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      graphOf: DataFrame => DataFrame,
      beam: Int, rounds: Int, k: Int,
      upperBeam: Int = 4, upperRounds: Int = 2,
      persistInputs: Boolean = true): DataFrame = {
    // the fallback check must test the SEARCHABLE set (norm > 0 —
    // the beamSearch node filter), not the raw level census: an
    // upper layer of only zero-norm vectors would otherwise produce
    // an empty entries frame and silently drop every query. The
    // filtered layer feeds several lineages (the emptiness action,
    // the graph build's count guard + join, the search projections),
    // so it is persisted for the call when persistInputs is on —
    // both inner beamSearch results are EAGER (localCheckpoint), so
    // the release below runs after all reads.
    val upper0 = corpus
      .filter(hnswLevel(col(idCol)) >= 1 && Ann.norm(col(vecCol)) > 0)
    val upperPersisted = persistInputs &&
      upper0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val upper =
      if (upperPersisted)
        upper0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else upper0
    // the BASE graph build is independent of the whole upper-layer
    // chain (its own build + the entry beam) — only the final base
    // beam needs the entries. Both builds are eager driver-action
    // chains (NN-descent rounds with per-round checkpoints: measured
    // ~50 ms/job over ~96 jobs on the gate — round-trip-bound), so
    // they run as [[graft.ops.Overlap]] branches, like quantizerPick's
    // families: at cluster scale the two builds' jobs back-fill each
    // other's stragglers; plans and arithmetic are exactly the
    // sequential ones. A failing chain cancels the other's jobs, so
    // no build outlives the call.
    try {
      val Seq(entries, baseGraph) = graft.ops.Overlap.all(corpus.sparkSession)(
        () =>
          if (upper.isEmpty) None
          else Some(
            beamSearch(graphOf(upper), upper, queries, idCol, vecCol,
              beam = upperBeam, rounds = upperRounds, k = 1,
              persistInputs = persistInputs)
              .select(col("query_id"), col("neighbor_id").as("node"))),
        () => Some(graphOf(corpus)))
      beamSearch(baseGraph.get, corpus, queries, idCol, vecCol,
        beam, rounds, k, persistInputs, entries = entries)
    } finally if (upperPersisted) upper.unpersist(false)
  }

  /** NN-descent — the CORPUS-SCALE graph build that replaces
    * [[knnGraph]]'s guarded all-pairs arm (Dong et al.'s insight:
    * "a neighbor of a neighbor is likely a neighbor"): start from a
    * cheap md5-bucketed regular graph, then each round scores every
    * node against its neighbors, its neighbors' neighbors, and its
    * REVERSE neighbors, keeping the best k. Per-round candidate
    * volume is O(n·k²) — never O(n²) — and a handful of rounds
    * recovers most true edges ([[graphRecall]] puts the number under
    * the gate).
    *
    * Determinism: md5-bucket init, fixed rounds, heap-rule cuts
    * `(score desc, dst asc)` — the oracle unrolls the identical
    * iteration. Each round's edge frame is localCheckpointed
    * (referenced three ways — the [[beamSearch]] plan-doubling
    * lesson, cubed).
    *
    * THE `groups` DIAL MUST SCALE WITH THE CORPUS: the init is a
    * CLIQUE within each of `groups` md5 buckets, so init pair volume
    * is `initSeeds · n² / groups` — at a FIXED `groups` that term is
    * quadratic in n (the r18 factor-30 ScaleTrend point caught
    * exactly this: the 10× point's benign 2.23 hid it, factor 30
    * showed the init bend). Size `groups ≈ n / (c·k)` for a small
    * constant c (group size a few × k — enough clique edges to seed
    * k neighbors, no more): then init is `initSeeds · c·k · n` =
    * linear, and the per-round local join stays O(n·k²) as
    * documented. The same fixed-dial rule as SemDeDup's nCells
    * ([[graft.ann.Ann.lloydCellSkew]]).
    */
  def nnDescentGraph(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int, groups: Int, initSeeds: Int = 3,
      seed: Long = 42L, materialize: Boolean = true): DataFrame = {
    require(k >= 1 && rounds >= 0 && groups >= 1 && initSeeds >= 1,
      s"bad nn-descent params k=$k rounds=$rounds groups=$groups initSeeds=$initSeeds")
    // the node projection feeds EVERY round's topK twice (src + dst
    // sides) plus the init's seed groupings, and each round is its
    // own eager action (the localCheckpoint cadence below) — unpersisted,
    // every action re-runs the corpus scan + norm filter from storage:
    // 2·(rounds+1) corpus scans per build (guide §5 reuse-within-one-
    // lineage; the index builder's read-once call). Persisted here,
    // released before returning — the RETURNED graph is an eager
    // localCheckpoint, so no caller-visible lineage references the
    // loan (the Caching.withPersisted contract, inlined because the
    // rounds need the loan across several intermediate actions).
    // the norm is hoisted to a per-node column (the bruteForceTopK
    // rule): cosine over a candidate pair then costs ONE fused dot
    // instead of three — same operand order as Ann.cosine, so the
    // doubles are bit-identical to the per-pair recomputation
    val nodes0 = corpus.select(col(idCol).as("node"), col(vecCol).as("nv"),
        Ann.norm(col(vecCol)).as("nn"))
      .filter(col("nn") > 0)
    val nodesPersisted =
      nodes0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val nodes =
      if (nodesPersisted)
        nodes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else nodes0
    val src = nodes.select(col("node").as("src"), col("nv").as("sv"),
      col("nn").as("sn"))
    val dst = nodes.select(col("node").as("dst"), col("nv").as("dv"),
      col("nn").as("dn"))
    // candidate frames arrive hash-partitioned by src (dedupBySrc);
    // joining the dst vectors FIRST and the src vectors LAST means the
    // frame feeding heapRank is partitioned by src (locally the vector
    // joins broadcast and preserve the child partitioning; at scale
    // the SMJ re-keys, and src-last restores it), so the top-k
    // aggregate (grouped by query_id = src) adds NO exchange
    def topK(cands: DataFrame): DataFrame =
      Ann.heapRank(
        cands.join(dst, Seq("dst")).join(src, Seq("src"))
          .select(col("src").as("query_id"), col("dst").as("neighbor_id"),
            Ann.cosinePre(col("sv"), col("dv"), col("sn"), col("dn"))
              .as("score")),
        "score", "double", k, ascending = false)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    // ONE exchange keyed src per dedup (guide §2.4): hashpartitioning
    // (src) satisfies the distinct aggregate's ClusteredDistribution
    // (src, dst), so the dedup itself adds no shuffle — and every
    // downstream consumer of the deduped pairs (the wedge self-join's
    // BOTH sides key on src/mid=src; topK's final cut groups by src)
    // rides the same partitioning instead of re-exchanging
    def dedupBySrc(pairs: DataFrame): DataFrame =
      pairs.repartition(col("src")).distinct()
    // init: a clique within each md5 group, unioned across initSeeds
    // INDEPENDENT groupings — one grouping alone partitions the
    // graph into disjoint components the descent can never merge
    // (candidates always derive from existing edges); overlapping
    // partitions make the union connected whp, the DataFrame form of
    // NN-descent's sample-random-neighbors init
    val init = (0 until initSeeds).map { j =>
      val g = nodes.select(col("node"),
        (graft.ops.Sampling.bucket(col("node"), seed + j) % groups).as("grp"))
      g.as("a").join(g.as("b"),
          col("a.grp") === col("b.grp") && col("a.node") =!= col("b.node"))
        .select(col("a.node").as("src"), col("b.node").as("dst"))
    }.reduce(_.unionByName(_))
    // per-round cut bookkeeping: once round r's cut materializes, the
    // previous round's blocks are dead — free them (the Bpe.train
    // rule); the FINAL cut is materialized below and reaped by the
    // ContextCleaner when the caller drops the returned frame
    var prevCut: Option[org.apache.spark.rdd.RDD[_]] = None
    val last = (1 to rounds).foldLeft(topK(dedupBySrc(init))) { (e0, _) =>
      val e = e0.localCheckpoint(true)
      prevCut.foreach(_.unpersist(false))
      prevCut = checkpointRdd(e)
      // the LOCAL JOIN (Dong et al.): co-neighbors of the same node
      // meet — und(v→a) ⋈ und(v→b) → (a, b). Neighbor-of-neighbor
      // expansion alone misses exactly the pairs that matter (two
      // nodes pointing AT a shared hub never meet through it).
      // und is deduped BY SRC so the self-join's two sides (keyed
      // x.src and y.mid = src) are both already distributed on their
      // join key: the wedge join plans exchange-free over the dedup's
      // single shuffle, where the (src,dst)-hashed distinct forced a
      // re-exchange of each side per round
      val und = dedupBySrc(e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst"))))
      val wedges = und.as("x").join(
          und.select(col("src").as("mid"), col("dst").as("dst2")).as("y"),
          col("x.src") === col("y.mid") && col("x.dst") =!= col("y.dst2"))
        .select(col("x.dst").as("src"), col("y.dst2").as("dst"))
      topK(dedupBySrc(e.unionByName(wedges)))
    }
    // materialize (default): the final cut checkpoints eagerly so the
    // node-projection loan can release with nothing recomputed — the
    // returned graph is (n·k) edge rows, the localCheckpoint of the
    // index a production build would WRITE — and downstream searches
    // (beamSearch persists its graph input per round) never re-execute
    // the build. A SINGLE-PASS consumer (graphRecall's census reads
    // the edges exactly once) passes materialize = false instead: the
    // final round's cut stays lazy and fuses into the consumer's one
    // action — an eager checkpoint there is a pure extra
    // action + memory round-trip. The loan still releases (unpersist
    // is safe under a lazy reference: execution falls back to the
    // source scan), so neither arm leaks a session-lifetime persist.
    if (materialize) {
      val out = last.localCheckpoint(true)
      prevCut.foreach(_.unpersist(false))
      if (nodesPersisted) nodes.unpersist(false)
      out
    } else {
      if (nodesPersisted) nodes.unpersist(false)
      last
    }
  }

  /** Edge recall of an approximate kNN graph vs the exact one — ONE
    * row: `(n_nodes, n_true_edges, n_hit, recall_ppm)`. The exact
    * side is the guarded all-pairs build (verifier arm by contract).
    */
  def graphRecall(approx: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val exact = knnGraph(corpus, idCol, vecCol, k)
    val nNodes = corpus.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    approx.select(col("src"), col("dst"), lit(1).as("__a"))
      .join(exact, Seq("src", "dst"), "right")
      .agg(count(lit(1)).as("n_true_edges"),
        sum(when(col("__a").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), col("n_true_edges"),
        col("n_hit"),
        expr("(n_hit * 1000000) div greatest(n_true_edges, 1L)")
          .as("recall_ppm"))
  }

  /** The [[nnDescentGraph]] iteration as CTEs over a `c(node, cv)`
    * CTE, ending in `e{rounds}` — the reusable build block
    * ([[nnDescentRecallSql]] appends the recall census,
    * `e_ann_beam_nnd` splices it under [[beamBodySql]]).
    */
  def nnDescentEdgesSql(k: Int, rounds: Int, groups: Int, dim: Int,
      initSeeds: Int = 3, seed: Long = 42L,
      nodesCte: String = "c", tag: String = ""): String = {
    val cos = Ann.cosineSql("sv", "dv", dim)
    def bucket(s: Long) =
      s"(CAST(('0x' || substr(md5('$s:' || CAST(node AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000)"
    // the multiply-referenced CTEs (each round's edge cut feeds the
    // next round's und TWICE — a self-join — and the final cut feeds
    // downstream consumers) are AS MATERIALIZED: without the pin an
    // engine that inlines CTEs re-evaluates the whole prefix chain
    // per reference, turning the unrolled build exponential in
    // rounds (observed: the composed hnsw_nnd oracle at 200+ s on a
    // 21-node corpus, sub-second once pinned)
    def cut(inCte: String, outCte: String): String =
      s"""$outCte AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT s.src, s.dst, row_number() OVER (PARTITION BY s.src
         |    ORDER BY s.score DESC, s.dst) AS rn
         |  FROM $inCte s) r WHERE rn <= $k)""".stripMargin
    def scored(candCte: String, outCte: String): String =
      s"""$outCte AS (SELECT d.src, d.dst, $cos AS score
         |  FROM $candCte d
         |  JOIN (SELECT node, cv AS sv FROM $nodesCte) a ON a.node = d.src
         |  JOIN (SELECT node, cv AS dv FROM $nodesCte) b ON b.node = d.dst)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"${tag}e${r - 1}"
      Seq(
        s"""${tag}und$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           |  SELECT src, dst FROM $prev
           |  UNION ALL
           |  SELECT dst AS src, src AS dst FROM $prev) u)""".stripMargin,
        s"""${tag}cand$r AS (SELECT DISTINCT src, dst FROM (
           |  SELECT src, dst FROM $prev
           |  UNION ALL
           |  SELECT x.dst AS src, y.dst AS dst FROM ${tag}und$r x JOIN ${tag}und$r y
           |    ON x.src = y.src AND x.dst <> y.dst) u)""".stripMargin,
        scored(s"${tag}cand$r", s"${tag}sc$r"),
        cut(s"${tag}sc$r", s"${tag}e$r")).mkString(",\n")
    }.mkString(",\n")
    val initArms = (0 until initSeeds).map { j =>
      s"""SELECT a.node AS src, b.node AS dst
         |  FROM (SELECT node, ${bucket(seed + j)} % $groups AS g FROM $nodesCte) a
         |  JOIN (SELECT node, ${bucket(seed + j)} % $groups AS g FROM $nodesCte) b
         |  ON a.g = b.g AND a.node <> b.node""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${tag}cand0 AS (SELECT DISTINCT src, dst FROM (
       |$initArms) i),
       |${scored(s"${tag}cand0", s"${tag}sc0")},
       |${cut(s"${tag}sc0", s"${tag}e0")},
       |$roundCtes""".stripMargin
  }

  /** DuckDB rendering of [[nnDescentGraph]] + [[graphRecall]] over a
    * `c(node, cv)` CTE (pre-filtered nonzero norm): unrolled rounds,
    * exact graph inline, final single-row census.
    */
  def nnDescentRecallSql(k: Int, rounds: Int, groups: Int, dim: Int,
      initSeeds: Int = 3, seed: Long = 42L): String = {
    val cos = Ann.cosineSql("sv", "dv", dim)
    def cut(inCte: String, outCte: String): String =
      s"""$outCte AS (SELECT src, dst FROM (
         |  SELECT s.src, s.dst, row_number() OVER (PARTITION BY s.src
         |    ORDER BY s.score DESC, s.dst) AS rn
         |  FROM $inCte s) r WHERE rn <= $k)""".stripMargin
    val lastE = s"e$rounds"
    s"""${nnDescentEdgesSql(k, rounds, groups, dim, initSeeds, seed)},
       |xs AS (SELECT d.src, d.dst, $cos AS score
       |  FROM (SELECT a.node AS src, b.node AS dst FROM c a JOIN c b
       |    ON a.node <> b.node) d
       |  JOIN (SELECT node, cv AS sv FROM c) a ON a.node = d.src
       |  JOIN (SELECT node, cv AS dv FROM c) b ON b.node = d.dst),
       |${cut("xs", "xg")}
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_nodes,
       |  CAST(count(*) AS BIGINT) AS n_true_edges,
       |  CAST(SUM(CASE WHEN a.src IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  (CAST(SUM(CASE WHEN a.src IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000000)
       |    // GREATEST(CAST(count(*) AS BIGINT), 1) AS recall_ppm
       |FROM xg x LEFT JOIN $lastE a ON a.src = x.src AND a.dst = x.dst""".stripMargin
  }

  /** DuckDB rendering: unrolled beam iteration over `q(query_id, qv)`
    * and `c(node, cv)` CTEs (both pre-filtered to nonzero norm,
    * defined upstream) with the graph built inline at degree
    * `graphK`. `dim` sizes the cosine. Emits the final
    * `(query_id, neighbor_id, rank, score)` SELECT.
    */
  def beamSearchSql(graphK: Int, beam: Int, rounds: Int, k: Int,
      dim: Int): String =
    s"""${knnGraphCteSql("c", "g", graphK, dim)},
       |${beamBodySql(beam, rounds, k, dim)}""".stripMargin

  /** The exact-kNN graph CTE over a `(node, cv)` CTE — ONE renderer
    * (same join, same `cos DESC, node` tie rule) shared by
    * [[beamSearchSql]] and both of [[hnswSearchSql]]'s layers, so
    * the tie-break rule cannot drift between the two oracles.
    */
  private def knnGraphCteSql(
      nodesCte: String, outCte: String, graphK: Int, dim: Int): String = {
    val gCos = Ann.cosineSql("av", "cv", dim)
    s"""$outCte AS (SELECT src, dst FROM (
       |  SELECT a.node AS src, b.node AS dst, row_number() OVER (
       |    PARTITION BY a.node
       |    ORDER BY $gCos DESC, b.node) AS rn
       |  FROM (SELECT node, cv AS av FROM $nodesCte) a JOIN $nodesCte b
       |    ON a.node <> b.node) e
       |  WHERE rn <= $graphK)""".stripMargin
  }

  /** DuckDB rendering of [[hnswSearch]] over existing `q(query_id,
    * qv)` and `c(node, cv)` CTEs: the level-`>= 1` layer and its
    * inline exact graph, the narrow upper beam descent to a
    * per-query entry, then the base beam from those entries. The
    * upper layer must be NON-EMPTY (the Scala door falls back to the
    * flat entry; the gate `require`s the layer instead so the two
    * renderings never diverge).
    */
  def hnswSearchSql(graphK: Int, beam: Int, rounds: Int, k: Int,
      dim: Int, upperBeam: Int, upperRounds: Int): String = {
    def knn(nodesCte: String, outCte: String): String =
      knnGraphCteSql(nodesCte, outCte, graphK, dim)
    s"""lvl AS (SELECT node, cv FROM c
       |  WHERE ${hnswLevelSql("node")} >= 1),
       |${knn("lvl", "ug")},
       |${knn("c", "bg")},
       |${hnswDescentSql(beam, rounds, k, dim, upperBeam, upperRounds)}""".stripMargin
  }

  /** The [[hnswSearchSql]] composition with BOTH layer graphs built
    * by the unrolled NN-descent chain instead of the exact kNN — the
    * corpus-scale twin the Scala door runs with `graphOf =
    * nnDescentGraph` (the `e_ann_beam_nnd` pairing, lifted to the
    * hierarchy). The two builds carry distinct CTE tags; the groups
    * dial is PER LAYER (`upperGroups` ≪ `baseGroups` — the upper
    * layer is 16× smaller, the fixed-dial rule applied per layer).
    */
  def hnswSearchNndSql(beam: Int, rounds: Int, k: Int,
      dim: Int, upperBeam: Int, upperRounds: Int,
      ndK: Int, ndRounds: Int, upperGroups: Int, baseGroups: Int): String =
    s"""lvl AS (SELECT node, cv FROM c
       |  WHERE ${hnswLevelSql("node")} >= 1),
       |${nnDescentEdgesSql(ndK, ndRounds, upperGroups, dim,
          nodesCte = "lvl", tag = "u_")},
       |ug AS MATERIALIZED (SELECT src, dst FROM u_e$ndRounds),
       |${nnDescentEdgesSql(ndK, ndRounds, baseGroups, dim,
          nodesCte = "c", tag = "b_")},
       |bg AS MATERIALIZED (SELECT src, dst FROM b_e$ndRounds),
       |${hnswDescentSql(beam, rounds, k, dim, upperBeam, upperRounds)}""".stripMargin

  /** The two-layer descent over existing `q`, `c`, `lvl`, `ug`, `bg`
    * CTEs — ONE renderer shared by the exact-graph and NN-descent
    * oracles, so the round/tie arithmetic cannot drift.
    */
  private def hnswDescentSql(beam: Int, rounds: Int, k: Int,
      dim: Int, upperBeam: Int, upperRounds: Int): String = {
    require(rounds >= 1 && upperRounds >= 1,
      s"the SQL rendering unrolls >= 1 round per layer, " +
        s"got rounds=$rounds upperRounds=$upperRounds")
    val cos = Ann.cosineSql("qv", "cv", dim)
    def round(prev: String, tag: String, nodesCte: String, gCte: String,
        width: Int): String =
      s"""x$tag AS (SELECT DISTINCT query_id, node FROM (
         |  SELECT query_id, node FROM $prev
         |  UNION ALL
         |  SELECT p.query_id, $gCte.dst AS node FROM $prev p
         |  JOIN $gCte ON $gCte.src = p.node) u),
         |s$tag AS (SELECT d.query_id, d.node, $cos AS score
         |  FROM x$tag d JOIN $nodesCte nn ON nn.node = d.node
         |  JOIN q ON q.query_id = d.query_id),
         |b$tag AS (SELECT query_id, node, score FROM (
         |  SELECT s.query_id, s.node, s.score, row_number() OVER (
         |    PARTITION BY s.query_id ORDER BY s.score DESC, s.node) AS rn
         |  FROM s$tag s) r WHERE rn <= $width)""".stripMargin
    val upperRounds_ = (1 to upperRounds).map { r =>
      round(if (r == 1) "bu0" else s"bu${r - 1}", s"u$r", "lvl", "ug",
        upperBeam)
    }.mkString(",\n")
    val baseRounds_ = (1 to rounds).map { r =>
      round(if (r == 1) "bb0" else s"bb${r - 1}", s"b$r", "c", "bg", beam)
    }.mkString(",\n")
    s"""uent0 AS (SELECT min(node) AS node FROM lvl),
       |bu0 AS (SELECT q.query_id, uent0.node, 0.0 AS score FROM q, uent0),
       |$upperRounds_,
       |uent AS (SELECT query_id, node FROM (
       |  SELECT query_id, node, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, node) AS rn
       |  FROM bu$upperRounds) r WHERE rn = 1),
       |bb0 AS (SELECT query_id, node, 0.0 AS score FROM uent),
       |$baseRounds_,
       |fs AS (SELECT DISTINCT query_id, node FROM bb$rounds),
       |fscored AS (SELECT d.query_id, d.node, $cos AS score
       |  FROM fs d JOIN c ON c.node = d.node
       |  JOIN q ON q.query_id = d.query_id)
       |SELECT query_id, node AS neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, node) AS INT) AS rank, score
       |FROM fscored
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The beam-search iteration as CTEs + final SELECT, over existing
    * `q(query_id, qv)`, `c(node, cv)` and `g(src, dst)` CTEs — the
    * reusable search block ([[beamSearchSql]] supplies the exact
    * graph; `e_ann_beam_nnd` supplies an NN-descent one).
    */
  def beamBodySql(beam: Int, rounds: Int, k: Int, dim: Int): String = {
    val cos = Ann.cosineSql("qv", "cv", dim)
    def cut(inCte: String, outCte: String, n: Int): String =
      s"""$outCte AS (SELECT query_id, node, score FROM (
         |  SELECT s.query_id, s.node, s.score, row_number() OVER (
         |    PARTITION BY s.query_id ORDER BY s.score DESC, s.node) AS rn
         |  FROM $inCte s) r WHERE rn <= $n)""".stripMargin
    def scored(candCte: String, outCte: String): String =
      s"""$outCte AS (SELECT d.query_id, d.node, $cos AS score
         |  FROM $candCte d JOIN c ON c.node = d.node
         |  JOIN q ON q.query_id = d.query_id)""".stripMargin
    val rounds_ = (1 to rounds).map { r =>
      val prev = if (r == 1) "b0" else s"b${r - 1}"
      Seq(
        s"""x$r AS (SELECT DISTINCT query_id, node FROM (
           |  SELECT query_id, node FROM $prev
           |  UNION ALL
           |  SELECT p.query_id, g.dst AS node FROM $prev p
           |  JOIN g ON g.src = p.node) u)""".stripMargin,
        scored(s"x$r", s"s$r"),
        cut(s"s$r", s"b$r", beam)).mkString(",\n")
    }.mkString(",\n")
    val lastB = if (rounds == 0) "b0" else s"b$rounds"
    // rounds == 0 is legal in beamSearch (score the entry point only);
    // skip the rounds block entirely so no dangling comma is emitted.
    val roundsBlock = if (rounds == 0) "" else s"$rounds_,\n"
    s"""entry AS (SELECT min(node) AS node FROM c),
       |b0 AS (SELECT q.query_id, entry.node, 0.0 AS score
       |  FROM q, entry),
       |${roundsBlock}fs AS (SELECT DISTINCT query_id, node FROM $lastB),
       |${scored("fs", "fscored")}
       |SELECT query_id, node AS neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, node) AS INT) AS rank, score
       |FROM fscored
       |QUALIFY rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }
}
