package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Embeddings and approximate nearest neighbours (`e_`): LSH, IVF,
  * quantizers, graph search and semantic dedup.
  */
private[gates] object AnnGates {

  val gates: Seq[Gate] = Seq(
    Gate("e_vector_norm", (s, dir) => {
      // INTENTIONAL higher-order-function demo: this is the library's
      // one registered exercise of aggregate()/zip_with() (API
      // coverage, and the formulation the oracle SQL mirrors
      // symbolically). Every hot-path dot product goes through the
      // codegen'd VecDot expression instead — use Ann.norm, not this
      // shape, in new code.
      t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"),
          sqrt(aggregate(
            zip_with(col("embedding"), col("embedding"),
              (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (acc, v) => acc + v)).as("l2_norm"))
        .orderBy("vec_id")
    },
      s"""SELECT vec_id,
         |sqrt(list_reduce(list_transform(range(1, 65), i ->
         |  CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
         |  (acc, v) -> acc + v)) AS l2_norm
         |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id""".stripMargin),
    Gate("e_ann_bruteforce", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 3 AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
         |  WHERE ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${graft.ann.Ann.cosineSql("qv", "cv", 64)} AS score
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, score,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, rank, score FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // approximate ANN variants: the md5-keyed LSH planes and hash-cell
    // IVF quantizer are deterministic and reproduced verbatim in
    // DuckDB, so even the *approximate* results are value-exact
    Gate("e_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.lshTopK(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      graft.ann.Ann.lshTopKSql("vec_id < 3", k = 5)),
    Gate("e_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.ivfTopKHashCells(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      graft.ann.Ann.ivfTopKHashCellsSql("vec_id < 3", k = 5)),
    Gate("e_ann_lsh_recall", (s, dir) => {
      // LSH REGRESSION gate: recall@10 vs the exact cosine top-10 —
      // a probe/band-width regression drops the count. The absolute
      // value is low by construction (the corpus has no natural near
      // neighbors, so exact ranks 2-10 are far vectors a bucketed
      // index rightly misses); for the interpretable absolute number
      // see e_ann_lsh_planted. Gated at multiProbe=2; e_ann_lsh pins
      // the level-1 default path
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 20 === 0)
      Ann.annRecall(
        Ann.lshTopK(q, emb, "vec_id", "embedding", k = 10, multiProbe = 2),
        q, emb, "vec_id", "embedding", n = 10)
    },
      graft.ann.Ann.annRecallSql(
        graft.ann.Ann.lshTopKSql("vec_id % 20 = 0", k = 10, multiProbe = 2),
        "vec_id % 20 = 0", n = 10)),
    Gate("e_ann_ivf_recall", (s, dir) => {
      // IVF quality gate: recall@10 of the probed-cell search vs the
      // exact cosine top-10
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 20 === 0)
      Ann.annRecall(
        Ann.ivfTopKHashCells(q, emb, "vec_id", "embedding", k = 10),
        q, emb, "vec_id", "embedding", n = 10)
    },
      graft.ann.Ann.annRecallSql(
        graft.ann.Ann.ivfTopKHashCellsSql("vec_id % 20 = 0", k = 10),
        "vec_id % 20 = 0", n = 10)),
    Gate("e_binary_recall", (s, dir) => {
      // 1-bit retrieval quality gate: recall@10 of Hamming-over-sign-
      // bits vs the exact cosine top-10 — same caveat as the LSH/IVF
      // recall gates (no natural near neighbors in this corpus, so
      // the absolute number is low; the gate pins REGRESSIONS in the
      // packing/distance path)
      import graft.ann.{Ann, Binary}
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 20 === 0)
      Ann.annRecall(
        Binary.hammingTopK(q, emb, "vec_id", "embedding", k = 10),
        q, emb, "vec_id", "embedding", n = 10)
    },
      graft.ann.Ann.annRecallSql(
        graft.ann.Binary.hammingTopKSql("id % 20 = 0", k = 10),
        "vec_id % 20 = 0", n = 10)),
    Gate("e_ann_lsh_planted", (s, dir) => {
      // planted-cohort recovery: every vec_id % 20 == 0 vector gets a
      // perturbed twin (cosine ≈ 0.997) as a query; `found` says
      // whether LSH at the production multiProbe=2 dial surfaces the
      // source — the interpretable absolute number the raw recall@10
      // gates (run on a corpus with NO natural near neighbors) can't
      // give. See Ann.plantQueries.
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      Ann.plantedRecovery(emb, "vec_id", "embedding",
        col("vec_id") % 20 === 0, idOffset = 1000000L, delta = 0.01)(
        (q, c) => Ann.lshTopK(q, c, "vec_id", "embedding", k = 10, multiProbe = 2))
    },
      graft.ann.Ann.plantedRecoveryLshSql(
        "vec_id % 20 = 0", idOffset = 1000000L, delta = 0.01, k = 10,
        multiProbe = 2)),
    Gate("e_ann_ivf_lloyd", (s, dir) => {
      // the Lloyd-refined IVF quantizer, made exactly gateable:
      // md5-seeded init + bounded md5 sample + id-ordered sequential
      // fold for centroid means (partitioning-independent doubles),
      // gated on per-cell corpus assignment counts. The MLlib k-means
      // twin (ivfTopK) stays bench-only: its float reductions are
      // engine-specific by construction.
      graft.ann.Ann.lloydAssignCounts(
        t(s, dir, "embeddings"), "vec_id", "embedding")
    },
      graft.ann.Ann.lloydAssignCountsSql()),
    Gate("e_lloyd_cell_skew", (s, dir) =>
      // the OPERATIONAL skew readout: the one-row
      // census summary a SemDeDup/IVF deployment reads before the
      // cell joins — max cell share vs the balanced share, top-3
      // cells — with the documented rule "raise nCells when
      // max_share_ppm > ~4x ideal_share_ppm" (within-cell cost is
      // quadratic in the largest cell). Makes lloydAssignCounts a
      // decision number instead of a narrative
      graft.ann.Ann.lloydCellSkew(
        t(s, dir, "embeddings"), "vec_id", "embedding"),
      graft.ann.Ann.lloydCellSkewSql()),
    Gate("e_ann_ivf_lloyd_topk", (s, dir) => {
      // END-TO-END retrieval through the deterministic Lloyd
      // quantizer — the full trained-IVF production path the MLlib
      // twin can't gate: train, assign (map-only broadcast pass),
      // probe top-4 cells map-side, score probed members, heap-rank.
      // Every number hash-matches the unrolled-CTE oracle.
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.lloydIvfTopK(
        emb.filter(col("vec_id") % 40 === 1), emb,
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      graft.ann.Ann.lloydIvfTopKSql("id % 40 = 1", k = 5)),
    Gate("e_ann_ivf_planted", (s, dir) => {
      // planted-cohort recovery through the deterministic IVF index:
      // the probe set (top-4 of 16 cells) must include the source's
      // assigned cell for a hit
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      Ann.plantedRecovery(emb, "vec_id", "embedding",
        col("vec_id") % 20 === 0, idOffset = 1000000L, delta = 0.01)(
        (q, c) => Ann.ivfTopKHashCells(q, c, "vec_id", "embedding", k = 10))
    },
      graft.ann.Ann.plantedRecoveryIvfSql(
        "vec_id % 20 = 0", idOffset = 1000000L, delta = 0.01, k = 10)),
    Gate("e_cos_neardup", (s, dir) => {
      graft.ann.Ann.cosineNearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
         |  AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} AS cos_sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} >= 0.3
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("e_semdedup", (s, dir) => {
      // SemDeDup (Abbas et al. 2023): Lloyd-cluster the embedding
      // space, prune near-identical pairs WITHIN each cell — the
      // paraphrase-level dedup MinHash can't see, at cell-bounded
      // (never corpus-quadratic) pair cost. The corpus is embeddings
      // plus a perturbed twin of every %20==3 row (cosine ≈ 0.997 —
      // the plantQueries device), so the gate prunes a KNOWN cohort:
      // each twin's only ≥0.9 partner is its source, which holds the
      // smaller id and survives as keeper
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val corpus = emb
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
        .unionByName(Ann.plantQueries(
          emb.filter(col("vec_id") % 20 === 3), "vec_id", "embedding",
          idOffset = 1000000L, delta = 0.01))
      // maxCellSize = Int.MaxValue: the oracle renders no guard, so
      // the gate runs the unguarded contract on both engines (the
      // st_minhash_incr stance); the GUARDED path is oracle-gated by
      // e_semdedup_guarded below
      Ann.semDedupPruned(corpus, "vec_id", "embedding", threshold = 0.9,
        maxCellSize = Int.MaxValue)
        .orderBy("id")
    },
      graft.ann.Ann.semDedupPrunedSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9)),
    Gate("e_semdedup_guarded", (s, dir) => {
      // the hot-cell guard ITSELF under the oracle: same planted
      // corpus as e_semdedup, maxCellSize = 35 — at sf0.01 (the
      // Verify SF) the 16 cells census between ~24 and
      // ~44 members, so the dial genuinely splits them (hot cells'
      // twins vanish, cold cells' still prune) and BOTH engines must
      // agree on the census, the blocklist, and the surviving pair
      // set. Guard behavior proven by hash, not narrated by spec.
      // (At bench SF the same absolute dial blocks every cell — the
      // timed work is then exactly the census + blocklist machinery;
      // the dial is absolute because the oracle text must be one
      // static string across SFs)
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val corpus = emb
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
        .unionByName(Ann.plantQueries(
          emb.filter(col("vec_id") % 20 === 3), "vec_id", "embedding",
          idOffset = 1000000L, delta = 0.01))
      Ann.semDedupPruned(corpus, "vec_id", "embedding", threshold = 0.9,
        maxCellSize = 35)
        .orderBy("id")
    },
      // the guard rendered in SQL: census CTE -> NOT IN exclusion —
      // both engines must agree on hot cells and the surviving pairs
      graft.ann.Ann.semDedupPrunedSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9, maxCellSize = 35)),
    Gate("e_cos_dedup_clusters", (s, dir) => {
      // embedding-space dedup composed across modules: exact cosine
      // near-dup pairs -> connected components -> cluster labels, the
      // chain an embedding-dedup corpus pass runs (at scale the pairs
      // come from cosineNearDupLsh — same shape; the exact finder here
      // keeps the oracle value-exact). Executes eagerly like
      // d_dedup_clusters (the component step is iterative)
      val pairs = graft.ann.Ann.cosineNearDupPairs(
        t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("id")
    },
      graft.dedup.Dedup.connectedComponentsSql(
        // nested WITH keeps the filtered-embeddings scan defined ONCE
        // (same shape as the e_cos_neardup oracle) — DuckDB supports a
        // CTE inside a recursive-CTE definition
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
           |  AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |FROM e a JOIN e b ON a.vec_id < b.vec_id
           |WHERE ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} >= 0.3""".stripMargin)),
    Gate("e_cos_neardup_lsh", (s, dir) => {
      // near-dup LSH in its actual scale regime: planes=192, bands=16
      // -> r=12, i.e. 4096-bucket band keys (a single-long
      // signature caps r at 3 bits = 8 buckets — a quadratic
      // candidate cliff at corpus scale). High-threshold pairs don't
      // exist in the synthetic corpus (max pairwise cos ~ 0.43), so
      // the demo constructs them the way a real corpus acquires them:
      // each vector's int8 quantize->dequantize twin (a re-encoded
      // copy, cos ~ 0.9999) joins the corpus under id+1000000, and
      // the scan must pair every vector with its twin at cos >= 0.98.
      // All twin arithmetic is int->double IEEE ops in identical
      // order, so DuckDB reproduces the union bit-exactly.
      import graft.ann.Ann
      val base = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      val twins = Ann.quantizeInt8(base, "vec_id", "embedding")
        .select((col("id") + 1000000L).as("vec_id"),
          transform(col("qvec"),
            x => x.cast("double") / lit(127.0) * col("qscale")).as("embedding"))
      val union = base
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding"))
        .unionByName(twins)
      Ann.cosineNearDupLsh(union, "vec_id", "embedding", threshold = 0.98,
        planes = 192, bands = 16, maxBucketSize = 0)
        .orderBy("id_a", "id_b")
    },
      {
      // corpus + int8 quantize->dequantize twins, mirroring the Spark
      // union via the SAME shared quantize helpers as quantizeInt8Sql
      // (a rounding-rule change desyncs nothing: both oracles read the
      // one rendering in Ann)
      import graft.ann.Ann.{dequantElemSql, qscaleSql, quantizeElemSql}
      val src =
        s"""SELECT vec_id AS id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |FROM embeddings WHERE vec_id % 10 = 0
           |UNION ALL
           |SELECT vec_id + 1000000 AS id,
           |  list_transform(embedding, x ->
           |    ${dequantElemSql(quantizeElemSql("x", "qscale"), "qscale")}) AS v
           |FROM (SELECT vec_id, embedding,
           |    ${qscaleSql("embedding")} AS qscale
           |  FROM embeddings WHERE vec_id % 10 = 0) s""".stripMargin
      graft.ann.Ann.cosineNearDupLshSql(0.98, planes = 192, bands = 16,
        sourceSql = Some(src))
    }),
    Gate("e_semantic_contam", (s, dir) => {
      // embedding-space decontamination: corpus rows semantically
      // equal to an eval-set member (cos >= 0.98) via the banded-LSH
      // cross-frame scan — the semantic twin of d_contamination's
      // shingle overlap. The synthetic corpus has no natural
      // eval-leaks (max pairwise cos ~0.43), so leakage is planted
      // the way a real corpus acquires it: int8 re-encoded copies of
      // half the eval set (cos ~0.9999 to their source) hide in the
      // corpus under id+2000000, and the scan must flag exactly
      // those. Same IEEE-op-identical twin arithmetic as
      // e_cos_neardup_lsh, so DuckDB reproduces it bit-exactly.
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val evalSet = emb.filter(col("vec_id") % 20 === 3)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), _.cast("double")).as("v"))
      val leaked = Ann.quantizeInt8(
        emb.filter(col("vec_id") % 40 === 3), "vec_id", "embedding")
        .select((col("id") + 2000000L).as("id"),
          transform(col("qvec"),
            x => x.cast("double") / lit(127.0) * col("qscale")).as("v"))
      val corpus = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .unionByName(leaked)
      // loan-persist the corpus: the materialization barrier stops
      // Catalyst pushing the norm filter below the posexplode, which
      // would re-inline the (large) twin dequant expression into the
      // filter and codegen it twice; the flagged result is k-sized
      graft.ops.Caching.withPersisted(corpus) { c =>
        Ann.semanticContamination(c, evalSet, "id", "v",
          threshold = 0.98, planes = 192, bands = 16)
          .orderBy("id")
      }
    },
      graft.ann.Ann.semanticContaminationSql(semContamCorpusSql,
        semContamEvalSql, 0.98, planes = 192, bands = 16)),
    Gate("e_semdedup_apply", (s, dir) => {
      // SemDeDup-style semantic dedup APPLIED: exact cosine pairs →
      // connected components → drop every non-canonical cluster
      // member — the surviving embedding corpus (at scale the pairs
      // come from cosineNearDupLsh / the banded scan; the exact
      // finder keeps the oracle value-exact). Zero-norm vectors are
      // never pair-flagged, so they survive by construction.
      // Executes eagerly like d_dedup_apply (iterative CC step)
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      val pairs = graft.ann.Ann.cosineNearDupPairs(
        emb, "vec_id", "embedding", threshold = 0.3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      graft.dedup.Dedup.dedupApply(emb, "vec_id", clusters)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },
      {
      val pairs =
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
           |  AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |FROM e a JOIN e b ON a.vec_id < b.vec_id
           |WHERE ${graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)} >= 0.3""".stripMargin
      s"""${graft.dedup.Dedup.ccCtes(pairs)},
         |dups AS (SELECT id FROM cc WHERE id <> cluster)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id % 10 = 0 AND vec_id NOT IN (SELECT id FROM dups)
         |ORDER BY vec_id""".stripMargin
    }),
    Gate("e_mutual_knn", (s, dir) => {
      // reciprocal-kNN edge mining: pairs where each endpoint ranks
      // the other in its own top-5 — the hub-killing robustification
      // of raw neighbor lists. Brute arm is the documented exact
      // baseline; at scale any approximate top-k frame feeds
      // mutualPairs unchanged
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
      graft.ann.Ann.mutualPairs(
        graft.ann.Ann.bruteForceTopK(emb, emb, "vec_id", "embedding",
          k = 5))
        .orderBy("id_a", "id_b")
    },
      graft.ann.Ann.mutualKnnPairsSql("vec_id % 4 = 0", k = 5)),
    Gate("e_knn_classify", (s, dir) => {
      // kNN label assignment (weak supervision): every 10th+1 vector
      // classified by majority label of its 5 nearest labeled
      // neighbors (every 10th vector), ties to smallest label
      val emb = t(s, dir, "embeddings")
      graft.ann.Ann.knnClassify(
        emb.filter(col("vec_id") % 10 === 1),
        emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id")
    },
      graft.ann.Ann.knnClassifySql(
        "vec_id % 10 = 1", "vec_id % 10 = 0", k = 5)),
    Gate("e_quantize_int8", (s, dir) => {
      import graft.ann.Ann
      Ann.quantizeInt8(
        t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
        "vec_id", "embedding")
        .select(col("id"), col("qscale"),
          Ann.dequantMaxError(col("v"), col("qvec"), col("qscale"))
            .as("max_abs_err"))
        .orderBy("id")
    },
      graft.ann.Ann.quantizeInt8Sql("WHERE vec_id % 25 = 0")),
    Gate("e_mrl_truncate", (s, dir) => {
      // Matryoshka truncation: first-16-dims prefix renormalized to
      // unit length (4x index density, rescore at full precision
      // later) — map-only; doubles hash RAW because the norm fold is
      // a fixed IEEE sequence and sqrt/divide are correctly rounded
      graft.ann.Ann.mrlTruncate(
        t(s, dir, "embeddings").filter(col("vec_id") % 20 === 3),
        "vec_id", "embedding", dims = 16)
        .select(col("id"), col("tnorm"),
          posexplode(col("tvec")).as(Seq("p", "q")))
        .select(col("id"), col("tnorm"),
          (col("p") + 1).cast("long").as("i"), col("q"))
        .orderBy("id", "i")
    },
      (graft.ann.Ann.mrlTruncateSql(dims = 16,
        whereClause = "WHERE vec_id % 20 = 3") + "\nORDER BY id, i")),
    Gate("e_hybrid_rrf", (s, dir) => {
      // hybrid retrieval: BM25 top-20 (sparse) ⊕ cosine top-20
      // (dense, anchor = the query's own embedding) fused by
      // reciprocal-rank — nano-quantized 1/(60+rank) contributions,
      // ties by doc_id. Fusion input is queries×k rows per system,
      // corpus-size-independent
      val qs = Seq(1 -> "hash join", 2 -> "window agg stream",
        3 -> "fast vector scan")
      val sparse = graft.text.Bm25.topK(
        t(s, dir, "documents"), "doc_id", "text", qs, k = 20)
        .select(col("query_id"), col("doc_id"), col("rnk"))
      val emb = t(s, dir, "embeddings")
      val dense = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id").isin(1, 2, 3)), emb,
        "vec_id", "embedding", k = 20)
        .select(col("query_id").cast("int").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank").as("rnk"))
      graft.ann.Fusion.rrfFuse(Seq(sparse, dense), k = 10)
        .orderBy("query_id", "rnk")
    },
      {
      val sparse = graft.text.Bm25.topKSql(
        Seq(1 -> "hash join", 2 -> "window agg stream", 3 -> "fast vector scan"),
        k = 20, whereClause = "")
      val dense =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id IN (1, 2, 3)
           |    AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
           |  WHERE ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
           |scored AS (SELECT query_id, neighbor_id,
           |  ${graft.ann.Ann.cosineSql("qv", "cv", 64)} AS score
           |  FROM q JOIN c ON query_id <> neighbor_id),
           |ranked AS (SELECT query_id, neighbor_id,
           |  CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY score DESC, neighbor_id) AS INT) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, rank FROM ranked
           |WHERE rank <= 20""".stripMargin
      graft.ann.Fusion.rrfFuseSql(sparse, dense, k = 10)
    }),
    Gate("e_binary_rerank", (s, dir) => {
      // production two-stage retrieval: Hamming coarse top-50 over
      // the 16-byte packed scan, exact cosine rerank of ONLY the
      // survivors to top-10 — the rerank join touches queries×50
      // float rows regardless of corpus size
      val emb = t(s, dir, "embeddings")
      graft.ann.Binary.hammingRerank(
        emb.filter(col("vec_id") % 50 === 1), emb,
        "vec_id", "embedding", k = 10, kCoarse = 50)
        .orderBy("query_id", "rank")
    },
      graft.ann.Binary.hammingRerankSql("id % 50 = 1", k = 10, kCoarse = 50)),
    Gate("e_binary_sign", (s, dir) =>
      // 1-bit sign quantization: 64 float dims → two 32-bit words
      // (16 bytes/vector, 16×) — map-only, pure-integer unrolled
      // packing, exact under the hash gate
      graft.ann.Binary.signPack(
        t(s, dir, "embeddings").filter(col("vec_id") % 7 === 0),
        "vec_id", "embedding")
        .orderBy("id"),
      graft.ann.Binary.signPackSql("WHERE vec_id % 7 = 0")),
    Gate("e_hamming_topk", (s, dir) => {
      // binary retrieval: popcount(xor) top-10 over the sign-packed
      // corpus — candidate scan reads only the 16-byte words, never
      // the float embedding; ties (common at 64 bits) break by id
      val emb = t(s, dir, "embeddings")
      graft.ann.Binary.hammingTopK(
        emb.filter(col("vec_id") % 50 === 1), emb,
        "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    },
      graft.ann.Binary.hammingTopKSql("id % 50 = 1", k = 10)),
    Gate("e_dim_stats", (s, dir) =>
      // embedding dimension QA: dead/stuck/blown-up dims as one
      // anomalous census row; components quantize exactly
      // (floor(v·2^20) — power-of-two multiply is IEEE-exact) so the
      // integer moments are order-independent and hash-gated
      graft.ann.DimStats.dimStats(
        t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0),
        "embedding")
        .orderBy("dim"),
      graft.ann.DimStats.dimStatsSql("WHERE vec_id % 2 = 0")),
    Gate("e_embedding_drift", (s, dir) => {
      // model-upgrade QA: cosine census between two embedding
      // versions joined on id — version B plants a component shift
      // on 1-in-5 ids (double-space add, cast back to float, so both
      // engines store the identical perturbed value); the census
      // shows the identity mass at bin 999/1000 and the drift tail
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 1)
      val v2 = emb.select(col("vec_id"),
        when(col("vec_id") % 5 === 0, concat(
          array((element_at(col("embedding"), 1).cast("double")
            + lit(0.5)).cast("float")),
          slice(col("embedding"), 2, 63)))
          .otherwise(col("embedding")).as("embedding"))
      graft.ann.DimStats.pairedDriftCensus(emb, v2, "vec_id", "embedding")
        .orderBy("bin")
    },
      graft.ann.DimStats.pairedDriftCensusSql("WHERE vec_id % 4 = 1",
        "CASE WHEN vec_id % 5 = 0 THEN list_concat(" +
          "[CAST(CAST(embedding[1] AS DOUBLE) + 0.5 AS FLOAT)], " +
          "embedding[2:]) ELSE embedding END")),
    Gate("e_rvq_encode", (s, dir) => {
      // residual quantization (the semantic-ID / additive-quantizer
      // shape): two full-width seed-drawn 16-centroid stages — stage
      // 2 quantizes stage 1's residual, so (c1, c2) is a coarse-to-
      // fine address and err2 the remaining squared-L2. Broadcast
      // codebooks, one struct-min argmin pass per stage, IEEE-exact
      // folds so the error hash-matches
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      graft.ann.Rvq.rvqEncodeSeedDrawn(emb, emb, "vec_id", "embedding",
        k = 16)
        .orderBy("id")
    },
      (graft.ann.Rvq.rvqEncodeSql(16, 64, 42L, "WHERE vec_id % 3 = 1")
        + "\nORDER BY id")),
    Gate("e_rvq_topk", (s, dir) => {
      // RVQ asymmetric-distance top-5 self-search: per-query stage
      // tables + the query-independent k² cross-term table (the
      // additive-quantizer ADC — PQ's trick plus the cross term PQ's
      // subspace independence lets it drop). Fixed IEEE folds, the
      // pinned (t1 + t2) + x addition order, bounded-heap rank — so
      // ranks hash-match the oracle exactly
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      Rvq.rvqTopK(emb.filter(col("vec_id") % 300 === 1), emb,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },
      graft.ann.Rvq.rvqTopKSql(5, 16, 64, 42L,
        "WHERE vec_id % 3 = 1", "WHERE vec_id % 300 = 1")),
    Gate("e_rvq_refined", (s, dir) => {
      // the PRODUCTION RVQ codebooks: per-stage deterministic Lloyd
      // refinement of the seed draws (argmin ties to the lowest
      // code, id-ordered IEEE mean folds, empty codes keep their
      // centroid — the lloydCentroids discipline applied to L2
      // k-means), stage 2 residualizing against the REFINED stage 1.
      // Training touches only the bounded sample; the encode tail is
      // shared verbatim with the seed-drawn twin, so both sit under
      // the same hash oracle family. The recall-vs-seed-drawn floor
      // is RvqSpec's pin
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val (cb1, cb2) = Rvq.rvqCodebooksRefined(emb, "vec_id", "embedding",
        k = 8, iters = 2, maxTrainRows = 120)
      Rvq.rvqEncode(emb, "vec_id", "embedding", cb1, cb2).orderBy("id")
    },
      (graft.ann.Rvq.rvqRefinedEncodeSql(8, 2, 120, 64, 42L,
        "WHERE vec_id % 3 = 1") + "\nORDER BY id")),
    Gate("e_ann_mrl", (s, dir) => {
      // Matryoshka funnel retrieval (Kusupati et al. 2022): coarse
      // cosine over the FIRST 16 stored components (nested prefixes
      // are themselves embeddings) ranks 20 candidates per query at
      // a quarter of the scoring cost, then only those re-score at
      // full width — the adaptive-retrieval shape; prefix zero-norms
      // excluded per stage (the cosine NaN rule, applied to the
      // slice too)
      import graft.ann.Matryoshka
      val emb = t(s, dir, "embeddings")
      Matryoshka.mrlTopK(emb.filter(col("vec_id") % 40 === 2),
        emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding",
        n = 5, coarseDim = 16, coarseN = 20)
        .orderBy("query_id", "rank")
    },
      graft.ann.Matryoshka.mrlTopKSql(5, 16, 20, 64,
        "WHERE vec_id % 4 = 2", "WHERE vec_id % 40 = 2")),
    Gate("e_ann_mrl_lsh", (s, dir) => {
      // the PRODUCTION Matryoshka funnel: the coarse stage is LSH
      // over the 16-component PREFIX (nesting means the coarse index
      // hashes a quarter of the floats; any family index slots in),
      // multi-probed 1-bit flips, then the full-width rerank of the
      // bounded survivors — the whole composition under one oracle
      // where e_ann_mrl gates the verifier-arm coarse stage
      import graft.ann.Matryoshka
      val emb = t(s, dir, "embeddings")
      Matryoshka.mrlLshTopK(emb.filter(col("vec_id") % 40 === 2),
        emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding",
        n = 5, coarseDim = 16, coarseN = 20, planes = 12, multiProbe = 2)
        .orderBy("query_id", "rank")
    },
      graft.ann.Matryoshka.mrlLshTopKSql(5, 16, 20, 64, 12, 2,
        "WHERE vec_id % 4 = 2", "WHERE vec_id % 40 = 2")),
    Gate("e_margin_mine", (s, dir) => {
      // margin-based bitext mining (Artetxe & Schwenk 2019, the
      // CCMatrix recipe): ratio margin = cos / mean-of-own-kNN-cos
      // per side, per-source best target above threshold — the
      // hub-sentence correction raw cosine mining lacks. Two
      // exact-kNN runs (verifier arm by contract; ANN-swappable),
      // then only bounded per-row mean frames and one argmax
      import graft.ann.Mining
      val emb = t(s, dir, "embeddings")
      Mining.marginMine(emb.filter(col("vec_id") % 4 === 1),
        emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding",
        k = 4, threshold = 1.0)
        .orderBy("src_id")
    },
      (graft.ann.Mining.marginMineSql(4, 64, 1.0,
        "WHERE vec_id % 4 = 1", "WHERE vec_id % 4 = 3")
        + "\nORDER BY src_id")),
    Gate("e_margin_mine_lsh", (s, dir) => {
      // the PRODUCTION mining composition: both kNN runs through the
      // multi-probed hyperplane LSH index (marginFromRuns' pluggable
      // core under a gate, not just a spec) — the id spaces of the
      // two residue slices are disjoint, so lshTopK's equal-id drop
      // is a no-op here (the scaladoc'd contract)
      import graft.ann.Mining
      val emb = t(s, dir, "embeddings")
      Mining.marginMineLsh(emb.filter(col("vec_id") % 4 === 1),
        emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding",
        k = 4, threshold = 1.0, planes = 12, dim = 64, multiProbe = 2)
        .orderBy("src_id")
    },
      (graft.ann.Mining.marginMineLshSql(4, 64, 1.0,
        "WHERE vec_id % 4 = 1", "WHERE vec_id % 4 = 3",
        planes = 12, multiProbe = 2)
        + "\nORDER BY src_id")),
    Gate("e_sq8_encode", (s, dir) => {
      // scalar quantization (the faiss QT_8bit shape, deterministic
      // max-abs variant): per-dim scale census (dim bounded rows,
      // always broadcastable), signed-byte codes + reconstruction
      // err as ONE map-only projection against the collected scale
      // literal — the third quantizer beside PQ and RVQ, for the
      // 4x-compression / zero-training operating point
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val scales = Sq.sq8Scales(emb, "embedding")
      Sq.sq8Encode(emb, "vec_id", "embedding", scales, 64)
        .select(col("id"),
          concat_ws(",", transform(col("codes"), c => c.cast("string")))
            .as("codes_str"),
          col("err8"))
        .orderBy("id")
    },
      (graft.ann.Sq.sq8EncodeSql(64, "WHERE vec_id % 3 = 0")
        + "\nORDER BY id")),
    Gate("e_sq8_topk", (s, dir) => {
      // SQ8 asymmetric retrieval: exact queries vs decoded candidates
      // (decode = two flops/dim), squared-L2 ascending through the
      // bounded-heap rank — every double one fixed IEEE fold, so
      // ranks hash-match
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val scales = Sq.sq8Scales(emb, "embedding")
      Sq.sq8TopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5, scales, 64)
        .orderBy("query_id", "rank")
    },
      graft.ann.Sq.sq8TopKSql(5, 64, "WHERE vec_id % 3 = 0",
        "WHERE vec_id % 300 = 0")),
    Gate("e_rvq_refined_topk", (s, dir) => {
      // the refined-RVQ family end-to-end: deterministic Lloyd
      // codebooks feeding the shared ADC retrieval — the refined
      // index's actual query path, ranks AND distances hash-matched
      // (rvqTopKWithCodebooks is the shared body, so only the
      // codebooks differ from e_rvq_topk)
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val (cb1, cb2) = Rvq.rvqCodebooksRefined(emb, "vec_id", "embedding",
        k = 8, iters = 2, maxTrainRows = 120)
      Rvq.rvqTopKWithCodebooks(emb.filter(col("vec_id") % 300 === 1), emb,
        "vec_id", "embedding", 5, cb1, cb2)
        .orderBy("query_id", "rank")
    },
      graft.ann.Rvq.rvqRefinedTopKSql(5, 8, 2, 120, 64, 42L,
        "WHERE vec_id % 3 = 1", "WHERE vec_id % 300 = 1")),
    Gate("e_ivfrvq_refined", (s, dir) => {
      // the additive-quantizer production index: md5-seeded L2
      // coarse cells + Lloyd-REFINED RVQ fine codes, the family's
      // third composed index beside e_ivfpq_refined and e_sq8_ivf —
      // ADC scores only probed survivors from (c1, c2) codes, never
      // vectors. RvqSpec proves nProbe >= nCells ≡ the flat
      // rvqTopKWithCodebooks
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val (cb1, cb2) = Rvq.rvqCodebooksRefined(emb, "vec_id", "embedding",
        k = 8, iters = 2, maxTrainRows = 120)
      Rvq.ivfRvqTopK(emb.filter(col("vec_id") % 300 === 1), emb,
        "vec_id", "embedding", 5, cb1, cb2, nCells = 16, nProbe = 4)
        .orderBy("query_id", "rank")
    },
      graft.ann.Rvq.ivfRvqRefinedTopKSql(5, 8, 2, 120, 64, 42L, 16, 4,
        "WHERE vec_id % 3 = 1", "WHERE vec_id % 300 = 1")),
    Gate("e_quantizer_pick", (s, dir) => {
      // the cross-quantizer selection census: SQ8 vs seed-drawn RVQ
      // vs Lloyd-refined RVQ total reconstruction error over the SAME
      // slice, in exact micro-units (floor(err·1e6) BIGINT — the
      // partition-independent census fold) — the readout a curation
      // run uses to pick its compression family
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      Sq.quantizerPick(emb, "vec_id", "embedding", 64,
        refinedTrainRows = 120)
        .orderBy("family")
    },
      (graft.ann.Sq.quantizerPickSql(64, "WHERE vec_id % 3 = 1",
        refinedTrainRows = 120) + "\nORDER BY family")),
    Gate("e_sq8_ivf", (s, dir) => {
      // composed IVF-SQ8 (the faiss IVF…,SQ8 shape): md5-seeded
      // coarse cells prune to nProbe per query, survivors score
      // against their DECODED bytes — assignment + decode fuse into
      // ONE map-only projection per candidate against two bounded
      // broadcast literals; L2 end-to-end, so no zero-norm
      // exclusions anywhere
      import graft.ann.Sq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val scales = Sq.sq8Scales(emb, "embedding")
      Sq.ivfSq8TopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5, scales, 64)
        .orderBy("query_id", "rank")
    },
      graft.ann.Sq.ivfSq8TopKSql(5, 64, 16, 4,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0")),
    Gate("e_pq_opq", (s, dir) => {
      // OPQ-style energy-balanced PQ (Ge et al. 2013, the
      // deterministic axis-aligned member of the family): census each
      // dimension's integer-quantized energy, deal dims round-robin
      // into subspaces by energy rank, encode the PERMUTED vectors —
      // the permutation collects to a bounded dim-entry literal, so
      // the reorder is a pure projection
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 2)
      val perm = Ann.opqPermutation(emb, "embedding", 8, 64)
      val permuted = emb.select(col("vec_id"),
        Ann.opqPermute("embedding", perm, 64).as("embedding"))
      val cb = Ann.pqCodebooks(permuted, "vec_id", "embedding", 8, 16, 64)
      Ann.pqEncode(permuted, "vec_id", "embedding", cb, 8, 64)
        .select(col("id") +: (0 until 8).map(sb =>
          element_at(col("codes"), sb + 1).as(s"code_$sb")): _*)
        .orderBy("id")
    },
      graft.ann.Ann.opqEncodeSql(8, 16, 64, 42L, "WHERE vec_id % 3 = 2")),
    Gate("e_pq_opq_topk", (s, dir) => {
      // OPQ retrieval end-to-end: queries AND corpus permute through
      // the same energy-balanced map (an orthogonal transform — the
      // permuted-space ADC ranking is the operator's real ranking),
      // then the standard seed-drawn PQ ADC scores the permuted
      // codes — completes the OPQ member from encode-only
      // (e_pq_opq) to retrieval, sharing pqTopKWithCodebooks with
      // the plain and refined twins
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 2)
      val perm = Ann.opqPermutation(emb, "embedding", 8, 64)
      val permuted = emb.select(col("vec_id"),
        Ann.opqPermute("embedding", perm, 64).as("embedding"))
      val cb = Ann.pqCodebooks(permuted, "vec_id", "embedding", 8, 16, 64)
      Ann.pqTopKWithCodebooks(
        permuted.filter(col("vec_id") % 300 === 2), permuted,
        "vec_id", "embedding", 5, cb, 8, 64)
        .orderBy("query_id", "rank")
    },
      graft.ann.Ann.opqTopKSql(5, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 2", "WHERE vec_id % 300 = 2")),
    Gate("e_pq_encode", (s, dir) => {
      // product quantization: 64-dim float32 → 8 codes of 4 bits
      // (16-centroid codebooks per 8-dim subspace) — deterministic
      // seed-drawn codebooks so the full encode sits under the hash
      // gate; codes flattened to INT columns for the compare
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val cb = Ann.pqCodebooks(emb, "vec_id", "embedding", 8, 16, 64)
      Ann.pqEncode(emb, "vec_id", "embedding", cb, 8, 64)
        .select(col("id") +: (0 until 8).map(sb =>
          element_at(col("codes"), sb + 1).as(s"code_$sb")): _*)
        .orderBy("id")
    },
      graft.ann.Ann.pqEncodeSql(8, 16, 64, 42L, "WHERE vec_id % 3 = 0")),
    Gate("e_pq_pack_roundtrip", (s, dir) => {
      // packed-PQ storage gate: 4-bit pack → unpack must reproduce
      // the encode exactly, AND the blob's byte layout (even code in
      // the low nibble, odd in the high, byte j = code_2j | code_2j+1
      // << 4) is pinned via its hex rendering — the oracle computes
      // the same hex from the codes arithmetically, so a nibble-order
      // or stride regression in the codegen'd expressions breaks the
      // hash, not just a self-consistent roundtrip
      import graft.ann.Ann
      import graft.functions.PqCodes.{pq_pack, pq_unpack}
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val cb = Ann.pqCodebooks(emb, "vec_id", "embedding", 8, 16, 64)
      val enc = Ann.pqEncode(emb, "vec_id", "embedding", cb, 8, 64)
        .withColumn("packed", pq_pack(col("codes"), 4))
        .withColumn("codes2", pq_unpack(col("packed"), 4, 8))
      enc.select(col("id") +:
        lower(hex(col("packed"))).as("packed_hex") +:
        (0 until 8).map(sb =>
          element_at(col("codes2"), sb + 1).as(s"code_$sb")): _*)
        .orderBy("id")
    },
      {
      // byte j of the 4-bit packing is code_{2j} | code_{2j+1} << 4 —
      // rendered as printf hex so the layout itself is under the hash
      val hexExpr = (0 until 4).map(j =>
        s"code_${2 * j} + code_${2 * j + 1} * 16").mkString(
        "printf('%02x%02x%02x%02x', ", ", ", ")")
      s"""WITH enc AS (${graft.ann.Ann.pqEncodeSql(8, 16, 64, 42L,
           "WHERE vec_id % 3 = 0")})
         |SELECT id, $hexExpr AS packed_hex,
         |  code_0, code_1, code_2, code_3,
         |  code_4, code_5, code_6, code_7
         |FROM enc ORDER BY id""".stripMargin
    }),
    Gate("e_ivfpq_topk", (s, dir) => {
      // the composed FAISS-style index: hash-cell coarse quantizer
      // prunes to nProbe cells per query, PQ asymmetric distance
      // scores ONLY the survivors from byte codes — corpus touched
      // twice map-only (assign, encode), then a cell equi-join;
      // never all-pairs
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      Ann.ivfPqTopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },
      graft.ann.Ann.ivfPqTopKSql(5, 16, 4, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0")),
    Gate("e_ivfpq_refined", (s, dir) => {
      // the PRODUCTION composed index: coarse cells + REFINED fine
      // codes — deterministic per-subspace Lloyd codebooks
      // (pqCodebooksRefinedDet: seed-drawn init, bounded md5 sample,
      // the refined-RVQ round discipline applied per subspace)
      // feeding the identical ivfPqTopKWithCodebooks body as
      // e_ivfpq_topk, so only the codebooks differ between the
      // twins. The recall-vs-seed-drawn floor is PqSpec's pin
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      val cb = Ann.pqCodebooksRefinedDet(emb, "vec_id", "embedding",
        8, 16, 64, iters = 2, maxTrainRows = 120)
      Ann.ivfPqTopKWithCodebooks(emb.filter(col("vec_id") % 300 === 0),
        emb, "vec_id", "embedding", 5, cb)
        .orderBy("query_id", "rank")
    },
      graft.ann.Ann.ivfPqRefinedTopKSql(5, 16, 4, 8, 16, 2, 120, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0")),
    Gate("e_pq_topk", (s, dir) => {
      // PQ asymmetric-distance top-5 self-search: every double (the
      // per-query distance table, the ADC fold) is a fixed IEEE op
      // sequence, so ranks hash-match the oracle exactly
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      Ann.pqTopK(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },
      graft.ann.Ann.pqTopKSql(5, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0")),
    Gate("e_pq_recall", (s, dir) => {
      // PQ quality gate: recall@10 of the ADC top-10 vs the exact L2
      // top-10, one integer per query — a codebook/stride/fold
      // regression shows up as a dropped count, not a silent drift
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 0)
      Ann.pqRecall(emb.filter(col("vec_id") % 300 === 0), emb,
        "vec_id", "embedding", 10)
    },
      graft.ann.Ann.pqRecallSql(10, 8, 16, 64, 42L,
        "WHERE vec_id % 3 = 0", "WHERE vec_id % 300 = 0")),
    Gate("e_ann_beam", (s, dir) => {
      // graph-based ANN (the NSW family): exact degree-6 kNN graph
      // over the %4 corpus slice (bounded build by contract), then
      // 3 rounds of deterministic beam search from the min-id entry —
      // query cost O(rounds·beam·degree), corpus-size-independent.
      // Queries (%40=1) are disjoint from the corpus
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val g = Nsw.knnGraph(corpus, "vec_id", "embedding", k = 6)
      Nsw.beamSearch(g, corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding", beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    },
      {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.beamSearchSql(graphK = 6, beam = 6, rounds = 3,
            k = 5, dim = 64)}""".stripMargin
    }),
    Gate("e_ann_hnsw", (s, dir) => {
      // HNSW (Malkov & Yashunin 2018): geometric md5 levels put 1/16
      // of the corpus in an upper layer; a narrow upper beam finds a
      // per-query ENTRY and the base beam starts there instead of the
      // flat min-id — entry locality is the hierarchy's whole point.
      // Exact layer graphs by gate contract (bounded slices); at
      // corpus scale graphOf = nnDescentGraph per layer. The gate
      // requires a populated upper layer (the Scala door falls back
      // to the flat entry on an empty layer; the oracle does not)
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      // the require must test the SEARCHABLE set (norm > 0, mirroring
      // hnswSearch's upper0 filter), not the raw level census: an
      // upper layer of only zero-norm vectors would pass a raw-census
      // require while the Scala door falls back to the flat entry and
      // the oracle's norm-filtered lvl layer comes up empty
      require(!corpus.filter(Nsw.hnswLevel(col("vec_id")) >= 1 &&
          graft.ann.Ann.norm(col("embedding")) > 0).isEmpty,
        "gate contract: the sf slice must populate the searchable upper layer")
      Nsw.hnswSearch(corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding",
        g => Nsw.knnGraph(g, "vec_id", "embedding", k = 6),
        beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    },
      {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.hnswSearchSql(graphK = 6, beam = 6, rounds = 3,
            k = 5, dim = 64, upperBeam = 4, upperRounds = 2)}""".stripMargin
    }),
    Gate("e_ann_hnsw_nnd", (s, dir) => {
      // the END-TO-END hierarchical production path: HNSW descent
      // with BOTH layer graphs built by NN-descent (never all-pairs)
      // — e_ann_beam_nnd lifted to the hierarchy. The groups dial is
      // PER LAYER, pinned to the oracle's constants: the upper layer
      // (~corpus/16, under 50 rows at the gate SFs) runs one seeded
      // clique (groups = 1 — a corpus-derived dial would over-shard
      // it into unseedable buckets), the base layer runs the
      // e_ann_nndescent dial (16)
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      require(!corpus.filter(Nsw.hnswLevel(col("vec_id")) >= 1 &&
          graft.ann.Ann.norm(col("embedding")) > 0).isEmpty,
        "gate contract: the sf slice must populate the searchable upper layer")
      def graphOf(layer: org.apache.spark.sql.DataFrame) = {
        // WHICH layer, not HOW BIG: the oracle pins upper=1/base=16,
        // so the Scala side must pick by layer identity — the upper
        // layer holds only promoted (level >= 1) rows, the base layer
        // holds everyone. A row-count rule (the old `count() < 50`)
        // diverges from the oracle at any SF where the upper layer
        // reaches 50 rows or the base layer drops below it.
        val isUpper =
          layer.filter(Nsw.hnswLevel(col("vec_id")) === 0).isEmpty
        Nsw.nnDescentGraph(layer, "vec_id", "embedding",
          k = 5, rounds = 2, groups = if (isUpper) 1 else 16)
      }
      Nsw.hnswSearch(corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding", graphOf, beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    },
      {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.hnswSearchNndSql(beam = 6, rounds = 3, k = 5,
            dim = 64, upperBeam = 4, upperRounds = 2,
            ndK = 5, ndRounds = 2, upperGroups = 1, baseGroups = 16)}""".stripMargin
    }),
    Gate("e_ann_beam_recall", (s, dir) => {
      // recall@5 of the beam search vs the exact cosine top-5 over
      // the SAME %4 corpus — the graph-ANN regression gate beside
      // the lsh/ivf/binary recall rows
      import graft.ann.{Ann, Nsw}
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val q = emb.filter(col("vec_id") % 40 === 1)
      val g = Nsw.knnGraph(corpus, "vec_id", "embedding", k = 6)
      Ann.annRecall(
        Nsw.beamSearch(g, corpus, q, "vec_id", "embedding",
          beam = 6, rounds = 3, k = 5),
        q, corpus, "vec_id", "embedding", n = 5)
    },
      {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      val beamSql =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id % 40 = 1 AND $nz),
           |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
           |  WHERE vec_id % 4 = 0 AND $nz),
           |${graft.ann.Nsw.beamSearchSql(graphK = 6, beam = 6, rounds = 3,
              k = 5, dim = 64)}""".stripMargin
      graft.ann.Ann.annRecallSql(beamSql, "vec_id % 40 = 1", n = 5,
        candWhere = "vec_id % 4 = 0")
    }),
    Gate("e_ann_hnsw_recall", (s, dir) => {
      // recall@5 of the HIERARCHICAL search vs the exact cosine
      // top-5 — completes the recall-gate family for the graph arm
      // (beam has one; the hierarchy's descended entry must not LOSE
      // recall against it, the number this row lets a round compare)
      import graft.ann.{Ann, Nsw}
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val q = emb.filter(col("vec_id") % 40 === 1)
      Ann.annRecall(
        Nsw.hnswSearch(corpus, q, "vec_id", "embedding",
          g => Nsw.knnGraph(g, "vec_id", "embedding", k = 6),
          beam = 6, rounds = 3, k = 5),
        q, corpus, "vec_id", "embedding", n = 5)
    },
      {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      val hnswSql =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           |  WHERE vec_id % 40 = 1 AND $nz),
           |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
           |  WHERE vec_id % 4 = 0 AND $nz),
           |${graft.ann.Nsw.hnswSearchSql(graphK = 6, beam = 6, rounds = 3,
              k = 5, dim = 64, upperBeam = 4, upperRounds = 2)}""".stripMargin
      graft.ann.Ann.annRecallSql(hnswSql, "vec_id % 40 = 1", n = 5,
        candWhere = "vec_id % 4 = 0")
    }),
    Gate("e_mean_pool", (s, dir) => {
      // chunk->document mean pooling (5 chunk vectors per synthetic
      // doc): integer-quantized per-dim means, one posexplode + one
      // map-combined keyed aggregate, no joins — the encoder-to-index
      // aggregation step of a long-document retrieval pipeline
      graft.ann.Pool.meanPool(
        t(s, dir, "embeddings")
          .select((col("vec_id") % 100).as("doc"), col("embedding")),
        "doc", "embedding")
        .orderBy("group", "dim_idx")
    },
      (graft.ann.Pool.meanPoolSql("embeddings", "vec_id % 100",
        "embedding", dim = 64) + "\nORDER BY \"group\", dim_idx")),
    Gate("e_ann_beam_nnd", (s, dir) => {
      // the END-TO-END graph-ANN production path: NN-descent build
      // (never all-pairs) feeding the beam search — both scale arms
      // composed under one gate, where e_ann_beam gates the search
      // over the exact (verifier) graph
      import graft.ann.Nsw
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 === 0)
      val g = Nsw.nnDescentGraph(corpus, "vec_id", "embedding",
        k = 5, rounds = 2, groups = 16)
      Nsw.beamSearch(g, corpus, emb.filter(col("vec_id") % 40 === 1),
        "vec_id", "embedding", beam = 6, rounds = 3, k = 5)
        .orderBy("query_id", "rank")
    },
      {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 40 = 1 AND $nz),
         |c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.nnDescentEdgesSql(k = 5, rounds = 2,
            groups = 16, dim = 64)},
         |g AS (SELECT src, dst FROM e2),
         |${graft.ann.Nsw.beamBodySql(beam = 6, rounds = 3, k = 5,
            dim = 64)}""".stripMargin
    }),
    Gate("e_ann_nndescent", (s, dir) => {
      // the corpus-scale graph build for e_ann_beam: NN-descent from
      // an md5-bucketed init (O(n·k²) per round, never all-pairs),
      // edge recall vs the exact kNN graph as the single-row census —
      // the number that says how many rounds the build needs
      import graft.ann.Nsw
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
      // materialize = false: the census below reads the edge list
      // exactly once, so the final round fuses into its single action
      // instead of paying an eager checkpoint round-trip
      val g = Nsw.nnDescentGraph(corpus, "vec_id", "embedding",
        k = 5, rounds = 2, groups = 16, materialize = false)
      Nsw.graphRecall(g, corpus, "vec_id", "embedding", k = 5)
    },
      {
      val nz = s"${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0"
      s"""WITH c AS (SELECT vec_id AS node, embedding AS cv FROM embeddings
         |  WHERE vec_id % 4 = 0 AND $nz),
         |${graft.ann.Nsw.nnDescentRecallSql(k = 5, rounds = 2,
            groups = 16, dim = 64)}""".stripMargin
    }),
    Gate("e_rank_metrics", (s, dir) => {
      // retrieval-quality eval over the exact-cosine run: MRR /
      // capped recall@10 / nDCG@10 per query under label-match
      // relevance. DCG position weights are driver-computed literals
      // (floor(1e6/log2(r+1))) shared verbatim with the oracle — the
      // engines never evaluate a log. Run is queries×k rows;
      // label census broadcasts
      val emb = t(s, dir, "embeddings")
      val runs = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") % 20 === 3), emb,
        "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      graft.ann.RankEval.metrics(runs,
        emb.select(col("vec_id"), col("label")), "vec_id", "label", k = 10)
        .orderBy("query_id")
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 20 = 3 AND ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
         |  WHERE ${graft.ann.Ann.dotSql("embedding", "embedding", 64)} > 0),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${graft.ann.Ann.cosineSql("qv", "cv", 64)} AS score
         |  FROM q JOIN c ON query_id <> neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, neighbor_id) AS INT) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |${graft.ann.RankEval.metricsSql(10)}
         |ORDER BY query_id""".stripMargin),
    Gate("e_jl_project", (s, dir) => {
      // Johnson-Lindenstrauss 64->8 sign projection, MAP-ONLY (one
      // codegen HOF chain per row, sign matrix a plan literal derived
      // from md5 parity — both engines build the identical matrix
      // from the identical formula); integer outputs, order-free
      graft.ann.Jl.project(
        t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("id"), col("embedding")),
        "id", "embedding", outDims = 8, dim = 64)
        .orderBy("id", "j")
    },
      (graft.ann.Jl.projectSql(
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0) e",
        "vec_id", "embedding", outDims = 8, dim = 64) +
        "\nORDER BY id, j")),
    Gate("e_jl_distortion", (s, dir) => {
      // the audit that earns the projection its keep: pairwise
      // distance-ratio census (rescaled by 1/k, 0.1 bands) over the
      // bounded slice — JL says mass concentrates at band 10; a flat
      // census means k is too small for the downstream ANN stage
      graft.ann.Jl.distortionCensus(
        t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", outDims = 8, dim = 64)
        .orderBy("band")
    },
      (graft.ann.Jl.distortionCensusSql(
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0) e",
        "vec_id", "embedding", outDims = 8, dim = 64) +
        "\nORDER BY band")),
    Gate("e_cos_threshold_hist", (s, dir) => {
      // dedup-threshold tuning aid: pair counts per 0.05 cosine band
      // over a BOUNDED slice (the all-pairs verifier family, like
      // e_cos_neardup) — pick the near-dup cutoff from the histogram
      // before a corpus-scale run
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("embedding"))
        .filter(Ann.norm(col("embedding")) > 0)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(floor(Ann.cosine(col("va"), col("vb")) * 20).cast("int")
          .as("band"))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .orderBy("band")
    },
      {
      val cos = graft.ann.Ann.cosineSql("a.embedding", "b.embedding", 64)
      val nz = graft.ann.Ann.dotSql("embedding", "embedding", 64) + " > 0"
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 7 = 0 AND $nz)
         |SELECT CAST(floor($cos * 20) AS INT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |GROUP BY 1 ORDER BY band""".stripMargin
    }),
    Gate("e_mmr_diversify", (s, dir) => {
      // RAG context assembly: brute-force top-20 for one query, then
      // MMR greedy re-selection of 5 (λ=0.5) — redundancy removed
      // before context tokens are spent. Retrieval is the expensive
      // part; MMR runs on the BOUNDED candidate set
      val emb = t(s, dir, "embeddings")
      val cands = graft.ann.Ann.bruteForceTopK(
        emb.filter(col("vec_id") === 7), emb, "vec_id", "embedding", k = 20)
      graft.ann.Mmr.diversify(cands, emb, "vec_id", "embedding", k = 5)
    },
      graft.ann.Mmr.diversifySql(queryId = 7L, kCand = 20, k = 5)),
    Gate("e_centroid_drift", (s, dir) =>
      // semantic drift monitor: per-label centroid, pairwise cosine
      // between centroids — NOTHING sums raw doubles (order-dependent
      // under partial agg); components quantize to micro ints first,
      // so the one corpus pass is an exact (group, dim) integer
      // census and everything after runs on groups·64 cells
      graft.ann.CentroidDrift.pairwiseCosine(
        t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label_a", "label_b"),
      graft.ann.CentroidDrift.pairwiseCosineSql("WHERE TRUE")),
    Gate("e_triplets", (s, dir) =>
      // contrastive training triplets: exact top-1 positive (swap in
      // the LSH/binary paths at corpus scale) ⊕ hash-drawn negatives
      // via the rank join; false-negative collisions dropped
      graft.ann.Triplets.mine(
        t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
        t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 4, seed = 11L)
        .orderBy("anchor_id", "j"),
      graft.ann.Triplets.mineSql("WHERE vec_id % 25 = 0", k = 4, seed = 11L)),
    Gate("e_neg_sample", (s, dir) =>
      // contrastive-training negatives WITHOUT an all-pairs scan:
      // corpus gets a dense shuffle-rank index once; probe j of
      // anchor a targets rank md5(a:j:seed) mod N and resolves by a
      // rank equi-join. Reproducible, shard-stable, uniform
      graft.ops.Shuffling.negativeSample(
        t(s, dir, "embeddings").filter(col("vec_id") % 25 === 0),
        "vec_id", t(s, dir, "embeddings"), "vec_id", k = 8, seed = 7L)
        .orderBy("anchor_id", "j"),
      graft.ops.Shuffling.negativeSampleSql(
        "WHERE vec_id % 25 = 0", k = 8, seed = 7L)),
    Gate("e_rvq_store", (s, dir) => {
      // the semantic-ID store round trip: RVQ codes persist to
      // parquet PARTITIONED BY the coarse code c1 (the layout where
      // a coarse-cell probe prunes at the scan — how a compressed
      // index shards its postings), reload, and the full code/error
      // set must still hash-match the inline-recomputed oracle — a
      // lossy write/read (or a layout that changes values) fails.
      // A single-cell probe must carry a PartitionFilter (the layout
      // claim, proven, not narrated)
      import graft.ann.Rvq
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 3 === 1)
      val out = s"${scratchRoot()}/rvq_store"
      Rvq.rvqEncodeSeedDrawn(emb, emb, "vec_id", "embedding", k = 16)
        .write.mode("overwrite").partitionBy("c1").parquet(out)
      val raw = s.read.parquet(out)
      val firstCell = raw.agg(min(col("c1"))).head.get(0)
      val probePlan = raw.filter(col("c1") === lit(firstCell))
        .queryExecution.executedPlan.toString
      require("""PartitionFilters: \[[^\]]*c1""".r
        .findFirstIn(probePlan).isDefined,
        s"coarse-code probe does not prune at the scan:\n$probePlan")
      raw.select(col("id"), col("c1").cast("int").as("c1"), col("c2"),
        col("err2"))
        .orderBy("id")
    },
      // the reload must reproduce the inline-recomputed encode
      // exactly — same oracle as e_rvq_encode
      (graft.ann.Rvq.rvqEncodeSql(16, 64, 42L, "WHERE vec_id % 3 = 1")
        + "\nORDER BY id")),
    Gate("e_semdedup_store", (s, dir) => {
      // the cell-keyed STORE round trip st_semdedup_incr's comment
      // promises: the assigned corpus persists to parquet PARTITIONED
      // BY CELL (the layout where an incremental drop's cells prune
      // at the scan), and the arriving twins' pair set runs against
      // the RELOAD. The oracle recomputes train + both assignments
      // inline, so a lossy write/read path — or a partition layout
      // that changes values — hash-fails. A single-cell probe on the
      // reload must carry a PartitionFilter (asserted on the plan:
      // the layout claim, proven, not narrated)
      import graft.ann.Ann
      val emb = t(s, dir, "embeddings")
      val cents = Ann.lloydCentroids(emb, "vec_id", "embedding")
        .localCheckpoint()
      val out = s"${scratchRoot()}/semdedup_store"
      Ann.lloydAssigned(emb, "vec_id", "embedding", cents)
        .write.mode("overwrite").partitionBy("cell").parquet(out)
      // the partition column reads back through directory-value
      // inference (int) — cast back to the id space for the join
      val raw = s.read.parquet(out)
      val firstCell = raw.agg(min(col("cell"))).head.get(0)
      val probePlan = raw.filter(col("cell") === lit(firstCell))
        .queryExecution.executedPlan.toString
      require("""PartitionFilters: \[[^\]]*cell""".r
        .findFirstIn(probePlan).isDefined,
        s"cell probe does not prune at the scan:\n$probePlan")
      val store = raw.withColumn("cell", col("cell").cast("long"))
      val twins = Ann.plantQueries(emb.filter(col("vec_id") % 20 === 3),
        "vec_id", "embedding", idOffset = 1000000L, delta = 0.01)
      // the SHARED pair tail — one body with the stream door, so the
      // reload gate can't drift from what st_semdedup_incr runs;
      // guard disabled to match the guard-free oracle
      Ann.semDedupPairsAgainstStore(
        Ann.lloydAssigned(twins, "vec_id", "embedding", cents),
        store, threshold = 0.9, maxCellSize = Int.MaxValue)
        .orderBy("new_id", "corpus_id")
    },
      // the reload path must reproduce the inline-recomputed pair
      // set exactly — same oracle as the stream door (one CTE body,
      // the d_minhash_store stance)
      graft.ann.Ann.semDedupIncrSql(
        "vec_id % 20 = 3", idOffset = 1000000L, delta = 0.01,
        threshold = 0.9)),
  )
}
