package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) — the third compression member of the
  * quantizer taxonomy beside PQ (subspace codebooks, ann/Ann.scala)
  * and RVQ (residual cascade, ann/Rvq.scala): every DIMENSION is
  * quantized independently to a signed byte against a per-dimension
  * scale, the `QT_8bit`-style scalar quantizer production stores ship
  * when 4× compression with near-zero training cost beats codebook
  * quality (faiss `ScalarQuantizer`; Lucene/pgvector int8). Here in
  * its deterministic symmetric max-abs form: `scale_d = max |v_d|`
  * over the corpus (an EXACT census — no training, no floats beyond
  * one divide), `code_d = floor(v_d / scale_d · 127)` ∈ [−127, 127],
  * decode `code_d · scale_d / 127`.
  *
  * Everything is a fixed IEEE op sequence both engines compute
  * identically (one divide + multiply + floor per dimension), so
  * encode AND asymmetric retrieval sit under DuckDB hash gates —
  * unlike faiss's trained quantiles, which would be recall-spec'd.
  *
  * 100 TB shape: the scale census is ONE map-side posexplode +
  * dim-keyed max aggregate (dim rows out — bounded, broadcastable
  * always); encode/decode are pure projections against the collected
  * dim-entry literal (the [[Ann.opqPermute]] / lshTopK bounded-collect
  * precedent), so encoding shuffles NOTHING; retrieval is the
  * family's scored-pairs → bounded-heap [[Ann.heapRank]] tail.
  * A constant-zero dimension (scale 0) encodes to 0 rather than
  * dividing by zero.
  */
object Sq {

  /** Per-dimension max-abs scale census: `(dim_idx, scale)`, `dim`
    * rows — exact, order-blind, mergeable (max of maxes).
    */
  def sq8Scales(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(col(vecCol)).as(Seq("dim_idx", "__x")))
      .groupBy(col("dim_idx"))
      .agg(max(abs(col("__x").cast("double"))).as("scale"))

  /** The collected dim-entry scale literal (bounded by contract). */
  private def scaleLiteral(scales: DataFrame, dim: Int): Column = {
    val arr = new Array[Double](dim)
    val rows = scales.select(col("dim_idx"), col("scale")).collect()
    require(rows.length == dim,
      s"scale census has ${rows.length} rows, need exactly $dim")
    rows.foreach(r => arr(r.getInt(0)) = r.getDouble(1))
    array(arr.map(lit): _*)
  }

  /** Map-only SQ8 encode: `(id, codes: array<int>, err8)` — the
    * signed-byte codes and the squared-L2 reconstruction error
    * against the decode (the number that says whether 8 bits
    * suffice for this corpus). Pure projection; nothing shuffles.
    */
  /** `code_i` for element `i` of `v` against the scale literal. */
  private def codeAt(sarr: Column, v: Column, i: Column): Column = {
    val s = element_at(sarr, i + 1)
    when(s > 0,
      floor(element_at(v, i + 1).cast("double") / s * lit(127.0))
        .cast("int"))
      .otherwise(lit(0))
  }

  /** FUSED per-element decode-of-encode `decode(code_i(v))` — element
    * `i` references only element `i` of the raw vector. Deriving the
    * decode from a 64-wide intermediate `codes` array instead nests
    * the whole codes tree under every element (the projection
    * collapses once codes is not itself an output column) — a
    * ~dim²-node expression whose optimize/codegen cost dominated the
    * query (6 s of plan time on a 35-row result before this fusion).
    */
  private def decodedAt(sarr: Column, v: Column, i: Column): Column =
    codeAt(sarr, v, i).cast("double") *
      element_at(sarr, i + 1) / lit(127.0)

  def sq8Encode(
      df: DataFrame, idCol: String, vecCol: String,
      scales: DataFrame, dim: Int,
  ): DataFrame = {
    val sarr = scaleLiteral(scales, dim)
    df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("codes",
        transform(sequence(lit(0), lit(dim - 1)),
          i => codeAt(sarr, col("__v"), i)))
      .withColumn("__dv",
        transform(sequence(lit(0), lit(dim - 1)),
          i => decodedAt(sarr, col("__v"), i)))
      .select(col("id"), col("codes"),
        Ann.l2sq(col("__v"), col("__dv")).as("err8"))
  }

  /** Asymmetric SQ8 top-k: exact queries against DECODED candidates
    * (the scalar quantizer's ADC — decode is two flops per
    * dimension, so scoring is one fused projection per pair), ranked
    * ascending by squared L2 through the bounded-heap tail. Output:
    * `(query_id, neighbor_id, rank, adc8)`.
    */
  def sq8TopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, n: Int,
      scales: DataFrame, dim: Int, excludeSelf: Boolean = true,
  ): DataFrame = {
    val sarr = scaleLiteral(scales, dim)
    val enc = candidates
      .select(col(idCol).as("neighbor_id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__dv",
        transform(sequence(lit(0), lit(dim - 1)),
          i => decodedAt(sarr, col("__v"), i)))
      .select(col("neighbor_id"), col("__dv"))
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("qv"))
    val scored = q.join(enc,
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        Ann.l2sq(col("qv"), col("__dv")).as("adc8"))
    Ann.heapRank(scored, "adc8", "double", n, ascending = true)
  }

  /** Composed IVF-SQ8 (the faiss `IVF…,SQ8` index shape): a coarse
    * cell quantizer prunes the corpus to `nProbe` cells per query,
    * and only the survivors score — against their DECODED bytes, so
    * the fine storage is 4× smaller while the probe math is
    * unchanged. The coarse pick is the deterministic md5-seeded cell
    * device ([[Ann.ivfTopKHashCells]]'s quantizer) under the L2
    * metric end-to-end: argmin-L2² assignment (ties to the smallest
    * cell id — and NO zero-norm exclusions anywhere, L2 has no NaN
    * hazard), per-query `nProbe` nearest cells, decoded-L2² scoring
    * through the bounded-heap tail.
    *
    * 100 TB shape: cell assignment + SQ8 decode fuse into ONE
    * map-only projection per candidate against two bounded broadcast
    * literals (the centroid array and the dim-entry scales); the
    * scored join shuffles only on cell id; `nProbe/nCells` of the
    * corpus reaches each query's heap.
    */
  def ivfSq8TopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, n: Int,
      scales: DataFrame, dim: Int,
      nCells: Int = 16, nProbe: Int = 4, excludeSelf: Boolean = true,
  ): DataFrame = {
    val sarr = scaleLiteral(scales, dim)
    val cents = candidates
      .select(col(idCol).as("cell"),
        transform(col(vecCol), x => x.cast("double")).as("centroid"))
      .withColumn("ck", md5(col("cell").cast("string")))
      .orderBy(col("ck"), col("cell")).limit(nCells)
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cents"))
    def cellDists(vec: Column): Column =
      transform(col("cents"), ct =>
        struct(Ann.l2sq(vec, ct("centroid")).as("d"),
          ct("cell").as("cell")))
    val assigned = candidates
      .select(col(idCol).as("neighbor_id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .crossJoin(broadcast(cents))
      .withColumn("cell", array_min(cellDists(col("__v")))("cell"))
      .withColumn("__dv",
        transform(sequence(lit(0), lit(dim - 1)),
          i => decodedAt(sarr, col("__v"), i)))
      .select(col("neighbor_id"), col("cell"), col("__dv"))
    val probes = queries
      .select(col(idCol).as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("ds", array_sort(cellDists(col("qv"))))
      .withColumn("np", least(lit(nProbe), size(col("ds"))))
      .withColumn("probe", explode(slice(col("ds"), lit(1), col("np"))))
      .select(col("query_id"), col("qv"), col("probe.cell").as("cell"))
    val scored = probes.join(assigned, Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
        else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        Ann.l2sq(col("qv"), col("__dv")).as("adc8"))
    Ann.heapRank(scored, "adc8", "double", n, ascending = true)
  }

  /** DuckDB rendering of [[ivfSq8TopK]] (self-search over the
    * `whereClause` slice, queries = `queryWhere` rows, self
    * excluded).
    */
  def ivfSq8TopKSql(
      n: Int, dim: Int, nCells: Int, nProbe: Int,
      whereClause: String, queryWhere: String): String =
    s"""WITH ${sq8CtesSql(dim, whereClause)},
       |cents AS (SELECT vec_id AS cell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $nCells),
       |assign0 AS (SELECT d.id AS neighbor_id, d.dv, c.cell,
       |    row_number() OVER (PARTITION BY d.id
       |      ORDER BY ${Ann.l2sqSql("d.v", "c.centroid", dim)}, c.cell) AS rn
       |  FROM dec d CROSS JOIN cents c),
       |assigned AS (SELECT neighbor_id, dv, cell FROM assign0 WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM e $queryWhere),
       |probe0 AS (SELECT q.query_id, q.qv, c.cell,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${Ann.l2sqSql("q.qv", "c.centroid", dim)}, c.cell) AS rn
       |  FROM q CROSS JOIN cents c),
       |probes AS (SELECT query_id, qv, cell FROM probe0 WHERE rn <= $nProbe),
       |scored AS (SELECT query_id, neighbor_id,
       |    ${Ann.l2sqSql("qv", "dv", dim)} AS adc8
       |  FROM probes JOIN assigned USING (cell)
       |  WHERE query_id <> neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, adc8,
       |    CAST(ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc8, neighbor_id) AS INT)
       |      AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, adc8 FROM ranked
       |WHERE rank <= $n ORDER BY query_id, rank""".stripMargin

  /** Cross-quantizer reconstruction census — the operator behind the
    * "which quantizer for this corpus" curation decision: one row per
    * family over the SAME slice, `(family, n_rows,
    * err_sum_micro)` where `err_sum_micro = Σ floor(err · 1e6)`
    * (BIGINT — exact under any partitioning, the micro-unit
    * discipline every gated census here uses; the raw double sum
    * would be partition-order-dependent). Families at their gate
    * dials: SQ8 (zero training, 4× compression at dim=64/float32),
    * seed-drawn RVQ and Lloyd-refined RVQ (2×k-way codes), and
    * seed-drawn PQ and deterministic-Lloyd-refined PQ (`m` subspace
    * codes — the different storage/quality trade the census needs
    * beside the additive and scalar families). Lower total error at
    * a given storage point wins; the row census pins the comparison
    * is over identical inputs. Storage per vector at the defaults:
    * SQ8 = dim bytes, RVQ = 2 codes, PQ = `m` codes — read the
    * census per storage tier, not as one flat argmin.
    */
  def quantizerPick(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      rvqK: Int = 16, refinedK: Int = 8, refinedIters: Int = 2,
      refinedTrainRows: Int = 300, seed: Long = 42L,
      pqM: Int = 8, pqK: Int = 16,
  ): DataFrame = {
    def census(family: String, errs: DataFrame, errCol: String): DataFrame =
      errs.agg(count(lit(1)).as("n_rows"),
        sum(floor(col(errCol) * lit(1000000.0)).cast("long"))
          .as("err_sum_micro"))
        .select(lit(family).as("family"), col("n_rows"),
          col("err_sum_micro"))
    // the six families are INDEPENDENT until the final union, but
    // their codebook trainings are eager driver-action chains (Lloyd
    // checkpoints, sample cuts, permutation collects — ~20 sequential
    // actions all told, measured: 56 single-task jobs, task time 2.0 s
    // of a 4.3 s wall). Building them as [[graft.ops.Overlap]] branches
    // overlaps those action chains (at cluster scale the training jobs
    // back-fill executors the same way). Plans, arithmetic and the
    // emitted union ORDER are exactly the sequential ones — only the
    // driver-side scheduling overlaps.
    graft.ops.Overlap.all(corpus.sparkSession)(
      () => census("sq8",
        sq8Encode(corpus, idCol, vecCol, sq8Scales(corpus, vecCol), dim),
        "err8"),
      () => census("rvq_seed",
        Rvq.rvqEncodeSeedDrawn(corpus, corpus, idCol, vecCol, rvqK, seed),
        "err2"),
      () => {
        val (rcb1, rcb2) = Rvq.rvqCodebooksRefined(corpus, idCol, vecCol,
          refinedK, refinedIters, refinedTrainRows, seed)
        census("rvq_refined",
          Rvq.rvqEncode(corpus, idCol, vecCol, rcb1, rcb2), "err2")
      },
      () => census("pq_seed",
        Ann.pqEncodeErr(corpus, idCol, vecCol,
          Ann.pqCodebooks(corpus, idCol, vecCol, pqM, pqK, dim, seed),
          pqM, dim), "errq"),
      () => census("pq_refined",
        Ann.pqEncodeErr(corpus, idCol, vecCol,
          Ann.pqCodebooksRefinedDet(corpus, idCol, vecCol, pqM, pqK, dim,
            refinedIters, refinedTrainRows, seed),
          pqM, dim), "errq"),
      () => {
        val permuted = corpus.select(col(idCol),
          Ann.opqPermute(vecCol,
            Ann.opqPermutation(corpus, vecCol, pqM, dim), dim).as(vecCol))
        census("pq_opq",
          Ann.pqEncodeErr(permuted, idCol, vecCol,
            Ann.pqCodebooks(permuted, idCol, vecCol, pqM, pqK, dim, seed),
            pqM, dim), "errq")
      }).reduce(_.unionByName(_))
  }

  /** DuckDB rendering of [[quantizerPick]] — each family's existing
    * CTE chain wrapped in its own subquery (the chains share CTE
    * names), folded to the identical micro-unit census.
    */
  def quantizerPickSql(
      dim: Int, whereClause: String,
      rvqK: Int = 16, refinedK: Int = 8, refinedIters: Int = 2,
      refinedTrainRows: Int = 300, seed: Long = 42L,
      pqM: Int = 8, pqK: Int = 16,
  ): String = {
    def fold(family: String, inner: String, errCol: String): String =
      s"""SELECT '$family' AS family, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(floor($errCol * 1000000.0) AS BIGINT)) AS BIGINT)
         |    AS err_sum_micro
         |FROM ($inner) t""".stripMargin
    fold("sq8", sq8EncodeSql(dim, whereClause), "err8") +
      "\nUNION ALL\n" +
      fold("rvq_seed",
        Rvq.rvqEncodeSql(rvqK, dim, seed, whereClause), "err2") +
      "\nUNION ALL\n" +
      fold("rvq_refined",
        Rvq.rvqRefinedEncodeSql(refinedK, refinedIters, refinedTrainRows,
          dim, seed, whereClause), "err2") +
      "\nUNION ALL\n" +
      fold("pq_seed",
        Ann.pqEncodeErrSql(pqM, pqK, dim, seed, whereClause), "errq") +
      "\nUNION ALL\n" +
      fold("pq_refined",
        Ann.pqRefinedEncodeErrSql(pqM, pqK, dim, refinedIters,
          refinedTrainRows, seed, whereClause), "errq") +
      "\nUNION ALL\n" +
      fold("pq_opq",
        Ann.opqEncodeErrSql(pqM, pqK, dim, seed, whereClause), "errq")
  }

  /** Shared CTE chain over `embeddings(vec_id, embedding)` restricted
    * by `whereClause`: `e`, the scale census `sc`/`scl`, `codes`, and
    * the decode `dec` — reused by both oracles.
    */
  private def sq8CtesSql(dim: Int, whereClause: String): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings $whereClause),
       |sc AS (SELECT i - 1 AS dim_idx,
       |    max(abs(CAST(embedding[i] AS DOUBLE))) AS scale
       |  FROM (SELECT embedding, unnest(range(1, ${dim + 1})) AS i FROM e) x
       |  GROUP BY i - 1),
       |scl AS (SELECT list(scale ORDER BY dim_idx) AS sarr FROM sc),
       |codes AS (SELECT vec_id AS id,
       |    list_transform(range(1, ${dim + 1}), i ->
       |      CASE WHEN sarr[i] > 0
       |        THEN CAST(floor(CAST(embedding[i] AS DOUBLE) / sarr[i]
       |          * 127.0) AS INT)
       |        ELSE 0 END) AS codes,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM e, scl),
       |dec AS (SELECT id, v, codes,
       |    list_transform(range(1, ${dim + 1}), i ->
       |      CAST(codes[i] AS DOUBLE) * sarr[i] / 127.0) AS dv
       |  FROM codes, scl)""".stripMargin

  /** DuckDB rendering of [[sq8Scales]] + [[sq8Encode]]; codes render
    * as a comma-joined string (a stable cross-engine scalar).
    */
  def sq8EncodeSql(dim: Int, whereClause: String): String =
    s"""WITH ${sq8CtesSql(dim, whereClause)}
       |SELECT id,
       |  array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',')
       |    AS codes_str,
       |  ${Ann.l2sqSql("v", "dv", dim)} AS err8
       |FROM dec""".stripMargin

  /** DuckDB rendering of [[sq8TopK]] (self-search over the
    * `whereClause` slice, queries = `queryWhere` rows, self
    * excluded).
    */
  def sq8TopKSql(n: Int, dim: Int, whereClause: String,
      queryWhere: String): String =
    s"""WITH ${sq8CtesSql(dim, whereClause)},
       |q AS (SELECT vec_id AS query_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM e $queryWhere),
       |scored AS (SELECT q.query_id, d.id AS neighbor_id,
       |    ${Ann.l2sqSql("qv", "dv", dim)} AS adc8
       |  FROM q, dec d WHERE q.query_id <> d.id),
       |ranked AS (SELECT query_id, neighbor_id, adc8,
       |    CAST(ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY adc8, neighbor_id) AS INT)
       |      AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, adc8 FROM ranked
       |WHERE rank <= $n ORDER BY query_id, rank""".stripMargin
}
