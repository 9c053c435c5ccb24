package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary (1-bit) embedding quantization and Hamming-distance
  * retrieval — the most aggressive point on the quantization curve
  * after [[Ann.quantizeInt8]] (8-bit) and [[Ann.pqEncodePacked]]
  * (4-bit codes): each float component collapses to its sign bit, so
  * a 64-dim float32 vector (256 bytes) becomes two 32-bit words
  * (16 bytes, 16×), and similarity becomes `popcount(xor)` — a
  * handful of ALU ops per comparison with no floating point at all.
  * Matryoshka-style pipelines rerank binary-retrieved survivors at
  * full precision ([[Ann.mrlTruncate]] is the sibling lever).
  *
  * Bit convention (pinned by the oracle gate and BinarySpec): word
  * `w` covers components `w*32+1 .. w*32+32` (1-based), bit `i` of
  * word `w` is set iff component `w*32+i+1` is STRICTLY positive —
  * zeros and NaN-free negatives quantize to 0, so the zero vector
  * packs to all-zero words rather than an engine-dependent value.
  * Words are built as an unrolled 32-term sum of power-of-two
  * LITERALS (no runtime shift, no float `pow`), so the whole packing
  * is one codegen'd integer expression per word on both engines.
  *
  * 100 TB shape: packing is map-only (PlanGuardSpec pins a scan with
  * no exchange); the packed corpus is 16 bytes/row, so a billion-row
  * index fits in ~16 GB — broadcast-able to every executor where the
  * float corpus never was. [[hammingTopK]] scores query×corpus with
  * the small query side broadcast and reduces per query through the
  * bounded-heap [[graft.functions.TopK]] aggregate — O(k) state per
  * query with map-side truncation, never a corpus-sized partition
  * sort; at retrieval scale the corpus-side scan reads ONLY the two
  * packed word columns (column pruning), not the 64-float embedding.
  */
object Binary {

  /** Unrolled 32-bit sign word for components `w*32+1 .. w*32+32` of
    * `vec` — a pure integer expression (literal powers of two).
    */
  private[ann] def signWord(vec: Column, w: Int): Column =
    (0 until 32).map { i =>
      when(element_at(vec, w * 32 + i + 1) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** `(id, w0, w1, …)` packed frame: one BIGINT word per 32
    * components. Map-only at any scale.
    */
  def signPack(
      df: DataFrame, idCol: String, vecCol: String, dim: Int = 64): DataFrame = {
    require(dim > 0 && dim % 32 == 0, s"dim $dim must be a positive multiple of 32")
    val words = dim / 32
    df.select(col(idCol).as("id") +:
      (0 until words).map(w => signWord(col(vecCol), w).as(s"w$w")): _*)
  }

  /** Hamming top-k over sign-packed vectors: for each query, the `k`
    * candidates with the smallest `popcount(xor)` distance (ties by
    * candidate id ascending — Hamming ties are COMMON at 64 bits, so
    * the deterministic tie-break is load-bearing here, not hygiene).
    * Self-pairs are excluded like [[Ann.bruteForceTopK]]. Output:
    * `(query_id, neighbor_id, rank, hamming)`.
    *
    * Zero vectors are NOT excluded (unlike the cosine paths): Hamming
    * distance is well-defined for the all-zero word — there is no
    * 0/0 NaN hazard to guard.
    */
  def hammingTopK(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, dim: Int = 64,
  ): DataFrame = {
    val words = dim / 32
    // the query×corpus scoring below is a nested-loop join (non-equi
    // condition), so it runs in the STREAM side's partitioning — and
    // which side streams is the planner's size-estimate call (either
    // packed side may broadcast). So BOTH sides are spread by id —
    // what spreads is the 16-byte PACKED rows, never the float
    // vectors, so the insurance on the broadcast side costs next to
    // nothing.
    val q = graft.ops.Width.spread(signPack(queries, idCol, vecCol, dim)
      .select(col("id").as("query_id") +:
        (0 until words).map(w => col(s"w$w").as(s"qw$w")): _*), "query_id")
    val c = graft.ops.Width.spread(signPack(candidates, idCol, vecCol, dim)
      .select(col("id").as("neighbor_id") +:
        (0 until words).map(w => col(s"w$w")): _*), "neighbor_id")
    val dist = (0 until words)
      .map(w => bit_count(col(s"qw$w").bitwiseXOR(col(s"w$w"))))
      .reduce(_ + _).cast("long")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dist.as("hamming"))
    // bounded-heap ranking, NOT a window: each query's scored
    // partition is corpus-sized — see [[Ann.heapRank]]; hamming ≤ 64
    // round-trips through the Double heap value exactly
    Ann.heapRank(scored, "hamming", "long", k, ascending = true)
  }

  /** Two-stage retrieval — the production shape for 1-bit indexes:
    * Hamming over packed words retrieves `kCoarse` candidates (the
    * 16-byte scan), then ONLY those survivors rejoin their float
    * vectors for an exact cosine rerank to `k`. At corpus scale the
    * rerank join touches `queries × kCoarse` rows of the float
    * table — the whole point of quantized retrieval. Zero-norm
    * survivors are excluded at rerank (the library's cosine NaN
    * rule); output matches [[Ann.bruteForceTopK]]:
    * `(query_id, neighbor_id, rank, score)`.
    */
  def hammingRerank(
      queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int, kCoarse: Int, dim: Int = 64,
  ): DataFrame = {
    require(kCoarse >= k, s"kCoarse $kCoarse must be >= k $k")
    val coarse = hammingTopK(queries, candidates, idCol, vecCol, kCoarse, dim)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Ann.norm(col(vecCol)).as("qn")).filter(col("qn") > 0)
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), Ann.norm(col(vecCol)).as("cn"))
      .filter(col("cn") > 0)
    val scored = coarse.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Ann.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("score"))
    // per-query partitions are ≤ kCoarse rows here, but the heap
    // rank keeps the whole two-stage path window-free uniformly
    Ann.heapRank(scored, "score", "double", k, ascending = false)
  }

  /** DuckDB rendering of [[hammingRerank]] with queries restricted by
    * `queryWhere` (candidates = the whole embeddings table).
    */
  def hammingRerankSql(
      queryWhere: String, k: Int, kCoarse: Int, dim: Int = 64): String = {
    val nz = s"${Ann.dotSql("embedding", "embedding", dim)} > 0"
    s"""WITH coarse AS (${hammingTopKSql(queryWhere, kCoarse, dim)}),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE $nz),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
       |  WHERE $nz),
       |scored AS (SELECT coarse.query_id, coarse.neighbor_id,
       |    ${Ann.cosineSql("qv", "cv", dim)} AS score
       |  FROM coarse JOIN q USING (query_id) JOIN c USING (neighbor_id)),
       |ranked AS (SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, score FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB rendering of [[signWord]] for list expression `v` —
    * the identical 32-term literal sum.
    */
  private[ann] def signWordSql(v: String, w: Int): String =
    "CAST(" + (0 until 32).map { i =>
      s"CASE WHEN $v[${w * 32 + i + 1}] > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")") + " AS BIGINT)"

  /** DuckDB rendering of [[signPack]] over `embeddings(vec_id,
    * embedding)` restricted by `whereClause`.
    */
  def signPackSql(whereClause: String, dim: Int = 64): String = {
    val words = dim / 32
    val cols = (0 until words)
      .map(w => s"  ${signWordSql("embedding", w)} AS w$w").mkString(",\n")
    s"""SELECT vec_id AS id,
       |$cols
       |FROM embeddings $whereClause ORDER BY id""".stripMargin
  }

  /** DuckDB rendering of [[hammingTopK]] with queries restricted by
    * `queryWhere` (candidates = the whole embeddings table).
    */
  def hammingTopKSql(queryWhere: String, k: Int, dim: Int = 64): String = {
    val words = dim / 32
    val packCols = (0 until words)
      .map(w => s"    ${signWordSql("embedding", w)} AS w$w").mkString(",\n")
    val dist = (0 until words)
      .map(w => s"bit_count(xor(q.w$w, c.w$w))").mkString(" + ")
    s"""WITH p AS (SELECT vec_id AS id,
       |$packCols
       |  FROM embeddings),
       |q AS (SELECT * FROM p WHERE $queryWhere),
       |d AS (SELECT q.id AS query_id, c.id AS neighbor_id,
       |    CAST($dist AS BIGINT) AS hamming
       |  FROM q JOIN p c ON q.id <> c.id),
       |ranked AS (SELECT query_id, neighbor_id, hamming,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming, neighbor_id) AS INT) AS rank
       |  FROM d)
       |SELECT query_id, neighbor_id, rank, hamming FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
}
