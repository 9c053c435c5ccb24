package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Johnson-Lindenstrauss random projection — the cheap dimensionality
  * cut an embedding pipeline runs BEFORE the expensive stages (ANN
  * index build, pairwise audits): project d-dim vectors onto k
  * sign-random axes (Achlioptas' ±1 construction — no Gaussians
  * needed), and pairwise distances survive within 1±eps with high
  * probability at k = O(log n / eps^2).
  *
  * Determinism (the oracle problem): a float dot-product sum is
  * order-sensitive, so the projection QUANTIZES first —
  * `q_i = floor(x_i * 2^20)` (power-of-two multiply is IEEE-exact on
  * float-in-double values, floor is engine-identical) — and every
  * output coordinate is an INTEGER sum `y_j = sum_i q_i * s(j,i)`,
  * order-free. The sign matrix is formula-derived, not sampled:
  * `s(j,i) = parity of md5("jl:j:i")` — the [[graft.functions
  * .LshBandKeys]] seeding convention — so both engines construct the
  * identical matrix from the identical string hash and the matrix
  * never needs storing or shipping.
  *
  * 100 TB shape: MAP-ONLY. The whole k-projection runs inside one
  * codegen'd HOF chain per row (quantize once, then k zip_with/
  * aggregate folds against one `typedLit` matrix literal — k·d longs,
  * a plan constant, not data); no explode, no join, no shuffle. The
  * flattened `(id, j, y)` output is produced by posexplode only when
  * the caller wants rows (the gate does, for hashing).
  */
object Jl {

  private val Scale = 1L << 20

  /** The Achlioptas sign: +1/-1 from the md5 parity of `jl:j:i`
    * (j = 0-based output axis, i = 1-based input dim — the
    * planeWeight convention).
    */
  def signValue(outDim: Int, inDim1: Int): Long =
    if (graft.functions.HashSeeds.md5TopLong(s"jl:$outDim:$inDim1") % 2 == 0) 1L
    else -1L

  /** The k×d sign matrix (spec/audit helper; the execution path
    * embeds it as one literal).
    */
  def signMatrix(outDims: Int, dim: Int): Seq[Seq[Long]] =
    (0 until outDims).map(j => (1 to dim).map(i => signValue(j, i)))

  /** `(idCol, j, y)` rows: the k quantized projections per vector.
    * Contract: every vector has exactly `dim` elements — a mismatch
    * surfaces as NULL `y` (zip_with null-pads the shorter side and
    * the integer fold absorbs it), never as a silently-truncated
    * projection.
    */
  def project(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dim: Int): DataFrame = {
    require(outDims >= 1 && dim >= 1, s"bad dims k=$outDims d=$dim")
    val signs = typedLit(signMatrix(outDims, dim))
    df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__q", expr(
        s"transform(__v, x -> CAST(floor(CAST(x AS DOUBLE) * ${Scale}L) AS BIGINT))"))
      .withColumn("__S", signs)
      .withColumn("__ys", expr(
        s"""transform(sequence(0, ${outDims - 1}), j ->
           |  aggregate(zip_with(__q,
           |      element_at(__S, j + 1), (a, b) -> a * b),
           |    0L, (acc, v) -> acc + v))""".stripMargin))
      .select(col(idCol), posexplode(col("__ys")).as(Seq("j", "y")))
      .select(col(idCol), col("j").cast("long").as("j"), col("y"))
  }

  /** Pairwise distance-distortion census — the audit that EARNS the
    * projection its place in the pipeline: for every pair in a
    * bounded slice, the ratio of projected to original squared
    * distance rescaled by 1/k (for ±1 entries each output
    * coordinate's squared difference has expectation origD, so
    * E[projD] = k·origD), binned at 0.1 granularity. JL says the
    * mass concentrates at band 10 (ratio 1.0); a census that
    * doesn't is the signal to raise k before trusting any
    * ANN/near-dup stage downstream.
    *
    * All-integer: both distances are integer sums over the quantized
    * vectors; the band is `(projD * 10) div (k * origD)` — every
    * intermediate stays far below 2^62 for unit-norm inputs. Zero
    * original distance (duplicate vectors) lands in band -1; bands
    * cap at 40.
    *
    * This is an ALL-PAIRS verifier (the e_cos_threshold_hist
    * family): `maxRows` guards the quadratic blow-up with the lazy
    * raise_error device — production audits sample a slice, the
    * projection itself ([[project]]) stays map-only at any scale.
    */
  def distortionCensus(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dim: Int, maxRows: Long = 2000L): DataFrame = {
    val signs = typedLit(signMatrix(outDims, dim))
    // the pairwise census below is a nested-loop join (a.id < b.id)
    // running in the stream side's partitioning, with a 64-element
    // fold per pair, so the slice is spread by id first; it is
    // <= maxRows BY CONTRACT (enforced below), so what moves is a few
    // thousand quantized rows at most, at any corpus scale.
    val in = graft.ops.Width.spread(
      df.select(col(idCol).as("id"), col(vecCol).as("__v")), "id")
    val base0 = in
      .withColumn("__q", expr(
        s"transform(__v, x -> CAST(floor(CAST(x AS DOUBLE) * ${Scale}L) AS BIGINT))"))
      .withColumn("__S", signs)
      .withColumn("__ys", expr(
        s"""transform(sequence(0, ${outDims - 1}), j ->
           |  aggregate(zip_with(__q,
           |      element_at(__S, j + 1), (a, b) -> a * b),
           |    0L, (acc, v) -> acc + v))""".stripMargin))
      .select(col("id"), col("__q"), col("__ys"))
    val cnt = base0.agg(count(lit(1)).as("__n"))
    val base = base0.crossJoin(broadcast(cnt))
      .filter(when(col("__n") <= maxRows, lit(true))
        .otherwise(raise_error(concat(col("__n").cast("string"),
          lit(s" rows exceed maxRows=$maxRows — the distortion census is " +
            "O(n²) by contract; audit a sample, not the corpus")))))
      .drop("__n")
    val pairs = base.as("a").join(base.as("b"),
      col("a.id") < col("b.id"))
      .select(
        expr("""aggregate(zip_with(a.__q, b.__q,
            |  (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"""
          .stripMargin).as("orig_d"),
        expr("""aggregate(zip_with(a.__ys, b.__ys,
            |  (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"""
          .stripMargin).as("proj_d"))
    pairs
      .select(when(col("orig_d") === 0L, lit(-1L))
        .otherwise(least(
          expr(s"(proj_d * 10) div (${outDims}L * orig_d)"),
          lit(40L))).as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
  }

  /** DuckDB rendering of [[distortionCensus]] (no maxRows guard —
    * the oracle runs on the gate's already-bounded slice).
    */
  def distortionCensusSql(fromClause: String, idExpr: String,
      vecExpr: String, outDims: Int, dim: Int): String =
    s"""WITH jin AS (SELECT $idExpr AS id,
       |    list_transform($vecExpr, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q
       |  FROM $fromClause),
       |jax AS (SELECT j, ${signListSql("j", dim)} AS s
       |  FROM (SELECT unnest(range(0, $outDims)) AS j) jj),
       |jproj AS (SELECT id,
       |    list(CAST(list_sum(list_transform(range(1, $dim + 1), i ->
       |      q[i] * s[i])) AS BIGINT) ORDER BY j) AS ys
       |  FROM jin, jax GROUP BY id),
       |jpairs AS (SELECT
       |    CAST(list_sum(list_transform(range(1, $dim + 1), i ->
       |      (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS BIGINT) AS orig_d,
       |    CAST(list_sum(list_transform(range(1, $outDims + 1), i ->
       |      (pa.ys[i] - pb.ys[i]) * (pa.ys[i] - pb.ys[i])))
       |      AS BIGINT) AS proj_d
       |  FROM jin a JOIN jin b ON a.id < b.id
       |  JOIN jproj pa ON pa.id = a.id
       |  JOIN jproj pb ON pb.id = b.id),
       |jbands AS (SELECT CASE WHEN orig_d = 0 THEN -1
       |    ELSE least((proj_d * 10) // ($outDims * orig_d), 40) END AS band
       |  FROM jpairs)
       |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM jbands GROUP BY 1""".stripMargin

  /** DuckDB rendering of the sign vector for output axis `jExpr`
    * over `dim` input dims — the same md5-parity formula.
    */
  def signListSql(jExpr: String, dim: Int): String =
    s"""list_transform(range(1, ${dim + 1}), i ->
       |  CASE WHEN (CAST(('0x' || substr(md5('jl:' ||
       |      CAST($jExpr AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
       |      1, 15)) AS BIGINT) % 2) = 0 THEN 1 ELSE -1 END)""".stripMargin

  /** DuckDB rendering of [[project]] over `(idExpr, vecExpr)` rows
    * from `fromClause`.
    */
  def projectSql(fromClause: String, idExpr: String, vecExpr: String,
      outDims: Int, dim: Int): String =
    s"""WITH jin AS (SELECT $idExpr AS id,
       |    list_transform($vecExpr, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q
       |  FROM $fromClause),
       |jax AS (SELECT j, ${signListSql("j", dim)} AS s
       |  FROM (SELECT unnest(range(0, $outDims)) AS j) jj),
       |jout AS (SELECT id, j,
       |    list_sum(list_transform(range(1, $dim + 1), i ->
       |      q[i] * s[i])) AS y0
       |  FROM jin, jax)
       |SELECT id, CAST(j AS BIGINT) AS j, CAST(y0 AS BIGINT) AS y
       |FROM jout""".stripMargin
}
