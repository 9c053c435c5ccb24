package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixtures that more than one gate family reads: the table reader,
  * the exact-decimal helpers, the scratch root and the planted corpora
  * and oracle cores that a batch gate and its stream twin share.
  */
private[gates] object Fixtures {

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** DuckDB rendering of the planted-leak corpus shared by
    * `e_semantic_contam` (batch scan) and `st_semantic_contam`
    * (stream twin): the `% 10 = 0` slice as doubles plus int8
    * re-encoded copies of the `% 40 = 3` rows under id+2000000.
    */
  lazy val semContamCorpusSql: String = {
    import graft.ann.Ann.{dequantElemSql, qscaleSql, quantizeElemSql}
    s"""SELECT vec_id AS id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |FROM embeddings WHERE vec_id % 10 = 0
       |UNION ALL
       |SELECT vec_id + 2000000 AS id,
       |  list_transform(embedding, x ->
       |    ${dequantElemSql(quantizeElemSql("x", "qscale"), "qscale")}) AS v
       |FROM (SELECT vec_id, embedding,
       |    ${qscaleSql("embedding")} AS qscale
       |  FROM embeddings WHERE vec_id % 40 = 3) s""".stripMargin
  }

  /** The eval-set side of the semantic-contamination gates. */
  lazy val semContamEvalSql: String =
    """SELECT vec_id AS id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |FROM embeddings WHERE vec_id % 20 = 3""".stripMargin

  /** The event operators and their DuckDB oracles share one `ts`
    * convention: int64 epoch nanoseconds (the oracles read the parquet
    * natively and apply `epoch_ns(ts)`). Testdata vintages differ —
    * some store NANOS-annotated int64 (read as long via
    * `spark.sql.legacy.parquet.nanosAsLong`), newer ones store
    * `timestamp[us]` — so normalize at the read boundary: every
    * downstream operator sees ns-long regardless of vintage. A
    * map-side projection only; no shuffle, stays in codegen.
    */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // parquet timestamp[us] reads as NTZ (isAdjustedToUTC=false);
      // every session pins spark.sql.session.timeZone=UTC so the
      // NTZ→TZ cast is the identity and matches DuckDB's naive
      // epoch_ns interpretation of the same values
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case LongType => df
      case other => throw new IllegalStateException(
        s"events.ts: expected TIMESTAMP or BIGINT, got $other")
    }

  /** events with `ts` as a proper timestamp (µs precision — both
    * vintages carry µs resolution; DuckDB likewise truncates ns to µs).
    */
  def events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  def dec(c: Column, p: Int, sc: Int): Column = c.cast(DecimalType(p, sc))

  /** Exact decimal aggregate → DOUBLE for the final projection.
    *
    * The oracle check's hasher folds decimal *physical representation* into the
    * hash (Spark parquet decimal width vs DuckDB native decimal), so a
    * value-equal DECIMAL column still hash-mismatches (all 7 hash
    * failures once seen were exactly the decimal-output queries) — final
    * output schemas must be decimal-free. The conversion goes through a
    * STRING intermediary on BOTH engine sides: decimal-string → double
    * parsing is correctly rounded in both Spark (Double.parseDouble) and
    * DuckDB (fast_float), guaranteeing bit-identical doubles. A direct
    * decimal → double cast is NOT safe: DuckDB converts int128 → double
    * then divides by 10^scale — two roundings that can differ from
    * Spark's correctly-rounded BigDecimal.doubleValue by 1 ulp once the
    * scaled integer exceeds 2^53 (e.g. DECIMAL(28,8) sums at large scale
    * factors). Keep the per-value decimal casts INSIDE the aggregation —
    * they are what makes the sums order-independent and deterministic.
    */
  def decAgg(c: Column, p: Int, sc: Int): Column =
    dec(c, p, sc).cast(StringType).cast(DoubleType)

  /** One deterministic per-process scratch root for sink round-trip
    * queries: Overwrite-mode writes reuse it across bench/verify
    * passes instead of leaking a directory per invocation.
    */
  def scratchRoot(): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scratch")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Planted per-document URLs shared by `t_url_domains` and
    * `p_cap_domain`: 23 synthetic domains + a 1-in-3 mirror host, no
    * URL on every 4th doc (identical construction in both oracles).
    */
  def plantedUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" https://s"),
            (col("doc_id") % 23).cast("string"), lit(".example.com/p/"),
            col("doc_id").cast("string"),
            when(col("doc_id") % 3 === 0, lit(" http://mirror.example.org/m"))
              .otherwise(lit("")))).as("text"))

  /** Shared fixture for the CDC changelog gates: a base snapshot
    * (3/4 of orders) plus a deterministic I/U/D changelog derived
    * from order keys — double updates (%6 supersedes %3), deletes
    * (%9), inserts of keys outside the base (%4), and the
    * insert-then-delete churn case on their overlaps (%36). `seq =
    * key*10 + slice` is unique per key, the [[graft.ops.Changelog]]
    * contract.
    */
  def changelogFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
    val base = o.filter(col("k") % 4 =!= 0)
    def slice(modK: Int, seqOff: Int, op: String,
        status: Column, price: Column) =
      o.filter(col("k") % modK === 0)
        .select(col("k"), (col("k") * 10 + seqOff).as("seq"),
          lit(op).as("op"), status.as("status"), price.as("price"))
    val log =
      slice(3, 1, "U", lit("U1"), col("price") * 2)
        .unionByName(slice(6, 2, "U", lit("U2"), col("price") * 4))
        .unionByName(slice(9, 3, "D", lit("X"), lit(0.0)))
        .unionByName(slice(4, 0, "I", lit("I0"), col("price") + 1))
    (base, log)
  }

  /** The changelog gates' shared oracle CTEs (mirror of
    * [[changelogFixture]] plus the winner join).
    */
  val changelogOracleCtes: String =
    """base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
      |    o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 4 <> 0),
      |log AS (
      |  SELECT o_orderkey AS k, o_orderkey*10+1 AS seq, 'U' AS op,
      |      'U1' AS status, o_totalprice*2 AS price
      |    FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+2, 'U', 'U2', o_totalprice*4
      |    FROM orders WHERE o_orderkey % 6 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+3, 'D', 'X', 0.0
      |    FROM orders WHERE o_orderkey % 9 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey*10+0, 'I', 'I0', o_totalprice+1
      |    FROM orders WHERE o_orderkey % 4 = 0),
      |win AS (SELECT k, max(seq) AS seq, CAST(count(*) AS BIGINT) AS n_ops
      |  FROM log GROUP BY 1),
      |winner AS (SELECT l.k, l.op, l.status, l.price, w.n_ops
      |  FROM log l JOIN win w ON l.k = w.k AND l.seq = w.seq)""".stripMargin
}
