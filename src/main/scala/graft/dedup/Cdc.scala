package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) — the SHIFT-RESISTANT dedup
  * primitive (FastCDC/LBFS lineage): chunk boundaries are declared
  * wherever a k-gram's hash ≡ 0 (mod `divisor`), so boundaries are
  * a function of CONTENT, not offsets. Insert a sentence at the top
  * of a document and fixed-width shingles all shift (every
  * fingerprint changes), but CDC chunks realign at the next content
  * boundary — only the chunk containing the edit differs. Exactly
  * the property snapshot-over-snapshot corpus dedup needs
  * (Common-Crawl recrawls are mostly-identical pages with small
  * insertions), complementing [[Dedup]]'s shingle/minhash estimators
  * and `ExactSubstr`'s verbatim spans.
  *
  * Boundary rule (pinned by the gate): at 1-based gram position `i`
  * (grams of `k` chars, the [[Winnow]] 28-bit md5 hash), a boundary
  * cuts AFTER the gram — the next chunk starts at `i + k`. The
  * expected chunk length is `divisor` chars + the gram tail.
  *
  * Scale shape: gram hashing is the winnowing plan (map-side explode,
  * no corpus shuffle); cut positions aggregate per document
  * (doc-keyed, bounded by doc length); chunk extraction is map-only
  * list arithmetic on each doc row. The cross-corpus duplicate-chunk
  * census groups by chunk hash — the same fingerprint-keyed shuffle
  * every dedup op here uses, at ~1/divisor of the gram volume.
  */
object Cdc {

  /** 28-bit md5 gram hash — identical arithmetic to
    * [[Winnow.fingerprints]] so the two ops share oracle semantics.
    */
  private def gramHash(g: Column): Column =
    conv(substring(md5(g), 1, 7), 16, 10).cast("long")

  /** Per-document chunks: `(id, chunk_idx, start, chunk_len,
    * chunk_hash)` — `chunk_idx`/`start` 1-based, `chunk_hash` the
    * md5 hex of the chunk text. Documents shorter than `k` (or with
    * no boundary) emit one whole-text chunk.
    */
  def chunkSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, divisor: Int = 16,
  ): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(divisor >= 2, s"divisor $divisor must be >= 2")
    Seq("__g", "__cuts", "__starts", "__j")
      .foreach(c => require(!df.columns.contains(c),
        s"chunkSpans reserves column name $c; rename it in the input"))
    // the per-char posexplode + md5-per-gram below multiplies work
    // ~chars× past the scan (and the chunk-extraction md5 pass reuses
    // the same frame), so the docs are spread by doc id first
    val base = graft.ops.Width.spread(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), "id")
    val cuts = base.select(col("id"),
        posexplode(transform(
          sequence(lit(1), greatest(length(col("__t")) - (k - 1), lit(1))),
          i => col("__t").substr(i, lit(k)))).as(Seq("__p", "__g")))
      .filter(length(col("__g")) === k &&
        gramHash(col("__g")) % divisor === 0)
      // __p is 0-based from posexplode; gram start is __p + 1, so the
      // next chunk starts at (__p + 1) + k
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("__p") + 1 + k)).as("__cuts"))
    base.join(cuts, Seq("id"), "left")
      .select(col("id"), col("__t"),
        concat(array(lit(1)),
          coalesce(col("__cuts"), array().cast("array<int>"))).as("__starts"))
      .select(col("id"), col("__t"), col("__starts"),
        posexplode(sequence(lit(1), size(col("__starts")))).as(Seq("__x", "__j")))
      .select(col("id"), col("__j").as("chunk_idx"),
        element_at(col("__starts"), col("__j")).cast("int").as("start"),
        (when(col("__j") < size(col("__starts")),
          element_at(col("__starts"), col("__j") + 1) - 1)
          .otherwise(length(col("__t"))) -
          element_at(col("__starts"), col("__j")) + 1).cast("int")
          .as("chunk_len"),
        col("__t"))
      .filter(col("chunk_len") > 0)
      .select(col("id"), col("chunk_idx"), col("start"), col("chunk_len"),
        md5(col("__t").substr(col("start"), col("chunk_len")))
          .as("chunk_hash"))
  }

  /** Cross-document duplicate-chunk census: chunk hashes seen in at
    * least `minDocs` distinct documents — `(chunk_hash, chunk_len,
    * n_docs, n_occ)`.
    */
  def duplicateChunks(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, divisor: Int = 16, minDocs: Int = 2,
  ): DataFrame =
    chunkSpans(df, idCol, textCol, k, divisor)
      .groupBy(col("chunk_hash"))
      .agg(max(col("chunk_len")).as("chunk_len"),
        countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)

  /** DuckDB rendering of the shared `(id, starts, text)` chunk-start
    * CTEs over `documents(doc_id, text)` restricted by
    * `whereClause`; callers append their final SELECT over `ch`
    * (`id, chunk_idx, start, chunk_len, chunk_hash`).
    */
  private def chunkCtesSql(k: Int, divisor: Int, whereClause: String): String =
    s"""WITH d AS (SELECT doc_id AS id, text AS t FROM documents $whereClause),
       |g AS (SELECT id, CAST(i AS INT) AS p, substr(t, CAST(i AS INT), $k) AS gram
       |  FROM d, unnest(range(1, greatest(length(t) - ${k - 1}, 1) + 1)) AS u(i)),
       |cut AS (SELECT id, list_sort(list(p + $k)) AS cuts
       |  FROM g WHERE length(gram) = $k
       |    AND CAST(('0x' || substr(md5(gram), 1, 7)) AS BIGINT) % $divisor = 0
       |  GROUP BY id),
       |st AS (SELECT d.id, d.t,
       |    list_concat([1], coalesce(cut.cuts, [])) AS starts
       |  FROM d LEFT JOIN cut ON d.id = cut.id),
       |ch0 AS (SELECT id, t, starts, CAST(j AS INT) AS chunk_idx,
       |    CAST(starts[CAST(j AS INT)] AS INT) AS start,
       |    CAST(CASE WHEN j < len(starts) THEN starts[CAST(j AS INT) + 1] - 1
       |              ELSE length(t) END - starts[CAST(j AS INT)] + 1 AS INT)
       |      AS chunk_len
       |  FROM st, unnest(range(1, len(starts) + 1)) AS u(j)),
       |ch AS (SELECT id, chunk_idx, start, chunk_len,
       |    md5(substr(t, start, chunk_len)) AS chunk_hash
       |  FROM ch0 WHERE chunk_len > 0)""".stripMargin

  /** DuckDB rendering of [[chunkSpans]]. */
  def chunkSpansSql(k: Int, divisor: Int, whereClause: String): String =
    chunkCtesSql(k, divisor, whereClause) +
      "\nSELECT id, chunk_idx, start, chunk_len, chunk_hash FROM ch" +
      "\nORDER BY id, chunk_idx"

  /** DuckDB rendering of [[duplicateChunks]]. */
  def duplicateChunksSql(
      k: Int, divisor: Int, minDocs: Int, whereClause: String): String =
    chunkCtesSql(k, divisor, whereClause) +
      s"""
         |SELECT chunk_hash, MAX(chunk_len) AS chunk_len,
         |  CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_occ
         |FROM ch GROUP BY chunk_hash HAVING COUNT(DISTINCT id) >= $minDocs
         |ORDER BY chunk_hash""".stripMargin
}
