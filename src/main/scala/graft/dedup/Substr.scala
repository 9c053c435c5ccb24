package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact shared-substring run detection — the cross-document half of
  * ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better": memorization tracks
  * VERBATIM repeated spans, which document-level MinHash misses when
  * a boilerplate paragraph hides inside otherwise-distinct pages).
  * The reference project has no counterpart; this extends the
  * prompt-mandated dedup family beside [[Winnow]] (which SAMPLES
  * fingerprints for pair screening — this recovers the exact shared
  * spans with offsets and lengths, the input a span-masking rewriter
  * needs).
  *
  * Method: every char offset contributes a `k`-gram anchor; matching
  * anchors across a document pair land on a (posA − posB) DIAGONAL,
  * and a shared substring of length `L ≥ k` is exactly a maximal run
  * of `L − k + 1` consecutive anchors on one diagonal — so runs fall
  * out of a gaps-and-islands pass (`pos − row_number` per diagonal),
  * no suffix array needed. All arithmetic is integer; output is
  * hash-gateable ([[sharedRunsSql]]).
  *
  * Scale shape: anchors explode map-side; the only corpus-sized
  * shuffle keys are 32-char md5 digests (`joinOnDigest`, default) so
  * document text never shuffles — the k-char gram itself would
  * multiply corpus bytes by k. Digest collisions would need ~2^64
  * DISTINCT grams to appear (birthday bound on md5's 128 bits —
  * negligible even at 100 TB; pass `joinOnDigest = false` for the
  * literal-gram join). The quadratic hazard is a gram ubiquitous
  * across documents (site chrome on millions of pages): cap it with
  * `maxGramDocs` — runs through a hot anchor are then conservatively
  * missed, the same contract as [[Winnow.sharedFingerprintPairs]]'s
  * `maxFpDocs`. At production scale raise `k` (Lee et al. use 50) so
  * anchors are rarer; detection still catches every shared run
  * `≥ minLen ≥ k`.
  */
object Substr {

  /** One `(doc, position, key)` anchor per char offset — shared by
    * [[sharedRuns]] and [[selfRuns]]; optionally persisted because
    * every caller self-joins it (see the persist note on
    * [[sharedRuns]]).
    */
  private def anchorsOf(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, joinOnDigest: Boolean, persistAnchors: Boolean,
  ): DataFrame = {
    val gram = col("__text").substr(col("__pos"), lit(k))
    // the per-char explode + md5 below multiplies work ~chars× past
    // the scan, so the docs are spread by doc id first
    val docs = graft.ops.Width.spread(
      df.select(col(idCol).as("__id"), col(textCol).as("__text")), "__id")
    val anchors = docs
      .select(col("__id"), col("__text"),
        explode(when(length(col("__text")) >= k,
            sequence(lit(1), length(col("__text")) - lit(k - 1)))
          .otherwise(array().cast("array<int>"))).as("__pos"))
      .select(col("__id"), col("__pos"),
        (if (joinOnDigest) md5(gram.cast("binary")) else gram).as("__key"))
    if (persistAnchors)
      anchors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else anchors
  }

  /** Maximal shared runs of length `≥ minLen` between document pairs:
    * `(id_a, id_b, start_a, start_b, run_len)` with `id_a < id_b`,
    * 1-based char offsets, one row per maximal same-diagonal run.
    * Periodic text can also match a pair on SEVERAL diagonals
    * (shifted alignments of the same repeated phrase) — each is its
    * own row, callers deduplicating spans should merge per-doc
    * intervals afterwards (cf. [[graft.operators.Intervals]]).
    */
  def sharedRuns(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minLen: Int = 40,
      maxGramDocs: Int = 0, joinOnDigest: Boolean = true,
      persistAnchors: Boolean = true,
  ): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    require(minLen >= k, s"minLen $minLen must be >= k $k")
    require(maxGramDocs >= 0, s"maxGramDocs $maxGramDocs must be >= 0")
    // the anchor frame feeds BOTH self-join sides (and the hot-gram
    // census when on): persist it once so the k-gram explode + digest
    // runs once and both sides read the same blocks — the same
    // signature-persist contract as the minhash/simhash/cosine
    // builders (session-lifetime entry; MEMORY_AND_DISK spills, so at
    // corpus scale this trades the second anchor shuffle for disk
    // blocks — measured 5× on the gate. Opt out to recompute.)
    val anchors0 = anchorsOf(df, idCol, textCol, k, joinOnDigest,
      persistAnchors)
    val anchors =
      if (maxGramDocs == 0) anchors0
      else {
        val hot = anchors0.groupBy(col("__key"))
          .agg(countDistinct(col("__id")).as("__nd"))
          .filter(col("__nd") > maxGramDocs)
          .select(col("__key"))
        anchors0.join(hot, Seq("__key"), "left_anti")
      }
    val a = anchors.select(col("__id").as("id_a"), col("__pos").as("pos_a"),
      col("__key"))
    val b = anchors.select(col("__id").as("id_b"), col("__pos").as("pos_b"),
      col("__key"))
    // the anchor self-join's two sides are the SAME corpus-scale
    // frame, but its size ESTIMATE is the pre-explode scan size — a
    // per-char explode underestimated ~100×, which let the planner
    // auto-broadcast an anchor side and collect corpus-scale anchors
    // to the driver (found by the factor-30 ScaleTrend point:
    // maxResultSize abort at 1.2 GiB). Broadcast is never right here;
    // pin the sort-merge strategy
    val diag = a.join(b.hint("merge"), Seq("__key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pos_a"), col("pos_b"),
        (col("pos_a") - col("pos_b")).as("__diag"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("__diag"))
      .orderBy(col("pos_a"))
    diag
      .withColumn("__island", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__island"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + lit(k - 1)).cast("int").as("run_len"))
      .filter(col("run_len") >= minLen)
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"),
        col("run_len"))
  }

  /** Within-document verbatim repetition: maximal runs of length
    * `≥ minLen` that occur at TWO positions of the SAME document —
    * the self-join variant of [[sharedRuns]] (scraped pages
    * duplicate their own boilerplate; Gopher-style repetition
    * ratios ([[graft.text.TextFunctions.repetitionScore]]) flag the
    * symptom, this recovers the exact spans a rewriter needs).
    * Output: `(idCol, start_a, start_b, run_len)` with
    * `start_a < start_b`, one row per maximal same-diagonal run —
    * periodic text reports one run per period alignment, as in
    * [[sharedRuns]].
    *
    * Scale shape: the anchor join keys on `(digest, doc id)`, so
    * matches never cross documents and the shuffle groups by
    * document — cross-document hot anchors cost nothing here. The
    * quadratic hazard is a gram repeated P times WITHIN one document
    * (P² join rows — degenerate "aaaa…" pages): cap it with
    * `maxGramRepeats` (per-document occurrence census; runs through
    * capped anchors are conservatively missed).
    */
  def selfRuns(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 12, minLen: Int = 16,
      maxGramRepeats: Int = 0, joinOnDigest: Boolean = true,
      persistAnchors: Boolean = true,
  ): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    require(minLen >= k, s"minLen $minLen must be >= k $k")
    require(maxGramRepeats >= 0, s"maxGramRepeats $maxGramRepeats must be >= 0")
    val anchors0 = anchorsOf(df, idCol, textCol, k, joinOnDigest,
      persistAnchors)
    val anchors =
      if (maxGramRepeats == 0) anchors0
      else {
        val hot = anchors0.groupBy(col("__id"), col("__key"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxGramRepeats)
          .select(col("__id"), col("__key"))
        anchors0.join(hot, Seq("__id", "__key"), "left_anti")
      }
    val a = anchors.select(col("__id"), col("__pos").as("pos_a"), col("__key"))
    val b = anchors.select(col("__id"), col("__pos").as("pos_b"), col("__key"))
    // same sort-merge pin as [[sharedRuns]]: both sides are the
    // exploded anchor frame, whose size estimate (pre-explode scan
    // bytes) is low enough to trip an auto-broadcast that collects
    // corpus-scale anchors to the driver
    val diag = a.join(b.hint("merge"), Seq("__key", "__id"))
      .filter(col("pos_a") < col("pos_b"))
      .select(col("__id"), col("pos_a"), col("pos_b"),
        (col("pos_b") - col("pos_a")).as("__diag"))
    val w = Window.partitionBy(col("__id"), col("__diag"))
      .orderBy(col("pos_a"))
    diag
      .withColumn("__island", col("pos_a") - row_number().over(w))
      .groupBy(col("__id"), col("__diag"), col("__island"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + lit(k - 1)).cast("int").as("run_len"))
      .filter(col("run_len") >= minLen)
      .select(col("__id").as(idCol), col("start_a"), col("start_b"),
        col("run_len"))
  }

  /** DuckDB rendering of [[selfRuns]] (digest-join form) over
    * `documents(doc_id, text)` restricted to `whereClause`.
    */
  def selfRunsSql(k: Int, minLen: Int, whereClause: String): String = {
    require(k >= 2 && minLen >= k, s"bad k $k / minLen $minLen")
    s"""WITH d AS (SELECT doc_id, text FROM documents $whereClause),
       |an AS (SELECT doc_id, pos, md5(substr(text, pos, $k)) AS key
       |  FROM (SELECT doc_id, text,
       |      unnest(range(1, greatest(length(text) - ${k - 1}, 0) + 1)) AS pos
       |    FROM d)),
       |pr AS (SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b,
       |    b.pos - a.pos AS diag
       |  FROM an a JOIN an b
       |    ON a.key = b.key AND a.doc_id = b.doc_id AND a.pos < b.pos),
       |isl AS (SELECT *, pos_a - row_number() OVER (
       |    PARTITION BY doc_id, diag ORDER BY pos_a) AS island
       |  FROM pr),
       |runs AS (SELECT doc_id, CAST(min(pos_a) AS INT) AS start_a,
       |    CAST(min(pos_b) AS INT) AS start_b,
       |    CAST(count(*) + ${k - 1} AS INT) AS run_len
       |  FROM isl GROUP BY doc_id, diag, island)
       |SELECT doc_id, start_a, start_b, run_len
       |FROM runs WHERE run_len >= $minLen""".stripMargin
  }

  /** The apply step of ExactSubstr dedup: cut every shared run out
    * of the LATER document of its pair (first occurrence by id
    * survives — Lee et al. 2022 keep one copy arbitrarily; min-id is
    * the library's deterministic canonical-selection rule, cf.
    * [[Dedup.dedupApply]]). Runs on the same document merge to
    * disjoint spans first ([[graft.operators.Intervals]]'s sweep
    * construction), then the text is rebuilt in ONE pass with a fold
    * over the span list — map-only after the per-doc span
    * aggregation; documents with nothing to cut never enter the
    * rebuild join. Output: `(idCol, n_spans, chars_removed,
    * text_clean)` for EVERY input document.
    */
  def removeSharedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minLen: Int = 40,
      maxGramDocs: Int = 0, joinOnDigest: Boolean = true,
      persistInput: Boolean = false, persistAnchors: Boolean = true,
  ): DataFrame = {
    Seq("__spans", "__lo", "__hi").foreach(c =>
      require(!df.columns.contains(c),
        s"removeSharedSpans reserves column name $c; rename it in the input"))
    // the input feeds three lineages (both anchor sides of the run
    // join, plus the rebuild join) — pass persistInput = true when
    // the corpus scan is expensive (one MEMORY_AND_DISK
    // materialization of the (id, text) projection; session-lifetime
    // entry, same contract as [[graft.text.TfIdf.topTerms]])
    val base0 = df.select(col(idCol), col(textCol))
    val base =
      if (persistInput)
        base0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else base0
    val runs = sharedRuns(base, idCol, textCol, k, minLen, maxGramDocs,
      joinOnDigest, persistAnchors)
    val spans = runs.select(col("id_b").as(idCol),
      col("start_b").as("__lo"),
      (col("start_b") + col("run_len") - 1).as("__hi"))
    val merged = graft.operators.Intervals
      .mergeIntervals(spans, idCol, "__lo", "__hi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__lo").as("lo"),
        col("__hi").as("hi")))).as("__spans"))
    val tc = textCol
    // one LEFT join covers touched and untouched documents alike: the
    // span-list side is duplicate-doc-sized (tiny), AQE broadcasts it,
    // and the corpus is read once here instead of join + anti-join
    base.join(merged, Seq(idCol), "left")
      .withColumn("text_clean",
        when(col("__spans").isNull, col(tc)).otherwise(expr(
          s"""aggregate(__spans,
             |  struct(cast(1 as int) as p, '' as acc),
             |  (st, iv) -> struct(cast(iv.hi + 1 as int) as p,
             |    concat(st.acc, substring(`$tc`, st.p, iv.lo - st.p)) as acc),
             |  st -> concat(st.acc,
             |    substring(`$tc`, st.p, length(`$tc`) - st.p + 1)))""".stripMargin)))
      .select(col(idCol),
        when(col("__spans").isNull, lit(0))
          .otherwise(size(col("__spans"))).as("n_spans"),
        (length(col(tc)) - length(col("text_clean"))).as("chars_removed"),
        col("text_clean"))
  }

  /** DuckDB rendering of [[removeSharedSpans]] (digest-join form)
    * over `documents(doc_id, text)` restricted to `whereClause`. The
    * text rebuild is deliberately a DIFFERENT formulation (per-char
    * explode + anti-match against covering spans + ordered
    * string_agg) so the gate cross-checks the fold, not the same
    * arithmetic spelled twice.
    */
  def removeSharedSpansSql(k: Int, minLen: Int, whereClause: String): String = {
    val runs = sharedRunsSql(k, minLen, whereClause)
    s"""WITH runs0 AS ($runs),
       |sp AS (SELECT DISTINCT id_b AS doc_id, start_b AS lo,
       |    start_b + run_len - 1 AS hi FROM runs0),
       |spl AS (SELECT doc_id, lo, hi,
       |    CASE WHEN max_prev IS NULL OR lo > max_prev THEN 1 ELSE 0 END AS newf
       |  FROM (SELECT doc_id, lo, hi,
       |      max(hi) OVER (PARTITION BY doc_id ORDER BY lo, hi
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev
       |    FROM sp)),
       |grp AS (SELECT doc_id, lo, hi, sum(newf) OVER (
       |    PARTITION BY doc_id ORDER BY lo, hi
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM spl),
       |mg AS (SELECT doc_id, g, min(lo) AS lo, max(hi) AS hi
       |  FROM grp GROUP BY doc_id, g),
       |docs0 AS (SELECT doc_id, text FROM documents $whereClause),
       |ch AS (SELECT doc_id, pos, substr(text, pos, 1) AS c
       |  FROM (SELECT doc_id, text,
       |      unnest(range(1, length(text) + 1)) AS pos FROM docs0)),
       |kept AS (SELECT ch.doc_id, ch.pos, ch.c FROM ch
       |  WHERE NOT EXISTS (SELECT 1 FROM mg
       |    WHERE mg.doc_id = ch.doc_id AND ch.pos BETWEEN mg.lo AND mg.hi)),
       |cl AS (SELECT doc_id, string_agg(c, '' ORDER BY pos) AS text_clean
       |  FROM kept GROUP BY doc_id),
       |ns AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans FROM mg
       |  GROUP BY doc_id)
       |SELECT doc_id,
       |  coalesce(ns.n_spans, 0) AS n_spans,
       |  CAST(length(d.text) - length(coalesce(cl.text_clean, ''))
       |    AS INT) AS chars_removed,
       |  coalesce(cl.text_clean, '') AS text_clean
       |FROM docs0 d
       |LEFT JOIN ns USING (doc_id)
       |LEFT JOIN cl USING (doc_id)""".stripMargin
  }

  /** DuckDB rendering of [[sharedRuns]] (digest-join form) over
    * `documents(doc_id, text)` restricted to `whereClause` (a full
    * `WHERE ...` clause or "").
    */
  def sharedRunsSql(k: Int, minLen: Int, whereClause: String): String = {
    require(k >= 2 && minLen >= k, s"bad k $k / minLen $minLen")
    s"""WITH d AS (SELECT doc_id, text FROM documents $whereClause),
       |an AS (SELECT doc_id, pos, md5(substr(text, pos, $k)) AS key
       |  FROM (SELECT doc_id, text,
       |      unnest(range(1, greatest(length(text) - ${k - 1}, 0) + 1)) AS pos
       |    FROM d)),
       |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
       |  FROM an a JOIN an b ON a.key = b.key AND a.doc_id < b.doc_id),
       |isl AS (SELECT *, pos_a - row_number() OVER (
       |    PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
       |  FROM pr),
       |runs AS (SELECT id_a, id_b, CAST(min(pos_a) AS INT) AS start_a,
       |    CAST(min(pos_b) AS INT) AS start_b,
       |    CAST(count(*) + ${k - 1} AS INT) AS run_len
       |  FROM isl GROUP BY id_a, id_b, diag, island)
       |SELECT id_a, id_b, start_a, start_b, run_len
       |FROM runs WHERE run_len >= $minLen""".stripMargin
  }
}
