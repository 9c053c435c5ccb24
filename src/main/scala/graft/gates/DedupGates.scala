package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Deduplication (`d_`): exact, fuzzy, MinHash/LSH, substring,
  * SimHash, CDC chunking and clustering, plus `dt_date_parts`.
  */
private[gates] object DedupGates {

  /** Planted fuzzy near-dup corpus shared by `d_fuzzy_pairs` and
    * `d_fuzzy_clusters` — ONE Spark-side construction (and one oracle
    * core below) so the gate pair cannot silently desynchronize: 17
    * template groups (24 hex chars of a group md5, far apart
    * cross-group) with per-doc suffix perturbations 0–3 edits apart.
    */
  private def plantedFuzzy(s: SparkSession, dir: String): DataFrame = {
    val grp = md5((col("doc_id") % 17).cast("string"))
    t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("id"),
        concat(lit("g"), substring(grp, 1, 24),
          when(col("doc_id") % 3 === 0, lit(""))
            .when(col("doc_id") % 3 === 1, lit(" x"))
            .otherwise(lit(" yy"))).as("text"))
  }

  /** Shared oracle core for the planted fuzzy near-dup pairs
    * (`d_fuzzy_pairs` gates the pairs; `d_fuzzy_clusters` feeds the
    * same pair set through the recursive-CTE component labeling).
    */
  private val fuzzyPairsOracle: String =
    """WITH d AS (SELECT doc_id AS id,
      |  'g' || substr(md5(CAST(doc_id % 17 AS VARCHAR)), 1, 24) ||
      |  CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN ' x' ELSE ' yy' END AS t
      |  FROM documents WHERE doc_id % 5 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
      |FROM d a JOIN d b ON a.id < b.id
      |WHERE abs(length(a.t) - length(b.t)) <= 3 AND levenshtein(a.t, b.t) <= 3""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("dt_date_parts", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"),
          decAgg(sum(dec(col("o_totalprice"), 18, 4)), 28, 4).as("sum_price"))
        .orderBy("y", "m")
    },
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |count(*) AS n,
        |CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin),
    Gate("d_incremental", (s, dir) => {
      // incremental ingest dedup: existing corpus (even ids) holds
      // templates 'tpl <even 0..38>'; the incoming batch (odd ids)
      // draws from 'tpl <0..54>' — admitted rows are novel templates
      // at their first (min-id) batch occurrence
      val docs = t(s, dir, "documents")
      val existing = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          concat(lit("tpl "), (col("doc_id") % 40).cast("string")).as("text"))
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          concat(lit("tpl "), (col("doc_id") % 55).cast("string")).as("text"))
      graft.dedup.Incremental.dedupIncrement(existing, incoming, "doc_id", "text")
        .orderBy("doc_id")
    },
      {
      val fpInc = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 55 AS VARCHAR))")
      val fpEx = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 40 AS VARCHAR))")
      s"""WITH ex AS (SELECT $fpEx AS fp FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         |inc AS (SELECT doc_id, 'tpl ' || CAST(doc_id % 55 AS VARCHAR) AS text,
         |  $fpInc AS fp
         |  FROM documents WHERE doc_id % 2 = 1),
         |novel AS (SELECT * FROM inc WHERE fp NOT IN (SELECT fp FROM ex)),
         |k AS (SELECT fp, min(doc_id) AS keep FROM novel GROUP BY fp)
         |SELECT n.doc_id, n.text FROM novel n
         |JOIN k ON n.fp = k.fp AND n.doc_id = k.keep
         |ORDER BY n.doc_id""".stripMargin
    }),
    Gate("d_version_diff", (s, dir) => {
      // corpus-refresh release notes: fingerprint-set full outer
      // between two synthetic template versions (same construction as
      // d_incremental) — no text moves, only 16-byte digests
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 2 === 0)
        .select(concat(lit("tpl "), (col("doc_id") % 40).cast("string")).as("text"))
      val v2 = docs.filter(col("doc_id") % 2 === 1)
        .select(concat(lit("tpl "), (col("doc_id") % 55).cast("string")).as("text"))
      graft.dedup.Incremental.versionDiff(v1, v2, "text")
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy("status")
    },
      {
      val fp1 = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 40 AS VARCHAR))")
      val fp2 = graft.text.TextFunctions.fingerprintSql
        .replace("TXT", "('tpl ' || CAST(doc_id % 55 AS VARCHAR))")
      s"""WITH v1 AS (SELECT DISTINCT $fp1 AS fp FROM documents WHERE doc_id % 2 = 0),
         |v2 AS (SELECT DISTINCT $fp2 AS fp FROM documents WHERE doc_id % 2 = 1),
         |j AS (SELECT CASE WHEN v1.fp IS NOT NULL AND v2.fp IS NOT NULL THEN 'kept'
         |             WHEN v2.fp IS NOT NULL THEN 'added' ELSE 'removed' END AS status
         |  FROM v1 FULL OUTER JOIN v2 ON v1.fp = v2.fp)
         |SELECT status, count(*) AS n FROM j GROUP BY status ORDER BY status""".stripMargin
    }),
    Gate("d_fuzzy_pairs", (s, dir) => {
      // fuzzy near-dup pairs by banded Levenshtein over the planted
      // typo-variant corpus (shared construction, see plantedFuzzy)
      graft.dedup.Fuzzy.editDistancePairs(
        plantedFuzzy(s, dir), "id", "text", maxDist = 3)
        .orderBy("id_a", "id_b")
    },
      (fuzzyPairsOracle + "\nORDER BY id_a, id_b")),
    Gate("d_fuzzy_clusters", (s, dir) => {
      // fuzzy pairs -> connected components: typo variants collapse
      // into clusters labeled by their min id (cross-module chain,
      // same plantedFuzzy construction as d_fuzzy_pairs)
      val pairs = graft.dedup.Fuzzy.editDistancePairs(
        plantedFuzzy(s, dir), "id", "text", maxDist = 3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("id")
    },
      graft.dedup.Dedup.connectedComponentsSql(fuzzyPairsOracle)),
    Gate("d_exact_dedup", (s, dir) => {
      graft.dedup.Dedup
        .exactDuplicates(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fp")
    },
      s"""SELECT ${graft.text.TextFunctions.fingerprintSql.replace("TXT", "text")} AS fp,
         |count(*) AS n_dups, min(doc_id) AS keeper_id
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),
    Gate("d_normalized_dedup", (s, dir) => {
      // canonicalize-before-fingerprint composition: each document
      // spawns a precomposed-accent and a combining-mark variant;
      // after NFC both variants fingerprint identically, so every
      // group reports exactly 2 duplicates with the precomposed id
      // as keeper — without normalization these byte sequences would
      // never pair (NormalizeTextSpec pins that contrast)
      import graft.functions.NormalizeText
      val base = t(s, dir, "documents").filter(col("doc_id") % 20 === 4)
        .select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") * 10).as("id"),
          concat(col("text"), lit(" caf\u00e9 \u00fcber")).as("t"))
        .unionByName(base.select((col("doc_id") * 10 + 1).as("id"),
          concat(col("text"), lit(" cafe\u0301 u\u0308ber")).as("t")))
      graft.dedup.Dedup.exactDuplicates(
        variants.select(col("id"),
          NormalizeText.normalize_text(col("t")).as("t_norm")),
        "id", "t_norm")
        .orderBy("fp")
    },
      s"""WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 4),
         |u AS (SELECT doc_id * 10 AS id, text || ' caf\u00e9 \u00fcber' AS t FROM b
         |  UNION ALL
         |  SELECT doc_id * 10 + 1, text || ' cafe\u0301 u\u0308ber' FROM b)
         |SELECT ${graft.text.TextFunctions.fingerprintSql
               .replace("TXT", "nfc_normalize(t)")} AS fp,
         |count(*) AS n_dups, min(id) AS keeper_id
         |FROM u GROUP BY 1 ORDER BY fp""".stripMargin),
    Gate("d_ngram_jaccard", (s, dir) => {
      graft.dedup.Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3, threshold = 0.5,
        maxGramDocs = 0L) // exact Jaccard for the oracle; default guard is on
        .orderBy("id_a", "id_b")
    },
      graft.dedup.Dedup.ngramJaccardSql(3, 0.5, "WHERE doc_id % 50 = 0")),
    Gate("d_containment_pairs", (s, dir) => {
      // asymmetric near-dup: short-doc-quoted-in-long-doc pairs that
      // symmetric Jaccard scores near zero; same shared-gram join
      // shape as d_ngram_jaccard (exact mode for the oracle)
      graft.dedup.Dedup.ngramContainmentPairs(
        t(s, dir, "documents").filter(col("doc_id") % 25 === 0),
        "doc_id", "text", n = 3, threshold = 0.8,
        maxGramDocs = 0L)
        .orderBy("id_a", "id_b")
    },
      graft.dedup.Dedup.ngramContainmentSql(3, 0.8, "WHERE doc_id % 25 = 0")),
    Gate("d_minhash_lsh", (s, dir) => {
      // maxBucketSize = Int.MaxValue: the oracle renders NO guard, so
      // the gate runs the unguarded contract on both engines (the
      // st_minhash_incr stance) — the guarded run's latent divergence
      // (a >1000-doc band bucket in the slice would have dropped
      // pairs on the Spark side only) is retired. The guarded path is
      // exercised by its own spec/PlanGuard fixtures
      graft.dedup.Dedup.minhashLshPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", numHashes = 16, bands = 4,
        maxBucketSize = Int.MaxValue)
        .orderBy("id_a", "id_b")
    },
      graft.dedup.Dedup.minhashLshSql(16, 4, "WHERE doc_id % 5 = 0")),
    Gate("d_lsh_recall", (s, dir) => {
      // the dedup twin of the ANN recall gates: exact word-Jaccard
      // ground truth on a bounded slice vs the banded MinHash
      // candidates at the same integerized threshold — how
      // numHashes/bands get tuned before a corpus-wide deploy. The
      // exact arm is slice-bounded by contract (its all-pairs join
      // is the thing LSH exists to avoid)
      graft.dedup.Dedup.lshRecallAudit(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", numHashes = 16, bands = 4, threshold = 0.5,
        maxBucketSize = Int.MaxValue) // oracle renders no guard
    },
      graft.dedup.Dedup.lshRecallAuditSql(16, 4, 0.5,
        "WHERE doc_id % 10 = 0")),
    Gate("d_lsh_histogram", (s, dir) => {
      // LSH capacity planning: the per-band bucket-size histogram
      // (and the candidate-pair volume each size class would emit),
      // priced from a census-sized pass BEFORE any pair join runs —
      // the number you read at 100 TB to pick bands/maxBucketSize
      graft.dedup.Dedup.lshBucketHistogram(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", numHashes = 16, bands = 4)
        .orderBy("band", "sz")
    },
      graft.dedup.Dedup.lshBucketHistogramSql(16, 4, "WHERE doc_id % 2 = 0")),
    Gate("d_winnow_fp", (s, dir) => {
      // winnowing (MOSS) fingerprints: rightmost-min-of-window gram
      // sampling with span positions — one doc-keyed shuffle for both
      // window passes, then a fingerprint-sized dedupe
      graft.dedup.Winnow.fingerprints(
        t(s, dir, "documents").filter(col("doc_id") % 50 === 1),
        "doc_id", "text", k = 8, window = 8)
        .orderBy("doc_id", "pos")
    },
      (graft.dedup.Winnow.fingerprintsSql(k = 8, window = 8,
        whereClause = "WHERE doc_id % 50 = 1") + "\nORDER BY doc_id, pos")),
    Gate("d_winnow_pairs", (s, dir) => {
      // partial-overlap candidates: pairs sharing >= 3 winnowing
      // fingerprints — the shared-fp equi-join is the candidate
      // filter, over a frame winnowed to ~2/(w+1) of the gram volume
      graft.dedup.Winnow.sharedFingerprintPairs(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 1),
        "doc_id", "text", k = 8, window = 8, minShared = 3,
        maxFpDocs = 0L) // exact for the oracle; default guard is on
        .orderBy("id_a", "id_b")
    },
      graft.dedup.Winnow.sharedFingerprintPairsSql(k = 8, window = 8,
        minShared = 3, whereClause = "WHERE doc_id % 10 = 1")),
    Gate("d_substr_runs", (s, dir) => {
      // ExactSubstr-lite: maximal verbatim shared spans >= 30 chars
      // with exact offsets — anchor k-grams meet on a digest
      // equi-join (16-byte keys shuffle, text never does), runs fall
      // out of a per-diagonal gaps-and-islands pass; the span-masking
      // rewriter's input shape (Lee et al. 2022)
      graft.dedup.Substr.sharedRuns(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "doc_id", "text", k = 20, minLen = 30)
        .orderBy("id_a", "id_b", "start_a", "start_b")
    },
      (graft.dedup.Substr.sharedRunsSql(k = 20, minLen = 30,
        whereClause = "WHERE doc_id % 3 = 2")
        + "\nORDER BY id_a, id_b, start_a, start_b")),
    Gate("d_substr_self", (s, dir) => {
      // within-document verbatim repetition with exact offsets — the
      // self-join variant: anchors key on (digest, doc id) so matches
      // never cross documents and cross-doc hot anchors cost nothing
      graft.dedup.Substr.selfRuns(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = 12, minLen = 16)
        .orderBy("doc_id", "start_a", "start_b")
    },
      (graft.dedup.Substr.selfRunsSql(k = 12, minLen = 16,
        whereClause = "WHERE doc_id % 2 = 0")
        + "\nORDER BY doc_id, start_a, start_b")),
    Gate("d_substr_apply", (s, dir) => {
      // ExactSubstr apply: duplicated spans are CUT from the later
      // copy (min-id occurrence survives) — runs merge to disjoint
      // per-doc spans (interval sweep), then one fold rebuilds each
      // text; the oracle rebuilds via per-char explode + anti-match,
      // a genuinely different formulation of the same contract
      graft.dedup.Substr.removeSharedSpans(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "doc_id", "text", k = 20, minLen = 30)
        .orderBy("doc_id")
    },
      (graft.dedup.Substr.removeSharedSpansSql(k = 20, minLen = 30,
        whereClause = "WHERE doc_id % 3 = 2") + "\nORDER BY doc_id")),
    Gate("d_minhash_incr", (s, dir) => {
      // incremental LSH: a new drop's signatures banded against the
      // persisted corpus signature table — only the new batch is
      // shingled; the corpus ships numHashes+1 longs per doc. Ids are
      // disjoint by construction (odd %10=7 vs even %2=0)
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.minhashLshPairsAgainst(
        graft.dedup.Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 16),
        graft.dedup.Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 16),
        numHashes = 16, bands = 4)
        .orderBy("new_id", "corpus_id")
    },
      graft.dedup.Dedup.minhashLshIncrementalSql(16, 4,
        whereNew = "WHERE doc_id % 10 = 7", whereCorpus = "WHERE doc_id % 2 = 0")),
    Gate("d_minhash_store", (s, dir) => {
      // the signature STORE round trip d_minhash_incr's comment
      // promises: corpus signatures persist to parquet once, and the
      // next drop's banding runs against the RELOAD (numHashes+1
      // longs per doc — the only thing an incremental dedup ever
      // re-reads). The oracle recomputes signatures inline, so a
      // lossy write/read path hash-fails
      val docs = t(s, dir, "documents")
      val out = s"${scratchRoot()}/minhash_store"
      graft.dedup.Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 16)
        .write.mode("overwrite").parquet(out)
      graft.dedup.Dedup.minhashLshPairsAgainst(
        graft.dedup.Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 16),
        s.read.parquet(out), numHashes = 16, bands = 4)
        .orderBy("new_id", "corpus_id")
    },
      graft.dedup.Dedup.minhashLshIncrementalSql(16, 4,
        whereNew = "WHERE doc_id % 10 = 7", whereCorpus = "WHERE doc_id % 2 = 0")),
    Gate("d_simhash", (s, dir) => {
      graft.dedup.Dedup.simhash(
        t(s, dir, "documents").filter(col("doc_id") % 25 === 0),
        "doc_id", "text")
        .orderBy("id")
    },
      (graft.dedup.Dedup.simhashSql("WHERE doc_id % 25 = 0") + "\nORDER BY id")),
    Gate("d_simhash_pairs", (s, dir) => {
      // default maxBucketSize = 0 (exact pigeonhole candidates, the
      // shape the oracle models); the hot-bucket census is the
      // corpus-scale OPT-IN (maxBucketSize > 0)
      graft.dedup.Dedup.simhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0")),
    Gate("d_dedup_clusters", (s, dir) => {
      // end-to-end dedup: pair finder -> connected components; keep
      // min(id) per cluster downstream and the corpus is deduped.
      // NOTE: like c_load_roundtrip, building this result EXECUTES
      // eagerly (the component computation is iterative/driver-side) —
      // plan-only tools should skip it
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", maxHamming = 3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy("id")
    },
      graft.dedup.Dedup.connectedComponentsSql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"))),
    Gate("d_record_linkage", (s, dir) =>
      // structured entity resolution (Fellegi-Sunter shape): brand-
      // blocked candidate pairs, integer agreement weights (floored
      // micro jaro-winkler name sim + type equality + size
      // proximity), declared matches at >= 600000 (the corpus' two-
      // word names cap name_sim well below the generic default)
      graft.dedup.Linkage.scoredPairs(
        t(s, dir, "part").filter(col("p_partkey") % 7 === 0),
        "p_partkey", "p_brand", "p_name",
        exactCols = Seq("p_type"), nearCol = "p_size", tol = 1,
        threshold = 600000)
        .orderBy("id_a", "id_b"),
      graft.dedup.Linkage.scoredPairsPartSql(
        "WHERE p_partkey % 7 = 0", tol = 1, threshold = 600000)),
    Gate("d_dedup_clusters_lp", (s, dir) => {
      // the same clustering FORCED down the distributed arm
      // (driverThresholdEdges = 0): min-label flooding + pointer
      // jumping, the path a 100 TB pair list takes — gated against
      // the identical recursive-CTE oracle as the hybrid entry, so
      // the oracle check verifies BOTH arms produce the same labeling.
      // Executes eagerly (iterative) like d_dedup_clusters
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", maxHamming = 3)
      graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b",
        driverThresholdEdges = 0L)
        .orderBy("id")
    },
      // the SAME oracle as d_dedup_clusters: both arms must label
      // identically, and the oracle check proves it for each independently
      graft.dedup.Dedup.connectedComponentsSql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"))),
    Gate("d_dedup_apply", (s, dir) => {
      // the full dedup pipeline applied: find near-dup pairs, cluster
      // them, drop every non-canonical cluster member — the surviving
      // corpus is the deliverable a training-data pipeline feeds
      // downstream. Executes eagerly like d_dedup_clusters (the
      // cluster step is iterative)
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      graft.dedup.Dedup.dedupApply(docs, "doc_id", clusters)
        .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
        .orderBy("doc_id")
    },
      graft.dedup.Dedup.dedupApplySql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"),
        "WHERE doc_id % 5 = 0")),
    Gate("d_dedup_apply_best", (s, dir) => {
      // quality-aware canonical selection: each near-dup family keeps
      // its LONGEST member (ties to smallest id) — what production
      // dedup ships, vs d_dedup_apply's crawl-order min-id. The
      // argmax runs on the cluster frame, never the corpus
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      graft.dedup.Dedup.dedupApplyBest(docs, "doc_id", clusters,
        length(col("text")).cast("long"))
        .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"))
        .orderBy("doc_id")
    },
      graft.dedup.Dedup.dedupApplyBestSql(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"),
        "WHERE doc_id % 5 = 0")),
    Gate("d_contamination", (s, dir) => {
      // decontamination demo: every 100th doc plays the benchmark set;
      // 3-gram shingles because the synthetic corpus has little long-
      // gram overlap (production uses 8-13-gram shingles, same plan)
      val docs = t(s, dir, "documents")
      graft.dedup.Dedup.contaminationScan(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", n = 3, minSharedGrams = 1)
        .orderBy("doc_id", "probe_id")
    },
      graft.dedup.Dedup.contaminationSql(3, 1,
        "WHERE doc_id % 100 <> 0", "WHERE doc_id % 100 = 0")),
    Gate("d_cdc_chunks", (s, dir) =>
      // content-defined chunking: boundaries where the 8-gram hash ≡
      // 0 (mod 16) — chunk spans realign after insertions, the
      // shift-resistance fixed-width shingles lack. Gram hashing is
      // the winnowing plan; spans are doc-keyed list arithmetic
      graft.dedup.Cdc.chunkSpans(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 3),
        "doc_id", "text")
        .orderBy("id", "chunk_idx"),
      graft.dedup.Cdc.chunkSpansSql(8, 16, "WHERE doc_id % 7 = 3")),
    Gate("d_cdc_dupes", (s, dir) =>
      // cross-document duplicate-chunk census over CDC spans: the
      // fingerprint-keyed shuffle at ~1/16 of the gram volume
      graft.dedup.Cdc.duplicateChunks(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
        .orderBy("chunk_hash"),
      graft.dedup.Cdc.duplicateChunksSql(8, 16, 2, "WHERE doc_id % 2 = 0")),
    Gate("d_url_canon", (s, dir) => {
      // crawl-frontier dedup: scheme/case/www/query/slash variants of
      // the same page collapse under the pinned 5-step canon rule —
      // planted even/odd docs carry the two variant spellings
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" https://WWW.s"), (col("doc_id") % 11).cast("string"),
              lit(".example.com/page/"), (col("doc_id") % 40).cast("string"),
              lit("?utm=x")))
            .otherwise(concat(lit(" http://s"),
              (col("doc_id") % 11).cast("string"), lit(".example.com/page/"),
              (col("doc_id") % 40).cast("string"), lit("/")))).as("text"))
      graft.text.Urls.canonicalStats(docs, "doc_id", "text")
        .orderBy("canon_url")
    },
      {
      val urlRows =
        """WITH d AS (SELECT doc_id, text ||
          |  CASE WHEN doc_id % 2 = 0
          |       THEN ' https://WWW.s' || CAST(doc_id % 11 AS VARCHAR) ||
          |            '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) ||
          |            '?utm=x'
          |       ELSE ' http://s' || CAST(doc_id % 11 AS VARCHAR) ||
          |            '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) ||
          |            '/' END AS text
          |  FROM documents),
          |uu AS (SELECT doc_id AS id,
          |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
          |  FROM d)
          |SELECT id, url FROM uu""".stripMargin
      graft.text.Urls.canonicalStatsSql(urlRows)
    }),
    Gate("d_source_overlap", (s, dir) => {
      // cross-source duplication matrix: distinct (fingerprint,
      // source) rows self-join on the fingerprint — fan-out bounded
      // by SOURCE count per fingerprint, never by document
      // multiplicity; planted syndicated templates make the hot
      // cells real. The census a mixture planner reads to drop
      // wholesale-subset sources before per-document dedup
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("source"),
          when(col("doc_id") % 3 === 0,
            concat(lit("syndicated item "), (col("doc_id") % 7).cast("string")))
            .otherwise(col("text")).as("text"))
      graft.dedup.Provenance.sourceOverlap(docs, "text", "source")
        .orderBy("src_a", "src_b")
    },
      graft.dedup.Provenance.sourceOverlapSql("WHERE doc_id % 2 = 0",
        "CASE WHEN doc_id % 3 = 0 THEN 'syndicated item ' || " +
          "CAST(doc_id % 7 AS VARCHAR) ELSE text END")),
    Gate("d_ensemble_pairs", (s, dir) => {
      // multi-finder dedup ensemble: minhash-LSH and simhash pair
      // sets over the SAME slice, unioned with method provenance —
      // production dedup votes across finders (each catches what the
      // other's blocking misses) before clustering
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val mh = graft.dedup.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 16, bands = 4,
        maxBucketSize = Int.MaxValue) // oracle CTE renders no guard
        .select(col("id_a"), col("id_b"), lit("minhash").as("method"))
      val sh = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), lit("simhash").as("method"))
      mh.unionByName(sh)
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).cast("int").as("n_methods"),
          concat_ws("+", sort_array(collect_list(col("method"))))
            .as("methods"))
        .orderBy("id_a", "id_b")
    },
      {
      val mh = graft.dedup.Dedup.minhashLshSql(16, 4, "WHERE doc_id % 5 = 0")
      val sh = graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0")
      s"""WITH mh AS (SELECT id_a, id_b FROM ($mh) qmh),
         |shp AS (SELECT id_a, id_b FROM ($sh) qsh),
         |u AS (SELECT id_a, id_b, 'minhash' AS method FROM mh
         |  UNION ALL SELECT id_a, id_b, 'simhash' FROM shp)
         |SELECT id_a, id_b, CAST(count(*) AS INT) AS n_methods,
         |  string_agg(method, '+' ORDER BY method) AS methods
         |FROM u GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin
    }),
    Gate("d_dupe_rate_by_source", (s, dir) => {
      // provenance dashboard: near-dup involvement rate per source —
      // which crawl feeds are polluting the corpus; pair finder +
      // distinct member ids + one broadcast-joinable doc dimension
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val dupes = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
      docs.select(col("doc_id"), col("source"))
        .join(dupes.withColumn("__d", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("__d")), lit(0L)).as("n_dupes"))
        .withColumn("dupe_ppm",
          expr("(n_dupes * 1000000L) div n_docs"))
        .orderBy("source")
    },
      {
      val pairs = graft.dedup.Dedup.simhashPairsSql(
        3, 6, "WHERE doc_id % 5 = 0")
      s"""WITH du AS (SELECT DISTINCT id FROM (
         |    SELECT id_a AS id FROM ($pairs) q1
         |    UNION SELECT id_b FROM ($pairs) q2) u)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum(CASE WHEN du.id IS NOT NULL THEN 1 END), 0)
         |    AS BIGINT) AS n_dupes,
         |  (CAST(coalesce(sum(CASE WHEN du.id IS NOT NULL THEN 1 END), 0)
         |    AS BIGINT) * 1000000) // count(*) AS dupe_ppm
         |FROM documents d LEFT JOIN du ON d.doc_id = du.id
         |WHERE d.doc_id % 5 = 0
         |GROUP BY source ORDER BY source""".stripMargin
    }),
  )
}
