package graft
package gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Fixtures._

/** Training-mix curation (`p_`): sampling, splits, mixtures, packing
  * and selection.
  */
private[gates] object PipelineGates {

  val gates: Seq[Gate] = Seq(
    Gate("p_weighted_sample", (s, dir) => {
      // data-driven sampling: temperature-derived per-language
      // acceptance rates (dominant language downsampled hardest)
      // broadcast onto the corpus, then md5-bucket membership — the
      // whole chain is engine-exact, so the oracle verifies the
      // temperature → rate → membership composition end to end
      import graft.ops.Sampling
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val all = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      val rates = Sampling.temperatureWeights(docs, "lang")
        .withColumn("rate", col("upsample") / max(col("upsample")).over(all))
        .select(col("lang"), col("rate"))
      Sampling.weightedSample(
        docs.join(broadcast(rates), Seq("lang")), "doc_id", "rate", seed = 11L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
        .orderBy("lang")
    },
      s"""WITH ${graft.ops.Sampling.temperatureWeightsCoreSql("documents", "lang")},
         |t AS (SELECT grp AS lang, share,
         |  CAST(raw AS DOUBLE) / CAST(CAST(SUM(raw) OVER () AS BIGINT) AS DOUBLE) / share AS upsample
         |  FROM x),
         |r AS (SELECT lang, upsample / (SELECT max(upsample) FROM t) AS rate FROM t),
         |s AS (SELECT d.doc_id, d.lang
         |  FROM documents d JOIN r ON d.lang = r.lang
         |  WHERE ${graft.ops.Sampling.bucketSql("d.doc_id", 11L)} <
         |        CAST(floor(rate * 1000000.0) AS BIGINT))
         |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin),
    Gate("p_leakproof_split", (s, dir) => {
      // LEAK-PROOF train/test split: split on the dedup CLUSTER label
      // (near-dup family), not the document id, so two near-duplicate
      // documents can never straddle the split — the classic
      // eval-contamination bug. Singletons split on their own id.
      // Executes eagerly like d_dedup_clusters (iterative CC step)
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val pairs = graft.dedup.Dedup.simhashNearDupPairs(
        docs, "doc_id", "text", maxHamming = 3)
      val clusters = graft.dedup.Dedup.connectedComponents(
        pairs, "id_a", "id_b")
      val keyed = docs.select(col("doc_id"))
        .join(clusters, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("split_key"))
      graft.ops.Sampling.withSplit(keyed, "split_key", testFraction = 0.25)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    },
      {
      val ctes = graft.dedup.Dedup.ccCtes(
        graft.dedup.Dedup.simhashPairsSql(3, 6, "WHERE doc_id % 5 = 0"))
      val member = graft.ops.Sampling.bucketSql("split_key", 42L)
      s"""$ctes,
         |d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
         |k AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS split_key
         |  FROM d LEFT JOIN cc ON d.doc_id = cc.id)
         |SELECT doc_id,
         |  CASE WHEN $member < 250000 THEN 'test' ELSE 'train' END AS split
         |FROM k ORDER BY doc_id""".stripMargin
    }),

    // deterministic sampling / split (training-mix curation)
    Gate("p_train_test_split", (s, dir) => {
      graft.ops.Sampling.withSplit(t(s, dir, "documents"), "doc_id",
        testFraction = 0.2)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("split")
    },
      {
      val b = graft.ops.Sampling.bucketSql("doc_id", 42L)
      s"""SELECT CASE WHEN $b < 200000 THEN 'test' ELSE 'train' END AS split,
         |count(*) AS n, min(doc_id) AS min_id
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
    }),
    Gate("p_rank_corr", (s, dir) => {
      // Spearman agreement between two quality signals (char length
      // vs token count): both rank via the distributed prefix-scan
      // rankBy — never a single-partition window — then one integer
      // census row (n, sum_d2, rho_ppm). The audit that says whether
      // a new filter adds signal or re-ranks the old one. The exact
      // integer rho overflows past n = 16,600 (rankCorrelation raises
      // there), so the audit runs on a deterministic hashSample of
      // the slice — the rank-agreement number is a statistic, and a
      // 10% hash sample keeps the gate under the guard to sf ~130
      // while the sample itself stays membership-stable as the
      // corpus grows
      val docs = graft.ops.Sampling.hashSample(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 2),
        "doc_id", fraction = 0.1)
      graft.ops.Shuffling.rankCorrelation(docs, "doc_id",
        col("n_chars"),
        size(graft.text.TextFunctions.tokens(lower(col("text")))).cast("long"))
    },
      graft.ops.Shuffling.rankCorrelationSql(
        "documents WHERE doc_id % 4 = 2 AND " +
          graft.ops.Sampling.bucketSql("doc_id", 42L) + " < 100000",
        "doc_id", "n_chars",
        "CAST(len(" +
          graft.text.TextFunctions.tokensSql.replace("TXT", "lower(text)") +
          ") AS BIGINT)")),
    Gate("p_bootstrap_means", (s, dir) =>
      // one-pass Poisson bootstrap of the mean doc length: 32
      // deterministic md5-weighted resamples fused into ONE scan →
      // ONE 32-group aggregate — the error bar on a corpus census
      // without a second pass (the "did the filter REALLY move the
      // mean" number). Spread of the 32 mean_micro rows = the CI.
      graft.ops.Bootstrap.resampleMeans(
        t(s, dir, "documents"), "doc_id", "n_chars", b = 32)
        .orderBy("b"),
      graft.ops.Bootstrap.resampleMeansSql(
        "documents", "doc_id", "n_chars", b = 32)),
    Gate("p_bootstrap_cluster", (s, dir) =>
      // the CLUSTER bootstrap: resample whole SOURCES (all of a
      // source's docs share the per-resample weight), so the spread
      // reflects between-source variation — the honest error bar when
      // docs within a source correlate (in a crawled corpus they do;
      // the row bootstrap's interval is too narrow by ~sqrt(deff))
      graft.ops.Bootstrap.resampleMeans(
        t(s, dir, "documents"), "source", "n_chars", b = 32, seed = 7L)
        .orderBy("b"),
      graft.ops.Bootstrap.resampleMeansSql(
        "documents", "source", "n_chars", b = 32, seed = 7L)),
    Gate("p_bootstrap_duprate", (s, dir) => {
      // the error bar on THE curation number: the duplicate rate. A
      // doc is flagged iff it rides any MinHash-LSH candidate pair
      // (d_minhash_lsh's census, same slice/params), and the flag
      // census is cluster-bootstrapped BY SOURCE — duplicates arrive
      // in bursts from their crawl source, so the row bootstrap's
      // interval would be too narrow exactly here. mean_micro = the
      // resampled duplicate rate in ppm; the spread of the 32 rows is
      // the CI a dedup-threshold decision should clear
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      // Int.MaxValue: the pair CTE in the oracle renders no guard —
      // matching contracts on both engines
      val pairs = graft.dedup.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 16, bands = 4,
        maxBucketSize = Int.MaxValue)
      val dup = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct()
        .withColumn("__dup", lit(1L))
      val flagged = docs.select(col("doc_id"), col("source"))
        .join(dup, Seq("doc_id"), "left")
        .select(col("source"), coalesce(col("__dup"), lit(0L)).as("is_dup"))
      graft.ops.Bootstrap.resampleMeans(
        flagged, "source", "is_dup", b = 32, seed = 11L)
        .orderBy("b")
    },
      {
      // the flag census rides the d_minhash_lsh pair CTE verbatim
      // (same params/slice); resampleMeansSql then renders the
      // identical weight arithmetic over (source, is_dup)
      val pairs = graft.dedup.Dedup.minhashLshSql(16, 4,
        "WHERE doc_id % 5 = 0")
      graft.ops.Bootstrap.resampleMeansSql(
        s"""(SELECT d.source,
           |    CASE WHEN u.id IS NULL THEN 0 ELSE 1 END AS is_dup
           |  FROM (SELECT doc_id, source FROM documents
           |    WHERE doc_id % 5 = 0) d
           |  LEFT JOIN (SELECT DISTINCT id FROM (
           |      SELECT unnest([id_a, id_b]) AS id FROM ($pairs) p) uu) u
           |  ON d.doc_id = u.id) fl""".stripMargin,
        "source", "is_dup", b = 32, seed = 11L)
    }),
    Gate("p_bootstrap_passrate", (s, dir) => {
      // the sibling error bar on the OTHER curation number: the
      // quality-pass rate (t_quality_rules' AND-of-rules verdict,
      // same slice), cluster-bootstrapped by source — quality is a
      // per-source property in a crawled corpus (boilerplate, spam,
      // templating correlate within a crawl), so between-source
      // spread is the honest interval for "did the filter change
      // really move the pass rate"
      val flagged = graft.text.QualityFilters.withRules(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("source"), col("text")),
        "text")
        .select(col("source"), col("passes").cast("long").as("pass_flag"))
      graft.ops.Bootstrap.resampleMeans(
        flagged, "source", "pass_flag", b = 32, seed = 13L)
        .orderBy("b")
    },
      {
      // the AND-of-rules verdict is t_quality_rules' own rendering
      val passes = graft.text.QualityFilters.rulesSql()
        .map(_._2.replace("TXT", "text")).mkString("(", " AND ", ")")
      graft.ops.Bootstrap.resampleMeansSql(
        s"""(SELECT source,
           |    CASE WHEN $passes THEN 1 ELSE 0 END AS pass_flag
           |  FROM documents WHERE doc_id % 10 = 0) fl""".stripMargin,
        "source", "pass_flag", b = 32, seed = 13L)
    }),
    Gate("p_sample_skew", (s, dir) =>
      // sampling-bias audit: per-priority population vs hash-sample
      // shares in integer ppm — the after-every-sample check that a
      // "uniform" id-keyed sample didn't correlate with the category.
      // Two map-combined censuses over one scan + 1-row totals
      graft.ops.Sampling.sampleSkewAudit(
        t(s, dir, "orders"), "o_orderkey", "o_orderpriority",
        fraction = 0.2)
        .orderBy("cat"),
      graft.ops.Sampling.sampleSkewAuditSql(
        "orders", "o_orderkey", "o_orderpriority", fraction = 0.2)),
    Gate("p_stratified_sample", (s, dir) => {
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"),
        "lang", "doc_id", Map("en" -> 0.25, "de" -> 1.0),
        defaultFraction = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang").asc_nulls_first)
    },
      {
      val b = graft.ops.Sampling.bucketSql("doc_id", 42L)
      val cut = graft.ops.Sampling.stratifiedCutoffSql("lang",
        Map("en" -> 0.25, "de" -> 1.0), defaultFraction = 0.5)
      s"""SELECT lang, count(*) AS n FROM documents
         |WHERE $b < $cut GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin
    }),
    Gate("p_cap_source", (s, dir) => {
      // cap the per-source contribution at an expected 10 docs (below
      // every source's count even at sf0.01, so the gate exercises the
      // membership arithmetic) — all-integer (see Sampling.capPerGroup)
      graft.ops.Sampling.capPerGroup(
        t(s, dir, "documents"), "source", "doc_id", cap = 10)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source").asc_nulls_first)
    },
      {
      val pred = graft.ops.Sampling.capPredicateSql("doc_id", cap = 10)
      s"""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_group
         |  FROM documents GROUP BY 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept
         |FROM documents JOIN n USING (source)
         |WHERE $pred
         |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin
    }),
    Gate("p_waterfill_caps", (s, dir) =>
      // waterfilling cap PLANNING: solve the largest per-source token
      // cap whose capped total fits the budget (p_cap_source ENFORCES
      // a given cap; this derives it) — 26k against the ~27.2k sf0.01
      // token inventory puts tau = 1330 with 11 of 20 sources capped,
      // so the dial genuinely splits them. One corpus census; the
      // solve runs on the #groups-sized frame
      graft.ops.Mixture.waterfillCaps(
        t(s, dir, "documents"), "source", "text", tokenBudget = 26000L)
        .orderBy("source"),
      (graft.ops.Mixture.waterfillCapsSql(
        "documents", "source", tokenBudget = 26000L) +
        "\nORDER BY source")),
    Gate("p_mixture_plan", (s, dir) => {
      // recipe planning: per-language token inventory -> target
      // tokens, keep-rate (ppm) and epoch factor for a 100k-token
      // budget; one map-combined agg, weights as plan literals
      graft.ops.Mixture.plan(
        t(s, dir, "documents"), "lang", "text",
        Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
        tokenBudget = 100000L, defaultWeight = 0.05)
        .orderBy(col("lang").asc_nulls_first)
    },
      (graft.ops.Mixture.planSql("documents", "lang",
        Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
        tokenBudget = 100000L, defaultWeight = 0.05)
        + "\nORDER BY lang NULLS FIRST")),
    Gate("p_mixture_temperature", (s, dir) => {
      // temperature-scaled mixture (mT5/UniMax): weights derive from
      // the corpus' own token distribution, n^(1/T) normalized over a
      // group-sorted fold. T=2 is the sqrt instance — correctly
      // rounded per IEEE on both engines, hence hash-gateable
      graft.ops.Mixture.planTemperature(
        t(s, dir, "documents"), "lang", "text",
        temperature = 2.0, tokenBudget = 100000L)
        .orderBy(col("lang"))
    },
      (graft.ops.Mixture.planTemperatureSql("documents", "lang",
        temperature = 2.0, tokenBudget = 100000L)
        + "\nORDER BY lang")),
    Gate("p_mixture_apply", (s, dir) => {
      // plan -> apply: repeat/downsample every document to its
      // group's epoch factor (full copies + md5-fractional extras),
      // emitting an epoch index — the materialized training mix
      val docs = t(s, dir, "documents")
      val pl = graft.ops.Mixture.plan(docs, "lang", "text",
        Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
        tokenBudget = 100000L, defaultWeight = 0.05)
      graft.ops.Mixture.applyPlan(docs, "lang", "doc_id", pl)
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },
      (graft.ops.Mixture.applyPlanSql("documents", "lang", "doc_id",
        graft.ops.Mixture.planSql("documents", "lang",
          Map("en" -> 0.4, "de" -> 0.25, "fr" -> 0.2, "zh" -> 0.1),
          tokenBudget = 100000L, defaultWeight = 0.05))
        + "\nORDER BY doc_id, epoch")),
    Gate("p_sample_exact_k", (s, dir) => {
      // hard per-group budget: exactly min(k, n) docs per language,
      // deterministic in (seed, k); bounded-heap aggregate + semi
      // join, never a per-group sort (the oracle's window form must
      // agree with the TopK formulation)
      graft.ops.Sampling.sampleExactK(
        t(s, dir, "documents"), "lang", "doc_id", k = 7, seed = 11L)
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang").asc_nulls_first, col("doc_id"))
    },
      s"""SELECT lang, doc_id FROM (
         |${graft.ops.Sampling.sampleExactKSql("documents", "lang", "doc_id", k = 7, seed = 11L)}
         |) ORDER BY lang NULLS FIRST, doc_id""".stripMargin),
    Gate("p_interleave", (s, dir) =>
      // training-order source interleaving: round-robin positions
      // across md5-shuffled per-source streams — consecutive
      // examples come from different sources; broadcast ordinal dim,
      // one per-source window
      graft.ops.Shuffling.interleaveBySource(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "doc_id", "source", seed = 7L)
        .orderBy("pos"),
      graft.ops.Shuffling.interleaveBySourceSql(
        "WHERE doc_id % 2 = 1", seed = 7L)),
    Gate("p_cap_domain", (s, dir) => {
      // provenance-driven curation chain: extract planted domains
      // (shared plantedUrls construction), then cap each domain's
      // contribution — Urls → capPerGroup composed under one gate
      val domains = graft.text.Urls
        .extractUrls(plantedUrls(s, dir), "doc_id", "text")
        .filter(col("domain") =!= "mirror.example.org")
        .select(col("doc_id"), col("domain"))
      graft.ops.Sampling.capPerGroup(domains, "domain", "doc_id",
        cap = 8, seed = 3L)
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
        .orderBy("domain")
    },
      {
      val pred = graft.ops.Sampling.capPredicateSql("doc_id", cap = 8, seed = 3L)
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text
        |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
        |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
        |                 ELSE '' END END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
        |  FROM d),
        |dom AS (SELECT doc_id,
        |  regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain FROM u
        |  WHERE regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) <> 'mirror.example.org'),
        |n AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_group FROM dom GROUP BY 1)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_kept, min(doc_id) AS min_id
        |FROM dom JOIN n USING (domain)
        |WHERE """.stripMargin + pred +
        "\nGROUP BY domain ORDER BY domain"
    }),
    Gate("p_curation_pipeline", (s, dir) => {
      // the operators composed end-to-end the way a real corpus run
      // chains them (the C4/RefinedWeb ordering): exact doc dedup ->
      // paragraph-level first-occurrence dedup -> quality floor on the
      // CLEANED text -> per-source cap -> train/test split -> audit
      // counts. The paragraph stage runs on the same '#'-lined
      // construction as p_paragraph_dedup (the synthetic corpus has no
      // natural cross-document paragraphs); token counts after it
      // reflect shed banners/quotes, so the quality floor genuinely
      // depends on the dedup outcome. Distinct seeds for cap (7) and
      // split (42): reusing one seed would correlate the two
      // membership decisions (cap keeps only low-bucket rows, which
      // the split would then over-assign to test)
      import graft.ops.Sampling
      val docs = t(s, dir, "documents")
      val keepers = graft.dedup.Dedup
        .exactDuplicates(docs, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val deduped = docs.join(keepers, Seq("doc_id"), "semi")
      val lined = deduped.select(col("doc_id"),
        concat_ws("#",
          substring(col("text"), 1, 40),
          concat(lit("shared quote "), (col("doc_id") % 7).cast("string")),
          substring(col("text"), 41, 40),
          when(col("doc_id") % 4 === 0, lit("limited time offer banner"))
            .otherwise(substring(col("text"), 81, 30))).as("text"))
      val cleaned = graft.dedup.Paragraph
        .dedupFirstOccurrence(lined, "doc_id", "text", sep = "#")
        .join(deduped.select(col("doc_id"), col("source")), Seq("doc_id"))
      val quality = cleaned.filter(
        graft.text.TextFunctions.tokenCount(col("text")) >= 12)
      val capped = Sampling.capPerGroup(quality, "source", "doc_id",
        cap = 15, seed = 7L)
      Sampling.withSplit(capped, "doc_id", testFraction = 0.2)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("source").asc_nulls_first, col("split"))
    },
      {
      import graft.text.TextFunctions
      val fp = TextFunctions.fingerprintSql.replace("TXT", "text")
      val toks = TextFunctions.tokensSql.replace("TXT", "text")
      val capB = graft.ops.Sampling.bucketSql("doc_id", 7L)
      val splitB = graft.ops.Sampling.bucketSql("doc_id", 42L)
      val paraSql = graft.dedup.Paragraph.dedupFirstOccurrenceSql(
        """SELECT doc_id, concat_ws('#',
          |  substring(text, 1, 40),
          |  'shared quote ' || CAST(doc_id % 7 AS VARCHAR),
          |  substring(text, 41, 40),
          |  CASE WHEN doc_id % 4 = 0 THEN 'limited time offer banner'
          |       ELSE substring(text, 81, 30) END) AS text
          |FROM deduped""".stripMargin,
        sep = "#")
      s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY $fp),
         |deduped AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
         |cleaned AS (SELECT q.doc_id, q.text, deduped.source
         |  FROM ($paraSql) q JOIN deduped USING (doc_id)),
         |quality AS (SELECT * FROM cleaned WHERE CAST(len($toks) AS INT) >= 12),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_group
         |  FROM quality GROUP BY 1),
         |capped AS (SELECT quality.* FROM quality JOIN n USING (source)
         |  WHERE $capB * n_group < ${15 * 1000000L}),
         |sp AS (SELECT *, CASE WHEN $splitB < 200000 THEN 'test' ELSE 'train' END AS split
         |  FROM capped)
         |SELECT source, split, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id
         |FROM sp GROUP BY 1, 2 ORDER BY source NULLS FIRST, split""".stripMargin
    }),
    Gate("p_padding_waste", (s, dir) =>
      // length-bucketed batching efficiency: per 64-token bucket, the
      // padded-slot waste in ppm — the number compared against the
      // packing path's clip rate to pick a batching strategy; one
      // map projection + a ≤16-cell census
      graft.ops.Packing.paddingWaste(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1), "text")
        .orderBy("bucket"),
      graft.ops.Packing.paddingWasteSql("WHERE doc_id % 2 = 1")),
    Gate("p_pack_sequences", (s, dir) => {
      // context-window packing: 1024-token sequences over 8 shards —
      // per-shard running totals, no global sort (see Packing scaladoc)
      graft.ops.Packing.packSequences(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
        "doc_id", "text", maxTokens = 1024, shards = 8)
        .orderBy("id")
    },
      graft.ops.Packing.packSequencesSql(maxTokens = 1024, shards = 8,
        whereClause = "WHERE doc_id % 4 = 0")),
    Gate("p_span_mask", (s, dir) =>
      // T5-style span-corruption plan: 15% of token positions by a
      // per-(doc, pos) md5 coin, adjacent picks merged to spans via
      // gaps-and-islands — one doc-keyed window, reproducible and
      // shard-stable (no RNG state crosses partitions)
      graft.ops.Masking.spanPlan(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 1),
        "doc_id", "text")
        .orderBy("id", "span_idx"),
      graft.ops.Masking.spanPlanSql("WHERE doc_id % 7 = 1")),
    Gate("p_pack_materialize", (s, dir) => {
      // the packing WRITER step: each sequence materializes as one
      // row with members concatenated in id order + an EOS separator
      // — the one sanctioned text shuffle (regrouping text into its
      // output layout); rows bounded by maxTokens + one straddler
      graft.ops.Packing.materializeSequences(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
        "doc_id", "text", maxTokens = 1024, shards = 8)
        .orderBy("shard", "seq_in_shard")
    },
      (graft.ops.Packing.materializeSequencesSql(maxTokens = 1024,
        shards = 8, whereClause = "WHERE doc_id % 4 = 0")
        + "\nORDER BY shard, seq_in_shard")),
    Gate("p_budget_select", (s, dir) => {
      // quality-ranked selection under a global token budget: exact
      // global prefix sum WITHOUT a single-partition window — range
      // partition, per-partition totals (one driver row per
      // partition), broadcast offsets, map-only scan (Selection
      // scaladoc). Score = the gated quality heuristic; budget hits
      // mid-corpus so both branches of `selected` are exercised.
      import graft.text.TextFunctions
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q"),
          TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
      graft.ops.Selection.selectToBudget(
        docs, "doc_id", "q", "nt", budget = 20000L)
        .orderBy("id")
    },
      graft.ops.Selection.selectToBudgetSql(
        graft.text.TextFunctions.qualityScoreSql.replace("TXT", "text"),
        s"len(${graft.text.TextFunctions.tokensSql.replace("TXT", "text")})",
        budget = 20000L, whereClause = "WHERE doc_id % 3 = 0")),
    Gate("p_contrastive_select", (s, dir) => {
      // DSIR-style targeted selection surrogate: difference of the
      // target- and source-model quantized surprise sums — BIGINT
      // arithmetic on exact sums, engine-exact ranking; two census
      // scorings joined on the doc id (both sides doc-keyed)
      val docs = t(s, dir, "documents")
      graft.text.Lm.contrastiveScore(
        docs.filter(col("doc_id") % 10 === 2), "doc_id", "text",
        docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 0), "text")
        .orderBy("doc_id")
    },
      (graft.text.Lm.contrastiveScoreSql(
        whereClause = "WHERE doc_id % 10 = 2",
        targetWhere = "WHERE lang = 'en' AND doc_id % 3 = 0",
        sourceWhere = "WHERE doc_id % 3 = 0") + "\nORDER BY doc_id")),
    Gate("p_dsir_select", (s, dir) => {
      // DSIR end-to-end (Xie et al. 2023's deployment shape): rank
      // by the contrastive target-vs-source LM score and keep the
      // most-target-like documents under a global TOKEN budget — the
      // composition whose two halves (p_contrastive_select,
      // p_budget_select) gate separately. Budget units are the
      // scorer's own gram count (no extra scan); the exact global
      // prefix scan runs range-partitioned, never a single-partition
      // window. Budget hits mid-corpus at sf0.01 so both branches of
      // `selected` are exercised
      val docs = t(s, dir, "documents")
      val scored = graft.text.Lm.contrastiveScore(
        docs.filter(col("doc_id") % 10 === 2), "doc_id", "text",
        docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 0), "text")
      graft.ops.Selection.selectToBudget(
        scored.select(col("doc_id"),
          col("contrast_micro").cast("double").as("cs"),
          col("n_grams").cast("long").as("nt")),
        "doc_id", "cs", "nt", budget = 2000L)
        .orderBy("id")
    },
      graft.ops.Selection.selectToBudgetOverSql(
        "(" + graft.text.Lm.contrastiveScoreSql(
          whereClause = "WHERE doc_id % 10 = 2",
          targetWhere = "WHERE lang = 'en' AND doc_id % 3 = 0",
          sourceWhere = "WHERE doc_id % 3 = 0") + ") cs",
        "doc_id", "contrast_micro", "n_grams", budget = 2000L)),
    Gate("p_doremi_weights", (s, dir) => {
      // DoReMi-style domain reweighting (Xie et al. 2023): per-domain
      // mean contrastive excess (target vs source LM) → one
      // first-order multiplicative-weights round from uniform, with
      // the floor clamp and uniform smoothing — integer-exact; the
      // two negative-capable divisions run floor semantics on both
      // engines. Weights sum to ~1e6 across the 20 sources
      val docs = t(s, dir, "documents")
      graft.text.Lm.doremiDomainWeights(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "source",
        docs.filter(col("lang") === "en" && col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 0), "text")
        .orderBy("domain")
    },
      (graft.text.Lm.doremiDomainWeightsSql(
        whereClause = "WHERE doc_id % 2 = 0",
        targetWhere = "WHERE lang = 'en' AND doc_id % 3 = 0",
        sourceWhere = "WHERE doc_id % 3 = 0") + "\nORDER BY domain")),
    Gate("p_softdedup", (s, dir) => {
      // SoftDeDup (Hu et al. 2024): reweight common documents down
      // instead of deleting them — rarity = the corpus-as-its-own-
      // reference mean quantized surprise (integer), weights
      // normalized to mean ~1e6 ppm by a 1-row broadcast scalar and
      // floor-clamped. minWeightPpm = 900000 genuinely clamps part
      // of the sf0.01 slice (3 of 167 docs at introduction), so BOTH
      // branches of the greatest() are exercised
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 1)
      graft.text.Lm.softDedupWeights(docs, "doc_id", "text",
        minWeightPpm = 900000L)
        .orderBy("doc_id")
    },
      (graft.text.Lm.softDedupWeightsSql("WHERE doc_id % 3 = 1",
        minWeightPpm = 900000L) + "\nORDER BY doc_id")),
    Gate("p_web_pipeline", (s, dir) => {
      // the published web-pipeline shape END-TO-END (the RefinedWeb/
      // FineWeb recipe: extraction → line-level C4 cleaning → page
      // verdict → soft-dedup reweighting): the C4-planted slice
      // (t_c4_filters' fixture verbatim) feeds the keep verdict,
      // survivors feed the corpus-as-its-own-reference SoftDeDup
      // weights — a composition whose stages gate separately, here
      // verified CHAINED through one oracle
      val planted = t(s, dir, "documents").filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(".")))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(".\n"), col("text"), lit("!\n"),
                col("text"), lit("?")))
            .otherwise(concat(col("text"), lit(" {lorem ipsum}")))
            .as("text"))
      val kept = graft.text.C4.c4Clean(planted, "doc_id", "text")
        .filter(col("keep")).select(col("doc_id"))
      val survivors = planted.join(kept, Seq("doc_id"), "left_semi")
      graft.text.Lm.softDedupWeights(survivors, "doc_id", "text")
        .orderBy("doc_id")
    },
      {
      val plantedSql = "(SELECT doc_id, CASE " +
        "WHEN doc_id % 3 = 0 THEN text || '.' " +
        "WHEN doc_id % 3 = 1 THEN text || '.' || chr(10) || text || '!' " +
        "|| chr(10) || text || '?' " +
        "ELSE text || ' {lorem ipsum}' END AS text " +
        "FROM documents WHERE doc_id % 4 = 3)"
      val keepSql = "(SELECT doc_id FROM (" +
        graft.text.C4.c4CleanSql("", from = plantedSql) + ") ck WHERE keep)"
      graft.text.Lm.softDedupWeightsSql(s"WHERE doc_id IN $keepSql",
        from = plantedSql) + "\nORDER BY doc_id"
    }),
    Gate("p_corpus_card", (s, dir) => {
      // the per-source datasheet (corpus card): doc/token inventory,
      // language share, quality-rule pass rate, exact-duplicate rate
      // — one map-side signal projection, two source-keyed hash
      // aggregations, #sources-sized output. The synthetic corpus
      // has NO exact duplicates and only one stop-word type, so the
      // gate plants dups (a %10 slice unioned back, mirrored in the
      // oracle) and dials the rules to the corpus (minWords = 40
      // splits it, minStopHits = 1) so every rate column is nonzero
      // AND non-saturated
      val docs = t(s, dir, "documents")
      val planted = docs.unionByName(docs.filter(col("doc_id") % 10 === 0))
      graft.ops.CorpusCard.corpusCard(planted, "text", "source", "lang",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1))
        .orderBy("source")
    },
      (graft.ops.CorpusCard.corpusCardSql("",
        graft.text.QualityFilters.Config(minWords = 40, minStopHits = 1),
        from = "(SELECT text, lang, source FROM documents UNION ALL " +
          "SELECT text, lang, source FROM documents WHERE doc_id % 10 = 0)")
        + "\nORDER BY source")),
    Gate("p_shuffle_rank", (s, dir) => {
      // reproducible global training-order shuffle: md5(id||seed)
      // order with EXACT global rank via the distributed prefix scan
      // (range partition -> 1-row-per-partition counts -> broadcast
      // offsets -> map-only rank) — never the single-partition
      // row_number window the oracle is allowed to use
      graft.ops.Shuffling.shuffleRank(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 1),
        "doc_id", seed = 17L)
        .orderBy("id")
    },
      (graft.ops.Shuffling.shuffleRankSql(seed = 17L,
        whereClause = "WHERE doc_id % 4 = 1") + "\nORDER BY id")),
    Gate("p_ppl_buckets", (s, dir) => {
      // CCNet perplexity bucketing (Wenzek et al. 2020): per-language
      // head/middle/tail terciles by reference-LM surprise — the
      // "keep head+middle, drop tail" census behind web-corpus
      // curation. Integer mean-surprise key (non-negative div ==
      // floor on both engines), per-language ntile window, zero-gram
      // docs excluded like CCNet drops empties
      val docs = t(s, dir, "documents")
      graft.text.Lm.pplBuckets(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", "lang",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("lang", "bucket")
    },
      graft.text.Lm.pplBucketsSql(
        whereClause = "WHERE doc_id % 3 = 0",
        refWhereClause = "WHERE doc_id % 2 = 0")),
    Gate("p_curriculum_bins", (s, dir) => {
      // curriculum binning: per-language ntile quartiles by length
      // with doc_id tie-break (partitioned window — the global-sort
      // form would be a single-reducer anti-pattern at scale)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("bin", ntile(4).over(w))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "bin")
    },
      """WITH b AS (SELECT lang, doc_id, n_chars,
        |  ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
        |  FROM documents)
        |SELECT lang, bin, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin),
    Gate("p_paragraph_dedup", (s, dir) => {
      // corpus-wide first-occurrence paragraph dedup: the synthetic
      // corpus has no cross-document paragraphs, so build '#'-joined
      // paragraphs with an injected 1-of-7 shared quote and a 1-in-4
      // promo banner (identical construction in the oracle); every
      // later occurrence must vanish, the first survives
      val lined = concat_ws("#",
        substring(col("text"), 1, 40),
        concat(lit("shared quote "), (col("doc_id") % 7).cast("string")),
        substring(col("text"), 41, 40),
        when(col("doc_id") % 4 === 0, lit("limited time offer banner"))
          .otherwise(substring(col("text"), 81, 30)))
      graft.dedup.Paragraph.dedupFirstOccurrence(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lined.as("text")),
        "doc_id", "text", sep = "#")
        .orderBy("doc_id")
    },
      graft.dedup.Paragraph.dedupFirstOccurrenceSql(
        """SELECT doc_id, concat_ws('#',
          |  substring(text, 1, 40),
          |  'shared quote ' || CAST(doc_id % 7 AS VARCHAR),
          |  substring(text, 41, 40),
          |  CASE WHEN doc_id % 4 = 0 THEN 'limited time offer banner'
          |       ELSE substring(text, 81, 30) END) AS text
          |FROM documents WHERE doc_id % 5 = 0""".stripMargin,
        sep = "#")),
  )
}
