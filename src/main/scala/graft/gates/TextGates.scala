package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Fixtures._

/** Text quality, tokenizers, classifiers and language models (`t_`).
  */
private[gates] object TextGates {

  /** Planted-class labeled documents for the classifier trainer
    * gates — class tokens appended by doc-id parity, identical
    * construction in [[graft.text.HashedClassifier.plantedLabelSql]].
    */
  private def plantedClassDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        (col("doc_id") % 2).cast("long").as("label"),
        concat(col("text"), when(col("doc_id") % 2 === 1,
          lit(" valueoffer promodeal valueoffer promodeal"))
          .otherwise(lit(" plainnote calmtext plainnote calmtext")))
          .as("text"))

  val gates: Seq[Gate] = Seq(
    Gate("t_mad", (s, dir) => {
      // robust per-language stats: median + median-absolute-deviation
      // of integer lengths. Exactness: medians interpolate halves of
      // ints (dyadic), abs-deviations land on quarter steps (dyadic),
      // so both engines' interpolation formulas agree bit-for-bit
      val docs = t(s, dir, "documents").select(col("lang"), col("n_chars"))
      val med = docs.groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.5D)").as("med"))
      docs.join(broadcast(med), Seq("lang"))
        .groupBy(col("lang"))
        .agg(min(col("med")).as("med"),
          expr("percentile(abs(cast(n_chars as double) - med), 0.5D)").as("mad"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },
      """WITH m AS (SELECT lang, median(CAST(n_chars AS DOUBLE)) AS med
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, min(m.med) AS med,
        |  median(abs(CAST(n_chars AS DOUBLE) - m.med)) AS mad,
        |  count(*) AS n_docs
        |FROM documents d JOIN m ON d.lang = m.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    Gate("t_pii_luhn", (s, dir) => {
      // Luhn-validated card detection: %13 docs carry a VALID Visa
      // test number, %17 docs an invalid 16-digit run — the checksum
      // is what separates a breach from id/hash noise. Map-only HOF
      // fold, identical spelling in the oracle
      graft.text.Pii.cardScan(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("id"),
            concat(col("text"),
              when(col("doc_id") % 13 === 0,
                lit(" card 4111 1111 1111 1111 ok")).otherwise(lit("")),
              when(col("doc_id") % 17 === 0,
                lit(" ref 1234-5678-9012-3456")).otherwise(lit("")))
              .as("text")),
        "id", "text")
        .orderBy("id")
    },
      (graft.text.Pii.cardScanSql(
        """(SELECT doc_id, text ||
          |  CASE WHEN doc_id % 13 = 0
          |    THEN ' card 4111 1111 1111 1111 ok' ELSE '' END ||
          |  CASE WHEN doc_id % 17 = 0
          |    THEN ' ref 1234-5678-9012-3456' ELSE '' END AS text
          |FROM documents WHERE doc_id % 3 = 0) d""".stripMargin,
        "doc_id", "text") + "\nORDER BY id")),
    Gate("t_length_histogram", (s, dir) => {
      // fixed-width histogram of document lengths: all-integer bucket
      // arithmetic, one hash-shuffle
      t(s, dir, "documents")
        .groupBy(expr("n_chars div 200").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy("bucket")
    },
      """SELECT n_chars // 200 AS bucket, count(*) AS n_docs,
        |min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin),
    Gate("t_url_domains", (s, dir) => {
      // per-domain provenance stats over the planted-URL corpus (the
      // word salad carries no URLs — see plantedUrls); regex stays in
      // the Java ∩ RE2 portable subset
      graft.text.Urls.domainStats(plantedUrls(s, dir), "doc_id", "text")
        .orderBy("domain")
    },
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN text
        |       ELSE text || ' https://s' || CAST(doc_id % 23 AS VARCHAR) ||
        |            '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |            CASE WHEN doc_id % 3 = 0 THEN ' http://mirror.example.org/m'
        |                 ELSE '' END END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |  unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*(?:/[^\s]*)?', 0)) AS url
        |  FROM d)
        |SELECT regexp_extract(url, 'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain,
        |  count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY 1 ORDER BY domain""".stripMargin),
    Gate("t_quality_rules", (s, dir) => {
      // Gopher-style hard rule gates, one audit column per rule;
      // all-integer threshold arithmetic so verdicts are engine-exact
      graft.text.QualityFilters.withRules(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text")),
        "text")
        .drop("text")
        .orderBy("doc_id")
    },
      {
      val rs = graft.text.QualityFilters.rulesSql()
      val cols = rs.map { case (n, sql) => s"${sql.replace("TXT", "text")} AS $n" }
        .mkString(",\n")
      val passes = rs.map(_._2.replace("TXT", "text")).mkString("(", " AND ", ")")
      s"""SELECT doc_id, $cols, $passes AS passes
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin
    }),
    Gate("t_text_stats", (s, dir) => {
      import graft.text.TextFunctions._
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          bpeishTokenCount(col("text")).cast(IntegerType).as("n_bpeish"),
          langId(col("text")).as("lang_pred"),
          qualityScore(col("text")).as("quality"),
          fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      {
      import graft.text.TextFunctions._
      def s(sql: String) = sql.replace("TXT", "text")
      s"""SELECT doc_id,
         |CAST(len(${s(tokensSql)}) AS INT) AS n_tokens,
         |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish,
         |${s(langIdSql)} AS lang_pred,
         |${s(qualityScoreSql)} AS quality,
         |${s(fingerprintSql)} AS fp
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin
    }),
    Gate("t_pii_redact", (s, dir) => {
      // PII scrub demo: the synthetic corpus has no PII, so inject a
      // deterministic email/IP/phone suffix (identical construction
      // in the oracle) and scrub it back out
      val piiText = concat(
        substring(col("text"), 1, 60),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10."), (col("doc_id") % 200).cast("string"),
        lit(".0.7 or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199"),
        when(col("doc_id") % 20 === 0,
          lit(" cc ops-team+alerts@mail.example.org")).otherwise(lit("")))
      graft.text.Pii.scrub(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), piiText.as("text")),
        "doc_id", "text")
        .orderBy("doc_id")
    },
      {
      val txt = "(substr(text, 1, 60) || ' contact user' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com via 10.' || " +
        "CAST(doc_id % 200 AS VARCHAR) || '.0.7 or 555-' || " +
        "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' || " +
        "CASE WHEN doc_id % 20 = 0 THEN ' cc ops-team+alerts@mail.example.org' ELSE '' END)"
      s"""SELECT ${graft.text.Pii.scrubSelectSql("doc_id", txt)}
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin
    }),
    Gate("t_boilerplate", (s, dir) => {
      // boilerplate-line removal demo: the corpus has no line
      // structure, so build '#'-separated lines with an injected
      // all-docs footer and a 1-in-3 promo line (identical
      // construction in the oracle); both clear minDocs and vanish
      val lined = concat_ws("#",
        substring(col("text"), 1, 40),
        lit("subscribe to our newsletter"),
        substring(col("text"), 41, 40),
        when(col("doc_id") % 3 === 0, lit("follow us on social"))
          .otherwise(substring(col("text"), 81, 30)))
      graft.text.Boilerplate.removeFrequentLines(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), lined.as("text")),
        "doc_id", "text", sep = "#", minDocs = 50)
        .orderBy("doc_id")
    },
      {
      val lined = "concat_ws('#', substr(text, 1, 40), " +
        "'subscribe to our newsletter', substr(text, 41, 40), " +
        "CASE WHEN doc_id % 3 = 0 THEN 'follow us on social' " +
        "ELSE substr(text, 81, 30) END)"
      graft.text.Boilerplate.removeFrequentLinesSql(
        sepSql = "'#'", minDocs = 50,
        whereClause = "WHERE doc_id % 2 = 0", textExpr = lined)
    }),
    Gate("t_repetition", (s, dir) => {
      // within-document n-gram repetition (the Gopher-style
      // boilerplate/keyword-stuffing signal); word- and bigram-level.
      // Tokens and gram multisets are PROJECTED as columns before
      // scoring (the project-the-array-first rule: the score
      // references its gram array three times, and HOF trees are
      // outside subexpression elimination)
      import graft.text.TextFunctions.{allGramsOf, repetitionScoreOf, tokens}
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          allGramsOf(col("toks"), 1).as("g1"),
          allGramsOf(col("toks"), 2).as("g2"))
        .select(col("doc_id"),
          repetitionScoreOf(col("g1")).as("rep1"),
          repetitionScoreOf(col("g2")).as("rep2"))
        .orderBy("doc_id")
    },
      {
      import graft.text.TextFunctions
      val toks = TextFunctions.tokensSql.replace("TXT", "text")
      s"""WITH d AS (SELECT doc_id, $toks AS toks
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT doc_id,
         |  ${TextFunctions.repetitionScoreSql("toks", 1)} AS rep1,
         |  ${TextFunctions.repetitionScoreSql("toks", 2)} AS rep2
         |FROM d ORDER BY doc_id""".stripMargin
    }),
    Gate("t_readability", (s, dir) => {
      // Flesch reading ease from integer censuses (sentence runs,
      // vowel-group syllable proxy floored at word count) — map-only;
      // the score doubles hash raw (pinned IEEE op order)
      import graft.text.TextFunctions._
      t(s, dir, "documents").filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"),
          tokenCount(col("text")).as("n_words"),
          sentenceCount(col("text")).as("n_sent"),
          syllableProxy(col("text")).as("n_syl"),
          flesch(col("text")).as("flesch"))
        .orderBy("doc_id")
    },
      {
      import graft.text.TextFunctions._
      s"""SELECT doc_id,
         |  CAST(len(${tokensSql.replace("TXT", "text")}) AS INT) AS n_words,
         |  CAST(${sentenceCountSql("text")} AS INT) AS n_sent,
         |  CAST(${syllableProxySql("text")} AS INT) AS n_syl,
         |  ${fleschSql("text")} AS flesch
         |FROM documents WHERE doc_id % 4 = 1 ORDER BY doc_id""".stripMargin
    }),
    Gate("t_code_detect", (s, dir) => {
      // code-vs-prose detection (the code-filter stage of an LLM
      // corpus): symbol/digit densities in integer ppm from portable
      // regex classes — map-only, flag at >= 40000 ppm symbols
      val sym = size(regexp_extract_all(col("text"),
        lit("[{}()\\[\\];=<>]"), lit(0))).cast("long")
      val dig = size(regexp_extract_all(col("text"),
        lit("[0-9]"), lit(0))).cast("long")
      t(s, dir, "documents").filter(col("doc_id") % 6 === 2)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          sym.as("n_sym"), dig.as("n_dig"))
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          expr("(n_sym * 1000000L) div n_chars").as("sym_ppm"),
          expr("(n_dig * 1000000L) div n_chars").as("dig_ppm"))
        .withColumn("codeish", col("sym_ppm") >= 40000L)
        .orderBy("doc_id")
    },
      """WITH c AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '[{}()\[\];=<>]')) AS BIGINT)
        |      AS n_sym,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_dig
        |  FROM documents WHERE doc_id % 6 = 2)
        |SELECT doc_id, n_chars,
        |  (n_sym * 1000000) // n_chars AS sym_ppm,
        |  (n_dig * 1000000) // n_chars AS dig_ppm,
        |  (n_sym * 1000000) // n_chars >= 40000 AS codeish
        |FROM c WHERE n_chars > 0 ORDER BY doc_id""".stripMargin),
    Gate("t_char_gini", (s, dir) =>
      // letter-distribution concentration (log-free Gini entropy
      // stand-in, integer ppm) — gibberish/blob detector; map-only,
      // no explode: 26 replace-counts folded in one aggregate pass
      graft.text.TextFunctions.letterConcentration(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 2),
        "doc_id", "text")
        .orderBy("doc_id"),
      {
      val (n, s2) = graft.text.TextFunctions.letterCensusSql("text")
      s"""WITH c AS (SELECT doc_id, $n AS n_letters, $s2 AS s2
         |  FROM documents WHERE doc_id % 4 = 2)
         |SELECT doc_id, n_letters,
         |  CASE WHEN n_letters > 0 AND n_letters <= 3000000 THEN CAST(
         |    ((n_letters * n_letters - s2) * 1000000)
         |      // (n_letters * n_letters) AS BIGINT) END AS gini_ppm
         |FROM c ORDER BY doc_id""".stripMargin
    }),
    Gate("t_html_strip", (s, dir) => {
      // markup extraction: strip tags + decode entities over a PLANTED
      // html wrapping of the corpus (same construction in the oracle)
      // — the pre-dedup text-extraction pass; map-only, in codegen
      import graft.text.Html._
      val html = concat(
        lit("<html><body "), lit("class=\"d"),
        (col("doc_id") % 7).cast("string"), lit("\"><h1>Doc &#39;"),
        col("doc_id").cast("string"), lit("&#39;</h1><p>"),
        replace(col("text"), lit("a"), lit("&amp;")),
        lit("</p><br/></body></html>"))
      t(s, dir, "documents").filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"), extractText(html).as("clean"))
        .select(col("doc_id"),
          length(col("clean")).cast("bigint").as("n_chars"),
          substring(col("clean"), 1, 40).as("head"))
        .orderBy("doc_id")
    },
      {
      val html = "'<html><body ' || 'class=\"d' || " +
        "CAST(doc_id % 7 AS VARCHAR) || '\"><h1>Doc &#39;' || " +
        "CAST(doc_id AS VARCHAR) || '&#39;</h1><p>' || " +
        "replace(text, 'a', '&amp;') || '</p><br/></body></html>'"
      s"""WITH c AS (SELECT doc_id,
         |  ${graft.text.Html.extractTextSql(html)} AS clean
         |  FROM documents WHERE doc_id % 5 = 3)
         |SELECT doc_id, CAST(len(clean) AS BIGINT) AS n_chars,
         |  substring(clean, 1, 40) AS head
         |FROM c ORDER BY doc_id""".stripMargin
    }),
    Gate("t_colloc_lift", (s, dir) =>
      // phrase mining: top-30 adjacent pairs by PMI-surrogate lift
      // (n_ab·N / n_a·n_b, log-free and hash-gated); min-count 3
      // suppresses the rare-pair PMI noise mode. Census topology =
      // the LM scorer's; ranking is a TakeOrdered heap
      graft.text.Ngrams.collocationLift(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "text", k = 30),
      graft.text.Ngrams.collocationLiftSql("WHERE doc_id % 2 = 1", k = 30)),
    Gate("t_unigram_roundtrip", (s, dir) =>
      // decode(encode(x)) = x for the tokenizer family that actually
      // EMITS BYTE PIECES: every token segments via the Viterbi
      // backtrace (byte-fallback markers for OOV glyphs, incl.
      // planted 2/3/4-byte UTF-8 widths — the surrogate-pair 𝄞 is
      // the hazard case), decodes via the byte-marker inverse, and
      // must reconstruct exactly. cost/pieces recompute through the
      // oracle's unrolled DP; n_roundtrip is the declared identity
      graft.text.Unigram.roundTripCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 6)
          .select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 29 === 0,
              lit(" µω€𝄞 zµq")).otherwise(lit(""))).as("text")),
        "doc_id", "text", byteFallback = true)
        .orderBy("id"),
      graft.text.Unigram.roundTripCensusSql("WHERE doc_id % 10 = 6",
        byteFallback = true,
        textExpr = "text || CASE WHEN doc_id % 29 = 0" +
          " THEN ' µω€𝄞 zµq' ELSE '' END")),
    Gate("t_unigram_cost", (s, dir) =>
      // unigram-LM (SentencePiece-family) Viterbi segmentation with
      // ALL-INTEGER piece costs (1 + Fmax div freq over top-200
      // census n-grams) — per-doc minimum encode cost + piece count;
      // the DP runs over the DISTINCT-WORD census with the cost
      // table broadcast. Oracle = position-unrolled chained-CTE DP
      graft.text.Unigram.encodeCost(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 1),
        "doc_id", "text")
        .orderBy("id"),
      graft.text.Unigram.encodeCostSql("WHERE doc_id % 3 = 1")),
    Gate("t_unigram_bytes", (s, dir) =>
      // byte-fallback twin of t_unigram_cost (SentencePiece
      // --byte_fallback): planted OOV glyphs of 2/3/4-byte UTF-8
      // widths (µ €, 𝄞) decompose into their bytes — nb pieces at
      // nb·ByteCost — instead of one Big-priced UNK, so encode is
      // total and piece counts reflect actual byte emission
      graft.text.Unigram.encodeCost(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 4)
          .select(col("doc_id"),
            concat(col("text"), when(col("doc_id") % 31 === 0,
              lit(" µω€𝄞 qµz")).otherwise(lit(""))).as("text")),
        "doc_id", "text", byteFallback = true)
        .orderBy("id"),
      graft.text.Unigram.encodeCostSql("WHERE doc_id % 10 = 4",
        byteFallback = true,
        textExpr = "text || CASE WHEN doc_id % 31 = 0" +
          " THEN ' µω€𝄞 qµz' ELSE '' END")),
    Gate("t_wordpiece", (s, dir) =>
      // the OTHER classic subword tokenizer beside BPE: greedy
      // longest-match WordPiece against a deterministic vocab (top-
      // 100 census words + [a-z0-9] singles/continuations); the loop
      // runs over the DISTINCT-WORD census with the vocab broadcast
      // — vocabulary-sized, never corpus-sized. Oracle = recursive
      // CTE with a LATERAL longest-match step
      graft.text.WordPiece.segmentCensus(
        graft.text.Bpe.wordCensus(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "text"),
        topN = 8)
        .orderBy("word"),
      // topN=8: only the 8 hottest words stay whole, so the gate
      // exercises multi-piece continuation segmentation on the rest
      graft.text.WordPiece.segmentCensusSql("WHERE doc_id % 5 = 0", topN = 8)),
    Gate("t_wordpiece_stats", (s, dir) =>
      // cross-slice encode: vocab trained on the %5=0 slice, the
      // %10=1 slice's census segments against it, docs resolve
      // through a broadcast join — per-doc subword/UNK budget counts
      graft.text.WordPiece.encodeStats(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 1),
        "doc_id", "text",
        graft.text.Bpe.wordCensus(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "text"),
        topN = 8)
        .orderBy("id"),
      graft.text.WordPiece.encodeStatsSql(
        "WHERE doc_id % 10 = 1", "WHERE doc_id % 5 = 0", topN = 8)),
    Gate("t_hashed_classifier", (s, dir) =>
      // fastText-shaped quality-filter inference: hashed unigram+
      // bigram features → fixed 4096-slot weight table (md5 stand-in
      // for a trained model; same plan shape) → mean weight per doc.
      // Map-only extraction + one doc-keyed agg; integer census +
      // one IEEE division so the score hashes raw
      graft.text.HashedClassifier.score(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 2),
        "doc_id", "text")
        .orderBy("id"),
      graft.text.HashedClassifier.scoreSql("WHERE doc_id % 3 = 2")),
    Gate("t_classifier_train", (s, dir) =>
      // the TRAINER behind the hashed classifier: all-integer
      // difference of add-one-smoothed class rates per bucket (the
      // log-free NB-family weight — ln is engine-divergent) over a
      // planted-label slice; one gram census + 1-row totals broadcast
      graft.text.HashedClassifier.train(
        plantedClassDocs(s, dir).filter(col("id") % 3 === 0),
        "text", "label")
        .orderBy("bucket"),
      graft.text.HashedClassifier.trainSql("WHERE doc_id % 3 = 0")),
    Gate("t_classifier_holdout", (s, dir) => {
      // train∘score∘evaluate end to end: weights from the % 3 = 0
      // slice, sign-test accuracy counts on the disjoint % 3 = 1
      // holdout — planted class tokens make the classes separable,
      // so a working trainer shows near-perfect counts and a broken
      // one ~50%; the gate pins the exact integers either way
      val docs = plantedClassDocs(s, dir)
      val weights = graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
      graft.text.HashedClassifier.holdoutAccuracy(
        docs.filter(col("id") % 3 === 1), "id", "text", "label", weights)
        .orderBy("label")
    },
      graft.text.HashedClassifier.holdoutSql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 1")),
    Gate("t_calibration", (s, dir) => {
      // reliability census on the disjoint holdout: mean-gram-weight
      // bands vs observed positive rate — the ranked-selection eval
      // beside the sign-test accuracy gate (pos_ppm must rise with
      // the band for the scores to be usable as a quality dial)
      val docs = plantedClassDocs(s, dir)
      val weights = graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
      graft.text.HashedClassifier.reliability(
        docs.filter(col("id") % 3 === 1), "id", "text", "label", weights)
        .orderBy("band")
    },
      graft.text.HashedClassifier.reliabilitySql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 1")),
    Gate("t_pr_curve", (s, dir) => {
      // precision-recall threshold sweep on the disjoint holdout —
      // how the production quality threshold gets picked: per score
      // band, confusion counts + integer-ppm precision/recall of
      // "keep docs scoring >= band". Cumulative window runs over the
      // BAND census (bounded rows), never the corpus
      val docs = plantedClassDocs(s, dir)
      val weights = graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
      graft.text.HashedClassifier.prCurve(
        docs.filter(col("id") % 3 === 1), "id", "text", "label", weights)
        .orderBy("band")
    },
      graft.text.HashedClassifier.prCurveSql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 1")),
    Gate("t_classifier_apply", (s, dir) => {
      // production shape: train ONCE, persist the weight table,
      // score later corpora FROM THE RELOAD (the t_bpe_segment
      // pattern for merge tables). The oracle recomputes the weights
      // inline, so a broken write/read path — schema drift, lost
      // rows, a stale dir — hash-fails instead of silently shifting
      // scores; the apply slice (% 3 = 2) is disjoint from train
      val docs = plantedClassDocs(s, dir)
      val out = s"${scratchRoot()}/classifier_weights"
      graft.text.HashedClassifier.train(
        docs.filter(col("id") % 3 === 0), "text", "label")
        .write.mode("overwrite").parquet(out)
      graft.text.HashedClassifier.scoreTrained(
        docs.filter(col("id") % 3 === 2), "id", "text",
        s.read.parquet(out))
        .orderBy("id")
    },
      graft.text.HashedClassifier.scoreTrainedSql(
        "WHERE doc_id % 3 = 0", "WHERE doc_id % 3 = 2")),
    Gate("t_lexical_diversity", (s, dir) =>
      // per-source type-token + hapax census: template/machine text
      // shows low TTR, gibberish high hapax fraction — one word
      // census shuffle, then a types-sized rollup
      graft.text.Vocab.lexicalDiversity(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "source", "text")
        .withColumnRenamed("g", "source")
        .orderBy("source"),
      graft.text.Vocab.lexicalDiversitySql("source", "WHERE doc_id % 2 = 0")),
    Gate("t_heaps_law", (s, dir) =>
      // Heaps-law vocabulary growth: cumulative (tokens, types) per
      // ingest bucket via the first-bucket-per-type device — exact
      // prefix-distincts from ONE token census, no prefix re-scans;
      // the curve that sizes a tokenizer vocab before full training
      graft.text.Vocab.heapsGrowth(
        t(s, dir, "documents"), "doc_id", "text", bucketWidth = 25L)
        .orderBy("bucket"),
      graft.text.Vocab.heapsGrowthSql(25L, "")),
    Gate("t_pii_rate_by_source", (s, dir) => {
      // per-source PII exposure census (the pre-release privacy
      // gate): the synthetic corpus has no PII, so identifiers are
      // planted in a quarter of the scanned slice (identical
      // construction in the oracle) — sources then report distinct
      // nonzero rates, and the ppm arithmetic stays all-integer
      val txt = when(col("doc_id") % 4 === 1,
        concat(substring(col("text"), 1, 60),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10."), (col("doc_id") % 200).cast("string"),
          lit(".0.7"))).otherwise(col("text"))
      graft.text.Pii.rateBySource(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
          .select(col("source"), txt.as("text")),
        "source", "text")
        .orderBy("source")
    },
      graft.text.Pii.rateBySourceSql(
        """(SELECT source, CASE WHEN doc_id % 4 = 1
          |    THEN substr(text, 1, 60) || ' contact user' ||
          |      CAST(doc_id AS VARCHAR) || '@example.com via 10.' ||
          |      CAST(doc_id % 200 AS VARCHAR) || '.0.7'
          |    ELSE text END AS text
          |  FROM documents WHERE doc_id % 5 = 0) dd""".stripMargin)),
    Gate("t_length_quartiles", (s, dir) => {
      // exact (non-approx) quartiles of INTEGER lengths: interpolation
      // fractions at quartiles are dyadic (0.25/0.5/0.75), so
      // a + (b-a)*f is exact in doubles for any int operands < 2^51 —
      // ANY interpolation formula gives the identical bits, making
      // exact percentile safely oracle-gateable (percentile_approx is
      // NOT: its sketch is layout-dependent)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.25D)").as("p25"),
          expr("percentile(n_chars, 0.5D)").as("p50"),
          expr("percentile(n_chars, 0.75D)").as("p75"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang").asc_nulls_first)
    },
      s"""SELECT lang, quantile_cont(n_chars, 0.25) AS p25,
         |quantile_cont(n_chars, 0.5) AS p50,
         |quantile_cont(n_chars, 0.75) AS p75,
         |CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin),
    Gate("t_winsorize", (s, dir) => {
      // winsorization: clamp per-language lengths into the
      // [p12.5, p87.5] band — robust-stats cleaning on the same
      // dyadic-fraction exactness argument as t_length_quartiles
      // (1/8 and 7/8 interpolate exactly in doubles for int inputs).
      // Band stats broadcast back onto the persisted corpus slice;
      // the clipped flag makes the affected tail auditable.
      graft.ops.Caching.withPersisted(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))) { docs =>
        val bands = docs.groupBy(col("lang"))
          .agg(expr("percentile(n_chars, 0.125D)").as("lo"),
            expr("percentile(n_chars, 0.875D)").as("hi"))
        docs.join(broadcast(bands), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            least(greatest(col("n_chars").cast("double"), col("lo")), col("hi"))
              .as("clamped"),
            (col("n_chars") < col("lo") || col("n_chars") > col("hi"))
              .as("clipped"))
          .orderBy(col("doc_id"))
      }
    },
      """WITH b AS (SELECT lang,
        |    quantile_cont(n_chars, 0.125) AS lo,
        |    quantile_cont(n_chars, 0.875) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, lang, n_chars,
        |  LEAST(GREATEST(CAST(n_chars AS DOUBLE), lo), hi) AS clamped,
        |  (n_chars < lo OR n_chars > hi) AS clipped
        |FROM documents JOIN b USING (lang)
        |ORDER BY doc_id""".stripMargin),
    Gate("t_length_stats", (s, dir) => {
      // per-language length profile; median of integers is exact on
      // both engines (interpolated halves of ints are exact doubles)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(median(col("n_chars")).as("med_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang").asc_nulls_first)
    },
      s"""SELECT lang, median(n_chars) AS med_chars,
         |min(n_chars) AS min_chars, max(n_chars) AS max_chars,
         |CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin),
    Gate("t_length_outliers", (s, dir) => {
      // per-language z-score outlier flagging — the corpus-cleaning
      // pass that drops truncated/concatenated docs. Threshold 1.5σ:
      // the synthetic lengths are tightly distributed (max |z| ≈ 2),
      // so a conventional 3σ would gate zero rows and prove nothing;
      // production corpora with real tails would use 3σ via the same
      // shape.
      // Mean and variance derive from EXACT integer sums (order-
      // independent), then one fixed IEEE op sequence per row: mu is
      // computed ONCE and reused so both engines divide identically;
      // the filter compares (x-mu)² to 2.25·sigma² (no sqrt at the
      // decision point — z's sqrt is display-only, and sqrt is
      // correctly rounded IEEE everywhere). Group stats broadcast
      // back onto the corpus; null-lang rows drop on both engines
      // (non-null-safe equi key). The docs slice persists so the
      // stats and probe consumers share one scan.
      graft.ops.Caching.withPersisted(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))) { docs =>
        // n_chars squares as LONG: int*int wraps silently in Spark on
        // per-row overflow (n_chars > 46340) while DuckDB's INTEGER
        // multiply errors — cast first so both engines compute the same
        // exact 64-bit sum at any document length
        val stats = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s1"),
            sum(col("n_chars").cast("long") * col("n_chars").cast("long")).as("s2"))
          .withColumn("mu", col("s1").cast("double") / col("n"))
          .withColumn("sigma2",
            col("s2").cast("double") / col("n") - col("mu") * col("mu"))
          .select(col("lang"), col("mu"), col("sigma2"))
        docs.join(broadcast(stats), Seq("lang"))
          .filter((col("n_chars").cast("double") - col("mu")) *
            (col("n_chars").cast("double") - col("mu")) > lit(2.25) * col("sigma2"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            ((col("n_chars").cast("double") - col("mu")) / sqrt(col("sigma2")))
              .as("z"))
          .orderBy(col("doc_id"))
      }
    },
      """WITH st AS (SELECT lang, COUNT(*) AS n,
        |    SUM(n_chars) AS s1,
        |    SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS s2
        |  FROM documents GROUP BY lang),
        |st2 AS (SELECT lang,
        |    CAST(s1 AS DOUBLE) / n AS mu,
        |    CAST(s2 AS DOUBLE) / n -
        |      (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS sigma2
        |  FROM st)
        |SELECT doc_id, lang, n_chars,
        |  (CAST(n_chars AS DOUBLE) - mu) / sqrt(sigma2) AS z
        |FROM documents JOIN st2 USING (lang)
        |WHERE (CAST(n_chars AS DOUBLE) - mu) *
        |  (CAST(n_chars AS DOUBLE) - mu) > 2.25 * sigma2
        |ORDER BY doc_id""".stripMargin),
    Gate("t_gopher_rep", (s, dir) => {
      // Gopher repetition-signal census (Rae et al. 2021 A1.1): one
      // exact integer-ppm fraction per filter class — duplicate
      // lines, duplicate line chars, top 2-gram char coverage,
      // duplicated 5-gram char coverage. Map-side explodes (text
      // projected away), two-level hash aggregates, id-keyed rejoins.
      // The sf0.01 documents are single-line with no repeated
      // 5-grams, so half the slice plants duplication (text doubled
      // across a newline — mirrored in the oracle) to keep every
      // signal's nonzero path under the hash
      val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 2)
        .select(col("doc_id"),
          when(col("doc_id") % 8 === 2,
            concat(col("text"), lit("\n"), col("text")))
            .otherwise(col("text")).as("text"))
      graft.text.Repetition.gopherRepetition(docs, "doc_id", "text")
        .orderBy("doc_id")
    },
      (graft.text.Repetition.gopherRepetitionSql("",
        from = "(SELECT doc_id, CASE WHEN doc_id % 8 = 2 " +
          "THEN text || chr(10) || text ELSE text END AS text " +
          "FROM documents WHERE doc_id % 4 = 2)")
        + "\nORDER BY doc_id")),
    Gate("t_c4_filters", (s, dir) => {
      // C4 cleaning rules (Raffel et al. 2020 §2.2): terminal-punct +
      // >=5-word line filter, then the <3-sentence / brace /
      // lorem-ipsum page rules over the cleaned text. The synthetic
      // corpus has no punctuation at all, so the slice plants all
      // three verdict branches (mirrored in the oracle): single
      // kept line but <3 sentences (drop), three punctuated lines
      // (keep), and a brace+lorem tail with no terminal punct (drop
      // on all three page rules at once)
      val planted = t(s, dir, "documents").filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(".")))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(".\n"), col("text"), lit("!\n"),
                col("text"), lit("?")))
            .otherwise(concat(col("text"), lit(" {lorem ipsum}")))
            .as("text"))
      graft.text.C4.c4Clean(planted, "doc_id", "text")
        .orderBy("doc_id")
    },
      (graft.text.C4.c4CleanSql("",
        from = "(SELECT doc_id, CASE " +
          "WHEN doc_id % 3 = 0 THEN text || '.' " +
          "WHEN doc_id % 3 = 1 THEN text || '.' || chr(10) || text || '!' " +
          "|| chr(10) || text || '?' " +
          "ELSE text || ' {lorem ipsum}' END AS text " +
          "FROM documents WHERE doc_id % 4 = 3)")
        + "\nORDER BY doc_id")),
    Gate("t_normalize_nfc", (s, dir) => {
      // Unicode canonicalization before fingerprinting (custom
      // codegen Expression — Spark has no normalization builtin):
      // decomposed combining sequences are appended so the gate
      // exercises real composition, not the ASCII identity path.
      // DuckDB's utf8proc twin cannot drift: normalization of
      // assigned characters is stabilized by the Unicode standard
      t(s, dir, "part").filter(col("p_partkey") % 25 === 0)
        .select(col("p_partkey"),
          concat(col("p_name"), lit(" cafe\u0301 u\u0308ber")).as("raw"))
        .select(col("p_partkey"),
          graft.functions.NormalizeText.normalize_text(col("raw")).as("norm"),
          length(col("raw")).cast("long").as("n_raw"))
        .withColumn("n_norm", length(col("norm")).cast("long"))
        .orderBy("p_partkey")
    },
      s"""WITH r AS (SELECT p_partkey,
         |    p_name || ' cafe\u0301 u\u0308ber' AS raw
         |  FROM part WHERE p_partkey % 25 = 0)
         |SELECT p_partkey, nfc_normalize(raw) AS norm,
         |  CAST(length(raw) AS BIGINT) AS n_raw,
         |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_norm
         |FROM r ORDER BY p_partkey""".stripMargin),
    Gate("t_tfidf_top", (s, dir) => {
      graft.text.TfIdf.topTerms(
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = 5)
        .orderBy("id", "rnk")
    },
      graft.text.TfIdf.topTermsSql(5, "WHERE doc_id % 20 = 0")),
    Gate("t_bpe_pairs", (s, dir) => {
      // round-1 BPE statistic (freq-weighted adjacent char pairs over
      // the word census) — the SQL-expressible core of the trainer,
      // hash-gated; the iterative rounds are the same plan over
      // merged symbols (BpeSpec pins the worked-example merges)
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      Bpe.pairCounts(census,
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))"))
        .orderBy(col("n").desc, col("lhs"), col("rhs")).limit(20)
    },
      graft.text.Bpe.pairCountsSql(20, "WHERE doc_id % 10 = 0")),
    Gate("t_bpe_merges", (s, dir) => {
      // the trained merge table itself (rank, lhs, rhs, n) — hash-
      // gated against the full k-round trainer rendered in SQL
      // (Bpe.mergesSql: space-joined symbol strings make one merge
      // round a boundary-safe replace() to fixed point). BpeSpec
      // additionally pins the worked example; deterministic via the
      // total-order (n desc, lhs, rhs) tie-break per round.
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      val (merges, _) = Bpe.train(census, numMerges = 8)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("rank", "lhs", "rhs", "n")
    },
      graft.text.Bpe.mergesSql(8, "WHERE doc_id % 10 = 0")),
    Gate("t_bpe_local", (s, dir) => {
      // the PRODUCTION-round-count trainer: the Sennrich pair-count-
      // DELTA algorithm over the collected census (per round, work
      // proportional to the affected words — the shape a 32k-merge
      // vocabulary needs; Bpe.train's one-job-per-round twin is
      // priced in SCALE.md). Hash-gated against the SAME unrolled
      // mergesSql oracle as t_bpe_merges at a deeper round dial, and
      // BpeSpec pins trainLocal ≡ train on fuzzed corpora
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      val (merges, _) = Bpe.trainLocal(census, numMerges = 12)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("rank", "lhs", "rhs", "n")
    },
      graft.text.Bpe.mergesSql(12, "WHERE doc_id % 10 = 0")),
    Gate("t_bpe_encode", (s, dir) => {
      // corpus encoded with the trained vocab: per-doc subword and
      // OOV counts (the packing-budget numbers). Hash-gated against
      // Bpe.encodeStatsSql; the vocab join is broadcast.
      import graft.text.Bpe
      val docs = t(s, dir, "documents")
      val census = Bpe.wordCensus(docs.filter(col("doc_id") % 10 === 0), "text")
      val (_, seg) = Bpe.train(census, numMerges = 8)
      Bpe.encodeStats(docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", seg)
        .orderBy("id")
    },
      graft.text.Bpe.encodeStatsSql(8, "WHERE doc_id % 10 = 0", "WHERE doc_id % 20 = 0")),
    Gate("t_fertility", (s, dir) => {
      // tokenizer fertility by language: the vocab trains on ONE
      // slice, then every language reports pieces-per-token — the
      // multilingual-fairness number (a lang the census under-
      // represents segments into more pieces = a bigger token bill)
      import graft.text.Bpe
      val docs = t(s, dir, "documents")
      val census = Bpe.wordCensus(docs.filter(col("doc_id") % 10 === 0), "text")
      val (_, seg) = Bpe.train(census, numMerges = 8)
      Bpe.fertilityByLang(docs.filter(col("doc_id") % 4 === 1),
        "lang", "text", seg)
        .orderBy("lang")
    },
      graft.text.Bpe.fertilityByLangSql(8,
        "WHERE doc_id % 10 = 0", "WHERE doc_id % 4 = 1")),
    Gate("t_bpe_roundtrip", (s, dir) => {
      // decode(encode(x)) = x at the corpus level: a disjoint apply
      // slice (never trained on — fallback-heavy by construction)
      // encodes through the trained vocab with char fallback, decodes
      // by concatenation, and must reconstruct every token. The
      // oracle recomputes token/OOV counts and DECLARES the identity;
      // the Spark side proves it by actually decoding.
      import graft.text.Bpe
      val docs = t(s, dir, "documents")
      val census = Bpe.wordCensus(docs.filter(col("doc_id") % 10 === 0), "text")
      val (_, seg) = Bpe.train(census, numMerges = 8)
      Bpe.roundTripStats(docs.filter(col("doc_id") % 20 === 5),
        "doc_id", "text", seg)
        .orderBy("id")
    },
      graft.text.Bpe.roundTripStatsSql(8,
        "WHERE doc_id % 10 = 0", "WHERE doc_id % 20 = 5")),
    Gate("t_bpe_segment", (s, dir) => {
      // the saved-merges RELOAD path: train once, keep only the merge
      // list, re-segment the census words via Bpe.segmentWords (the
      // mapPartitions re-apply loop) — gated equal to the trainer's
      // own segmentation rendered in SQL (Bpe.segmentSql), proving
      // save → reload → segment round-trips exactly
      import graft.text.Bpe
      val census = Bpe.wordCensus(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text")
      val (merges, _) = Bpe.train(census, numMerges = 8)
      Bpe.segmentWords(census.select("word"), merges.map(m => (m._1, m._2)))
        .select(col("word"), array_join(col("syms"), " ").as("symstr"))
        .orderBy("word")
    },
      graft.text.Bpe.segmentSql(8, "WHERE doc_id % 10 = 0")),
    Gate("t_vocab_top", (s, dir) => {
      // corpus vocabulary census: top-50 tokens with corpus + document
      // frequency — plans as TakeOrderedAndProject (distributed heap),
      // never a global sort or single-partition window
      graft.text.Vocab.topTokens(
        t(s, dir, "documents"), "doc_id", "text", k = 50)
    },
      graft.text.Vocab.topTokensSql(50, "")),
    Gate("t_oov_rate", (s, dir) => {
      // vocabulary-drift quality signal: per-doc out-of-vocabulary
      // rate against the corpus' own top-200 (broadcast hash join on
      // the term, per-doc re-agg; rate = one IEEE division of ints)
      val docs = t(s, dir, "documents")
      graft.text.Vocab.oovRate(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        graft.text.Vocab.topTokens(docs, "doc_id", "text", k = 200))
        .orderBy("doc_id")
    },
      (graft.text.Vocab.oovRateSql(
        graft.text.Vocab.topTokensSql(200, ""),
        "WHERE doc_id % 10 = 0") + "\nORDER BY doc_id")),
    Gate("t_bigram_novelty", (s, dir) => {
      // n-gram-LM-lite: per-doc fraction of bigram OCCURRENCES unseen
      // in a reference slice of the corpus — the reference gram set is
      // corpus-sized (no forced broadcast; AQE picks the join), text
      // never shuffles, only grams and ids move
      val docs = t(s, dir, "documents")
      graft.text.Ngrams.noveltyRate(
        docs.filter(col("doc_id") % 10 === 3), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text", n = 2)
        .orderBy("doc_id")
    },
      (graft.text.Ngrams.noveltyRateSql(n = 2,
        whereClause = "WHERE doc_id % 10 = 3",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id")),
    Gate("t_bm25_topk", (s, dir) => {
      // sparse retrieval: BM25 top-10 per query (odds-ratio idf —
      // log-free, so engine-exact; per-(doc,term) scores quantize to
      // micro ints before the per-doc sum). Corpus explodes map-side
      // against the broadcast literal term set; only (doc, term) tf
      // rows shuffle; the final window runs over candidate sets only
      graft.text.Bm25.topK(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "doc_id", "text",
        Seq(1 -> "hash join", 2 -> "window agg stream", 3 -> "fast vector scan"),
        k = 10)
        .orderBy("query_id", "rnk")
    },
      (graft.text.Bm25.topKSql(
        Seq(1 -> "hash join", 2 -> "window agg stream", 3 -> "fast vector scan"),
        k = 10, whereClause = "WHERE doc_id % 2 = 1")
        + "\nORDER BY query_id, rnk")),
    Gate("t_lm_surprise", (s, dir) => {
      // perplexity-filtering analogue (CCNet/KenLM stage): per-doc
      // mean inverse smoothed bigram probability against a reference
      // slice — log-free so it's engine-exact (floor-quantized
      // per-occurrence micro-units, BIGINT sums, one final IEEE
      // division); censuses are corpus-sized equi-joins (no forced
      // broadcast), V is a 1-row broadcast, text never shuffles
      val docs = t(s, dir, "documents")
      graft.text.Lm.surpriseScore(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("doc_id")
    },
      (graft.text.Lm.surpriseScoreSql(
        whereClause = "WHERE doc_id % 10 = 7",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id")),
    Gate("t_lm_stupid_backoff", (s, dir) => {
      // the Brants web-scale rule: raw bigram ratio when seen, 0.4×
      // the (add-one) unigram frequency otherwise — no discounting
      // censuses at all, the cheap sibling of t_lm_kneser_ney; same
      // gram-keyed join shape, scalars broadcast, text never shuffles
      val docs = t(s, dir, "documents")
      graft.text.Lm.stupidBackoffScore(
        docs.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("doc_id")
    },
      (graft.text.Lm.stupidBackoffSql(
        whereClause = "WHERE doc_id % 10 = 4",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id")),
    Gate("t_lm_kneser_ney", (s, dir) => {
      // the smoothing production LM filters actually use: d=0.75
      // absolute discount + continuation-probability backoff (the
      // "francisco" correction), full backoff on unseen prefixes,
      // add-one escape on the continuation census. All extra
      // censuses derive from the gram census — no corpus rescans
      val docs = t(s, dir, "documents")
      graft.text.Lm.kneserNeyScore(
        docs.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("doc_id")
    },
      (graft.text.Lm.kneserNeySql(
        whereClause = "WHERE doc_id % 10 = 4",
        refWhereClause = "WHERE doc_id % 2 = 0") + "\nORDER BY doc_id")),
    Gate("t_lm_surprise3", (s, dir) => {
      // trigram-order LM surprise: conditioning prefix is the
      // (order-1)-gram census — same join topology as the bigram
      // gate, one more reference lineage for the token-vocabulary V
      val docs = t(s, dir, "documents")
      graft.text.Lm.surpriseScore(
        docs.filter(col("doc_id") % 10 === 1), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 1), "text", order = 3)
        .orderBy("doc_id")
    },
      (graft.text.Lm.surpriseScoreSql(
        whereClause = "WHERE doc_id % 10 = 1",
        refWhereClause = "WHERE doc_id % 2 = 1", order = 3)
        + "\nORDER BY doc_id")),
    Gate("t_token_drift", (s, dir) => {
      // corpus drift: top-40 terms by chi-square contribution between
      // two slices — vocabulary-sized censuses (one shuffle each,
      // map-side combine), full-outer join on the term, broadcast
      // grand totals, TakeOrderedAndProject top-k; per-term doubles
      // are a fixed IEEE op sequence on exact ints (engine-exact)
      val docs = t(s, dir, "documents")
      graft.text.Drift.tokenChi2(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "text", k = 40)
    },
      graft.text.Drift.tokenChi2Sql(k = 40,
        whereA = "WHERE doc_id % 2 = 0", whereB = "WHERE doc_id % 2 = 1")),
    Gate("t_token_rarity", (s, dir) => {
      // curriculum difficulty: mean vocabulary rank per document
      // (OOV = k+1) against the corpus' own top-300 — broadcast hash
      // probe per token, per-doc re-agg; all-integer arithmetic plus
      // one IEEE division, engine-exact
      val docs = t(s, dir, "documents")
      graft.text.Vocab.tokenRarity(
        docs.filter(col("doc_id") % 10 === 5), "doc_id", "text",
        graft.text.Vocab.topTokens(docs, "doc_id", "text", k = 300))
        .orderBy("doc_id")
    },
      (graft.text.Vocab.tokenRaritySql(
        graft.text.Vocab.topTokensSql(300, ""),
        "WHERE doc_id % 10 = 5") + "\nORDER BY doc_id")),
    Gate("t_chunk_windows", (s, dir) => {
      // RAG-shape chunking: overlapping 32-token windows advancing by
      // 24 — strictly map-only (tokenize, sequence, explode, slice);
      // output rows are bounded by the chunk size regardless of
      // document length skew
      graft.text.Chunking.slidingWindows(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 0),
        "doc_id", "text", chunkTokens = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    },
      (graft.text.Chunking.slidingWindowsSql(chunkTokens = 32, stride = 24,
        whereClause = "WHERE doc_id % 7 = 0") + "\nORDER BY doc_id, chunk_id")),
    Gate("t_vocab_encode", (s, dir) => {
      // text -> token-id rows against the corpus' own top-100 vocab
      // (1-based rank id, 0 = OOV); flattened (doc_id, pos, token_id)
      // is the shape the packing/writer stages consume
      val docs = t(s, dir, "documents")
      graft.text.Vocab.encode(
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        graft.text.Vocab.topTokens(docs, "doc_id", "text", k = 100))
        .orderBy("doc_id", "pos")
    },
      (graft.text.Vocab.encodeSql(
        graft.text.Vocab.topTokensSql(100, ""),
        "WHERE doc_id % 50 = 0") + "\nORDER BY doc_id, pos")),

    Gate("t_rolling_fp", (s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          graft.functions.RollingHash.rolling_hash(col("text")).as("rh"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id, ${graft.functions.RollingHash.rollingHashSql.replace("TXT", "text")} AS rh
         |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),
    Gate("t_lang_rebalance", (s, dir) => {
      // temperature-based multilingual sampling weights (alpha = 0.5,
      // the sqrt path — IEEE-correctly-rounded, so oracle-exact)
      graft.ops.Sampling.temperatureWeights(
        t(s, dir, "documents"), "lang", alpha = 0.5)
        .orderBy(col("lang").asc_nulls_first)
    },
      graft.ops.Sampling.temperatureWeightsSql("documents", "lang", "lang")),
  )
}
