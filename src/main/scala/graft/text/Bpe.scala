package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Caching.checkpointRdd

/** Byte-pair-encoding vocabulary training over a corpus — the
  * subword-tokenizer half of the text family (the reference has no
  * text pipeline; this extends SURVEY §2.5's scalar-library /
  * text-analysis categories the way `Vocab` does for word-level).
  *
  * The algorithm trains on the WORD CENSUS, not the raw corpus — the
  * standard formulation (Sennrich et al. 2016; production trainers do
  * the same): the corpus collapses to `(word, freq)` once (one
  * shuffle, map-side combined), and every merge round then runs over
  * the vocabulary-sized frame only. At 100 TB the census is the only
  * corpus-sized step; the k merge rounds touch data proportional to
  * |vocab|, with `localCheckpoint` truncating lineage per round
  * exactly like [[graft.dedup.Dedup.connectedComponents]].
  *
  * Determinism: the merge choice each round is (max summed freq,
  * then lexicographic (lhs, rhs)) — a total order, so training is
  * reproducible across partitionings and engines. The per-round
  * argmax is a 1-row TakeOrdered collect — k driver rows total, the
  * same bounded-driver-loop budget as connected components'
  * convergence counts.
  *
  * Merging applies LEFT-TO-RIGHT within each word via an `aggregate`
  * fold: on a run like `aaa` with merge (a,a) the leftmost pair
  * merges first → `[aa, a]` — the standard BPE greedy-scan rule.
  */
object Bpe {

  /** `(word, freq)` census — tokenization is the library rule
    * (lowercased, whitespace-split; [[TextFunctions.tokens]]).
    */
  def wordCensus(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(sum(lit(1L)).as("freq"))

  /** Freq-weighted adjacent-pair counts over symbol arrays `symCol`
    * — the statistic each merge round maximizes. Exposed for the
    * round-1 (character-pair) instance, which is SQL-expressible and
    * hash-gated (`t_bpe_pairs`); later rounds run the same plan over
    * the merged symbols.
    */
  def pairCounts(census: DataFrame, symCol: Column): DataFrame =
    census.select(col("freq"), symCol.as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> struct(element_at(syms, i) AS lhs, element_at(syms, i + 1) AS rhs))"))
        .as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("n"))

  /** DuckDB rendering of the round-1 character-pair statistic over
    * `documents(text)` restricted by `whereClause`: top-`k` pairs by
    * weighted count, ties to (lhs, rhs).
    */
  def pairCountsSql(k: Int, whereClause: String): String = {
    val toks = TextFunctions.tokensSql.replace("TXT", "lower(text)")
    s"""WITH w AS (SELECT word, CAST(sum(1) AS BIGINT) AS freq FROM (
       |    SELECT unnest($toks) AS word FROM documents $whereClause)
       |  GROUP BY word),
       |p AS (SELECT substr(word, CAST(i AS INT), 1) AS lhs,
       |    substr(word, CAST(i AS INT) + 1, 1) AS rhs, freq
       |  FROM w, unnest(range(1, length(word))) AS t(i)
       |  WHERE length(word) >= 2)
       |SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS n
       |FROM p GROUP BY lhs, rhs
       |ORDER BY n DESC, lhs, rhs LIMIT $k""".stripMargin
  }

  /** DuckDB rendering of the FULL `numMerges`-round trainer as chained
    * CTEs — the oracle for `t_bpe_merges` / `t_bpe_encode` /
    * `t_bpe_segment`. The trick that makes the iterative argmax
    * SQL-expressible: each word's symbols are rendered as a string of
    * SELF-DELIMITED spans `\t<sym>\n` (tab + symbol + newline —
    * tokens are `\s+`-split so symbols can never contain either
    * delimiter), and applying merge `(a, b)` is ONE
    * `replace(symstr, '\ta\n\tb\n', '\tab\n')`.
    *
    * Why a single non-overlapping replace IS the trainer's greedy
    * left-to-right fold: every span carries BOTH its delimiters, so
    * adjacent matches share no characters — after merging a pair the
    * scan resumes at the very next span, exactly like the fold
    * (which, after a merge, can never re-merge the new token in the
    * same round: `a+b` differs from both `a` and `b`). On a run like
    * `a a a a a a` with merge `(a, a)` both produce `aa aa aa` — the
    * earlier space-separated formulation got `aa a aa a` there
    * because each match consumed the FOLLOWING symbol's leading
    * separator (caught by randomized cross-validation; the
    * self-delimited spans are the fix). The delimiters also make
    * matches boundary-exact: a pattern consists of complete spans,
    * so a symbol SUFFIX can never false-match.
    *
    * Rounds where no pair reaches `minPairFreq` no-op via a
    * never-matching `chr(1)` pattern — equivalent to the trainer's
    * early stop, because a no-op round preserves state so every
    * later round is also empty.
    *
    * Returns the `WITH` prefix defining `w` (census), `s0..s$numMerges`
    * (per-round segmentations, `symstr` in span encoding, `syms` as a
    * list), and `m1..m$numMerges` (per-round argmax winners); callers
    * append their final SELECT.
    */
  def trainCtesSql(numMerges: Int, whereClause: String, minPairFreq: Long = 2L): String = {
    val toks = TextFunctions.tokensSql.replace("TXT", "lower(text)")
    // span list: split on delimiter runs, drop the empty edges
    def symsOf(symstr: String) =
      s"list_filter(string_split_regex($symstr, '[' || chr(9) || chr(10) || ']+'), x -> x <> '')"
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""w AS MATERIALIZED (SELECT word, CAST(sum(1) AS BIGINT) AS freq FROM (
         |    SELECT unnest($toks) AS word FROM documents $whereClause)
         |  GROUP BY word)""".stripMargin,
      """s0 AS MATERIALIZED (SELECT word, freq,
        |    string_agg(chr(9) || substr(word, CAST(i AS INT), 1) || chr(10), '' ORDER BY i) AS symstr
        |  FROM w, unnest(range(1, length(word) + 1)) AS t(i)
        |  GROUP BY word, freq)""".stripMargin)
    for (r <- 1 to numMerges) {
      val pat = s"coalesce((SELECT chr(9) || lhs || chr(10) || chr(9) || rhs || chr(10) FROM m$r), chr(1))"
      val rep = s"coalesce((SELECT chr(9) || lhs || rhs || chr(10) FROM m$r), chr(1))"
      parts += s"""p$r AS (SELECT list_extract(l, CAST(i AS INT)) AS lhs,
                  |    list_extract(l, CAST(i AS INT) + 1) AS rhs, freq
                  |  FROM (SELECT freq, ${symsOf("symstr")} AS l FROM s${r - 1}) q,
                  |       unnest(range(1, len(l))) AS t(i))""".stripMargin
      parts += s"""m$r AS MATERIALIZED (SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS n
                  |  FROM p$r GROUP BY lhs, rhs HAVING sum(freq) >= $minPairFreq
                  |  ORDER BY n DESC, lhs, rhs LIMIT 1)""".stripMargin
      parts += s"""s$r AS MATERIALIZED (SELECT word, freq,
                  |    replace(symstr, $pat, $rep) AS symstr
                  |  FROM s${r - 1})""".stripMargin
    }
    parts += s"""sfin AS (SELECT word, freq, ${symsOf("symstr")} AS syms
                |  FROM s$numMerges)""".stripMargin
    "WITH " + parts.mkString(",\n")
  }

  /** Oracle for the trained merge table: `(rank, lhs, rhs, n)`. */
  def mergesSql(numMerges: Int, whereClause: String): String =
    trainCtesSql(numMerges, whereClause) + "\nSELECT * FROM (" +
      (1 to numMerges)
        .map(r => s"SELECT CAST($r AS INT) AS rank, lhs, rhs, n FROM m$r")
        .mkString("\nUNION ALL ") +
      ") ORDER BY rank"

  /** Oracle for the final `(word, symstr)` segmentation — also the
    * oracle for the saved-merges reload path ([[segmentWords]]).
    * Output `symstr` is space-joined for readability (symbols never
    * contain spaces).
    */
  def segmentSql(numMerges: Int, whereClause: String): String =
    trainCtesSql(numMerges, whereClause) +
      "\nSELECT word, array_to_string(syms, ' ') AS symstr FROM sfin ORDER BY word"

  /** Oracle for [[encodeStats]]: per-doc subword + OOV counts using
    * the final segmentation as the vocabulary.
    */
  def encodeStatsSql(numMerges: Int, censusWhere: String, docsWhere: String): String = {
    val toks = TextFunctions.tokensSql.replace("TXT", "lower(text)")
    trainCtesSql(numMerges, censusWhere) +
      s""",
         |tok AS (SELECT doc_id AS id, unnest($toks) AS word
         |  FROM documents $docsWhere),
         |j AS (SELECT id,
         |    coalesce(len(s.syms), length(tok.word)) AS n_sub,
         |    CASE WHEN s.word IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tok LEFT JOIN sfin s ON tok.word = s.word)
         |SELECT id, CAST(sum(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(sum(oov) AS BIGINT) AS n_oov
         |FROM j GROUP BY id ORDER BY id""".stripMargin
  }

  /** decode(encode(x)) = x census — the check a training pipeline
    * runs after EVERY vocab change: each token encodes through the
    * trained segmentation (character fallback for OOV words, the
    * [[encodeStats]] rule), decodes by concatenating its symbols, and
    * must reconstruct the token exactly. Per doc: token count,
    * fallback (OOV) count, and exact-round-trip count. The symbols of
    * a word partition it by construction, so any miss is a REAL
    * defect — a symbol-boundary bug, a surrogate pair split into lone
    * halves (the [[segmentWords]] hazard), a vocab row corrupted in a
    * save/reload. The oracle asserts the identity (`n_roundtrip =
    * n_tokens` recomputed independently); the Spark side PROVES it by
    * actually decoding.
    *
    * 100 TB shape: identical to [[encodeStats]] — one corpus-token
    * pass, broadcast vocab join, map-side-combined per-doc census.
    */
  def roundTripStats(
      df: DataFrame, idCol: String, textCol: String, segmentation: DataFrame,
  ): DataFrame =
    df.select(col(idCol).as("id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("word"))
      .join(broadcast(segmentation.select(col("word"), col("syms"))),
        Seq("word"), "left")
      .select(col("id"),
        col("syms").isNull.cast("long").as("fallback"),
        (concat_ws("", coalesce(col("syms"),
          expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")))
          === col("word")).cast("long").as("ok"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("fallback")).as("n_fallback"),
        sum(col("ok")).as("n_roundtrip"))

  /** Oracle for [[roundTripStats]]: token and OOV counts recomputed
    * from the trained vocabulary, with `n_roundtrip` DECLARED equal to
    * the token count — the identity the Spark side must prove by
    * decoding.
    */
  def roundTripStatsSql(
      numMerges: Int, censusWhere: String, docsWhere: String): String = {
    val toks = TextFunctions.tokensSql.replace("TXT", "lower(text)")
    trainCtesSql(numMerges, censusWhere) +
      s""",
         |tok AS (SELECT doc_id AS id, unnest($toks) AS word
         |  FROM documents $docsWhere),
         |j AS (SELECT id,
         |    CASE WHEN s.word IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tok LEFT JOIN sfin s ON tok.word = s.word)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_fallback,
         |  CAST(count(*) AS BIGINT) AS n_roundtrip
         |FROM j GROUP BY id ORDER BY id""".stripMargin
  }

  /** Tokenizer FERTILITY by language — pieces emitted per input
    * token, the number multilingual tokenizer evals lead with: a
    * vocab trained on one language's census segments other languages
    * into more pieces, silently inflating their token budgets (and
    * training cost per document). Per language: token count, subword
    * count (char fallback for OOV, the [[encodeStats]] rule), and
    * `fertility_ppm = pieces·10^6 div tokens`. Same 100 TB shape as
    * [[encodeStats]]: one corpus-token pass, broadcast vocab join,
    * map-side-combined census over ≤ |languages| groups.
    */
  def fertilityByLang(
      df: DataFrame, langCol: String, textCol: String, segmentation: DataFrame,
  ): DataFrame =
    df.select(col(langCol).as("lang"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("word"))
      .join(broadcast(segmentation.select(col("word"), col("syms"))),
        Seq("word"), "left")
      .select(col("lang"),
        coalesce(size(col("syms")), length(col("word"))).cast("long").as("n_sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sub")).as("n_pieces"))
      .select(col("lang"), col("n_tokens"), col("n_pieces"),
        expr("(n_pieces * 1000000L) div n_tokens").as("fertility_ppm"))

  /** Oracle for [[fertilityByLang]]: the trained segmentation from
    * `censusWhere` applied to `docsWhere` tokens, grouped by `lang`.
    */
  def fertilityByLangSql(
      numMerges: Int, censusWhere: String, docsWhere: String): String = {
    val toks = TextFunctions.tokensSql.replace("TXT", "lower(text)")
    trainCtesSql(numMerges, censusWhere) +
      s""",
         |tok AS (SELECT lang, unnest($toks) AS word
         |  FROM documents $docsWhere),
         |j AS (SELECT lang,
         |    coalesce(len(s.syms), length(tok.word)) AS n_sub
         |  FROM tok LEFT JOIN sfin s ON tok.word = s.word)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_sub) AS BIGINT) AS n_pieces,
         |  (CAST(sum(n_sub) AS BIGINT) * 1000000) // count(*)
         |    AS fertility_ppm
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** One merge applied left-to-right: adjacent `(a, b)` becomes the
    * concatenated symbol. A fold with lookback — `acc` ends with `a`
    * and the next symbol is `b` → replace the tail with `a ++ b`;
    * a just-merged tail never re-merges (it no longer equals `a`
    * unless genuinely so), giving the standard greedy scan.
    */
  def mergeStep(syms: Column, a: String, b: String): Column = {
    val qa = lit(a)
    val qb = lit(b)
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === qa && x === qb,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(qa, qb))))
          .otherwise(concat(acc, array(x))))
  }

  /** Train `numMerges` BPE merges on a word census. Returns the merge
    * table in rank order and the final per-word segmentation. Rounds
    * stop early when the best pair's weighted count falls below
    * `minPairFreq` (or no pair remains).
    */
  def train(
      census: DataFrame, numMerges: Int, minPairFreq: Long = 2L,
  ): (Seq[(String, String, Long)], DataFrame) = {
    require(numMerges >= 0, s"numMerges $numMerges must be >= 0")
    // LAZY localCheckpoints throughout: the plan is truncated to a
    // LogicalRDD either way (constant-size per round), but the
    // materialization rides the NEXT round's argmax job instead of
    // being its own blocking job — one job per round, not two (the
    // per-gate trains are fixed-cost-dominated; this halves it)
    var seg = census.select(col("word"), col("freq"),
      expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")
        .as("syms"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    // unpersist bookkeeping shifts by one round with lazy cuts: a
    // lazy checkpoint's RDD still NEEDS its predecessor's blocks
    // until its own first materialization (lineage truncates on
    // compute), so each round frees the rdd made safe by the argmax
    // it just ran — the one from TWO rounds back. At production merge
    // counts (10⁴–10⁵ rounds) leaving them to the GC-driven
    // ContextCleaner would accumulate executor storage for the whole
    // train; Dataset.unpersist would be a no-op (no CacheManager
    // entry), the handle is the underlying RDD
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var done = false
    var round = 0
    while (!done && round < numMerges) {
      // bounded driver argmax: ONE row per round (k rows total), the
      // sanctioned driver-loop pattern (see scaladoc); this action
      // also materializes `seg`'s lazy checkpoint
      val top = pairCounts(seg, col("syms"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      prevRdd.foreach(_.unpersist(false))
      prevRdd = None
      if (top.isEmpty || top(0).getAs[Long]("n") < minPairFreq) done = true
      else {
        val (a, b, n) = (top(0).getAs[String]("lhs"),
          top(0).getAs[String]("rhs"), top(0).getAs[Long]("n"))
        merges += ((a, b, n))
        val next = seg.withColumn("syms", mergeStep(col("syms"), a, b))
          .localCheckpoint(false)
        prevRdd = checkpointRdd(seg)
        seg = next
      }
      round += 1
    }
    // materialize the final segmentation before returning: callers
    // use it as a reused static side (it would materialize on first
    // use anyway), and the last predecessor can then be freed
    seg.count()
    prevRdd.foreach(_.unpersist(false))
    (merges.toSeq, seg)
  }

  /** PRODUCTION-ROUND-COUNT trainer — the Sennrich/SentencePiece
    * pair-count-DELTA algorithm over the collected census. [[train]]
    * recomputes the full pair census every round (one distributed
    * job per merge — the right shape for gate-sized round counts,
    * priced in SCALE.md: ~0.1 s of fixed job cost per round, so a
    * 32k-merge production vocabulary would spend ~an hour on job
    * overhead alone). This twin exploits what production trainers
    * exploit: a merge only changes pair counts in the words that
    * CONTAIN the merged pair, so counts are maintained incrementally
    * — per round, work proportional to the affected words, not the
    * vocabulary — with a tree-ordered argmax. The census (the ONLY
    * corpus-sized step) still comes from the cluster; the merge loop
    * runs on the driver over the vocabulary-sized frame, which is
    * the scale split 100 TB tokenizer training actually uses (a
    * top-`maxCensusRows` census of any corpus fits driver memory;
    * the bound is LOUD — a silent truncation would silently change
    * the vocabulary).
    *
    * Bit-identical to [[train]] by construction (BpeSpec pins merge
    * tables AND segmentations equal, and the gate shares
    * [[mergesSql]]): the argmax total order is (n desc, lhs, rhs)
    * with strings compared as UTF-8 BYTES (Spark's and DuckDB's
    * string order — `String.compareTo` would diverge on
    * supplementary code points), the merge scan is [[mergeStep]]'s
    * greedy left-to-right fold, symbols split by CODE POINTS, and
    * the early-stop rule is the same `minPairFreq` check.
    */
  def trainLocal(
      census: DataFrame, numMerges: Int, minPairFreq: Long = 2L,
      maxCensusRows: Int = 2000000,
  ): (Seq[(String, String, Long)], DataFrame) = {
    require(numMerges >= 0, s"numMerges $numMerges must be >= 0")
    val spark = census.sparkSession
    val rows = census.select(col("word").cast("string"), col("freq").cast("long"))
      .limit(maxCensusRows + 1).collect()
    require(rows.length <= maxCensusRows,
      s"trainLocal: census exceeds maxCensusRows=$maxCensusRows — a " +
        "truncated census silently changes the vocabulary; raise the " +
        "bound explicitly or train on a censused sample")
    val words = rows.map(_.getString(0))
    val freqs = rows.map(_.getLong(1))
    val syms: Array[Array[String]] = words.map(w =>
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp))))

    // UTF-8 byte order — the engines' string order
    def utf8Lt(x: String, y: String): Boolean = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xFF) - (b(i) & 0xFF)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    val cmp = new java.util.Comparator[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int =
        if (x._1 != y._1) java.lang.Long.compare(y._1, x._1) // n DESC
        else if (x._2 != y._2) { if (utf8Lt(x._2, y._2)) -1 else 1 }
        else if (x._3 != y._3) { if (utf8Lt(x._3, y._3)) -1 else 1 }
        else 0
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val order = new java.util.TreeSet[(Long, String, String)](cmp)
    // pair -> word indices that (at some point) contained it; stale
    // entries are harmless (the rescan no-ops), missing entries are
    // impossible (every created adjacency registers here)
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) order.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0L) { counts(p) = nw; order.add((nw, p._1, p._2)): Unit }
      else counts.remove(p): Unit
    }
    def forPairs(s: Array[String])(f: ((String, String)) => Unit): Unit = {
      var i = 0
      while (i + 1 < s.length) { f((s(i), s(i + 1))); i += 1 }
    }
    var i = 0
    while (i < syms.length) {
      val w = i
      forPairs(syms(i)) { p =>
        bump(p, freqs(w))
        occ.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += w
      }
      i += 1
    }

    // mergeStep's greedy left-to-right scan, verbatim semantics
    def greedy(s: Array[String], a: String, b: String): Array[String] = {
      val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
      var j = 0
      while (j < s.length) {
        if (out.nonEmpty && out.last == a && s(j) == b)
          out(out.length - 1) = a + b
        else out += s(j)
        j += 1
      }
      out.toArray
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var done = false
    while (!done && round < numMerges) {
      val head = if (order.isEmpty) null else order.first()
      if (head == null || head._1 < minPairFreq) done = true
      else {
        val (n, a, b) = head
        merges += ((a, b, n))
        val affected = occ.getOrElse((a, b),
          scala.collection.mutable.Set.empty[Int]).toArray.sorted
        var k = 0
        while (k < affected.length) {
          val w = affected(k)
          val old = syms(w)
          val merged = greedy(old, a, b)
          if (merged.length != old.length) { // a merge strictly shrinks
            forPairs(old)(p => bump(p, -freqs(w)))
            forPairs(merged) { p =>
              bump(p, freqs(w))
              occ.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += w
            }
            syms(w) = merged
          }
          k += 1
        }
      }
      round += 1
    }
    import spark.implicits._
    val seg = words.indices
      .map(w => (words(w), freqs(w), syms(w).toSeq))
      .toDF("word", "freq", "syms")
    (merges.toSeq, seg)
  }

  /** Re-apply a SAVED merge list to a `(word)` frame — the reload
    * path: train once, persist the merge table, segment anywhere
    * without retraining. A typed `mapPartitions` loop (the sanctioned
    * imperative arm): production merge counts are 10⁴–10⁵, far past
    * expression-tree depth, and the data here is the vocabulary, not
    * the corpus. Merges apply in rank order with the same greedy
    * left-to-right scan as [[mergeStep]] — BpeSpec pins equality
    * with the trainer's own segmentation.
    */
  def segmentWords(
      words: DataFrame, merges: Seq[(String, String)],
  ): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val ms = merges.toArray
    words.select(col("word").cast("string")).as[String]
      .mapPartitions { it =>
        it.map { w =>
          // split by CODE POINTS, not UTF-16 units: the trainer's
          // substr(word, i, 1) is code-point based, and a surrogate
          // pair (emoji) split into lone halves would never re-merge
          var syms: Array[String] = w.codePoints().toArray
            .map(cp => new String(Character.toChars(cp)))
          var m = 0
          while (m < ms.length) {
            val (a, b) = ms(m)
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (out.nonEmpty && out.last == a && syms(i) == b)
                out(out.length - 1) = a + b
              else out += syms(i)
              i += 1
            }
            syms = out.toArray
            m += 1
          }
          (w, syms)
        }
      }
      .toDF("word", "syms")
  }

  /** Encode a corpus with a trained segmentation: tokens resolve
    * through a broadcast-joined `(word, syms)` vocabulary (the fast
    * path production encoders use for known words); OOV words fall
    * back to character symbols. Output: one row per document with
    * its subword count and OOV-token count — the budget numbers a
    * packing/curation pass consumes.
    */
  def encodeStats(
      df: DataFrame, idCol: String, textCol: String, segmentation: DataFrame,
  ): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("word"))
    toks.join(broadcast(segmentation.select(col("word"), col("syms"))),
        Seq("word"), "left")
      .select(col("id"),
        coalesce(size(col("syms")), length(col("word"))).as("n_sub"),
        col("syms").isNull.cast("int").as("oov"))
      .groupBy(col("id"))
      .agg(sum(col("n_sub")).cast("long").as("n_subwords"),
        sum(col("oov")).cast("long").as("n_oov"))
  }
}
