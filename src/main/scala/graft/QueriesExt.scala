package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, NativeExpressions, Similarity, TextFunctions}
import graft.multimodal.Multimodal

/** North-star extension queries: text analysis, deduplication, similarity
  * search, multimodal plumbing (builder prompt + SURVEY §7.2 step 5).
  *
  * Oracle-less entries (minhash/simhash/LSH-ANN) use engine-specific hash
  * functions (xxhash64/murmur3) that no ANSI-SQL oracle can replicate; the
  * driver records a rows-only check for them, and their correctness is
  * covered by ScalaTest invariants (e.g. LSH candidates ⊇ exact near-dups
  * on fixtures) instead.
  */
object QueriesExt {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)
  /** [[docs]] spread to cluster width before a per-row text kernel
    * (Guards.spread — identity when the scan already carries cluster-width
    * splits). Catalyst pushes column pruning and filters BELOW the
    * round-robin exchange, so scans stay pruned and pushed-down; use at
    * any query entry whose next step is a heavy kernel over `text`
    * (guide §2.5 — the one-split testdata file otherwise runs every
    * kernel on one core).
    */
  private def docsSpread(s: SparkSession, d: String) =
    graft.operators.Guards.spread(docs(s, d))

  // ---- shared DuckDB fragments (single source of truth for the text
  // heuristics: tx_* oracles and the composed pipe_clean_corpus oracle
  // interpolate these, so a weight/marker change cannot drift them apart).

  /** Tokens of the ASCII-folded text (the engine's tokenization case
    * fold — [[graft.functions.TextFunctions.asciiLower]]; the translate
    * below is its exact DuckDB spelling) that are members of the set.
    */
  private def markerCountSql(markers: Seq[String]): String =
    s"""len(list_filter(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+'),
       |      t -> t IN (${markers.map(m => s"'$m'").mkString(",")})))""".stripMargin

  /** The three quality sub-expressions, single-sourced: [[qualitySql]]
    * weights them into the gate score and the LR trainer's oracle
    * ([[trainLrOracleSql]]) consumes them raw as features f1-f3 — one
    * copy, so a weight/guard tweak can never silently diverge the
    * trainer's features from the quality-score family. Declared before
    * qualitySql because object vals initialize in order.
    */
  private val ntokSql = """len(string_split_regex(text, '\s+'))"""
  private val lrF1Sql = s"least($ntokSql / cast(100.0 as double), cast(1.0 as double))"
  private val lrF2Sql =
    s"""(CASE WHEN $ntokSql > 0 THEN ${markerCountSql(TextFunctions.stopwords)}
       |      / cast($ntokSql as double) ELSE cast(0.0 as double) END)""".stripMargin
  private val lrF3Sql =
    """(CASE WHEN length(text) > 0
      |  THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * cast(1.0 as double) / length(text)
      |  ELSE cast(0.0 as double) END)""".stripMargin

  /** The quality-score expression over a `text` column (weights mirror
    * [[TextFunctions.qualityScore]]; floor-based HALF_UP rounding).
    */
  private val qualitySql =
    s"""floor(least(cast(1.0 as double),
       |    cast(0.5 as double) * $lrF2Sql
       |    + cast(0.3 as double) * $lrF1Sql
       |    + cast(0.2 as double) * $lrF3Sql) * 10000 + 0.5) / 10000""".stripMargin

  /** Per-language marker scores as SELECT items (en_score..de_score). */
  private val langScoreSqlItems: String =
    TextFunctions.langOrder.map { l =>
      s"${markerCountSql(TextFunctions.langMarkers(l))} AS ${l}_score"
    }.mkString(",\n    ")

  /** Argmax over the four *_score columns, priority en > es > fr > de. */
  private val predictedSql =
    // leading NULL arm: a null-text doc scores NULL everywhere; every WHEN
    // is then falsy and the CASE would land on ELSE 'de', while the Spark
    // twin (predictedFromScores) leads with when(isNull, null)
    """CASE WHEN en_score IS NULL THEN NULL
      |       WHEN greatest(en_score, es_score, fr_score, de_score) = 0 THEN 'unknown'
      |       WHEN en_score = greatest(en_score, es_score, fr_score, de_score) THEN 'en'
      |       WHEN es_score = greatest(en_score, es_score, fr_score, de_score) THEN 'es'
      |       WHEN fr_score = greatest(en_score, es_score, fr_score, de_score) THEN 'fr'
      |       ELSE 'de' END""".stripMargin

  /** Repetition-filter fragments (mirror
    * [[NativeExpressions.RepetitionStats]] + the rounding convention),
    * parameterized by a `regexp_split_to_array(text, '\s+')` expression so
    * tx_repetition's oracle and the composed pipeline's oracle share one
    * definition. Thresholds likewise shared below.
    */
  private def dupWordFracSql(w: String): String =
    s"floor((1 - len(list_distinct($w))::DOUBLE / len($w)) * 10000 + 0.5) / 10000"
  private def topBigramFracSql(w: String): String =
    s"""floor((2 * coalesce(list_max(list_transform(
       |      list_distinct([$w[i] || ' ' || $w[i+1] for i in range(1, len($w))]),
       |      b -> len(list_filter([$w[i] || ' ' || $w[i+1] for i in range(1, len($w))],
       |                           x -> x = b)))), 0)::DOUBLE / len($w)) * 10000 + 0.5) / 10000""".stripMargin
  private val DupWordMax = 0.65
  private val TopBigramMax = 0.15
  private val QualityMin = 0.35

  /** The STATELESS gates of the clean-corpus pipeline (quality ≥
    * [[QualityMin]], predicted language 'en', Gopher repetition
    * thresholds) — shared by the batch `pipe_clean_corpus` and the
    * streaming twin [[graft.streaming.StreamingAnalytics.cleanCorpusStream]]
    * so the two can never drift. Input must carry `text`; `keep` columns
    * pass through, `quality` is attached. The two-step select keeps each
    * kernel evaluated ONCE per row (a single collapsed projection would
    * inline `st` into both fraction consumers).
    */
  private[graft] def cleanGates(df: DataFrame, keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    df.select(kept ++ Seq(
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langScores(col("text")).as("sc"),
        NativeExpressions.repetitionStats(col("text")).as("st")): _*)
      .select(kept ++ Seq(col("quality"),
        TextFunctions.predictedFromScores(
          col("sc").getItem(0), col("sc").getItem(1),
          col("sc").getItem(2), col("sc").getItem(3)).as("predicted"),
        dupWordFrac(col("st")).as("dwf"), topBigramFrac(col("st")).as("tbf")): _*)
      .filter(col("quality") >= QualityMin && col("predicted") === "en" &&
        col("dwf") <= DupWordMax && col("tbf") <= TopBigramMax)
      .select(kept :+ col("quality"): _*)
  }

  /** Spark twins of the fragments, over a RepetitionStats struct column. */
  private def dupWordFrac(st: Column): Column = graft.functions.Rounding.round4(
    lit(1) - st.getField("n_distinct").cast("double") / st.getField("n_tok"))
  private def topBigramFrac(st: Column): Column = graft.functions.Rounding.round4(
    st.getField("top_bigram").cast("double") * 2 / st.getField("n_tok"))

  // ---- text analysis -----------------------------------------------------

  private val tx1 = QueryDef("tx_token_counts",
    Some("""SELECT doc_id,
           |  array_length(regexp_split_to_array(text, '\s+')) AS n_tokens,
           |  len(regexp_extract_all(text, '[A-Za-z]+|\d+|[^\sA-Za-z\d]')) AS n_bpeish,
           |  n_chars
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => docsSpread(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"),
      col("n_chars"))
      .orderBy("doc_id"))

  private val tx2 = QueryDef("tx_quality_features",
    // stopword list interpolated from TextFunctions.stopwords — a copied
    // literal list here would go stale the day the model list changes
    Some(s"""SELECT doc_id,
           |  ${markerCountSql(TextFunctions.stopwords)} AS stopword_cnt,
           |  CASE WHEN length(text) > 0
           |       THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * cast(1.0 as double) / length(text)
           |       ELSE 0.0 END AS alpha_ratio
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => docsSpread(s, d).select(col("doc_id"),
      TextFunctions.stopwordCount(col("text")).as("stopword_cnt"),
      // the shared guarded helper: an empty doc is 0.0, not an ANSI
      // divide-by-zero (Spark) vs NaN (DuckDB) divergence
      TextFunctions.alphaRatio(col("text")).as("alpha_ratio"))
      .orderBy("doc_id"))

  private val tx3 = QueryDef("tx_lang_id",
    Some(s"""WITH scored AS (
            |  SELECT doc_id, lang,
            |    $langScoreSqlItems
            |  FROM documents)
            |SELECT doc_id, lang, en_score, es_score, fr_score, de_score,
            |  $predictedSql AS predicted
            |FROM scored ORDER BY doc_id""".stripMargin),
    (s, d) => docsSpread(s, d)
      // ONE tokenization kernel pass per row; the per-language scores and
      // the argmax are array extracts over the materialized counts (the
      // two-step select keeps Catalyst from inlining the kernel 12×).
      .select(col("doc_id"), col("lang"), TextFunctions.langScores(col("text")).as("sc"))
      .select(col("doc_id"), col("lang"),
        col("sc").getItem(0).as("en_score"), col("sc").getItem(1).as("es_score"),
        col("sc").getItem(2).as("fr_score"), col("sc").getItem(3).as("de_score"))
      .withColumn("predicted", TextFunctions.predictedFromScores(
        col("en_score"), col("es_score"), col("fr_score"), col("de_score")))
      .orderBy("doc_id"))

  /** Heuristic document quality score — the composed filter a training
    * pipeline gates ingestion on (stopword ratio + length + alpha ratio,
    * fixed weights, floor-rounded for cross-engine determinism).
    */
  private val tx5 = QueryDef("tx_quality_score",
    Some(s"""SELECT doc_id, $qualitySql AS quality
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => docsSpread(s, d).select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"))

  /** Curriculum binning — the data-ORDERING step of curriculum training:
    * rank every document by quality within its language and cut into
    * deciles (decile 10 = highest quality), so a training run can feed
    * bins in order (or anneal the mix toward high-quality bins late in
    * training). Ties broken by doc_id, so the binning is deterministic
    * cross-engine. Scale: one window shuffle partitioned BY LANGUAGE —
    * bounded per-partition state (ntile needs only the partition's row
    * count), and the same (lang, shard) sub-split used by tx_pack applies
    * if one language dominates.
    */
  private val tx14 = QueryDef("tx_curriculum",
    Some(s"""SELECT doc_id, lang, $qualitySql AS quality,
            |  ntile(10) OVER (PARTITION BY lang ORDER BY $qualitySql, doc_id) AS decile
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // score once, THEN rank over the projected column — putting the
      // kernel expression in both the projection and the window sort key
      // would tokenize+score every document twice (the one-kernel-pass
      // discipline of tx_lang_id)
      docsSpread(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .select(col("doc_id"), col("lang"), col("quality"),
          ntile(10).over(Window.partitionBy("lang")
            .orderBy(col("quality"), col("doc_id"))).as("decile"))
        .orderBy("doc_id")
    })

  /** Character-level Shannon entropy per document — the
    * gibberish/compression quality signal (uniform noise scores high,
    * repeated-character spam low) completing the quality family beside
    * the ratio features and the repetition stats. ONE map-only pass via
    * the [[NativeExpressions.CharEntropyStats]] kernel (n, Σ c·ln c over
    * non-whitespace chars in code-point order); entropy = ln n − Σ/n,
    * floor-rounded at 1e-4 — the ordered-fold + rounding discipline that
    * makes the DuckDB oracle's ln-sum hash-match (tx_surprisal's rule).
    */
  private val tx25 = QueryDef("tx_entropy",
    Some("""WITH ch AS (
           |  SELECT doc_id, c, count(*) AS cnt FROM (
           |    SELECT doc_id, unnest(regexp_extract_all(text, '\S')) AS c
           |    FROM documents) t
           |  GROUP BY doc_id, c
           |), d AS (
           |  SELECT doc_id, cast(sum(cnt) as bigint) AS n,
           |    list_reduce(list_prepend(cast(0.0 as double),
           |      list(cnt * ln(cast(cnt as double)) ORDER BY c)), (p, q) -> p + q) AS s
           |  FROM ch GROUP BY doc_id
           |)
           |SELECT documents.doc_id AS doc_id, coalesce(d.n, 0) AS n_chars,
           |  CASE WHEN d.n IS NULL THEN NULL
           |       ELSE floor((ln(cast(d.n as double)) - d.s / d.n) * 10000 + 0.5) / 10000
           |  END AS entropy
           |FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id
           |ORDER BY doc_id""".stripMargin),
    (s, d) => docsSpread(s, d)
      .select(col("doc_id"), NativeExpressions.charEntropyStats(col("text")).as("st"))
      // empty/all-whitespace docs: one row with n_chars=0 and NULL entropy
      // (Spark's ln(0) is null and null-propagates through the rounding) —
      // the oracle's LEFT JOIN emits the same row, and the kernel stays a
      // single map-only evaluation (a filter would push a second copy of
      // the expression into the scan). NULL text: the kernel
      // null-propagates st itself, but the oracle's LEFT JOIN still emits
      // n_chars=0 — coalesce aligns the engines (latent until the driver
      // ships a null-text doc; round-9 advice).
      // the n_chars > 0 guard is load-bearing under ANSI: for an empty/
      // all-whitespace doc the division 0.0/0 is a query-killing
      // DIVIDE_BY_ZERO (verified on this Spark), not a null — the guard
      // yields the NULL entropy the oracle's LEFT JOIN produces
      .select(col("doc_id"), coalesce(col("st.n_chars"), lit(0L)).as("n_chars"),
        when(col("st.n_chars") > 0,
          floor((log(col("st.n_chars")) - col("st.sum_clnc") / col("st.n_chars"))
            * 10000 + 0.5) / 10000).as("entropy"))
      .orderBy("doc_id"))

  private val tx4 = QueryDef("tx_fingerprint",
    // NULL-text guard: the Spark kernel null-propagates, but DuckDB's
    // list_transform(NULL) collapses to NULL and list_prepend(7, NULL)
    // yields [7] — the fold would emit the SEED as a real fingerprint
    // (found by the round-10 degenerate-corpus gate).
    Some("""SELECT doc_id,
           |  CASE WHEN text IS NULL THEN NULL ELSE
           |    list_reduce(list_prepend(cast(7 as bigint),
           |      list_transform(string_split(text, ''), x -> cast(ascii(x) as bigint))),
           |      (a, b) -> (a * 31 + b) % 1000000007) END AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => docs(s, d).select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id"))

  /** Per-document top-3 terms by tf-idf — the classic feature-extraction
    * shape: tokenize → per-(doc, term) tf → per-term df → idf = ln(N/df) →
    * rank per doc. One narrow exchange per aggregate, N arrives as a
    * broadcast 1-row cross join (never a driver collect). Scores are
    * floor-rounded to 4 decimals on BOTH engines before ranking, so an
    * ulp-level `ln` difference between libm and the JVM cannot flip a rank.
    */
  private val tx6 = QueryDef("tx_tfidf_topk",
    Some("""WITH terms AS (
           |  SELECT doc_id, unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS term
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, term, count(*) AS tf FROM terms
           |  WHERE length(term) > 0 GROUP BY 1, 2),
           |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |scored AS (
           |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
           |    floor(tf.tf * ln(n.n_docs * cast(1.0 as double) / dft.df) * 10000 + 0.5) / 10000 AS tfidf
           |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
           |  FROM scored)
           |SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rn <= 3
           |ORDER BY doc_id, tfidf DESC, term""".stripMargin),
    (s, d) => {
      val base = docs(s, d)
      val tf = graft.operators.Guards.spread(base.select("doc_id", "text"))
        .select(col("doc_id"), explode(TextFunctions.tokens(TextFunctions.asciiLower(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = base.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dft, "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          graft.functions.Rounding.round4(
            col("tf") * log(col("n_docs") * lit(1.0) / col("df"))))
      // Per-doc top-3 via a window, DELIBERATELY not the custom top-k
      // Aggregator (a16's pattern): doc_id is high-cardinality with
      // bounded rows per key (≤ unique terms per doc), so the per-doc
      // window sort has no skew exposure, and the measured cost of the
      // udaf's per-row object conversion exceeds the window sort here
      // (3.8 s vs 2.0 s at sf0.1). The bounded-buffer aggregator is the
      // right tool for HOT keys (few keys × many rows), not this shape.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
        .orderBy(col("doc_id"), desc("tfidf"), col("term"))
    })

  /** Benchmark decontamination — the training-data hygiene pass that drops
    * documents overlapping an evaluation set: any training doc sharing a
    * word 3-gram with a benchmark doc is flagged with its overlap count.
    * (Real pipelines use 8-13-gram overlap; the synthetic docs are 10-99
    * tokens, so 3-grams give the same selectivity here.)
    *
    * Scale shape: a real benchmark suite is tiny next to a 100 TB corpus
    * and its distinct shingles broadcast, so the corpus side never
    * shuffles its shingles for the join; only the matched
    * (doc_id, shingle) hits shuffle into the per-doc distinct count. The
    * broadcast decision is left to AQE (the `distinct()` provides the
    * runtime-sized stage boundary) rather than forced — so the plan
    * still broadcasts whenever the benchmark actually fits, but a
    * benchmark side that is NOT small (here both sides derive from one
    * table split by `doc_id % 13`, so the proxy grows with the corpus)
    * degrades to a keyed shuffle instead of shipping a corpus fraction
    * to the driver. PlanCheck accepts both shapes and forbids the
    * nested-loop one.
    */
  private val tx7 = QueryDef("tx_decontaminate",
    Some("""WITH sh AS (
           |  SELECT doc_id, unnest(list_distinct(
           |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0)
           |SELECT sh.doc_id, count(DISTINCT sh.shingle) AS n_hits
           |FROM sh JOIN bench USING (shingle)
           |WHERE sh.doc_id % 13 <> 0
           |GROUP BY 1 ORDER BY doc_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // NO self-join, ONE tokenization: bench membership is a per-shingle
      // window flag over the single exploded index (the dd_substring_dup
      // "df via window" shape). The former two-branch formulation
      // re-evaluated the explode per branch — and a shared repartition
      // can't fix that, because Catalyst pushes each branch's filter
      // BELOW the repartition, splitting the exchange into two
      // non-identical subtrees that never reuse (measured: 2 scans,
      // 0 reused; the new AQE-off PlanCheck gate pins 1 scan, no join).
      // Shuffle volume is identical to the join's probe side — one
      // shingle-keyed exchange of the exploded index — and the bench
      // side's second exchange disappears entirely.
      val sh = docsSpread(s, d).select(col("doc_id"),
        explode(array_distinct(TextFunctions.wordShingles(col("text"), 3))).as("shingle"))
      // per-doc shingles are DISTINCT (array_distinct above), so the
      // per-doc hit count is a plain count over the flagged rows
      sh.withColumn("has_bench",
          max(when(pmod(col("doc_id"), lit(13)) === 0, 1).otherwise(0))
            .over(Window.partitionBy("shingle")))
        .filter(pmod(col("doc_id"), lit(13)) =!= 0 && col("has_bench") === 1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    })

  /** PII redaction — scrub emails, IPv4 addresses, and user handles from
    * log-ish lines (synthesized here from events, same template family as
    * p_parse_ssh_roundtrip). Pure map-only regexp_replace chain — codegen'd,
    * no shuffle, linear at any scale. Replacement ORDER matters (the email
    * contains a user handle): emails → IPs → bare handles, and each count
    * is taken on the stage's input, mirrored exactly in the oracle.
    */
  private val tx8 = QueryDef("tx_redact",
    // user_id pieces render through coalesce(..., 'null'): Spark's
    // format_string is Java's Formatter, which prints a null %d argument
    // as the literal "null" — a bare || would instead null the whole line
    // for an unattributed event (degen-gate r11 find)
    Some("""WITH raw AS (
           |  SELECT event_id,
           |    'Failed password for u' || coalesce(cast(user_id AS varchar), 'null') ||
           |    ' from 10.0.' || coalesce(cast(user_id % 200 AS varchar), 'null') ||
           |    '.' || (event_id % 250) || ' port ' || (1024 + event_id % 5000) ||
           |    ' ssh2 contact=u' || coalesce(cast(user_id AS varchar), 'null') ||
           |    '@mail.example.com relay=192.168.' ||
           |    (event_id % 200) || '.' || coalesce(cast(user_id % 250 AS varchar), 'null') AS line
           |  FROM events),
           |red AS (
           |  SELECT event_id,
           |    regexp_replace(line, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g') AS t1,
           |    regexp_replace(regexp_replace(regexp_replace(line,
           |      '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
           |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           |      '\bu\d+\b', '<USER>', 'g') AS redacted
           |  FROM raw)
           |SELECT event_id,
           |  (length(t1) - length(replace(t1, '<EMAIL>', ''))) // 7 AS n_emails,
           |  (length(redacted) - length(replace(redacted, '<IP>', ''))) // 4 AS n_ips,
           |  (length(redacted) - length(replace(redacted, '<USER>', ''))) // 6 AS n_users,
           |  redacted
           |FROM red ORDER BY event_id""".stripMargin),
    (s, d) => {
      val emailPat = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
      val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val userPat = "\\bu\\d+\\b"
      val line = concat(
        format_string("Failed password for u%d from 10.0.%d.%d port %d ssh2",
          col("user_id"), pmod(col("user_id"), lit(200)), pmod(col("event_id"), lit(250)),
          lit(1024) + pmod(col("event_id"), lit(5000))),
        format_string(" contact=u%d@mail.example.com relay=192.168.%d.%d",
          col("user_id"), pmod(col("event_id"), lit(200)), pmod(col("user_id"), lit(250))))
      // ONE alternation pass replaces the 3-pass regexp_replace chain and
      // the 3 literal-replace count scans (6 string passes → 1). Pattern
      // order email→IP→handle is the alternation priority, preserving the
      // sequential-chain semantics the oracle still spells out: the
      // replacement tokens cannot create or contain a pattern match, so
      // chain and single pass agree (asserted on fixtures + sf0.001 data
      // in TextFunctionsSpec, and by the unchanged oracle here).
      val red = NativeExpressions.regexpReplaceMany(col("line"),
        Seq(emailPat, ipPat, userPat), Seq("<EMAIL>", "<IP>", "<USER>"))
      // Same single-split serialization fix as p_parse_ssh_roundtrip: the
      // events file is one parquet split at small SF, so spread the narrow
      // id columns across the cluster BEFORE the regex-heavy synthesis +
      // redaction; explicit count so AQE can't coalesce the tiny shuffle.
      Tables.events(s, d).select("event_id", "user_id")
        .repartition(s.sparkContext.defaultParallelism, col("event_id"))
        .select(col("event_id"), line.as("line"))
        .select(col("event_id"), red.as("r"))
        .select(col("event_id"),
          col("r.counts")(0).as("n_emails"),
          col("r.counts")(1).as("n_ips"),
          col("r.counts")(2).as("n_users"),
          col("r.redacted").as("redacted"))
        .orderBy("event_id")
    })

  /** Fixed-window document chunking with overlap (size 32, stride 24) —
    * the sequence-preparation step before tokenized training: each doc
    * explodes into overlapping token windows. Map-side explode with
    * bounded fan-out (≤ ⌈len/stride⌉ chunks/doc); no shuffle beyond the
    * final presentation sort.
    */
  // Shared chunking definition (window ChunkLen tokens, stride
  // ChunkStride): tx_chunk and the composed pipe_training_batch both build
  // on these ONE Spark fragment + ONE SQL fragment, so the standalone
  // query and the pipeline stage cannot drift (same discipline as the
  // quality/lang/repetition gate fragments).
  private val ChunkStride = 24
  private val ChunkLen = 32
  /** Token budget per packed training bin — shared by tx_pack (doc-level)
    * and pipe_training_batch (chunk-level). */
  private val PackBudget = 256

  /** (doc_id, w, start, chunk_idx, chunk_tokens) — one row per chunk. */
  private def chunkCore(df: DataFrame): DataFrame =
    df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1L), size(col("w")).cast("long"),
          lit(ChunkStride.toLong))).as("start"))
      .withColumn("chunk_idx",
        (floor((col("start") - 1) / ChunkStride) + 1).cast("long"))
      .withColumn("chunk_tokens",
        least(lit(ChunkLen.toLong), size(col("w")) - col("start") + 1))

  /** The SQL twin: CTEs t/st/chunks over relation `rel`. */
  private def chunkCteSql(rel: String): String =
    s"""t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM $rel),
       |st AS (SELECT doc_id, w, unnest(range(1, len(w) + 1, $ChunkStride)) AS start FROM t),
       |chunks AS (
       |  SELECT doc_id, w, start,
       |    cast((start - 1) // $ChunkStride + 1 as bigint) AS chunk_idx,
       |    least($ChunkLen, len(w) - start + 1) AS chunk_tokens
       |  FROM st)""".stripMargin

  private val tx9 = QueryDef("tx_chunk",
    Some(s"""WITH ${chunkCteSql("documents")}
            |SELECT doc_id, chunk_idx, start,
            |  array_to_string(w[start:start+${ChunkLen - 1}], ' ') AS chunk,
            |  chunk_tokens
            |FROM chunks ORDER BY doc_id, start""".stripMargin),
    (s, d) => chunkCore(docs(s, d))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        array_join(slice(col("w"), col("start").cast("int"), lit(ChunkLen)), " ").as("chunk"),
        col("chunk_tokens"))
      .orderBy("doc_id", "start"))

  /** Sequence packing — assign docs to fixed token-budget bins (256
    * BPE-ish tokens) the way training pipelines pack variable-length
    * sequences into context windows: cumulative token count within a
    * (lang, shard) partition, bin = where the doc starts. Sharding by
    * `doc_id % 8` inside each language is the scale move: a per-lang-only
    * window would funnel a whole language through ONE task (lang is
    * low-cardinality ⇒ guaranteed skew at 100 TB); per-(lang, shard)
    * packing is embarrassingly parallel and loses nothing — packers only
    * need bins to be full, not globally ordered.
    */
  private val tx10 = QueryDef("tx_pack",
    Some(s"""SELECT doc_id, lang, doc_id % 8 AS shard,
            |  len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')) AS n_tok,
            |  cast(sum(len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')))
            |    OVER (PARTITION BY lang, doc_id % 8 ORDER BY doc_id
            |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_tok,
            |  cast((sum(len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')))
            |    OVER (PARTITION BY lang, doc_id % 8 ORDER BY doc_id
            |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            |   - len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]'))) // $PackBudget as bigint) AS bin_id
            |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, d).select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("cum_tok", sum("n_tok").over(w))
        .withColumn("bin_id", floor((col("cum_tok") - col("n_tok")) / PackBudget).cast("long"))
        .orderBy("doc_id")
    })

  /** Mixture sampling + split assignment + reproducible shuffle — the last
    * mile of corpus assembly, all via modular hashes so every run (and the
    * oracle) agrees without RNG state:
    *   - per-source mixture rates: keep doc when
    *     ((doc_id mod 2²⁰)·p₁ mod 1000) < rate(source) — even-numbered
    *     sources at 100%, odd at 40% (web-vs-curated mixture weighting);
    *     the mod-2²⁰ reduction before the prime multiply keeps the product
    *     overflow-free at every scale factor;
    *   - train/val/test 80/10/10 on an independent multiplier, so split
    *     membership is uncorrelated with sampling;
    *   - shuffle_pos: an odd-multiplier bijection mod 2²⁰ — a
    *     deterministic permutation, sorted by range partition. At corpus
    *     scale the ids would feed xxhash64 instead of small primes (the
    *     scheme is the same; small constants keep DuckDB overflow-free).
    * Map-only: sampling and splitting never shuffle; the only exchange is
    * the final reproducible-order sort.
    */
  private val tx11 = QueryDef("tx_sample_split",
    Some("""SELECT doc_id, source,
           |  CASE WHEN ((doc_id % 1048576) * 1099511627791) % 10 <= 7 THEN 'train'
           |       WHEN ((doc_id % 1048576) * 1099511627791) % 10 = 8 THEN 'val'
           |       ELSE 'test' END AS split,
           |  ((doc_id % 1048576) * 2654435761 + 12345) % 1048576 AS shuffle_pos
           |FROM documents
           |WHERE ((doc_id % 1048576) * 2654435761) % 1000 <
           |      CASE WHEN cast(substr(source, 4) as int) % 2 = 0 THEN 1000 ELSE 400 END
           |ORDER BY shuffle_pos, doc_id""".stripMargin),
    (s, d) => {
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val rate = when(pmod(srcNum, lit(2)) === 0, lit(1000L)).otherwise(lit(400L))
      // doc_id is reduced mod 2^20 BEFORE the prime multiply: 2^20 × prime
      // stays < 2^63 on every scale factor, so the expression can never
      // overflow — Spark would wrap silently while DuckDB throws, and the
      // two engines would diverge exactly when doc_id crosses ~8.4e6.
      val docIdRed = pmod(col("doc_id"), lit(1048576L))
      val splitHash = pmod(docIdRed * 1099511627791L, lit(10L))
      docs(s, d)
        .filter(pmod(docIdRed * 2654435761L, lit(1000L)) < rate)
        .withColumn("split",
          when(splitHash <= 7, "train").when(splitHash === 8, "val").otherwise("test"))
        .withColumn("shuffle_pos",
          pmod(pmod(col("doc_id"), lit(1048576L)) * 2654435761L + 12345L, lit(1048576L)))
        .select("doc_id", "source", "split", "shuffle_pos")
        .orderBy("shuffle_pos", "doc_id")
    })

  /** Gopher-style repetition quality filters (Rae et al. 2021, table A1):
    * duplicate-word fraction (1 − distinct/total tokens) and top-2-gram
    * fraction (tokens covered by the most frequent bigram). Computed by the
    * map-only [[graft.functions.NativeExpressions.RepetitionStats]] kernel —
    * one pass per document, NO shuffle (the explode-bigrams + groupBy
    * formulation the oracle uses would shuffle the corpus' entire token
    * stream at 100 TB to answer a per-document question). Fractions use
    * exact integer ratios divided once, so both engines agree bitwise; the
    * keep flag applies the thresholds to the rounded values.
    */
  private val tx12 = QueryDef("tx_repetition",
    Some(s"""WITH t AS (
            |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents),
            |f AS (
            |  SELECT doc_id, cast(len(w) AS int) AS n_tok,
            |    ${dupWordFracSql("w")} AS dup_word_frac,
            |    ${topBigramFracSql("w")} AS top_bigram_frac
            |  FROM t)
            |SELECT doc_id, n_tok, dup_word_frac, top_bigram_frac,
            |  (dup_word_frac <= $DupWordMax AND top_bigram_frac <= $TopBigramMax) AS keep
            |FROM f ORDER BY doc_id""".stripMargin),
    (s, d) => {
      docsSpread(s, d)
        .select(col("doc_id"),
          graft.functions.NativeExpressions.repetitionStats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_tok").as("n_tok"),
          dupWordFrac(col("st")).as("dup_word_frac"),
          topBigramFrac(col("st")).as("top_bigram_frac"))
        .withColumn("keep",
          col("dup_word_frac") <= DupWordMax && col("top_bigram_frac") <= TopBigramMax)
        .orderBy("doc_id")
    })

  /** Mixture planning — the "data mixing" step of assembling a pretraining
    * corpus: given target mixture weights over a stratum (language), find
    * the LARGEST total char budget B that the corpus can serve WITHOUT
    * upsampling any stratum (B = min_i chars_i / w_i — the binding stratum
    * samples at rate 1.0), then the per-stratum sampling rate
    * w_i·B / chars_i that realizes the target mixture within that budget.
    * Downstream, tx_sample_split's deterministic doc_id gate applies these
    * rates.
    *
    * Scale shape: one partial-aggregated shuffle to 5 stratum rows, the
    * budget bound as a broadcast 1-row cross join (never a driver
    * collect) — the whole plan is corpus-size-independent after the first
    * map-side combine.
    */
  private val tx13 = QueryDef("tx_mixture_plan",
    Some("""WITH bl AS (
           |  SELECT lang, count(*) AS n_docs, cast(sum(n_chars) as bigint) AS chars
           |  FROM documents GROUP BY lang),
           |w AS (SELECT lang, n_docs, chars,
           |        cast(CASE lang WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.2 WHEN 'de' THEN 0.2
           |                  WHEN 'zh' THEN 0.1 ELSE 0.1 END as double) AS weight
           |      FROM bl),
           |b AS (SELECT min(chars / weight) AS budget FROM w)
           |SELECT lang, n_docs, chars, weight,
           |  cast(floor(weight * budget) as bigint) AS planned_chars,
           |  CASE WHEN chars > 0
           |       THEN floor(weight * budget / chars * 10000 + 0.5) / 10000
           |  END AS rate
           |FROM w, b ORDER BY lang NULLS FIRST""".stripMargin),
    (s, d) => {
      val weight = when(col("lang") === "en", 0.4)
        .when(col("lang") === "es", 0.2).when(col("lang") === "de", 0.2)
        .when(col("lang") === "zh", 0.1).otherwise(0.1)
      val byLang = docs(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .withColumn("weight", weight)
      val bounds = byLang.agg(min(col("chars") / col("weight")).as("budget"))
      byLang.crossJoin(broadcast(bounds))
        .withColumn("planned_chars", floor(col("weight") * col("budget")).cast("bigint"))
        // chars > 0 guard: a stratum of all-empty docs makes the rate
        // 0.0/0 — ANSI DIVIDE_BY_ZERO — and forces budget to 0; NULL rate
        // on both engines instead (oracle CASE mirrors this)
        .withColumn("rate", when(col("chars") > 0, graft.functions.Rounding.round4(
          col("weight") * col("budget") / col("chars"))))
        .drop("budget")
        .orderBy("lang")
    })

  /** Per-source document cap — the "no single domain dominates the
    * corpus" gate every web-scale pipeline runs (cap each source at N
    * docs, chosen by a deterministic hash so the retained set is a
    * reproducible uniform sample of the source, not its head).
    *
    * Scale shape: this is per-group bottom-k by hash priority, computed by
    * the bounded-buffer [[graft.functions.BottomKPairs]] Aggregator — NOT
    * `row_number() OVER (PARTITION BY source ...)`, which would shuffle
    * and sort every row of every source (the whole corpus) to discard all
    * but k per group. The aggregator's map-side partial buffers carry ≤ k
    * (priority, doc_id) pairs per (partition, source), so the shuffle is
    * #sources × k × 16 bytes regardless of corpus size, and a hot source
    * with 10^9 docs cannot skew a sort. Text never moves — the query runs
    * on the narrow (source, doc_id) projection; callers re-join kept ids
    * to fetch payloads. Priority uses a third odd multiplier, independent
    * of tx_sample_split's sampling and split hashes, with the same
    * overflow-free mod-2^20 reduction.
    */
  private val tx15 = QueryDef("tx_source_cap",
    Some("""SELECT source, doc_id, pri AS priority, cast(rn as bigint) AS rnk FROM (
           |  SELECT source, doc_id, ((doc_id % 1048576) * 982451653) % 1048576 AS pri,
           |    row_number() OVER (PARTITION BY source
           |                       ORDER BY ((doc_id % 1048576) * 982451653) % 1048576, doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= 20 ORDER BY source NULLS FIRST, rnk""".stripMargin),
    (s, d) => {
      val pri = pmod(pmod(col("doc_id"), lit(1048576L)) * 982451653L, lit(1048576L))
      docsSpread(s, d)
        .select(col("source"), pri.as("pri"), col("doc_id"))
        .groupBy("source")
        .agg(graft.functions.TopKAgg.bottomKPairs(col("pri"), col("doc_id"), 20).as("kept"))
        .select(col("source"), posexplode(col("kept")).as(Seq("pos", "pair")))
        .select(col("source"), col("pair._2").as("doc_id"), col("pair._1").as("priority"),
          (col("pos") + 1).cast("long").as("rnk"))
        .orderBy("source", "rnk")
    })

  /** One BPE merge round, replayed in DuckDB SQL: pair counts from the
    * current token lists (p/m), then greedy-left merge application via
    * gaps-and-islands — consecutive marked positions form islands (only
    * possible for equal-symbol pairs like (a,a) in "aaa"), a merge STARTS
    * at odd in-island rank, and the position after a start is consumed.
    * Validated against a sequential reference implementation on
    * adversarial equal-symbol-run fixtures before adoption (and by
    * BpeSpec's Spark-vs-reference property test).
    */
  /** Merge-round count for the BPE carriers. 32 (r12, up from the
    * toy-scale 6): post-r12 training runs driver-side on the bounded
    * vocabulary artifact, so the round count costs O(vocab) string work
    * per round and ZERO Spark jobs — the loop is corpus-size-independent
    * and a production 10^4-10^5 merge vocabulary is the same shape. The
    * oracle replays all 32 rounds as loop-generated gaps-and-islands
    * CTEs.
    */
  private val BpeRounds = 32

  /** The t/m CTEs are referenced MORE THAN ONCE per round (t$$r feeds
    * both the pair counts and the position explode; m$$r feeds the merge
    * application and the final report). DuckDB inlines plain CTEs, so at
    * 32 rounds the un-annotated chain re-derives t$$r exponentially many
    * times (measured: fd exhaustion re-opening documents.parquet before
    * any result) — AS MATERIALIZED pins each round's state to one
    * evaluation, the semantics the Spark trainer has by construction.
    */
  private def bpeStageSql(r: Int): String =
    s"""p$r AS (
       |  SELECT u.a AS a, u.b AS b, sum(c) AS cnt FROM (
       |    SELECT c, unnest([{'a': toks[i], 'b': toks[i+1]} for i in range(1, len(toks))]) AS u
       |    FROM t$r WHERE len(toks) >= 2)
       |  GROUP BY u.a, u.b),
       |m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |pos$r AS (
       |  -- LEFT JOIN ON true, not CROSS JOIN: when no merge is learnable
       |  -- (m$r empty) every mark is NULL and t${r + 1} = t$r, matching the
       |  -- trainer's early stop — a cross join would wipe the vocabulary.
       |  SELECT word, c, u.i AS i, u.sym AS sym,
       |    (u.sym = m.a AND u.nxt = m.b) AS mark, m.a AS ma, m.b AS mb
       |  FROM (SELECT word, c,
       |          unnest([{'i': i, 'sym': toks[i], 'nxt': toks[i+1]}
       |                  for i in range(1, len(toks)+1)]) AS u
       |        FROM t$r) LEFT JOIN m$r m ON true),
       |w1_$r AS (
       |  SELECT *, CASE WHEN mark THEN i - row_number() OVER (PARTITION BY word, mark ORDER BY i) END AS isl
       |  FROM pos$r),
       |w2_$r AS (
       |  SELECT *, CASE WHEN mark THEN row_number() OVER (PARTITION BY word, isl ORDER BY i) % 2 = 1 ELSE false END AS strt
       |  FROM w1_$r),
       |w3_$r AS (
       |  SELECT word, c, i, sym, strt, ma, mb,
       |    coalesce(lag(strt) OVER (PARTITION BY word ORDER BY i), false) AS consumed
       |  FROM w2_$r),
       |t${r + 1} AS MATERIALIZED (
       |  SELECT word, c, list(CASE WHEN strt THEN ma || mb ELSE sym END ORDER BY i) AS toks
       |  FROM w3_$r WHERE NOT consumed GROUP BY word, c)""".stripMargin

  /** BPE merge training — the tokenizer-vocabulary step of the pipeline:
    * [[BpeRounds]] greedy merge rounds over the corpus' word-frequency
    * table (see [[graft.functions.Bpe]] for the scale design: one
    * corpus-sized aggregation, then a bounded vocabulary artifact whose
    * merge rounds run driver-side). The oracle replays the ENTIRE
    * training — the top-V vocabulary cap (`wfc`, a no-op until the
    * corpus' distinct words exceed 2^20), every round's pair statistics
    * and merge application — in windowed ANSI SQL and hash-compares the
    * learned merge list.
    */
  private val tx16 = QueryDef("tx_bpe_merges",
    Some(s"""WITH wf AS (
            |  SELECT word, count(*) AS c FROM (
            |    SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
            |  WHERE regexp_full_match(word, '[A-Za-z]+')
            |  GROUP BY word),
            |wfc AS (SELECT word, c FROM wf ORDER BY c DESC, word LIMIT 1048576),
            |t0 AS MATERIALIZED (SELECT word, c, [word[i] for i in range(1, len(word)+1)] AS toks FROM wfc),
            |${(0 until BpeRounds).map(bpeStageSql).mkString(",\n")}
            |SELECT * FROM (
            |${(0 until BpeRounds).map(r => s"SELECT cast(${r + 1} as bigint) AS merge_rank, a AS left_sym, b AS right_sym, cast(cnt as bigint) AS pair_count FROM m$r").mkString("\n UNION ALL ")}
            |) ORDER BY merge_rank""".stripMargin),
    (s, d) => {
      val merges = graft.functions.Bpe.trainMerges(
        graft.functions.Bpe.wordFrequencies(docs(s, d), "text"), BpeRounds)
      s.createDataFrame(merges).select(
          col("mergeRank").as("merge_rank"), col("leftSym").as("left_sym"),
          col("rightSym").as("right_sym"), col("pairCount").as("pair_count"))
        .orderBy("merge_rank")
    })

  /** BPE ENCODING — the inference side of tx_bpe_merges: apply the learned
    * merges to every document and report per-doc subword statistics (the
    * token-budget accounting a tokenized pipeline actually bills by).
    * Docs with no alphabetic words are absent on both engines (group-of-
    * nothing vs inner join). The encode pass is map-only — the 6 merges
    * ride as expression constants (see [[graft.functions.Bpe.encodeTokens]]
    * for the broadcast-dictionary shape a production-size vocab needs).
    * The oracle re-trains via the same replayed rounds, then encodes by
    * joining each document's words to the final tokenization state.
    *
    * The oracle's join-the-final-state encode only covers words the
    * TRAINER saw — matching the engine side, which (r12) encodes through
    * the same final state as a broadcast dictionary (hash lookup per
    * word beats a merges-deep kernel chain), with the chained-kernel
    * path kept for small merge lists and verified equal on
    * in-vocabulary words by BpeSpec.
    */
  private val tx17 = QueryDef("tx_bpe_encode",
    Some(s"""WITH wf AS (
            |  SELECT word, count(*) AS c FROM (
            |    SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
            |  WHERE regexp_full_match(word, '[A-Za-z]+')
            |  GROUP BY word),
            |wfc AS (SELECT word, c FROM wf ORDER BY c DESC, word LIMIT 1048576),
            |t0 AS MATERIALIZED (SELECT word, c, [word[i] for i in range(1, len(word)+1)] AS toks FROM wfc),
            |${(0 until BpeRounds).map(bpeStageSql).mkString(",\n")},
            |dw AS (
            |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word FROM documents),
            |enc AS (
            |  SELECT d.doc_id, count(*) AS n_alpha_words,
            |         cast(sum(len(t.toks)) as bigint) AS n_subwords
            |  FROM dw d JOIN t$BpeRounds t ON t.word = d.word
            |  GROUP BY d.doc_id)
            |SELECT doc_id, n_alpha_words, n_subwords,
            |  floor(n_subwords * 1.0 / n_alpha_words * 10000 + 0.5) / 10000 AS subwords_per_word
            |FROM enc ORDER BY doc_id""".stripMargin),
    (s, d) => {
      // Broadcast-dictionary encode (r12): the trainer's final
      // `word → tokens` state maps each word to its subword count by ONE
      // broadcast hash lookup — at 32 merges (let alone a production
      // 10^4) this beats re-deriving every word through a merges-deep
      // kernel chain. encodeTokens remains the bounded-merge-list path
      // (BpeSpec pins the two equal on in-vocabulary words). Inner join
      // ≡ the oracle's t32 join: non-alpha words are pre-filtered, and
      // under cap truncation both sides drop the same OOV tail.
      val (_, vocab) = graft.functions.Bpe.trainMergesWithVocab(
        graft.functions.Bpe.wordFrequencies(docs(s, d), "text"), BpeRounds)
      val dict = broadcast(
        s.createDataFrame(vocab.map { case (w, t) => (w, t.length.toLong) })
          .toDF("word", "ns"))
      docsSpread(s, d)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
        .filter(col("word").rlike("^[A-Za-z]+$"))
        .join(dict, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_alpha_words"), sum("ns").as("n_subwords"))
        .select(col("doc_id"), col("n_alpha_words"), col("n_subwords"),
          graft.functions.Rounding.round4(
            col("n_subwords") * 1.0 / col("n_alpha_words")).as("subwords_per_word"))
        .orderBy("doc_id")
    })

  /** Per-document mean unigram surprisal −(1/n)·Σ ln p(tᵢ) under the
    * corpus' own unigram model — the information-theoretic quality proxy
    * (production pipelines use LM perplexity; unigram surprisal is its
    * SQL-expressible analog: low = boilerplate/repetitive, high =
    * rare-token-heavy/noisy).
    *
    * Scale shape: the unigram table is VOCABULARY-sized (Zipf) and
    * broadcast, so attaching per-token counts is map-side; the corpus
    * total is a broadcast 1-row bound (tx_mixture_plan pattern); the only
    * corpus shuffle is the per-doc regroup of narrow (pos, surprisal)
    * pairs, and the per-doc fold is bounded by document length. The fold
    * runs in token order on both engines (ln is not IEEE
    * correctly-rounded, so summation order must match for the rounded
    * hash compare — same discipline as the tf-idf and k-means folds).
    *
    * The corpus IS tokenized twice (once under the vocab aggregate, once
    * on the probe side) — deliberate: both passes are map-only over the
    * columnar scan, and the alternatives cost more at scale. Caching or
    * pre-shuffling the exploded (doc, pos, token) table to share it
    * materializes MORE than the source corpus to save one cheap scan
    * (contrast tx_decontaminate, whose probe JOIN is shingle-keyed and
    * data-sized on both sides — there the shared repartition is the
    * join's own exchange, so reuse is free; here the probe join is a
    * broadcast map-side probe with no exchange to share).
    */
  private val tx18 = QueryDef("tx_surprisal",
    Some(s"""WITH tok AS (
            |  SELECT doc_id, u.pos AS pos, u.t AS t FROM (
            |    SELECT doc_id, unnest([{'pos': i, 't': w[i]} for i in range(1, len(w)+1)]) AS u
            |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents))),
            |ug AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
            |tot AS (SELECT cast(sum(cnt) as double) AS total FROM ug),
            |j AS (SELECT tok.doc_id, tok.pos, ug.cnt FROM tok JOIN ug ON ug.t = tok.t),
            |d AS (SELECT doc_id, count(*) AS n_tok,
            |  list_reduce(list_prepend(cast(0.0 as double), list(ln(total / cnt) ORDER BY pos)), (p, q) -> p + q) AS s
            |  FROM j, tot GROUP BY doc_id)
            |SELECT doc_id, cast(n_tok as bigint) AS n_tok,
            |  floor(s / n_tok * 10000 + 0.5) / 10000 AS mean_surprisal
            |FROM d ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val t = graft.operators.Guards.spread(docs(s, d).select("doc_id", "text"))
        .select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "t")))
      val ug = t.groupBy("t").agg(count(lit(1)).as("cnt"))
      val tot = ug.agg(sum("cnt").cast("double").as("total"))
      t.join(broadcast(ug), "t")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("pos"), log(col("total") / col("cnt")).as("surp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sort_array(collect_list(struct(col("pos"), col("surp")))).as("xs"))
        .select(col("doc_id"), col("n_tok"),
          graft.functions.Rounding.round4(
            aggregate(col("xs"), lit(0.0),
              (acc, x) => acc + x.getField("surp")) / col("n_tok")).as("mean_surprisal"))
        .orderBy("doc_id")
    })

  /** Length-bucket boundaries (token counts) for padded-batch assembly —
    * ONE shared list generates both engines' CASE chains, so the
    * bucketing cannot drift between them. Powers of two from 16 up, the
    * conventional padded-batch sizing. */
  private val LengthBuckets = Seq(16, 32, 64, 128, 256, 512, 1024)

  /** Padding-waste accounting for length-bucketed batching — the batch-
    * assembly analytic a serving/training stack runs before fixing bucket
    * boundaries: docs grouped into the smallest power-of-two token bound
    * that fits them; per bucket, the doc count, real token total, and the
    * tokens a pad-to-bound batcher would waste (n_docs·bound − sum_tok).
    * All integers (partitioning-proof hash); the bucket assignment is a
    * generated CASE chain over the shared [[LengthBuckets]] list on BOTH
    * engines. One map-only classify + one partial-agg shuffle to
    * #buckets rows — the same shape at any corpus size.
    */
  // ---- distributed supervised training (logistic regression) ------------

  // LR feature fragments lrF1Sql/lrF2Sql/lrF3Sql are declared next to
  // qualitySql (file top), which composes the identical sub-expressions —
  // single-sourced so the trainer's features and the quality gate can
  // never drift apart.

  /** The oracle replays every gradient-descent iteration as unrolled CTEs
    * (the lloydCteSql pattern): iteration t computes per-row sigmoid
    * probabilities against w_{t-1}, floors each row's gradient
    * contribution to an integer (×2^20), integer-sums them (order-free —
    * THE device that makes a distributed float reduction replayable), and
    * derives w_t with the same scalar IEEE expression the Spark driver
    * uses. Output: the full (weights, integer gradients) trajectory.
    */
  private def trainLrOracleSql(iters: Int, lr: Double): String = {
    val stages = (1 to iters).map { t =>
      s"""p$t AS (
         |  SELECT cast(1.0 as double) / (cast(1.0 as double) + exp(-(w0 * 1.0 + w1 * f1 + w2 * f2 + w3 * f3))) AS p,
         |         y, f1, f2, f3 FROM feat, w${t - 1}),
         |g$t AS (
         |  SELECT cast(sum(cast(floor((p - y) * 1048576.0) as bigint)) as bigint) AS g0,
         |         cast(sum(cast(floor(((p - y) * f1) * 1048576.0) as bigint)) as bigint) AS g1,
         |         cast(sum(cast(floor(((p - y) * f2) * 1048576.0) as bigint)) as bigint) AS g2,
         |         cast(sum(cast(floor(((p - y) * f3) * 1048576.0) as bigint)) as bigint) AS g3,
         |         count(*) AS n FROM p$t),
         |w$t AS (
         |  SELECT w0 - $lr * ((g0 / 1048576.0) / n) AS w0, w1 - $lr * ((g1 / 1048576.0) / n) AS w1,
         |         w2 - $lr * ((g2 / 1048576.0) / n) AS w2, w3 - $lr * ((g3 / 1048576.0) / n) AS w3
         |  FROM w${t - 1}, g$t)""".stripMargin
    }.mkString(",\n")
    val out = (1 to iters).map(t =>
      s"SELECT cast($t as bigint) AS iter, w$t.w0, w$t.w1, w$t.w2, w$t.w3, " +
        s"g$t.g0, g$t.g1, g$t.g2, g$t.g3 FROM w$t, g$t").mkString(" UNION ALL ")
    s"""WITH feat AS (
       |  SELECT $lrF1Sql AS f1, $lrF2Sql AS f2, $lrF3Sql AS f3,
       |    (CASE WHEN lang = 'en' THEN cast(1.0 as double) ELSE cast(0.0 as double) END) AS y
       |  FROM documents),
       |w0 AS (SELECT cast(0.0 as double) AS w0, cast(0.0 as double) AS w1,
       |              cast(0.0 as double) AS w2, cast(0.0 as double) AS w3),
       |$stages
       |SELECT * FROM ($out) ORDER BY iter""".stripMargin
  }

  /** Distributed supervised training — batch-gradient-descent logistic
    * regression ("is this document English?" from the three quality
    * features), the gradient-based trainer that completes the repo's
    * model-training family (BPE merges, k-means/PQ codebooks are
    * count/mean-based). Each iteration is ONE partial-aggregated scan
    * reducing to 4 longs + a count on the driver (batch GD's inherent
    * driver coordination — the MLlib shape); per-row gradient
    * contributions are floored to integers (×2^20) BEFORE the sum, so the
    * distributed reduction is order-free and partitioning-proof — the
    * standard float-nondeterminism pitfall of distributed training,
    * engineered away, which is what lets DuckDB replay every iteration
    * and hash-match the whole trajectory. At 100 TB each iteration is a
    * map-side-combined scan; nothing but 5 numbers ever reaches the
    * driver per pass.
    */
  private val tx21 = QueryDef("tx_train_lr",
    Some(trainLrOracleSql(iters = 5, lr = 0.5)),
    (s, d) => {
      import s.implicits._
      val iters = 5
      val lr = 0.5
      val nTok = TextFunctions.tokenCount(col("text")).cast("double")
      // cached (r17): every gradient iteration re-executed this projection,
      // i.e. 5 full corpus scans through THREE text kernels (tokenCount,
      // stopwordCount, alphaRatio). The feature frame is 4 doubles per doc;
      // materializing it once makes each iteration a cheap aggregate over
      // cached rows. Intra-query only — computed from the inputs on every
      // invocation; the floats (and so the trajectory) are unchanged.
      val feat = docsSpread(s, d).select(
        least(nTok / lit(100.0), lit(1.0)).as("f1"),
        when(nTok > 0, TextFunctions.stopwordCount(col("text")) / nTok)
          .otherwise(lit(0.0)).as("f2"),
        TextFunctions.alphaRatio(col("text")).as("f3"),
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"))
        .cache()
      var w = Array(0.0, 0.0, 0.0, 0.0)
      val traj = Seq.newBuilder[(Long, Double, Double, Double, Double, Long, Long, Long, Long)]
      // try/finally unpersist (r17 advisory): every gradient sum below is
      // an EAGER .head() — after the loop the cached plan would otherwise
      // stay pinned in the session forever (the returned trajectory is a
      // driver-local table that never reads feat again). Matches the
      // ShingleIndex.writeSegmentData discipline.
      try for (t <- 1 to iters) {
        val z = ((lit(w(0)) * lit(1.0) + lit(w(1)) * col("f1"))
          + lit(w(2)) * col("f2")) + lit(w(3)) * col("f3")
        val p = (lit(1.0) / (lit(1.0) + exp(-z))).as("p")
        val r = feat.select(p, col("y"), col("f1"), col("f2"), col("f3"))
          .agg(
            sum(floor((col("p") - col("y")) * lit(1048576.0))).as("g0"),
            sum(floor(((col("p") - col("y")) * col("f1")) * lit(1048576.0))).as("g1"),
            sum(floor(((col("p") - col("y")) * col("f2")) * lit(1048576.0))).as("g2"),
            sum(floor(((col("p") - col("y")) * col("f3")) * lit(1048576.0))).as("g3"),
            count(lit(1)).as("n"))
          .head()
        val g = Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val n = r.getLong(4)
        w = Array.tabulate(4)(dd => w(dd) - lr * ((g(dd) / 1048576.0) / n))
        traj += ((t.toLong, w(0), w(1), w(2), w(3), g(0), g(1), g(2), g(3)))
      } finally feat.unpersist(false)
      traj.result().toDF("iter", "w0", "w1", "w2", "w3", "g0", "g1", "g2", "g3")
        .orderBy("iter")
    })

  /** Model-based quality filtering — the "fastText classifier" stage of a
    * web-scale pipeline (CCNet / LLaMA-style): a FROZEN linear model over
    * hashed word unigrams + bigrams scores every document, and the gate
    * keeps docs with non-negative raw score. The model here is synthetic
    * (bucket weights are a fixed hash of the bucket id) but the plumbing is
    * the real thing: feature hashing into 2^20 buckets, integer weight
    * sum, score = sum / (n_feat · 2^20) squashed later as needed.
    *
    * Scale shape: ONE map-only pass ([[NativeExpressions.HashedNgramScore]]
    * — no token array, no explode, no shuffle); integer feature sums make
    * the DuckDB oracle exact (no float-accumulation drift at any corpus
    * size). At 100 TB this is embarrassingly parallel scan work.
    */
  /** The frozen hashed-ngram classifier score as ONE shared oracle
    * fragment (CTEs t/f/h: RE2-tokenize, unigram+bigram features, rolling-
    * hash bucket weights summed per doc) — tx_classify, tx_eval_auc, and
    * tx_calibration all interpolate it, so a change to the hash chain or
    * the weight centering can never drift one oracle out of sync with the
    * [[graft.functions.NativeExpressions.HashedNgramScore]] kernel.
    * `carry` threads extra grouping columns (", lang") through the CTEs.
    */
  private def classifierCtes(carry: String): String =
    s"""t AS (
       |  SELECT doc_id$carry,
       |         list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS w
       |  FROM documents),
       |f AS (
       |  SELECT doc_id$carry,
       |    list_concat(w, [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS feats
       |  FROM t),
       |h AS (
       |  SELECT doc_id$carry, cast(coalesce(len(feats), 0) AS bigint) AS n_feat,
       |    cast(coalesce(list_sum(list_transform(feats, g ->
       |      ((list_reduce(list_prepend(cast(7 as bigint),
       |           list_transform(string_split(g, ''), c -> cast(ascii(c) as bigint))),
       |         (a, b) -> (a * 31 + b) % 1000000007) % 1048576) * 2654435761) % 1048576
       |        - 524288)), 0) AS bigint) AS sum_w
       |  FROM f)""".stripMargin

  private val tx20 = QueryDef("tx_classify",
    Some(s"""WITH ${classifierCtes("")}
           |SELECT doc_id, n_feat, sum_w,
           |  CASE WHEN n_feat = 0 THEN cast(0.0 as double)
           |       ELSE floor(sum_w / (n_feat * 1048576.0) * 10000 + 0.5) / 10000 END AS score,
           |  sum_w >= 0 AS keep
           |FROM h ORDER BY doc_id""".stripMargin),
    (s, d) => {
      docsSpread(s, d)
        .select(col("doc_id"), TextFunctions.classifierFeatures(col("text")).as("st"))
        // NULL text ⇒ zero features on BOTH sides: the kernel null-
        // propagates its struct, while the oracle's coalesce(list_sum, 0)
        // yields sum_w=0 — without this coalesce a null-text doc diverges
        // sum_w (NULL vs 0) and keep (NULL vs TRUE). The oracle's h CTE
        // coalesces n_feat to 0 to match (latent until the driver ships a
        // null-text doc; same convention as tx_entropy's n_chars).
        .select(col("doc_id"), coalesce(col("st.n_feat"), lit(0L)).as("n_feat"),
          coalesce(col("st.sum_w"), lit(0L)).as("sum_w"))
        .withColumn("score",
          when(col("n_feat") === 0, lit(0.0))
            .otherwise(graft.functions.Rounding.round4(
              col("sum_w") / (col("n_feat") * lit(1048576.0)))))
        .withColumn("keep", col("sum_w") >= 0)
        .orderBy("doc_id")
    })

  /** Model evaluation at corpus scale: exact ROC-AUC of the frozen
    * hashed-n-gram quality classifier (tx_classify's integer `sum_w`
    * score) against the lang='en' label, via [[graft.functions.Eval
    * .aucExact]] — rank-sum with average-rank ties, computed from the
    * per-SCORE histogram so the global ranking never sorts the corpus:
    * one partial-agg shuffle to #distinct-scores rows, then a cumulative
    * window over that histogram. Integer arithmetic end-to-end (one final
    * long/long division, IEEE-exact in both engines) makes the DuckDB
    * oracle hash-exact: the oracle replays the same hash chain, histogram,
    * and rank-sum in SQL.
    */
  private val tx23 = QueryDef("tx_eval_auc",
    Some(s"""WITH ${classifierCtes(", lang")},
           |sc AS (SELECT sum_w AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM h),
           |b AS (SELECT s, cast(sum(pos) as bigint) AS np, count(*) AS ns FROM sc GROUP BY s),
           |c AS (SELECT s, np, ns,
           |        coalesce(sum(ns) OVER (ORDER BY s
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           |      FROM b),
           |a AS (SELECT sum(np * (2*cb + ns + 1)) AS r2, sum(np) AS p, sum(ns) AS n_tot FROM c)
           |SELECT cast(p as bigint) AS p, cast(n_tot - p as bigint) AS neg,
           |       cast(r2 - p*(p+1) as bigint) AS u2,
           |       cast(2*p*(n_tot - p) as bigint) AS denom,
           |       CASE WHEN 2*p*(n_tot - p) > 0
           |            THEN cast(r2 - p*(p+1) as double) / (2*p*(n_tot - p))
           |       END AS auc
           |FROM a""".stripMargin),
    (s, d) => {
      // coalesce mirrors the oracle's coalesce(list_sum, 0): a null-text
      // doc scores s=0 on both engines instead of landing in a NULL score
      // group only on the Spark side (which would shift every cumulative
      // rank in the AUC histogram).
      val scored = docsSpread(s, d).select(
        coalesce(TextFunctions.classifierFeatures(col("text")).getField("sum_w"),
          lit(0L)).as("s"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("pos"))
      graft.functions.Eval.aucExact(scored, col("s"), col("pos"))
    })

  /** Classifier calibration — the reliability diagram that completes the
    * train (tx_train_lr) / filter (tx_classify) / evaluate (tx_eval_auc)
    * loop: the frozen classifier's integer score range is split into 10
    * equal-width bins (bounds from a broadcast 1-row min/max — NOT a
    * global ntile sort), and each bin reports its document count, positive
    * count, and empirical positive rate. A well-calibrated score has
    * monotone rates; the gap per bin is the calibration error an alerting
    * threshold would inherit.
    *
    * Scale shape: score = the map-only HashedNgramScore kernel, binning is
    * a map-side integral expression against broadcast bounds, and the
    * aggregate reduces to ≤10 rows with map-side partials. Integer
    * arithmetic end-to-end (bin = (s−mn)·10 div (mx−mn+1) on longs),
    * so the oracle replays the hash chain + binning exactly.
    */
  private val tx24 = QueryDef("tx_calibration",
    Some(s"""WITH ${classifierCtes(", lang")},
           |sc AS (SELECT sum_w AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM h),
           |bd AS (SELECT min(s) AS mn, max(s) AS mx FROM sc),
           |b AS (SELECT least(9, (s - mn) * 10 // (mx - mn + 1)) AS bin, s, pos
           |      FROM sc CROSS JOIN bd)
           |SELECT cast(bin as bigint) AS bin, count(*) AS n_docs,
           |  cast(sum(pos) as bigint) AS n_pos,
           |  floor(cast(sum(pos) as double) / count(*) * 10000 + 0.5) / 10000 AS pos_rate,
           |  floor(cast(sum(s) as double) / count(*) * 10000 + 0.5) / 10000 AS mean_sum_w
           |FROM b GROUP BY 1 ORDER BY bin""".stripMargin),
    (s, d) => {
      // same null-text ⇒ s=0 alignment as tx_classify/tx_eval_auc (the
      // oracle's coalesce(list_sum, 0) puts the doc in a real bin).
      val scored = docsSpread(s, d).select(
        coalesce(TextFunctions.classifierFeatures(col("text")).getField("sum_w"),
          lit(0L)).as("s"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("pos"))
      val bounds = scored.agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
      scored.crossJoin(broadcast(bounds))
        .select(least(lit(9L), expr("((s - mn) * 10) div (mx - mn + 1)")).as("bin"),
          col("s"), col("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"),
          graft.functions.Rounding.round4(
            sum(col("pos")).cast("double") / count(lit(1))).as("pos_rate"),
          graft.functions.Rounding.round4(
            sum(col("s")).cast("double") / count(lit(1))).as("mean_sum_w"))
        .orderBy("bin")
    })

  private val tx19 = QueryDef("tx_length_buckets", {
    val caseSql = LengthBuckets.map(b => s"WHEN n_tok <= $b THEN $b")
      .mkString("CASE ", " ", s" ELSE ${LengthBuckets.last * 2} END")
    Some(s"""WITH t AS (
            |  SELECT len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')) AS n_tok
            |  FROM documents),
            |b AS (SELECT n_tok, $caseSql AS bucket FROM t)
            |SELECT cast(bucket as bigint) AS bucket,
            |  count(*) AS n_docs,
            |  cast(sum(n_tok) as bigint) AS sum_tok,
            |  cast(count(*) * bucket - sum(n_tok) as bigint) AS pad_waste
            |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)
  },
    (s, d) => {
      val bucket = LengthBuckets.foldRight(
        lit(LengthBuckets.last * 2): Column)((b, acc) =>
        when(col("n_tok") <= b, b).otherwise(acc))
      docsSpread(s, d)
        .select(TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("sum_tok"),
          (count(lit(1)) * col("bucket") - sum("n_tok")).as("pad_waste"))
        .orderBy("bucket")
    })

  // ---- deduplication -----------------------------------------------------

  private val dd1 = QueryDef("dd_exact",
    Some("""SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id,
           |       count(*) OVER (PARTITION BY text) AS group_size
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => Dedup.exact(docs(s, d), "doc_id", "text")
      .select("doc_id", "canonical_id", "group_size")
      .orderBy("doc_id"))

  /** Word 5-gram Jaccard near-dup pairs (threshold 0.5; ABSOLUTE df-cap
    * 100 on the inverted index). The data has a clean gap: injected
    * near-dups sit at jaccard ≥ 0.8, random pairs near 0.
    *
    * 5-gram + absolute cap is the scale-correct pairing, chosen against a
    * measured alternative: this corpus's ~30-word vocabulary makes
    * bigrams ubiquitous (df ≈ 0.17·N), so bigrams only work with a cap
    * that grows with the corpus (0.2·N) — and a fractional cap's bucket
    * self-join costs (0.2·N)² pairs, quadratic at scale (measured at
    * sf0.1: 10.3M candidate pairs, 15.7 s). 5-gram diversity grows
    * exponentially, so df collapses and cap 100 holds at every SF —
    * 1 460 candidate pairs at sf0.1 for the IDENTICAL 256-pair (25 at
    * sf0.01) jaccard≥0.5 truth set, verified pairwise in DuckDB against
    * the bigram/relative-cap config before switching.
    */
  /** The 5-gram shingle → absolute-df-cap → common-count pipeline shared
    * by the dd_* oracles (dd_ngram_jaccard and dd_cluster_canonical both
    * interpolate it; dd_incremental mirrors the same constants on its
    * split base/delta shape). One definition, so re-tuning the shingle
    * width / df cap / threshold — already done once, bigram→5-gram —
    * cannot leave one oracle clustering different pairs than another.
    */
  private val ShingleDfCap = 100
  private val ngramPairCtes: String =
    s"""sh AS (
       |  SELECT doc_id AS doc, unnest(list_distinct(
       |    [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents)),
       |capped AS (
       |  SELECT doc, shingle FROM
       |    (SELECT doc, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $ShingleDfCap),
       |sizes AS (SELECT doc, count(*) AS n_shingles FROM capped GROUP BY doc),
       |common AS (
       |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
       |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc < b.doc
       |  GROUP BY 1, 2)""".stripMargin

  private val ngramPairSql: String =
    s"""WITH $ngramPairCtes
       |SELECT doc_a, doc_b,
       |  floor(c * cast(1.0 as double) / (sa.n_shingles + sb.n_shingles - c) * 10000 + 0.5) / 10000 AS jaccard
       |FROM common
       |JOIN sizes sa ON sa.doc = doc_a
       |JOIN sizes sb ON sb.doc = doc_b
       |WHERE c * cast(1.0 as double) / (sa.n_shingles + sb.n_shingles - c) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  private val dd2 = QueryDef("dd_ngram_jaccard",
    Some(ngramPairSql),
    (s, d) => Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", n = 5,
      threshold = 0.5, maxDf = 100)
      .orderBy("doc_a", "doc_b"))

  /** Cross-document exact-substring duplication signal (the dedup shape of
    * suffix-array substring dedup, re-expressed relationally): for each
    * document, the fraction of its distinct word 5-grams that also occur
    * in at least one OTHER document. High dup_frac marks boilerplate /
    * templated / copied passages that exact and near-dup document matching
    * both miss (the doc as a whole is unique, its passages are not).
    *
    * Scale shape: one shuffle, keyed by shingle, of (shingle, doc) pairs —
    * same inverted-index discipline as dd_ngram_jaccard, and NO pair join
    * at all (the per-shingle window computes document frequency in place).
    * At 100 TB the shuffle key would be xxhash64(shingle) so only 8-byte
    * keys move (the collision-tolerant choice Dedup.exact makes); here the
    * raw shingle ships so the DuckDB oracle can replicate the grouping
    * exactly. cross-doc df means distinct docs, so each doc contributes a
    * shingle once (array_distinct before explode).
    */
  private val dd6 = QueryDef("dd_substring_dup",
    Some("""WITH sh AS (
           |  SELECT doc_id AS doc, unnest(list_distinct(
           |    [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents)),
           |df AS (SELECT doc, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
           |SELECT doc AS doc_id, count(*) AS n_shingles,
           |  cast(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) as bigint) AS dup_shingles,
           |  floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * cast(1.0 as double)
           |        / count(*) * 10000 + 0.5) / 10000 AS dup_frac
           |FROM df GROUP BY doc ORDER BY doc_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // spread before the tokenize kernel (Guards.spread): one-split scan
      val sh = graft.operators.Guards.spread(docs(s, d).select("doc_id", "text"))
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.wordShingles(col("text"), 5))).as("shingle"))
      val withDf = sh.withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      withDf.groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_shingles"))
        .withColumn("dup_frac", graft.functions.Rounding.round4(
          col("dup_shingles").cast("double") / col("n_shingles")))
        .orderBy("doc_id")
    })

  /** Span-level exact-substring dedup ([[Dedup.substringSpans]]; Lee et
    * al. 2022 ExactSubstr): maximal runs of cross-document-duplicated
    * word-5-grams, reported per document as 0-based (span_start,
    * span_tokens) for spans ≥ 15 tokens — the "cut the copied passage"
    * primitive, where dd_substring_dup only scores the fraction. At
    * sf0.01: 45 spans across the corpus, lengths 15-93 tokens.
    */
  private val dd8 = QueryDef("dd_substring_spans",
    Some("""WITH sh AS (
           |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
           |       LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i)
           |), df AS (SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY shingle),
           |dup AS (SELECT s.doc_id, s.pos FROM sh s JOIN df USING (shingle) WHERE df.df >= 2),
           |isl AS (
           |  SELECT doc_id, pos,
           |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |  FROM dup),
           |spans AS (
           |  SELECT doc_id, min(pos) AS span_start, max(pos) - min(pos) + 5 AS span_tokens
           |  FROM isl GROUP BY doc_id, grp)
           |SELECT doc_id, span_start, span_tokens FROM spans
           |WHERE span_tokens >= 15 ORDER BY doc_id, span_start""".stripMargin),
    (s, d) => Dedup.substringSpans(docs(s, d), "doc_id", "text", n = 5, minTokens = 15)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id", "span_start"))

  /** Near-dup clustering: connected components over the (hash-verified)
    * Jaccard pair graph, canonical = min doc id per component, plus
    * cluster size — the "keep one per near-dup cluster" dedup primitive.
    * Oracle: recursive-CTE reachability over the same pairs.
    */
  private val dd5 = QueryDef("dd_cluster_canonical",
    Some(s"""WITH RECURSIVE $ngramPairCtes,
           |pairs AS (
           |  SELECT doc_a, doc_b FROM common
           |  JOIN sizes sa ON sa.doc = doc_a
           |  JOIN sizes sb ON sb.doc = doc_b
           |  WHERE c * cast(1.0 as double) / (sa.n_shingles + sb.n_shingles - c) >= 0.5),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |walk(node, reach) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
           |cc AS (SELECT node, min(reach) AS canonical FROM walk GROUP BY node),
           |lab AS (
           |  SELECT d.doc_id, coalesce(cc.canonical, d.doc_id) AS canonical_id
           |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id)
           |SELECT doc_id, canonical_id,
           |       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
           |FROM lab ORDER BY doc_id""".stripMargin),
    (s, d) => graft.operators.Graphs.canonicalClusters(
      docs(s, d), "doc_id",
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", n = 5,
        threshold = 0.5, maxDf = 100),
      "doc_a", "doc_b")
      .orderBy("doc_id"))

  /** MinHash+LSH candidates + EXACT verification pass
    * ([[Dedup.minhashLshVerifiedPairs]]): output is the true jaccard≥0.5
    * pair set, so the oracle is dd_ngram_jaccard's pair SQL verbatim. The
    * hash match certifies end-to-end banding recall = 1.0 on this corpus
    * (a recall drop now breaks the oracle loudly, a stronger tripwire
    * than RecallGateSpec's ≥0.9 floor, which stays as the candidate-stage
    * gate). Graduated from no-oracle in round 9.
    *
    * This oracle is PROBABILISTIC over corpus content (unlike
    * sim_ann_lsh's algorithm-replay oracle — minhash permutation hashes
    * are not reproducible in ANSI SQL): a true pair at exactly j=0.5 can
    * evade every band by luck. k=64/bands=32 (rows stays 2) makes that
    * luck negligible — miss probability (1-0.25)^32 ≈ 1e-4 per borderline
    * pair vs ~1% at the former 16 bands, so a driver testdata
    * regeneration is ~100× less likely to fail the gate with no code
    * regression. TRIAGE if this oracle ever mismatches alone: re-run
    * RecallGateSpec first — candidate-stage recall < 1.0 with all
    * banding/verify specs green means banding luck (regenerated corpus
    * landed a j≈0.5 pair in the 1e-4 tail), not a code bug; any other
    * signature means a real regression.
    */
  private val dd3 = QueryDef("dd_minhash_lsh",
    Some(ngramPairSql),
    (s, d) => Dedup.minhashLshVerifiedPairs(docs(s, d), "doc_id", "text",
      shingleN = 5, k = 64, bands = 32, threshold = 0.5, maxDf = 100)
      .orderBy("doc_a", "doc_b"))

  /** SimHash Hamming-distance near-dups over the MD5-based signature
    * ([[Dedup.simhashMd5]]) — cross-engine deterministic, so the oracle
    * recomputes every signature from `md5(token)` hex nibbles and
    * brute-force-joins all pairs at Hamming ≤ 6. The hash match therefore
    * also PROVES the block-pair pigeonhole claim (all C(8,2)=28 block-pair
    * keys ⟹ every Hamming≤6 pair lands in some shared bucket) on real
    * data, not just in the scaladoc. The oracle's all-pairs join is
    * check-only (bounded SF); the Spark side keeps the blocked shape.
    * Graduated from no-oracle in round 9.
    */
  private val dd4 = QueryDef("dd_simhash",
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS t
           |  FROM documents),
           |tb AS (SELECT doc_id, md5(t) AS h FROM tok),
           |votes AS (
           |  SELECT doc_id, i.range AS i,
           |    sum(CASE WHEN ((strpos('0123456789abcdef',
           |          substr(h, cast(16 - i.range // 4 as int), 1)) - 1)
           |          >> cast(i.range % 4 as int)) & 1 = 1
           |        THEN 1 ELSE -1 END) AS v
           |  FROM tb, range(0, 64) i GROUP BY 1, 2),
           |sig AS (
           |  SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END,
           |                            '' ORDER BY i) AS s
           |  FROM votes GROUP BY doc_id)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |       cast(hamming(a.s, b.s) as int) AS hamming
           |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |WHERE hamming(a.s, b.s) <= 6
           |ORDER BY doc_a, doc_b""".stripMargin),
    (s, d) => Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxDist = 6,
      md5Sig = true)
      .withColumn("hamming", col("hamming").cast("int"))
      .orderBy("doc_a", "doc_b"))

  /** Incremental dedup — classify a NEW batch (doc_id % 10 = 7 simulates
    * the incoming crawl snapshot) against the existing corpus without
    * re-clustering it: exact_dup by content hash, near_dup by word-5-gram
    * jaccard ≥ 0.5 over the base-df-capped shingle universe, else new.
    * The exact arm matches by 64-bit hash in Spark and full text in the
    * oracle (dd_exact's collision convention); at sf0.01 the corpus has no
    * cross-batch exact dups (DedupSpec covers that arm on a fixture,
    * sf0.1 has real ones), 5 near-dups, 45 new.
    */
  private val dd7 = QueryDef("dd_incremental",
    Some("""WITH delta AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
           |base AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
           |ex AS (
           |  SELECT d.doc_id, min(b.doc_id) AS exact_match
           |  FROM delta d JOIN base b ON b.text = d.text GROUP BY d.doc_id),
           |bsh AS (
           |  SELECT doc_id AS base_id, unnest(list_distinct(
           |    [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM base)),
           |dftab AS (SELECT shingle, count(*) AS df FROM bsh GROUP BY shingle),
           |bidx AS (SELECT b.* FROM bsh b JOIN dftab f USING (shingle) WHERE f.df <= 100),
           |dsh AS (
           |  SELECT doc_id, unnest(list_distinct(
           |    [array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM delta)),
           |dshu AS (SELECT d.* FROM dsh d LEFT JOIN dftab f USING (shingle)
           |         WHERE coalesce(f.df, 0) <= 100),
           |bsizes AS (SELECT base_id, count(*) AS size_b FROM bidx GROUP BY base_id),
           |dsizes AS (SELECT doc_id, count(*) AS size_d FROM dshu GROUP BY doc_id),
           |com AS (
           |  SELECT d.doc_id, b.base_id, count(*) AS c
           |  FROM dshu d JOIN bidx b USING (shingle) GROUP BY 1, 2),
           |near AS (
           |  SELECT doc_id, base_id AS near_match,
           |    floor(c * cast(1.0 as double) / (size_d + size_b - c) * 10000 + 0.5) / 10000 AS near_jaccard,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY c * cast(1.0 as double) / (size_d + size_b - c) DESC, base_id) AS rn
           |  FROM com JOIN dsizes USING (doc_id) JOIN bsizes USING (base_id)
           |  WHERE c * cast(1.0 as double) / (size_d + size_b - c) >= 0.5),
           |best AS (SELECT doc_id, near_match, near_jaccard FROM near WHERE rn = 1)
           |SELECT d.doc_id,
           |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
           |       WHEN b.near_match IS NOT NULL THEN 'near_dup'
           |       ELSE 'new' END AS status,
           |  coalesce(e.exact_match, b.near_match) AS match_id,
           |  CASE WHEN e.exact_match IS NULL THEN b.near_jaccard END AS jaccard
           |FROM delta d
           |LEFT JOIN ex e ON e.doc_id = d.doc_id
           |LEFT JOIN best b ON b.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin),
    (s, d) => {
      val all = docs(s, d)
      Dedup.incrementalStatus(
        graft.functions.ShingleIndex.derive(
          all.filter(pmod(col("doc_id"), lit(10)) =!= 7), "doc_id", "text", n = 5),
        all.filter(pmod(col("doc_id"), lit(10)) === 7),
        "doc_id", "text", threshold = 0.5, maxDf = 100)
        .orderBy("doc_id")
    })

  /** dd_incremental served by the PERSISTENT shingle index
    * ([[graft.functions.ShingleIndex]]) instead of a per-delta re-derive
    * of the base's shingle universe — the streaming-ingest steady state,
    * where per-trigger cost must not grow with the store. Same oracle as
    * dd_incremental (the index is semantically invisible); the run
    * rebuilds the index from the base each invocation so the carrier
    * stays hermetic, then classifies via index frames only — the base
    * `text` column is never read at classification time.
    */
  private val dd9 = QueryDef("dd_incremental_indexed",
    dd7.oracle,
    (s, d) => {
      val all = docs(s, d)
      val base = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      val delta = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      val idxDir = s"/tmp/graft_shidx_${Integer.toHexString(d.hashCode)}"
      graft.functions.ShingleIndex.rebuild(base, "doc_id", "text", 5, idxDir)
      Dedup.incrementalStatus(
        graft.functions.ShingleIndex.read(s, idxDir), delta,
        "doc_id", "text", threshold = 0.5, maxDf = 100)
        .orderBy("doc_id")
    })

  // ---- similarity search -------------------------------------------------

  /** Identical left-fold dot product on both engines → bit-equal cosines.
    * ONE generator ([[foldDot]]) for every oracle family — the fold text
    * is bit-exactness-critical, so a second hand-rolled copy is a drift
    * surface, not a convenience.
    */
  private def dotSql(a: String, b: String) = foldDot(s"$a.embedding", s"$b.embedding")

  /** [[graft.functions.Similarity]]'s safeCos replayed in SQL: NULL — not
    * NaN, not an error — when either side has zero norm, so the ranking
    * and threshold oracles drop exactly the rows their Spark twins drop
    * (rankTopK filters null/NaN cos before ranking; NULL fails any
    * `>= threshold`). Without the guard one zero-norm (failed-encoder)
    * embedding makes the oracle's cos NaN, which DuckDB orders above
    * every real value — the degenerate vector would take rank 1 for
    * EVERY query on the oracle side only. The NOT isnan arm covers NaN
    * EMBEDDING VALUES (not just zero norms): DuckDB's `NaN > 0` is TRUE
    * (NaN orders above every real), so the zero-norm condition alone
    * passes a NaN norm product straight to the THEN branch — while
    * Spark's `when(na*nb > 0, ...)` is false on NaN and yields the NULL
    * the threshold/ranking filters expect. annLshOracleSql has always
    * carried this guard via its norms CTE; this is the same contract for
    * the inline-cosine oracles.
    */
  private def cosGuardSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) > 0
       |       AND NOT isnan(sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
       |      THEN ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END""".stripMargin

  private val sm1 = QueryDef("sim_norms",
    // CASE guard: an absent (NULL) embedding propagates a NULL norm like
    // Spark's l2Norm — DuckDB's len(NULL)-ranged list comprehension would
    // instead fold the empty list to 0.0 (degen r11)
    Some(s"""SELECT vec_id, label,
            |  CASE WHEN embedding IS NULL THEN NULL
            |       ELSE sqrt(${dotSql("embeddings", "embeddings")}) END AS l2_norm
            |FROM embeddings ORDER BY vec_id""".stripMargin),
    (s, d) => emb(s, d).select(col("vec_id"), col("label"),
      Similarity.l2Norm(col("embedding")).as("l2_norm"))
      .orderBy("vec_id"))

  private val sm2 = QueryDef("sim_knn_brute",
    Some(s"""WITH pairs AS (
            |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            |    ${cosGuardSql("q", "c")} AS cos
            |  FROM embeddings q, embeddings c
            |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
            |ranked AS (
            |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            |  FROM pairs WHERE cos IS NOT NULL AND NOT isnan(cos))
            |SELECT query_id, neighbor_id, cos, rank FROM ranked
            |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    (s, d) => Similarity.bruteForceTopK(
      emb(s, d), emb(s, d).filter(col("vec_id") < 10), k = 5)
      .orderBy("query_id", "rank"))

  /** Radius (range) similarity search — every neighbor with cosine ≥ 0.25,
    * however many or few that is per query: the quality-bounded complement
    * of sim_knn_brute's count-bounded top-k. Identical fold-order dot
    * product on both engines keeps the cosines (and therefore the
    * threshold comparison) bit-deterministic.
    */
  private val sm2rad = QueryDef("sim_radius",
    Some(s"""WITH pairs AS (
            |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            |    ${cosGuardSql("q", "c")} AS cos
            |  FROM embeddings q, embeddings c
            |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
            |SELECT query_id, neighbor_id, cos FROM pairs
            |WHERE cos >= 0.25
            |ORDER BY query_id, neighbor_id""".stripMargin),
    (s, d) => Similarity.radiusSearch(
      emb(s, d), emb(s, d).filter(col("vec_id") < 10), minCos = 0.25)
      .orderBy("query_id", "neighbor_id"))

  /** Retrieval end-to-end — the RAG-shape result a user actually consumes:
    * top-3 neighbors per query WITH their document metadata. The metadata
    * join happens strictly AFTER ranking (k·|queries| ids broadcast into
    * the documents scan as a map-side probe) — joining text/metadata
    * before the top-k would shuffle the whole corpus' metadata for rows
    * that ranking immediately discards.
    */
  private val sm2r = QueryDef("sim_retrieve",
    Some(s"""WITH pairs AS (
            |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            |    ${cosGuardSql("q", "c")} AS cos
            |  FROM embeddings q, embeddings c
            |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
            |ranked AS (
            |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            |  FROM pairs WHERE cos IS NOT NULL AND NOT isnan(cos))
            |SELECT r.query_id, r.rank, r.neighbor_id, r.cos, d.source, d.lang
            |FROM ranked r JOIN documents d ON d.doc_id = r.neighbor_id
            |WHERE r.rank <= 3 ORDER BY r.query_id, r.rank""".stripMargin),
    (s, d) => {
      val topk = Similarity.bruteForceTopK(
        emb(s, d), emb(s, d).filter(col("vec_id") < 10), k = 3)
      docs(s, d).select(col("doc_id"), col("source"), col("lang"))
        .join(broadcast(topk), col("doc_id") === col("neighbor_id"))
        .select("query_id", "rank", "neighbor_id", "cos", "source", "lang")
        .orderBy("query_id", "rank")
    })

  /** Embedding near-dup pairs blocked on label (cosine ≥ 0.45). */
  /** The oracle replays the greedy MMR selection as k UNROLLED SQL stages
    * (the lloydCteSql / bpeStageSql pattern): stage 1 picks argmax
    * relevance; stage i joins the unpicked candidates to the selected-id
    * list, computes `0.7·rel − 0.3·max(sim to selected)` via a correlated
    * max over the m²-row pairwise-sim CTE, and argmax-picks with the same
    * (mmr DESC, cid ASC) tie-break as the kernel. All cosines use the
    * repo's left-fold dot — bit-identical across engines, so the raw
    * doubles hash-match with no rounding.
    */
  private def mmrOracleSql(m: Int, k: Int): String = {
    def dotEmb(x: String, y: String) = foldDot(s"$x.emb", s"$y.emb")
    val stages = (2 to k).map { i =>
      s"""s${i}_sc AS (
         |  SELECT c.qid, c.cid,
         |    0.7*c.rel - 0.3*(SELECT max(p.sim) FROM pairsim p
         |        WHERE p.qid = c.qid AND p.ca = c.cid AND list_contains(s.sel, p.cb)) AS mmr
         |  FROM cand c JOIN sel${i - 1} s ON s.qid = c.qid WHERE NOT list_contains(s.sel, c.cid)),
         |s$i AS (SELECT qid, cid, mmr, cast($i as bigint) AS sel_rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, cid) rn FROM s${i}_sc) WHERE rn = 1),
         |sel$i AS (SELECT s.qid, list_append(s.sel, n.cid) AS sel FROM sel${i - 1} s JOIN s$i n ON n.qid = s.qid)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.embedding AS emb,
       |    ${cosGuardSql("q", "c")} AS rel
       |  FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT qid, cid, emb, rel FROM
       |    (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rnk
       |     FROM pairs WHERE rel IS NOT NULL AND NOT isnan(rel))
       |  WHERE rnk <= $m),
       |pairsim AS (
       |  SELECT a.qid, a.cid AS ca, b.cid AS cb,
       |    ${dotEmb("a", "b")} /
       |      (sqrt(${dotEmb("a", "a")}) * sqrt(${dotEmb("b", "b")})) AS sim
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid),
       |s1 AS (SELECT qid, cid, 0.7*rel AS mmr, cast(1 as bigint) AS sel_rank FROM
       |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) rn FROM cand) WHERE rn = 1),
       |sel1 AS (SELECT qid, [cid] AS sel FROM s1),
       |$stages
       |SELECT qid AS query_id, sel_rank, cid AS neighbor_id, mmr AS mmr_score
       |FROM (${(1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")})
       |ORDER BY query_id, sel_rank""".stripMargin
  }

  /** MMR-diversified retrieval: brute-force m=10 shortlist per query, then
    * greedy k=5 re-selection balancing relevance against redundancy — see
    * [[graft.functions.Similarity.mmrTopK]] for the kernel-not-join shape.
    */
  private val sm2m = QueryDef("sim_mmr",
    Some(mmrOracleSql(m = 10, k = 5)),
    (s, d) => Similarity.mmrTopK(
      emb(s, d), emb(s, d).filter(col("vec_id") < 10), m = 10, k = 5)
      .orderBy("query_id", "sel_rank"))

  private val sm3 = QueryDef("sim_near_dup",
    Some(s"""WITH pairs AS (
            |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |    ${cosGuardSql("a", "b")} AS cos
            |  FROM embeddings a JOIN embeddings b
            |    ON a.label = b.label AND a.vec_id < b.vec_id)
            |SELECT id_a, id_b, cos FROM pairs
            |WHERE cos >= 0.45
            |ORDER BY id_a, id_b""".stripMargin),
    (s, d) => Similarity.nearDupPairs(emb(s, d), "label", 0.45)
      .orderBy("id_a", "id_b"))

  /** Deterministic ANSI replay of the ENTIRE multi-probe LSH algorithm —
    * the oracle that graduated sim_ann_lsh from recall-gated to
    * hash-checked. The hyperplanes are data-independent (xxhash64-seeded
    * integers via [[NativeExpressions.hyperplaneCoeffInt]], the kernel's
    * own generator), so the builder embeds them as integer VALUES literals
    * and DuckDB re-derives bucket keys (ordered-fold projection, strict
    * `> 0` sign bit), probes every ≤`probes`-bit XOR perturbation, joins
    * candidates on (table, key), and exact-cosine re-ranks — step-for-step
    * the [[graft.functions.Similarity.lshTopK]] pipeline. Unlike the
    * "oracle against brute force and hope recall stays 1.0" alternative,
    * this hash match is unconditional: it survives any testdata
    * regeneration because it checks the algorithm, not a lucky recall.
    * Coefficient arithmetic is bit-identical on both engines: long
    * subtraction, long→double cast, division by 1000000.0, then the same
    * left-fold multiply-add order as the kernel's `proj` loop.
    * `maxDim` literals per hyperplane (vs the corpus' current 64) keep the
    * SQL valid if the driver regenerates embeddings at a higher dim.
    */
  private def annLshOracleSql(tables: Int, bits: Int, probes: Int, k: Int,
                              maxDim: Int = 128): String = {
    val hpRows = (for { t <- 0 until tables; b <- 0 until bits } yield {
      val ks = (0 until maxDim)
        .map(d => NativeExpressions.hyperplaneCoeffInt(t, b, d)).mkString(",")
      s"($t, $b, [$ks])"
    }).mkString(",\n")
    val maskRows = (0 until (1 << bits))
      .filter(Integer.bitCount(_) <= probes).map(m => s"($m)").mkString(",")
    val proj =
      """list_reduce(list_prepend(cast(0.0 as double),
        |    [cast(e.embedding[i] as double) * (cast(h.ks[i] - 1000000 as double) / 1000000.0)
        |     for i in range(1, len(e.embedding) + 1)]), (x, y) -> x + y)""".stripMargin
    s"""WITH hp(t, b, ks) AS (VALUES $hpRows),
       |masks(m) AS (VALUES $maskRows),
       |projs AS (
       |  SELECT e.vec_id, h.t, h.b, $proj AS proj
       |  FROM embeddings e CROSS JOIN hp h),
       |bkeys AS (
       |  SELECT vec_id, t,
       |    cast(sum(CASE WHEN proj > 0 THEN 1::bigint << b ELSE 0 END) AS bigint) AS bk
       |  FROM projs GROUP BY vec_id, t),
       |probed AS (
       |  SELECT q.vec_id AS query_id, q.t, xor(q.bk, m.m::bigint) AS bk
       |  FROM bkeys q CROSS JOIN masks m WHERE q.vec_id < 10),
       |cands AS (
       |  SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |  FROM probed p JOIN bkeys c ON c.t = p.t AND c.bk = p.bk
       |  WHERE c.vec_id <> p.query_id),
       |norms AS (
       |  SELECT vec_id, sqrt(${foldDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT ca.query_id, ca.neighbor_id,
       |    CASE WHEN qn.nrm * cn.nrm > 0 THEN
       |      ${foldDot("q.embedding", "c.embedding")} / (qn.nrm * cn.nrm)
       |    END AS cos
       |  FROM cands ca
       |  JOIN embeddings q ON q.vec_id = ca.query_id
       |  JOIN embeddings c ON c.vec_id = ca.neighbor_id
       |  JOIN norms qn ON qn.vec_id = ca.query_id
       |  JOIN norms cn ON cn.vec_id = ca.neighbor_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos))
       |SELECT query_id, neighbor_id, cos, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** LSH-bucketed ANN, hash-oracle-checked (graduated round 10): the
    * oracle replays bucketing + multi-probing + exact re-rank in ANSI SQL
    * from the kernel's own hyperplane integers — see [[annLshOracleSql]].
    * RecallGateSpec still asserts recall@5 vs brute force separately
    * (oracle proves the algorithm ran right; the gate proves the
    * parameterization is WORTH running). Multi-probe (probes=2) buys the
    * recall on the query side — corpus-side shuffle stays one narrow row
    * per (vector, table).
    */
  private val sm4 = QueryDef("sim_ann_lsh",
    Some(annLshOracleSql(tables = Similarity.LshTables, bits = 8, probes = 2, k = 5)),
    (s, d) => Similarity.lshTopK(
      emb(s, d), emb(s, d).filter(col("vec_id") < 10), k = 5, bits = 8, probes = 2)
      .orderBy("query_id", "rank"))

  /** Generic sequential-fold dot product over two array-column refs. */
  private def foldDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(cast(0.0 as double),
       |  [cast($a[i] as double) * cast($b[i] as double)
       |   for i in range(1, len($a) + 1)]), (x, y) -> x + y)""".stripMargin

  /** Guarded like [[cosGuardSql]]: NULL for a zero-norm side. In the
    * assignment windows (`ORDER BY cos DESC, cidx`) DuckDB places NULLs
    * last, so a zero-norm VECTOR ties all centroids and takes cidx 0 —
    * exactly the NearestCentroids kernel's "-2.0 sentinel, ties by
    * index" behavior — and a zero-norm CENTROID can never win an
    * assignment (unguarded, its NaN cos would sort FIRST under DESC and
    * steal every vector on the oracle side only).
    */
  private def ivfCosSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(${foldDot(a, a)}) * sqrt(${foldDot(b, b)}) > 0
       |       AND NOT isnan(sqrt(${foldDot(a, a)}) * sqrt(${foldDot(b, b)}))
       |      THEN ${foldDot(a, b)} / (sqrt(${foldDot(a, a)}) * sqrt(${foldDot(b, b)})) END""".stripMargin

  /** One CTE block per Lloyd iteration, mirroring
    * [[graft.functions.Similarity.ivfCentroids]] op-for-op: assignment by
    * (cos DESC, cidx) under centroids c{i}; per-(cell, dim) mean as a left
    * fold over members in vec_id order starting at 0.0 (same order, same
    * double adds as Spark's sorted-collect_list aggregate); mean rounded
    * to REAL (both engines: IEEE round-to-nearest); emptied cells keep
    * their previous centroid via the LEFT JOIN coalesce.
    */
  /** The Lloyd trainer's train-set CTE, mirroring the Spark side exactly:
    * the vec_id % TrainModulus sample, then the trainer's MECHANICAL cap
    * ([[graft.functions.Similarity.MaxTrainRows]]) — a scalar-subquery
    * m = ceil(n / MaxTrainRows) over the same count, 1-in-m keyed on the
    * 60-bit md5 hash of vec_id (the a18b cross-engine derivation; a bare
    * vec_id modulus would compose badly with the vec_id % TrainModulus
    * sample). At registered corpora m = 1 (no-op), but the oracle
    * replays the cap formula so a capped train run stays hash-checkable.
    */
  private def cappedTrainSql(cols: String = "*"): String =
    // presence = non-null, non-empty, ALL-FINITE — the exact mirror of
    // Similarity.presentVecs (see its r16 note: one Inf component poisons
    // Lloyd training cross-engine)
    s"""vecs AS (SELECT * FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) > 0
       |    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
       |t0 AS (SELECT $cols FROM vecs WHERE vec_id % ${Similarity.TrainModulus} = 0),
       |tp AS (SELECT greatest(1, cast(ceil(count(*) /
       |  ${graft.functions.Similarity.MaxTrainRows}.0) AS bigint)) AS m FROM t0),
       |train AS (SELECT t0.* FROM t0, tp
       |  WHERE ('0x' || substr(md5(cast(t0.vec_id AS varchar)), 1, 15))::BIGINT % tp.m = 0)""".stripMargin

  private def lloydCteSql(iters: Int, trainRel: String = "embeddings",
                          pre: String = ""): String = (0 until iters).map { i =>
    s"""${pre}a$i AS (
       |  SELECT vec_id, cidx AS cell FROM (
       |    SELECT e.vec_id, c.cidx,
       |      row_number() OVER (PARTITION BY e.vec_id
       |                         ORDER BY ${ivfCosSql("e.embedding", "c.ce")} DESC, c.cidx) AS rn
       |    FROM $trainRel e CROSS JOIN ${pre}c$i c) WHERE rn = 1),
       |${pre}m$i AS (
       |  SELECT cell, d,
       |    list_reduce(list_prepend(cast(0.0 as double), list(x ORDER BY vid)), (p, q) -> p + q)
       |      / count(*) AS mu
       |  FROM (
       |    SELECT cell, u.d AS d, u.x AS x, u.vid AS vid FROM (
       |      SELECT a.cell, unnest([{'d': i, 'x': cast(e.embedding[i] as double), 'vid': e.vec_id}
       |                             for i in range(1, len(e.embedding) + 1)]) AS u
       |      FROM ${pre}a$i a JOIN $trainRel e ON e.vec_id = a.vec_id))
       |  GROUP BY cell, d),
       |${pre}c${i + 1} AS (
       |  SELECT p.cidx, coalesce(n.ce, p.ce) AS ce
       |  FROM ${pre}c$i p LEFT JOIN (
       |    SELECT cell AS cidx, list(cast(mu as real) ORDER BY d) AS ce
       |    FROM ${pre}m$i GROUP BY cell) n ON n.cidx = p.cidx),""".stripMargin
  }.mkString("\n")

  /** IVF ANN — fully deterministic (k-means seeded from the first 16
    * corpus vectors with order-fixed fold arithmetic — see [[lloydCteSql]],
    * cosine folds identical on both engines), so unlike LSH it gets a real
    * hash-checked oracle: assignment, probing, and ranking re-derived in
    * ANSI SQL.
    */
  private val sm5 = QueryDef("sim_ivf",
    Some(s"""WITH ${cappedTrainSql()},
            |c0 AS (
            |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS ce
            |  FROM (SELECT vec_id, embedding FROM train ORDER BY vec_id LIMIT 16)),
            |${lloydCteSql(Similarity.LloydIters, "train")}
            |vc AS (
            |  SELECT e.vec_id, c.cidx,
            |    ${ivfCosSql("e.embedding", "c.ce")} AS cos
            |  FROM vecs e CROSS JOIN c${Similarity.LloydIters} c),
            |assign AS (
            |  SELECT vec_id, cidx AS cell FROM
            |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cidx) AS rn FROM vc)
            |  WHERE rn = 1),
            |qcells AS (
            |  SELECT vec_id AS query_id, cidx AS cell FROM
            |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cidx) AS rn
            |     FROM vc WHERE vec_id < 10)
            |  WHERE rn <= 4),
            |pairs AS (
            |  SELECT qc.query_id, a.vec_id AS neighbor_id,
            |    ${ivfCosSql("qe.embedding", "ne.embedding")} AS cos
            |  FROM qcells qc
            |  JOIN assign a ON a.cell = qc.cell
            |  JOIN embeddings qe ON qe.vec_id = qc.query_id
            |  JOIN embeddings ne ON ne.vec_id = a.vec_id
            |  WHERE a.vec_id <> qc.query_id),
            |ranked AS (
            |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            |  FROM pairs WHERE cos IS NOT NULL AND NOT isnan(cos))
            |SELECT query_id, neighbor_id, cos, rank FROM ranked
            |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    (s, d) => Similarity.ivfTopK(
      emb(s, d), emb(s, d).filter(col("vec_id") < 10), k = 5, nCentroids = 16, nProbe = 4)
      .orderBy("query_id", "rank"))

  /** K-means clustering summary over the embedding corpus — cluster sizes,
    * a representative member, and mean cosine cohesion per cell. Same
    * deterministic trainer (sampled seed + LloydIters rounds) as sim_ivf, so
    * the ENTIRE clustering — training, assignment, per-cell stats — is
    * re-derived in the oracle and hash-compared. The per-cell mean uses
    * the ordered left fold (members in vec_id order) on both engines.
    */
  private val sm6 = QueryDef("sim_kmeans",
    Some(s"""WITH ${cappedTrainSql()},
            |c0 AS (
            |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS ce
            |  FROM (SELECT vec_id, embedding FROM train ORDER BY vec_id LIMIT ${Similarity.KmeansCentroids})),
            |${lloydCteSql(Similarity.LloydIters, "train")}
            |vc AS (
            |  SELECT e.vec_id, c.cidx,
            |    ${ivfCosSql("e.embedding", "c.ce")} AS cos
            |  FROM vecs e CROSS JOIN c${Similarity.LloydIters} c),
            |assign AS (
            |  SELECT vec_id, cidx AS cell, cos FROM
            |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cidx) AS rn FROM vc)
            |  WHERE rn = 1)
            |SELECT cast(cell as bigint) AS cell, count(*) AS n_members,
            |  min(vec_id) AS min_vec_id,
            |  floor(list_reduce(list_prepend(cast(0.0 as double), list(cos ORDER BY vec_id)),
            |                    (p, q) -> p + q) / count(*) * 10000 + 0.5) / 10000 AS avg_cos
            |FROM assign GROUP BY cell ORDER BY cell""".stripMargin),
    (s, d) => Similarity.kmeansClusterStats(emb(s, d)))

  /** SemDeDup semantic dedup — same deterministic trainer as sim_kmeans,
    * so the oracle replays training + assignment with the shared Lloyd
    * CTEs, then re-derives the within-cluster prune exactly: a vector is
    * pruned by the min lower-id same-cell member at cosine ≥
    * DedupThreshold (the corpus' near-dup threshold, as in sim_near_dup).
    * All output columns are integers/booleans.
    *
    * nCentroids is NOT a manual knob here: both engines derive
    * k = max(16, ⌊√n⌋) from the corpus count
    * ([[graft.functions.Similarity.semanticDedup]] / the `kk` CTE),
    * so cells stay ~√n-bounded as the corpus grows and the oracle stays
    * replayable — floor(sqrt(bigint)) is integer-exact IEEE on both.
    */
  private val sm8 = QueryDef("sim_semantic_dedup",
    Some(s"""WITH ${cappedTrainSql()},
            |kk AS (
            |  SELECT greatest(${Similarity.MinDedupCentroids}, cast(floor(sqrt(count(*))) AS bigint)) AS k
            |  FROM vecs),
            |c0 AS (
            |  SELECT cidx, ce FROM (
            |    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS ce
            |    FROM train)
            |  WHERE cidx < (SELECT k FROM kk)),
            |${lloydCteSql(Similarity.LloydIters, "train")}
            |vc AS (
            |  SELECT e.vec_id, c.cidx,
            |    ${ivfCosSql("e.embedding", "c.ce")} AS cos
            |  FROM vecs e CROSS JOIN c${Similarity.LloydIters} c),
            |assign AS (
            |  SELECT vec_id, cidx AS cell FROM
            |    (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cidx) AS rn FROM vc)
            |  WHERE rn = 1),
            |pr AS (
            |  SELECT a.vec_id, min(b.vec_id) AS pruned_by
            |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
            |  JOIN embeddings ea ON ea.vec_id = a.vec_id
            |  JOIN embeddings eb ON eb.vec_id = b.vec_id
            |  WHERE ${ivfCosSql("ea.embedding", "eb.embedding")} >= ${Similarity.DedupThreshold}
            |  GROUP BY a.vec_id)
            |SELECT a.vec_id, cast(a.cell as bigint) AS cell,
            |  (p.pruned_by IS NULL) AS keep, p.pruned_by
            |FROM assign a LEFT JOIN pr p ON p.vec_id = a.vec_id
            |ORDER BY a.vec_id""".stripMargin),
    (s, d) => Similarity.semanticDedup(emb(s, d)).orderBy("vec_id"))

  /** Per-subspace PQ oracle CTEs: sub-sliced train set, seed codebook,
    * Lloyd round(s) (prefixed so the m chains coexist), then full-corpus
    * encoding — nearest final sub-centroid by (cos DESC, cidx), carrying
    * the chosen centroid list for ADC reconstruction.
    */
  private def pqSubspaceCtes(j: Int, sub: Int, codes: Int, iters: Int): String = {
    val lo = j * sub + 1
    val hi = (j + 1) * sub
    s"""s$j AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM train),
       |p${j}c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS ce
       |  FROM (SELECT vec_id, embedding FROM s$j ORDER BY vec_id LIMIT $codes)),
       |${lloydCteSql(iters, s"s$j", s"p$j")}
       |e$j AS (
       |  SELECT vec_id, cidx AS c$j, ce AS ce$j FROM (
       |    SELECT v.vec_id, c.cidx, c.ce,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY ${ivfCosSql("v.embedding", "c.ce")} DESC, c.cidx) AS rn
       |    FROM (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM vecs) v
       |    CROSS JOIN p${j}c$iters c) WHERE rn = 1),""".stripMargin
  }

  /** Product-quantization ANN — training, encoding, ADC shortlist, and
    * exact re-rank all re-derived in ANSI SQL (the [[lloydCteSql]] replay
    * per subspace), so the whole compressed-domain retrieval pipeline is
    * hash-compared, not just spot-checked. PqSubspaces subspaces of
    * EmbeddingDim / PqSubspaces dims, PqCodes codes each, PqLloydIters
    * Lloyd rounds on the train sample;
    * shortlist ShortlistFactor·k by approximate cosine, exact top-5
    * re-rank (params picked by a recall sweep: this config measures 0.94
    * recall@5 vs brute force at sf0.01 — asserted with headroom in
    * SimilaritySpec).
    */
  private val sm7 = {
    val m = Similarity.PqSubspaces; val sub = Similarity.EmbeddingDim / m; val k = 5
    val adcNum = (0 until m)
      .map(j => foldDot(s"q.embedding[${j * sub + 1}:${(j + 1) * sub}]", s"x.ce$j"))
      .mkString("(", " + ", ")")
    val reconSq = (0 until m).map(j => foldDot(s"x.ce$j", s"x.ce$j")).mkString(" + ")
    QueryDef("sim_pq",
      Some(s"""WITH ${cappedTrainSql("vec_id, embedding")},
              |${(0 until m).map(j => pqSubspaceCtes(j, sub, Similarity.PqCodes, Similarity.PqLloydIters)).mkString("\n")}
              |enc AS (
              |  SELECT e0.vec_id, ${(0 until m).map(j => s"c$j, ce$j").mkString(", ")}
              |  FROM e0 ${(1 until m).map(j => s"JOIN e$j USING (vec_id)").mkString(" ")}),
              |scored AS (
              |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
              |    CASE WHEN sqrt(${foldDot("q.embedding", "q.embedding")}) * sqrt($reconSq) > 0
              |          AND NOT isnan(sqrt(${foldDot("q.embedding", "q.embedding")}) * sqrt($reconSq))
              |         THEN $adcNum /
              |      (sqrt(${foldDot("q.embedding", "q.embedding")}) * sqrt($reconSq)) END AS adc_cos
              |  FROM (SELECT * FROM vecs WHERE vec_id < 10) q CROSS JOIN enc x
              |  WHERE x.vec_id <> q.vec_id),
              |short AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (PARTITION BY query_id
              |                                 ORDER BY adc_cos DESC, neighbor_id) AS srank
              |    FROM scored WHERE adc_cos IS NOT NULL AND NOT isnan(adc_cos))
              |  WHERE srank <= ${Similarity.ShortlistFactor * k}),
              |rer AS (
              |  SELECT s.query_id, s.neighbor_id, s.adc_cos,
              |    ${ivfCosSql("qe.embedding", "ne.embedding")} AS cos
              |  FROM short s
              |  JOIN embeddings qe ON qe.vec_id = s.query_id
              |  JOIN embeddings ne ON ne.vec_id = s.neighbor_id),
              |ranked AS (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |                               ORDER BY cos DESC, neighbor_id) AS rank
              |  FROM rer WHERE cos IS NOT NULL AND NOT isnan(cos))
              |SELECT query_id, neighbor_id, adc_cos, cos, rank FROM ranked
              |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin),
      (s, d) => Similarity.pqTopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), k = k)
        .orderBy("query_id", "rank"))
  }

  /** Scalar int8 quantization ANN ([[graft.functions.Similarity.sq8TopK]])
    * — per-dimension affine codes from corpus min/max (the faiss QT_8bit /
    * Lucene int8_hnsw storage shape, 4× smaller than float32 with no
    * training pass), dequantize-in-flight ADC shortlist, exact re-rank.
    * Fully deterministic (min/max are exact aggregates; code floor/clamp
    * and float32 reconstruction are IEEE-identical on both engines), so
    * like sim_ivf/sim_pq the WHOLE pipeline — stats, quantizer, ADC
    * ranking, re-rank — replays in ANSI SQL and hash-compares.
    * NaN components are excluded from min/max on both sides (Spark sorts
    * NaN above reals — one NaN would poison a dimension's scale) and null
    * their vector's score, dropping degenerates exactly as rankTopK does.
    */
  private val sm9 = {
    val k = 5; val sl = Similarity.ShortlistFactor * k
    QueryDef("sim_sq8",
      Some(s"""WITH dims AS (SELECT cast(i AS int) AS i FROM range(1, ${Similarity.EmbeddingDim + 1}) t(i)),
              |st AS (
              |  SELECT i,
              |    coalesce(cast(min(CASE WHEN NOT isnan(e.embedding[i]) THEN e.embedding[i] END) as double), 0.0) AS mn,
              |    coalesce(cast(max(CASE WHEN NOT isnan(e.embedding[i]) THEN e.embedding[i] END) as double), 0.0) AS mx
              |  FROM embeddings e CROSS JOIN dims GROUP BY i),
              |stl AS (SELECT list(mn ORDER BY i) AS mns, list((mx - mn) / 255.0 ORDER BY i) AS scs FROM st),
              |rec AS (
              |  SELECT e.vec_id, [
              |    CASE WHEN e.embedding[i] IS NOT NULL AND NOT isnan(e.embedding[i]) THEN
              |      cast(s.mns[i] + (CASE WHEN s.scs[i] = 0.0 THEN 0.0 ELSE
              |        least(255.0, greatest(0.0, floor((cast(e.embedding[i] as double) - s.mns[i]) / s.scs[i]))) END)
              |        * s.scs[i] AS real)
              |    END for i in range(1, len(e.embedding) + 1)] AS re
              |  FROM embeddings e CROSS JOIN stl s),
              |scored AS (
              |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
              |    ${ivfCosSql("q.embedding", "x.re")} AS sq_cos
              |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
              |  JOIN rec x ON x.vec_id <> q.vec_id),
              |short AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (PARTITION BY query_id
              |                                 ORDER BY sq_cos DESC, neighbor_id) AS srank
              |    FROM scored WHERE sq_cos IS NOT NULL AND NOT isnan(sq_cos))
              |  WHERE srank <= $sl),
              |rer AS (
              |  SELECT s.query_id, s.neighbor_id, s.sq_cos,
              |    ${ivfCosSql("qe.embedding", "ne.embedding")} AS cos
              |  FROM short s
              |  JOIN embeddings qe ON qe.vec_id = s.query_id
              |  JOIN embeddings ne ON ne.vec_id = s.neighbor_id),
              |ranked AS (
              |  SELECT *, row_number() OVER (PARTITION BY query_id
              |                               ORDER BY cos DESC, neighbor_id) AS rank
              |  FROM rer WHERE cos IS NOT NULL AND NOT isnan(cos))
              |SELECT query_id, neighbor_id, sq_cos, cos, rank FROM ranked
              |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin),
      (s, d) => Similarity.sq8TopK(emb(s, d), emb(s, d).filter(col("vec_id") < 10), k = k)
        .orderBy("query_id", "rank"))
  }

  // ---- multimodal --------------------------------------------------------

  /** Binary-column features via expressions only (payload = UTF-8 bytes). */
  private val mm1 = QueryDef("mm_binary_features",
    // encode(), not cast(text as blob) (r16, unicode fuzz find): DuckDB's
    // VARCHAR->BLOB cast REJECTS non-ASCII bytes unless hex-escaped, while
    // encode() is the UTF-8 byte serialization — the same bytes Spark's
    // cast to binary produces.
    Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           |       md5(text) AS payload_md5
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => docs(s, d).select(col("doc_id"),
      length(col("text").cast("binary")).as("n_bytes"),
      md5(col("text").cast("binary")).as("payload_md5"))
      .orderBy("doc_id"))

  /** REAL decode pipeline: PPM/PCM8/PPM-container payloads are synthesized
    * as deterministic functions of the id, then genuinely parsed back
    * (header + pixel rows) by mapPartitions decoders. The oracle recomputes
    * the expected features from the synthesis formulas — it verifies that
    * the byte-level decode recovered exactly what was encoded (same
    * pattern as the parser roundtrip oracle). Mean intensities are exact:
    * integer pixel sums divided once, identical on both engines.
    */
  private val mm2 = QueryDef("mm_decode_features",
    Some("""WITH m AS (
           |  SELECT doc_id AS media_id, doc_id % 3 AS mod3 FROM documents),
           |imgf AS (
           |  SELECT media_id, 'image' AS modality,
           |    cast(length('P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10)) + 3*w*h AS bigint) AS n_bytes,
           |    cast(w AS int) AS width, cast(h AS int) AS height,
           |    floor(list_sum([(media_id*7 + i*13) % 256 for i in range(0, 3*w*h)])::DOUBLE
           |          / (3*w*h) * 10000 + 0.5) / 10000 AS mean_intensity,
           |    1 AS frames_sampled
           |  FROM (SELECT media_id, 8 + media_id % 16 AS w, 8 + media_id % 12 AS h
           |        FROM m WHERE mod3 = 0)),
           |audf AS (
           |  SELECT media_id, 'audio' AS modality,
           |    cast(length('A8' || chr(10) || n || chr(10)) + n AS bigint) AS n_bytes,
           |    0 AS width, 0 AS height,
           |    floor(list_sum([(media_id*5 + i*11) % 256 for i in range(0, n)])::DOUBLE
           |          / n * 10000 + 0.5) / 10000 AS mean_intensity,
           |    cast(greatest(1, n // 1024) AS int) AS frames_sampled
           |  FROM (SELECT media_id, 200 + media_id % 800 AS n FROM m WHERE mod3 = 1)),
           |vidf AS (
           |  SELECT media_id, 'video' AS modality,
           |    cast(length('V' || chr(10) || f || chr(10))
           |         + f * (length('P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10)) + 3*w*h) AS bigint) AS n_bytes,
           |    cast(w AS int) AS width, cast(h AS int) AS height,
           |    floor(list_sum(flatten([[(media_id*7 + fr*17 + i*13) % 256 for i in range(0, 3*w*h)]
           |                            for fr in range(0, f, 2)]))::DOUBLE
           |          / (((f + 1) // 2) * 3*w*h) * 10000 + 0.5) / 10000 AS mean_intensity,
           |    cast((f + 1) // 2 AS int) AS frames_sampled
           |  FROM (SELECT media_id, 2 + media_id % 4 AS f, 8 + media_id % 8 AS w, 8 + media_id % 6 AS h
           |        FROM m WHERE mod3 = 2))
           |SELECT * FROM imgf UNION ALL SELECT * FROM audf UNION ALL SELECT * FROM vidf
           |ORDER BY media_id""".stripMargin),
    (s, d) => Multimodal.featuresPipeline(s, docs(s, d))
      .select("media_id", "modality", "n_bytes", "width", "height",
        "mean_intensity", "frames_sampled")
      .orderBy("media_id"))

  /** Multimodal near-dup detection: perceptual average-hash (aHash) over
    * the REAL decoded image pixels — see
    * [[graft.multimodal.Multimodal.imageAHashes]] for the integer-exact
    * 4×4 block-grid hash — then hash-grouped dup clusters with a canonical
    * representative, the image-side twin of dd_exact. Payload bytes never
    * shuffle: only (id, 16-bit hash) pairs leave the decode scan, and the
    * grouping window runs on those. The oracle replays the hash from the
    * synthesis formulas (the mm_decode_features pattern), verifying the
    * byte-level decode AND the hash arithmetic end-to-end.
    */
  private val mm3 = QueryDef("mm_phash_dedup",
    Some("""WITH m AS (SELECT doc_id AS media_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h
           |           FROM documents WHERE doc_id % 3 = 0),
           |g AS (SELECT media_id, w, h, unnest(range(0, w*h)) AS p FROM m),
           |b AS (SELECT media_id,
           |        ((media_id*7 + (3*p)*13) % 256) + ((media_id*7 + (3*p+1)*13) % 256)
           |          + ((media_id*7 + (3*p+2)*13) % 256) AS gray3,
           |        (p % w) * 4 // w + 4 * ((p // w) * 4 // h) AS blk
           |      FROM g),
           |bs AS (SELECT media_id, blk, cast(sum(gray3) as bigint) AS bsum, count(*) AS bn
           |       FROM b GROUP BY 1, 2),
           |tot AS (SELECT media_id, cast(sum(bsum) as bigint) AS tsum,
           |               cast(sum(bn) as bigint) AS tn FROM bs GROUP BY 1),
           |bits AS (SELECT bs.media_id, bs.blk,
           |           CASE WHEN bs.bsum * t.tn >= t.tsum * bs.bn THEN 1 ELSE 0 END AS bit
           |         FROM bs JOIN tot t USING (media_id)),
           |hs AS (SELECT media_id, cast(sum(bit * (1 << blk)) as bigint) AS ahash
           |       FROM bits GROUP BY 1)
           |SELECT media_id, ahash,
           |  count(*) OVER (PARTITION BY ahash) AS n_images,
           |  min(media_id) OVER (PARTITION BY ahash) AS canonical_id,
           |  media_id <> min(media_id) OVER (PARTITION BY ahash) AS is_dup
           |FROM hs ORDER BY media_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val media = Multimodal.syntheticMediaTable(docs(s, d), "doc_id")
      val hashes = {
        import s.implicits._
        Multimodal.imageAHashes(media.as[Multimodal.MediaRow]).toDF()
      }
      val w = Window.partitionBy("ahash")
      hashes.select(col("media_id"), col("ahash"),
          count(lit(1)).over(w).as("n_images"),
          min(col("media_id")).over(w).as("canonical_id"))
        .withColumn("is_dup", col("media_id") =!= col("canonical_id"))
        .orderBy("media_id")
    })

  // ---- composed cleaning pipeline ---------------------------------------

  /** The end-to-end shape a training-data ingest actually runs: exact
    * dedup (keep canonical docs only) → quality gate → language gate →
    * repetition gate (Gopher rules, same thresholds as tx_repetition) →
    * kept corpus. Every stage is one of the already-verified primitives;
    * the oracle recomposes them from the shared SQL fragments above. At
    * scale this is one narrow hash-shuffle (dedup) followed by map-only
    * scoring+filters — document text never shuffles.
    */
  private val pl1 = QueryDef("pipe_clean_corpus",
    Some(s"""WITH canon AS (
            |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id
            |  FROM documents),
            |kept AS (
            |  SELECT d.doc_id, d.text FROM documents d
            |  JOIN canon c ON d.doc_id = c.doc_id
            |  WHERE c.doc_id = c.canonical_id),
            |feats AS (
            |  SELECT doc_id, $qualitySql AS quality,
            |    $langScoreSqlItems
            |  FROM kept),
            |pred AS (
            |  SELECT *, $predictedSql AS predicted FROM feats),
            |reps AS (
            |  SELECT doc_id, ${dupWordFracSql("w")} AS dwf, ${topBigramFracSql("w")} AS tbf
            |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM kept))
            |SELECT p.doc_id AS doc_id, p.quality AS quality FROM pred p
            |JOIN reps r ON r.doc_id = p.doc_id
            |WHERE p.quality >= $QualityMin AND p.predicted = 'en'
            |  AND r.dwf <= $DupWordMax AND r.tbf <= $TopBigramMax
            |ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val base = docs(s, d)
      val keepIds = Dedup.exact(base, "doc_id", "text")
        .filter(col("doc_id") === col("canonical_id")).select("doc_id")
      // spread the SCAN side before the join (the join output inherits
      // the stream side's partitioning under a broadcast join, and
      // Guards.spread deliberately refuses post-join plans — its
      // partition probe would execute the dedup subtree)
      cleanGates(graft.operators.Guards.spread(base.select("doc_id", "text"))
          .join(keepIds, "doc_id"), Seq("doc_id"))
        .orderBy("doc_id")
    })

  /** End-to-end training-batch construction — the composed pipeline a
    * training-data user actually runs: clean gates (exact dedup → quality
    * → lang → repetition, the pipe_clean_corpus stages) → overlapping
    * 32-token context chunks (the tx_chunk shape) → chunks packed into
    * 256-token bins per shard (the tx_pack shape, chunk-level). Every
    * stage's SQL is recomposed from the SAME shared fragments its
    * standalone query uses, so the composition cannot drift from the
    * pieces; all output columns are integers (partitioning-proof hash).
    * Scale: gates + chunking are map-only after the dedup hash shuffle;
    * packing windows per shard (doc_id % 8 — the skew-proof knob tx_pack
    * documents; raise shard count with cluster size).
    */
  private val pl3 = QueryDef("pipe_training_batch",
    Some(s"""WITH canon AS (
            |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id
            |  FROM documents),
            |keptd AS (
            |  SELECT d.doc_id, d.text FROM documents d
            |  JOIN canon c ON d.doc_id = c.doc_id
            |  WHERE c.doc_id = c.canonical_id),
            |feats AS (
            |  SELECT doc_id, text, $qualitySql AS quality,
            |    $langScoreSqlItems
            |  FROM keptd),
            |pred AS (SELECT *, $predictedSql AS predicted FROM feats),
            |reps AS (
            |  SELECT doc_id, ${dupWordFracSql("w")} AS dwf, ${topBigramFracSql("w")} AS tbf
            |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM keptd)),
            |clean AS (
            |  SELECT p.doc_id, p.text FROM pred p JOIN reps r ON r.doc_id = p.doc_id
            |  WHERE p.quality >= $QualityMin AND p.predicted = 'en'
            |    AND r.dwf <= $DupWordMax AND r.tbf <= $TopBigramMax),
            |${chunkCteSql("clean")}
            |SELECT doc_id, chunk_idx, doc_id % 8 AS shard, chunk_tokens,
            |  cast(sum(chunk_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_idx
            |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS cum_tok,
            |  cast((sum(chunk_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_idx
            |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            |    - chunk_tokens) // $PackBudget as bigint) AS bin_id
            |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, d)
      val keepIds = Dedup.exact(base, "doc_id", "text")
        .filter(col("doc_id") === col("canonical_id")).select("doc_id")
      val clean = cleanGates(base.join(keepIds, "doc_id"), Seq("doc_id", "text"))
      val chunks = chunkCore(clean)
        .select(col("doc_id"), col("chunk_idx"),
          (col("doc_id") % 8).as("shard"), col("chunk_tokens"))
      val win = Window.partitionBy("shard").orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunks
        .withColumn("cum_tok", sum("chunk_tokens").over(win).cast("long"))
        .withColumn("bin_id",
          floor((col("cum_tok") - col("chunk_tokens")) / PackBudget).cast("long"))
        .orderBy("doc_id", "chunk_idx")
    })

  /** The cross-engine 60-bit KMV hash — one definition, in
    * [[graft.functions.TopKAgg.md5Hash60]], beside its space size.
    */
  private def md5Hash60(c: Column): Column = graft.functions.TopKAgg.md5Hash60(c)

  /** Per-batch report partials — the bounded mergeable STATE of
    * `pipe_incremental_report`: one row per (batch, source) carrying
    * additive counters (docs, tokens, quality buckets, English share) and
    * the KMV-64 sketch of text hashes for the distinct-text estimate.
    * This is the 100 TB maintenance shape: each ingest batch computes its
    * partials in ONE pass over ITS OWN documents and persists ≤
    * (#sources) rows of constant-size state; the corpus-wide report is
    * then [[mergeReport]] over all persisted partials — no historical
    * re-scan, ever. Counters merge by addition; KMV merges by
    * union-then-trim (associative and ORDER-FREE — a deterministic
    * function of the value set, so merged == one-shot bit-for-bit,
    * IncrementalReportSpec proves it against persisted parquet partials).
    *
    * Counters and the sketch ride in ONE aggregation (the null-skipping
    * [[graft.functions.KmvMinHashesNullable]] needs no pre-filter) — the
    * first cut split them into two aggregations joined back, and the plan
    * dump showed why that's wrong at scale: Spark cannot join-eliminate
    * the unreferenced side of either left join, so every consumer of the
    * partials re-scanned the corpus. Single-agg: one scan, one narrow
    * exchange, no joins.
    */
  private[graft] def reportPartials(base: DataFrame, batchId: Column): DataFrame =
    base
      .select(batchId.as("batch_id"), col("source"),
        when(col("text").isNotNull, md5Hash60(col("text"))).as("th"),
        TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_tok"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langScores(col("text")).as("sc"))
      .select(col("batch_id"), col("source"), col("th"), col("n_tok"), col("quality"),
        TextFunctions.predictedFromScores(
          col("sc").getItem(0), col("sc").getItem(1),
          col("sc").getItem(2), col("sc").getItem(3)).as("predicted"))
      .groupBy("batch_id", "source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("q_high"),
        sum(when(col("quality") >= QualityMin && col("quality") < 0.5, 1L).otherwise(0L)).as("q_mid"),
        sum(when(col("quality") < QualityMin, 1L).otherwise(0L)).as("q_low"),
        sum(when(col("predicted") === "en", 1L).otherwise(0L)).as("n_en"),
        graft.functions.TopKAgg.kmvMinHashesNullable(col("th"), 64).as("sketch"))

  /** Merge persisted report partials into the corpus-wide report: additive
    * counters sum; the per-source KMV sketches merge whole
    * ([[graft.functions.KmvMergeSketches]] — the k smallest distinct of a
    * union are each k-smallest within their batch, so union-then-trim
    * over partial sketches IS the sketch of the whole corpus; the
    * estimate cannot drift from a one-shot pass). One aggregation over
    * (#batches × #sources) bounded rows; a source with zero non-null
    * texts carries an EMPTY sketch, so its estimate is exactly 0.0.
    */
  private[graft] def mergeReport(partials: DataFrame): DataFrame =
    partials.groupBy("source").agg(
        sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("q_high").as("q_high"), sum("q_mid").as("q_mid"),
        sum("q_low").as("q_low"), sum("n_en").as("n_en"),
        graft.functions.TopKAgg.kmvMergeSketches(col("sketch"), 64).as("ms"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("q_high"), col("q_mid"), col("q_low"), col("n_en"),
        // the md5Hash60 estimator — 2^60 rides along inside it
        graft.functions.TopKAgg.kmvEstimate60(col("ms"), 64)
          .as("est_distinct_texts"))
      .orderBy("source") // Spark asc = NULLS FIRST, oracle says so explicitly

  /** Incrementally-maintained corpus report — [[pl2 pipe_corpus_report]]'s
    * per-source data card, produced by the batch-partial + merge path
    * ([[reportPartials]] keyed by `doc_id % 4` as the ingest batch,
    * [[mergeReport]] over the 4 partial sets) instead of a corpus-wide
    * re-aggregation. The exact-duplicate count is replaced by the KMV-64
    * distinct-text ESTIMATE — the price of bounded mergeable state (exact
    * distinct is not maintainable without corpus-sized state; the sketch
    * is, and stays hash-oracle-checked because KMV over md5 hashes
    * replays in SQL). The oracle computes the report in ONE pass — that
    * it hash-matches the merged partials is the incremental-maintenance
    * correctness claim, on real data, every round.
    */
  private val pl4 = QueryDef("pipe_incremental_report",
    Some(s"""WITH feats AS (
            |  SELECT source, text,
            |    len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')) AS n_tok,
            |    $qualitySql AS quality,
            |    $langScoreSqlItems
            |  FROM documents),
            |pred AS (SELECT *, $predictedSql AS predicted FROM feats),
            |cnt AS (
            |  SELECT source,
            |    count(*) AS n_docs,
            |    cast(sum(n_tok) as bigint) AS n_tokens,
            |    cast(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) as bigint) AS q_high,
            |    cast(sum(CASE WHEN quality >= $QualityMin AND quality < 0.5 THEN 1 ELSE 0 END) as bigint) AS q_mid,
            |    cast(sum(CASE WHEN quality < $QualityMin THEN 1 ELSE 0 END) as bigint) AS q_low,
            |    cast(sum(CASE WHEN predicted = 'en' THEN 1 ELSE 0 END) as bigint) AS n_en
            |  FROM pred GROUP BY source),
            |hs AS (
            |  SELECT DISTINCT source,
            |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
            |  FROM documents WHERE text IS NOT NULL),
            |sk AS (SELECT source, list_slice(list_sort(list(h)), 1, 64) AS ms
            |       FROM hs GROUP BY source)
            |SELECT c.source, c.n_docs, c.n_tokens, c.q_high, c.q_mid, c.q_low, c.n_en,
            |  CASE WHEN s.ms IS NULL THEN cast(0.0 AS double)
            |       WHEN len(s.ms) < 64 THEN cast(len(s.ms) AS double)
            |       ELSE cast(63 AS double) * cast(1152921504606846976 AS double)
            |            / cast(s.ms[64] AS double) END AS est_distinct_texts
            |FROM cnt c LEFT JOIN sk s ON c.source IS NOT DISTINCT FROM s.source
            |ORDER BY c.source NULLS FIRST""".stripMargin),
    (s, d) => mergeReport(reportPartials(docsSpread(s, d), pmod(col("doc_id"), lit(4)))))

  /** Corpus curation report — the "data card" the reference's dashboard is
    * for logs, applied to the training corpus: per-source document and
    * token totals, exact-duplicate counts, quality-bucket histogram, and
    * English share. Every aggregate is an INTEGER (counts and integer
    * token sums), so the result is bit-deterministic on any partitioning —
    * no float summation order to pin — and the whole report is ONE
    * partial-agg shuffle to #sources rows. Per-doc quality/lang reuse the
    * shared fragments, so the report can never drift from the gates. The
    * dup count compares text hashes in Spark vs full text in DuckDB —
    * same convention as dd_exact (collision odds at 2⁻⁶⁴ per pair;
    * DedupSpec carries the collision-proof variant).
    */
  private val pl2 = QueryDef("pipe_corpus_report",
    Some(s"""WITH feats AS (
            |  SELECT source, text,
            |    len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')) AS n_tok,
            |    $qualitySql AS quality,
            |    $langScoreSqlItems
            |  FROM documents),
            |pred AS (SELECT *, $predictedSql AS predicted FROM feats)
            |SELECT source,
            |  count(*) AS n_docs,
            |  cast(sum(n_tok) as bigint) AS n_tokens,
            |  cast(count(*) - count(DISTINCT text) as bigint) AS n_dup_docs,
            |  cast(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) as bigint) AS q_high,
            |  cast(sum(CASE WHEN quality >= $QualityMin AND quality < 0.5 THEN 1 ELSE 0 END) as bigint) AS q_mid,
            |  cast(sum(CASE WHEN quality < $QualityMin THEN 1 ELSE 0 END) as bigint) AS q_low,
            |  cast(sum(CASE WHEN predicted = 'en' THEN 1 ELSE 0 END) as bigint) AS n_en
            |FROM pred GROUP BY source ORDER BY source NULLS FIRST""".stripMargin),
    (s, d) => {
      docs(s, d)
        .select(col("source"),
          // null text must hash to NULL: count_distinct skips NULLs the
          // way the oracle's count(DISTINCT text) does — bare
          // xxhash64(NULL) is a non-null seed constant that would count
          // as one extra distinct "text" per source.
          when(col("text").isNotNull, xxhash64(col("text"))).as("th"),
          TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_tok"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.langScores(col("text")).as("sc"))
        .select(col("source"), col("th"), col("n_tok"), col("quality"),
          TextFunctions.predictedFromScores(
            col("sc").getItem(0), col("sc").getItem(1),
            col("sc").getItem(2), col("sc").getItem(3)).as("predicted"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          (count(lit(1)) - count_distinct(col("th"))).as("n_dup_docs"),
          sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("q_high"),
          sum(when(col("quality") >= QualityMin && col("quality") < 0.5, 1L).otherwise(0L)).as("q_mid"),
          sum(when(col("quality") < QualityMin, 1L).otherwise(0L)).as("q_low"),
          sum(when(col("predicted") === "en", 1L).otherwise(0L)).as("n_en"))
        .orderBy("source")
    })

  /** Bigram Stupid-Backoff surprisal (Brants et al. 2007, "Large Language
    * Models in Machine Translation") — the next step up from tx_surprisal's
    * unigram proxy, with a real TRAIN/APPLY split: the LM trains on the
    * in-model corpus slice (doc_id % 7 ≠ 0) and scores EVERY document, so
    * held-out documents hit unseen bigrams and take the backoff path
    * S(wᵢ|wᵢ₋₁) = 0.4·count(wᵢ)/N instead of count(wᵢ₋₁wᵢ)/count(wᵢ₋₁).
    * Per-doc mean of −ln S over adjacent pairs; the quality signal
    * production pipelines compute with a KenLM-style model.
    *
    * Scale shape — and the deliberate contrast with tx_surprisal: the
    * BIGRAM table is corpus-sized (not vocabulary-sized), so it CANNOT
    * broadcast; attaching it is an honest co-partitioned shuffle join on
    * the (a, b) pair key (PlanCheck asserts the hash exchange rides those
    * keys). The unigram table and the token-count bound stay broadcast,
    * the pair explode is map-side (AdjacentPairs kernel — no self-join on
    * position), and the per-doc regroup shuffles narrow (pos, surprisal)
    * pairs. Unseen-word floor: count 1 (documented; the synthetic vocab
    * makes it unreachable, the expression keeps the total function).
    *
    * Determinism: the per-doc fold runs in pair order on both engines
    * (ln is not correctly-rounded; same discipline as tx_surprisal), and
    * the mean is floor-rounded at 1e-4.
    */
  private val tx22 = QueryDef("tx_backoff_surprisal",
    Some("""WITH pairs AS (
           |  SELECT doc_id, u.pos AS pos, u.a AS a, u.b AS b FROM (
           |    SELECT doc_id, unnest([{'pos': i, 'a': w[i], 'b': w[i+1]} for i in range(1, len(w))]) AS u
           |    FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents))),
           |tokm AS (
           |  SELECT unnest(string_split_regex(text, '\s+')) AS t
           |  FROM documents WHERE doc_id % 7 <> 0),
           |ug AS (SELECT t, count(*) AS cnt FROM tokm GROUP BY t),
           |bg AS (SELECT a, b, count(*) AS cnt_ab FROM pairs WHERE doc_id % 7 <> 0 GROUP BY 1, 2),
           |tot AS (SELECT cast(sum(cnt) as double) AS total FROM ug),
           |j AS (
           |  SELECT p.doc_id, p.pos,
           |    CASE WHEN bg.cnt_ab IS NOT NULL
           |         THEN ln(cast(up.cnt as double) / bg.cnt_ab)
           |         ELSE ln(total / (0.4 * coalesce(uc.cnt, 1))) END AS surp
           |  FROM pairs p
           |  LEFT JOIN bg ON bg.a = p.a AND bg.b = p.b
           |  LEFT JOIN ug up ON up.t = p.a
           |  LEFT JOIN ug uc ON uc.t = p.b
           |  CROSS JOIN tot),
           |d AS (SELECT doc_id, count(*) AS n_pairs,
           |  list_reduce(list_prepend(cast(0.0 as double), list(surp ORDER BY pos)), (x, y) -> x + y) AS s
           |  FROM j GROUP BY doc_id)
           |SELECT doc_id, doc_id % 7 = 0 AS held_out, cast(n_pairs as bigint) AS n_pairs,
           |  floor(s / n_pairs * 10000 + 0.5) / 10000 AS mean_surprisal
           |FROM d ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val base = docs(s, d)
      // ONE pair explode, NO bigram self-join: the bigram model count
      // attaches as a per-(a, b) window sum over the single exploded pair
      // index (the dd_substring_dup "df via window" shape). The former
      // formulation aggregated `pairs` into a bg table and joined it back
      // — two evaluations of the explode (a shared repartition can't
      // merge them: Catalyst pushes the in-model filter below the
      // repartition, splitting the exchange). Shuffle volume is the same
      // one (a, b)-keyed exchange of the pairs the join's probe side
      // needed anyway; the bg aggregate's second exchange disappears.
      val pairs = graft.operators.Guards.spread(base.select("doc_id", "text"))
        .select(col("doc_id"),
          posexplode(NativeExpressions.adjacentPairs(TextFunctions.tokens(col("text"))))
            .as(Seq("pos", "pr")))
        .select(col("doc_id"), col("pos"), col("pr.a").as("a"), col("pr.b").as("b"))
      val inModel = pmod(col("doc_id"), lit(7)) =!= 0
      val ug = graft.operators.Guards.spread(
          base.filter(inModel).select("doc_id", "text"))
        .select(explode(TextFunctions.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
      val tot = ug.agg(sum("cnt").cast("double").as("total"))
      val bgWin = org.apache.spark.sql.expressions.Window.partitionBy("a", "b")
      pairs
        // LEFT-JOIN parity: cnt_ab is NULL (not 0) when no in-model doc
        // carries the bigram, so the backoff CASE takes the same branch
        .withColumn("cnt_ab0", sum(when(inModel, 1L)).over(bgWin))
        .withColumn("cnt_ab", when(col("cnt_ab0") > 0, col("cnt_ab0")))
        .join(broadcast(ug.select(col("t").as("a"), col("cnt").as("cnt_prev"))), Seq("a"), "left")
        .join(broadcast(ug.select(col("t").as("b"), col("cnt").as("cnt_cur"))), Seq("b"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("pos"),
          when(col("cnt_ab").isNotNull,
            log(col("cnt_prev").cast("double") / col("cnt_ab")))
            .otherwise(log(col("total") / (lit(0.4) * coalesce(col("cnt_cur"), lit(1L)))))
            .as("surp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"),
          sort_array(collect_list(struct(col("pos"), col("surp")))).as("xs"))
        .select(col("doc_id"),
          (pmod(col("doc_id"), lit(7)) === 0).as("held_out"),
          col("n_pairs"),
          graft.functions.Rounding.round4(
            aggregate(col("xs"), lit(0.0),
              (acc, x) => acc + x.getField("surp")) / col("n_pairs")).as("mean_surprisal"))
        .orderBy("doc_id")
    })

  /** BM25 keyword retrieval (Robertson & Spärck Jones; the Okapi/Lucene
    * `+1`-idf variant, k1 = 1.2, b = 0.75) — the lexical-search complement
    * to the dense-retrieval family (sim_knn_brute/sim_retrieve): score a
    * small query workload against the whole corpus and keep each query's
    * top-10 documents.
    *
    * Scale shape (what survives 100 TB):
    *   - the QUERY-TERM table is the small side: broadcast into the
    *     (doc, term, tf) postings, so the corpus-sized postings prune to
    *     query-term rows map-side and never shuffle their terms
    *     (PlanCheck-asserted: no sort-merge join anywhere);
    *   - df/idf come from the PRUNED postings (a per-term count over ≤
    *     |query vocabulary| groups), re-attached by broadcast;
    *   - corpus constants (N, total token count → avgdl) ride a broadcast
    *     1-row cross join, never a driver collect;
    *   - per-query top-10 uses the bounded-buffer [[graft.functions.BottomKPairs]]
    *     Aggregator — queries are FEW and their candidate sets huge (every
    *     doc containing any query term), exactly the hot-key shape where a
    *     per-query window sort would funnel the corpus through 3 tasks;
    *     the aggregator shuffles ≤ 10 pairs per (partition, query).
    *
    * Cross-engine determinism: each matched term's BM25 contribution is
    * floored to an integer at 1e-4 BEFORE the per-(query, doc) sum —
    * integer sums are partitioning/order-proof, so the oracle can replay
    * the identical arithmetic (ulp-level `ln` drift absorbed by the same
    * pre-sum rounding as tx_tfidf_topk/tx_train_lr); the reported score is
    * the one IEEE division sum/10⁴.
    */
  /** The BM25 oracle's CTE chain up to the ranked (query, doc, score) list —
    * shared verbatim by ir_bm25 and ir_rrf_fusion so the lexical arithmetic
    * cannot drift between the standalone ranking and the fused one.
    */
  private val bm25RankedCtes =
    """WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS term
           |  FROM documents),
           |terms AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
           |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
           |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
           |              (SELECT count(*) FROM terms) AS n_terms),
           |qt AS (SELECT cast(query_id as bigint) AS query_id, term
           |       FROM (VALUES (1,'hash'),(1,'join'),(2,'slow'),(2,'scan'),(2,'filter'),
           |                    (3,'customer'),(3,'order'),(3,'data')) AS v(query_id, term)),
           |dft AS (SELECT term, count(*) AS df FROM tf
           |        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1),
           |si AS (
           |  SELECT q.query_id, tf.doc_id,
           |    cast(floor(
           |      (ln((cast(st.n_docs - dft.df as double) + 0.5) / (cast(dft.df as double) + 0.5) + 1.0)
           |       * ((cast(tf.tf as double) * 2.2) /
           |          (cast(tf.tf as double) + 1.2 *
           |           (0.25 + 0.75 * (cast(dl.dl as double) /
           |                           (cast(st.n_terms as double) / st.n_docs))))))
           |      * 10000 + 0.5) as bigint) AS s
           |  FROM tf JOIN qt q USING (term) JOIN dft USING (term)
           |       JOIN dl USING (doc_id) CROSS JOIN st),
           |sc AS (SELECT query_id, doc_id, cast(sum(s) as bigint) AS s_int FROM si GROUP BY 1, 2),
           |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |                                        ORDER BY s_int DESC, doc_id) AS rn FROM sc)""".stripMargin

  private val ir1 = QueryDef("ir_bm25",
    Some(bm25RankedCtes +
      """
        |SELECT query_id, cast(rn as bigint) AS rnk, doc_id,
        |       cast(s_int as double) / 10000 AS score
        |FROM ranked WHERE rn <= 10 ORDER BY query_id, rnk""".stripMargin),
    (s, d) => bm25TopK(s, d).orderBy("query_id", "rnk"))

  /** The BM25 Spark pipeline (see [[ir1]]'s Scaladoc for the scale shape):
    * ranked top-10 per query as (query_id, rnk, doc_id, score), unsorted.
    * Factored out so ir_rrf_fusion consumes the identical lexical ranking.
    */
  private def bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25TopKFor(s, d, defaultQt(s), k = 10)

  /** The fixed benchmark query workload (query_id → terms). */
  private def defaultQt(s: SparkSession): DataFrame =
    s.createDataFrame(Seq(
      (1L, "hash"), (1L, "join"),
      (2L, "slow"), (2L, "scan"), (2L, "filter"),
      (3L, "customer"), (3L, "order"), (3L, "data"))).toDF("query_id", "term")

  /** BM25 ranking parameterized by the (query_id, term) workload — the PRF
    * expansion pass scores a MINED workload with the identical arithmetic,
    * and identical construction here means the corpus-tokenization subtrees
    * of both passes canonicalize equal and share one shuffle stage.
    */
  /** The corpus tokenization EVERY BM25 consumer derives from — the two
    * PRF passes and the feedback miner construct this identically, so
    * their subtrees canonicalize equal and AQE materializes ONE physical
    * tokenization per query.
    *
    * The explicit isNotNull matters for plan shape, not semantics (the
    * corpus has no null doc_ids, and the downstream inner joins would
    * drop them anyway): the si/dl branches get isnotnull(doc_id)
    * INFERRED from their joins while dft/stats do not, which splits the
    * otherwise-identical tokenize+partial-agg exchange into two
    * non-matching subtrees and forces a second corpus tokenization.
    * With the filter at the base all four branches canonicalize equal
    * and AQE reuses ONE shuffle stage. The pre-kernel Guards.spread
    * (r18, guide §2.5) parallelizes the one-split scan's tokenize;
    * identity at cluster-width split counts.
    */
  private def bm25Terms(base: DataFrame): DataFrame =
    graft.operators.Guards.spread(
        base.filter(col("doc_id").isNotNull).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(TextFunctions.tokens(TextFunctions.asciiLower(col("text")))).as("term"))
      .filter(length(col("term")) > 0)

  private def bm25TopKFor(s: SparkSession, d: String, qt: DataFrame, k: Int): DataFrame = {
      val base = docs(s, d)
      val terms = bm25Terms(base)
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // dl and n_terms derive from tf, NOT from terms: the tf exchange
      // subtree is then byte-identical across all three consumers (si, dl,
      // stats), so ReuseExchange materializes the corpus scan + tokenize +
      // partial agg ONCE and the other branches read its shuffle files. The
      // previous form aggregated `terms` directly, which re-tokenized the
      // whole corpus per branch. Arithmetic is identical:
      // sum(tf) per doc == count(terms) per doc, sum(tf) == count(terms).
      val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      val stats = base.agg(count(lit(1)).as("n_docs"))
        .crossJoin(tf.agg(sum(col("tf")).as("n_terms")))
      // df over the corpus, restricted to query vocabulary (pruned BEFORE
      // counting — a term in two queries must not double its df). The agg
      // argument must reference col("tf") (tf >= 1 always, so the value is
      // exactly count(*)): with an unreferenced tf column Catalyst prunes
      // this branch's (doc_id, term) aggregate to keys-only, the exchange
      // subtree stops canonically matching the si/dl/stats branches, and
      // AQE cannot stage-reuse it — the corpus would be re-tokenized here.
      val dft = tf.join(broadcast(qt.select("term").distinct()), "term")
        .groupBy("term").agg(count(when(col("tf") >= 1, 1)).as("df"))
      val avgdl = col("n_terms").cast("double") / col("n_docs")
      val tfD = col("tf").cast("double")
      val contrib = log(
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
        ((tfD * lit(2.2)) /
          (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
      val si = tf.join(broadcast(qt), "term")
        .join(broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"),
          floor(contrib * lit(10000) + lit(0.5)).cast("long").as("s"))
      si.groupBy("query_id", "doc_id").agg(sum(col("s")).as("s_int"))
        .groupBy("query_id")
        .agg(graft.functions.TopKAgg.bottomKPairs(-col("s_int"), col("doc_id"), k).as("kept"))
        .select(col("query_id"), posexplode(col("kept")).as(Seq("pos", "pair")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
          col("pair._2").as("doc_id"),
          ((-col("pair._1")).cast("double") / lit(10000)).as("score"))
  }

  /** Hybrid retrieval — Reciprocal Rank Fusion (Cormack, Clarke & Büttcher,
    * SIGIR 2009; the standard in production RAG stacks) of the BM25 lexical
    * ranking and the dense cosine ranking, K = 60:
    * `rrf(d) = Σ_systems 1 / (K + rank_system(d))`, missing-from-a-system
    * contributing 0. Query workload: ids 1..3 — the BM25 term lists on the
    * lexical side, the same ids' embeddings (query-by-example) on the dense
    * side.
    *
    * Scale shape: ALL the heavy lifting happens inside the two upstream
    * systems with their established shapes (bm25TopK: broadcast query terms
    * + bounded top-k aggregator; bruteForceTopK: queries broadcast, corpus
    * map-side scored). The fusion itself only ever touches k·|queries| rows
    * per system — a full-outer merge of two ranked lists — so its cost is
    * independent of corpus size. Rank arithmetic `1/(60+rank)` on bigint
    * ranks is bit-deterministic across engines; ties (same rank pair in
    * both systems) break on doc_id.
    */
  private val ir2 = QueryDef("ir_rrf_fusion",
    Some(bm25RankedCtes +
      s""",
         |lex AS (SELECT query_id, doc_id, cast(rn as bigint) AS lex_rank
         |        FROM ranked WHERE rn <= 10),
         |dpairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |    ${cosGuardSql("q", "c")} AS cos
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id IN (1, 2, 3) AND c.vec_id <> q.vec_id),
         |dranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                         ORDER BY cos DESC, doc_id) AS rn
         |            FROM dpairs WHERE cos IS NOT NULL AND NOT isnan(cos)),
         |dense AS (SELECT query_id, doc_id, cast(rn as bigint) AS dense_rank
         |          FROM dranked WHERE rn <= 10),
         |fused AS (
         |  SELECT coalesce(l.query_id, de.query_id) AS query_id,
         |         coalesce(l.doc_id, de.doc_id) AS doc_id,
         |         l.lex_rank, de.dense_rank,
         |         coalesce(cast(1.0 as double) / cast(l.lex_rank + 60 as double), cast(0.0 as double)) +
         |         coalesce(cast(1.0 as double) / cast(de.dense_rank + 60 as double), cast(0.0 as double)) AS rrf_score
         |  FROM lex l FULL OUTER JOIN dense de
         |    ON de.query_id = l.query_id AND de.doc_id = l.doc_id),
         |franked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                         ORDER BY rrf_score DESC, doc_id) AS fr FROM fused)
         |SELECT query_id, cast(fr as bigint) AS fused_rank, doc_id,
         |       lex_rank, dense_rank, rrf_score
         |FROM franked WHERE fr <= 10 ORDER BY query_id, fused_rank""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = bm25TopK(s, d)
        .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rank"))
      val dense = Similarity.bruteForceTopK(
          emb(s, d), emb(s, d).filter(col("vec_id").isin(1, 2, 3)), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("dense_rank"))
      val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"), col("lex_rank"), col("dense_rank"),
          (coalesce(lit(1.0) / (col("lex_rank") + 60).cast("double"), lit(0.0)) +
           coalesce(lit(1.0) / (col("dense_rank") + 60).cast("double"), lit(0.0))).as("rrf_score"))
      val w = Window.partitionBy("query_id").orderBy(col("rrf_score").desc, col("doc_id"))
      fused.select(col("query_id"), row_number().over(w).cast("long").as("fused_rank"),
          col("doc_id"), col("lex_rank"), col("dense_rank"), col("rrf_score"))
        .filter(col("fused_rank") <= 10)
        .orderBy("query_id", "fused_rank")
    })

  /** Importance-resampling weights for data selection (DSIR — Xie et al.,
    * NeurIPS 2023 — in its unigram-LM form; the paper's hashed-n-gram
    * variant would be oracle-less, the unigram variant is exactly
    * replayable in ANSI SQL): per-document log importance weight
    * `log w(d) = Σ_t tf_t(d) · [ln p_target(t) − ln p_raw(t)]` with add-1
    * smoothing over the joint vocabulary. Target distribution = the 'en'
    * slice of the corpus (the quality domain we want more of), raw = the
    * whole corpus. Documents with high `log_w_per_tok` look more like the
    * target domain and survive resampling.
    *
    * Scale shape: ONE corpus tokenization into (doc, term, tf); term-level
    * LM counts are a second aggregate over the tf rows keyed by term (both
    * LMs ride the SAME aggregate as conditional sums — never two corpus
    * passes); vocabulary totals ride a broadcast 1-row; the per-term log
    * ratio is integer-floored at 1e-4 and multiplied by integer tf, so the
    * per-doc Σ is an order-proof integer sum under any partitioning. The
    * tf ⋈ ratio join is term-keyed on both sides (vocab-sized ratio table;
    * co-partitioned hash join at scale, broadcast at small SF — either
    * plan is correct).
    */
  private val ir3 = QueryDef("tx_dsir_weights",
    Some("""WITH toks AS (
           |  SELECT doc_id, lang, unnest(string_split_regex(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\s+')) AS term
           |  FROM documents),
           |terms AS (SELECT doc_id, lang, term FROM toks WHERE length(term) > 0),
           |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM terms GROUP BY 1, 2, 3),
           |stats AS (SELECT term,
           |            cast(sum(tf) as bigint) AS rcnt,
           |            cast(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) as bigint) AS tcnt
           |          FROM tf GROUP BY 1),
           |tot AS (SELECT cast(sum(rcnt) as bigint) AS r_tot,
           |               cast(sum(tcnt) as bigint) AS t_tot,
           |               count(*) AS v FROM stats),
           |ratio AS (SELECT term,
           |            cast(floor((ln(cast(tcnt + 1 as double) / cast(t_tot + v as double))
           |                      - ln(cast(rcnt + 1 as double) / cast(r_tot + v as double)))
           |                 * 10000 + 0.5) as bigint) AS ci_unit
           |          FROM stats CROSS JOIN tot),
           |pd AS (SELECT tf.doc_id, cast(sum(ci_unit * tf) as bigint) AS ci,
           |              cast(sum(tf) as bigint) AS n_tok
           |       FROM tf JOIN ratio USING (term) GROUP BY 1)
           |SELECT doc_id, n_tok, cast(ci as double) / 10000 AS log_w,
           |       cast(ci as double) / 10000 / cast(n_tok as double) AS log_w_per_tok
           |FROM pd ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val terms = graft.operators.Guards.spread(
          docs(s, d).filter(col("doc_id").isNotNull)
            .select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"),
          explode(TextFunctions.tokens(TextFunctions.asciiLower(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
      val tf = terms.groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
      val stats = tf.groupBy("term").agg(
        sum(col("tf")).as("rcnt"),
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("tcnt"))
      val tot = stats.agg(sum(col("rcnt")).as("r_tot"), sum(col("tcnt")).as("t_tot"),
        count(lit(1)).as("v"))
      val ratio = stats.crossJoin(broadcast(tot))
        .select(col("term"),
          floor((log((col("tcnt") + 1).cast("double") / (col("t_tot") + col("v")).cast("double")) -
                 log((col("rcnt") + 1).cast("double") / (col("r_tot") + col("v")).cast("double")))
            * 10000 + 0.5).cast("long").as("ci_unit"))
      tf.join(ratio, "term")
        .groupBy("doc_id")
        .agg(sum(col("ci_unit") * col("tf")).as("ci"), sum(col("tf")).as("n_tok"))
        .select(col("doc_id"), col("n_tok"),
          (col("ci").cast("double") / 10000).as("log_w"),
          (col("ci").cast("double") / 10000 / col("n_tok").cast("double")).as("log_w_per_tok"))
        .orderBy("doc_id")
    })

  /** Retrieval-quality evaluation — MRR and nDCG@10 (Järvelin & Kekäläinen,
    * TOIS 2002) of the dense cosine ranking, with "relevant = shares the
    * query's label" as graded-binary ground truth. The eval-metric
    * counterpart to tx_eval_auc for ranked retrieval: a training-data
    * pipeline that builds a retrieval index needs its quality measured
    * inside the same engine.
    *
    * Scale shape: ranking cost is bruteForceTopK's (queries broadcast,
    * corpus scored map-side, bounded top-k); the eval itself touches
    * k·|queries| ranked rows joined to two broadcast-sized sides (the
    * query labels and the per-label corpus counts). Cross-engine: each
    * position's DCG gain 1/log2(rank+1) is irrational, so per-position
    * gains are floored to integers at 1e-6 BEFORE the per-query sum
    * (order-proof); nDCG divides the two integer-derived doubles, and MRR
    * is a single exact division.
    */
  private val ir4 = QueryDef("ir_ndcg_eval",
    Some(s"""WITH pairs AS (
            |  SELECT q.vec_id AS query_id, q.label AS qlabel,
            |         c.vec_id AS neighbor_id, c.label AS nlabel,
            |    ${cosGuardSql("q", "c")} AS cos
            |  FROM embeddings q, embeddings c
            |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
            |ranked AS (
            |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            |  FROM pairs WHERE cos IS NOT NULL AND NOT isnan(cos)),
            |top AS (SELECT query_id, qlabel, rank,
            |          CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END AS rel
            |        FROM ranked WHERE rank <= 10),
            |nrel AS (SELECT q.vec_id AS query_id, count(*) AS n_rel
            |         FROM embeddings q JOIN embeddings c
            |           ON c.label = q.label AND c.vec_id <> q.vec_id
            |         WHERE q.vec_id < 10 GROUP BY 1),
            |perq AS (
            |  SELECT query_id,
            |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
            |    cast(sum(rel * cast(floor(1000000 / (ln(cast(rank + 1 as double)) / ln(cast(2.0 as double))) + 0.5) as bigint)) as bigint) AS dcg_i
            |  FROM top GROUP BY 1),
            |ideal AS (
            |  SELECT n.query_id, n.n_rel,
            |    cast(sum(cast(floor(1000000 / (ln(cast(g.rank + 1 as double)) / ln(cast(2.0 as double))) + 0.5) as bigint)) as bigint) AS idcg_i
            |  FROM nrel n JOIN (SELECT unnest(range(1, 11)) AS rank) g
            |    ON g.rank <= least(n.n_rel, 10)
            |  GROUP BY 1, 2)
            |SELECT p.query_id, i.n_rel, p.first_rel_rank,
            |  CASE WHEN p.first_rel_rank IS NULL THEN cast(0.0 as double)
            |       ELSE cast(1.0 as double) / cast(p.first_rel_rank as double) END AS mrr,
            |  cast(p.dcg_i as double) / 1000000 AS dcg10,
            |  cast(i.idcg_i as double) / 1000000 AS idcg10,
            |  CASE WHEN i.idcg_i = 0 THEN cast(0.0 as double)
            |       ELSE cast(p.dcg_i as double) / cast(i.idcg_i as double) END AS ndcg10
            |FROM perq p JOIN ideal i USING (query_id)
            |ORDER BY query_id""".stripMargin),
    (s, d) => {
      val e = emb(s, d)
      val labels = e.select(col("vec_id"), col("label"))
      val ranked = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 10)
      // gain at a rank position, integer-floored at 1e-6 (see Scaladoc)
      def gainI(rank: Column): Column =
        floor(lit(1000000) / (log(rank.cast("double") + 1) / log(lit(2.0))) + 0.5).cast("long")
      // Broadcast the RANKED LISTS (k × |queries| rows, bounded) into the
      // corpus-sized labels table, not the other way around — the prior
      // broadcast(labels) shipped |corpus| rows to the driver, backwards
      // at scale (round-9 blind-broadcast audit).
      val top = ranked.hint("broadcast")
        .join(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "qlabel"), "query_id")
        .hint("broadcast")
        .join(labels.withColumnRenamed("vec_id", "neighbor_id")
          .withColumnRenamed("label", "nlabel"), "neighbor_id")
        .select(col("query_id"), col("rank"),
          when(col("nlabel") === col("qlabel"), 1).otherwise(0).as("rel"))
      val perq = top.groupBy("query_id").agg(
        min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"),
        sum(col("rel") * gainI(col("rank"))).as("dcg_i"))
      val nrel = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label"))
        .join(broadcast(e.groupBy("label").agg(count(lit(1)).as("n_label"))), "label")
        .select(col("query_id"), (col("n_label") - 1).as("n_rel"))
      val ideal = nrel
        // n_rel = 0 must DROP the query (as the oracle's g.rank <= least(..)
        // inner join does): Spark's two-arg sequence counts DOWN when
        // start > stop, so sequence(1, 0) = [1, 0] and the rank-0 ideal
        // gain divides by log2(1) = 0 — an ANSI DIVIDE_BY_ZERO
        .filter(col("n_rel") > 0)
        .select(col("query_id"), col("n_rel"),
          explode(sequence(lit(1), least(col("n_rel"), lit(10)).cast("int"))).as("rank"))
        .groupBy("query_id", "n_rel")
        .agg(sum(gainI(col("rank"))).as("idcg_i"))
      perq.join(ideal, "query_id")
        .select(col("query_id"), col("n_rel"), col("first_rel_rank"),
          when(col("first_rel_rank").isNull, lit(0.0))
            .otherwise(lit(1.0) / col("first_rel_rank").cast("double")).as("mrr"),
          (col("dcg_i").cast("double") / 1000000).as("dcg10"),
          (col("idcg_i").cast("double") / 1000000).as("idcg10"),
          when(col("idcg_i") === 0, lit(0.0))
            .otherwise(col("dcg_i").cast("double") / col("idcg_i").cast("double")).as("ndcg10"))
        .orderBy("query_id")
    })

  /** Pseudo-relevance feedback query expansion (Rocchio 1971, in the
    * two-pass BM25 form Lucene/Terrier ship as "RM"-style expansion):
    * pass 1 ranks with the original terms; the top-3 documents per query
    * are ASSUMED relevant; each query mines the 2 highest-weighted new
    * terms from its feedback docs (weight = feedback tf × the same RSJ idf
    * BM25 uses, integer arithmetic end-to-end); pass 2 re-ranks with the
    * expanded term set.
    *
    * Scale shape: both BM25 passes keep ir_bm25's shape (query terms
    * broadcast into the postings, bounded top-k aggregator) and their
    * corpus-tokenization subtrees canonicalize equal, so the corpus
    * tokenizes ONCE across the two passes (AQE-off gate in PlanCheck).
    * The feedback set is k·|queries| ids broadcast into the postings to
    * pull candidate terms; candidate df rides the same pruned-aggregate
    * shape as dft. Everything between the passes is query-workload-sized.
    */
  private val ir5 = QueryDef("ir_prf_expansion",
    Some(bm25RankedCtes +
      """,
        |fb AS (SELECT query_id, doc_id FROM ranked WHERE rn <= 3),
        |fbtf AS (SELECT f.query_id, tf.term, cast(sum(tf.tf) as bigint) AS fb_tf
        |         FROM tf JOIN fb f USING (doc_id) GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf
        |        WHERE term IN (SELECT DISTINCT term FROM fbtf) GROUP BY 1),
        |cand AS (
        |  SELECT fbtf.query_id, fbtf.term,
        |    fbtf.fb_tf * cast(floor(
        |      ln((cast(st.n_docs - dfc.df as double) + 0.5) / (cast(dfc.df as double) + 0.5) + 1.0)
        |      * 10000 + 0.5) as bigint) AS score_i
        |  FROM fbtf JOIN dfc USING (term) CROSS JOIN st
        |  WHERE NOT EXISTS (SELECT 1 FROM qt
        |                    WHERE qt.query_id = fbtf.query_id AND qt.term = fbtf.term)),
        |mined AS (SELECT query_id, term FROM
        |  (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                ORDER BY score_i DESC, term) AS mr FROM cand)
        |  WHERE mr <= 2),
        |qt2 AS (SELECT query_id, term FROM qt UNION ALL SELECT query_id, term FROM mined),
        |dft2 AS (SELECT term, count(*) AS df FROM tf
        |         WHERE term IN (SELECT DISTINCT term FROM qt2) GROUP BY 1),
        |si2 AS (
        |  SELECT q.query_id, tf.doc_id,
        |    cast(floor(
        |      (ln((cast(st.n_docs - dft2.df as double) + 0.5) / (cast(dft2.df as double) + 0.5) + 1.0)
        |       * ((cast(tf.tf as double) * 2.2) /
        |          (cast(tf.tf as double) + 1.2 *
        |           (0.25 + 0.75 * (cast(dl.dl as double) /
        |                           (cast(st.n_terms as double) / st.n_docs))))))
        |      * 10000 + 0.5) as bigint) AS s
        |  FROM tf JOIN qt2 q USING (term) JOIN dft2 USING (term)
        |       JOIN dl USING (doc_id) CROSS JOIN st),
        |sc2 AS (SELECT query_id, doc_id, cast(sum(s) as bigint) AS s_int FROM si2 GROUP BY 1, 2),
        |ranked2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |                                         ORDER BY s_int DESC, doc_id) AS rn FROM sc2)
        |SELECT query_id, cast(rn as bigint) AS rnk, doc_id,
        |       cast(s_int as double) / 10000 AS score
        |FROM ranked2 WHERE rn <= 10 ORDER BY query_id, rnk""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val qt = defaultQt(s)
      val fb = bm25TopKFor(s, d, qt, k = 3).select(col("query_id"), col("doc_id"))
      // identical construction to bm25TopKFor's internals (one shared
      // bm25Terms) → same canonical subtrees, one physical tokenization
      // across the passes
      val base = docs(s, d)
      val terms = bm25Terms(base)
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // mining's idf needs ONLY n_docs — a zero-column count scan. Pulling
      // the full (n_docs, n_terms) stats row here would drag a pruned copy
      // of the n_terms tokenization branch into this subtree, which stops
      // canonicalizing against the passes' stats and re-tokenizes the
      // corpus a third time.
      val nDocs = base.agg(count(lit(1)).as("n_docs"))
      val fbtf = tf.join(broadcast(fb), "doc_id")
        .groupBy("query_id", "term").agg(sum(col("tf")).as("fb_tf"))
      // The filter is a tautology (fb_tf is a sum of tf ≥ 1) but it keeps
      // the candidate-vocabulary branch REFERENCING fb_tf: a bare
      // .select("term").distinct() lets Catalyst prune fbtf's sum to a
      // keys-only aggregate, whose tokenize subtree then stops
      // canonicalizing equal to the counted tf exchange — the corpus would
      // tokenize a second time (the dft lesson above, recurring).
      val dfc = tf.join(
          broadcast(fbtf.filter(col("fb_tf") >= 1).select("term").distinct()), "term")
        .groupBy("term").agg(count(when(col("tf") >= 1, 1)).as("df"))
      val idfI = floor(log(
        ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)) * 10000 + lit(0.5)).cast("long")
      val cand = fbtf.join(broadcast(dfc), "term")
        .crossJoin(broadcast(nDocs))
        .join(qt, Seq("query_id", "term"), "left_anti")
        .select(col("query_id"), col("term"), (col("fb_tf") * idfI).as("score_i"))
      val mined = cand
        .withColumn("mr", row_number().over(
          Window.partitionBy("query_id").orderBy(col("score_i").desc, col("term"))))
        .filter(col("mr") <= 2)
        .select("query_id", "term")
      val qt2 = qt.unionByName(mined)
      bm25TopKFor(s, d, qt2, k = 10).orderBy("query_id", "rnk")
    })

  val all: Seq[QueryDef] = Seq(
    tx1, tx2, tx3, tx4, tx5, tx6, tx7, tx8, tx9, tx10, tx11, tx12, tx13, tx14, tx15, tx16, tx17, tx18, tx19, tx20, tx21,
    dd1, dd2, dd3, dd4, dd5, dd6, dd7, dd8, dd9,
    sm1, sm2, sm2r, sm2rad, sm2m, sm3, sm4, sm5, sm6, sm7, sm8, sm9,
    mm1, mm2, mm3, pl1, pl2, pl3, pl4, ir1, ir2, ir3, ir4, ir5, tx22, tx23, tx24, tx25)
}
