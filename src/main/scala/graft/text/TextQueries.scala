package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Dispatch
import graft.util.Seal._

/** SURVEY.md §2 block C1–C5: text-pipeline operators over `documents`.
  *
  * Everything is native column math / higher-order array functions — no
  * UDFs — so the expressions inline into whole-stage codegen and the scan
  * keeps column pruning (only `doc_id`/`text` are read). Each operator
  * has a DuckDB SQL twin computing the identical integer arithmetic;
  * doubles appear only as one final division + round(…,6) (SURVEY.md §5).
  */
object TextQueries {

  /** Portable token hash: length·1009 + 31·first-char + last-char code.
    * Engine-neutral (no murmur/xxhash), collision-tolerant — consumers
    * (fingerprint, minhash, simhash) only need determinism.
    */
  def tokenHash(w: Column): Column =
    (length(w) * lit(1009L) + ascii(substring(w, 1, 1)) * lit(31L) + ascii(substring(w, -1, 1)))
      .cast("long")

  def tokenHashSql(w: String): String =
    s"CAST(length($w)*1009 + ascii(left($w,1))*31 + ascii(right($w,1)) AS BIGINT)"

  /** Whitespace tokens. On THIS Spark (4.1.2) `split('', ' ')` returns
    * `['']` — same as DuckDB's `string_split` — so no empty-text special
    * case is needed: an empty (non-NULL) text tokenizes to ONE empty
    * token on both engines, which every token-derived stat (cls scores,
    * vocab counts, drift, fertility) depends on (fuzz seed 1 caught the
    * r14 divergence across eight C-block keys when the two sides
    * disagreed here). NULL text stays NULL on both engines. The
    * assumption is PINNED by TextQueriesSpec's "engine pin" test — if a
    * Spark upgrade changes the `['']` behavior, that spec (not a silent
    * oracle hash drift) is what breaks.
    */
  def tokens(c: Column): Column = split(c, " ")

  // ---------------------------------------------------------------- C1
  /** Exact dedup, keep-min-id per identical text: one hash-agg shuffle on
    * the text key; at 100 TB swap the raw text key for sha2(text) to
    * shuffle 32 bytes/row instead of the document (same semantics).
    */
  def c1DedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  val c1Sql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM fdoc GROUP BY text ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- C2
  /** Token counting: whitespace tokens + a BPE-ish piece regex
    * (letter-runs / digit-runs / single other-glyphs). Pure map-side.
    */
  def c2TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]")).cast("long").as("bpe_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  val c2Sql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS bpe_tokens,
      |  n_chars
      |FROM fdoc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C3
  /** Quality features: stopword ratio, punctuation count, mean token
    * length, composite score. Exact integer counts; doubles only in the
    * final ratio (identical expression both engines).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /** THE composite quality score over (stop_cnt, n_tokens) — one
    * formula string that C3, C36 (via [[gateCols]]) and the D13 stream
    * gate all instantiate (Spark `div` / DuckDB `//` spelled via the
    * placeholder), so the batch score, the batch gate and the
    * ingest-time stream gate can never drift.
    */
  private[text] val QualityMicroFormula: String =
    "(stop_cnt * 300000) {div} n_tokens + least(n_tokens, 200) * 3500"

  private[text] def qualityMicro: Column =
    expr(QualityMicroFormula.replace("{div}", "div"))

  private[text] val QualityMicroSql: String =
    QualityMicroFormula.replace("{div}", "//")

  def c3QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stopCnt = size(filter(toks, t => t.isin(Stopwords: _*))).cast("long")
    val punctCnt = regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
        stopCnt.as("stop_cnt"), punctCnt.as("punct_cnt"))
      // micro-unit (1e-6) ratios via integer division: exact on every
      // engine, no double rounding ties (SURVEY.md §5)
      .withColumn("stop_ratio_micro", expr("(stop_cnt * 1000000) div n_tokens"))
      .withColumn("mean_token_len_micro",
        expr("((n_chars - n_tokens + 1) * 1000000) div n_tokens"))
      .withColumn("quality_micro", qualityMicro)
      .drop("n_chars")
      .orderBy("doc_id")
  }

  val c3Sql: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS BIGINT) AS stop_cnt,
       |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS punct_cnt
       |  FROM fdoc
       |)
       |SELECT doc_id, n_tokens, stop_cnt, punct_cnt,
       |  (stop_cnt * 1000000) // n_tokens AS stop_ratio_micro,
       |  ((n_chars - n_tokens + 1) * 1000000) // n_tokens AS mean_token_len_micro,
       |  $QualityMicroSql AS quality_micro
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C4
  /** Language ID by character-bigram profile: each language scores a
    * weighted count of three characteristic bigrams; argmax with a fixed
    * precedence. Output is the (lang, guess) confusion matrix — one
    * map-side pass plus a tiny agg.
    */
  val LangProfiles: Seq[(String, Seq[(String, Int)])] = Seq(
    "en" -> Seq("th" -> 3, "he" -> 2, "er" -> 2),
    "es" -> Seq("ll" -> 3, "os" -> 2, "ar" -> 2),
    "de" -> Seq("ch" -> 3, "ei" -> 2, "en" -> 2),
    "fr" -> Seq("ou" -> 3, "le" -> 2, "es" -> 2),
    "zh" -> Seq("sh" -> 3, "ng" -> 2, "an" -> 2))

  def c4LangId(spark: SparkSession, dir: String): DataFrame = {
    val scores = LangProfiles.map { case (lg, grams) =>
      lg -> grams.map { case (g, w) => regexp_count(col("text"), lit(g)).cast("long") * lit(w.toLong) }
        .reduce(_ + _)
    }
    // argmax with precedence = profile order
    val guess = LangProfiles.init.foldRight(lit(LangProfiles.last._1)) { case ((lg, _), els) =>
      val s = scores.toMap.apply(lg)
      when(scores.filter(_._1 != lg).map(_._2).map(o => s >= o).reduce(_ && _), lit(lg)).otherwise(els)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), guess.as("guess"))
      .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")
  }

  val c4Sql: String = {
    val scoreExpr = LangProfiles.map { case (lg, grams) =>
      val e = grams.map { case (g, w) => s"$w * len(regexp_extract_all(text, '$g'))" }.mkString(" + ")
      lg -> s"CAST($e AS BIGINT)"
    }
    val defs = scoreExpr.map { case (lg, e) => s"$e AS s_$lg" }.mkString(",\n    ")
    val langs = LangProfiles.map(_._1)
    val cases = langs.init.map { lg =>
      val conds = langs.filter(_ != lg).map(o => s"s_$lg >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$lg'"
    }.mkString("\n      ")
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    $defs
       |  FROM fdoc
       |), g AS (
       |  SELECT lang,
       |    CASE $cases ELSE '${langs.last}' END AS guess
       |  FROM s
       |)
       |SELECT lang, guess, COUNT(*) AS n FROM g
       |GROUP BY lang, guess ORDER BY lang, guess""".stripMargin
  }

  // ---------------------------------------------------------------- C5
  /** Rolling polynomial document fingerprint:
    * fp = foldLeft over tokens of (acc·1000003 + tokenHash) mod 1e9+7.
    * Left-fold via `aggregate` — same order and arithmetic in DuckDB's
    * `list_reduce` (init prepended), so hashes match bit-for-bit.
    */
  val FpB = 1000003L
  val FpM = 1000000007L

  def c5Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        aggregate(transform(tokens(col("text")), tokenHash _), lit(0L),
          (acc, h) => (acc * lit(FpB) + h) % lit(FpM)).as("fingerprint"))
      .orderBy("doc_id")

  val c5Sql: String =
    s"""SELECT doc_id,
       |  CASE WHEN text IS NULL THEN NULL ELSE list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '), w -> ${tokenHashSql("w")})),
       |    (acc, h) -> (acc * $FpB + h) % $FpM) END AS fingerprint
       |FROM fdoc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C14
  /** Corpus vocabulary: token frequencies with doc frequencies, top 30.
    * Map-side explode + partially-aggregated count — the shuffle carries
    * one row per distinct (partition, token), not per token occurrence.
    */
  val VocabTopK = 30

  def c14VocabTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(VocabTopK)

  val c14Sql: String =
    s"""SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
       |FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM fdoc)
       |GROUP BY token
       |ORDER BY tf DESC, token
       |LIMIT $VocabTopK""".stripMargin

  // ---------------------------------------------------------------- C15
  /** Document length histogram (width-50 char buckets) with per-bucket
    * token mass — the at-a-glance corpus shape check every data pipeline
    * runs before training. Single partial-agg shuffle.
    */
  val HistBucket = 50L

  def c15LengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(expr(s"(n_chars div $HistBucket) * $HistBucket").as("bucket_lo"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("bucket_lo")

  val c15Sql: String =
    s"""SELECT (n_chars // $HistBucket) * $HistBucket AS bucket_lo,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
       |FROM fdoc
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- C21
  /** TF-IDF top terms per document — the keyword/topic signal feeding
    * corpus curation and per-domain sampling. Two partial-agg shuffles
    * (term counts per doc, then doc frequencies per term) + one window
    * ranked within each doc; the corpus size joins in as a broadcast
    * 1-row aggregate, never a driver-side constant. idf = ln((N+1)/
    * (df+1)) (smoothed), computed with the identical double expression
    * on both engines, rounded only at the end.
    */
  val TfidfTopK = 3

  def c21TfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf").cast("double")
        * log((col("n_docs") + lit(1L)).cast("double") / (col("df") + lit(1L)).cast("double")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  val c21Sql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM fdoc)
       |  GROUP BY doc_id, term
       |), dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM fdoc)
       |SELECT doc_id, term, tf, df, tfidf, rnk FROM (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |    round(CAST(t.tf AS DOUBLE)
       |      * ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)), 6) AS tfidf,
       |    ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY
       |      round(CAST(t.tf AS DOUBLE)
       |        * ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)), 6) DESC,
       |      t.term) AS rnk
       |  FROM tf t JOIN dfreq d ON d.term = t.term CROSS JOIN n
       |) WHERE rnk <= $TfidfTopK
       |ORDER BY doc_id, rnk""".stripMargin

  // ---------------------------------------------------------------- C22
  /** Exact per-language length quantiles (p50/p90/p99 of n_chars) — the
    * corpus-shape numbers a curation pipeline gates on. EXACT discrete
    * quantiles (value at rank ceil(q·n) in n_chars order) WITHOUT ever
    * sorting a language's documents in one task: the value at a rank
    * only depends on the value HISTOGRAM, so phase 1 collapses the
    * corpus to per-(lang, n_chars) counts — a map-side-combinable
    * aggregate that shuffles one row per distinct value — and phase 2
    * runs the running-sum CDF window per language over those distinct
    * values. p_q = min n_chars with cum ≥ ceil(q·n), which is exactly
    * the sorted-position value (ties collapse into one histogram row,
    * so no tiebreaker is even needed). Per-task work is bounded by the
    * VALUE DOMAIN (langs × distinct lengths), independent of document
    * count — a 90%-one-language 100 TB corpus costs the same tiny
    * window as a uniform one (ScaleSmoke.c22DominantLang pins this),
    * where the former one-ranked-window-per-language form sorted the
    * dominant language's entire corpus in a single task.
    */
  def c22LengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    lengthQuantilesOn(Tables.documents(spark, dir))

  /** The operator body on any (lang, n_chars) frame — ScaleSmoke drives
    * this same code at 10M docs with a 90% dominant language.
    */
  def lengthQuantilesOn(docs: DataFrame): DataFrame =
    quantilesFromHistogram(
      docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt")))

  /** Phase 2 (the CDF walk) on any (lang, n_chars, cnt) histogram — the
    * ONE finalize definition shared by the batch c22 and the D18
    * streaming execution, whose complete-mode state IS this histogram.
    */
  def quantilesFromHistogram(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL n_chars (NULL-text docs, fuzz seed 1) are not part of the
    // length distribution — and Spark's ASC window sorts them FIRST
    // where DuckDB sorts them LAST, so keeping them shifts every rank
    val wCum = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("lang")
    def pick(q: Double) =
      min(when(col("cum") >= ceil(lit(q) * col("n")).cast("long"), col("n_chars")))
    hist
      // here, not only in the batch builder: D18's streaming state
      // histogram feeds this finalize too
      .filter(col("n_chars").isNotNull)
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy("lang")
      .agg(max(col("n")).as("n_docs"), pick(0.5).as("p50"),
        pick(0.9).as("p90"), pick(0.99).as("p99"))
      .orderBy("lang")
  }

  val c22Sql: String =
    """WITH r AS (
      |  SELECT lang, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM fdoc WHERE n_chars IS NOT NULL
      |)
      |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
      |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p50,
      |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p90,
      |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p99
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- C23
  /** Deterministic train/val/test split — reproducible hash-based
    * assignment (NEVER rand(): re-runs and late-arriving shards must
    * land identically), reported as per-(lang, split) doc and token
    * mass. The split hash is the same explicit affine family as the
    * dedup hashes (SURVEY §5), keyed on doc_id; 80/10/10. Pure map-side
    * assignment + one partial-agg shuffle.
    */
  def c23SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("split", splitCol)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("sum_tokens"))
      .orderBy("lang", "split")
  }

  val c23Sql: String =
    """SELECT lang,
      |  CASE WHEN (doc_id * 2654435761 + 40503) % 100 < 80 THEN 'train'
      |       WHEN (doc_id * 2654435761 + 40503) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |FROM fdoc
      |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  // ---------------------------------------------------------------- C24
  /** Adjacent-token pairs, extracted MAP-SIDE: each token array is
    * zipped with its own tail inside the scan stage — no per-doc window,
    * so bigram extraction costs zero shuffles at any corpus size (the
    * lead-window formulation shuffles and sorts every token once just
    * to look one position ahead). Docs with fewer than 2 tokens have no
    * pairs and drop here, matching the window form's IS NOT NULL.
    */
  private def bigramPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"""
          .stripMargin)).as("pair"))
      .select(col("doc_id"), col("pair.w1").as("w1"), col("pair.w2").as("w2"))

  /** Bigram language-model counts — the n-gram statistics a data
    * pipeline feeds into contamination checks and perplexity-ish
    * filters. Map-side pair extraction ([[bigramPairs]]), aggregated
    * into bigram counts joined with unigram context counts; the
    * conditional probability is exact integer micro-units. Top
    * [[BigramTopK]] by raw count with a total tiebreak. Scale shape:
    * both aggs are partial-agg shuffles and the unigram join key is the
    * context word; the oracle twin keeps the definitional lead-window
    * form, proving the zip extraction equivalent.
    */
  val BigramTopK = 50

  def c24BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val pairs = bigramPairs(spark, dir)
    val uni = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_w1"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .join(uni, "w1")
      .withColumn("cond_micro", expr("n_pair * 1000000 div n_w1"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(BigramTopK)
  }

  val c24Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |    UNNEST(string_split(text, ' ')) AS w1
       |  FROM fdoc
       |), pairs AS (
       |  SELECT w1, LEAD(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM toks
       |), pp AS (SELECT w1, w2 FROM pairs WHERE w2 IS NOT NULL),
       |uni AS (SELECT w1, COUNT(*) AS n_w1 FROM pp GROUP BY w1),
       |big AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pp GROUP BY w1, w2)
       |SELECT b.w1, b.w2, b.n_pair, u.n_w1, b.n_pair * 1000000 // u.n_w1 AS cond_micro
       |FROM big b JOIN uni u ON u.w1 = b.w1
       |ORDER BY b.n_pair DESC, b.w1, b.w2
       |LIMIT $BigramTopK""".stripMargin

  // ---------------------------------------------------------------- C25
  /** PII scan + redaction — the compliance pass every training corpus
    * takes before anything else. Three pattern classes (email, long digit
    * run, an entity-mention proxy `customer <word>` that actually occurs
    * in this corpus) are counted on the raw text and redacted
    * sequentially (same order both engines — leftmost-first,
    * non-overlapping in Java regex and RE2 alike), then the redacted text
    * is re-fingerprinted with the C5 rolling hash so downstream exact
    * dedup runs on the REDACTED corpus. Pure map-side: counts, replaces
    * and the fingerprint fold all inline into one codegen stage.
    */
  val PiiToken = "_pii_"
  /** (class name, regex valid in both Java regex and RE2). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "longnum" -> "[0-9]{6,}",
    "entity" -> "customer [a-z]+")

  def c25PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col("text")) { case (c, (_, pat)) =>
      regexp_replace(c, lit(pat), lit(PiiToken))
    }
    val counts = PiiPatterns.map { case (name, pat) =>
      regexp_count(col("text"), lit(pat)).cast("long").as(s"n_$name")
    }
    Tables.documents(spark, dir)
      .select(col("doc_id") +: counts :+ redacted.as("red"): _*)
      .select(col("doc_id"), col("n_email"), col("n_longnum"), col("n_entity"),
        length(col("red")).cast("long").as("redacted_len"),
        aggregate(transform(tokens(col("red")), tokenHash _), lit(0L),
          (acc, h) => (acc * lit(FpB) + h) % lit(FpM)).as("redacted_fp"))
      .orderBy("doc_id")
  }

  val c25Sql: String = {
    val red = PiiPatterns.foldLeft("text") { case (c, (_, pat)) =>
      s"regexp_replace($c, '$pat', '$PiiToken', 'g')"
    }
    val counts = PiiPatterns.map { case (name, pat) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_$name"
    }.mkString(",\n    ")
    s"""WITH r AS (
       |  SELECT doc_id,
       |    $counts,
       |    $red AS red
       |  FROM fdoc
       |)
       |SELECT doc_id, n_email, n_longnum, n_entity,
       |  CAST(length(red) AS BIGINT) AS redacted_len,
       |  CASE WHEN red IS NULL THEN NULL ELSE list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(red, ' '), w -> ${tokenHashSql("w")})),
       |    (acc, h) -> (acc * $FpB + h) % $FpM) END AS redacted_fp
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C26
  /** Per-document repetition signals (the Gopher-style quality gates):
    * duplicate-token fraction, most-frequent-token count, and
    * top-bigram mass fraction. Two partial-agg shuffles keyed on doc_id
    * (+ the token / bigram within); adjacency comes from the map-side
    * [[bigramPairs]] zip, so there is no window anywhere — no token
    * list ever collects to one row. Fractions are exact integer
    * micro-units (SURVEY §5).
    */
  def c26Repetition(spark: SparkSession, dir: String): DataFrame = {
    val uni = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max("cnt").as("top_token_cnt"))
    val bi = bigramPairs(spark, dir)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"), max("cnt").as("top_bigram_cnt"))
    uni.join(bi, Seq("doc_id"))
      .withColumn("dup_frac_micro", expr("(n_tokens - n_distinct) * 1000000 div n_tokens"))
      .withColumn("top_bigram_frac_micro", expr("top_bigram_cnt * 1000000 div n_bigrams"))
      .orderBy("doc_id")
  }

  val c26Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
      |    UNNEST(string_split(text, ' ')) AS w
      |  FROM fdoc
      |), uni AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
      |    MAX(cnt) AS top_token_cnt
      |  FROM (SELECT doc_id, w, COUNT(*) AS cnt FROM toks GROUP BY doc_id, w)
      |  GROUP BY doc_id
      |), pairs AS (
      |  SELECT doc_id, w, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM toks
      |), bi AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams, MAX(cnt) AS top_bigram_cnt
      |  FROM (SELECT doc_id, w, w2, COUNT(*) AS cnt FROM pairs WHERE w2 IS NOT NULL
      |        GROUP BY doc_id, w, w2)
      |  GROUP BY doc_id
      |)
      |SELECT u.doc_id, n_tokens, n_distinct, top_token_cnt, n_bigrams, top_bigram_cnt,
      |  (n_tokens - n_distinct) * 1000000 // n_tokens AS dup_frac_micro,
      |  top_bigram_cnt * 1000000 // n_bigrams AS top_bigram_frac_micro
      |FROM uni u JOIN bi b USING (doc_id) ORDER BY u.doc_id""".stripMargin

  // ---------------------------------------------------------------- C27
  /** Deterministic sequence packing — assign documents to fixed
    * token-budget training sequences (contiguous fill in doc_id order
    * within each source shard). The cumulative sum is one window per
    * source; shards are bounded (a real pipeline packs per input shard,
    * never globally), so no single task sees the whole corpus. seq_id /
    * seq_off are exact integer math — re-runs and backfills land
    * identically.
    */
  val SeqBudget = 2048L

  def c27DocPack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"(cum - n_tok) div $SeqBudget").as("seq_id"),
        expr(s"(cum - n_tok) % $SeqBudget").as("seq_off"))
      .orderBy("doc_id")
  }

  val c27Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
       |  FROM fdoc
       |), c AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT doc_id, source, n_tok,
       |  (cum - n_tok) // $SeqBudget AS seq_id,
       |  (cum - n_tok) % $SeqBudget AS seq_off
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C29
  /** Train/test contamination check — which training docs share a
    * [[ContamN]]-gram with any held-out test doc (the decontamination
    * pass every eval suite needs). Splits come from C23's deterministic
    * hash; n-grams are hashed with the C5 rolling family (screening on
    * hashes, exactly like production dedup/decontam passes). The test
    * side reduces to a DISTINCT hash set (tiny vs the corpus — at scale
    * it's the benchmark suite) and the match is one equi-join on the
    * hash, never a text comparison. Output: contaminated train docs with
    * their distinct overlapping-gram count.
    */
  val ContamN = 4

  /** Memoized DISTINCT (doc_id, gh) 4-gram hash table — C29 and C38
    * both start from exactly this frame (same k, same fold hash), so it
    * materializes once per session (the GeoDerive.cells pattern).
    * Distinctness is harmless to C29: COUNT(DISTINCT gh) over raw grams
    * equals COUNT(*) over distinct pairs.
    */
  private val gramCache =
    new graft.util.Memo[(String, String), DataFrame]

  /** Column-level array of every [[ContamN]]-gram fold hash of `toks` —
    * the ONE gram definition shared by the batch screen ([[c29Contamination]]
    * / C38 via [[distinctGrams]]) and D14's stateless streaming screen.
    * Caller must pre-filter `size(toks) >= ContamN` (Spark's `sequence`
    * reverses direction for an empty range).
    */
  def gramHashes(toks: Column): Column = rollingGramHashes(toks, ContamN)

  /** r18: every n-gram fold hash from the ONE-pass rolling prefix
    * array (the c33/c48 kernel) — the per-gram slice+fold form
    * re-hashed each token n times and allocated a slice per gram
    * (O(len·n) work and O(len) allocations per doc); the rolling
    * identity gh_i = (P[i+n−1] − bⁿ·P[i−1]) mod m is O(len) and
    * bit-identical (same polynomial, same modulus — the oracles keep
    * the definitional per-gram fold as the value gate). The prefix
    * array is referenced only OUTSIDE lambdas (slice operands), so a
    * collapsed projection re-evaluates it at most a constant number
    * of times per row — never per element (the c126 trap).
    */
  private def rollingGramHashes(toks: Column, n: Int): Column = {
    val bn = (1 to n).foldLeft(1L)((x, _) => (x * FpB) % FpM)
    val ph = graft.functions.hashes.rolling_hashes(
      transform(toks, tokenHash _), lit(FpB), lit(FpM))
    zip_with(
      slice(ph, lit(n), size(ph) - n + 1),
      concat(array(lit(0L)), slice(ph, lit(1), size(ph) - n)),
      (hi, lo) => ((hi - (lo * lit(bn)) % lit(FpM)) % lit(FpM) + lit(FpM)) % lit(FpM))
  }

  /** The deterministic 80/10/10 doc split (C23/C29/D14 — one definition). */
  def splitCol: Column = {
    val h = pmod(col("doc_id") * lit(2654435761L) + lit(40503L), lit(100L))
    when(h < 80, "train").when(h < 90, "val").otherwise("test")
  }

  def distinctGrams(spark: SparkSession, dir: String): DataFrame =
    gramCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      Tables.documents(spark, dir)
        .withColumn("toks", tokens(col("text")))
        .filter(size(col("toks")) >= ContamN)
        .select(col("doc_id"), explode(gramHashes(col("toks"))).as("gh"))
        .distinct()
        .seal())

  def c29Contamination(spark: SparkSession, dir: String): DataFrame = {
    val grams = distinctGrams(spark, dir).withColumn("split", splitCol)
    val test = grams.filter(col("split") === "test").select("gh").distinct()
    grams.filter(col("split") === "train")
      .join(test, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"))
      .orderBy("doc_id")
  }

  val c29Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN (doc_id * 2654435761 + 40503) % 100 < 80 THEN 'train'
       |         WHEN (doc_id * 2654435761 + 40503) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    string_split(text, ' ') AS toks
       |  FROM fdoc
       |), g AS (
       |  SELECT doc_id, split,
       |    UNNEST(list_transform(range(1, len(toks) - $ContamN + 2),
       |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(list_slice(toks, i, i + $ContamN - 1),
       |               w -> ${tokenHashSql("w")})),
       |           (acc, h) -> (acc * $FpB + h) % $FpM))) AS gh
       |  FROM d WHERE len(toks) >= $ContamN
       |), test AS (SELECT DISTINCT gh FROM g WHERE split = 'test')
       |SELECT g.doc_id, COUNT(DISTINCT g.gh) AS n_hit
       |FROM g JOIN test USING (gh) WHERE g.split = 'train'
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------- C30
  /** Domain mixing weights — per-source token mass with a sqrt-tempered
    * sampling weight (the domain-balancing step before training-set
    * assembly; sqrt tempering is the classic upweighting of small
    * domains). Weight is relative to the LARGEST source (max is exact
    * integer agg, so the only doubles are one sqrt-ratio computed with
    * the identical expression both sides — never a double SUM, whose
    * addition order is engine-dependent). One partial-agg shuffle + a
    * broadcast 1-row max.
    */
  def c30DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(regexp_count(col("text"), lit("\\S+")).cast("long")).as("sum_tokens"))
    val mx = bySource.agg(max("sum_tokens").as("max_tokens"))
    bySource.crossJoin(broadcast(mx))
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        floor(sqrt(col("sum_tokens").cast("double")) * lit(1000000.0)
          / sqrt(col("max_tokens").cast("double"))).cast("long").as("weight_micro"))
      .orderBy("source")
  }

  val c30Sql: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS sum_tokens
      |  FROM fdoc GROUP BY source
      |), m AS (SELECT MAX(sum_tokens) AS max_tokens FROM s)
      |SELECT source, n_docs, sum_tokens,
      |  CAST(floor(sqrt(CAST(sum_tokens AS DOUBLE)) * 1000000.0
      |    / sqrt(CAST(max_tokens AS DOUBLE))) AS BIGINT) AS weight_micro
      |FROM s CROSS JOIN m ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- C31
  /** Per-document LM score — the perplexity-style quality filter built on
    * the C24 bigram model: every adjacent-token occurrence in a document
    * looks up its corpus-wide conditional probability (integer
    * micro-units, the exact `n_pair·10⁶ div n_w1` C24 emits) and the
    * document aggregates count/sum/avg. A document whose bigrams are
    * corpus-typical scores high; token soup scores low. Scale shape: the
    * occurrence→model lookup is an equi-join on the bigram key (the
    * model is a shuffle hash join side, NOT a broadcast — a 100 TB
    * corpus has a model bigger than driver memory), then one partial-agg
    * shuffle on doc_id. Docs with fewer than 2 tokens have no bigrams
    * and drop out, same as the oracle.
    */
  def c31LmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoredDocs(spark, dir).orderBy("doc_id")

  /** The C31 per-doc score frame without the presentation sort — the ONE
    * scoring definition C57's bucketing builds on.
    *
    * Memoized per session+dir (the candCache pattern, DedupQueries C6):
    * C31 and C57 both consume this frame, and inside one evaluation the
    * bigram stream feeds THREE consumers (unigram counts, the bigram
    * model, the occurrence→model join) — without the two checkpoints
    * each consumer re-scans and re-explodes the documents table, which
    * is why C57 benched at 15.5 s while its own bucketing math is
    * sub-second. The per-doc result is one small row per document, so
    * the cached blocks are cheap to hold for the session.
    */
  private val lmScoreCache =
    new graft.util.Memo[(String, String), DataFrame]

  private def lmScoredDocs(spark: SparkSession, dir: String): DataFrame =
    lmScoreCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      val pairs = bigramPairs(spark, dir).seal()
      val uni = pairs.groupBy("w1").agg(count(lit(1)).as("n_w1"))
      val model = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
        .join(uni, "w1")
        .withColumn("cond_micro", expr("n_pair * 1000000 div n_w1"))
        .select("w1", "w2", "cond_micro")
      pairs.join(model, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("cond_micro").as("sum_cond_micro"))
        .withColumn("avg_cond_micro", expr("sum_cond_micro div n_bigrams"))
        .seal()
    })

  /** The C31 oracle as a reusable CTE chain ending in `perdoc` — shared
    * with the C57 bucketing oracle so both engines score through ONE
    * SQL definition, mirroring [[lmScoredDocs]] on the Spark side.
    */
  private val lmScoredCtes: String =
    """toks AS (
      |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
      |    UNNEST(string_split(text, ' ')) AS w1
      |  FROM fdoc
      |), pairs AS (
      |  SELECT doc_id, w1, LEAD(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM toks
      |), pp AS (SELECT doc_id, w1, w2 FROM pairs WHERE w2 IS NOT NULL),
      |uni AS (SELECT w1, COUNT(*) AS n_w1 FROM pp GROUP BY w1),
      |big AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pp GROUP BY w1, w2),
      |model AS (
      |  SELECT b.w1, b.w2, b.n_pair * 1000000 // u.n_w1 AS cond_micro
      |  FROM big b JOIN uni u USING (w1)
      |), perdoc AS (
      |  SELECT p.doc_id, COUNT(*) AS n_bigrams,
      |    CAST(SUM(m.cond_micro) AS BIGINT) AS sum_cond_micro,
      |    CAST(SUM(m.cond_micro) AS BIGINT) // COUNT(*) AS avg_cond_micro
      |  FROM pp p JOIN model m ON m.w1 = p.w1 AND m.w2 = p.w2
      |  GROUP BY p.doc_id
      |)""".stripMargin

  val c31Sql: String =
    s"""WITH $lmScoredCtes
       |SELECT doc_id, n_bigrams, sum_cond_micro, avg_cond_micro
       |FROM perdoc ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C105
  /** C105: domain-mixture reweighting by multiplicative weights over
    * per-domain excess loss — the DoReMi idea (Xie et al. 2023) with
    * the C31 bigram-LM score standing in for the proxy model: domains
    * whose documents score as corpus-ATYPICAL (low mean conditional
    * probability ⇒ high loss_micro = 1e6 − mean avg_cond_micro) carry
    * excess loss over the current mixture average and get multiplied
    * UP each round — the "learnable but not yet learned" domains a
    * static token-proportional mix (C30) underweights. Update per
    * round t: mixavg = Σwᵢlᵢ div Σwᵢ; excess = max(0, lᵢ − mixavg);
    * wᵢ ← wᵢ·(1e6 + (excess·1e6 div (mixavg+1)) div 4), renormalized
    * to Σw = 1e6 by truncating div — the linearized-exponential MW
    * step, all-BIGINT (max intermediate wp·1e6 ≤ 2·10¹⁸ < 2⁶³), so
    * [[MixIters]] rounds stay hash-identical cross-engine.
    *
    * Scale shape: the 100 TB work is the per-doc scoring (shared
    * memoized [[lmScoredDocs]] frame — already paid by C31/C57) plus
    * ONE doc→domain partial agg. The iterate then runs on the DOMAIN
    * table — K rows where K is the domain count (dozens to thousands
    * even at web scale), a driver-sized reduction by definition — so
    * the loop folds the collected K rows (the c102 nTotal precedent:
    * collecting a bounded reduction is not a driver-side scan) and the
    * result joins back as a K-row broadcast. No per-round corpus pass,
    * no per-round shuffle.
    */
  val MixIters = 8

  def c105Doremi(spark: SparkSession, dir: String): DataFrame =
    doremiWeights(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"))
        .join(lmScoredDocs(spark, dir).select("doc_id", "avg_cond_micro"), "doc_id"))

  /** The C105 body on any (source, avg_cond_micro) doc frame — the
    * curation pipeline reweights its curated TRAIN split through this
    * same definition (stage 9).
    */
  private[graft] def doremiWeights(perDoc: DataFrame): DataFrame = {
    val spark = perDoc.sparkSession
    val dom = perDoc
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("avg_cond_micro").as("s"))
      .select(col("source"), col("n_docs"),
        expr("1000000L - (s div n_docs)").as("loss_micro"))
    val rows = dom.select("source", "loss_micro")
      .limit(4097) // cap BEFORE collecting (the c111 guard pattern)
      .collect()
      // Option ordering: a NULL source (fuzz corpus) must sort, not NPE —
      // it participates in the weight-iteration mass exactly like the
      // oracle's w-chain, and drops from the OUTPUT via the null-unsafe
      // source join, also exactly like the oracle's USING (source)
      .map(r => (r.getString(0), r.getLong(1))).sortBy(r => Option(r._1))
    // 'source' is a bounded value domain (≤ ~10 labels); a
    // high-cardinality source column would make this driver fold a
    // scale hazard — fail loudly instead of quietly materializing it
    require(rows.length <= 4096,
      s"doremiWeights: ${rows.length} sources — expected a bounded domain")
    val k = rows.length.toLong
    val loss = rows.map(_._2)
    var w = rows.map(_ => 1000000L / k)
    for (_ <- 1 to MixIters) {
      val sw = w.sum
      val swl = w.zip(loss).map { case (a, b) => a * b }.sum
      val mixavg = swl / sw
      val wp = w.zip(loss).map { case (wi, li) =>
        val exc = math.max(0L, li - mixavg)
        wi * (1000000L + (exc * 1000000L / (mixavg + 1L)) / 4L)
      }
      val tot = wp.sum
      w = wp.map(x => x * 1000000L / tot)
    }
    import spark.implicits._
    val wdf = broadcast(rows.map(_._1).zip(w).toSeq.toDF("source", "w_micro"))
    dom.join(wdf, "source")
      .select(col("source"), col("n_docs"), col("loss_micro"), col("w_micro"))
      .orderBy("source")
  }

  val c105Sql: String = {
    def iter(t: Int): String =
      s"""s$t AS (
         |  SELECT CAST(SUM(w) AS BIGINT) AS sw,
         |    CAST(SUM(w * loss_micro) AS BIGINT) AS swl FROM w${t - 1}
         |), u$t AS (
         |  SELECT source, loss_micro,
         |    w * (1000000 + (GREATEST(0, loss_micro - swl // sw)
         |      * 1000000 // (swl // sw + 1)) // 4) AS wp
         |  FROM w${t - 1} CROSS JOIN s$t
         |), z$t AS (SELECT CAST(SUM(wp) AS BIGINT) AS tot FROM u$t),
         |w$t AS MATERIALIZED (
         |  SELECT source, loss_micro, (wp * 1000000) // tot AS w
         |  FROM u$t CROSS JOIN z$t
         |)""".stripMargin
    s"""WITH $lmScoredCtes,
       |dom AS MATERIALIZED (
       |  SELECT d.source, COUNT(*) AS n_docs,
       |    1000000 - (CAST(SUM(p.avg_cond_micro) AS BIGINT) // COUNT(*)) AS loss_micro
       |  FROM fdoc d JOIN perdoc p USING (doc_id)
       |  GROUP BY d.source
       |), kt AS (SELECT COUNT(*) AS k FROM dom),
       |w0 AS (SELECT source, loss_micro, 1000000 // k AS w FROM dom CROSS JOIN kt),
       |${(1 to MixIters).map(iter).mkString(",\n")}
       |SELECT d.source, d.n_docs, d.loss_micro, CAST(w.w AS BIGINT) AS w_micro
       |FROM dom d JOIN w$MixIters w USING (source)
       |ORDER BY d.source""".stripMargin
  }

  // --------------------------------------------------------------- C107
  /** C107: HyperLogLog vocabulary estimate per language — the registers
    * sketch (Flajolet et al. 2007; [[graft.functions.HllRegisters]],
    * m = 2⁸) against the exact distinct count on the same hashed
    * universe, with the estimate and its signed error laid side by
    * side: the "can I trust the sketch at this m" calibration every
    * cardinality dashboard needs before replacing COUNT(DISTINCT) at
    * 100 TB (where the exact count is a full shuffle of every distinct
    * key and the sketch is 256 bytes per group, mergeable).
    *
    * Hash = [[graft.functions.StrPolyHash]] (61-bit poly mod Mersenne
    * prime — the near-dup family's cheap token hash has no bit
    * dispersion and would wreck the sketch); the exact count is
    * COUNT(DISTINCT hash) so sketch and truth see the SAME universe
    * and the comparison isolates sketch error from hash collisions.
    * Registers are exact integers (hash-compared cross-engine via
    * reg_fp = Σ Mⱼ·(j+1)); the float estimate is derived from them
    * identically in both engines: raw = α₂₅₆·m²/Σ2^−Mⱼ (summed in
    * register order — one IEEE sequence), linear counting below 2.5 m
    * with zero registers present.
    */
  /** (lang, h) token-hash stream — shared by C107 and the D31 stream
    * twin (works on batch and streaming frames alike).
    */
  def hllTokenHashes(docs: DataFrame): DataFrame = docs
    .select(col("lang"), explode(tokens(col("text"))).as("token"))
    .select(col("lang"), graft.functions.hashes.str_poly_hash(col("token")).as("h"))

  /** Register-array finalize (fingerprint, zero count, HLL estimate) —
    * ONE derivation shared by C107 and D31's on-sink finalize, so both
    * engines and both execution modes estimate through the same IEEE
    * sequence.
    */
  def hllFinalize(withRegs: DataFrame): DataFrame = withRegs
    .withColumn("reg_fp", expr(
      "aggregate(zip_with(regs, sequence(1L, 256L), (m, j) -> m * j), 0L, (a, b) -> a + b)"))
    .withColumn("n_zero", size(expr("filter(regs, m -> m = 0)")).cast("long"))
    .withColumn("s_sum", expr(
      "aggregate(regs, CAST(0.0 AS DOUBLE), (acc, m) -> acc + pow(2.0, -m))"))
    .withColumn("raw", expr("(0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / s_sum"))
    .withColumn("est", round(
      when(col("raw") <= 640.0 && col("n_zero") > 0,
        expr("256.0 * ln(256.0 / n_zero)")).otherwise(col("raw")), 6))

  def c107HllVocab(spark: SparkSession, dir: String): DataFrame = {
    val h = hllTokenHashes(Tables.documents(spark, dir))
    hllFinalize(h.groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("h")).as("n_distinct"),
        graft.functions.aggs.hll_registers(col("h"), 8).as("regs")))
      .select(col("lang"), col("n_tokens"), col("n_distinct"), col("reg_fp"),
        col("n_zero"), col("est"))
      .orderBy("lang")
  }

  /** The C107 oracle CTE chain up to per-lang stats — shared verbatim
    * with the D31 stream twin's oracle (one sketch definition).
    */
  private[graft] val hllCtes: String =
    """toks AS (
      |  SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM fdoc
      |), hraw AS (
      |  SELECT lang, list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |      list_transform(range(1, length(token) + 1),
      |        i -> CAST(ascii(substr(token, i, 1)) AS HUGEINT))),
      |      (acc, c) -> (acc * 131 + c) % 2305843009213693951) AS f
      |  FROM toks
      |), h1 AS (
      |  SELECT lang, (f * f + 12345) % 2305843009213693951 AS f1 FROM hraw
      |), hh AS (
      |  SELECT lang, CAST((f1 * f1 + 67890) % 2305843009213693951 AS BIGINT) AS h FROM h1
      |), reg0 AS (
      |  SELECT lang, h % 256 AS j,
      |    MAX(CASE WHEN h // 256 = 0 THEN 54
      |        ELSE CAST(round(log2(CAST((h // 256) & (-(h // 256)) AS DOUBLE)), 0)
      |             AS BIGINT) + 1 END) AS m
      |  FROM hh GROUP BY lang, h % 256
      |), grid AS (
      |  SELECT l.lang, g.j
      |  FROM (SELECT DISTINCT lang FROM fdoc) l
      |  CROSS JOIN (SELECT UNNEST(range(0, 256)) AS j) g
      |), regs AS (
      |  SELECT grid.lang, list(COALESCE(reg0.m, 0) ORDER BY grid.j) AS rl
      |  FROM grid LEFT JOIN reg0
      |    ON reg0.lang IS NOT DISTINCT FROM grid.lang AND reg0.j = grid.j
      |  GROUP BY grid.lang
      |), stats AS (
      |  SELECT lang,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_zip(rl, range(1, 257)),
      |        p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))),
      |      (a, b) -> a + b) AS BIGINT) AS reg_fp,
      |    len(list_filter(rl, m -> m = 0)) AS n_zero,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(rl, m -> pow(2.0, -CAST(m AS DOUBLE)))),
      |      (a, b) -> a + b) AS s_sum
      |  FROM regs
      |), base AS (
      |  SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT h) AS n_distinct
      |  FROM hh GROUP BY lang
      |)""".stripMargin

  private[graft] val hllEstSql: String =
    """round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / s.s_sum <= 640.0
      |           AND s.n_zero > 0
      |  THEN 256.0 * ln(256.0 / s.n_zero)
      |  ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / s.s_sum END, 6)""".stripMargin

  val c107Sql: String =
    s"""WITH $hllCtes
       |SELECT b.lang, b.n_tokens, b.n_distinct, s.reg_fp,
       |  CAST(s.n_zero AS BIGINT) AS n_zero,
       |  $hllEstSql AS est
       |FROM base b JOIN stats s ON b.lang IS NOT DISTINCT FROM s.lang
       |ORDER BY b.lang""".stripMargin

  // ---------------------------------------------------------------- C32
  /** Token-budget stratified subsample — cap each (lang, source) stratum
    * at [[StratumTokenBudget]] tokens, admitting documents in a
    * deterministic scrambled-hash order (same multiplicative scramble as
    * the C23 split assignment) until the document's START would exceed
    * the budget. This is the corpus-balancing sampler that assembles a
    * fixed token mix per domain; hash order makes re-runs reproducible
    * and admission order unbiased by doc_id locality. One running-sum
    * window per stratum — strata are numerous and the per-stratum sort
    * is by the 8-byte hash key, so the window parallelizes across
    * strata; no global sort, no collect.
    */
  val StratumTokenBudget = 150L

  def c32SampleBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_toks"))
      .withColumn("hkey", expr("(doc_id * 2654435761 + 40503) % 1000000007"))
    val w = Window.partitionBy("lang", "source").orderBy("hkey", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum_toks", sum("n_toks").over(w))
      .filter(col("cum_toks") - col("n_toks") < lit(StratumTokenBudget))
      .select("doc_id", "lang", "source", "n_toks", "cum_toks")
      .orderBy("doc_id")
  }

  val c32Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_toks,
       |    (doc_id * 2654435761 + 40503) % 1000000007 AS hkey
       |  FROM fdoc
       |), c AS (
       |  SELECT doc_id, lang, source, n_toks,
       |    CAST(SUM(n_toks) OVER (PARTITION BY lang, source ORDER BY hkey, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
       |  FROM d
       |)
       |SELECT doc_id, lang, source, n_toks, cum_toks
       |FROM c WHERE cum_toks - n_toks < $StratumTokenBudget
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C33
  /** Prefix-containment duplicates — truncation artifacts where one
    * document is a strict token-prefix of another (the scraped-web dup
    * mode exact and near dedup both miss: Jaccard of a short prefix vs
    * its host is low). One pass builds every document's ROLLING prefix
    * hash array (the C5 polynomial, so prefix k's hash of doc B equals
    * the full fingerprint of any doc equal to that prefix), posexplode
    * keys candidates on (hash, token-length) — an equi-join, never a
    * quadratic LIKE scan — and the few candidates re-verify exactly
    * against the texts, so a 1e9+7 hash collision can't produce a false
    * pair. Cost is O(total tokens) explode + equi-joins: survives a
    * corpus where the DuckDB twin's O(n²) startswith does not.
    */
  def c33PrefixDups(spark: SparkSession, dir: String): DataFrame =
    prefixDups(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Frame-level core of C33 over any (doc_id, text) frame — reused by
    * the ScaleSmoke long-document worst case.
    */
  def prefixDups(d: DataFrame): DataFrame = {
    val pref = d
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        graft.functions.hashes.rolling_hashes(
          transform(col("toks"), tokenHash _), lit(FpB), lit(FpM)).as("phashes"))
    val hosts = pref
      .select(col("doc_id").as("host_id"), col("n_toks").as("host_tokens"),
        posexplode(col("phashes")).as(Seq("p", "phash")))
      .withColumn("plen", col("p") + 1).drop("p")
    val sigs = pref
      .select(col("doc_id").as("dup_id"), col("n_toks").as("dup_tokens"),
        element_at(col("phashes"), -1).as("sig"))
    hosts.join(sigs,
        col("phash") === col("sig") && col("plen") === col("dup_tokens") &&
        col("host_id") =!= col("dup_id") && col("host_tokens") > col("dup_tokens"))
      .join(d.select(col("doc_id").as("dup_id"), col("text").as("dup_text")), "dup_id")
      .join(d.select(col("doc_id").as("host_id"), col("text").as("host_text")), "host_id")
      .filter(col("host_text").startsWith(concat(col("dup_text"), lit(" "))))
      .select("dup_id", "host_id", "dup_tokens", "host_tokens")
      .orderBy("dup_id", "host_id")
  }

  /** The twin is the O(n²) definitional form — fine at oracle scale. */
  val c33Sql: String =
    """SELECT a.doc_id AS dup_id, b.doc_id AS host_id,
      |  CAST(len(string_split(a.text, ' ')) AS BIGINT) AS dup_tokens,
      |  CAST(len(string_split(b.text, ' ')) AS BIGINT) AS host_tokens
      |FROM fdoc a JOIN fdoc b
      |  ON a.doc_id <> b.doc_id AND starts_with(b.text, a.text || ' ')
      |ORDER BY dup_id, host_id""".stripMargin

  // ---------------------------------------------------------------- C36
  /** Composite quality-gate decision table — the keep/reject verdict
    * (with the FIRST failing gate as the reason) that curation runs
    * materialize next to the corpus, so every dropped doc is auditable.
    * Combines the C3 quality score, the C26 repetition signal (LEFT
    * join — a doc too short to have bigrams is not "repetitive") and a
    * token-length floor, in fixed precedence. Same thresholds the
    * [[CurationPipeline]] gates on. All inputs are existing partial-agg
    * frames joined on doc_id; the verdict itself is map-side.
    */
  val MinQualityMicro = 80000L
  val MaxDupFracMicro = 700000L
  val MinGateTokens = 10L

  def c36QualityGate(spark: SparkSession, dir: String): DataFrame = {
    // the stateless gate IS gateCols (the same frame D13 streams) —
    // C36 only appends the one cross-document signal (C26 repetition)
    // into the cascade, between low_quality and ok, so batch and
    // stream gates share a single definition by construction
    val g = gateCols(Tables.documents(spark, dir))
    val r = c26Repetition(spark, dir).select(col("doc_id"), col("dup_frac_micro"))
    g.join(r, Seq("doc_id"), "left")
      .withColumn("dup_frac_micro", coalesce(col("dup_frac_micro"), lit(0L)))
      .withColumn("reason",
        when(col("reason") =!= "ok", col("reason"))
          .when(col("dup_frac_micro") > MaxDupFracMicro, "repetitive")
          .otherwise("ok"))
      .withColumn("keep", col("reason") === "ok")
      .select("doc_id", "n_tokens", "quality_micro", "dup_frac_micro", "keep", "reason")
      .orderBy("doc_id")
  }

  /** Twin reuses the C3/C26 queries verbatim as subqueries (their own
    * WITH blocks nest inside the parens), so the gate can't drift from
    * the signals it audits.
    */
  val c36Sql: String = {
    val qBody = c3Sql.stripSuffix("ORDER BY doc_id").trim
    val rBody = c26Sql.stripSuffix("ORDER BY u.doc_id").trim
    s"""WITH q AS (SELECT doc_id, quality_micro FROM (
       |$qBody
       |)), r AS (SELECT doc_id, dup_frac_micro FROM (
       |$rBody
       |)), d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM fdoc
       |), g AS (
       |  SELECT d.doc_id, d.n_tokens, q.quality_micro,
       |    COALESCE(r.dup_frac_micro, 0) AS dup_frac_micro,
       |    CASE WHEN d.n_tokens < $MinGateTokens THEN 'too_short'
       |         WHEN q.quality_micro < $MinQualityMicro THEN 'low_quality'
       |         WHEN COALESCE(r.dup_frac_micro, 0) > $MaxDupFracMicro THEN 'repetitive'
       |         ELSE 'ok' END AS reason
       |  FROM d JOIN q USING (doc_id) LEFT JOIN r USING (doc_id)
       |)
       |SELECT doc_id, n_tokens, quality_micro, dup_frac_micro,
       |  reason = 'ok' AS keep, reason
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C37
  /** C37: winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): slide a w-window over the k-gram
    * hash sequence and keep each window's MINIMUM hash; the distinct
    * selected values are the doc's fingerprint set. Guarantee: any
    * shared run of ≥ w+k−1 tokens between two docs shares a fingerprint
    * — position-robust local dedup between C5's whole-doc hash and C6's
    * probabilistic MinHash. Because only hash VALUES are kept (not
    * positions), the window tie-break is irrelevant and the result is
    * engine-exact. Pure map-side higher-order-function work: no shuffle
    * at all until the final ORDER BY; the k-gram fold reuses C29's
    * proven-parity slice-fold hash.
    */
  val WinnowK = 4
  val WinnowW = 4

  def c37Winnowing(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= WinnowK)
      .withColumn("g", transform(sequence(lit(1), size(col("toks")) - WinnowK + 1),
        i => aggregate(transform(slice(col("toks"), i, lit(WinnowK)), tokenHash _),
          lit(0L), (acc, t) => (acc * lit(FpB) + t) % lit(FpM))))
      .withColumn("fps", array_distinct(transform(
        sequence(lit(1), greatest(lit(1), size(col("g")) - WinnowW + 1)),
        i => array_min(slice(col("g"), i, lit(WinnowW))))))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        aggregate(col("fps"), lit(0L), (a, b) => a + b).as("fp_sum"),
        array_min(col("fps")).as("fp_min"))
      .orderBy("doc_id")

  val c37Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM fdoc
       |), g AS (
       |  SELECT doc_id, list_transform(range(1, len(toks) - $WinnowK + 2),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(list_slice(toks, i, i + $WinnowK - 1),
       |             w -> ${tokenHashSql("w")})),
       |         (acc, h) -> (acc * $FpB + h) % $FpM)) AS g
       |  FROM d WHERE len(toks) >= $WinnowK
       |), s AS (
       |  SELECT doc_id, g, list_distinct(list_transform(
       |    range(1, greatest(1, len(g) - $WinnowW + 1) + 1),
       |    i -> list_min(list_slice(g, i, i + $WinnowW - 1)))) AS fps
       |  FROM g
       |)
       |SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
       |  CAST(len(fps) AS BIGINT) AS n_fps,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a, b) -> a + b) AS fp_sum,
       |  list_min(fps) AS fp_min
       |FROM s ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C127
  /** C127: content-defined chunking dedup (the FastCDC/LBFS shape,
    * Muthitacharoen et al. SOSP'01) — the third dedup granularity next
    * to C1 (whole doc) and C40 (fixed segments): chunk boundaries are
    * declared wherever a rolling window hash divides [[CdcDiv]], so
    * they are anchored to CONTENT, not position. That is the property
    * C40 cannot have: one leading-token insertion shifts every
    * downstream fixed segment's identity (all its chunks re-hash as
    * new), while CDC re-synchronizes after the edited chunk — the
    * reason production storage/dataset dedup (restic, casync, LLM
    * corpus delta-storage) chunks this way. Reports per doc the chunk
    * count and the token mass sitting in globally-duplicated chunks
    * (occurrence ≥ 2 across the corpus, C40's convention — within-doc
    * repeats count, exactly as a content store would).
    *
    * Exactness: the window hash is the positional polynomial
    * Σ_{k<W} h(i−k)·B^k over the shared [[tokenHash]] (values < 2³³ —
    * no modulus needed); the chunk fingerprint is the positional sum
    * Σ h(i)·(i−start+1) (< 2⁴⁵), keyed together with the chunk LENGTH
    * so only genuinely identical token runs collide in practice.
    *
    * Scale shape: boundaries, chunk spans, and fingerprints are all
    * per-doc array HOFs — scan-stage, zero shuffle (C37's idiom); the
    * corpus-sized work is ONE (fp, len)-keyed hash-agg + equi-join
    * back (never a window — the hottest key is the most-duplicated
    * chunk, C40's argument) and one doc-keyed agg.
    */
  val CdcWindow = 4
  val CdcDiv = 32L
  val CdcB = 31L

  /** The CDC chunk frame over any frame with a `text` column: one row
    * per chunk carrying `cols` through plus (n [doc token count],
    * cstart, clen, fp). Pure per-doc array HOFs — scan-stage, works
    * identically on batch and streaming inputs (D37 reuses it live).
    */
  def cdcChunkFrame(docs: DataFrame, cols: Seq[String]): DataFrame = {
    // wh(i) = Σ_{k<W} h(i−k)·B^k, 0-based positions into the 1-based array
    val wh = (0 until CdcWindow).map(k =>
      s"element_at(h, CAST(i - $k + 1 AS INT)) * ${Seq.fill(k)(CdcB).product}")
      .mkString(" + ")
    docs
      .select(cols.map(col) :+ tokens(col("text")).as("toks"): _*)
      .withColumn("h", transform(col("toks"), tokenHash _))
      .withColumn("n", size(col("toks")).cast("long"))
      // sequence() flips descending when start > stop — guard short docs
      .withColumn("bnd", when(col("n") >= CdcWindow, expr(
        s"filter(sequence(CAST(${CdcWindow - 1} AS BIGINT), n - 1), i -> ($wh) % $CdcDiv = 0)"))
        .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("ends", expr(
        "if(size(bnd) > 0 AND element_at(bnd, -1) = n - 1, bnd, concat(bnd, array(n - 1)))"))
      .withColumn("starts", expr(
        "concat(array(CAST(0 AS BIGINT)), transform(slice(ends, 1, size(ends) - 1), e -> e + 1))"))
      .withColumn("c", explode(expr("sequence(0, size(ends) - 1)")))
      .withColumn("cstart", expr("element_at(starts, CAST(c + 1 AS INT))"))
      .withColumn("cend", expr("element_at(ends, CAST(c + 1 AS INT))"))
      .withColumn("clen", col("cend") - col("cstart") + 1)
      .withColumn("fp", expr(
        """aggregate(sequence(cstart, cend), CAST(0 AS BIGINT),
          |  (acc, i) -> acc + element_at(h, CAST(i + 1 AS INT)) * (i - cstart + 1))"""
          .stripMargin))
      .select((cols ++ Seq("n", "cstart", "clen", "fp")).map(col): _*)
  }

  def c127CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunkFrame(Tables.documents(spark, dir), Seq("doc_id"))
    val occ = chunks.groupBy("fp", "clen").agg(count(lit(1)).as("occ"))
    chunks.join(occ, Seq("fp", "clen"))
      .groupBy("doc_id")
      .agg(max("n").as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("occ") >= 2, col("clen")).otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_ratio_ppm", expr("(dup_tokens * 1000000) div n_tokens"))
      .orderBy("doc_id")
  }

  /** The c127 CTE chain through `ch` (one row per chunk: doc_id, n,
    * cstart, cend, clen, fp) — shared by the C127 and D37 oracles so
    * both engines chunk through one definition.
    */
  lazy val cdcCtes: String = {
    val wh = (0 until CdcWindow).map(k =>
      s"h[i - $k + 1] * ${Seq.fill(k)(CdcB).product}").mkString(" + ")
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM fdoc
       |), hh AS (
       |  SELECT doc_id, list_transform(toks, w -> ${tokenHashSql("w")}) AS h,
       |    CAST(len(toks) AS BIGINT) AS n
       |  FROM d
       |), be AS (
       |  SELECT doc_id, h, n,
       |    list_filter(range(${CdcWindow - 1}, n), i -> ($wh) % $CdcDiv = 0) AS bnd
       |  FROM hh
       |), se AS (
       |  SELECT doc_id, h, n,
       |    CASE WHEN len(bnd) > 0 AND bnd[len(bnd)] = n - 1 THEN bnd
       |         ELSE list_append(bnd, n - 1) END AS ends
       |  FROM be
       |), ss AS (
       |  SELECT doc_id, h, n, ends,
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(ends[1:len(ends) - 1], e -> e + 1)) AS starts
       |  FROM se
       |), ch AS (
       |  SELECT doc_id, n, starts[c + 1] AS cstart, ends[c + 1] AS cend,
       |    ends[c + 1] - starts[c + 1] + 1 AS clen,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(starts[c + 1], ends[c + 1] + 1),
       |        i -> h[i + 1] * (i - starts[c + 1] + 1))),
       |      (a, b) -> a + b) AS fp
       |  FROM ss, LATERAL (SELECT UNNEST(range(0, len(ends))) AS c) t
       |)""".stripMargin
  }

  lazy val c127Sql: String =
    s"""WITH $cdcCtes,
       |occ AS (
       |  SELECT fp, clen, CAST(COUNT(*) AS BIGINT) AS occ FROM ch GROUP BY fp, clen
       |), p AS (
       |  SELECT ch.doc_id, MAX(ch.n) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |    CAST(SUM(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       |    CAST(SUM(CASE WHEN o.occ >= 2 THEN ch.clen ELSE 0 END) AS BIGINT) AS dup_tokens
       |  FROM ch JOIN occ o ON o.fp = ch.fp AND o.clen = ch.clen
       |  GROUP BY ch.doc_id
       |)
       |SELECT doc_id, n_tokens, n_chunks, dup_chunks, dup_tokens,
       |  (dup_tokens * 1000000) // n_tokens AS dup_ratio_ppm
       |FROM p ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C130
  /** C130: fixed-size weighted sampling without replacement — exactly
    * [[SampleK]] docs PER SOURCE, selection probability increasing in
    * the C3 quality weight: the "give me K docs per domain, favor the
    * good ones, same answer every run" primitive a training-data
    * pipeline needs where C91's Bernoulli draw (variable size,
    * p ∝ weight) and C32's budget truncation (deterministic order, no
    * randomization) don't fit. The Efraimidis–Spirakis exponential
    * race, derandomized the C23/C91 way: each doc draws the hash
    * uniform u = ((id mod M)·506952114 + 104729) mod M with
    * M = 2³¹−1 and races with key = u·1e6 div w (integer; smaller
    * wins — doubling w halves a doc's expected key), and the K
    * smallest keys per source win. 506952114 = 2654435761 mod M (the
    * Knuth multiplier's residue), so the draw equals the textbook
    * (id·2654435761) mod M at EVERY id: reducing id mod M first keeps
    * the product ≤ (M−1)·506952114 < 2⁶⁰, exact in Int64 with no
    * headroom bound on doc_id — the naive form wraps silently in
    * Spark (and errors in DuckDB) past id ≈ 3.47e9, a cross-engine
    * divergence this sampling contract can't tolerate at 100 TB row
    * counts.
    * Exactly-K BY CONSTRUCTION, weight-monotone in expectation
    * (spec-witnessed: the kept set's mean weight exceeds the
    * population's), reproducible with no RNG state.
    *
    * Scale shape: one scan-stage projection (the shared C3 formula) +
    * a per-source top-K — the rank ≤ K predicate decorrelates into
    * WindowGroupLimit (b4/b45's shape), so each map task keeps a
    * K-row heap per source and only K·sources rows reach the final
    * sort; never a full per-source sort of the corpus.
    */
  val SampleK = 5

  /** The derandomized hash uniform of the race —
    * u = ((doc_id mod M)·506952114 + 104729) mod M, M = 2³¹−1.
    * ONE text, parsed identically by Spark and DuckDB: the constants
    * and the reduce-id-first overflow discipline live here only, so
    * the Spark draw, its SQL twin and the pipeline stage can never
    * drift apart (a round-12 diff had to rewrite this expression in
    * three places in lockstep).
    */
  private[graft] val EsUniformSql =
    "((doc_id % 2147483647) * 506952114 + 104729) % 2147483647"

  /** The Efraimidis–Spirakis race on any frame carrying `doc_id`,
    * `source`, `w_micro` (≥ 1): appends the hash uniform `u`, the
    * integer race key `skey = u·1e6 div w_micro` (smaller wins) and
    * the per-source rank `rnk` (LONG; `rnk ≤ K` decorrelates to
    * WindowGroupLimit). Shared by [[c130WeightedSample]] and
    * CurationPipeline stage 12 — one definition of the draw.
    */
  private[graft] def esRace(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("u", expr(EsUniformSql))
      .withColumn("skey", expr("(u * 1000000) div w_micro"))
      // asc_nulls_last: a NULL sort key (NULL-text doc → NULL weight,
      // fuzz seed 1) must lose the race, as in DuckDB's default ASC
      // NULLS LAST — Spark's ASC default would hand it rank 1
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("skey").asc_nulls_last, col("doc_id"))).cast("long"))
  }

  def c130WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(Stopwords: _*))).cast("long").as("stop_cnt"))
      .withColumn("w_micro", qualityMicro + lit(1L)) // C3 quality ≥ 0 → w ≥ 1
    esRace(q)
      .filter(col("rnk") <= SampleK)
      .select("source", "rnk", "doc_id", "w_micro", "skey")
      .orderBy("source", "rnk")
  }

  lazy val c130Sql: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS BIGINT) AS stop_cnt
       |  FROM fdoc
       |), q AS (
       |  SELECT doc_id, source, $QualityMicroSql + 1 AS w_micro,
       |    $EsUniformSql AS u
       |  FROM f
       |), p AS (
       |  SELECT source, doc_id, w_micro, (u * 1000000) // w_micro AS skey,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY (u * 1000000) // w_micro, doc_id) AS rnk
       |  FROM q
       |)
       |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, w_micro, skey
       |FROM p WHERE rnk <= $SampleK
       |ORDER BY source, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- C38
  /** C38: k-gram novelty — per doc, the fraction of its distinct k-gram
    * hashes whose FIRST occurrence (min doc_id, i.e. crawl order) is
    * this doc. The incremental-crawl freshness signal: a re-crawled or
    * boilerplate-heavy doc scores near 0, genuinely new text near 1e6.
    * Plan: distinct (doc_id, gram) hash-agg → min(doc_id) per gram
    * (map-side combinable) → equi-join back on the gram hash → per-doc
    * agg. Every shuffle is keyed on the high-cardinality gram hash or
    * doc_id — no skew; the first-doc side broadcasts only while it fits
    * the AQE threshold and degrades to a gh-keyed shuffle join at scale.
    */
  def c38GramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val g = distinctGrams(spark, dir)
    val first = g.groupBy("gh").agg(min("doc_id").as("first_doc"))
    g.join(first, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_micro", expr("(n_novel * 1000000) div n_grams"))
      .orderBy("doc_id")
  }

  val c38Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM fdoc
       |), g AS (
       |  SELECT DISTINCT doc_id,
       |    UNNEST(list_transform(range(1, len(toks) - $ContamN + 2),
       |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(list_slice(toks, i, i + $ContamN - 1),
       |               w -> ${tokenHashSql("w")})),
       |           (acc, h) -> (acc * $FpB + h) % $FpM))) AS gh
       |  FROM d WHERE len(toks) >= $ContamN
       |), f AS (
       |  SELECT gh, MIN(doc_id) AS first_doc FROM g GROUP BY gh
       |), p AS (
       |  SELECT g.doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM g JOIN f USING (gh) GROUP BY g.doc_id
       |)
       |SELECT doc_id, n_grams, n_novel,
       |  (n_novel * 1000000) // n_grams AS novelty_micro
       |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C40
  /** Segment-level dedup (the CCNet/C4 paragraph-dedup shape: drop text
    * UNITS duplicated across the corpus, keep the rest of the doc).
    * This corpus has no newlines, so the unit is a fixed
    * [[SegTokens]]-token window of the token stream: segmentation is
    * array slicing in the scan stage (no shuffle, no window), the
    * duplicate test is ONE hash-aggregate on seg_text + an equi-join
    * back — never a window over segment text, whose hottest partition
    * would be the most-duplicated segment, i.e. exactly the skew the
    * operator exists to find. Per doc: segments, duplicated segments
    * (global occurrence ≥ 2, within-doc repeats count), and the exact
    * token mass a drop-duplicated-segments pass would keep.
    */
  val SegTokens = 10

  /** One row per [[SegTokens]]-token segment of `text`, keeping every
    * input column plus (seg, seg_text, seg_len) — the ONE segmentation
    * definition shared by c40 and CurationPipeline's trim stage so the
    * hash-checked operator and the funnel can't drift.
    */
  def segmentsOn(docs: DataFrame): DataFrame = {
    val k = SegTokens
    docs
      .withColumn("toks", expr("split(text, ' ')"))
      .withColumn("seg", explode(sequence(
        lit(0L), ceil(size(col("toks")) / lit(k.toDouble)).cast("long") - 1)))
      .withColumn("seg_text",
        array_join(slice(col("toks"), (col("seg") * k + 1).cast("int"), lit(k)), " "))
      .withColumn("seg_len",
        least(lit(k), size(col("toks")) - col("seg") * k).cast("long"))
      .drop("toks")
  }

  def c40SegmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = segmentsOn(
      Tables.documents(spark, dir).select("doc_id", "text"))
      .select("doc_id", "seg_text", "seg_len")
    val counts = segs.groupBy("seg_text").agg(count(lit(1)).as("occ"))
    segs.join(counts, "seg_text")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_segs"),
        sum("seg_len").as("total_tokens"),
        sum(when(col("occ") >= 2, 0L).otherwise(col("seg_len"))).as("kept_tokens"))
      .withColumn("kept_micro",
        expr("kept_tokens * 1000000L div total_tokens"))
      .orderBy("doc_id")
  }

  val c40Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM fdoc
       |), s AS (
       |  SELECT doc_id,
       |    array_to_string(toks[(u.seg*$SegTokens+1):((u.seg+1)*$SegTokens)], ' ') AS seg_text,
       |    len(toks[(u.seg*$SegTokens+1):((u.seg+1)*$SegTokens)]) AS seg_len
       |  FROM t, UNNEST(range(0, CAST(ceil(len(toks) / $SegTokens.0) AS BIGINT))) AS u(seg)
       |), c AS (
       |  SELECT seg_text, COUNT(*) AS occ FROM s GROUP BY seg_text
       |)
       |SELECT s.doc_id, COUNT(*) AS n_segs,
       |  CAST(SUM(CASE WHEN c.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       |  CAST(SUM(s.seg_len) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CASE WHEN c.occ >= 2 THEN 0 ELSE s.seg_len END) AS BIGINT) AS kept_tokens,
       |  CAST(SUM(CASE WHEN c.occ >= 2 THEN 0 ELSE s.seg_len END) AS BIGINT) * 1000000
       |    // CAST(SUM(s.seg_len) AS BIGINT) AS kept_micro
       |FROM s JOIN c USING (seg_text)
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** Stateless quality-gate columns on any (doc_id, text) frame — the
    * part of the gate that needs no cross-document state (score via
    * [[qualityMicro]], the shared C3 formula), so it applies verbatim
    * to a STREAMING documents frame (D13). [[c36QualityGate]] BUILDS ON
    * this frame (appending only the C26 repetition branch), so the
    * batch gate and the stream gate share one definition by
    * construction, not by convention.
    */
  def gateCols(d: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    d.select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(Stopwords: _*))).cast("long").as("stop_cnt"))
      .withColumn("quality_micro", qualityMicro)
      .withColumn("reason",
        when(col("n_tokens") < MinGateTokens, "too_short")
          .when(col("quality_micro") < MinQualityMicro, "low_quality")
          .otherwise("ok"))
      .withColumn("keep", col("reason") === "ok")
      .select("doc_id", "n_tokens", "quality_micro", "keep", "reason")
  }

  /** The SQL twin of [[gateCols]] (shared by the D13 oracle). Lazy:
    * interpolates gate constants declared further down the object body
    * (a strict val would capture their pre-init zeros).
    */
  lazy val gateColsSql: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS BIGINT) AS stop_cnt
       |  FROM fdoc
       |), g AS (
       |  SELECT doc_id, n_tokens,
       |    $QualityMicroSql AS quality_micro
       |  FROM f
       |), r AS (
       |  SELECT doc_id, n_tokens, quality_micro,
       |    CASE WHEN n_tokens < $MinGateTokens THEN 'too_short'
       |         WHEN quality_micro < $MinQualityMicro THEN 'low_quality'
       |         ELSE 'ok' END AS reason
       |  FROM g
       |)
       |SELECT doc_id, n_tokens, quality_micro, reason = 'ok' AS keep, reason
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C43
  /** C43: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how target-like its hashed-unigram distribution
    * is. Features are unigrams hashed into [[DsirBuckets]] buckets; the
    * target domain is the `lang = 'en'` slice (a stand-in for the
    * high-quality corpus DSIR resamples toward); each bucket gets an
    * add-one-smoothed probability ratio p_target(b)/p_raw(b) and a
    * document scores the mean ratio over its tokens. DSIR proper works
    * in log space with doubles; here the ratio stays in exact integer
    * micro-units (one integer division per bucket) so the oracle
    * hash-matches — the ranking is identical for a monotone transform.
    *
    * Scale shape: token explode is scan-stage; raw and target bucket
    * counts fall out of ONE conditional partial agg onto [[DsirBuckets]]
    * groups (map-side combine does almost all the work), and the corpus
    * totals are a re-agg of that ≤256-row histogram — so the corpus
    * token stream is scanned exactly TWICE (histogram pass + scoring
    * pass), never cached and never re-scanned per subplan. The ratio
    * table is ≤256 rows — broadcast — so scoring adds NO shuffle beyond
    * the final doc_id agg. The ratio numerator `(tgt+1)·(raw_total+256)
    * ·10⁶` reaches ~10²⁴ at 10⁹-token corpora — past BIGINT — so both
    * engines route it through 38-digit decimal (DECIMAL(38,0) /
    * HUGEINT) and only the divided-down micro-ratio (∼10⁶·corpus-skew,
    * comfortably BIGINT) lands in the output.
    */
  val DsirBuckets = 256

  def c43DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"),
        pmod(tokenHash(col("w")), lit(DsirBuckets.toLong)).as("b"))
    val hist = toks.groupBy("b").agg(
      count(lit(1)).as("raw_cnt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt_cnt"))
    val totals = hist.agg(sum("raw_cnt").as("raw_total"),
      sum("tgt_cnt").as("tgt_total"))
    // `div` (IntegralDivide) on DECIMAL operands returns BIGINT — the
    // wide intermediates never escape the expression
    val ratio = hist.crossJoin(broadcast(totals))
      .select(col("b"), expr(
        s"(cast(tgt_cnt + 1 as decimal(38,0)) * (raw_total + $DsirBuckets) * 1000000) div " +
          s"(cast(raw_cnt + 1 as decimal(38,0)) * (tgt_total + $DsirBuckets))").as("ratio_micro"))
    toks.join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("ratio_micro").as("sum_ratio_micro"))
      .withColumn("dsir_micro", expr("sum_ratio_micro div n_toks"))
      .orderBy("doc_id")
  }

  val c43Sql: String =
    s"""WITH tb AS (
       |  SELECT doc_id, lang, ${tokenHashSql("w")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w FROM fdoc)
       |), hist AS (
       |  SELECT b, COUNT(*) AS raw_cnt,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cnt
       |  FROM tb GROUP BY b
       |), tot AS (
       |  SELECT CAST(SUM(raw_cnt) AS BIGINT) AS raw_total,
       |    CAST(SUM(tgt_cnt) AS BIGINT) AS tgt_total
       |  FROM hist
       |), ratio AS (
       |  SELECT b, CAST((CAST(tgt_cnt + 1 AS HUGEINT) * (raw_total + $DsirBuckets) * 1000000)
       |    // (CAST(raw_cnt + 1 AS HUGEINT) * (tgt_total + $DsirBuckets)) AS BIGINT) AS ratio_micro
       |  FROM hist CROSS JOIN tot
       |)
       |SELECT doc_id, COUNT(*) AS n_toks,
       |  CAST(SUM(ratio_micro) AS BIGINT) AS sum_ratio_micro,
       |  CAST(SUM(ratio_micro) AS BIGINT) // COUNT(*) AS dsir_micro
       |FROM tb JOIN ratio USING (b)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C44
  /** C44: sliding-window chunking with overlap — the RAG/embedding prep
    * step that splits each document into [[ChunkTokens]]-token windows
    * advancing by [[ChunkStride]] (so consecutive chunks share
    * ChunkTokens − ChunkStride tokens of context). Each chunk carries
    * its running fingerprint (the C5/C29 polynomial fold over token
    * hashes) so downstream chunk-level dedup joins on an 8-byte key,
    * never the text. Entirely scan-stage: sequence + slice + fold are
    * per-row array math, no shuffle until the final ORDER BY (which
    * exists only for the oracle compare — a pipeline would write the
    * chunks partitioned as produced).
    */
  val ChunkTokens = 32
  val ChunkStride = 24

  def c44ChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(ChunkStride))).as("start_tok"))
      .select(col("doc_id"),
        ((col("start_tok") - 1) / lit(ChunkStride)).cast("long").as("chunk_idx"),
        col("start_tok").cast("long"),
        slice(col("toks"), col("start_tok"), lit(ChunkTokens)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_tok"),
        aggregate(transform(col("chunk"), tokenHash _), lit(0L),
          (acc, h) => (acc * lit(FpB) + h) % lit(FpM)).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  val c44Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM fdoc
       |), s AS (
       |  SELECT doc_id, (u.s - 1) // $ChunkStride AS chunk_idx,
       |    CAST(u.s AS BIGINT) AS start_tok,
       |    toks[u.s:(u.s + ${ChunkTokens - 1})] AS chunk
       |  FROM t, UNNEST(range(1, len(toks) + 1, $ChunkStride)) AS u(s)
       |)
       |SELECT doc_id, chunk_idx, start_tok,
       |  CAST(len(chunk) AS BIGINT) AS n_tok,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(chunk, w -> ${tokenHashSql("w")})),
       |    (acc, h) -> (acc * $FpB + h) % $FpM) AS chunk_hash
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- C45
  /** C45: character-distribution stats — the float-free entropy
    * surrogate for spotting binary junk / repeated-glyph spam that
    * token-level signals (C3, C26) miss. Per document: character count,
    * distinct characters, the dominant character's count, and the Rényi-2
    * collision rate Σ cnt² · 10⁶ div n² (the probability two random
    * positions hold the same glyph — low for natural text, → 10⁶ for
    * one-glyph spam; monotone in Rényi entropy, so thresholds translate,
    * and unlike Shannon entropy it needs no log and hash-matches
    * exactly). Shape: char explode is scan-stage, the (doc, char)
    * partial agg collapses to ≤ alphabet rows per doc before the
    * doc-level agg — shuffle is O(docs · alphabet), not O(chars).
    */
  def c45CharStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_ch"),
        count(lit(1)).as("n_distinct_chars"),
        max("cnt").as("top_char_cnt"),
        sum(col("cnt") * col("cnt")).as("sum_sq"))
      .select(col("doc_id"), col("n_ch"), col("n_distinct_chars"),
        col("top_char_cnt"),
        expr("sum_sq * 1000000 div (n_ch * n_ch)").as("collision_micro"))
      .orderBy("doc_id")

  val c45Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM fdoc
      |), c AS (
      |  SELECT doc_id, ch, COUNT(*) AS cnt FROM ch GROUP BY doc_id, ch
      |)
      |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ch,
      |  COUNT(*) AS n_distinct_chars,
      |  CAST(MAX(cnt) AS BIGINT) AS top_char_cnt,
      |  CAST(SUM(cnt * cnt) AS BIGINT) * 1000000
      |    // (CAST(SUM(cnt) AS BIGINT) * CAST(SUM(cnt) AS BIGINT)) AS collision_micro
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C47
  /** C47: phrase mining — word2vec's phrase-detection score
    * (Mikolov et al. 2013: `(count(ab) − δ) · N / (count(a)·count(b))`)
    * over corpus bigrams, the pass that discovers "new york"-style
    * collocations to merge into single tokens before embedding
    * training. δ discounts rare accidents; the score stays in exact
    * integer micro-units (one integer division, no log), which
    * preserves the ranking and hash-matches any engine. Scale shape:
    * bigram and unigram counts are two partial aggs over the same
    * scan-stage token stream; the score join is bigram⋈unigram on w1
    * then w2 (equi-joins on token keys); the final top-k is a
    * TakeOrdered over the few candidates that survive the min-count
    * filter, never a global sort of the corpus.
    */
  val PhraseDelta = 2L
  val PhraseMinCount = 3L
  val PhraseTopK = 30

  def c47PhraseMining(spark: SparkSession, dir: String): DataFrame = {
    val uniAll = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val totals = uniAll.agg(sum("n_w").as("n_total"))
    val pairs = bigramPairs(spark, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= PhraseMinCount)
    pairs
      .join(uniAll.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uniAll.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(totals))
      // (n_pair−δ)·N·10⁶ tops 10²⁴ on 10⁹-token corpora — route the
      // products through DECIMAL(38,0); `div` lands the result in BIGINT
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        expr(s"(cast(n_pair - $PhraseDelta as decimal(38,0)) * n_total * 1000000) div " +
          "(cast(n_w1 as decimal(38,0)) * n_w2)").as("score_micro"))
      .orderBy(col("score_micro").desc, col("w1"), col("w2"))
      .limit(PhraseTopK)
  }

  val c47Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |    UNNEST(string_split(text, ' ')) AS w
       |  FROM fdoc
       |), uni AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY w),
       |tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM uni),
       |adj AS (
       |  SELECT doc_id, w AS w1, LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM toks
       |), pairs AS (
       |  SELECT w1, w2, COUNT(*) AS n_pair FROM adj WHERE w2 IS NOT NULL
       |  GROUP BY w1, w2 HAVING COUNT(*) >= $PhraseMinCount
       |)
       |SELECT p.w1, p.w2, p.n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
       |  CAST((CAST(p.n_pair - $PhraseDelta AS HUGEINT) * n_total * 1000000)
       |    // (CAST(u1.n_w AS HUGEINT) * u2.n_w) AS BIGINT) AS score_micro
       |FROM pairs p
       |JOIN uni u1 ON u1.w = p.w1
       |JOIN uni u2 ON u2.w = p.w2
       |CROSS JOIN tot
       |ORDER BY score_micro DESC, p.w1, p.w2
       |LIMIT $PhraseTopK""".stripMargin

  // ---------------------------------------------------------------- C48
  /** C48: duplicated-substring spans — the ExactSubstr dedup of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): for each document, the maximal token runs whose every
    * [[DupSpanK]]-token window occurs at least twice in the corpus
    * (cross-document or self-repeat — any second occurrence counts, as
    * in the paper). Their suffix array is a single-machine structure;
    * the distributed screen is window hashing: every k-window's
    * polynomial hash (the C29 slice-fold family), ONE hash-agg for
    * global occurrence counts, an equi-join back, then a per-document
    * interval merge of the surviving window starts. The merge window
    * function partitions by doc_id — its task bound is the longest
    * single document, never the corpus — and two windows at p < p'
    * belong to one span iff p' ≤ p + k (overlap or touch), so summed
    * span lengths are exactly the duplicated token mass (spans are
    * disjoint by construction). Screening is on hashes, as in
    * production passes; both engines fold the identical family.
    */
  val DupSpanK = 10

  def c48DupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpans(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Frame-level core of C48 over any (doc_id, text) frame — reused by
    * the synthetic span-merge pins in the spec.
    */
  def dupSpans(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r18: window hashes from the ONE-pass rolling prefix array (the
    // c33 kernel) instead of a per-window slice+fold — the old form
    // re-hashed every token DupSpanK times and allocated a slice per
    // window (O(n·k) per doc); the rolling identity
    //   wh_i = (P[i+k−1] − b^k·P[i−1]) mod m
    // is O(n) and bit-identical (same polynomial, same modulus; the
    // oracle's definitional per-window fold is the value gate). The
    // zip_with operands reference `ph` OUTSIDE any lambda, so a
    // collapsed projection re-evaluates the prefix array at most a
    // constant number of times per row — never per element (the c126
    // element_at-in-lambda trap).
    val bk = (1 to DupSpanK).foldLeft(1L)((x, _) => (x * FpB) % FpM)
    val wins = d
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= DupSpanK)
      .withColumn("ph", graft.functions.hashes.rolling_hashes(
        transform(col("toks"), tokenHash _), lit(FpB), lit(FpM)))
      .select(col("doc_id"),
        posexplode(zip_with(
          slice(col("ph"), lit(DupSpanK), size(col("ph")) - DupSpanK + 1),
          concat(array(lit(0L)), slice(col("ph"), lit(1), size(col("ph")) - DupSpanK)),
          (hi, lo) => ((hi - (lo * lit(bk)) % lit(FpM)) % lit(FpM) + lit(FpM)) % lit(FpM)))
          .as(Seq("p0", "wh")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("wh"))
    val occ = wins.groupBy("wh").agg(count(lit(1)).as("occ"))
    val dup = wins.join(occ.filter(col("occ") >= 2), "wh").select("doc_id", "p")
    val w = Window.partitionBy("doc_id").orderBy("p")
    val spans = dup
      .withColumn("brk",
        when(col("p") - lag("p", 1).over(w) <= DupSpanK, 0L).otherwise(1L))
      .withColumn("span_id", sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min("p").as("s"), max("p").as("e"))
      .select(col("doc_id"),
        (col("e") - col("s") + DupSpanK).cast("long").as("span_toks"))
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), max("span_toks").as("max_span_toks"),
        sum("span_toks").as("dup_toks"))
      .orderBy("doc_id")
  }

  val c48Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM fdoc
       |), w AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS p,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks[u.i:(u.i + ${DupSpanK - 1})], x -> ${tokenHashSql("x")})),
       |      (acc, h) -> (acc * $FpB + h) % $FpM) AS wh
       |  FROM t, UNNEST(range(1, len(toks) - $DupSpanK + 2)) AS u(i)
       |  WHERE len(toks) >= $DupSpanK
       |), occ AS (
       |  SELECT wh, COUNT(*) AS occ FROM w GROUP BY wh
       |), d AS (
       |  SELECT doc_id, p FROM w JOIN occ USING (wh) WHERE occ >= 2
       |), m AS (
       |  SELECT doc_id, p,
       |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $DupSpanK
       |         THEN 0 ELSE 1 END AS brk
       |  FROM d
       |), s AS (
       |  SELECT doc_id, p,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS span_id
       |  FROM m
       |), sp AS (
       |  SELECT doc_id, span_id, MIN(p) AS lo, MAX(p) AS hi
       |  FROM s GROUP BY doc_id, span_id
       |)
       |SELECT doc_id, COUNT(*) AS n_spans,
       |  CAST(MAX(hi - lo + $DupSpanK) AS BIGINT) AS max_span_toks,
       |  CAST(SUM(hi - lo + $DupSpanK) AS BIGINT) AS dup_toks
       |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C49
  /** C49: the Gopher quality rules (Rae et al. 2021, table A1) as a
    * first-failing-reason decision table: token-count bounds, mean
    * word-length bounds, symbol-to-word ratio, alphabetic-word
    * fraction, and the ≥2-distinct-stopwords test. The MassiveText
    * filter set is the de-facto baseline every curation pipeline starts
    * from (C4/C36 cover the model-based and composite gates; this is
    * the rule-based one). All signals are scan-stage integer micro-unit
    * math on the token array — no shuffle before the final ORDER BY —
    * and the thresholds are the paper's (50..100k words, mean length
    * 3..10, 10% symbols, 80% alphabetic, ≥2 stopwords).
    */
  val GopherMinTokens = 50L
  val GopherMaxTokens = 100000L
  val GopherMinMeanMicro = 3000000L
  val GopherMaxMeanMicro = 10000000L
  val GopherMaxPunctPerTokMicro = 100000L
  val GopherMinAlphaMicro = 800000L
  val GopherMinStopKinds = 2L

  def c49GopherRules(spark: SparkSession, dir: String): DataFrame =
    c49Rows(spark, dir).orderBy("doc_id")

  /** The unsorted C49 decision table — C101's calibration labels reuse
    * it without the presentation sort.
    */
  private def c49Rows(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("long").as("punct_cnt"),
        size(filter(toks, t => t.rlike("[a-z]"))).cast("long").as("alpha_cnt"),
        size(array_distinct(filter(toks, t => t.isin(Stopwords: _*))))
          .cast("long").as("stop_kinds"))
      // chars-minus-separators over tokens: the C3 mean-length formula
      .withColumn("mean_len_micro",
        expr("((n_chars - n_tokens + 1) * 1000000) div n_tokens"))
      .withColumn("punct_per_tok_micro", expr("(punct_cnt * 1000000) div n_tokens"))
      .withColumn("alpha_frac_micro", expr("(alpha_cnt * 1000000) div n_tokens"))
      .withColumn("reason",
        // a NULL-text doc must not fall through every NULL comparison
        // into 'ok' (fuzz seed 1): reject it explicitly on both engines
        when(col("n_tokens").isNull, "no_text")
          .when(col("n_tokens") < GopherMinTokens, "too_few_tokens")
          .when(col("n_tokens") > GopherMaxTokens, "too_many_tokens")
          .when(col("mean_len_micro") < GopherMinMeanMicro, "short_words")
          .when(col("mean_len_micro") > GopherMaxMeanMicro, "long_words")
          .when(col("punct_per_tok_micro") > GopherMaxPunctPerTokMicro, "symbol_heavy")
          .when(col("alpha_frac_micro") < GopherMinAlphaMicro, "low_alpha")
          .when(col("stop_kinds") < GopherMinStopKinds, "few_stopwords")
          .otherwise("ok"))
      .withColumn("keep", col("reason") === "ok")
      .select("doc_id", "n_tokens", "mean_len_micro", "punct_per_tok_micro",
        "alpha_frac_micro", "stop_kinds", "keep", "reason")
  }

  val c49Sql: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS punct_cnt,
       |    CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha_cnt,
       |    CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t IN ($stops)))) AS BIGINT) AS stop_kinds
       |  FROM fdoc
       |), g AS (
       |  SELECT doc_id, n_tokens, stop_kinds,
       |    ((n_chars - n_tokens + 1) * 1000000) // n_tokens AS mean_len_micro,
       |    (punct_cnt * 1000000) // n_tokens AS punct_per_tok_micro,
       |    (alpha_cnt * 1000000) // n_tokens AS alpha_frac_micro
       |  FROM f
       |), r AS (
       |  SELECT *,
       |    CASE WHEN n_tokens IS NULL THEN 'no_text'
       |         WHEN n_tokens < $GopherMinTokens THEN 'too_few_tokens'
       |         WHEN n_tokens > $GopherMaxTokens THEN 'too_many_tokens'
       |         WHEN mean_len_micro < $GopherMinMeanMicro THEN 'short_words'
       |         WHEN mean_len_micro > $GopherMaxMeanMicro THEN 'long_words'
       |         WHEN punct_per_tok_micro > $GopherMaxPunctPerTokMicro THEN 'symbol_heavy'
       |         WHEN alpha_frac_micro < $GopherMinAlphaMicro THEN 'low_alpha'
       |         WHEN stop_kinds < $GopherMinStopKinds THEN 'few_stopwords'
       |         ELSE 'ok' END AS reason
       |  FROM g
       |)
       |SELECT doc_id, n_tokens, mean_len_micro, punct_per_tok_micro,
       |  alpha_frac_micro, stop_kinds, reason = 'ok' AS keep, reason
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C53
  /** C53: Bloom-filter decontamination screen — the approximate-membership
    * path next to C29/D14's exact one. The exact screen broadcasts the
    * DISTINCT test-gram hash set, which only works while the held-out
    * suite is small; when the "reference side" is itself huge (dedup
    * against an earlier crawl, a multi-benchmark union), the 100 TB play
    * is a FIXED-SIZE Bloom summary: k=[[BloomK]] probe positions per gram
    * into an m=[[BloomM]]-bit filter, built once from the test side and
    * broadcast to every executor (m/8 bytes, whatever the test set's
    * cardinality), then exact re-check only of the flagged survivors.
    * Relational realization keeps it oracle-provable: the filter IS the
    * distinct set of set bit positions (≤ m rows, broadcast); a gram is
    * bloom-positive iff ALL k of its probe positions are set (count ==
    * k after the equi-join on position — duplicate probe positions
    * double-count on both sides, so collisions stay consistent). m is
    * deliberately small here so false positives actually occur and the
    * fp accounting is exercised; no false negatives is a THEOREM
    * (exact_hits <= bloom_hits, spec-pinned). Gram family and split are
    * the C29/C23 shared definitions.
    */
  val BloomM = 1024L
  val BloomK = 3
  private val BloomProbes = Seq((48271L, 7L), (16807L, 11L), (69621L, 13L))

  private def bloomPositions(gh: Column): Column =
    array(BloomProbes.map { case (a, b) => (gh * lit(a) + lit(b)) % lit(BloomM) }: _*)

  /** The Bloom screen body on any (doc_id, gh) train frame and distinct
    * test-gram frame — ScaleSmoke drives this same code at 10M+ train
    * grams to pin the probe join's flatness (the measured path is
    * size-independent of the TEST side: the filter is ≤ m rows however
    * many grams built it).
    */
  private[graft] def bloomScreenOn(train: DataFrame, testGh: DataFrame): DataFrame = {
    val testBits = testGh.select(explode(bloomPositions(col("gh"))).as("pos")).distinct()
    val bloomPos = train
      .select(col("doc_id"), col("gh"), explode(bloomPositions(col("gh"))).as("pos"))
      .join(broadcast(testBits), Seq("pos"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("n_set"))
      .filter(col("n_set") === BloomK)
    val perDoc = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val bl = bloomPos.groupBy("doc_id").agg(count(lit(1)).as("bloom_hits"))
    // the exact re-check is a plain equi-join on gh — deliberately NOT
    // broadcast: c53 exists precisely for test sides too big to ship,
    // and at scale this join runs only over the Bloom-flagged survivors
    val ex = train.join(testGh, Seq("gh"))
      .groupBy("doc_id").agg(count(lit(1)).as("exact_hits"))
    perDoc
      .join(bl, Seq("doc_id"), "left")
      .join(ex, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("bloom_hits"), lit(0L)).as("bloom_hits"),
        coalesce(col("exact_hits"), lit(0L)).as("exact_hits"))
      .withColumn("fp_grams", col("bloom_hits") - col("exact_hits"))
      .withColumn("flagged", (col("bloom_hits") > 0L).cast("long"))
      .orderBy("doc_id")
  }

  def c53BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val grams = distinctGrams(spark, dir).withColumn("split", splitCol)
    bloomScreenOn(
      grams.filter(col("split") === "train").select("doc_id", "gh"),
      grams.filter(col("split") === "test").select("gh").distinct())
  }

  /** The shared d/graw/g/posu oracle CTE chain (split + gram family +
    * probe positions) — one definition feeding c53Sql and d21's bit
    * table twin.
    */
  private[graft] val bloomPosuCtesSql: String = {
    val posList = BloomProbes
      .map { case (a, b) => s"(gh * $a + $b) % $BloomM" }.mkString("[", ", ", "]")
    s"""d AS (
       |  SELECT doc_id,
       |    CASE WHEN (doc_id * 2654435761 + 40503) % 100 < 80 THEN 'train'
       |         WHEN (doc_id * 2654435761 + 40503) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    string_split(text, ' ') AS toks
       |  FROM fdoc
       |), graw AS (
       |  SELECT doc_id, split,
       |    UNNEST(list_transform(range(1, len(toks) - $ContamN + 2),
       |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(list_slice(toks, i, i + $ContamN - 1),
       |               w -> ${tokenHashSql("w")})),
       |           (acc, h) -> (acc * $FpB + h) % $FpM))) AS gh
       |  FROM d WHERE len(toks) >= $ContamN
       |), g AS (SELECT DISTINCT doc_id, split, gh FROM graw
       |), posu AS (
       |  SELECT split, doc_id, gh, UNNEST($posList) AS pos FROM g
       |)""".stripMargin
  }

  /** The Bloom set-bit cells (pos, n_refs) on ANY documents frame —
    * batch or stream: D21 maintains exactly this aggregate as streaming
    * state (≤ [[BloomM]] rows BY CONSTRUCTION), and C53's broadcast
    * filter is its DISTINCT pos projection. n_refs counts (doc, gram,
    * probe) references landing on the bit — the counter a COUNTING
    * Bloom filter keeps so deletions/TTL work; the within-doc gram
    * dedup is map-side `array_distinct`, so no stream-level distinct
    * state exists.
    */
  private[graft] def bloomBitsOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= ContamN)
      .filter(splitCol === "test")
      .select(col("doc_id"), explode(array_distinct(gramHashes(col("toks")))).as("gh"))
      .select(explode(bloomPositions(col("gh"))).as("pos"))
      .groupBy("pos").agg(count(lit(1)).as("n_refs"))

  val bloomBitsSql: String =
    s"""WITH $bloomPosuCtesSql
       |SELECT pos, COUNT(*) AS n_refs FROM posu WHERE split = 'test'
       |GROUP BY pos ORDER BY pos""".stripMargin

  val c53Sql: String = {
    s"""WITH $bloomPosuCtesSql, testbits AS (
       |  SELECT DISTINCT pos FROM posu WHERE split = 'test'
       |), testgh AS (SELECT DISTINCT gh FROM g WHERE split = 'test'
       |), train AS (SELECT doc_id, gh FROM g WHERE split = 'train'
       |), probes AS (
       |  SELECT doc_id, gh, pos FROM posu WHERE split = 'train'
       |), bp AS (
       |  SELECT doc_id, gh FROM probes JOIN testbits USING (pos)
       |  GROUP BY doc_id, gh HAVING COUNT(*) = $BloomK
       |), agg AS (
       |  SELECT t.doc_id, COUNT(*) AS n_grams,
       |    COUNT(b.gh) AS bloom_hits,
       |    COUNT(e.gh) AS exact_hits
       |  FROM train t
       |  LEFT JOIN bp b ON b.doc_id = t.doc_id AND b.gh = t.gh
       |  LEFT JOIN testgh e ON e.gh = t.gh
       |  GROUP BY t.doc_id
       |)
       |SELECT doc_id, n_grams, bloom_hits, exact_hits,
       |  bloom_hits - exact_hits AS fp_grams,
       |  CAST(bloom_hits > 0 AS BIGINT) AS flagged
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- C52
  /** C52: hashed linear quality classifier — the fastText-style filter
    * CCNet (Wenzek et al. 2020) and LLaMA's pipeline run between the
    * rule gates (C36/C49) and training: each token hashes into one of
    * [[ClsBuckets]] feature buckets, the doc score is the bucket-weight
    * sum normalized by length, keep ⇔ score ≥ 0. Weights here are a
    * fixed pseudo-random table derived from the bucket id (Knuth
    * multiplicative hash → [−1000, 1000]) — deterministic and
    * engine-neutral where a trained model would ship real weights; the
    * SHAPE is the deployed one: the model is a pure per-bucket lookup,
    * so scoring is transform+fold over the token array ENTIRELY in the
    * scan stage — zero shuffles at any corpus size (the final sort is
    * presentation only), exactly how a linear classifier stays free at
    * 100 TB while a GPU-scored quality model becomes the bottleneck.
    * Max |score_raw| = n_tokens·1000, so micro-scaling stays far from
    * BIGINT overflow at any document length.
    */
  val ClsBuckets = 64

  /** The C52 scoring projection on ANY (doc_id, text) frame — pure
    * scan-stage column math, so it applies unchanged to a STREAMING
    * micro-batch (D29's per-batch leaderboard candidates) and feeds
    * C101's calibration without C52's presentation sort.
    */
  def clsScoreCols(docs: DataFrame): DataFrame = {
    val bucketWeight = (t: Column) =>
      (tokenHash(t) % lit(ClsBuckets.toLong)) * lit(2654435761L) % lit(2001L) - lit(1000L)
    val score = aggregate(transform(tokens(col("text")), bucketWeight), lit(0L), _ + _)
    docs
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        score.as("score_raw"))
      .withColumn("score_micro", expr("(score_raw * 1000000) div greatest(n_tokens, 1)"))
      .withColumn("keep", (col("score_micro") >= 0L).cast("long"))
  }

  private def c52Scored(spark: SparkSession, dir: String): DataFrame =
    clsScoreCols(Tables.documents(spark, dir))

  def c52HashClassifier(spark: SparkSession, dir: String): DataFrame =
    c52Scored(spark, dir).orderBy("doc_id")

  val c52Sql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CASE WHEN text IS NULL THEN NULL
       |    ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '),
       |        t -> (${tokenHashSql("t")} % $ClsBuckets) * 2654435761 % 2001 - 1000)),
       |      (x, y) -> x + y) END AS score_raw
       |  FROM fdoc)
       |SELECT doc_id, n_tokens, score_raw,
       |  (score_raw * 1000000) // greatest(n_tokens, 1) AS score_micro,
       |  CAST(((score_raw * 1000000) // greatest(n_tokens, 1)) >= 0 AS BIGINT) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C101
  /** C101: classifier calibration (reliability diagram + ECE; Guo et
    * al. 2017) — C52's linear quality score binned into [[CalBuckets]]
    * confidence buckets against C49's Gopher rule-gate as the label:
    * per bucket the doc count, mean confidence, observed positive rate,
    * their gap, and the bucket's expected-calibration-error
    * contribution. The table that says whether a quality classifier's
    * score can be THRESHOLDED at face value or first needs temperature
    * scaling — the eval every model-scored curation pipeline runs
    * before picking its keep threshold (C94 measures pairwise gate
    * AGREEMENT; this measures score TRUSTWORTHINESS).
    *
    * Confidence maps C52's score_micro ∈ [−1e9, 1e9] affinely onto
    * [0, 1e6]; all bucket stats are exact BIGINT micro-unit divisions,
    * so both engines bin and aggregate identically. Scale shape: two
    * scan-stage projections (score and gate are both shuffle-free
    * column math), ONE doc-keyed equi-join, a [[CalBuckets]]-key
    * partial agg, and a 1-row broadcast for the ECE weights — nothing
    * grows with the corpus but the join.
    */
  val CalBuckets = 10L

  /** The (bucket, n_docs, sum_conf, n_pos) reliability table shared by
    * C101 (ECE) and C116 (isotonic fit) — the only corpus-sized work
    * in either: two scan-stage projections, one doc-keyed join, a
    * [[CalBuckets]]-key partial agg.
    */
  private def calBuckets(spark: SparkSession, dir: String): DataFrame = {
    val conf = c52Scored(spark, dir)
      .select(col("doc_id"),
        expr("(score_micro + 1000000000) div 2000").as("conf_micro"))
    val labels = c49Rows(spark, dir)
      .select(col("doc_id"), col("keep").cast("long").as("pos"))
    conf.join(labels, "doc_id")
      .withColumn("bucket",
        least(expr("conf_micro div 100000"), lit(CalBuckets - 1L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("conf_micro").as("sum_conf"),
        sum("pos").as("n_pos"))
  }

  def c101Calibration(spark: SparkSession, dir: String): DataFrame = {
    val buckets = calBuckets(spark, dir)
    val total = buckets.agg(sum("n_docs").as("n_total"))
    buckets.crossJoin(broadcast(total))
      .withColumn("mean_conf_micro", expr("sum_conf div n_docs"))
      .withColumn("pos_rate_micro", expr("(n_pos * 1000000) div n_docs"))
      .withColumn("gap_micro", abs(col("mean_conf_micro") - col("pos_rate_micro")))
      .withColumn("ece_contrib_nano", expr("(n_docs * gap_micro * 1000) div n_total"))
      .select("bucket", "n_docs", "mean_conf_micro", "pos_rate_micro",
        "gap_micro", "ece_contrib_nano")
      .orderBy("bucket")
  }

  /** The oracle twin of [[calBuckets]] — the CTE prefix C101 and C116
    * both build on (ends with `b` = the reliability table).
    */
  private val calBucketCtes: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH sc AS (
       |  SELECT doc_id,
       |    (((CASE WHEN text IS NULL THEN NULL
       |    ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(string_split(text, ' '),
       |          t -> (${tokenHashSql("t")} % $ClsBuckets) * 2654435761 % 2001 - 1000)),
       |        (x, y) -> x + y) END * 1000000)
       |      // greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1))
       |     + 1000000000) // 2000 AS conf_micro
       |  FROM fdoc
       |), f AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS punct_cnt,
       |    CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha_cnt,
       |    CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t IN ($stops)))) AS BIGINT) AS stop_kinds
       |  FROM fdoc
       |), lab AS (
       |  SELECT doc_id,
       |    CASE WHEN n_tokens >= $GopherMinTokens AND n_tokens <= $GopherMaxTokens
       |      AND ((n_chars - n_tokens + 1) * 1000000) // n_tokens
       |            BETWEEN $GopherMinMeanMicro AND $GopherMaxMeanMicro
       |      AND (punct_cnt * 1000000) // n_tokens <= $GopherMaxPunctPerTokMicro
       |      AND (alpha_cnt * 1000000) // n_tokens >= $GopherMinAlphaMicro
       |      AND stop_kinds >= $GopherMinStopKinds
       |    THEN 1 ELSE 0 END AS pos
       |  FROM f
       |), b AS (
       |  SELECT least(conf_micro // 100000, ${CalBuckets - 1L}) AS bucket,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(conf_micro) AS BIGINT) AS sum_conf,
       |    CAST(SUM(pos) AS BIGINT) AS n_pos
       |  FROM sc JOIN lab USING (doc_id) GROUP BY 1
       |)""".stripMargin
  }

  val c101Sql: String =
    s"""$calBucketCtes, t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM b)
       |SELECT bucket, n_docs,
       |  sum_conf // n_docs AS mean_conf_micro,
       |  (n_pos * 1000000) // n_docs AS pos_rate_micro,
       |  abs(sum_conf // n_docs - (n_pos * 1000000) // n_docs) AS gap_micro,
       |  (n_docs * abs(sum_conf // n_docs - (n_pos * 1000000) // n_docs) * 1000)
       |    // n_total AS ece_contrib_nano
       |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------- C116
  /** C116: isotonic calibration (PAV fit) of the C101 reliability
    * table — the monotone-nondecreasing map from score bucket to
    * corrected positive rate (Zadrozny & Elkan 2002; the
    * strictly-stronger follow-up to C101's diagnosis: C101 SAYS the
    * raw score is miscalibrated, this produces the map that FIXES it
    * without refitting the classifier). Computed via the minimax
    * identity iso(i) = max_{a≤i} min_{b≥i} mean(a..b) (Barlow et al.
    * 1972), which equals the pool-adjacent-violators fit on exact
    * means and is monotone BY CONSTRUCTION for any interval statistic
    * (feasible sets nest in i) — so quantizing each interval mean to
    * truncated micro FIRST keeps both engines identical without any
    * rational-comparison machinery. Buckets are [[CalBuckets]]-bounded
    * ⇒ the O(K³) minimax folds driver-side in exact Long arithmetic
    * (the C105 rule: a K-row reduction is driver-sized by definition)
    * and rejoins as a broadcast; the only corpus-sized work is the
    * shared [[calBuckets]] scan+join+agg. `pooled` flags buckets the
    * fit moved — a perfectly calibrated-in-order classifier has none.
    */
  def c116Isotonic(spark: SparkSession, dir: String): DataFrame = {
    val b = calBuckets(spark, dir).select("bucket", "n_docs", "n_pos")
    val rows = b.orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val k = rows.length
    def meanMicro(a: Int, bi: Int): Long = {
      var docs = 0L; var pos = 0L
      var i = a; while (i <= bi) { docs += rows(i)._2; pos += rows(i)._3; i += 1 }
      (pos * 1000000L) / docs // pos ≥ 0, docs > 0: / ≡ truncating div
    }
    val iso = Array.tabulate(k) { i =>
      (0 to i).map(a => (i until k).map(bi => meanMicro(a, bi)).min).max
    }
    import spark.implicits._
    val isoDf = broadcast(
      rows.indices.map(i => (rows(i)._1, iso(i))).toDF("bucket", "iso_rate_micro"))
    b.join(isoDf, "bucket")
      .withColumn("pos_rate_micro", expr("(n_pos * 1000000) div n_docs"))
      .withColumn("dev_micro", abs(col("pos_rate_micro") - col("iso_rate_micro")))
      .withColumn("pooled",
        (col("pos_rate_micro") =!= col("iso_rate_micro")).cast("long"))
      .select("bucket", "n_docs", "pos_rate_micro", "iso_rate_micro",
        "dev_micro", "pooled")
      .orderBy("bucket")
  }

  val c116Sql: String =
    s"""$calBucketCtes, iv AS (
       |  SELECT l.bucket AS lo, h.bucket AS hi,
       |    (CAST(SUM(x.n_pos) AS BIGINT) * 1000000)
       |      // CAST(SUM(x.n_docs) AS BIGINT) AS m
       |  FROM b l JOIN b h ON l.bucket <= h.bucket
       |  JOIN b x ON x.bucket BETWEEN l.bucket AND h.bucket
       |  GROUP BY 1, 2
       |), mn AS (
       |  SELECT iv.lo, bb.bucket, MIN(iv.m) AS mn
       |  FROM iv JOIN b bb ON iv.lo <= bb.bucket AND iv.hi >= bb.bucket
       |  GROUP BY 1, 2
       |), iso AS (
       |  SELECT bucket, CAST(MAX(mn) AS BIGINT) AS iso_rate_micro
       |  FROM mn GROUP BY 1
       |)
       |SELECT b.bucket, b.n_docs,
       |  (b.n_pos * 1000000) // b.n_docs AS pos_rate_micro,
       |  iso.iso_rate_micro,
       |  abs((b.n_pos * 1000000) // b.n_docs - iso.iso_rate_micro) AS dev_micro,
       |  CAST((b.n_pos * 1000000) // b.n_docs <> iso.iso_rate_micro AS BIGINT) AS pooled
       |FROM b JOIN iso ON b.bucket = iso.bucket
       |ORDER BY b.bucket""".stripMargin

  // --------------------------------------------------------------- C117
  /** C117: KS drift — the Kolmogorov–Smirnov statistic between the OLD
    * and NEW halves' C52 quality-score distributions (C67's midpoint
    * split, C73's snapshot-vs-batch frame): the rank-based drift alarm
    * next to C73's unigram JS — JS sees WHAT tokens shifted, KS sees
    * whether the SCORE distribution a keep-threshold reads has moved
    * (the thing that silently changes the keep rate between crawls).
    * Reports the top-10 ECDF gaps (ties to the smaller score); row
    * rk=1's gap IS the KS statistic.
    *
    * Exactness: per distinct score the two ECDFs quantize separately
    * as (cum·1e6) div n — per-side truncation keeps intermediates
    * ≤ 1e6·n (cross-multiplying the gap as cum_old·n_new would
    * overflow BIGINT near 10¹² docs); gap and max are then exact
    * integers in both engines.
    *
    * Scale shape: one scan-stage score projection, one score-keyed
    * partial agg (map-side combined) to the distinct-score table, then
    * the cumulative counts run as a TWO-LEVEL cumsum: per-RANGE totals
    * (range = score div 2²¹, value-domain bounded at ~10³ rows, the
    * C22 argument) take a bounded prefix window and broadcast back as
    * offsets, and the corpus-sized level runs a window partitioned BY
    * RANGE — never a corpus-wide single-partition sort. Truncating div
    * is monotone, so range order is consistent with score order. The
    * top-10 is a TakeOrdered, not a full sort.
    */
  def c117KsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(((min("doc_id") + max("doc_id")) / 2).cast("long").as("cut"))
    // the KS statistic is defined over SCORED docs: NULL scores
    // (NULL-text docs, fuzz seed 1) would otherwise sort NULLS FIRST in
    // Spark's ASC window but NULLS LAST in DuckDB's — a silent CDF shift
    val perScore = clsScoreCols(docs).select(col("doc_id"), col("score_micro"))
      .filter(col("score_micro").isNotNull)
      .crossJoin(broadcast(cut))
      .select(col("score_micro"), (col("doc_id") < col("cut")).cast("long").as("is_old"))
      .groupBy("score_micro")
      .agg(sum("is_old").as("c_old"), (count(lit(1)) - sum("is_old")).as("c_new"))
      .withColumn("rng", expr("score_micro div 2097152"))
    val wr = Window.orderBy("rng").rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = perScore.groupBy("rng")
      .agg(sum("c_old").as("r_old"), sum("c_new").as("r_new"))
      .select(col("rng"),
        coalesce(sum("r_old").over(wr), lit(0L)).as("p_old"),
        coalesce(sum("r_new").over(wr), lit(0L)).as("p_new"))
    val wl = Window.partitionBy("rng").orderBy("score_micro")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = perScore.agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"))
    val gaps = perScore.join(broadcast(prefixes), "rng")
      .withColumn("cum_old", sum("c_old").over(wl) + col("p_old"))
      .withColumn("cum_new", sum("c_new").over(wl) + col("p_new"))
      .crossJoin(broadcast(tot))
      // NULL-guarded div: an empty snapshot side (fuzz seed 0) has no
      // CDF — DuckDB's x//0 is NULL, ANSI div throws
      .withColumn("f_old_micro", expr(
        "CASE WHEN n_old = 0 THEN CAST(NULL AS BIGINT) ELSE (cum_old * 1000000) div n_old END"))
      .withColumn("f_new_micro", expr(
        "CASE WHEN n_new = 0 THEN CAST(NULL AS BIGINT) ELSE (cum_new * 1000000) div n_new END"))
      .withColumn("gap_micro", abs(col("f_old_micro") - col("f_new_micro")))
    val top = gaps.orderBy(col("gap_micro").desc, col("score_micro")).limit(10)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("gap_micro").desc, col("score_micro"))))
      .select("rk", "score_micro", "f_old_micro", "f_new_micro", "gap_micro",
        "n_old", "n_new")
      .orderBy("rk")
  }

  val c117Sql: String =
    s"""WITH cut AS (
       |  SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut FROM fdoc
       |), sc AS (
       |  SELECT doc_id,
       |    (CASE WHEN text IS NULL THEN NULL
       |    ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '),
       |        t -> (${tokenHashSql("t")} % $ClsBuckets) * 2654435761 % 2001 - 1000)),
       |      (x, y) -> x + y) END * 1000000)
       |      // greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS score_micro
       |  FROM fdoc
       |), g AS (
       |  SELECT score_micro,
       |    CAST(SUM(CASE WHEN doc_id < cut THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
       |    CAST(SUM(CASE WHEN doc_id >= cut THEN 1 ELSE 0 END) AS BIGINT) AS c_new
       |  FROM sc, cut WHERE score_micro IS NOT NULL GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(c_old) AS BIGINT) AS n_old,
       |    CAST(SUM(c_new) AS BIGINT) AS n_new FROM g
       |), cum AS (
       |  SELECT score_micro,
       |    CAST(SUM(c_old) OVER (ORDER BY score_micro
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_old,
       |    CAST(SUM(c_new) OVER (ORDER BY score_micro
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_new
       |  FROM g
       |), f AS (
       |  SELECT score_micro,
       |    (cum_old * 1000000) // n_old AS f_old_micro,
       |    (cum_new * 1000000) // n_new AS f_new_micro,
       |    abs((cum_old * 1000000) // n_old - (cum_new * 1000000) // n_new) AS gap_micro,
       |    n_old, n_new
       |  FROM cum, tot
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY gap_micro DESC, score_micro) AS INTEGER) AS rk,
       |  score_micro, f_old_micro, f_new_micro, gap_micro, n_old, n_new
       |FROM f
       |QUALIFY rk <= 10
       |ORDER BY rk""".stripMargin

  // --------------------------------------------------------------- C118
  /** C118: token-mass concentration per language — exact Gini
    * coefficient + top-decile mass share over document token counts:
    * the Lorenz diagnostic ("do 10% of documents carry half the
    * tokens?") a sampling/packing plan reads before per-DOC budgets
    * (C32) or per-doc dedup decisions silently skew per-TOKEN reality.
    *
    * The corpus NEVER sorts: token counts are value-domain bounded
    * (the C22 argument), so the scan collapses to a (lang, cnt)
    * histogram; ranks reconstruct from the histogram's running count —
    * a tie-run of m docs at count x occupying 1-indexed ranks
    * cum+1..cum+m contributes x·(m·(cum+1) + m(m−1)/2) to Σ rank·x —
    * and Gini = (2·Σ rank·x − (n+1)·T) / (n·T) becomes one truncating
    * div of exact BIGINT sums. The bottom-(9n div 10) mass (for the
    * top-decile share) reads off the same histogram: each run gives
    * cnt·clamp(q − cum, 0, m). Headroom: 2e6·n·T must fit BIGINT —
    * holds to n·T ≈ 4.6·10¹² per lang (e.g. 10⁶ docs × 10⁶ tokens);
    * beyond that the per-lang FOLD (the lang-keyed agg is already
    * tiny) switches to DECIMAL(38) unchanged in shape. Scale shape:
    * one scan + one (lang, cnt)-keyed partial agg; the prefix window
    * runs on the bounded histogram partitioned by lang; two lang-keyed
    * K-row aggs finish.
    */
  def c118Gini(spark: SparkSession, dir: String): DataFrame =
    giniFromHistogram(Tables.documents(spark, dir)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("cnt"))
      .groupBy("lang", "cnt").agg(count(lit(1)).as("m")))

  /** The Lorenz finalize on ANY (lang, cnt, m) histogram — the batch
    * C118 and the streaming D36 share it (the histogram is the
    * mergeable summary; everything below runs on its bounded rows).
    */
  def giniFromHistogram(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, -1)
    // a NULL count (NULL-text doc, fuzz seed 1) is not a rankable
    // member of the Lorenz population — and it would sort NULLS FIRST
    // here but NULLS LAST in DuckDB, silently shifting every cum
    val c = g.filter(col("cnt").isNotNull)
      .withColumn("cum", coalesce(sum("m").over(w), lit(0L)))
    val l = c.groupBy("lang").agg(
      sum("m").as("n_docs"),
      sum(expr("cnt * m")).as("total_tokens"),
      sum(expr("cnt * (m * (cum + 1) + (m * (m - 1)) div 2)")).as("s"))
    val bottom = c.join(broadcast(l.select(col("lang"), col("n_docs").as("n"))), "lang")
      .groupBy("lang")
      .agg(sum(expr("cnt * greatest(0L, least(m, (n * 9) div 10 - cum))")).as("bottom_mass"))
    l.join(bottom, "lang")
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        expr("(2 * s * 1000000 - (n_docs + 1) * total_tokens * 1000000) div (n_docs * total_tokens)")
          .as("gini_micro"),
        expr("((total_tokens - bottom_mass) * 1000000) div total_tokens")
          .as("top_decile_share_micro"))
      .orderBy("lang")
  }

  val c118Sql: String =
    """WITH d AS (
      |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS cnt
      |  FROM fdoc WHERE text IS NOT NULL
      |), g AS (
      |  SELECT lang, cnt, CAST(COUNT(*) AS BIGINT) AS m FROM d GROUP BY 1, 2
      |), c AS (
      |  SELECT lang, cnt, m,
      |    CAST(COALESCE(SUM(m) OVER (PARTITION BY lang ORDER BY cnt
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
      |  FROM g
      |), l AS (
      |  SELECT lang, CAST(SUM(m) AS BIGINT) AS n_docs,
      |    CAST(SUM(cnt * m) AS BIGINT) AS total_tokens,
      |    CAST(SUM(cnt * (m * (cum + 1) + (m * (m - 1)) // 2)) AS BIGINT) AS s
      |  FROM c GROUP BY 1
      |), bm AS (
      |  SELECT c.lang,
      |    CAST(SUM(c.cnt * GREATEST(0, LEAST(c.m, (l.n_docs * 9) // 10 - c.cum))) AS BIGINT)
      |      AS bottom_mass
      |  FROM c JOIN l USING (lang) GROUP BY 1
      |)
      |SELECT l.lang, l.n_docs, l.total_tokens,
      |  (2 * s * 1000000 - (n_docs + 1) * total_tokens * 1000000)
      |    // (n_docs * total_tokens) AS gini_micro,
      |  ((total_tokens - bottom_mass) * 1000000) // total_tokens
      |    AS top_decile_share_micro
      |FROM l JOIN bm USING (lang) ORDER BY l.lang""".stripMargin

  // --------------------------------------------------------------- C123
  /** C123: split-conformal keep-threshold (Vovk et al. 2005; Angelopoulos
    * & Bates 2023's split-conformal recipe) — calibrate the C52 quality
    * score on the VAL split so "keep if score ≥ t" carries a
    * distribution-free coverage guarantee: with t = the k-th smallest
    * val score, k = (n_val+1)·α div 1e6 (α = [[ConformalAlphaMicro]]),
    * exchangeability gives P(new score ≥ t) ≥ 1−α — the principled way
    * to pick the threshold C101/C116 only diagnose. Reports the
    * threshold and the realized coverage on val AND test (the honest
    * check: test coverage should land near 1−α without having touched
    * the calibration). Splits are C23's affine hash — the same
    * assignment every split-aware operator uses.
    *
    * Exactness: scores are integers; the k-th order statistic reads
    * off the distinct-score histogram's running count (the C117
    * machinery — at this cardinality one bounded window; the two-level
    * cumsum applies verbatim if scores explode); coverages are
    * (count·1e6) div n. Scale shape: one scan-stage score+split
    * projection, one score-keyed histogram agg, a 1-row threshold
    * reduction broadcast into two count aggs.
    */
  val ConformalAlphaMicro = 100000L // α = 0.1 → target coverage 0.9

  def c123Conformal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = c52Scored(spark, dir).select(col("doc_id"), col("score_micro"))
      .withColumn("h", pmod(col("doc_id") * lit(2654435761L) + lit(40503L), lit(100L)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
    val nVal = scored.filter(col("split") === "val").count()
    val k = (nVal + 1L) * ConformalAlphaMicro / 1000000L
    val w = Window.orderBy("score_micro").rowsBetween(Window.unboundedPreceding, 0)
    val thr = scored.filter(col("split") === "val")
      .groupBy("score_micro").agg(count(lit(1)).as("m"))
      .withColumn("cum", sum("m").over(w))
      .filter(col("cum") >= k)
      .agg(min("score_micro").as("threshold_micro"))
    scored.crossJoin(broadcast(thr))
      .groupBy(lit(1).as("one"))
      .agg(
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
        max(col("threshold_micro")).as("threshold_micro"),
        sum(when(col("split") === "val" && col("score_micro") >= col("threshold_micro"),
          1L).otherwise(0L)).as("kept_val"),
        sum(when(col("split") === "test" && col("score_micro") >= col("threshold_micro"),
          1L).otherwise(0L)).as("kept_test"))
      .select(col("n_val"), col("n_test"), lit(k).as("k"), col("threshold_micro"),
        // NULL-guarded div: an empty split (fuzz seed 0's one doc lands
        // in train) has no coverage — DuckDB x//0 is NULL
        expr("CASE WHEN n_val = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE (kept_val * 1000000) div n_val END").as("coverage_val_ppm"),
        expr("CASE WHEN n_test = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE (kept_test * 1000000) div n_test END").as("coverage_test_ppm"))
  }

  val c123Sql: String =
    s"""WITH sc AS (
       |  SELECT doc_id,
       |    (CASE WHEN text IS NULL THEN NULL
       |    ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ' '),
       |        t -> (${tokenHashSql("t")} % $ClsBuckets) * 2654435761 % 2001 - 1000)),
       |      (x, y) -> x + y) END * 1000000)
       |      // greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS score_micro,
       |    CASE WHEN (doc_id * 2654435761 + 40503) % 100 < 80 THEN 'train'
       |         WHEN (doc_id * 2654435761 + 40503) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM fdoc
       |), nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_val FROM sc WHERE split = 'val'),
       |kk AS (SELECT (n_val + 1) * $ConformalAlphaMicro // 1000000 AS k, n_val FROM nv),
       |hist AS (
       |  SELECT score_micro, COUNT(*) AS m,
       |    SUM(COUNT(*)) OVER (ORDER BY score_micro
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sc WHERE split = 'val' GROUP BY score_micro
       |), thr AS (
       |  SELECT MIN(score_micro) AS threshold_micro FROM hist, kk WHERE cum >= kk.k
       |)
       |SELECT
       |  CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       |  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |  CAST(kk.k AS BIGINT) AS k,
       |  t.threshold_micro,
       |  CAST((CAST(SUM(CASE WHEN split = 'val' AND score_micro >= t.threshold_micro
       |      THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |    // SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS coverage_val_ppm,
       |  CAST((CAST(SUM(CASE WHEN split = 'test' AND score_micro >= t.threshold_micro
       |      THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |    // SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS coverage_test_ppm
       |FROM sc CROSS JOIN thr t CROSS JOIN kk
       |GROUP BY kk.k, t.threshold_micro""".stripMargin

  // --------------------------------------------------------------- C124
  /** C124: Hill tail-index plot per language (Hill 1975) — the MLE for
    * a Pareto tail evaluated at several cut depths k: α̂(k) =
    * k / Σ_{i≤k} ln(tf_(i)/tf_(k+1)) over the top-k token frequencies.
    * C71 fits ONE slope through the whole top-200 (and r² says how
    * badly a single line fits); the Hill PLOT shows whether the tail
    * exponent is STABLE in k — the "is this power law real or a
    * mixture" diagnostic (template floods and spam show a drifting
    * α̂(k); natural text plateaus near the Zipf exponent). Exactness:
    * ln(tf) quantizes to micro per ROW (the a1/c60 rule), H_sum =
    * Σln(tf_i)_micro − k·ln(tf_(k+1))_micro is then exact BIGINT ≥ 0,
    * and α̂_micro = k·10¹² div max(H_sum, 1). Scale shape: the token
    * count is the map-side corpus agg; ranking and the ≤(K+1)-row-
    * per-(lang,k) inequality join run on the VOCAB frame (never the
    * corpus); languages with fewer than k+1 distinct tokens drop that
    * depth (no k+1-st order statistic exists — both engines inner-join
    * it away).
    */
  val HillKs: Seq[Int] = Seq(10, 20, 50, 100)

  def c124Hill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("lang").orderBy(col("tf").desc, col("token"))
    val ranked = tf
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= HillKs.max + 1)
      .select(col("lang"), col("rnk"),
        round(log(col("tf").cast("double")) * 1e6, 0).cast("long").as("lny"))
    import spark.implicits._
    val ks = HillKs.map(_.toLong).toDF("k")
    val sums = ranked.join(broadcast(ks), col("rnk") <= col("k"))
      .groupBy("lang", "k").agg(sum("lny").as("s_top"))
    val base = ranked.join(broadcast(ks.withColumn("r1", col("k") + 1L)),
        col("rnk") === col("r1"))
      .select(col("lang"), col("k"), col("lny").as("ln_base"))
    sums.join(base, Seq("lang", "k"))
      .withColumn("h_sum_micro", col("s_top") - col("k") * col("ln_base"))
      .withColumn("alpha_micro",
        expr("(k * 1000000000000) div greatest(h_sum_micro, 1)"))
      .select("lang", "k", "h_sum_micro", "alpha_micro")
      .orderBy("lang", "k")
  }

  val c124Sql: String = {
    val ks = HillKs.mkString(", ")
    s"""WITH tf AS (
       |  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS token
       |        FROM fdoc)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT lang, rnk,
       |    CAST(ROUND(ln(CAST(tf AS DOUBLE)) * 1e6) AS BIGINT) AS lny
       |  FROM (SELECT lang, tf, ROW_NUMBER() OVER (PARTITION BY lang
       |          ORDER BY tf DESC, token) AS rnk FROM tf)
       |  WHERE rnk <= ${HillKs.max + 1}
       |), ks AS (SELECT UNNEST([$ks]) AS k),
       |sums AS (
       |  SELECT r.lang, CAST(ks.k AS BIGINT) AS k,
       |    CAST(SUM(r.lny) AS BIGINT) AS s_top
       |  FROM ranked r JOIN ks ON r.rnk <= ks.k
       |  GROUP BY 1, 2
       |), base AS (
       |  SELECT r.lang, CAST(ks.k AS BIGINT) AS k, r.lny AS ln_base
       |  FROM ranked r JOIN ks ON r.rnk = ks.k + 1
       |)
       |SELECT s.lang, s.k,
       |  s.s_top - s.k * b.ln_base AS h_sum_micro,
       |  (s.k * 1000000000000) // greatest(s.s_top - s.k * b.ln_base, 1) AS alpha_micro
       |FROM sums s JOIN base b ON b.lang = s.lang AND b.k = s.k
       |ORDER BY s.lang, s.k""".stripMargin
  }

  // --------------------------------------------------------------- C125
  /** C125: tokenizer-rot drift — C119's WordPiece fertility computed
    * SEPARATELY on the old and new corpus halves (C67's midpoint
    * split) under the ONE frozen corpus-derived vocab: when the
    * incoming data drifts away from what the tokenizer was built on,
    * fertility on the new half rises (more pieces per word — the
    * quiet cost every deployed tokenizer pays as its corpus moves; the
    * vocab-refresh trigger next to C73's token-level JS and C117's
    * score-level KS). All-integer: per-half word/piece sums, fertility
    * in nano, drift = new − old (signed, exact). Scale shape: the
    * frozen vocab broadcasts once; ONE segmentation scan tagged by the
    * 1-row midpoint broadcast; one (lang, half)-keyed agg; the pivot
    * to old/new columns is a lang-keyed self-join of a K-row frame.
    */
  def c125FertilityDrift(spark: SparkSession, dir: String): DataFrame = {
    val (init, cont) = wpVocab(spark, dir)
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(((min("doc_id") + max("doc_id")) / 2).cast("long").as("cut"))
    val halves = docs.crossJoin(broadcast(cut))
      .select(col("lang"),
        (col("doc_id") < col("cut")).cast("long").as("is_old"),
        size(expr("filter(split(text, ' '), t -> length(t) > 0)"))
          .cast("long").as("n_words"),
        size(graft.functions.textseg.wordpiece_segment(col("text"), init, cont))
          .cast("long").as("n_pieces"))
      .groupBy("lang", "is_old")
      .agg(sum("n_words").as("n_words"), sum("n_pieces").as("n_pieces"))
      // a half EXISTS iff it has at least one nonempty word — the
      // oracle's hwords⋈wcount group; an all-NULL/empty half (fuzz
      // seed 1) must drop its lang via the inner join, not emit NULL
      // fertility rows the oracle doesn't have
      .filter(col("n_words") > 0)
      .withColumn("fert_nano", expr("(n_pieces * 1000000000) div n_words"))
    halves.filter(col("is_old") === 1L)
      .select(col("lang"), col("fert_nano").as("fert_old_nano"))
      .join(halves.filter(col("is_old") === 0L)
        .select(col("lang"), col("fert_nano").as("fert_new_nano")), "lang")
      .withColumn("drift_nano", col("fert_new_nano") - col("fert_old_nano"))
      .orderBy("lang")
  }

  // lazy: wpBaseCtes is declared further down in this object
  lazy val c125Sql: String =
    s"""$wpBaseCtes, cut AS (
       |  SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut FROM fdoc
       |), hwords AS (
       |  SELECT d.lang, CAST(d.doc_id < c.cut AS BIGINT) AS is_old,
       |    UNNEST(string_split(d.text, ' ')) AS w
       |  FROM fdoc d, cut c
       |), halves AS (
       |  SELECT hw.lang, hw.is_old,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(wc.npieces) AS BIGINT) AS n_pieces
       |  FROM hwords hw JOIN wcount wc ON wc.w = hw.w
       |  GROUP BY 1, 2
       |), f AS (
       |  SELECT lang, is_old,
       |    (n_pieces * 1000000000) // n_words AS fert_nano
       |  FROM halves
       |)
       |SELECT o.lang, o.fert_nano AS fert_old_nano, n.fert_nano AS fert_new_nano,
       |  n.fert_nano - o.fert_nano AS drift_nano
       |FROM f o JOIN f n ON n.lang = o.lang AND o.is_old = 1 AND n.is_old = 0
       |ORDER BY o.lang""".stripMargin

  // --------------------------------------------------------------- C119
  /** Vocab size and piece-length cap for the C119 WordPiece build. */
  val WpTopPieces = 150
  val WpMaxPieceLen = 4

  private val wpVocabCache =
    new graft.util.Memo[(String, String), (Seq[String], Seq[String])]

  /** Session+dir memo of the corpus-derived WordPiece vocab: the top
    * [[WpTopPieces]] character n-grams (2..[[WpMaxPieceLen]]) by
    * occurrence weight, counted SEPARATELY per position (word-initial
    * vs continuation — WordPiece's `##` distinction), UNIONED with
    * every single character of the corpus in BOTH positions. The char
    * layer makes the greedy tokenizer total (no UNK path at all); the
    * (wt DESC, piece ASC, is_init DESC) cut is a total order on a key,
    * so the top-K boundary is deterministic cross-engine. Corpus work:
    * one word histogram + one n-gram explode over DISTINCT words
    * (value-domain bounded by word length — the C22 argument), then a
    * K-row collect (the C105 fold rule).
    */
  private[graft] def wpVocab(spark: SparkSession, dir: String): (Seq[String], Seq[String]) =
    wpVocabCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      wpVocabOn(Tables.documents(spark, dir)))

  /** The vocab build on ANY (text) frame — the curation pipeline
    * derives it from the curated TRAIN split only (stage 7's held-out
    * hygiene applied to the second tokenizer family).
    */
  private[graft] def wpVocabOn(docs: DataFrame): (Seq[String], Seq[String]) = {
      val wf = docs
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("f"))
      val cand = wf.select(col("f"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), p ->
           |  filter(transform(sequence(2, $WpMaxPieceLen), l ->
           |    IF(p + l - 1 <= length(w),
           |       struct(substring(w, p, l) AS piece, p = 1 AS is_init), NULL)),
           |    x -> x IS NOT NULL)))""".stripMargin)).as("c"))
        .select(col("c.piece").as("piece"), col("c.is_init").as("is_init"), col("f"))
        .groupBy("piece", "is_init").agg(sum("f").as("wt"))
      val top = cand
        .orderBy(col("wt").desc, col("piece").asc, col("is_init").desc)
        .limit(WpTopPieces).collect()
        .map(r => (r.getString(0), r.getBoolean(1)))
      val chars = wf.select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("p"))
        .distinct().collect().map(_.getString(0))
      val init = (chars ++ top.filter(_._2).map(_._1)).distinct.sorted.toSeq
      val cont = (chars ++ top.filterNot(_._2).map(_._1)).distinct.sorted.toSeq
      (init, cont)
  }

  // --------------------------------------------------------------- C120
  /** C120: token burstiness — variance-to-mean ratio (Fano factor) of
    * per-document counts for the top-20 corpus tokens (Church & Gale
    * 1995: content words CLUMP — VMR ≫ 1 — while function words track
    * Poisson at VMR ≈ 1): the distributional keyword/stopword
    * separator that frequency alone (C14) cannot give, and the
    * diagnostic behind burstiness-aware term weighting. Zero-count
    * documents enter the moments for free — only N is needed, never a
    * materialized zero row: VMR = (N·Σx² − (Σx)²) / (N·Σx), one
    * truncating div of exact BIGINT sums (numerator = N²·variance ≥ 0,
    * so floor is well-defined both engines). Headroom: N·Σx²·1e6 fits
    * BIGINT to ~9·10¹²; past that the token-keyed FOLD (already
    * vocabulary-sized) flips to DECIMAL(38) — the C43 rule. Scale
    * shape: one (token, doc) partial agg (map-side combined), one
    * token-keyed moment agg, a top-20 TakeOrdered, a 1-row N
    * broadcast.
    */
  def c120Burstiness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val perTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("x"))
      .groupBy("token").agg(sum("x").as("n_total"),
        sum(expr("x * x")).as("sx2"), count(lit(1)).as("df_docs"))
    perTok.orderBy(col("n_total").desc, col("token")).limit(20)
      .crossJoin(broadcast(n))
      .withColumn("vmr_micro",
        expr("((n_docs * sx2 - n_total * n_total) * 1000000) div (n_docs * n_total)"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n_total").desc, col("token"))))
      .select("rk", "token", "n_total", "df_docs", "vmr_micro")
      .orderBy("rk")
  }

  val c120Sql: String =
    """WITH x AS (
      |  SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
      |        FROM fdoc)
      |  GROUP BY 1, 2
      |), pt AS (
      |  SELECT token, CAST(SUM(x) AS BIGINT) AS n_total,
      |    CAST(SUM(x * x) AS BIGINT) AS sx2,
      |    CAST(COUNT(*) AS BIGINT) AS df_docs
      |  FROM x GROUP BY 1
      |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM fdoc),
      |top AS (SELECT * FROM pt ORDER BY n_total DESC, token LIMIT 20)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_total DESC, token) AS INTEGER) AS rk,
      |  token, n_total, df_docs,
      |  ((n_docs * sx2 - n_total * n_total) * 1000000)
      |    // (n_docs * n_total) AS vmr_micro
      |FROM top, nd ORDER BY rk""".stripMargin

  /** C119: WordPiece segmentation stats per language — the greedy
    * LONGEST-MATCH-FIRST tokenizer family (Wu et al. 2016; BERT's)
    * next to C95/C96's merge-order BPE family, applied through the
    * native [[graft.functions.WordPieceSegment]] expression: per lang
    * the word/piece counts, fertility (pieces per word, nano), and the
    * count of DISTINCT pieces actually used (effective vocab
    * utilization — the number a vocab-size decision compares against
    * [[WpTopPieces]]). Pieces are `##`-tagged in continuation position,
    * so piece identity is position-aware exactly as in the paper.
    *
    * Scale shape: the vocab builds once on the DISTINCT-word histogram
    * and broadcasts as a reference object; the corpus segments in one
    * scan-stage pass per consumer (two consumers here — the lang agg
    * and the distinct-piece agg; a production run persists the
    * segmented frame instead of recomputing). The greedy walk is
    * O(len·maxPieceLen) per word with hash-set lookups — no joins, no
    * shuffles beyond the two lang-keyed aggs. Oracle: the same vocab
    * cut + a WITH RECURSIVE cursor walk over distinct words with a
    * precomputed best-match table (hash join, no lateral), terminal
    * row = pos == len+1.
    */
  def c119Wordpiece(spark: SparkSession, dir: String): DataFrame = {
    val (init, cont) = wpVocab(spark, dir)
    val seg = Tables.documents(spark, dir)
      .select(col("lang"),
        size(expr("filter(split(text, ' '), t -> length(t) > 0)"))
          .cast("long").as("n_words"),
        graft.functions.textseg.wordpiece_segment(col("text"), init, cont)
          .as("pieces"))
    val base = seg.groupBy("lang")
      .agg(sum("n_words").as("n_words"),
        sum(size(col("pieces")).cast("long")).as("n_pieces"))
    val dp = seg.select(col("lang"), explode(col("pieces")).as("p"))
      .groupBy("lang").agg(countDistinct(col("p")).as("n_distinct_pieces"))
    base.join(dp, "lang")
      .select(col("lang"), col("n_words"), col("n_pieces"),
        expr("(n_pieces * 1000000000) div n_words").as("fertility_nano"),
        col("n_distinct_pieces"))
      .orderBy("lang")
  }

  /** The C119 oracle chain through `base` (per-lang word/piece sums) —
    * D34's streaming twin reuses it minus the distinct-piece column
    * (COUNT(DISTINCT) is not streamable; the counts are).
    */
  private[graft] val wpBaseCtes: String =
    s"""WITH RECURSIVE words AS (
       |  SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM fdoc
       |), wf AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM words
       |  WHERE len(w) > 0 GROUP BY w
       |), pos AS (
       |  SELECT UNNEST(range(1, (SELECT MAX(len(w)) + 1 FROM wf))) AS p
       |), lens AS (SELECT UNNEST(range(1, $WpMaxPieceLen + 1)) AS l),
       |cand AS (
       |  SELECT substr(f.w, CAST(t.p AS INTEGER), CAST(u.l AS INTEGER)) AS piece,
       |    t.p = 1 AS is_init, CAST(SUM(f.f) AS BIGINT) AS wt
       |  FROM wf f, pos t, lens u
       |  WHERE u.l >= 2 AND t.p + u.l - 1 <= len(f.w)
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT piece, is_init FROM cand
       |  ORDER BY wt DESC, piece ASC, is_init DESC LIMIT $WpTopPieces
       |), chars AS (
       |  SELECT DISTINCT substr(f.w, CAST(t.p AS INTEGER), 1) AS piece
       |  FROM wf f, pos t WHERE t.p <= len(f.w)
       |), vocab AS (
       |  SELECT piece, is_init FROM top
       |  UNION SELECT piece, TRUE FROM chars
       |  UNION SELECT piece, FALSE FROM chars
       |), best AS (
       |  SELECT s.w, s.pos, CAST(MAX(s.l) AS BIGINT) AS l
       |  FROM (SELECT f.w, t.p AS pos, u.l AS l,
       |          substr(f.w, CAST(t.p AS INTEGER), CAST(u.l AS INTEGER)) AS sub
       |        FROM wf f, pos t, lens u
       |        WHERE t.p + u.l - 1 <= len(f.w)) s
       |  JOIN vocab v ON v.piece = s.sub AND v.is_init = (s.pos = 1)
       |  GROUP BY 1, 2
       |), tok(w, pos, n) AS (
       |  SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM wf
       |  UNION ALL
       |  SELECT t.w, t.pos + b.l, t.n + 1
       |  FROM tok t JOIN best b ON b.w = t.w AND b.pos = t.pos
       |), wcount AS (
       |  SELECT w, n AS npieces FROM tok WHERE pos = len(w) + 1
       |), wpieces AS (
       |  SELECT t.w, CASE WHEN t.pos = 1
       |      THEN substr(t.w, CAST(t.pos AS INTEGER), CAST(b.l AS INTEGER))
       |      ELSE '##' || substr(t.w, CAST(t.pos AS INTEGER), CAST(b.l AS INTEGER))
       |    END AS piece
       |  FROM tok t JOIN best b ON b.w = t.w AND b.pos = t.pos
       |), base AS (
       |  SELECT wd.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(c.npieces) AS BIGINT) AS n_pieces
       |  FROM words wd JOIN wcount c ON c.w = wd.w
       |  GROUP BY wd.lang
       |)""".stripMargin

  val c119Sql: String =
    s"""$wpBaseCtes, dp AS (
       |  SELECT wd.lang, CAST(COUNT(DISTINCT p.piece) AS BIGINT) AS n_distinct_pieces
       |  FROM (SELECT DISTINCT lang, w FROM words WHERE len(w) > 0) wd
       |  JOIN wpieces p ON p.w = wd.w
       |  GROUP BY wd.lang
       |)
       |SELECT b.lang, b.n_words, b.n_pieces,
       |  (b.n_pieces * 1000000000) // b.n_words AS fertility_nano,
       |  dp.n_distinct_pieces
       |FROM base b JOIN dp USING (lang)
       |ORDER BY b.lang""".stripMargin

  // --------------------------------------------------------------- C132
  /** Unigram-LM (SentencePiece-style) vocab size / piece length / EM
    * rounds. Two hard-EM rounds converge the piece table on this
    * corpus; the machinery is round-count-agnostic.
    */
  val UniTopPieces = 150
  val UniMaxPieceLen = 4
  val UniEmIters = 2

  private val uniVocabCache =
    new graft.util.Memo[(String, String), (Seq[String], Seq[Long])]

  /** Session+dir memo of the corpus-learned unigram-LM piece table:
    * (pieces, Viterbi costs). Seed = every single corpus character ∪
    * the top [[UniTopPieces]] substrings (len 2..[[UniMaxPieceLen]]) by
    * occurrence weight over the distinct-word histogram (the wpVocab
    * counting convention, position-free — unigram pieces carry no `##`
    * distinction); then [[UniEmIters]] rounds of HARD EM (Kudo 2018's
    * unigram LM with Viterbi counts in the E-step): segment each
    * DISTINCT word under the current costs (distributed, the
    * [[graft.functions.UnigramSegment]] kernel — the corpus itself is
    * never driver-side), re-count pieces weighted by word frequency,
    * PRUNE pieces the Viterbi solution stopped using (chars are never
    * pruned — floor count 1 keeps the tokenizer total), re-quantize
    * costs. Cost = HALF_UP-rounded micro ln(count/total) — quantized
    * per PIECE before any Viterbi sum (the a1/c60 rule), so the argmax
    * is exact-integer and engine-independent; ln itself is the one
    * double transcendental, the established c124/c21 oracle
    * convention. Every collect here is K-bounded (≤ chars +
    * [[UniTopPieces]] rows — the C105 fold rule).
    */
  private[graft] def uniVocab(spark: SparkSession, dir: String): (Seq[String], Seq[Long]) =
    uniVocabCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      uniVocabOn(Tables.documents(spark, dir)))

  private def lnMicro(c: Long, total: Long): Long =
    BigDecimal(math.log(c.toDouble / total.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private[graft] def uniVocabOn(docs: DataFrame): (Seq[String], Seq[Long]) = {
    val wf = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .seal() // re-segmented once per EM round
    val sub = wf.select(col("f"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), p ->
           |  filter(transform(sequence(1, $UniMaxPieceLen), l ->
           |    IF(p + l - 1 <= length(w), substring(w, p, l), NULL)),
           |    x -> x IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("f").as("wt"))
      .seal()
    val top = sub.filter(length(col("piece")) >= 2)
      .orderBy(col("wt").desc, col("piece").asc).limit(UniTopPieces)
      .select("piece")
    val keep = sub.filter(length(col("piece")) === 1).select("piece").union(top)
    var vocab: Seq[(String, Long)] = sub.join(keep, "piece")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val charSet = vocab.collect { case (p, _) if p.length == 1 => p }.toSet
    def costsOf(v: Seq[(String, Long)]): (Seq[String], Seq[Long]) = {
      val total = v.map(_._2).sum
      (v.map(_._1), v.map { case (_, c) => lnMicro(c, total) })
    }
    for (_ <- 1 to UniEmIters) {
      val (ps, cs) = costsOf(vocab)
      val cnt = wf.select(col("f"),
          explode(graft.functions.textseg.unigram_segment(col("w"), ps, cs))
            .as("piece"))
        .groupBy("piece").agg(sum("f").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      vocab = vocab.map(_._1)
        .filter(p => charSet(p) || cnt.contains(p))
        .map(p => p -> (if (charSet(p)) math.max(cnt.getOrElse(p, 0L), 1L)
                        else cnt(p)))
    }
    costsOf(vocab)
  }

  /** C132: unigram-LM segmentation stats per language — the THIRD
    * tokenizer family next to merge-order BPE (C59/C95/C96) and greedy
    * WordPiece (C119/D34): Viterbi maximum-likelihood segmentation
    * under the hard-EM-learned piece table (Kudo 2018; SentencePiece's
    * model), reported in C119's exact schema so the three families'
    * fertility/utilization numbers sit side by side (the C100/C125
    * equity axis). Scale shape mirrors C119: the K-bounded piece table
    * broadcasts as a reference object inside the native
    * [[graft.functions.UnigramSegment]] expression, the corpus
    * segments in one scan-stage pass per consumer, and the only
    * shuffles are the two lang-keyed aggs. The EM learn touches the
    * corpus [[UniEmIters]]+1 times TOTAL (distinct-word histogram once,
    * then one distributed re-segmentation per round) — never any
    * per-iteration all-pairs or driver-side corpus. Oracle: fully
    * relational unrolled-EM derivation — per round the recursion
    * ENUMERATES every segmentation of each distinct word and argmaxes
    * by (score DESC, path ASC); exponential in word length but words
    * are value-domain bounded, and the two engines deliberately share
    * no decoding strategy (the a44 two-derivations philosophy).
    */
  def c132UnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val (ps, cs) = uniVocab(spark, dir)
    // r18 measured note: this two-branch form evaluates the Viterbi
    // segmentation TWICE (base and dp are two agg branches over the
    // unsealed `seg`; Spark does not dedupe common subtrees across a
    // join). A single-pass posexplode + one (lang) agg with
    // countDistinct was tried and measured 1.5× SLOWER in the
    // interleaved A/B (min 2.28 → 3.42 s): the distinct agg plans an
    // Expand that doubles every exploded piece row through BOTH
    // shuffles, which costs more than the second scan-stage
    // segmentation. Kept as-is deliberately.
    val seg = Tables.documents(spark, dir)
      .select(col("lang"),
        size(expr("filter(split(text, ' '), t -> length(t) > 0)"))
          .cast("long").as("n_words"),
        graft.functions.textseg.unigram_segment(col("text"), ps, cs)
          .as("pieces"))
    val base = seg.groupBy("lang")
      .agg(sum("n_words").as("n_words"),
        sum(size(col("pieces")).cast("long")).as("n_pieces"))
    val dp = seg.select(col("lang"), explode(col("pieces")).as("p"))
      .groupBy("lang").agg(countDistinct(col("p")).as("n_distinct_pieces"))
    base.join(dp, "lang")
      .select(col("lang"), col("n_words"), col("n_pieces"),
        expr("(n_pieces * 1000000000) div n_words").as("fertility_nano"),
        col("n_distinct_pieces"))
      .orderBy("lang")
  }

  /** One EM round's oracle CTEs: LINEAR Viterbi segmentation of each
    * distinct word under cost{i-1}, then re-count / prune / re-quantize.
    *
    * Until round 16 this ENUMERATED every segmentation (a recursive
    * path walk, ~1.93^len compositions of len into 1..4-char vocab
    * pieces), which forced the fuzz corpus to censor tokens at ~10
    * chars — exactly the domain where segmenter cover guards live. The
    * rewrite is a forward DP, linear in total word length and uncapped:
    *
    *  - `r$i(w, q, s0..s3)`: s0 = best score of the LAST q chars of w;
    *    s1..s3 are the trailing window that the next step's length-2..4
    *    pieces extend (the Viterbi state vector carried in COLUMNS, so
    *    the recursive term needs no aggregate — DuckDB forbids them).
    *    GREATEST skips NULL terms (piece not in vocab, or q < l-1).
    *  - `edges$i`: per boundary b, the MIN optimal first piece. This IS
    *    the old (score DESC, path ASC) tie rule: two optimal paths from
    *    one boundary differ first at their first differing piece, and
    *    piece string order equals path string order there (when one
    *    piece prefixes the other, the shorter sorts first in both,
    *    because the path's ' ' separator < every letter); induction
    *    along the walk extends the argument to the full path.
    *  - `walk$i`: follows the unique chosen edge from b=0, emitting one
    *    piece per step — multiplicity preserved without path strings.
    *
    * Hub CTEs are MATERIALIZED: DuckDB inlines a CTE per REFERENCE
    * (each reference re-executes its whole upstream chain — with the
    * cost table referenced 5x per round that re-ran the prior round's
    * full pipeline multiplicatively); a materialized hub runs once.
    */
  private def uniIterCtes(i: Int): String = {
    val j = i - 1
    val joins = (1 to UniMaxPieceLen).map { l =>
      val guard = if (l > 1) s" AND g.q >= ${l - 1}" else ""
      s"  LEFT JOIN cost$j c$l ON c$l.piece = " +
        s"substr(g.w, CAST(len(g.w) - g.q AS INTEGER), $l)$guard"
    }.mkString("\n")
    val terms = (1 to UniMaxPieceLen).map(l => s"c$l.cost + g.s${l - 1}")
      .mkString(", ")
    s"""r$i(w, q, s0, s1, s2, s3) AS (
       |  SELECT w, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
       |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM wf
       |  UNION ALL
       |  SELECT g.w, g.q + 1, GREATEST($terms),
       |    g.s0, g.s1, g.s2
       |  FROM r$i g
       |$joins
       |  WHERE g.q < len(g.w)
       |), gall$i AS MATERIALIZED (
       |  SELECT w, len(w) - q AS b, s0 AS s FROM r$i WHERE s0 IS NOT NULL
       |), edges$i AS MATERIALIZED (
       |  SELECT w, b, MIN(piece) AS piece FROM (
       |    SELECT gb.w, gb.b, c.piece
       |    FROM gall$i gb
       |    JOIN cost$j c
       |      ON c.piece = substr(gb.w, CAST(gb.b + 1 AS INTEGER), len(c.piece))
       |    JOIN gall$i gn ON gn.w = gb.w AND gn.b = gb.b + len(c.piece)
       |    WHERE c.cost + gn.s = gb.s
       |  ) GROUP BY w, b
       |), walk$i(w, b, piece) AS (
       |  SELECT w, CAST(0 AS BIGINT) AS b, CAST(NULL AS VARCHAR) AS piece FROM wf
       |  UNION ALL
       |  SELECT s.w, s.b + len(e.piece), e.piece
       |  FROM walk$i s JOIN edges$i e ON e.w = s.w AND e.b = s.b
       |), pieces$i AS MATERIALIZED (
       |  SELECT w, b, piece FROM walk$i WHERE piece IS NOT NULL
       |)""".stripMargin
  }

  private def uniRecountCtes(i: Int): String =
    s"""cnt$i AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT wf.f, p.piece FROM pieces$i p JOIN wf ON wf.w = p.w)
       |  GROUP BY piece
       |), v$i AS MATERIALIZED (
       |  SELECT v.piece,
       |    CASE WHEN len(v.piece) = 1 THEN GREATEST(COALESCE(c.cnt, 0), 1)
       |         ELSE c.cnt END AS cnt
       |  FROM v${i - 1} v LEFT JOIN cnt$i c USING (piece)
       |  WHERE len(v.piece) = 1 OR c.cnt IS NOT NULL
       |), cost$i AS MATERIALIZED (
       |  SELECT piece, CAST(ROUND(ln(CAST(cnt AS DOUBLE)
       |    / CAST((SELECT SUM(cnt) FROM v$i) AS DOUBLE)) * 1000000) AS BIGINT) AS cost
       |  FROM v$i
       |)""".stripMargin

  /** The C132 oracle chain through `base` (per-lang word/piece sums) —
    * D39's streaming twin reuses it minus the unstreamable
    * distinct-piece column (the wpBaseCtes/d34 pattern). `pieces$apply`
    * is the final-cost segmentation (one row per piece occurrence) the
    * tails read.
    */
  private[graft] val uniApplyIdx: Int = UniEmIters + 1

  private[graft] lazy val uniBaseCtes: String = {
    val apply = uniApplyIdx
    val iters = (1 to UniEmIters).map(i =>
      uniIterCtes(i) + ",\n" + uniRecountCtes(i)).mkString(",\n")
    s"""WITH RECURSIVE words AS (
       |  SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM fdoc
       |), wf AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM words
       |  WHERE len(w) > 0 GROUP BY w
       |), pos AS (
       |  SELECT UNNEST(range(1, (SELECT COALESCE(MAX(len(w)), 0) + 1 FROM wf))) AS p
       |), lens AS (SELECT UNNEST(range(1, $UniMaxPieceLen + 1)) AS l),
       |sub AS MATERIALIZED (
       |  SELECT substr(f.w, CAST(t.p AS INTEGER), CAST(u.l AS INTEGER)) AS piece,
       |    CAST(SUM(f.f) AS BIGINT) AS wt
       |  FROM wf f, pos t, lens u
       |  WHERE t.p + u.l - 1 <= len(f.w)
       |  GROUP BY 1
       |), top AS (
       |  SELECT piece FROM sub WHERE len(piece) >= 2
       |  ORDER BY wt DESC, piece LIMIT $UniTopPieces
       |), v0 AS MATERIALIZED (
       |  SELECT piece, wt AS cnt FROM sub WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT s.piece, s.wt AS cnt FROM sub s JOIN top t USING (piece)
       |), cost0 AS MATERIALIZED (
       |  SELECT piece, CAST(ROUND(ln(CAST(cnt AS DOUBLE)
       |    / CAST((SELECT SUM(cnt) FROM v0) AS DOUBLE)) * 1000000) AS BIGINT) AS cost
       |  FROM v0
       |),
       |$iters,
       |${uniIterCtes(apply)},
       |wpc AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS np FROM pieces$apply GROUP BY w
       |),
       |base AS (
       |  SELECT wd.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(c.np) AS BIGINT) AS n_pieces
       |  FROM words wd JOIN wpc c ON c.w = wd.w
       |  GROUP BY wd.lang
       |)""".stripMargin
  }

  lazy val c132Sql: String =
    s"""$uniBaseCtes, dp AS (
       |  SELECT wd.lang, CAST(COUNT(DISTINCT p.piece) AS BIGINT) AS n_distinct_pieces
       |  FROM (SELECT DISTINCT lang, w FROM words WHERE len(w) > 0) wd
       |  JOIN (SELECT DISTINCT w, piece FROM pieces$uniApplyIdx) p ON p.w = wd.w
       |  GROUP BY wd.lang
       |)
       |SELECT b.lang, b.n_words, b.n_pieces,
       |  (b.n_pieces * 1000000000) // b.n_words AS fertility_nano,
       |  dp.n_distinct_pieces
       |FROM base b JOIN dp USING (lang)
       |ORDER BY b.lang""".stripMargin

  // ---------------------------------------------------------------- C55
  /** C55: vocabulary coverage curve — for each candidate vocab size k,
    * what fraction of the corpus token MASS the top-k most frequent
    * tokens cover (the first question of tokenizer design: where the
    * OOV tail starts). The naive form ranks the whole vocabulary with a
    * global sort; at 100 TB the vocabulary is hundreds of millions of
    * rows and the sort is a needless bottleneck — so this uses the C22
    * histogram-CDF argument one level up: collapse the vocab to its
    * COUNT-CLASSES (one row per distinct frequency — domain-bounded,
    * O(√total) classes in a Zipfian corpus), and coverage at rank k is
    * exactly Σ_classes cnt · clamp(k − cum_before, 0, n_toks), because
    * every token inside one class has the same count (rank order within
    * a class cannot change the cumulative mass — the clamp formula IS
    * rank-invariance, which is also why no tie rule is needed). One
    * token-count shuffle, one tiny window over classes, a map-side
    * explode of the k list, one final ≤|ks|-row aggregate; k > |vocab|
    * caps at full mass by the clamp, never an error. Exact BIGINT
    * throughout; coverage in integer micro-units.
    */
  val CoverageRanks = Seq(10L, 100L, 1000L)

  def c55VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnts = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val cls = cnts.groupBy("cnt").agg(count(lit(1)).as("n_toks"))
    // single-partition window — input is the class table, bounded by the
    // frequency value domain however large the corpus (C22's argument)
    val w = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cls.withColumn("cum_before", coalesce(sum("n_toks").over(w), lit(0L)))
      .select(explode(array(CoverageRanks.map(lit): _*)).as("k"),
        col("cnt"), col("n_toks"), col("cum_before"))
      .groupBy("k")
      .agg(sum("n_toks").as("vocab_size"),
        sum(col("cnt") * col("n_toks")).as("total_mass"),
        sum(col("cnt") * greatest(lit(0L),
          least(col("k") - col("cum_before"), col("n_toks")))).as("cov_mass"))
      .withColumn("coverage_micro", expr("(cov_mass * 1000000) div total_mass"))
      .orderBy("k")
  }

  val c55Sql: String =
    s"""WITH cnts AS (
       |  SELECT token, COUNT(*) AS cnt
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM fdoc)
       |  GROUP BY token
       |), cls AS (SELECT cnt, COUNT(*) AS n_toks FROM cnts GROUP BY cnt),
       |cum AS (
       |  SELECT cnt, n_toks,
       |    COALESCE(CAST(SUM(n_toks) OVER (ORDER BY cnt DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
       |  FROM cls
       |)
       |SELECT k, CAST(SUM(n_toks) AS BIGINT) AS vocab_size,
       |  CAST(SUM(cnt * n_toks) AS BIGINT) AS total_mass,
       |  CAST(SUM(cnt * GREATEST(0, LEAST(k - cum_before, n_toks))) AS BIGINT) AS cov_mass,
       |  (CAST(SUM(cnt * GREATEST(0, LEAST(k - cum_before, n_toks))) AS BIGINT) * 1000000)
       |    // CAST(SUM(cnt * n_toks) AS BIGINT) AS coverage_micro
       |FROM cum, (SELECT UNNEST([${CoverageRanks.mkString(", ")}]) AS k) ks
       |GROUP BY k ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- C57
  /** C57: CCNet-style perplexity bucketing — split each language's
    * corpus into head / middle / tail thirds by LM score (Wenzek et al.
    * 2020 bucket their crawl by per-language perplexity terciles and
    * train on the head). The score is C31's bigram LM average (shared
    * [[lmScoredDocs]] frame — one scoring definition), higher = more
    * corpus-typical, so bucket 1 = head.
    *
    * The naive form ranks every document inside its language — a
    * per-language window whose hottest partition is the dominant
    * language's ENTIRE corpus. This instead lifts C22's histogram-CDF
    * argument: collapse docs to (lang, score) VALUE CLASSES first (one
    * partial-agg shuffle; the class table is bounded by the score's
    * value domain), run the tiny running-sum window over classes, and
    * assign bucket = 1 + (3·cum_before) div n — every doc in a class
    * shares the bucket, so no per-doc tiebreak even exists, and the
    * final rollup aggregates the CLASS rows (docs are never touched
    * again — zero join-back). Boundary semantics: a class straddling a
    * tercile boundary lands in the bucket of its first rank, the
    * deterministic value-uniform rule.
    */
  def c57PplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classes = lmScoredDocs(spark, dir).select("doc_id", "avg_cond_micro")
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "avg_cond_micro").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("lang").orderBy(col("avg_cond_micro").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("lang")
    classes
      .withColumn("cum_before", coalesce(sum("cnt").over(wCum), lit(0L)))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("bucket", expr("1 + (3 * cum_before) div n"))
      .groupBy("lang", "bucket")
      .agg(sum("cnt").as("n_docs"),
        min("avg_cond_micro").as("score_min"),
        max("avg_cond_micro").as("score_max"))
      .orderBy("lang", "bucket")
  }

  val c57Sql: String =
    s"""WITH $lmScoredCtes, j AS (
       |  SELECT p.doc_id, d.lang, p.avg_cond_micro
       |  FROM perdoc p JOIN fdoc d USING (doc_id)
       |), cl AS (
       |  SELECT lang, avg_cond_micro, COUNT(*) AS cnt
       |  FROM j GROUP BY lang, avg_cond_micro
       |), w AS (
       |  SELECT lang, avg_cond_micro, cnt,
       |    COALESCE(CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY avg_cond_micro DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before,
       |    CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM cl
       |)
       |SELECT lang, 1 + (3 * cum_before) // n AS bucket,
       |  CAST(SUM(cnt) AS BIGINT) AS n_docs,
       |  MIN(avg_cond_micro) AS score_min,
       |  MAX(avg_cond_micro) AS score_max
       |FROM w GROUP BY lang, 1 + (3 * cum_before) // n
       |ORDER BY lang, bucket""".stripMargin

  // ---------------------------------------------------------------- C58
  /** C58: per-source boilerplate detection — the CCNet LINE-level dedup
    * applied within a crawl source (nav bars, cookie banners, footers
    * repeat across one site's pages, not across the web): a segment
    * (shared [[segmentsOn]] definition — C40's unit) is boilerplate in
    * its source iff it appears in ≥2 documents AND in ≥20 % of the
    * source's documents (`df·5 ≥ n_docs`). C40's global occurrence
    * test can't see this — a 100-doc site's banner is invisible at
    * corpus scale but is 100 % of that site's pages.
    *
    * Scale shape: segmentation is scan-stage array slicing; the
    * document-frequency agg runs on DISTINCT (source, segment, doc) —
    * two shuffles on the same composite key (partial-agg combinable);
    * per-source doc counts are a source-cardinality broadcast. The
    * boilerplate table itself is provably small — Σdf over segments
    * with df ≥ n/5 is at most 5× the source's mean segments-per-doc —
    * so the flag joins BACK to the segment stream as a broadcast,
    * adding zero shuffles: at 100 TB the whole operator costs the
    * segment agg, exactly like C40.
    */
  def c58Boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateOn(Tables.documents(spark, dir).select("doc_id", "source", "text"))

  /** The operator body on any (doc_id, source, text) frame — the driver
    * testdata is synthetic-random and contains no real in-source repeats
    * (the oracle validates the zero path), so TextDedupSpec drives this
    * same code on a corpus with a planted per-source banner to pin the
    * positive path.
    */
  def boilerplateOn(docs: DataFrame): DataFrame = {
    val segs = segmentsOn(docs).select("doc_id", "source", "seg_text", "seg_len")
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val dfreq = segs.select("source", "seg_text", "doc_id").distinct()
      .groupBy("source", "seg_text").agg(count(lit(1)).as("df"))
    val boiler = dfreq.join(broadcast(nDocs), "source")
      .filter(col("df") >= 2 && col("df") * 5 >= col("n_docs"))
      .select(col("source"), col("seg_text"), lit(1L).as("is_boiler"))
    segs.join(broadcast(boiler), Seq("source", "seg_text"), "left")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_segs"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler_segs"),
        sum("seg_len").as("total_tokens"),
        sum(when(col("is_boiler").isNotNull, col("seg_len")).otherwise(0L))
          .as("boiler_tokens"))
      .orderBy("doc_id")
  }

  val c58Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM fdoc
       |), s AS (
       |  SELECT doc_id, source,
       |    array_to_string(toks[(u.seg*$SegTokens+1):((u.seg+1)*$SegTokens)], ' ') AS seg_text,
       |    len(toks[(u.seg*$SegTokens+1):((u.seg+1)*$SegTokens)]) AS seg_len
       |  FROM t, UNNEST(range(0, CAST(ceil(len(toks) / $SegTokens.0) AS BIGINT))) AS u(seg)
       |), nd AS (SELECT source, COUNT(*) AS n_docs FROM fdoc GROUP BY source),
       |dfq AS (
       |  SELECT source, seg_text, COUNT(DISTINCT doc_id) AS df
       |  FROM s GROUP BY source, seg_text
       |), b AS (
       |  SELECT dfq.source, dfq.seg_text
       |  FROM dfq JOIN nd USING (source)
       |  WHERE df >= 2 AND df * 5 >= n_docs
       |)
       |SELECT s.doc_id, s.source, COUNT(*) AS n_segs,
       |  CAST(SUM(CASE WHEN b.seg_text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_segs,
       |  CAST(SUM(s.seg_len) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CASE WHEN b.seg_text IS NOT NULL THEN s.seg_len ELSE 0 END) AS BIGINT) AS boiler_tokens
       |FROM s LEFT JOIN b ON b.source = s.source AND b.seg_text = s.seg_text
       |GROUP BY s.doc_id, s.source
       |ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------- C59
  /** C59: byte-pair-encoding merge steps (Sennrich et al. 2016) — the
    * tokenizer-training loop itself: each iteration counts adjacent
    * token pairs over the corpus, picks the most frequent (ties broken
    * lexicographically), and applies it greedily left-to-right. Two
    * iterations here; the per-iteration shape is what matters at scale:
    * ONE pair-count shuffle (map-side combinable over the token
    * stream), a 1-row broadcast of the winning pair, and per-document
    * windows (partition = one doc, bounded by doc length) to apply the
    * merge — no global sort, no driver-side token data, so an iteration
    * costs a corpus scan regardless of corpus size (real BPE trainers
    * batch many merges per scan; the single-merge iteration is the unit
    * they batch).
    *
    * Greedy non-overlap is the subtle part: "a a a" under pair (a,a)
    * merges positions (1,2) and skips 2 — overlapping matches only
    * happen in equal-token runs, so the rule is "alternate within each
    * chain of consecutive matches". A match chains iff the previous
    * match's SECOND token position is this match's first (position
    * gaps from earlier merges make `pos+1` wrong — npos, the lead
    * position, is the correct link), islands then form by running-sum
    * over chain breaks and odd ranks within an island are taken —
    * gaps-and-islands, two bounded per-doc windows. The merged stream
    * keeps original (sparse) positions so the next iteration's lead
    * works unchanged. Each iteration ends in localCheckpoint: the plan
    * would otherwise double per iteration (and a real trainer persists
    * the corpus between scans anyway).
    *
    * Output: one row per iteration — the chosen pair, its raw
    * adjacency count (the BPE ranking statistic), the number of
    * non-overlapping merges actually applied, and the corpus token
    * count after. The oracle replays the identical CTE chain per
    * iteration, generated from the same constant.
    */
  val BpeIters = 2

  /** Session+dir memo of the merge loop: C59 (learn trace) and C95
    * (apply stats) consume the same iteration, so the windows and
    * checkpoints run once — the lmScoreCache pattern.
    */
  private val bpeCache =
    new graft.util.Memo[(String, String), (Seq[DataFrame], DataFrame)]

  private def bpeLoopFor(spark: SparkSession, dir: String): (Seq[DataFrame], DataFrame) =
    bpeCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      bpeLoop(Tables.documents(spark, dir)))

  def c59BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val (summaries, _) = bpeLoopFor(spark, dir)
    summaries.reduce(_.unionByName(_)).orderBy("iter")
  }

  /** The merge loop on any (doc_id, text) frame — TextDedupSpec drives
    * it on a synthetic equal-token-run corpus where the greedy
    * non-overlap rule is the whole answer.
    */
  def bpeMergesOn(docs: DataFrame): DataFrame = {
    val (summaries, _) = bpeLoop(docs)
    summaries.reduce(_.unionByName(_)).orderBy("iter")
  }

  /** The shared merge-loop body: per-iteration summaries plus the final
    * segmented token stream (C59 reports the former; C95's tokenizer
    * apply aggregates the latter).
    *
    * r19 size dispatch (the c102/learnedMerges idiom): the DF loop is
    * ~10 serialized corpus-window jobs per iteration (lead window, best
    * agg, island windows, rebuild joins, 4 seals) — a scheduling floor
    * whenever the token stream fits one task. Below
    * [[BpeLocalMaxTokens]] the identical greedy recurrence (UTF-8-byte
    * tie order, left-to-right non-overlap, original positions kept,
    * empty-best ⇒ empty stream semantics) runs in ONE mapPartitions
    * task; above it the DF loop is the corpus path, unchanged.
    * TextDedupSpec's planted traces and the dispatch pin drive both
    * forms.
    */
  private def bpeLoop(docs: DataFrame,
      iters: Int = BpeIters): (Seq[DataFrame], DataFrame) =
    if (Dispatch.engine(docs.sparkSession, "graft.bpeloop.impl", ("local", "df"),
        docs.agg(coalesce(sum(size(tokens(col("text"))).cast("long")), lit(0L)))
          .head.getLong(0) <= BpeLocalMaxTokens) == "local") bpeLoopLocal(docs, iters)
    else bpeLoopDf(docs, iters)

  /** Single-task loop for small corpora — one executor task, the
    * bpeLearnLocal mechanics extended with the summary statistics and
    * the surviving (doc_id, original pos, tok) stream C95 consumes.
    */
  private def bpeLoopLocal(docs: DataFrame,
      iters: Int): (Seq[DataFrame], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tagged = docs
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .as[(Long, Option[Seq[String]])]
      .coalesce(1).mapPartitions { it =>
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val poss = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        val toks = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
        it.foreach { case (id, ts) =>
          // NULL text explodes to no rows in the DF form — skip
          ts.foreach { t =>
            ids += id
            poss += Array.tabulate(t.length)(_.toLong)
            toks += t.toArray
          }
        }
        val out = Iterator.newBuilder[(Int, Int, Option[String], Option[String],
          Long, Long, Long, Long, Long, Option[String])]
        var alive = true
        for (itN <- 1 to iters if alive) {
          val cnt = new java.util.HashMap[(String, String), Long]()
          toks.foreach { ts =>
            var i = 0
            while (i < ts.length - 1) {
              cnt.merge((ts(i), ts(i + 1)), 1L, (a, b) => a + b): Unit
              i += 1
            }
          }
          if (cnt.isEmpty) {
            // the DF loop's cross join with an EMPTY best frame empties
            // the stream and emits no summary row — replicate exactly
            ids.clear(); poss.clear(); toks.clear()
            alive = false
          } else {
            var best: (String, String) = null
            var bc = -1L
            cnt.forEach { (p, c) =>
              if (c > bc || (c == bc &&
                  (utf8Lt(p._1, best._1) || (p._1 == best._1 && utf8Lt(p._2, best._2))))) {
                best = p; bc = c
              }
            }
            val (pa, pb) = best
            val merged = pa + "_" + pb
            var nMerged = 0L
            var after = 0L
            toks.indices.foreach { d =>
              val ts = toks(d)
              val ps = poss(d)
              val nt = scala.collection.mutable.ArrayBuffer.empty[String]
              val np = scala.collection.mutable.ArrayBuffer.empty[Long]
              var i = 0
              while (i < ts.length) {
                if (i < ts.length - 1 && ts(i) == pa && ts(i + 1) == pb) {
                  nt += merged; np += ps(i); nMerged += 1; i += 2
                } else { nt += ts(i); np += ps(i); i += 1 }
              }
              toks(d) = nt.toArray
              poss(d) = np.toArray
              after += nt.length
            }
            out += ((0, itN, Some(pa), Some(pb), bc, nMerged, after, 0L, 0L, None))
          }
        }
        toks.indices.foreach { d =>
          val ts = toks(d); val ps = poss(d)
          var i = 0
          while (i < ts.length) {
            out += ((1, 0, None, None, 0L, 0L, 0L, ids(d), ps(i), Some(ts(i))))
            i += 1
          }
        }
        out.result()
      }
      .toDF("tag", "iter", "pair_a", "pair_b", "pair_count",
        "n_merged", "tokens_after", "doc_id", "pos", "tok")
      .seal()
    val summaries = (1 to iters).map(n =>
      tagged.filter(col("tag") === 0 && col("iter") === n)
        .select(col("iter"), col("pair_a"), col("pair_b"),
          col("pair_count"), col("n_merged"), col("tokens_after")))
    val finalToks = tagged.filter(col("tag") === 1)
      .select(col("doc_id"), col("pos"), col("tok"))
    (summaries, finalToks)
  }

  private def bpeLoopDf(docs: DataFrame,
      iters: Int = BpeIters): (Seq[DataFrame], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    var toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
    val summaries = (1 to iters).map { it =>
      // Materialize the windowed token stream ONCE per iteration: it
      // feeds three consumers (best-pair count, match islands, the next
      // iteration's token frame), and without this each of them re-runs
      // the posexplode + full (doc_id, pos) window sort — a measured 3x
      // on the dominant cost of the loop (28.5 s -> target <10 s at
      // sf0.1).
      val withNext = toks
        .withColumn("nxt", lead("tok", 1).over(w))
        .withColumn("npos", lead("pos", 1).over(w))
        .seal()
      val best = withNext.filter(col("nxt").isNotNull)
        .groupBy("tok", "nxt").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok"), col("nxt")).limit(1)
        .select(col("tok").as("pa"), col("nxt").as("pb"), col("cnt").as("pair_count"))
        .seal() // 1 row; feeds three consumers — count the corpus once
      val matches = withNext.crossJoin(broadcast(best))
        .filter(col("tok") === col("pa") && col("nxt") === col("pb"))
        .withColumn("brk",
          when(lag("npos", 1).over(w) === col("pos"), 0L).otherwise(1L))
        .withColumn("island",
          sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id", "island").orderBy("pos")))
        .filter(col("rn") % 2 === 1)
        .select(col("doc_id"), col("pos"), col("npos"))
        .seal()
      val takenStart = matches.select(col("doc_id"), col("pos"), lit(1).as("mstart"))
      val takenEnd = matches.select(col("doc_id"), col("npos").as("pos"), lit(1).as("mend"))
      toks = withNext.crossJoin(broadcast(best))
        .join(takenStart, Seq("doc_id", "pos"), "left")
        .join(takenEnd, Seq("doc_id", "pos"), "left")
        .filter(col("mend").isNull)
        .select(col("doc_id"), col("pos"),
          when(col("mstart").isNotNull, concat(col("pa"), lit("_"), col("pb")))
            .otherwise(col("tok")).as("tok"))
        .seal()
      best.crossJoin(matches.agg(count(lit(1)).as("n_merged")))
        .crossJoin(toks.agg(count(lit(1)).as("tokens_after")))
        .select(lit(it).as("iter"), col("pa").as("pair_a"), col("pb").as("pair_b"),
          col("pair_count"), col("n_merged"), col("tokens_after"))
    }
    (summaries, toks)
  }

  /** One BPE iteration as oracle CTEs. `p` prefixes every CTE name so a
    * single query can hold two chains (c96 learns on a sample, applies
    * to the full corpus); `bestFrom` makes this an APPLY level — it
    * references another chain's learned pair (`<bestFrom>b<n>`) instead
    * of computing its own; `withSummary` emits the s<n> trace row c59
    * reports (apply chains skip it).
    */
  private def bpeIterCtes(n: Int, p: String = "",
      bestFrom: Option[String] = None, withSummary: Boolean = true): String = {
      val bRef = bestFrom.getOrElse(p) + s"b$n"
      val ownBest = if (bestFrom.isEmpty)
        s""", ${p}b$n AS MATERIALIZED (
           |  SELECT tok AS pa, nxt AS pb, COUNT(*) AS cnt
           |  FROM ${p}x$n WHERE nxt IS NOT NULL GROUP BY tok, nxt
           |  ORDER BY cnt DESC, tok, nxt LIMIT 1
           |)""".stripMargin
      else ""
      val summary = if (withSummary)
        s""", ${p}s$n AS (
           |  SELECT CAST($n AS INT) AS iter, b.pa AS pair_a, b.pb AS pair_b,
           |    b.cnt AS pair_count,
           |    (SELECT COUNT(*) FROM ${p}g$n) AS n_merged,
           |    (SELECT COUNT(*) FROM ${p}t${n + 1}) AS tokens_after
           |  FROM $bRef b
           |)""".stripMargin
      else ""
      s"""${p}x$n AS MATERIALIZED (
         |  SELECT doc_id, pos, tok,
         |    LEAD(tok) OVER w AS nxt, LEAD(pos) OVER w AS npos
         |  FROM ${p}t$n WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
         |)$ownBest, ${p}m$n AS (
         |  SELECT x.doc_id, x.pos, x.npos
         |  FROM ${p}x$n x, $bRef b WHERE x.tok = b.pa AND x.nxt = b.pb
         |), ${p}c$n AS (
         |  SELECT doc_id, pos, npos,
         |    CASE WHEN LAG(npos) OVER (PARTITION BY doc_id ORDER BY pos) = pos
         |         THEN 0 ELSE 1 END AS brk
         |  FROM ${p}m$n
         |), ${p}i$n AS (
         |  SELECT doc_id, pos, npos,
         |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM ${p}c$n
         |), ${p}k$n AS (
         |  SELECT doc_id, pos, npos,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id, island ORDER BY pos) AS rn
         |  FROM ${p}i$n
         |), ${p}g$n AS MATERIALIZED (SELECT doc_id, pos, npos FROM ${p}k$n WHERE rn % 2 = 1),
         |${p}t${n + 1} AS MATERIALIZED (
         |  SELECT x.doc_id, x.pos,
         |    CASE WHEN s.pos IS NOT NULL THEN b.pa || '_' || b.pb ELSE x.tok END AS tok
         |  FROM ${p}x$n x
         |  CROSS JOIN $bRef b
         |  LEFT JOIN ${p}g$n s ON s.doc_id = x.doc_id AND s.pos = x.pos
         |  LEFT JOIN ${p}g$n e ON e.doc_id = x.doc_id AND e.npos = x.pos
         |  WHERE e.npos IS NULL
         |)$summary""".stripMargin
    }
  /** The full t1 → t{BpeIters+1} merge chain, shared by the C59 and C95
    * oracles so both engines segment through ONE SQL definition.
    */
  private val bpeChainSql: String = {
    val chain = (1 to BpeIters).map(n => bpeIterCtes(n)).mkString(",\n")
    s"""t1 AS (
       |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
       |    UNNEST(string_split(text, ' ')) AS tok
       |  FROM fdoc
       |),
       |$chain""".stripMargin
  }

  val c59Sql: String = {
    val unions = (1 to BpeIters).map(n => s"SELECT * FROM s$n").mkString("\nUNION ALL\n")
    s"""WITH $bpeChainSql
       |$unions
       |ORDER BY iter""".stripMargin
  }

  // ---------------------------------------------------------------- C95
  /** C95: tokenizer APPLY — segment every document with the merge table
    * C59 just learned and report per-doc post-merge stats: token count,
    * distinct-type count, max merged-token length, and a positional
    * fingerprint (Σ len(tok)·(pos+1) over surviving positions — the
    * merge step keeps each kept token's ORIGINAL position, so the
    * fingerprint pins exactly which occurrences merged, not just how
    * many). This is the missing half of the C59 loop: learning produces
    * the merge list, application produces the training-ready corpus.
    *
    * Scale shape: identical to C59's loop body (doc-bounded windows,
    * 1-row broadcast merge, partial-agg per doc) — with BpeIters passes
    * over the corpus. That is the right demo shape for a shared learn+
    * apply definition; a production 32k-merge apply would instead
    * broadcast the full learned table and segment each document
    * partition-locally in one pass (the c12 mapPartitions pattern), a
    * deliberate second step this query's oracle-checked semantics
    * anchor.
    */
  def c95BpeApply(spark: SparkSession, dir: String): DataFrame = {
    val (_, toks) = bpeLoopFor(spark, dir)
    bpeApplyStats(toks)
  }

  /** The apply body on any (doc_id, text) frame — spec-driven alongside
    * [[bpeMergesOn]] on the planted-run corpus.
    */
  def bpeApplyOn(docs: DataFrame): DataFrame = {
    val (_, toks) = bpeLoop(docs)
    bpeApplyStats(toks)
  }

  private def bpeApplyStats(toks: DataFrame): DataFrame =
    toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        countDistinct("tok").as("n_types"),
        sum(length(col("tok")).cast("long") * (col("pos") + 1)).as("seq_fp"),
        max(length(col("tok"))).cast("long").as("max_tok_len"))
      .orderBy("doc_id")

  val c95Sql: String =
    s"""WITH $bpeChainSql
       |SELECT doc_id, COUNT(*) AS n_toks, COUNT(DISTINCT tok) AS n_types,
       |  CAST(SUM(length(tok) * (pos + 1)) AS BIGINT) AS seq_fp,
       |  CAST(MAX(length(tok)) AS BIGINT) AS max_tok_len
       |FROM t${BpeIters + 1} GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C96
  /** C96: sample-learned, one-pass-applied BPE — the production split of
    * the C59/C95 loop. LEARN: run [[SegmentMerges]] merge iterations on
    * a deterministic [[SegmentSampleMod]]⁻¹ sample of the corpus (real
    * tokenizers train on a sample, never the full corpus) and collect
    * the K-row merge table (the d26 frozen-index contract: bounded,
    * driver-side, by construction). APPLY: segment EVERY document in
    * one partition-local scan-stage pass with the native
    * [[graft.functions.BpeSegment]] expression — the full merge table
    * rides into whole-stage codegen as a reference object, the corpus
    * is read once, shuffled zero times. Per-doc output: token count,
    * distinct types, dense-position fingerprint Σ len(tok_i)·i, max
    * merged-token length.
    *
    * This is the claim C95's scaladoc makes, implemented: at 100 TB a
    * 32k-merge apply cannot rescan the corpus per merge — it must be a
    * broadcast-table single pass, and THIS query proves that pass
    * byte-equal to the learned-iteration semantics (the oracle applies
    * the sample-learned pairs level by level with the exact C59 islands
    * rule; per-document locality of each merge makes the two shapes
    * provably identical).
    */
  val SegmentMerges = 8
  val SegmentSampleMod = 10

  /** Session+dir memo of the sample-learned merge table (a K-row
    * driver-side collect — learning runs once, both the bench and any
    * downstream consumer reuse it).
    */
  private val mergeTableCache =
    new graft.util.Memo[(String, String), Seq[(String, String)]]

  /** Token-count cap for the single-task sample-learn fast path (r18,
    * the GraphCC/c102 size-dispatch idiom): below it the
    * [[SegmentMerges]]-iteration DF loop — ~5 tiny jobs per iteration
    * (window seal, best-pair limit, islands, token rewrite, summary
    * counts), pure scheduling floor on a deliberately small sample —
    * runs as ONE mapPartitions task with the identical greedy
    * recurrence. Above the cap the DF loop runs unchanged (a 100 TB
    * corpus's 1/SegmentSampleMod sample is not driver-task-sized).
    *
    * Heap bound at the cap (r18 advice): the local task buffers the
    * sample as String-array docs — 4M tokens of the corpus's ~40-word
    * vocabulary intern-share their characters, so the dominant cost is
    * 4M references + header overhead ≈ 200–300 MB worst-case, inside
    * one task's heap; a corpus whose 1/[[SegmentSampleMod]] sample
    * exceeds the cap runs the DF loop.
    */
  val BpeLocalMaxTokens = 4000000L

  private[graft] def learnedMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    mergeTableCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      // the sample is SampleMod-times smaller than the corpus, but the
      // merge loop's window/agg stages would still run at the session's
      // corpus-sized parallelism — ~50 jobs of mostly-empty tasks.
      // Re-key it to a handful of partitions first (hash on doc_id, so
      // deterministic); a production run sizes this to sample/128MB.
      val sample = Tables.documents(spark, dir)
        .filter(col("doc_id") % SegmentSampleMod === 0)
      val impl = Dispatch.engine(spark, "graft.bpe.impl", ("local", "df"),
        sample.agg(coalesce(sum(size(tokens(col("text"))).cast("long")), lit(0L)))
          .head.getLong(0) <= BpeLocalMaxTokens)
      val merges =
        if (impl == "local") bpeLearnLocal(sample, SegmentMerges)
        else {
          val (summaries, _) = bpeLoop(sample.repartition(4, col("doc_id")),
            SegmentMerges)
          summaries.reduce(_.unionByName(_)).orderBy("iter").collect()
            .map(r => (r.getString(1), r.getString(2))).toSeq
        }
      // The oracle's apply chain CROSS JOINs each learned-pair CTE: a
      // dry learn iteration (sample too small to yield an adjacent
      // pair) would empty the oracle's corpus while the Spark apply
      // just used a shorter merge list — a data-dependent silent
      // divergence. Make it a loud, explicit error instead.
      require(merges.size == SegmentMerges,
        s"BPE sample-learn ran dry: ${merges.size}/$SegmentMerges merges " +
          s"learned — enlarge the sample (SegmentSampleMod=$SegmentSampleMod) " +
          "or lower SegmentMerges; the DuckDB oracle assumes a full table")
      merges
    })

  /** Single-task BPE learn on a small sample — one executor task (no
    * corpus collect; only the K merge rows return to the driver, the
    * same driver artifact the DF path collected). Semantics are the
    * [[bpeLoop]] iteration verbatim: count ALL adjacent pairs, best =
    * (count DESC, pair_a ASC, pair_b ASC) with string order compared
    * on UTF-8 BYTES (Spark's UTF8String/DuckDB binary collation — Java
    * String compareTo is UTF-16 and DIVERGES on supplementary planes;
    * the dispatch spec plants exactly that tie), then the greedy
    * non-overlap left-to-right merge (the islands odd-rank rule).
    * Stops early if no pair exists — the caller's require() then
    * reports the dry run exactly as the DF path does.
    */
  /** UTF-8-byte string comparison — Spark UTF8String / DuckDB binary
    * collation order (Java String compareTo is UTF-16 and diverges on
    * supplementary planes). Shared by the local BPE kernels.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    var r = 0
    while (r == 0 && i < n) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (r != 0) r < 0 else x.length < y.length
  }

  private[graft] def bpeLearnLocal(sample: DataFrame, iters: Int): Seq[(String, String)] = {
    val spark = sample.sparkSession
    import spark.implicits._
    sample.select(col("doc_id"), tokens(col("text")).as("toks"))
      .as[(Long, Seq[String])]
      .coalesce(1).mapPartitions { it =>
        val docs = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
        it.foreach { case (_, ts) =>
          if (ts != null && ts.nonEmpty) docs += ts.toArray
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var continue = true
        for (_ <- 1 to iters if continue) {
          val cnt = new java.util.HashMap[(String, String), Long]()
          docs.foreach { ts =>
            var i = 0
            while (i < ts.length - 1) {
              cnt.merge((ts(i), ts(i + 1)), 1L, (a, b) => a + b): Unit
              i += 1
            }
          }
          if (cnt.isEmpty) continue = false
          else {
            var best: (String, String) = null
            var bc = -1L
            cnt.forEach { (p, c) =>
              if (c > bc || (c == bc &&
                  (utf8Lt(p._1, best._1) || (p._1 == best._1 && utf8Lt(p._2, best._2))))) {
                best = p; bc = c
              }
            }
            val (pa, pb) = best
            val merged = pa + "_" + pb
            docs.indices.foreach { d =>
              val ts = docs(d)
              val nb = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < ts.length) {
                if (i < ts.length - 1 && ts(i) == pa && ts(i + 1) == pb) {
                  nb += merged; i += 2
                } else { nb += ts(i); i += 1 }
              }
              docs(d) = nb.toArray
            }
            out += ((pa, pb))
          }
        }
        Iterator.single(out.toSeq)
        // headOption: a zero-partition sample frame (empty source after
        // an empty split) collects to an EMPTY array — no merges, same
        // as the DF loop's dry run — where .head would throw
        // NoSuchElementException (r18 advice)
      }.collect().headOption.getOrElse(Seq.empty)
  }

  def c96BpeSegment(spark: SparkSession, dir: String): DataFrame =
    bpeSegmentStats(Tables.documents(spark, dir), learnedMerges(spark, dir))

  /** The apply+stats body on any (doc_id, text) frame and merge list —
    * spec-pinned against [[bpeApplyOn]] (one-pass apply ≡ per-merge
    * corpus iteration) on the planted corpus.
    */
  def bpeSegmentStats(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    bpeSegmentStatCols(docs, merges).orderBy("doc_id")

  /** The unsorted stat projection — pure scan-stage column math, so it
    * applies unchanged to a STREAMING frame (D27: the one-pass apply is
    * stateless, which is exactly why a production streaming tokenizer
    * is a frozen-table deploy, not stream state).
    */
  def bpeSegmentStatCols(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs
      // a NULL-text doc is not part of the tokenizer corpus (the phash
      // rule): the oracle's UNNEST chain drops the row, so must we —
      // NOT emit a NULL-stat row (fuzz seed 1)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.textseg.bpe_segment(col("text"), merges).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"),
        expr("""aggregate(
                  transform(toks, (t, i) -> length(t) * CAST(i + 1 AS BIGINT)),
                  CAST(0 AS BIGINT), (acc, x) -> acc + x)""").as("seq_fp"),
        expr("CAST(array_max(transform(toks, t -> length(t))) AS BIGINT)")
          .as("max_tok_len"))

  val c96Sql: String = {
    val learn = (1 to SegmentMerges)
      .map(n => bpeIterCtes(n, "l", None, withSummary = false)).mkString(",\n")
    val apply = (1 to SegmentMerges)
      .map(n => bpeIterCtes(n, "a", Some("l"), withSummary = false)).mkString(",\n")
    s"""WITH lt1 AS (
       |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
       |    UNNEST(string_split(text, ' ')) AS tok
       |  FROM fdoc WHERE doc_id % $SegmentSampleMod = 0
       |),
       |at1 AS (
       |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
       |    UNNEST(string_split(text, ' ')) AS tok
       |  FROM fdoc
       |),
       |$learn,
       |$apply
       |SELECT doc_id, COUNT(*) AS n_toks, COUNT(DISTINCT tok) AS n_types,
       |  CAST(SUM(length(tok) * rn) AS BIGINT) AS seq_fp,
       |  CAST(MAX(length(tok)) AS BIGINT) AS max_tok_len
       |FROM (SELECT doc_id, tok,
       |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
       |      FROM at${SegmentMerges + 1})
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C138
  /** C138: merge-budget sweep — the tokenizer DECISION table next to
    * C137's banding tuner: how much corpus compression does each merge
    * buy? For every prefix k ∈ [[MergeSweepKs]] of the ONE sample-
    * learned merge table (C96's frozen artifact — merges apply
    * sequentially, so the first k merges ARE the k-merge tokenizer),
    * the corpus-wide token total after applying k merges, the number
    * of merge events (= base − total, each merge event removes exactly
    * one token — no string predicate needed), and compression vs the
    * raw whitespace stream in ppm. The marginal-compression column a
    * vocab-size decision reads (C100/C125 report equity ACROSS
    * languages at the shipped size; this reports the size axis).
    *
    * Scale shape: ONE corpus scan computes all sweep points — each k
    * is the native [[graft.functions.BpeSegment]] one-pass expression
    * (broadcast merge prefix, scan-stage, zero shuffles), the totals
    * are one global agg, and the sweep axis explodes from that single
    * row. Oracle = the C96 iterated chain read at its intermediate
    * LEVELS (level k IS the k-prefix tokenizer), so the one-pass
    * prefix apply is value-pinned against iterated semantics at every
    * sweep point, not just the endpoint.
    */
  val MergeSweepKs = Seq(0, 2, 4, 8)

  def c138MergeSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.textseg.bpe_segment
    val merges = learnedMerges(spark, dir)
    val sized = Tables.documents(spark, dir).select(
      MergeSweepKs.map { k =>
        val toks = if (k == 0) tokens(col("text"))
          else bpe_segment(col("text"), merges.take(k))
        size(toks).cast("long").as(s"n_$k")
      }: _*)
    val totals = sized.agg(
      sum(s"n_${MergeSweepKs.head}").as(s"t_${MergeSweepKs.head}"),
      MergeSweepKs.tail.map(k => sum(s"n_$k").as(s"t_$k")): _*)
    totals
      .select(explode(array(MergeSweepKs.map(k =>
        struct(lit(k.toLong).as("n_merges"), col(s"t_$k").as("total_toks"),
          col("t_0").as("base"))): _*)).as("r"))
      .select(col("r.n_merges"), col("r.total_toks"),
        (col("r.base") - col("r.total_toks")).as("merges_applied"),
        // ppm numerator in DECIMAL(38,0): total_toks * 1e6 wraps a Long
        // past ~9.2e12 tokens — the 100 TB regime — and Spark's Long
        // multiply wraps SILENTLY while the oracle's checked arithmetic
        // errors loudly, so the twins would diverge exactly where the
        // report matters. The quotient is ≤ 1e6 whenever merges only
        // shrink the stream; the guard makes the one case that could
        // overflow the BIGINT quotient (total > base) loud instead.
        expr(s"""CASE WHEN r.total_toks > r.base
                |  THEN CAST(raise_error('c138: post-merge token total exceeds the raw baseline — compression_ppm would overflow') AS BIGINT)
                |  ELSE CAST(CAST(r.total_toks AS DECIMAL(38,0)) * 1000000 div r.base AS BIGINT)
                |END""".stripMargin).as("compression_ppm"))
      .orderBy("n_merges")
  }

  lazy val c138Sql: String = {
    val learn = (1 to SegmentMerges)
      .map(n => bpeIterCtes(n, "l", None, withSummary = false)).mkString(",\n")
    val apply = (1 to SegmentMerges)
      .map(n => bpeIterCtes(n, "a", Some("l"), withSummary = false)).mkString(",\n")
    val rows = MergeSweepKs.map(k =>
      s"SELECT CAST($k AS BIGINT) AS n_merges, " +
        s"(SELECT CAST(COUNT(*) AS BIGINT) FROM at${k + 1}) AS total_toks")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH lt1 AS (
       |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
       |    UNNEST(string_split(text, ' ')) AS tok
       |  FROM fdoc WHERE doc_id % $SegmentSampleMod = 0
       |),
       |at1 AS (
       |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
       |    UNNEST(string_split(text, ' ')) AS tok
       |  FROM fdoc
       |),
       |$learn,
       |$apply,
       |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM at1),
       |lv AS (
       |  $rows
       |)
       |SELECT lv.n_merges, lv.total_toks,
       |  base.b - lv.total_toks AS merges_applied,
       |  -- HUGEINT numerator + checked BIGINT cast: DuckDB's native
       |  -- twin of the Spark side's DECIMAL(38,0) accumulate + guard
       |  CAST((CAST(lv.total_toks AS HUGEINT) * 1000000) // base.b AS BIGINT) AS compression_ppm
       |FROM lv CROSS JOIN base ORDER BY lv.n_merges""".stripMargin
  }

  // --------------------------------------------------------------- C100
  /** C100: tokenizer fertility per language — BPE tokens per whitespace
    * word and characters per BPE token, aggregated per lang over the
    * C96 sample-learned merge table. Fertility is the standard
    * cross-lingual tokenizer-equity diagnostic (a tokenizer trained on
    * one language's sample segments other languages into more, shorter
    * pieces — inflating their effective sequence length and training
    * cost); this is the table a vocab-size / training-mix decision
    * reads. Same frozen-table contract as C96: the merge list is a
    * K-row driver-side collect, the corpus-wide apply is the one-pass
    * native [[graft.functions.BpeSegment]] expression — pure scan
    * stage, so the whole query is one lang-keyed partial agg at any
    * corpus size. All-integer outputs (nano ratios via BIGINT div).
    */
  def c100Fertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // oracle inner-joins base⋈seg on doc_id, and the segment chain
      // drops NULL-text docs (no tokens to unnest) — mirror that drop
      // or n_docs counts ghost documents (fuzz seed 1)
      .filter(col("text").isNotNull)
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"),
        size(graft.functions.textseg.bpe_segment(col("text"),
          learnedMerges(spark, dir))).cast("long").as("n_toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("sum_words"),
        sum("n_toks").as("sum_toks"),
        sum("n_chars").as("sum_chars"))
      .withColumn("fertility_nano", expr("(sum_toks * 1000000000) div sum_words"))
      .withColumn("chars_per_tok_nano", expr("(sum_chars * 1000000000) div sum_toks"))
      .orderBy("lang")

  val c100Sql: String = {
    val learn = (1 to SegmentMerges)
      .map(n => bpeIterCtes(n, "l", None, withSummary = false)).mkString(",\n")
    val apply = (1 to SegmentMerges)
      .map(n => bpeIterCtes(n, "a", Some("l"), withSummary = false)).mkString(",\n")
    s"""WITH lt1 AS (
       |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
       |    UNNEST(string_split(text, ' ')) AS tok
       |  FROM fdoc WHERE doc_id % $SegmentSampleMod = 0
       |),
       |at1 AS (
       |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
       |    UNNEST(string_split(text, ' ')) AS tok
       |  FROM fdoc
       |),
       |$learn,
       |$apply,
       |seg AS (SELECT doc_id, COUNT(*) AS n_toks FROM at${SegmentMerges + 1} GROUP BY doc_id),
       |base AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM fdoc
       |)
       |SELECT b.lang, COUNT(*) AS n_docs,
       |  CAST(SUM(b.n_words) AS BIGINT) AS sum_words,
       |  CAST(SUM(s.n_toks) AS BIGINT) AS sum_toks,
       |  CAST(SUM(b.n_chars) AS BIGINT) AS sum_chars,
       |  (CAST(SUM(s.n_toks) AS BIGINT) * 1000000000)
       |    // CAST(SUM(b.n_words) AS BIGINT) AS fertility_nano,
       |  (CAST(SUM(b.n_chars) AS BIGINT) * 1000000000)
       |    // CAST(SUM(s.n_toks) AS BIGINT) AS chars_per_tok_nano
       |FROM base b JOIN seg s USING (doc_id)
       |GROUP BY b.lang ORDER BY b.lang""".stripMargin
  }


  // ---------------------------------------------------------------- C63
  /** C63: count-min sketch frequency estimation (Cormode & Muthukrishnan
    * 2005) — the fixed-memory frequency summary a 100 TB pipeline keeps
    * when the exact vocabulary no longer fits anywhere: [[CmsD]] hash
    * rows x [[CmsW]] counters, updated by incrementing one cell per row
    * per token, queried as the MIN over the token's [[CmsD]] cells.
    * Estimates NEVER undercount (each probed cell holds the token's own
    * count plus non-negative collision mass — spec-pinned against the
    * exact counts), and the overcount is bounded in expectation by
    * corpus_tokens/[[CmsW]] per row.
    *
    * Scale shape: the sketch build is ONE partial-agg shuffle whose key
    * space is at most D·W = 1536 cells — map-side combine
    * collapses any corpus to that, which is the entire point (compare
    * C14's exact vocab agg, whose key space is the vocabulary). The
    * report probes the exact top-[[VocabTopK]] tokens (where exact
    * truth is still computable at test scale) and publishes est vs tf;
    * W is deliberately small so collisions actually occur and the
    * overcount accounting is exercised. The probe join broadcasts the
    * <=D*W-row sketch.
    */
  val CmsD = 3
  val CmsW = 512L
  val CmsMod = 1000000007L
  private val CmsRows = Seq((4967L, 8191L), (9871L, 20341L), (14879L, 32603L))

  private def cmsPositions(th: Column): Column =
    array(CmsRows.map { case (a, b) => ((th * lit(a) + lit(b)) % lit(CmsMod)) % lit(CmsW) }: _*)

  /** The sketch cells (r, p, cnt) on ANY token frame — batch or stream
    * (stateless fan-out + one bounded-key aggregation): D20 maintains
    * exactly this aggregate as streaming state, C63 computes it batch.
    */
  private[graft] def cmsCellsOn(toks: DataFrame): DataFrame =
    toks
      .select(posexplode(cmsPositions(tokenHash(col("token")))).as(Seq("r", "p")))
      .select(col("r").cast("long").as("r"), col("p"))
      .groupBy("r", "p").agg(count(lit(1)).as("cnt"))

  /** The probe report over a materialized cell frame — the shared
    * finalize (the D18 quantilesFromHistogram pattern): exact top-K
    * tokens from the batch table, est = min over the token's D cells.
    */
  /** Session memo of the CMS probe vocabulary (top-[[VocabTopK]] tokens
    * by tf) — r19: c63 and d20 each re-derived this corpus explode+agg
    * per invocation; it is ≤ VocabTopK rows, sealed once and shared.
    */
  private val cmsVocabCache = new graft.util.Memo[(String, String), DataFrame]

  private def cmsVocab(spark: SparkSession, dir: String): DataFrame =
    cmsVocabCache.getOrElseUpdate((spark.sparkContext.applicationId, dir),
      Tables.documents(spark, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("token")).limit(VocabTopK)
        .seal())

  private[graft] def cmsReportFrom(cells: DataFrame, spark: SparkSession,
      dir: String): DataFrame = {
    val vocab = cmsVocab(spark, dir)
    vocab
      .select(col("token"), col("tf"),
        posexplode(cmsPositions(tokenHash(col("token")))).as(Seq("r", "p")))
      .select(col("token"), col("tf"), col("r").cast("long").as("r"), col("p"))
      .join(broadcast(cells), Seq("r", "p"))
      .groupBy("token", "tf").agg(min("cnt").as("est"))
      .select(col("token"), col("tf"), col("est"),
        (col("est") - col("tf")).as("overcount"))
      .orderBy(col("tf").desc, col("token"))
  }

  def c63CmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
    cmsReportFrom(cmsCellsOn(toks), spark, dir)
  }

  val c63Sql: String = {
    def posSql(h: String, i: Int): String = {
      val (a, b) = CmsRows(i)
      s"(($h * $a + $b) % $CmsMod) % $CmsW"
    }
    val cellRows = CmsRows.indices.map(i =>
      s"SELECT CAST($i AS BIGINT) AS r, ${posSql("h", i)} AS p FROM th").mkString("\n  UNION ALL\n  ")
    val probeRows = CmsRows.indices.map(i =>
      s"SELECT token, tf, CAST($i AS BIGINT) AS r, ${posSql("h", i)} AS p FROM vocab").mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (SELECT UNNEST(string_split(text, ' ')) AS token FROM fdoc),
       |th AS (SELECT ${tokenHashSql("token")} AS h FROM toks),
       |cellsrc AS (
       |  $cellRows
       |),
       |cells AS (SELECT r, p, COUNT(*) AS cnt FROM cellsrc GROUP BY r, p),
       |vocab AS (
       |  SELECT token, COUNT(*) AS tf, ${tokenHashSql("token")} AS h FROM toks
       |  GROUP BY token ORDER BY tf DESC, token LIMIT $VocabTopK
       |),
       |probes AS (
       |  $probeRows
       |)
       |SELECT pr.token, pr.tf, MIN(c.cnt) AS est, MIN(c.cnt) - pr.tf AS overcount
       |FROM probes pr JOIN cells c ON c.r = pr.r AND c.p = pr.p
       |GROUP BY pr.token, pr.tf
       |ORDER BY pr.tf DESC, pr.token""".stripMargin
  }


  // ---------------------------------------------------------------- C64
  /** C64: classifier-vs-gate calibration report — the eval harness a
    * deployed quality classifier (C52) ships with: per score bucket,
    * how often does the cheap linear model agree with the rule gate
    * (C36, the labels a team actually audits)? Both sides are the
    * driver-green operator definitions joined on doc_id — the report
    * can never score a different classifier or gate than the ones that
    * ship. Buckets are a fixed monotone threshold staircase (count of
    * thresholds at or below the score — engine-neutral integer
    * comparisons, no floor/trunc division sign traps), and the
    * confusion counts aggregate map-side per bucket; precision/recall
    * are exact-integer micros with a greatest(,1) guard. At 100 TB the
    * report costs the two operator scans plus one doc_id equi-join and
    * an 8-bucket partial agg — the eval is free relative to the
    * operators it audits (the C41/C60 harness principle).
    */
  val EvalThresholds: Seq[Long] =
    Seq(-150000000L, -100000000L, -50000000L, 0L, 50000000L, 100000000L, 150000000L)

  def c64ClassifierEval(spark: SparkSession, dir: String): DataFrame = {
    val pred = c52HashClassifier(spark, dir)
      .select(col("doc_id"), col("score_micro"), col("keep").as("pred"))
    val lab = c36QualityGate(spark, dir)
      .select(col("doc_id"), col("keep").cast("long").as("label"))
    // (score >= t) CAST, not when/otherwise: a NULL score (NULL-text
    // doc, fuzz seed 1) must propagate to the NULL bucket exactly like
    // the oracle's CAST(score_micro >= t AS BIGINT) sum
    val bucket = EvalThresholds
      .map(t => (col("score_micro") >= lit(t)).cast("long"))
      .reduce(_ + _)
    pred.join(lab, "doc_id")
      .select(bucket.as("bucket"), col("pred"), col("label"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("pred").as("pred_keep"),
        sum("label").as("label_keep"),
        sum(col("pred") * col("label")).as("tp"),
        sum(col("pred") * (lit(1L) - col("label"))).as("fp"),
        sum((lit(1L) - col("pred")) * col("label")).as("fn"))
      .withColumn("precision_micro", expr("tp * 1000000 div greatest(pred_keep, 1)"))
      .withColumn("recall_micro", expr("tp * 1000000 div greatest(label_keep, 1)"))
      .orderBy("bucket")
  }

  val c64Sql: String = {
    val predBody = c52Sql.stripSuffix("ORDER BY doc_id").trim
    val labBody = c36Sql.stripSuffix("ORDER BY doc_id").trim
    val bucketSql = EvalThresholds
      .map(t => s"CAST(score_micro >= $t AS BIGINT)").mkString(" + ")
    s"""WITH pred AS (SELECT doc_id, score_micro, keep AS pred FROM (
       |$predBody
       |)), lab AS (SELECT doc_id, CAST(keep AS BIGINT) AS label FROM (
       |$labBody
       |)), j AS (
       |  SELECT $bucketSql AS bucket, p.pred, l.label
       |  FROM pred p JOIN lab l USING (doc_id)
       |), agg AS (
       |  SELECT bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(pred) AS BIGINT) AS pred_keep,
       |    CAST(SUM(label) AS BIGINT) AS label_keep,
       |    CAST(SUM(pred * label) AS BIGINT) AS tp,
       |    CAST(SUM(pred * (1 - label)) AS BIGINT) AS fp,
       |    CAST(SUM((1 - pred) * label) AS BIGINT) AS fn
       |  FROM j GROUP BY bucket
       |)
       |SELECT bucket, n_docs, pred_keep, label_keep, tp, fp, fn,
       |  tp * 1000000 // greatest(pred_keep, 1) AS precision_micro,
       |  tp * 1000000 // greatest(label_keep, 1) AS recall_micro
       |FROM agg ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- C67
  /** C67: incremental exact dedup — a NEW crawl batch deduped against a
    * PERSISTED corpus snapshot, the operating mode of every recurring
    * crawl (C1 is the one-shot backfill; A31 is the same incremental
    * theme on the geo side). The corpus splits at the midpoint id
    * (old = persisted snapshot, new = arriving batch); each arriving
    * doc is attributed: `dup_old` (its text already exists in the
    * snapshot — dup_of = the snapshot's keeper), `dup_new` (first seen
    * by a LOWER-id doc of the same batch — intra-batch dedup), or
    * `unique`. Scale shape: the snapshot side collapses to one
    * (text, min id) row per distinct text BEFORE the join — the join
    * key is the text (sha2 at 100 TB, C1's note), both sides shuffle
    * once on it, and the intra-batch rule is a min-id aggregate on the
    * same key, never a window over the corpus. Persisted labels are
    * never touched — A31's immutability contract.
    */
  def c67IncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupOn(Tables.documents(spark, dir).select("doc_id", "text"))

  /** The incremental-dedup body on ANY (doc_id, text) frame —
    * ScaleSmoke drives this same code at 10M docs with ONE text owning
    * half the corpus to pin the duplicate-skew shape (the hot text
    * collapses map-side in both the snapshot keeper agg and the
    * batch-min agg; the text-key join sees one row per DISTINCT text
    * on the build side, so a boilerplate flood can't straggler a task).
    */
  private[graft] def incrementalDedupOn(docs: DataFrame): DataFrame = {
    val cut = docs.agg(((min("doc_id") + max("doc_id")) / 2).cast("long").as("cut"))
    val tagged = docs.crossJoin(broadcast(cut))
    val oldKeep = tagged.filter(col("doc_id") < col("cut"))
      .groupBy("text").agg(min("doc_id").as("old_min"))
    val fresh = tagged.filter(col("doc_id") >= col("cut"))
    val newMin = fresh.groupBy("text").agg(min("doc_id").as("new_min"))
    fresh
      .join(oldKeep, Seq("text"), "left")
      .join(newMin, Seq("text"))
      .select(col("doc_id"),
        when(col("old_min").isNotNull, lit("dup_old"))
          .when(col("new_min") < col("doc_id"), lit("dup_new"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("old_min"),
          when(col("new_min") < col("doc_id"), col("new_min")),
          lit(-1L)).as("dup_of"))
      .orderBy("doc_id")
  }

  val c67Sql: String =
    """WITH cut AS (
      |  SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut FROM fdoc
      |), old_keep AS (
      |  SELECT text, MIN(doc_id) AS old_min FROM fdoc, cut
      |  WHERE doc_id < cut GROUP BY text
      |), fresh AS (
      |  SELECT doc_id, text FROM fdoc, cut WHERE doc_id >= cut
      |), new_min AS (
      |  SELECT text, MIN(doc_id) AS new_min FROM fresh GROUP BY text
      |)
      |SELECT f.doc_id,
      |  CASE WHEN o.old_min IS NOT NULL THEN 'dup_old'
      |       WHEN n.new_min < f.doc_id THEN 'dup_new'
      |       ELSE 'unique' END AS status,
      |  COALESCE(o.old_min,
      |    CASE WHEN n.new_min < f.doc_id THEN n.new_min END, -1) AS dup_of
      |FROM fresh f
      |LEFT JOIN old_keep o ON o.text = f.text
      |JOIN new_min n ON n.text = f.text
      |ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------- C68
  /** C68: interpolated Kneser–Ney bigram probabilities (Kneser & Ney
    * 1995; Chen & Goodman 1998's standard formulation) — the smoothing
    * every serious count-based LM uses where C24's raw conditional
    * assigns zero to unseen pairs and C31 scores with it:
    *
    *   p_KN(w2|w1) = max(n(w1,w2) − D, 0)/n(w1·)
    *               + D·N1+(w1·)/n(w1·) · N1+(·w2)/|bigram types|
    *
    * with discount D = 0.75. The continuation weight N1+(·w2) (how many
    * DISTINCT contexts w2 follows) replacing raw frequency is the
    * Kneser–Ney insight ("Francisco" is frequent but only ever follows
    * "San"). All integer micro-units: term1 = (10⁶·n_pair − 750000) div
    * n_w1; term2 routes 750000·n_follow·n_pred through DECIMAL(38,0)
    * (C47's overflow rule — vocab² products top BIGINT on ~10⁷-type
    * corpora). Scale shape: everything is partial-agg shuffles on
    * token/pair keys over the C24 map-side pair extraction; the two
    * distinct-counts are count-distinct aggs on the pair frame; the
    * 1-row type total broadcasts.
    */
  val KnDiscountMicro = 750000L

  def c68KnBigram(spark: SparkSession, dir: String): DataFrame = {
    val pairs = bigramPairs(spark, dir)
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .seal()
    val ctx = big.groupBy("w1").agg(sum("n_pair").as("n_w1"),
      count(lit(1)).as("n_follow"))
    val pred = big.groupBy("w2").agg(count(lit(1)).as("n_pred"))
    val types = big.agg(count(lit(1)).as("n_types"))
    big.join(ctx, "w1").join(pred, "w2").crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_follow"), col("n_pred"), col("n_types"),
        (expr(s"(1000000 * n_pair - $KnDiscountMicro) div n_w1") +
          expr(s"(cast($KnDiscountMicro as decimal(38,0)) * n_follow * n_pred) div " +
            "(cast(n_w1 as decimal(38,0)) * n_types)")).as("pkn_micro"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(BigramTopK)
  }

  val c68Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
       |    UNNEST(string_split(text, ' ')) AS w1
       |  FROM fdoc
       |), adj AS (
       |  SELECT w1, LEAD(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM toks
       |), pp AS (SELECT w1, w2 FROM adj WHERE w2 IS NOT NULL),
       |big AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pp GROUP BY w1, w2),
       |ctx AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1, COUNT(*) AS n_follow
       |        FROM big GROUP BY w1),
       |pred AS (SELECT w2, COUNT(*) AS n_pred FROM big GROUP BY w2),
       |tot AS (SELECT COUNT(*) AS n_types FROM big)
       |SELECT b.w1, b.w2, b.n_pair, c.n_w1, c.n_follow, p.n_pred, t.n_types,
       |  (1000000 * b.n_pair - $KnDiscountMicro) // c.n_w1
       |  + CAST((CAST($KnDiscountMicro AS HUGEINT) * c.n_follow * p.n_pred)
       |      // (CAST(c.n_w1 AS HUGEINT) * t.n_types) AS BIGINT) AS pkn_micro
       |FROM big b JOIN ctx c ON c.w1 = b.w1 JOIN pred p ON p.w2 = b.w2
       |CROSS JOIN tot t
       |ORDER BY b.n_pair DESC, b.w1, b.w2
       |LIMIT $BigramTopK""".stripMargin

  // ---------------------------------------------------------------- C71
  /** C71: Zipf-law fit per language — the first diagnostic of a text
    * corpus's health (natural language sits near slope −1; spam, logs
    * and template floods bend the curve): least-squares regression of
    * ln(tf) on ln(rank) over each language's top-[[ZipfTopK]] tokens,
    * with r² as the fit quality. Exact cross-engine: the two
    * transcendentals quantize to micro BIGINTs per ROW (round(ln·10⁶) —
    * the a1/c60 rule: doubles never accumulate), all regression sums
    * are integer, the big cross-products route through DECIMAL(38,0)/
    * HUGEINT (C47's overflow rule), and the final slope/intercept/r²
    * are one double division each, rounded to 6dp. Scale shape: the
    * token count is the map-side-combinable corpus agg; everything
    * after runs on the VOCAB frame (rank window partitioned per
    * language over vocabulary-sized data, never the corpus), and the
    * regression is a K-row partial agg per language.
    */
  val ZipfTopK = 200

  def c71ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("lang").orderBy(col("tf").desc, col("token"))
    val ranked = tf.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= ZipfTopK)
      .select(col("lang"),
        round(log(col("rnk").cast("double")) * 1e6, 0).cast("long").as("x"),
        round(log(col("tf").cast("double")) * 1e6, 0).cast("long").as("y"))
    val sums = ranked.groupBy("lang").agg(count(lit(1)).as("k"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    sums.select(col("lang"), col("k"),
        expr("cast(k as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy").as("cov"),
        expr("cast(k as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx").as("varx"),
        expr("cast(k as decimal(38,0)) * syy - cast(sy as decimal(38,0)) * sy").as("vary"),
        col("sx"), col("sy"))
      .select(col("lang"), col("k"),
        // a degenerate fit (k=1 → varx=0, e.g. a language whose whole
        // ranked vocabulary is one token — fuzz-harness find) has NO
        // slope: try_divide → NULL, exactly DuckDB's x/0 semantics;
        // under ANSI the plain `/` throws even for doubles
        round(try_divide(col("cov").cast("double"), col("varx").cast("double")), 6)
          .as("slope"),
        round((col("sy").cast("double") - try_divide(col("cov").cast("double"),
          col("varx").cast("double")) * col("sx").cast("double"))
          / col("k").cast("double") / 1e6, 6).as("intercept"),
        round(try_divide(col("cov").cast("double") * col("cov").cast("double"),
          col("varx").cast("double") * col("vary").cast("double")), 6).as("r2"))
      .orderBy("lang")
  }

  val c71Sql: String =
    s"""WITH tf AS (
       |  SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM fdoc
       |), cnt AS (SELECT lang, token, COUNT(*) AS tf FROM tf GROUP BY lang, token),
       |ranked AS (
       |  SELECT lang,
       |    CAST(ROUND(ln(rnk) * 1e6) AS BIGINT) AS x,
       |    CAST(ROUND(ln(tf) * 1e6) AS BIGINT) AS y
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
       |        ORDER BY tf DESC, token) AS rnk FROM cnt)
       |  WHERE rnk <= $ZipfTopK
       |), sums AS (
       |  SELECT lang, COUNT(*) AS k,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y AS HUGEINT) * y) AS syy
       |  FROM ranked GROUP BY lang
       |), fit AS (
       |  SELECT lang, k,
       |    CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov,
       |    CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx,
       |    CAST(k AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary,
       |    sx, sy
       |  FROM sums
       |)
       |SELECT lang, k,
       |  round(CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE), 6) AS slope,
       |  round((CAST(sy AS DOUBLE) - CAST(cov AS DOUBLE) / CAST(varx AS DOUBLE)
       |    * CAST(sx AS DOUBLE)) / CAST(k AS DOUBLE) / 1e6, 6) AS intercept,
       |  round(CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE)
       |    / (CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)), 6) AS r2
       |FROM fit ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- C72
  /** C72: rare-token tail enrichment — the sampling signal for
    * upweighting documents that carry tail vocabulary (the long-tail
    * knowledge a proportional sampler underfeeds; the complement of
    * C32's budget sampler and C30's domain tempering): per document,
    * the count of RARE tokens (corpus tf ≤ [[RareMax]]), the distinct
    * rare TYPES it contributes, its minimum token frequency, and the
    * rare fraction in exact ppm. Scale shape: the corpus tf table is
    * one map-side-combinable agg; docs explode once and the tf lookup
    * is a token-key hash equi-join (the C31 model-join rule — at real
    * vocab sizes the tf table is NOT broadcastable and the join
    * shuffles token-keyed, where stop-word keys are hot but partial
    * aggregation has already collapsed the per-doc fan-in); the final
    * per-doc rollup is one doc_id partial agg.
    */
  val RareMax = 2L

  def c72RareTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    toks.join(tf, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tf") <= RareMax, 1L).otherwise(0L)).as("n_rare"),
        size(collect_set(when(col("tf") <= RareMax, col("token")))).cast("long")
          .as("n_rare_types"),
        min("tf").as("min_tf"))
      .withColumn("rare_ppm", expr("n_rare * 1000000 div n_tokens"))
      .orderBy("doc_id")
  }

  val c72Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM fdoc
       |), tf AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN f.tf <= $RareMax THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |  CAST(COUNT(DISTINCT CASE WHEN f.tf <= $RareMax THEN t.token END) AS BIGINT)
       |    AS n_rare_types,
       |  MIN(f.tf) AS min_tf,
       |  CAST(SUM(CASE WHEN f.tf <= $RareMax THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // COUNT(*) AS rare_ppm
       |FROM toks t JOIN tf f ON f.token = t.token
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- C73
  /** C73: corpus drift monitor — Jensen–Shannon divergence between the
    * persisted snapshot's and the arriving batch's unigram
    * distributions (C67's midpoint split), with the top contributing
    * tokens: the alarm a recurring-crawl pipeline watches so a source
    * change (spam flood, template shift, scraper breakage) is caught
    * BEFORE a training run ingests it. Per-token JS contributions are
    * nonnegative by the log-sum inequality, computed with one
    * identical double expression per row and quantized to nano
    * BIGINTs before the total (the a1/c60/c71 rule — doubles never
    * accumulate; js_nano is DEFINED as the sum of quantized
    * contributions on both engines). Scale shape: one token-key
    * partial agg builds both histograms in a single pass (the
    * conditional-sum trick, no second scan), two 1-row broadcasts
    * (totals, js), and the report is a TakeOrdered top-[[DriftTopK]].
    */
  val DriftTopK = 20

  /** The drift report from a full-outer-merged (token, cnt_old,
    * cnt_new) histogram frame — the shared finalize (D18's pattern):
    * batch C73 computes the merged frame in one conditional-sum pass,
    * streaming D24 maintains the new side as complete-mode state and
    * merges the static snapshot on read.
    */
  private[graft] def driftReportFrom(counts: DataFrame): DataFrame = {
    val totals = counts.agg(sum("cnt_old").as("n_old"), sum("cnt_new").as("n_new"))
    val scored = counts.crossJoin(broadcast(totals))
      // try_divide: an empty snapshot side (n=0, e.g. a single-row or
      // all-new corpus) must yield NULL contribs exactly like DuckDB's
      // x/0 — ANSI `/` would throw instead (fuzz seed 0)
      .withColumn("p", try_divide(col("cnt_old").cast("double"), col("n_old")))
      .withColumn("q", try_divide(col("cnt_new").cast("double"), col("n_new")))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .withColumn("contrib_nano", round((
          when(col("cnt_old") > 0, col("p") * log(col("p") / col("m"))).otherwise(lit(0.0))
            + when(col("cnt_new") > 0, col("q") * log(col("q") / col("m"))).otherwise(lit(0.0))
        ) / lit(2.0) * lit(1e9), 0).cast("long"))
    val js = scored.agg(sum("contrib_nano").as("js_nano"))
    scored.crossJoin(broadcast(js))
      .select("token", "cnt_old", "cnt_new", "contrib_nano", "js_nano")
      .orderBy(col("contrib_nano").desc, col("token")).limit(DriftTopK)
  }

  /** The snapshot/batch split point — the staging scalar D24 shares. */
  private[graft] def driftCut(spark: SparkSession, dir: String): Long =
    Tables.documents(spark, dir)
      .agg(((min("doc_id") + max("doc_id")) / 2).cast("long")).head.getLong(0)

  /** One side's token histogram (map-side explode + one token agg). */
  private[graft] def tokenCountsOn(docs: DataFrame, as: String): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as(as))

  def c73CorpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(((min("doc_id") + max("doc_id")) / 2).cast("long").as("cut"))
    val toks = docs.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("cut"), explode(tokens(col("text"))).as("token"))
    val counts = toks.groupBy("token")
      .agg(sum(when(col("doc_id") < col("cut"), 1L).otherwise(0L)).as("cnt_old"),
        sum(when(col("doc_id") >= col("cut"), 1L).otherwise(0L)).as("cnt_new"))
    driftReportFrom(counts)
  }

  val c73Sql: String = {
    def pd = "(CAST(cnt_old AS DOUBLE) / n_old)"
    def qd = "(CAST(cnt_new AS DOUBLE) / n_new)"
    val md = s"(($pd + $qd) / 2.0)"
    s"""WITH cut AS (
       |  SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut FROM fdoc
       |), toks AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM fdoc
       |), counts AS (
       |  SELECT token,
       |    CAST(SUM(CASE WHEN doc_id < cut THEN 1 ELSE 0 END) AS BIGINT) AS cnt_old,
       |    CAST(SUM(CASE WHEN doc_id >= cut THEN 1 ELSE 0 END) AS BIGINT) AS cnt_new
       |  FROM toks, cut GROUP BY token
       |), tot AS (
       |  SELECT CAST(SUM(cnt_old) AS BIGINT) AS n_old,
       |    CAST(SUM(cnt_new) AS BIGINT) AS n_new FROM counts
       |), sc AS (
       |  SELECT token, cnt_old, cnt_new,
       |    CAST(ROUND((
       |      CASE WHEN cnt_old > 0 THEN $pd * ln($pd / $md) ELSE 0.0 END
       |      + CASE WHEN cnt_new > 0 THEN $qd * ln($qd / $md) ELSE 0.0 END
       |    ) / 2.0 * 1e9) AS BIGINT) AS contrib_nano
       |  FROM counts, tot
       |), js AS (SELECT CAST(SUM(contrib_nano) AS BIGINT) AS js_nano FROM sc)
       |SELECT token, cnt_old, cnt_new, contrib_nano, js_nano
       |FROM sc, js
       |ORDER BY contrib_nano DESC, token LIMIT $DriftTopK""".stripMargin
  }

  // ---------------------------------------------------------------- C75
  /** C75: Good–Turing frequency-of-frequencies report (Gale & Sampson
    * 1995 "Good-Turing frequency estimation without tears") over the
    * corpus's [[ContamN]]-gram family (C29/C38's sparse type space —
    * the synthetic unigram vocab is 31 tokens with tf ≥ 26, so grams
    * are where a count-of-counts curve actually lives, exactly as in a
    * real corpus where n-gram types dwarf unigram types): N_r (how
    * many gram TYPES occur exactly r times) for r ≤ [[GtMaxR]], the
    * smoothed count r* = (r+1)·N_{r+1}/N_r in exact integer
    * micro-units, and the unseen-mass estimate P_0 = N_1/N in ppm (the
    * mass a next crawl's novel grams will claim — the forward-looking
    * companion to C38's realized gram novelty). Sits next to C68's
    * Kneser–Ney: KN discounts with a fixed D, GT derives the discount
    * from the corpus's own count-of-counts curve.
    *
    * Scale shape: gram tf is ONE map-side-combinable agg over the
    * scan-stage [[gramHashes]] explode; the count-of-counts agg runs
    * over the TYPE frame (never the corpus); the report itself is
    * ≤ [[GtMaxR]] rows self-joined on r+1 with a 1-row broadcast of
    * the corpus totals. The product (r+1)·N_{r+1}·10⁶ stays under
    * BIGINT until type counts pass ~8·10¹¹ — beyond a 100 TB corpus's
    * gram table — so no DECIMAL routing is needed (C47's overflow
    * rule, checked not assumed).
    */
  val GtMaxR = 10L

  def c75GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= ContamN)
      .select(explode(gramHashes(col("toks"))).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("tf"))
    val fof = tf.filter(col("tf") <= GtMaxR + 1L)
      .groupBy(col("tf").as("r")).agg(count(lit(1)).as("n_r"))
    val totals = tf.agg(sum("tf").as("n_tokens"),
      sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_1"))
    fof.filter(col("r") <= GtMaxR)
      .join(broadcast(fof.select(col("r").as("r1"), col("n_r").as("n_next"))),
        col("r") + 1L === col("r1"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"), coalesce(col("n_next"), lit(0L)).as("n_next"),
        expr("(r + 1) * coalesce(n_next, 0) * 1000000 div n_r").as("gt_micro"),
        expr("n_1 * 1000000 div n_tokens").as("unseen_ppm"))
      .orderBy("r")
  }

  val c75Sql: String =
    s"""WITH d AS (
       |  SELECT string_split(text, ' ') AS toks FROM fdoc
       |), tf AS (
       |  SELECT gh, COUNT(*) AS tf FROM (
       |    SELECT UNNEST(list_transform(range(1, len(toks) - $ContamN + 2),
       |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(list_slice(toks, i, i + $ContamN - 1),
       |               w -> ${tokenHashSql("w")})),
       |           (acc, h) -> (acc * $FpB + h) % $FpM))) AS gh
       |    FROM d WHERE len(toks) >= $ContamN
       |  ) GROUP BY gh
       |), fof AS (
       |  SELECT tf AS r, COUNT(*) AS n_r FROM tf
       |  WHERE tf <= ${GtMaxR + 1} GROUP BY tf
       |), tot AS (
       |  SELECT CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1 FROM tf
       |)
       |SELECT f.r, f.n_r, CAST(COALESCE(nx.n_r, 0) AS BIGINT) AS n_next,
       |  (f.r + 1) * CAST(COALESCE(nx.n_r, 0) AS BIGINT) * 1000000 // f.n_r AS gt_micro,
       |  t.n_1 * 1000000 // t.n_tokens AS unseen_ppm
       |FROM fof f LEFT JOIN fof nx ON nx.r = f.r + 1 CROSS JOIN tot t
       |WHERE f.r <= $GtMaxR
       |ORDER BY f.r""".stripMargin

  // ---------------------------------------------------------------- C76
  /** C76: per-document unigram entropy — the lexical-diversity signal
    * curation stacks use to separate natural prose (high entropy) from
    * template floods and keyword spam (low entropy at the same
    * length); the per-document companion to C71's corpus-level Zipf
    * fit and C26's surface repetition ratio. H = Σ_w (c_w/n)·ln(n/c_w)
    * in nano-nats, plus the length-normalized efficiency
    * H / ln(n_types) in ppm (1.0 = perfectly uniform usage; NULL for
    * single-type docs where the normalizer is 0).
    *
    * Exactness: each distinct token's contribution is ONE identical
    * double expression quantized to a nano BIGINT per ROW before any
    * accumulation (the a1/c60/c71/c73 rule — doubles never
    * accumulate), so the per-doc sum is integer-exact cross-engine;
    * the efficiency ratio is a final double division rounded to 6dp.
    * Scale shape: (doc, token) counts are one map-side-combinable agg;
    * per-doc totals re-aggregate that frame doc-keyed (vocab-sized
    * data, not corpus-sized) and join back doc-keyed — both shuffles
    * carry fixed-width rows; the final rollup is one doc_id partial
    * agg. No windows, no broadcast of anything document-scaled.
    */
  def c76DocEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("n_types"))
    counts.join(totals, "doc_id")
      .withColumn("contrib_nano",
        round(col("c").cast("double") / col("n")
          * log(col("n").cast("double") / col("c")) * lit(1e9), 0).cast("long"))
      .groupBy("doc_id")
      .agg(first("n").as("n_tokens"), first("n_types").as("n_types"),
        sum("contrib_nano").as("entropy_nano"))
      .withColumn("efficiency_ppm",
        when(col("n_types") > 1L,
          round(col("entropy_nano").cast("double") / lit(1e9)
            / log(col("n_types").cast("double")) * lit(1e6), 0).cast("long")))
      .orderBy("doc_id")
  }

  val c76Sql: String =
    """WITH counts AS (
      |  SELECT doc_id, token, COUNT(*) AS c FROM (
      |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM fdoc
      |  ) GROUP BY doc_id, token
      |), tot AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types
      |  FROM counts GROUP BY doc_id
      |), sc AS (
      |  SELECT c.doc_id, t.n, t.n_types,
      |    CAST(ROUND(CAST(c.c AS DOUBLE) / t.n
      |      * ln(CAST(t.n AS DOUBLE) / c.c) * 1e9) AS BIGINT) AS contrib_nano
      |  FROM counts c JOIN tot t ON t.doc_id = c.doc_id
      |)
      |SELECT doc_id, MIN(n) AS n_tokens, MIN(n_types) AS n_types,
      |  CAST(SUM(contrib_nano) AS BIGINT) AS entropy_nano,
      |  CASE WHEN MIN(n_types) > 1 THEN
      |    CAST(ROUND(CAST(SUM(contrib_nano) AS DOUBLE) / 1e9
      |      / ln(CAST(MIN(n_types) AS DOUBLE)) * 1e6) AS BIGINT) END AS efficiency_ppm
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C83
  /** C83: span-corruption masking plan (the T5/UL2 pretraining
    * objective's data prep, Raffel et al. 2020 §3.1.4): per document,
    * the non-overlapping token spans to mask — emitted as the
    * (doc_id, span_start, span_len) table a trainer consumes when
    * building corrupted inputs + targets. Production pipelines draw
    * span starts from a seeded RNG; here the offset is hash-derived
    * per document (the C23 split-assignment convention) with a fixed
    * stride, so both engines enumerate the identical plan: spans of
    * [[MaskSpanLen]] tokens starting at offset+1, offset+1+S,
    * offset+1+2S … (stride S = [[MaskStride]] > span length ⇒
    * non-overlap by construction, masking ≈ L/S ≈ 37% of tokens —
    * UL2's aggressive-denoising band), complete spans only.
    *
    * Scale shape: pure scan-stage — size(), one hash, one bounded
    * sequence explode (≤ n/S spans per doc), no shuffle before the
    * final sort. The explode fan-out is the output itself.
    */
  val MaskStride = 8L
  val MaskSpanLen = 3L

  def c83SpanCorruption(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("off", expr(s"(doc_id * 2654435761 + 40503) % $MaskStride"))
      .filter(col("n_tokens") >= col("off") + MaskSpanLen)
      .withColumn("k",
        explode(expr(s"sequence(0L, (n_tokens - $MaskSpanLen - off) div $MaskStride)")))
      .select(col("doc_id"),
        (col("off") + 1L + col("k") * MaskStride).as("span_start"),
        lit(MaskSpanLen).as("span_len"), col("n_tokens"))
      .orderBy("doc_id", "span_start")

  val c83Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    (doc_id * 2654435761 + 40503) % $MaskStride AS off
       |  FROM fdoc
       |)
       |SELECT doc_id, off + 1 + k * $MaskStride AS span_start,
       |  CAST($MaskSpanLen AS BIGINT) AS span_len, n_tokens
       |FROM d, UNNEST(range(0, (n_tokens - $MaskSpanLen - off) // $MaskStride + 1)) t(k)
       |WHERE n_tokens >= off + $MaskSpanLen
       |ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------- C86
  /** C86: contamination-n sensitivity sweep — C29's train/test n-gram
    * screen re-run at n ∈ [[ContamSweepNs]] over the same split and
    * hash family: contaminated train docs and distinct overlapping
    * (doc, gram) hits per n. The n is the decontamination pass's one
    * real knob (4-grams flag aggressively with false positives from
    * common phrases; GPT-3's 13-gram standard flags only long verbatim
    * overlap) and this is the table that picks it — the C85/C60
    * calibration idiom applied to decontamination. Each n's gram
    * explode is scan-stage; the test side reduces to a DISTINCT hash
    * set per n; the match is one hash equi-join per n; the three
    * bounded summaries union. The corpus is scanned once per n with no
    * cross-n shuffle — at 100 TB you run the sweep on a sample, then
    * the chosen n on everything.
    */
  val ContamSweepNs = Seq(4, 8, 13)

  /** [[gramHashes]] with the gram length as a parameter (same fold,
    * same family — n = [[ContamN]] reproduces it exactly).
    */
  def gramHashesN(toks: Column, n: Int): Column = rollingGramHashes(toks, n)

  def c86ContamSweep(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("split", splitCol)
      .withColumn("toks", tokens(col("text")))
    ContamSweepNs.map { n =>
      val g = base.filter(size(col("toks")) >= n)
        .select(col("doc_id"), col("split"),
          explode(gramHashesN(col("toks"), n)).as("gh"))
      val test = g.filter(col("split") === "test").select("gh").distinct()
      g.filter(col("split") === "train").join(test, "gh")
        .agg(countDistinct("doc_id").as("n_docs_hit"),
          countDistinct("doc_id", "gh").as("n_hits"))
        .select(lit(n.toLong).as("n"), col("n_docs_hit"), col("n_hits"))
    }.reduce(_.union(_)).orderBy("n")
  }

  val c86Sql: String = {
    def block(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS n,
         |  COUNT(DISTINCT g.doc_id) AS n_docs_hit,
         |  CAST(COUNT(DISTINCT (g.doc_id, g.gh)) AS BIGINT) AS n_hits
         |FROM (
         |  SELECT doc_id, split,
         |    UNNEST(list_transform(range(1, len(toks) - $n + 2),
         |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(list_slice(toks, i, i + $n - 1),
         |               w -> ${tokenHashSql("w")})),
         |           (acc, h) -> (acc * $FpB + h) % $FpM))) AS gh
         |  FROM d WHERE len(toks) >= $n
         |) g
         |JOIN (
         |  SELECT DISTINCT gh FROM (
         |    SELECT UNNEST(list_transform(range(1, len(toks) - $n + 2),
         |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(list_slice(toks, i, i + $n - 1),
         |               w -> ${tokenHashSql("w")})),
         |           (acc, h) -> (acc * $FpB + h) % $FpM))) AS gh
         |    FROM d WHERE split = 'test' AND len(toks) >= $n
         |  )
         |) t ON t.gh = g.gh
         |WHERE g.split = 'train'""".stripMargin
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN (doc_id * 2654435761 + 40503) % 100 < 80 THEN 'train'
       |         WHEN (doc_id * 2654435761 + 40503) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    string_split(text, ' ') AS toks
       |  FROM fdoc
       |)
       |${block(4)}
       |UNION ALL
       |${block(8)}
       |UNION ALL
       |${block(13)}
       |ORDER BY n""".stripMargin
  }

  // ---------------------------------------------------------------- C87
  /** C87: data-constrained epoch plan (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models": repeating data up to
    * ~4 epochs is nearly as good as fresh data, beyond that returns
    * decay fast) — turn C30's tempered mixing weights into the actual
    * sampling plan for a token budget of [[EpochBudgetFactor]]× the
    * corpus: per source the target token draw, the epoch count
    * (ceil(target/available), capped at [[MaxEpochs]]), the effective
    * tokens actually deliverable under the cap, and the deficit the
    * cap leaves unfilled. This is the table a data-loading config is
    * generated from — C30 says the proportions, this says the repeats.
    *
    * All exact integers: budget = factor × Σtokens, target =
    * budget·w div Σw, ceil via (a + b − 1) div b. Scale shape: C30's
    * frame is source-sized; two 1-row broadcasts (weight total, token
    * total); everything else scan-stage arithmetic.
    */
  val EpochBudgetFactor = 3L
  val MaxEpochs = 4L

  def c87EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val mix = c30DomainMix(spark, dir).select("source", "sum_tokens", "weight_micro")
    val totals = mix.agg(sum("weight_micro").as("w_tot"),
      sum("sum_tokens").as("tok_tot"))
    mix.crossJoin(broadcast(totals))
      // budget·weight reaches ~10²⁰ at a 100 TB corpus — past BIGINT —
      // so the product routes through DECIMAL(38,0) (C43/C47's rule)
      .withColumn("target_tokens",
        expr(s"(cast($EpochBudgetFactor as decimal(38,0)) * tok_tot * weight_micro) div w_tot"))
      // NULL-guarded div: a zero-token source (all-empty docs, fuzz
      // seed 8) has no epoch count — DuckDB's //0 is NULL, and BOTH
      // engines' least() skip the NULL, capping such a source at
      // MaxEpochs with 0 effective tokens
      .withColumn("epochs",
        least(expr("CASE WHEN sum_tokens = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE (target_tokens + sum_tokens - 1) div sum_tokens END"), lit(MaxEpochs)))
      .withColumn("effective_tokens", least(col("target_tokens"),
        col("sum_tokens") * MaxEpochs))
      .withColumn("deficit", col("target_tokens") - col("effective_tokens"))
      .select("source", "sum_tokens", "weight_micro", "target_tokens",
        "epochs", "effective_tokens", "deficit")
      .orderBy("source")
  }

  val c87Sql: String =
    s"""WITH s AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS sum_tokens
       |  FROM fdoc GROUP BY source
       |), m AS (SELECT MAX(sum_tokens) AS max_tokens FROM s),
       |mix AS (
       |  SELECT source, sum_tokens,
       |    CAST(floor(sqrt(CAST(sum_tokens AS DOUBLE)) * 1000000.0
       |      / sqrt(CAST(max_tokens AS DOUBLE))) AS BIGINT) AS weight_micro
       |  FROM s CROSS JOIN m
       |), t AS (
       |  SELECT CAST(SUM(weight_micro) AS BIGINT) AS w_tot,
       |    CAST(SUM(sum_tokens) AS BIGINT) AS tok_tot FROM mix
       |), p AS (
       |  SELECT source, sum_tokens, weight_micro,
       |    CAST(CAST($EpochBudgetFactor AS HUGEINT) * tok_tot * weight_micro
       |      // w_tot AS BIGINT) AS target_tokens
       |  FROM mix CROSS JOIN t
       |)
       |SELECT source, sum_tokens, weight_micro, target_tokens,
       |  least((target_tokens + sum_tokens - 1) // sum_tokens, $MaxEpochs) AS epochs,
       |  least(target_tokens, sum_tokens * $MaxEpochs) AS effective_tokens,
       |  target_tokens - least(target_tokens, sum_tokens * $MaxEpochs) AS deficit
       |FROM p ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- C88
  /** C88: BM25 retrieval (Robertson–Spärck Jones; k1 = 1.2, b = 0.75)
    * — top-[[Bm25TopK]] documents per query for a deterministic query
    * set: the retrieval operator a RAG / eval-harness pipeline runs
    * next to the ANN suite (C10's dense retrieval, this the lexical
    * side of the hybrid). Queries are derived from the corpus itself —
    * the [[Bm25Queries]]·[[Bm25TermsPerQuery]] RAREST tokens (df asc),
    * chunked 3-per-query — so both engines enumerate identical query
    * sets with no external input.
    *
    * Exactness: each (doc, term) contribution — idf ·
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with the BM25+ idf
    * ln(1+(N−df+.5)/(df+.5)) and dl/avgdl expanded to the exact
    * dl·N/Σdl — is ONE double expression quantized to nano BIGINT per
    * row before the per-(query, doc) sum (the c73/c76 rule), so
    * ranking and hashes agree cross-engine. Scale shape: corpus term
    * stats and doc lengths are map-side-combinable aggs; the query
    * terms are a ≤15-row broadcast, so candidate generation is one
    * token equi-join touching only docs containing a query term; the
    * rank window partitions per QUERY over that candidate set — at
    * 100 TB you'd cap candidates per term first (WAND-style), the
    * declared scale path.
    */
  val Bm25Queries = 5
  val Bm25TermsPerQuery = 3
  val Bm25TopK = 10

  /** Session+dir memo of the ranked BM25 top-K frame (≤ Bm25Queries ·
    * Bm25TopK rows) — C88 publishes it, C99's hybrid fusion reuses the
    * same build as its lexical run.
    */
  private val bm25Cache = new graft.util.Memo[(String, String), DataFrame]

  /** Session memo of the frozen BM25 index pieces — the query-term
    * table (the Bm25Queries·Bm25TermsPerQuery rarest tokens, df asc /
    * token asc, chunked into qids) plus (n_docs, sum_dl). One
    * derivation shared by the batch retrieval family (c88/c99/c109 via
    * [[bm25Ranked]]) and D26's frozen-index stream — before r18 the
    * stream key re-ran both corpus stat passes privately. The term
    * selection is orderBy+limit (TakeOrderedAndProject — never an
    * unpartitioned row_number over the corpus-scale vocabulary; the
    * r17-verdict d26 rule, now the ONE shared selection site).
    */
  private val bm25StatsCache =
    new graft.util.Memo[(String, String), (Seq[(String, Long, Long)], Long, Long)]

  private[graft] def bm25Stats(spark: SparkSession, dir: String)
      : (Seq[(String, Long, Long)], Long, Long) =
    bm25StatsCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val nTerms = Bm25Queries * Bm25TermsPerQuery
      val terms = toks.groupBy("token")
        .agg(count_distinct(col("doc_id")).as("df"))
        .orderBy(col("df").asc, col("token"))
        .limit(nTerms)
        .collect().zipWithIndex.map { case (r, i) =>
          (r.getString(0), r.getLong(1), i.toLong / Bm25TermsPerQuery)
        }.toSeq
      val dlStats = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        .agg(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("sum_dl"))
        .head()
      (terms, dlStats.getLong(0), dlStats.getLong(1))
    })

  private[text] def bm25Ranked(spark: SparkSession, dir: String): DataFrame =
    bm25Cache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val (termSeq, nDocs, sumDl) = bm25Stats(spark, dir)
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val terms = termSeq.toDF("token", "df", "qid")
      val tf = toks.join(broadcast(terms), "token")
        .groupBy("doc_id", "qid", "token", "df").agg(count(lit(1)).as("tf"))
      val contrib = tf.join(dl, "doc_id")
        .withColumn("contrib_nano", round(
          expr(s"ln(1.0 + (cast($nDocs as double) - df + 0.5) / (df + 0.5))") *
            (col("tf") * lit(2.2) / (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") * lit(nDocs) / lit(sumDl))))
            * lit(1e9), 0).cast("long"))
      val w = Window.partitionBy("qid").orderBy(col("score_nano").desc, col("doc_id"))
      contrib.groupBy("qid", "doc_id")
        .agg(sum("contrib_nano").as("score_nano"), count(lit(1)).as("n_terms_hit"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= Bm25TopK)
        .select("qid", "rnk", "doc_id", "score_nano", "n_terms_hit")
        .seal()
    })

  def c88Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Ranked(spark, dir).orderBy("qid", "rnk")

  /** The shared CTE prefix of the C88 and C99 oracles — corpus stats,
    * query-term derivation, BM25 contributions, and the ranked top-K.
    */
  private val bm25Ctes: String =
    s"""toks AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM fdoc
       |), stats AS (
       |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
       |), terms AS (
       |  SELECT token, df, (rn - 1) // $Bm25TermsPerQuery AS qid FROM (
       |    SELECT token, df, ROW_NUMBER() OVER (ORDER BY df ASC, token) AS rn FROM stats
       |  ) WHERE rn <= ${Bm25Queries * Bm25TermsPerQuery}
       |), dl AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
       |), tot AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
       |), tf AS (
       |  SELECT t.doc_id, q.qid, q.token, q.df, COUNT(*) AS tf
       |  FROM toks t JOIN terms q USING (token)
       |  GROUP BY t.doc_id, q.qid, q.token, q.df
       |), contrib AS (
       |  SELECT f.doc_id, f.qid,
       |    CAST(ROUND(
       |      ln(1.0 + (CAST(o.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5)) *
       |      (f.tf * 2.2 / (f.tf + 1.2 *
       |        (0.25 + 0.75 * d.dl * o.n_docs / o.sum_dl)))
       |      * 1e9) AS BIGINT) AS contrib_nano
       |  FROM tf f JOIN dl d USING (doc_id) CROSS JOIN tot o
       |), scored AS (
       |  SELECT qid, doc_id, CAST(SUM(contrib_nano) AS BIGINT) AS score_nano,
       |    COUNT(*) AS n_terms_hit
       |  FROM contrib GROUP BY qid, doc_id
       |), bm25r AS (
       |  SELECT qid, doc_id, score_nano, n_terms_hit,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score_nano DESC, doc_id) AS rnk
       |  FROM scored
       |)""".stripMargin

  val c88Sql: String =
    s"""WITH $bm25Ctes
       |SELECT qid, rnk, doc_id, score_nano, n_terms_hit
       |FROM bm25r WHERE rnk <= $Bm25TopK
       |ORDER BY qid, rnk""".stripMargin

  // --------------------------------------------------------------- C109
  /** C109: retrieval evaluation — NDCG@10 and MRR of the C88 BM25 run
    * against term-coverage relevance (rel(q,d) = how many of q's terms
    * d contains, 0–3; gain 2^rel−1, the graded-relevance convention of
    * Järvelin & Kekäläinen 2002): the evaluation layer every retrieval
    * stack runs before trusting its ranker — C88/C99 produce runs,
    * this scores them. Coverage is ranker-INDEPENDENT (it never reads
    * a BM25 score), so the metric can't leak the thing it judges; the
    * ideal ranking sorts coverage itself.
    *
    * Exactness: the only irrational inputs are the 10 log₂ discounts,
    * embedded as shared LITERAL constants in both engines' expressions
    * (computed once here, printed at full double precision — zero
    * cross-libm risk, unlike calling log2() in two runtimes); each
    * rank's discounted gain quantizes to nano BIGINT before the sum
    * (the c73 rule), and NDCG/MRR are integer micro ratios.
    *
    * Scale shape: coverage = one toks⋈terms broadcast join + a
    * (qid, doc) partial agg; ideal = per-qid top-10 window over docs
    * that hit ≥1 term (candidate-bounded); the run side is the K-row
    * memoized [[bm25Ranked]] frame. Nothing scans the corpus twice
    * beyond the coverage pass.
    */
  private val log2Cases: String = (2 to (Bm25TopK + 1)).map(i =>
    s"WHEN $i THEN ${math.log(i.toDouble) / math.log(2.0)}").mkString(" ")

  def c109RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    // r18: query terms from the shared bm25Stats memo (one derivation
    // for the whole retrieval family; see bm25Stats scaladoc)
    val termsDf = {
      import spark.implicits._
      bm25Stats(spark, dir)._1.toDF("token", "df", "qid")
    }
    val cov = toks.join(broadcast(termsDf), "token")
      .groupBy("qid", "doc_id").agg(count_distinct(col("token")).as("rel"))
    def gNano(rel: String, rank: String): Column = expr(
      s"""CAST(ROUND(CAST(shiftleft(1, CAST($rel AS INT)) - 1 AS DOUBLE)
         | / (CASE ($rank + 1) $log2Cases END) * 1e9) AS BIGINT)""".stripMargin)
    val wIdeal = Window.partitionBy("qid").orderBy(col("rel").desc, col("doc_id"))
    val ideal = cov.withColumn("pos", row_number().over(wIdeal))
      .filter(col("pos") <= Bm25TopK)
      .withColumn("g", gNano("rel", "pos"))
      .groupBy("qid").agg(sum("g").as("idcg_nano"))
    val dcg = bm25Ranked(spark, dir)
      .withColumn("g", gNano("n_terms_hit", "rnk"))
      .groupBy("qid").agg(sum("g").as("dcg_nano"),
        min(when(col("n_terms_hit") === Bm25TermsPerQuery, col("rnk"))).as("fr"))
    val nrel = cov.groupBy("qid").agg(count(lit(1)).as("n_rel_docs"))
    dcg.join(ideal, "qid").join(nrel, "qid")
      .select(col("qid"), col("n_rel_docs"), col("dcg_nano"), col("idcg_nano"),
        expr("(dcg_nano * 1000000) div idcg_nano").as("ndcg_micro"),
        coalesce(expr("1000000L div fr"), lit(0L)).as("mrr_micro"))
      .orderBy("qid")
  }

  lazy val c109Sql: String =
    s"""WITH $bm25Ctes,
       |cov AS (
       |  SELECT q.qid, t.doc_id, COUNT(DISTINCT t.token) AS rel
       |  FROM toks t JOIN terms q USING (token)
       |  GROUP BY q.qid, t.doc_id
       |), ideal AS (
       |  SELECT qid, CAST(SUM(CAST(ROUND(CAST((1 << rel) - 1 AS DOUBLE)
       |      / (CASE (pos + 1) $log2Cases END) * 1e9) AS BIGINT)) AS BIGINT)
       |    AS idcg_nano
       |  FROM (SELECT qid, rel,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS pos
       |    FROM cov)
       |  WHERE pos <= $Bm25TopK GROUP BY qid
       |), run AS (
       |  SELECT qid, rnk, n_terms_hit FROM bm25r WHERE rnk <= $Bm25TopK
       |), dcg AS (
       |  SELECT qid,
       |    CAST(SUM(CAST(ROUND(CAST((1 << n_terms_hit) - 1 AS DOUBLE)
       |      / (CASE (rnk + 1) $log2Cases END) * 1e9) AS BIGINT)) AS BIGINT)
       |      AS dcg_nano,
       |    MIN(CASE WHEN n_terms_hit = $Bm25TermsPerQuery THEN rnk END) AS fr
       |  FROM run GROUP BY qid
       |), nrel AS (SELECT qid, COUNT(*) AS n_rel_docs FROM cov GROUP BY qid)
       |SELECT d.qid, n.n_rel_docs, d.dcg_nano, i.idcg_nano,
       |  (d.dcg_nano * 1000000) // i.idcg_nano AS ndcg_micro,
       |  COALESCE(1000000 // d.fr, 0) AS mrr_micro
       |FROM dcg d JOIN ideal i USING (qid) JOIN nrel n USING (qid)
       |ORDER BY d.qid""".stripMargin

  // ---------------------------------------------------------------- C99
  /** C99: hybrid-retrieval reciprocal-rank fusion (Cormack, Clarke &
    * Büttcher 2009: RRF(d) = Σ_runs 1/(k + rank_run(d)), k = 60) —
    * the standard way a RAG pipeline combines a lexical run and a
    * second scorer without calibrating their incomparable score scales.
    * Run A is C88's BM25 top-K ([[bm25Ranked]], one shared build); run
    * B ranks the same query sets by TF-IDF COSINE (weight tf·ln(N/df),
    * document norm over the FULL weight vector — a genuinely different
    * ranker: cosine's length normalization penalizes long documents
    * where BM25's saturating tf does not).
    *
    * Exactness: run B's norm accumulations are quantized-to-nano BIGINT
    * sums (double sum order never matters); each (q, term, doc)
    * contribution is then ONE double expression of integer inputs
    * rounded to nano (the c73/c76 rule); RRF points are exact integers
    * 1e6 div (60 + rank). Ranks are row_number over (score desc,
    * doc_id) — fully deterministic both engines.
    *
    * Scale shape: run B adds one (doc, token) tf aggregate (map-side
    * combinable) and a doc-keyed norm agg — same shuffle class as the
    * BM25 stats it shares; candidates stay bounded by the ≤15-term
    * broadcast; the fusion is a full-outer join of two ≤(queries·K)-row
    * frames — driver-trivial at any corpus size.
    */
  val RrfK = 60L

  /** Session+dir memo of the full-outer (BM25 rank, TF-IDF rank) frame
    * (≤ 2·Q·K rows) — C99's fusion input and C121's rank-correlation
    * input share one build of run B.
    */
  private val rrfJoinCache = new graft.util.Memo[(String, String), DataFrame]

  private[text] def rrfJoined(spark: SparkSession, dir: String): DataFrame =
    rrfJoinCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      val (a, b) = retrievalRuns(spark, dir)
      a.join(b, Seq("qid", "doc_id"), "full_outer").seal()
    })

  private def retrievalRuns(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val stats = toks.groupBy("token")
      .agg(count_distinct(col("doc_id")).as("df"))
    // r18: query terms from the shared bm25Stats memo — stats stays
    // (run B's tf-idf weights need the FULL-vocabulary df), but the
    // term selection no longer re-runs its own window over it
    val terms = {
      import spark.implicits._
      bm25Stats(spark, dir)._1.toDF("token", "df", "qid")
    }
    val totals = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // per-(doc, term) squared weight, quantized BEFORE the norm sum
    val w2 = tf.join(stats, "token").crossJoin(broadcast(totals))
      .withColumn("w2_nano", round(
        expr("""(tf * ln(cast(n_docs as double) / df))
               | * (tf * ln(cast(n_docs as double) / df))""".stripMargin) * lit(1e9), 0)
        .cast("long"))
    val norm2 = w2.groupBy("doc_id").agg(sum("w2_nano").as("norm2_nano"))
    val qnorm2 = terms.crossJoin(broadcast(totals))
      .withColumn("i2_nano", round(
        expr("ln(cast(n_docs as double) / df) * ln(cast(n_docs as double) / df)") * lit(1e9), 0).cast("long"))
      .groupBy("qid").agg(sum("i2_nano").as("qnorm2_nano"))
    val contrib = tf.join(broadcast(terms), "token").crossJoin(broadcast(totals))
      .join(norm2, "doc_id").join(broadcast(qnorm2), "qid")
      .withColumn("contrib_nano", round(
        // try_divide: an all-zero-weight doc (every query term in every
        // doc, e.g. a single-doc corpus where ln(N/df)=0 — fuzz seed 0)
        // has norm 0 and an UNDEFINED cosine — NULL on both engines
        expr("""try_divide(
               |   tf * ln(cast(n_docs as double) / df) * ln(cast(n_docs as double) / df),
               |   sqrt(cast(norm2_nano as double) / 1e9)
               |     * sqrt(cast(qnorm2_nano as double) / 1e9))""".stripMargin)
          * lit(1e9), 0).cast("long"))
    val w = Window.partitionBy("qid").orderBy(col("score_nano").desc, col("doc_id"))
    val tfidfR = contrib.groupBy("qid", "doc_id")
      .agg(sum("contrib_nano").as("score_nano"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= Bm25TopK)
    val a = bm25Ranked(spark, dir).select(col("qid"), col("doc_id"),
      col("rnk").as("rnk_bm25"))
    val b = tfidfR.select(col("qid"), col("doc_id"), col("rnk").as("rnk_tfidf"))
    (a, b)
  }

  def c99RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fw = Window.partitionBy("qid").orderBy(col("rrf_micro").desc, col("doc_id"))
    rrfJoined(spark, dir)
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 div ($RrfK + rnk_bm25)"), lit(0L))
          + coalesce(expr(s"1000000 div ($RrfK + rnk_tfidf)"), lit(0L)))
      .withColumn("rnk", row_number().over(fw))
      .filter(col("rnk") <= Bm25TopK)
      .select(col("qid"), col("rnk"), col("doc_id"), col("rrf_micro"),
        coalesce(col("rnk_bm25"), lit(0L)).as("rnk_bm25"),
        coalesce(col("rnk_tfidf"), lit(0L)).as("rnk_tfidf"))
      .orderBy("qid", "rnk")
  }

  /** The C99/C121-shared oracle chain: both retrieval runs, joined —
    * ends with `fused` (COALESCE'd 0 ranks mark run-miss docs).
    */
  private val rrfCtes: String =
    s"""$bm25Ctes,
       |atf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
       |), w2 AS (
       |  SELECT f.doc_id,
       |    CAST(ROUND((f.tf * ln(CAST(o.n_docs AS DOUBLE) / s.df))
       |      * (f.tf * ln(CAST(o.n_docs AS DOUBLE) / s.df)) * 1e9)
       |      AS BIGINT) AS w2_nano
       |  FROM atf f JOIN stats s USING (token) CROSS JOIN tot o
       |), norm2 AS (
       |  SELECT doc_id, CAST(SUM(w2_nano) AS BIGINT) AS norm2_nano
       |  FROM w2 GROUP BY doc_id
       |), qn2 AS (
       |  SELECT qid, CAST(SUM(CAST(ROUND(
       |      ln(CAST(o.n_docs AS DOUBLE) / q.df) * ln(CAST(o.n_docs AS DOUBLE) / q.df) * 1e9) AS BIGINT))
       |    AS BIGINT) AS qnorm2_nano
       |  FROM terms q CROSS JOIN tot o GROUP BY qid
       |), tcontrib AS (
       |  SELECT f.doc_id, q.qid,
       |    CAST(ROUND(
       |      (f.tf * ln(CAST(o.n_docs AS DOUBLE) / q.df) * ln(CAST(o.n_docs AS DOUBLE) / q.df))
       |      / (sqrt(CAST(n.norm2_nano AS DOUBLE) / 1e9)
       |         * sqrt(CAST(z.qnorm2_nano AS DOUBLE) / 1e9)) * 1e9) AS BIGINT)
       |      AS contrib_nano
       |  FROM atf f JOIN terms q USING (token) CROSS JOIN tot o
       |  JOIN norm2 n ON n.doc_id = f.doc_id
       |  JOIN qn2 z ON z.qid = q.qid
       |), tscored AS (
       |  SELECT qid, doc_id, CAST(SUM(contrib_nano) AS BIGINT) AS score_nano
       |  FROM tcontrib GROUP BY qid, doc_id
       |), tfidfr AS (
       |  SELECT qid, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score_nano DESC, doc_id) AS rnk
       |  FROM tscored
       |), runa AS (SELECT qid, doc_id, rnk FROM bm25r WHERE rnk <= $Bm25TopK),
       |runb AS (SELECT qid, doc_id, rnk FROM tfidfr WHERE rnk <= $Bm25TopK),
       |fused AS (
       |  SELECT COALESCE(a.qid, b.qid) AS qid,
       |    COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |    COALESCE(1000000 // ($RrfK + a.rnk), 0)
       |      + COALESCE(1000000 // ($RrfK + b.rnk), 0) AS rrf_micro,
       |    COALESCE(a.rnk, 0) AS rnk_bm25, COALESCE(b.rnk, 0) AS rnk_tfidf
       |  FROM runa a FULL JOIN runb b
       |    ON b.qid = a.qid AND b.doc_id = a.doc_id
       |)""".stripMargin

  val c99Sql: String =
    s"""WITH $rrfCtes
       |SELECT qid, rnk, doc_id, rrf_micro, rnk_bm25, rnk_tfidf FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY rrf_micro DESC, doc_id) AS rnk
       |  FROM fused
       |) WHERE rnk <= $Bm25TopK
       |ORDER BY qid, rnk""".stripMargin

  // --------------------------------------------------------------- C121
  /** C121: inter-ranker rank correlation — Kendall's τ (tau-a; Kendall
    * 1938) between the BM25 and TF-IDF-cosine rankings on each query's
    * COMMON retrieved docs: the "do my rankers actually disagree, and
    * how much" number read next to C99's fusion (RRF only helps when τ
    * is well below 1 — near-identical runs fuse to nothing new) and
    * C109's effectiveness eval. Ranks are row_numbers (tie-free by
    * construction) so tau-a needs no tie correction; concordant /
    * discordant counts are exact integers over the ≤K² per-query pair
    * table (C88's top-K contract makes the self-join K-bounded per
    * query — never corpus-sized), and τ_micro = (C−D)·1e6 div
    * (n(n−1)/2) with BOTH engines truncating toward zero on the signed
    * numerator (the C94 rule). Queries with <2 common docs report τ=0
    * with n_pairs=0. Corpus work = the shared memoized [[rrfJoined]]
    * build; everything after is driver-trivial.
    */
  def c121RankCorr(spark: SparkSession, dir: String): DataFrame = {
    val common = rrfJoined(spark, dir)
      .filter(col("rnk_bm25").isNotNull && col("rnk_tfidf").isNotNull)
      .select("qid", "doc_id", "rnk_bm25", "rnk_tfidf")
    val pairs = common.as("a")
      .join(common.as("b"),
        col("a.qid") === col("b.qid") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.qid").as("qid"))
      .agg(
        sum(when((col("a.rnk_bm25") - col("b.rnk_bm25")) *
          (col("a.rnk_tfidf") - col("b.rnk_tfidf")) > 0, 1L).otherwise(0L))
          .as("concordant"),
        sum(when((col("a.rnk_bm25") - col("b.rnk_bm25")) *
          (col("a.rnk_tfidf") - col("b.rnk_tfidf")) < 0, 1L).otherwise(0L))
          .as("discordant"))
    common.groupBy("qid").agg(count(lit(1)).as("n_common"))
      .join(pairs, Seq("qid"), "left")
      .select(col("qid"), col("n_common"),
        expr("(n_common * (n_common - 1)) div 2").as("n_pairs"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        when(col("n_common") >= 2L,
          expr("((concordant - discordant) * 1000000) div ((n_common * (n_common - 1)) div 2)"))
          .otherwise(lit(0L)).as("tau_micro"))
      .orderBy("qid")
  }

  val c121Sql: String =
    s"""WITH $rrfCtes,
       |common AS (
       |  SELECT qid, doc_id, rnk_bm25, rnk_tfidf FROM fused
       |  WHERE rnk_bm25 > 0 AND rnk_tfidf > 0
       |), pairs AS (
       |  SELECT a.qid,
       |    CAST(SUM(CASE WHEN (a.rnk_bm25 - b.rnk_bm25)
       |        * (a.rnk_tfidf - b.rnk_tfidf) > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS concordant,
       |    CAST(SUM(CASE WHEN (a.rnk_bm25 - b.rnk_bm25)
       |        * (a.rnk_tfidf - b.rnk_tfidf) < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS discordant
       |  FROM common a JOIN common b
       |    ON b.qid = a.qid AND b.doc_id > a.doc_id
       |  GROUP BY a.qid
       |), nc AS (
       |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_common FROM common GROUP BY qid
       |)
       |SELECT nc.qid, nc.n_common,
       |  (nc.n_common * (nc.n_common - 1)) // 2 AS n_pairs,
       |  COALESCE(p.concordant, 0) AS concordant,
       |  COALESCE(p.discordant, 0) AS discordant,
       |  CASE WHEN nc.n_common >= 2
       |    THEN ((p.concordant - p.discordant) * 1000000)
       |      // ((nc.n_common * (nc.n_common - 1)) // 2)
       |    ELSE 0 END AS tau_micro
       |FROM nc LEFT JOIN pairs p USING (qid)
       |ORDER BY nc.qid""".stripMargin

  // ---------------------------------------------------------------- C89
  /** C89: windowed co-occurrence PMI — pointwise mutual information
    * over a ±[[PmiWindow]]-token window (the PPMI/GloVe input matrix;
    * Church & Hanks 1990): which token pairs co-occur more than their
    * frequencies predict. C24's bigram LM sees only adjacent ORDERED
    * pairs; this is the unordered windowed association that collocation
    * detection and classical embedding pipelines start from.
    * pmi = ln(p(a,b)/(p(a)·p(b))) with pair mass over forward-window
    * slots and unigram mass over tokens — ONE double expression
    * quantized to nano per pair row (the c73/c76 rule).
    *
    * Scale shape: positions explode once; the window pairing is a
    * bounded ×[[PmiWindow]] offset explode + ONE (doc, position) hash
    * equi-join (never a θ-join on position distance); pair counts are
    * a map-side-combinable agg onto the VOCAB² key space; unigram and
    * total frames are vocab-sized/1-row broadcasts.
    */
  val PmiWindow = 2
  val PmiMinPair = 5L

  def c89PmiPairs(spark: SparkSession, dir: String): DataFrame = {
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "w")))
    val uni = pos.groupBy("w").agg(count(lit(1)).as("n_w"))
    val nTok = pos.agg(count(lit(1)).as("n_tok"))
    val pairs = pos
      .withColumn("j", explode(array((1 to PmiWindow).map(d => col("i") + d): _*)))
      .select(col("doc_id"), col("j"), col("w").as("wa"))
      .join(pos.select(col("doc_id"), col("i").as("j"), col("w").as("wb")),
        Seq("doc_id", "j"))
      .select(least(col("wa"), col("wb")).as("w1"),
        greatest(col("wa"), col("wb")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val nPair = pairs.agg(sum("n_pair").as("np_tot"))
    pairs.filter(col("n_pair") >= PmiMinPair)
      .join(broadcast(uni.select(col("w").as("w1"), col("n_w").as("n_a"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("n_w").as("n_b"))), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .withColumn("pmi_nano", round(
        expr("ln((cast(n_pair as double) * n_tok * n_tok) / ((cast(np_tot as double) * n_a) * n_b))")
          * lit(1e9), 0).cast("long"))
      .select("w1", "w2", "n_pair", "n_a", "n_b", "pmi_nano")
      .orderBy("w1", "w2")
  }

  val c89Sql: String =
    s"""WITH pos AS (
       |  SELECT doc_id, i - 1 AS i, w FROM (
       |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
       |      generate_subscripts(string_split(text, ' '), 1) AS i
       |    FROM fdoc
       |  )
       |), uni AS (SELECT w, COUNT(*) AS n_w FROM pos GROUP BY w),
       |tot AS (SELECT COUNT(*) AS n_tok FROM pos),
       |pairs AS (
       |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2, COUNT(*) AS n_pair
       |  FROM pos a, UNNEST(range(1, ${PmiWindow + 1})) t(d)
       |  JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + d
       |  GROUP BY least(a.w, b.w), greatest(a.w, b.w)
       |), np AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS np_tot FROM pairs)
       |SELECT p.w1, p.w2, p.n_pair, ua.n_w AS n_a, ub.n_w AS n_b,
       |  CAST(ROUND(ln((CAST(p.n_pair AS DOUBLE) * t.n_tok * t.n_tok)
       |    / ((CAST(np.np_tot AS DOUBLE) * ua.n_w) * ub.n_w)) * 1e9) AS BIGINT) AS pmi_nano
       |FROM pairs p
       |JOIN uni ua ON ua.w = p.w1
       |JOIN uni ub ON ub.w = p.w2
       |CROSS JOIN tot t CROSS JOIN np
       |WHERE p.n_pair >= $PmiMinPair
       |ORDER BY p.w1, p.w2""".stripMargin

  // ---------------------------------------------------------------- C90
  /** C90: context-length packing sweep — C27's concat-and-chunk packing
    * evaluated at context lengths [[PackSweepLens]] without
    * re-packing: sequences needed, fill ratio, and the fraction of
    * documents SPLIT across a sequence boundary (the attention-mask /
    * document-leakage cost of packing) per candidate L. The
    * context-length decision trades fill (long L packs tighter) against
    * split damage (long docs still split; short L splits more) — this
    * is the table that decision reads, the C85/C86 sweep idiom applied
    * to packing. The per-source cumulative frame is computed ONCE (the
    * same window C27 uses, input bounded per source); each L is then
    * pure scan-stage arithmetic on it: a doc splits iff its start and
    * end land in different L-chunks, and sequences per source =
    * ceil(source mass / L) — all exact integers.
    */
  val PackSweepLens = Seq(512L, 1024L, 2048L)

  def c90PackSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .seal()
    PackSweepLens.map { l =>
      val perDoc = cum.agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"),
        sum(when(col("n_tok") > 0L &&
          expr(s"(cum - n_tok) div $l") =!= expr(s"(cum - 1) div $l"), 1L)
          .otherwise(0L)).as("n_split_docs"))
      val seqs = cum.groupBy("source").agg(max("cum").as("tot"))
        .agg(sum(expr(s"(tot + $l - 1) div $l")).as("n_seqs"))
      perDoc.crossJoin(broadcast(seqs))
        .select(lit(l).as("ctx_len"), col("n_seqs"), col("n_split_docs"),
          col("total_tokens"),
          expr(s"total_tokens * 1000000 div (n_seqs * $l)").as("fill_ppm"),
          expr("n_split_docs * 1000000 div n_docs").as("split_ppm"))
    }.reduce(_.union(_)).orderBy("ctx_len")
  }

  val c90Sql: String = {
    def block(l: Long): String =
      s"""SELECT CAST($l AS BIGINT) AS ctx_len,
         |  (SELECT CAST(SUM((tot + $l - 1) // $l) AS BIGINT) FROM src_tot) AS n_seqs,
         |  CAST(SUM(CASE WHEN n_tok > 0 AND (cum - n_tok) // $l <> (cum - 1) // $l
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_tok) AS BIGINT) * 1000000
         |    // ((SELECT CAST(SUM((tot + $l - 1) // $l) AS BIGINT) FROM src_tot) * $l)
         |    AS fill_ppm,
         |  CAST(SUM(CASE WHEN n_tok > 0 AND (cum - n_tok) // $l <> (cum - 1) // $l
         |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS split_ppm
         |FROM c""".stripMargin
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
       |  FROM fdoc
       |), c AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t
       |), src_tot AS (
       |  SELECT source, MAX(cum) AS tot FROM c GROUP BY source
       |)
       |${block(512L)}
       |UNION ALL
       |${block(1024L)}
       |UNION ALL
       |${block(2048L)}
       |ORDER BY ctx_len""".stripMargin
  }

  // ---------------------------------------------------------------- C91
  /** C91: DSIR importance-resampling DRAW — turn C43's importance
    * weights into the actual kept set: document d is kept iff its
    * deterministic draw (the C23 hash family, mod [[DsirDrawMod]])
    * falls under its weight, i.e. keep probability =
    * min(1, dsir_micro / 2·10⁶) — Xie et al.'s Gumbel-top-k replaced
    * by the hash-threshold systematic draw every reproducible pipeline
    * uses in place of RNG (the C23/C83 convention). Emits the per-doc
    * audit row (weight, draw, keep) — the sampled corpus is one filter
    * away — plus the realized acceptance in ppm per source so the
    * sampling skew C43 intends is visible per domain. Composes C43's
    * frame with scan-stage arithmetic only; the per-source summary is
    * one source-keyed partial agg.
    */
  val DsirDrawMod = 2000000L

  def c91DsirDraw(spark: SparkSession, dir: String): DataFrame = {
    val weights = c43DsirWeights(spark, dir).select("doc_id", "dsir_micro")
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    weights.join(src, "doc_id")
      .withColumn("draw", expr(s"(doc_id * 2654435761 + 40503) % $DsirDrawMod"))
      .withColumn("keep", col("draw") < col("dsir_micro"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum("dsir_micro").as("sum_weight_micro"))
      .withColumn("accept_ppm", expr("n_kept * 1000000 div n_docs"))
      // naive expectation (cap at probability 1 ignored) — the gap
      // between expect_nocap_ppm and accept_ppm measures how much
      // weight mass sits above the cap
      .withColumn("expect_nocap_ppm",
        expr(s"sum_weight_micro div (n_docs * ${DsirDrawMod / 1000000L})"))
      .orderBy("source")
  }

  val c91Sql: String =
    s"""WITH w AS (
       |${c43Sql.stripSuffix("ORDER BY doc_id").trim}
       |), s AS (SELECT doc_id, source FROM fdoc),
       |d AS (
       |  SELECT w.doc_id, s.source, w.dsir_micro,
       |    (w.doc_id * 2654435761 + 40503) % $DsirDrawMod AS draw
       |  FROM w JOIN s USING (doc_id)
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN draw < dsir_micro THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(dsir_micro) AS BIGINT) AS sum_weight_micro,
       |  CAST(SUM(CASE WHEN draw < dsir_micro THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000000 // COUNT(*) AS accept_ppm,
       |  CAST(SUM(dsir_micro) AS BIGINT) // (COUNT(*) * ${DsirDrawMod / 1000000L})
       |    AS expect_nocap_ppm
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- C92
  /** C92: Heaps-law vocabulary growth (Heaps 1978) — distinct types vs
    * cumulative tokens at power-of-2 document checkpoints, with the
    * log-log regression exponent β (natural text: β ≈ 0.4-0.6): the
    * companion corpus law to C71's Zipf fit and the forward-projection
    * C75's unseen-mass estimate answers pointwise — "how much NEW
    * vocabulary will the next 10× of crawl bring" is read off this
    * curve. Uses C5's hashed token space (the gram family every screen
    * shares).
    *
    * Scale shape: NO corpus-ordered window (the naive cumulative would
    * single-task-sort the doc frame): per-doc token counts and
    * per-type FIRST document (b34's first-appearance attribution) are
    * two map-side-combinable aggs; each joins the ≤40-row broadcast
    * checkpoint frame with a bounded ≤-inequality fan-out and
    * re-aggregates per checkpoint — O(rows·checkpoints), one shuffle
    * each, at any corpus size. The regression reuses C71's exact
    * kernel: lns quantize to micro per checkpoint row, integer sums
    * route through DECIMAL(38,0), slope/r2 are final double divisions
    * rounded to 6dp, broadcast onto every checkpoint row (c73's
    * pattern).
    */
  def c92HeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), tokenHash(col("w")).as("th"))
    val maxDoc = Tables.documents(spark, dir).agg(max("doc_id")).head.getLong(0)
    val cps = (0 to 40).map(k => 1L << k).filter(_ <= maxDoc).toSeq :+ (maxDoc + 1L)
    import spark.implicits._
    val cpDf = cps.distinct.sorted.toDF("cp")
    val perDoc = docs.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val firstDoc = docs.groupBy("th").agg(min("doc_id").as("fd"))
    val cumTok = perDoc.crossJoin(broadcast(cpDf)).filter(col("doc_id") < col("cp"))
      .groupBy("cp").agg(sum("n_tok").as("cum_tokens"))
    val cumTyp = firstDoc.crossJoin(broadcast(cpDf)).filter(col("fd") < col("cp"))
      .groupBy("cp").agg(count(lit(1)).as("cum_types"))
    val pts = cumTok.join(cumTyp, "cp")
      .select(col("cp"), col("cum_tokens"), col("cum_types"),
        round(log(col("cum_tokens").cast("double")) * 1e6, 0).cast("long").as("x"),
        round(log(col("cum_types").cast("double")) * 1e6, 0).cast("long").as("y"))
    val sums = pts.agg(count(lit(1)).as("k"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    val fit = sums.select(
        expr("cast(k as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy").as("cov"),
        expr("cast(k as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx").as("varx"),
        expr("cast(k as decimal(38,0)) * syy - cast(sy as decimal(38,0)) * sy").as("vary"))
      // try_divide: a single checkpoint (k=1 ⇒ varx=0, fuzz seed 0)
      // fits no slope — NULL on both engines, never an ANSI throw
      .select(round(try_divide(col("cov").cast("double"), col("varx").cast("double")), 6).as("beta"),
        round(try_divide(col("cov").cast("double") * col("cov").cast("double"),
          col("varx").cast("double") * col("vary").cast("double")), 6).as("r2"))
    pts.select("cp", "cum_tokens", "cum_types").crossJoin(broadcast(fit))
      .orderBy("cp")
  }

  val c92Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, ${tokenHashSql("w")} AS th
       |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM fdoc)
       |), cps AS (
       |  SELECT DISTINCT cp FROM (
       |    SELECT power(2, k)::BIGINT AS cp FROM range(0, 41) t(k)
       |    WHERE power(2, k)::BIGINT <= (SELECT MAX(doc_id) FROM fdoc)
       |    UNION ALL SELECT MAX(doc_id) + 1 FROM fdoc
       |  )
       |), per_doc AS (SELECT doc_id, COUNT(*) AS n_tok FROM d GROUP BY doc_id),
       |first_doc AS (SELECT th, MIN(doc_id) AS fd FROM d GROUP BY th),
       |cum_tok AS (
       |  SELECT c.cp, CAST(SUM(p.n_tok) AS BIGINT) AS cum_tokens
       |  FROM per_doc p CROSS JOIN cps c WHERE p.doc_id < c.cp GROUP BY c.cp
       |), cum_typ AS (
       |  SELECT c.cp, COUNT(*) AS cum_types
       |  FROM first_doc f CROSS JOIN cps c WHERE f.fd < c.cp GROUP BY c.cp
       |), pts AS (
       |  SELECT t.cp, t.cum_tokens, y.cum_types,
       |    CAST(ROUND(ln(t.cum_tokens) * 1e6) AS BIGINT) AS x,
       |    CAST(ROUND(ln(y.cum_types) * 1e6) AS BIGINT) AS y
       |  FROM cum_tok t JOIN cum_typ y USING (cp)
       |), sums AS (
       |  SELECT COUNT(*) AS k,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y AS HUGEINT) * y) AS syy
       |  FROM pts
       |), fit AS (
       |  SELECT round(CAST(CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
       |      / CAST(CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6) AS beta,
       |    round(CAST(CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
       |        * CAST(CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
       |      / (CAST(CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
       |        * CAST(CAST(k AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 6) AS r2
       |  FROM sums
       |)
       |SELECT p.cp, p.cum_tokens, p.cum_types, f.beta, f.r2
       |FROM pts p CROSS JOIN fit f
       |ORDER BY p.cp""".stripMargin

  // ---------------------------------------------------------------- C94
  /** C94: gate-vs-classifier agreement — the C36 rule gate and the C52
    * hashed linear classifier cross-tabulated over the whole corpus
    * with Cohen's kappa: the report a team reads before swapping rules
    * for a model (raw agreement is inflated when both mostly keep;
    * kappa corrects for chance). All exact integers: the 2×2 cell
    * counts are conditional sums, po/pe/kappa are rational in the cell
    * counts — kappa = ((a+d)·n − pe_num)/(n² − pe_num) with
    * pe_num = gk·ck + gd·cd — and the n² products route through
    * DECIMAL(38,0)/HUGEINT (C43/C47's rule: past BIGINT at ~10¹⁰
    * docs). One doc-keyed join of two scan-stage frames, one global
    * agg, one output row.
    */
  def c94GateAgreement(spark: SparkSession, dir: String): DataFrame = {
    val gate = c36QualityGate(spark, dir)
      .select(col("doc_id"), col("keep").cast("long").as("gk"))
    val cls = c52HashClassifier(spark, dir).select(col("doc_id"), col("keep").as("ck"))
    gate.join(cls, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("gk * ck")).as("both_keep"),
        sum(expr("gk * (1 - ck)")).as("gate_only"),
        sum(expr("(1 - gk) * ck")).as("cls_only"),
        sum(expr("(1 - gk) * (1 - ck)")).as("both_drop"))
      .select(col("n_docs"), col("both_keep"), col("gate_only"),
        col("cls_only"), col("both_drop"),
        expr("(both_keep + both_drop) * 1000000 div n_docs").as("po_ppm"),
        expr("""(cast(both_keep + gate_only as decimal(38,0)) * (both_keep + cls_only)
              + cast(cls_only + both_drop as decimal(38,0)) * (gate_only + both_drop))
              * 1000000 div (cast(n_docs as decimal(38,0)) * n_docs)""").as("pe_ppm"),
        expr("""(cast(both_keep + both_drop as decimal(38,0)) * n_docs
              - (cast(both_keep + gate_only as decimal(38,0)) * (both_keep + cls_only)
                + cast(cls_only + both_drop as decimal(38,0)) * (gate_only + both_drop)))
              * 1000000
              div (cast(n_docs as decimal(38,0)) * n_docs
                - (cast(both_keep + gate_only as decimal(38,0)) * (both_keep + cls_only)
                  + cast(cls_only + both_drop as decimal(38,0)) * (gate_only + both_drop)))""")
          .as("kappa_ppm"))
  }

  val c94Sql: String = {
    val gateBody = c36Sql.stripSuffix("ORDER BY doc_id").trim
    val clsBody = c52Sql.stripSuffix("ORDER BY doc_id").trim
    s"""WITH gate AS (
       |$gateBody
       |), cls AS (
       |$clsBody
       |), j AS (
       |  SELECT CAST(g.keep AS BIGINT) AS gk, c.keep AS ck
       |  FROM gate g JOIN cls c USING (doc_id)
       |), cells AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(gk * ck) AS BIGINT) AS both_keep,
       |    CAST(SUM(gk * (1 - ck)) AS BIGINT) AS gate_only,
       |    CAST(SUM((1 - gk) * ck) AS BIGINT) AS cls_only,
       |    CAST(SUM((1 - gk) * (1 - ck)) AS BIGINT) AS both_drop
       |  FROM j
       |)
       |SELECT n_docs, both_keep, gate_only, cls_only, both_drop,
       |  (both_keep + both_drop) * 1000000 // n_docs AS po_ppm,
       |  CAST((CAST(both_keep + gate_only AS HUGEINT) * (both_keep + cls_only)
       |      + CAST(cls_only + both_drop AS HUGEINT) * (gate_only + both_drop))
       |    * 1000000 // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS pe_ppm,
       |  CAST((CAST(both_keep + both_drop AS HUGEINT) * n_docs
       |      - (CAST(both_keep + gate_only AS HUGEINT) * (both_keep + cls_only)
       |        + CAST(cls_only + both_drop AS HUGEINT) * (gate_only + both_drop)))
       |    * 1000000
       |    // (CAST(n_docs AS HUGEINT) * n_docs
       |      - (CAST(both_keep + gate_only AS HUGEINT) * (both_keep + cls_only)
       |        + CAST(cls_only + both_drop AS HUGEINT) * (gate_only + both_drop)))
       |    AS BIGINT) AS kappa_ppm
       |FROM cells""".stripMargin
  }

  // ---------------------------------------------------------------- C97
  /** C97: blocklist tagging in one pass — the C4-badwords/RefinedWeb
    * keyword-filter shape: derive a [[BlocklistK]]-term list (most
    * document-frequent tokens of length ≥ 4 — deterministic stand-in
    * for a curated list; the d26 frozen-index contract), then tag every
    * document with the BITMASK of list terms present as raw substrings.
    * The scan uses the native [[graft.functions.MultiContains]]
    * Aho-Corasick expression: ONE automaton pass per document —
    * O(|doc| + matches) whatever K grows to — where the naive form is K
    * independent `contains` scans (O(K·|doc|), K codegen loops; a
    * production blocklist is thousands of terms, so the automaton is
    * the only viable 100 TB shape). The mask pins WHICH terms matched,
    * `bit_count` gives the per-doc hit count; matching is raw
    * case-sensitive substring = DuckDB `strpos > 0`, the oracle twin.
    */
  val BlocklistK = 24

  /** The C97 blocklist derivation (the [[BlocklistK]] most
    * document-frequent ≥4-char tokens, df desc / token asc) — r19:
    * orderBy+limit (TakeOrderedAndProject) instead of a row_number
    * window with NO partition key — the window form sorts the full
    * ≥4-char token vocabulary on ONE task at corpus scale (the exact
    * pattern r18 removed from the BM25 family; bm25Stats is the shared
    * idiom). The (df desc, token) tie order is total, so the selected
    * K terms — and their collect() order, which fixes the bitmask
    * positions — are identical to the window form's rn order.
    * Exposed so PlanContractSpec can pin the TakeOrderedAndProject
    * shape (the derivation is eager inside [[c97Blocklist]]).
    */
  private[graft] def blocklistTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) >= 4)
      .groupBy("token").agg(count_distinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(BlocklistK)

  def c97Blocklist(spark: SparkSession, dir: String): DataFrame = {
    val kws = blocklistTerms(spark, dir)
      .collect().map(_.getString(0)).toSeq
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.multisearch.multi_contains(col("text"), kws).as("kw_mask"))
      .withColumn("n_kw", expr("bit_count(kw_mask)").cast("long"))
      .orderBy("doc_id")
  }

  val c97Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM fdoc
       |), dfreq AS (
       |  SELECT token, COUNT(DISTINCT doc_id) AS df
       |  FROM toks WHERE length(token) >= 4 GROUP BY token
       |), kw AS (
       |  SELECT token, rn FROM (
       |    SELECT token, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rn FROM dfreq
       |  ) WHERE rn <= $BlocklistK
       |)
       |SELECT d.doc_id,
       |  CAST(SUM(CASE WHEN d.text IS NULL THEN NULL
       |           WHEN strpos(d.text, k.token) > 0
       |           THEN (CAST(1 AS BIGINT) << (k.rn - 1)) ELSE 0 END) AS BIGINT) AS kw_mask,
       |  CAST(SUM(CASE WHEN d.text IS NULL THEN NULL
       |           WHEN strpos(d.text, k.token) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kw
       |FROM fdoc d CROSS JOIN kw k
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- C98
  /** C98: feature-hashing document vectors (Weinberger et al. 2009 —
    * the "hashing trick") — the model-free text→vector bridge between
    * the text block and the embed block: each token's shared
    * [[tokenHash]] picks a dimension (mod [[HashEmbedDim]]) and a sign
    * (next hash bit), and the document's vector is the signed
    * occurrence sum per dimension. Deterministic, fixed-memory, no
    * vocabulary and no model — the embedding a pipeline can ALWAYS
    * compute (CCNet/fastText lineage), good enough for cosine screens
    * and k-means routing when no learned embedding exists yet, and the
    * exact input shape the C9/C50 operators consume. Long-form integer
    * output (doc_id, dim, val) so every column is a sortable scalar.
    *
    * Scale shape: scan-stage explode + one (doc_id, dim) partial-agg
    * shuffle — dims with a net-zero signed sum still emit their zero
    * (they had occurrences), absent dims had none; both engines agree
    * by construction.
    */
  val HashEmbedDim = 16L

  def c98HashEmbed(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), tokenHash(col("t")).as("hv"))
      .select(col("doc_id"), expr(s"hv % $HashEmbedDim").as("dim"),
        when(expr(s"(hv div $HashEmbedDim) % 2") === 0, lit(1L))
          .otherwise(lit(-1L)).as("sign"))
      .groupBy("doc_id", "dim").agg(sum("sign").as("val"))
      .orderBy("doc_id", "dim")

  val c98Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM fdoc
       |), h AS (
       |  SELECT doc_id, ${tokenHashSql("t")} AS hv FROM toks
       |)
       |SELECT doc_id, hv % $HashEmbedDim AS dim,
       |  CAST(SUM(CASE WHEN (hv // $HashEmbedDim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS val
       |FROM h GROUP BY doc_id, hv % $HashEmbedDim
       |ORDER BY doc_id, dim""".stripMargin

  // --------------------------------------------------------------- C110
  /** C110: TextRank keyword scores (Mihalcea & Tarau 2004) — weighted
    * PageRank over the word CO-OCCURRENCE graph: nodes are candidate
    * tokens (length ≥ [[TrMinLen]], the deterministic stand-in for the
    * original's POS filter, same heuristic as C97's blocklist
    * candidates), an undirected edge joins two candidates that co-occur
    * within ±[[PmiWindow]] ORIGINAL positions (non-candidates still
    * occupy positions, exactly as in the paper), weighted by the
    * co-occurrence count. C102 ranks DOCUMENTS on the semantic kNN
    * graph; this ranks WORDS on the lexical graph — the
    * unsupervised keyword/keyphrase extractor a curation pipeline uses
    * for topic tagging and prompt-free document labeling.
    *
    * Exactness: the weighted power iteration stays all-integer — nano
    * ranks (start 1e9), per-edge contribution (r·w) div s with s =
    * Σ_neighbors w (the node's strength), damping ×850 div 1000,
    * isolated-candidate (dangling) mass redistributed uniformly — the
    * C102 integer discipline, so [[TrIters]] rounds hash-match the
    * oracle's unrolled MATERIALIZED levels exactly. r·w is bounded by
    * total mass (V·1e9) × max pair count; past ~10⁹·w that product
    * routes through DECIMAL(38,0) (the C43/C87 rule), noted for the
    * record.
    *
    * Scale shape: the corpus-sized work is ONE (doc, position) hash
    * equi-join (the C89 bounded offset-explode, never a θ-join) and one
    * map-side-combinable pair agg onto the vocab²-bounded edge space;
    * the iteration then runs entirely on the VOCAB-sized graph — per
    * round one src-keyed hash join + dst-keyed partial agg + a 1-row
    * dangling broadcast, lineage truncated per round (the Pregel shape,
    * C102's loop on a different graph). At 100 TB the corpus is read
    * once; the iterate never touches it again.
    */
  val TrIters = 8
  val TrMinLen = 4

  def c110Textrank(spark: SparkSession, dir: String): DataFrame = {
    val pos = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "w")))
    val pairs = pos
      .withColumn("j", explode(array((1 to PmiWindow).map(d => col("i") + d): _*)))
      .select(col("doc_id"), col("j"), col("w").as("wa"))
      .join(pos.select(col("doc_id"), col("i").as("j"), col("w").as("wb")),
        Seq("doc_id", "j"))
      .filter(length(col("wa")) >= TrMinLen && length(col("wb")) >= TrMinLen &&
        col("wa") =!= col("wb"))
      .select(least(col("wa"), col("wb")).as("w1"),
        greatest(col("wa"), col("wb")).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("wt"))
    val edges = pairs.select(col("w1").as("src"), col("w2").as("dst"), col("wt"))
      .unionByName(pairs.select(col("w2").as("src"), col("w1").as("dst"), col("wt")))
      .seal()
    val nodes = pos.filter(length(col("w")) >= TrMinLen)
      .select(col("w").as("tok")).distinct()
    val nTotal = nodes.count()
    val st = nodes
      .join(edges.groupBy(col("src").as("tok"))
        .agg(sum("wt").as("s"), count(lit(1)).as("deg")), Seq("tok"), "left")
      .select(col("tok"), coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("deg"), lit(0L)).as("deg"))
      .seal()
    // r18 size dispatch (the GraphCC / c102 idiom): below the edge cap
    // the TrIters-round Pregel loop — ~3 tiny jobs a round, pure
    // scheduling floor on a vocab-sized graph — runs as ONE
    // mapPartitions task with the identical integer recurrence
    // (bit-identical; dispatch spec pins local == df). The DataFrame
    // iterate below is the corpus-scale path.
    val ranks =
      if (Dispatch.engine(spark, "graft.tr.impl", ("local", "df"),
          edges.count() <= graft.embed.EmbedQueries.PrLocalMaxEdges) == "local")
        trLocal(spark, st, edges, nTotal)
      else trDf(st, edges, nTotal)
    st.join(ranks, "tok")
      .select(col("tok"), col("deg"), col("s"), col("r").as("rank_nano"))
      .orderBy("tok")
  }

  /** The DataFrame weighted power iterate (the shipped 100 TB path). */
  private def trDf(st: DataFrame, edges: DataFrame, nTotal: Long): DataFrame = {
    var ranks = st.select(col("tok"), lit(1000000000L).as("r"))
    for (_ <- 1 to TrIters) {
      val dm = ranks.join(st.filter(col("s") === 0L).select("tok"), "tok")
        .agg(coalesce(sum("r"), lit(0L)).as("dm"))
      val contrib = edges
        .join(ranks.withColumnRenamed("tok", "src"), "src")
        .join(st.select(col("tok").as("src"), col("s")), "src")
        .select(col("dst").as("tok"), expr("(r * wt) div s").as("c"))
        .groupBy("tok").agg(sum("c").as("csum"))
      ranks = st.select(col("tok"))
        .join(contrib, Seq("tok"), "left")
        .crossJoin(broadcast(dm))
        .select(col("tok"), expr(
          s"150000000L + ((coalesce(csum, 0L) + dm div $nTotal) * 850) div 1000").as("r"))
        .seal()
    }
    ranks
  }

  /** Single-task weighted integer PageRank for small graphs — one
    * executor task (no collect), same recurrence, bit-identical. */
  private def trLocal(spark: SparkSession, st: DataFrame, edges: DataFrame,
      nTotal: Long): DataFrame = {
    import spark.implicits._
    val tagged = st.select(lit(0).as("tag"), col("tok").as("a"),
        col("tok").as("b"), col("s").as("v"))
      .unionByName(edges.select(lit(1).as("tag"), col("src").as("a"),
        col("dst").as("b"), col("wt").as("v")))
      .as[(Int, String, String, Long)]
    val iters = TrIters
    tagged.coalesce(1).mapPartitions { it =>
      val strength = new java.util.HashMap[String, Long]()
      val es = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      it.foreach {
        case (0, tok, _, s) => strength.put(tok, s): Unit
        case (_, s, d, w) => es += ((s, d, w))
      }
      var r = new java.util.HashMap[String, Long]()
      strength.keySet.forEach(t => r.put(t, 1000000000L): Unit)
      for (_ <- 1 to iters) {
        var dm = 0L
        strength.forEach((t, s) => if (s == 0L) dm += r.get(t))
        val csum = new java.util.HashMap[String, Long]()
        es.foreach { case (s, d, w) =>
          csum.merge(d, (r.get(s) * w) / strength.get(s), (x, y) => x + y): Unit
        }
        val nr = new java.util.HashMap[String, Long]()
        val dshare = if (nTotal == 0L) 0L else dm / nTotal
        strength.keySet.forEach { t =>
          nr.put(t,
            150000000L + ((csum.getOrDefault(t, 0L) + dshare) * 850) / 1000): Unit
        }
        r = nr
      }
      val out = Iterator.newBuilder[(String, Long)]
      r.forEach((t, v) => out += ((t, v)))
      out.result()
    }.toDF("tok", "r")
  }

  lazy val c110Sql: String = {
    def iter(k: Int): String =
      s"""dm$k AS (
         |  SELECT COALESCE(CAST(SUM(r.r) AS BIGINT), 0) AS dm
         |  FROM r${k - 1} r JOIN st d ON d.tok = r.tok AND d.s = 0
         |), c$k AS (
         |  SELECT e.dst AS tok, CAST(SUM((r.r * e.wt) // d.s) AS BIGINT) AS csum
         |  FROM e JOIN r${k - 1} r ON r.tok = e.src
         |  JOIN st d ON d.tok = e.src
         |  GROUP BY e.dst
         |), r$k AS MATERIALIZED (
         |  SELECT n.tok,
         |    CAST(150000000 + ((COALESCE(c.csum, 0) + t.dm // z.n) * 850) // 1000
         |      AS BIGINT) AS r
         |  FROM st n LEFT JOIN c$k c USING (tok) CROSS JOIN dm$k t CROSS JOIN nt z
         |)""".stripMargin
    s"""WITH pos AS (
       |  SELECT doc_id, i - 1 AS i, w FROM (
       |    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
       |      generate_subscripts(string_split(text, ' '), 1) AS i
       |    FROM fdoc
       |  )
       |), cand AS (SELECT DISTINCT w AS tok FROM pos WHERE length(w) >= $TrMinLen),
       |pr AS (
       |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2, COUNT(*) AS wt
       |  FROM pos a, UNNEST(range(1, ${PmiWindow + 1})) t(d)
       |  JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + d
       |  WHERE length(a.w) >= $TrMinLen AND length(b.w) >= $TrMinLen AND a.w <> b.w
       |  GROUP BY least(a.w, b.w), greatest(a.w, b.w)
       |), e AS MATERIALIZED (
       |  SELECT w1 AS src, w2 AS dst, wt FROM pr
       |  UNION ALL SELECT w2, w1, wt FROM pr),
       |nt AS (SELECT COUNT(*) AS n FROM cand),
       |st AS MATERIALIZED (
       |  SELECT c.tok, COALESCE(g.s, 0) AS s, COALESCE(g.deg, 0) AS deg
       |  FROM cand c LEFT JOIN (
       |    SELECT src AS tok, CAST(SUM(wt) AS BIGINT) AS s, COUNT(*) AS deg
       |    FROM e GROUP BY src) g USING (tok)),
       |r0 AS (SELECT tok, CAST(1000000000 AS BIGINT) AS r FROM cand),
       |${(1 to TrIters).map(iter).mkString(",\n")}
       |SELECT s.tok, CAST(s.deg AS BIGINT) AS deg, CAST(s.s AS BIGINT) AS s,
       |  r.r AS rank_nano
       |FROM st s JOIN r$TrIters r USING (tok)
       |ORDER BY tok""".stripMargin
  }

  // --------------------------------------------------------------- C111
  /** C111: Bradley-Terry source strengths from pairwise quality duels
    * (Bradley & Terry 1952; MM fit per Hunter 2004) — the preference-
    * data shape behind reward modeling and arena-style evals, applied
    * to data curation: sources duel through their documents, and the
    * latent strength the duels imply ranks sources by revealed quality
    * (C105 reweights by a LOSS; this ranks by head-to-head WINS, robust
    * to per-source score calibration offsets because only comparisons
    * enter).
    *
    * Matchmaking is deterministic and local: within each (lang,
    * doc_id div [[BtBlock]]) cell, the min- and max-id documents duel
    * (cells with one doc sit out; same-source duels are discarded —
    * BT needs cross-item evidence). The winner is the higher
    * [[qualityMicro]] score, ties to the earlier (min-id) document —
    * a documented convention, not a hash gamble. One partial agg, two
    * doc-keyed hash joins, no windows: O(N) duels at any corpus size
    * with zero global ordering.
    *
    * The pair table is K²-bounded (sources²) — a driver-sized
    * reduction BY DEFINITION (the C105 fold rule) — so the
    * [[BtIters]] MM rounds fold driver-side in exact Long arithmetic
    * and rejoin as a broadcast: w_i' = W_i·1e12 div Σ_j n_ij·1e12 div
    * (w_i+w_j), renormalized to Σw = K·1e6 by truncating div each
    * round (strictly-zero-win sources pin to 0 — BT's MLE sends them
    * there anyway). All quantities non-negative, so Spark's
    * truncating div and DuckDB's floor `//` agree; n·1e12 products
    * route through DECIMAL(38,0) past ~10⁶ duels per pair (the
    * C43/C87 rule), noted for the record.
    */
  val BtIters = 6
  val BtBlock = 8L

  def c111BradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(Stopwords: _*))).cast("long").as("stop_cnt"))
      .withColumn("q", qualityMicro)
      .select("doc_id", "source", "q")
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), expr(s"doc_id div $BtBlock").as("blk"))
      .agg(min("doc_id").as("a"), max("doc_id").as("b"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val duels = cells
      .join(q.select(col("doc_id").as("a"), col("source").as("sa"), col("q").as("qa")), "a")
      .join(q.select(col("doc_id").as("b"), col("source").as("sb"), col("q").as("qb")), "b")
      .filter(col("sa") =!= col("sb"))
      .select(col("sa"), col("sb"),
        when(col("qa") >= col("qb"), col("sa")).otherwise(col("sb")).as("win_src"))
    val stats = duels
      .select(col("sa").as("s"), when(col("win_src") === col("sa"), 1L).otherwise(0L).as("w"))
      .unionByName(duels.select(col("sb").as("s"),
        when(col("win_src") === col("sb"), 1L).otherwise(0L).as("w")))
      .groupBy("s").agg(count(lit(1)).as("n_duels"), sum("w").as("wins"))
    val pairs = duels
      .select(least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"),
        when(col("win_src") === least(col("sa"), col("sb")), 1L).otherwise(0L).as("w1"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n"), sum("w1").as("wins1"))
      .limit(4097) // cap BEFORE collecting: the guard below must never
      // be reachable only after an unbounded driver materialization
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // The collect is bounded by the SOURCE-PAIR domain, not the corpus:
    // sources is a value-domain dimension (≤ ~10 distinct labels), so
    // k·(k−1)/2 rows at any corpus size. Enforce the contract loudly.
    require(pairs.length <= 4096,
      s"c111: ${pairs.length} source pairs — 'source' is expected to be a " +
        "bounded value domain; a high-cardinality source column would make " +
        "this driver fold a scale hazard")
    val dPairs = pairs.flatMap { case (s1, s2, n, w1) =>
      Seq((s1, s2, n, w1), (s2, s1, n, n - w1)) }
    val items = dPairs.map(_._1).distinct.sorted
    val k = items.length.toLong
    val winTot = dPairs.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    var w = items.map(_ -> 1000000L).toMap
    for (_ <- 1 to BtIters) {
      val d = dPairs.groupBy(_._1).view.mapValues(_.map { case (s, o, n, _) =>
        n * 1000000000000L / (w(s) + w(o)) }.sum).toMap
      val wRaw = items.map(s => s -> (if (winTot(s) == 0L) 0L
        else winTot(s) * 1000000000000L / d(s))).toMap
      val tot = items.map(wRaw).sum
      w = items.map(s => s -> wRaw(s) * (k * 1000000L) / tot).toMap
    }
    import spark.implicits._
    val wdf = broadcast(items.map(s => (s, w(s))).toSeq.toDF("s", "strength_micro"))
    stats.join(wdf, "s")
      .select(col("s").as("source"), col("n_duels"), col("wins"), col("strength_micro"))
      .orderBy("source")
  }

  lazy val c111Sql: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    def iter(t: Int): String =
      s"""d$t AS (
         |  SELECT e.s, CAST(SUM(e.n * 1000000000000 // (wi.w + wj.w)) AS BIGINT) AS d
         |  FROM e JOIN w${t - 1} wi ON wi.s = e.s JOIN w${t - 1} wj ON wj.s = e.o
         |  GROUP BY e.s
         |), raw$t AS (
         |  SELECT t.s, CASE WHEN t.wins = 0 THEN 0
         |    ELSE t.wins * 1000000000000 // d.d END AS w
         |  FROM wt t JOIN d$t d USING (s)
         |), tot$t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM raw$t),
         |w$t AS MATERIALIZED (
         |  SELECT r.s, CAST(r.w * (z.k * 1000000) // t.tot AS BIGINT) AS w
         |  FROM raw$t r CROSS JOIN tot$t t CROSS JOIN kt z
         |)""".stripMargin
    s"""WITH f AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS BIGINT) AS stop_cnt
       |  FROM fdoc
       |), q AS (
       |  SELECT doc_id, source, $QualityMicroSql AS q FROM f
       |), cells AS (
       |  SELECT lang, doc_id // $BtBlock AS blk, MIN(doc_id) AS a, MAX(doc_id) AS b
       |  FROM fdoc GROUP BY lang, doc_id // $BtBlock HAVING COUNT(*) >= 2
       |), duels AS MATERIALIZED (
       |  SELECT qa.source AS sa, qb.source AS sb,
       |    CASE WHEN qa.q >= qb.q THEN qa.source ELSE qb.source END AS win_src
       |  FROM cells c JOIN q qa ON qa.doc_id = c.a JOIN q qb ON qb.doc_id = c.b
       |  WHERE qa.source <> qb.source
       |), pairs AS MATERIALIZED (
       |  SELECT least(sa, sb) AS s1, greatest(sa, sb) AS s2, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN win_src = least(sa, sb) THEN 1 ELSE 0 END) AS BIGINT) AS wins1
       |  FROM duels GROUP BY least(sa, sb), greatest(sa, sb)
       |), e AS MATERIALIZED (
       |  SELECT s1 AS s, s2 AS o, n, wins1 AS w FROM pairs
       |  UNION ALL SELECT s2, s1, n, n - wins1 FROM pairs
       |), wt AS MATERIALIZED (
       |  SELECT s, CAST(SUM(n) AS BIGINT) AS n_duels, CAST(SUM(w) AS BIGINT) AS wins
       |  FROM e GROUP BY s
       |), kt AS (SELECT COUNT(*) AS k FROM wt),
       |w0 AS (SELECT s, CAST(1000000 AS BIGINT) AS w FROM wt),
       |${(1 to BtIters).map(iter).mkString(",\n")}
       |SELECT t.s AS source, t.n_duels, t.wins, w.w AS strength_micro
       |FROM wt t JOIN w$BtIters w USING (s)
       |ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- C113
  /** C113: MMR diversity re-ranking (Carbonell & Goldstein 1998) of the
    * C88 BM25 run — the greedy Maximal-Marginal-Relevance selection a
    * production RAG stack runs between retrieval and the context
    * window: per query, [[MmrSelect]] documents picked one at a time by
    * mmr(d) = λ·rel(d) − (1−λ)·max_{s∈picked} cos(d, s), so near-
    * duplicate top hits (exactly what C6/C51 prove corpora are full of)
    * don't crowd out coverage. rel = the BM25 score, cos = embedding
    * cosine between CANDIDATES (vec_id ≡ doc_id in the testdata
    * contract), λ = [[MmrLambdaMicro]]/1e6.
    *
    * Exactness: rel is C88's nano integer; cos reuses the ONE canonical
    * round-6 form ([[graft.embed.EmbedQueries.cosine]] /
    * [[graft.embed.EmbedQueries.dotSql]] — C9's proven cross-engine
    * pair) scaled to nano (an exact ×1000 of the round-6 integer);
    * mmr combines them with two truncating divs (λ·rel div 1e6 minus
    * (1e6−λ)·pen div 1e6 — pen can be negative; both engines truncate
    * toward zero, the C94 rule). Ties break to the smaller doc_id.
    *
    * Scale shape: the corpus-sized work is C88's memoized run build
    * plus ONE doc-keyed equi-join fetching the ≤ Q·K candidate
    * embeddings; the pairwise-cos table is (Q·K²)-bounded PER QUERY by
    * C88's top-K contract, so the greedy fold runs on EXECUTORS — a
    * qid-keyed `cogroup` of the relevance and pair frames with the
    * exact-integer greedy per group (each group is K + K² rows, O(1)).
    * Nothing corpus- or query-count-sized ever reaches the driver:
    * at 100× the query count the fold just spreads over more
    * partitions. Oracle = [[MmrSelect]] unrolled greedy CTE levels
    * over the same pair table.
    */
  val MmrLambdaMicro = 700000L
  val MmrSelect = 5

  def c113MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.vector.{vec_dot, vec_norm2}
    import spark.implicits._
    val run = bm25Ranked(spark, dir)
    val emb = graft.embed.EmbedQueries.vectors(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"),
        vec_norm2(col("embedding")).as("n2"))
    val cand = run.select("qid", "doc_id", "score_nano").join(emb, "doc_id")
    val a = cand.select(col("qid"), col("doc_id").as("da"),
      col("embedding").as("ea"), col("n2").as("na"))
    val b = cand.select(col("qid"), col("doc_id").as("db"),
      col("embedding").as("eb"), col("n2").as("nb"))
    val cosPair = a.join(b, "qid").filter(col("da") < col("db"))
      .select(col("qid"), col("da"), col("db"),
        round(graft.embed.EmbedQueries.cosine(
          vec_dot(col("ea"), col("eb")), col("na"), col("nb")) * lit(1e9), 0)
          .cast("long").as("cos_nano"))
      // zero-norm candidates have UNDEFINED cosine (NULL) — such pairs
      // contribute NO penalty (dropped here; the greedy's max-over-
      // defined with 0 fallback below = the oracle's COALESCE(MAX, 0))
      .filter(col("cos_nano").isNotNull)
      .as[(Long, Long, Long, Long)]
    val rels = cand.select(col("qid"), col("doc_id"), col("score_nano"))
      .as[(Long, Long, Long)]
    // locals, not object fields, so the closure ships two longs
    val lam = MmrLambdaMicro
    val kSel = MmrSelect
    val picked = rels.groupByKey(_._1).cogroup(cosPair.groupByKey(_._1)) {
      (qid, rIt, pIt) =>
        val docRel = rIt.map(t => t._2 -> t._3).toMap
        val cosMap = pIt.map(t => (t._2, t._3) -> t._4).toMap
        def cosOf(x: Long, y: Long): Option[Long] =
          cosMap.get((math.min(x, y), math.max(x, y)))
        var remaining = docRel.keys.toList.sorted
        var chosen = List.empty[Long]
        val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long, Long)]
        var step = 1L
        while (step <= kSel && remaining.nonEmpty) {
          val scored = remaining.map { d =>
            val rel = docRel(d)
            val pens = chosen.flatMap(s => cosOf(d, s))
            val pen = if (pens.isEmpty) 0L else pens.max
            val mmr = (lam * rel) / 1000000L -
              ((1000000L - lam) * pen) / 1000000L
            (d, rel, mmr)
          }
          val best = scored.minBy { case (d, _, m) => (-m, d) }
          out += ((qid, step, best._1, best._2, best._3))
          chosen ::= best._1
          remaining = remaining.filterNot(_ == best._1)
          step += 1
        }
        out.iterator
    }
    picked.toDF("qid", "step", "doc_id", "rel_nano", "mmr_nano")
      .orderBy("qid", "step")
  }

  lazy val c113Sql: String = {
    import graft.embed.EmbedQueries.{dotSql, norm2Sql}
    val oneMinus = 1000000L - MmrLambdaMicro
    def lvl(t: Int): String =
      if (t == 1)
        s"""m1 AS (
           |  SELECT qid, doc_id, rel,
           |    ($MmrLambdaMicro * rel) // 1000000 AS mmr,
           |    ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY ($MmrLambdaMicro * rel) // 1000000 DESC, doc_id) AS rn
           |  FROM cand
           |), p1 AS MATERIALIZED (
           |  SELECT qid, CAST(1 AS BIGINT) AS step, doc_id, rel, mmr
           |  FROM m1 WHERE rn = 1
           |), pk1 AS (SELECT * FROM p1)""".stripMargin
      else
        s"""pen$t AS (
           |  -- COALESCE + LEFT pair join: an undefined (zero-norm, NULL)
           |  -- cosine contributes NO penalty, mirroring the Spark fold's
           |  -- max-over-defined-with-0-fallback
           |  SELECT c.qid, c.doc_id, c.rel, COALESCE(MAX(x.cos_nano), 0) AS pen
           |  FROM cand c
           |  JOIN pk${t - 1} k ON k.qid = c.qid
           |  LEFT JOIN pc x ON x.qid = c.qid
           |    AND x.da = least(c.doc_id, k.doc_id)
           |    AND x.db = greatest(c.doc_id, k.doc_id)
           |  WHERE NOT EXISTS (SELECT 1 FROM pk${t - 1} z
           |                    WHERE z.qid = c.qid AND z.doc_id = c.doc_id)
           |  GROUP BY c.qid, c.doc_id, c.rel
           |), m$t AS (
           |  SELECT qid, doc_id, rel,
           |    ($MmrLambdaMicro * rel) // 1000000 - ($oneMinus * pen) // 1000000 AS mmr,
           |    ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY ($MmrLambdaMicro * rel) // 1000000
           |        - ($oneMinus * pen) // 1000000 DESC, doc_id) AS rn
           |  FROM pen$t
           |), p$t AS MATERIALIZED (
           |  SELECT qid, CAST($t AS BIGINT) AS step, doc_id, rel, mmr
           |  FROM m$t WHERE rn = 1
           |), pk$t AS (SELECT * FROM pk${t - 1} UNION ALL SELECT * FROM p$t)""".stripMargin
    s"""WITH $bm25Ctes,
       |${graft.embed.EmbedQueries.fembCte},
       |cand AS MATERIALIZED (
       |  SELECT r.qid, r.doc_id, r.score_nano AS rel, e.embedding,
       |    ${norm2Sql("e.embedding")} AS n2
       |  FROM bm25r r JOIN femb e ON e.vec_id = r.doc_id
       |  WHERE r.rnk <= $Bm25TopK
       |), pc AS MATERIALIZED (
       |  SELECT a.qid, a.doc_id AS da, b.doc_id AS db,
       |    CAST(ROUND(ROUND(${dotSql("a.embedding", "b.embedding")}
       |      / sqrt(a.n2 * b.n2), 6) * 1e9) AS BIGINT) AS cos_nano
       |  FROM cand a JOIN cand b ON b.qid = a.qid AND b.doc_id > a.doc_id
       |),
       |${(1 to MmrSelect).map(lvl).mkString(",\n")}
       |SELECT qid, step, doc_id, rel AS rel_nano, mmr AS mmr_nano
       |FROM pk$MmrSelect
       |ORDER BY qid, step""".stripMargin
  }

  // ------------------------------------------------------------- C140
  /** C140: the document ingest-quarantine report — the observability
    * half of the [[graft.Tables.documents]] contract (see its scaladoc
    * for the probe evidence), sibling of c139 (vectors) and b55
    * (events). Classifies every RAW document by first defect
    * (null_doc_id > null_text > null_lang > null_source > ok — identity
    * first: it is the one quarantined axis) and reports per-class
    * counts with a min-doc_id witness (NULL for the null_doc_id class,
    * identically on both engines). One map-side classify + a ≤5-row
    * agg — the histogram a 100 TB ingest reads before the curation
    * pipeline runs.
    */
  def c140DocQuarantine(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id").isNull, "null_doc_id")
          .when(col("text").isNull, "null_text")
          .when(col("lang").isNull, "null_lang")
          .when(col("source").isNull, "null_source")
          .otherwise("ok").as("defect"))
      .groupBy("defect")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .orderBy("defect")

  val c140Sql: String =
    """SELECT defect, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS first_doc
      |FROM (
      |  SELECT doc_id, CASE
      |    WHEN doc_id IS NULL THEN 'null_doc_id'
      |    WHEN text IS NULL THEN 'null_text'
      |    WHEN lang IS NULL THEN 'null_lang'
      |    WHEN source IS NULL THEN 'null_source'
      |    ELSE 'ok' END AS defect
      |  FROM documents)
      |GROUP BY defect ORDER BY defect""".stripMargin

  // ------------------------------------------------------------- C141
  /** C141: the document identity-collision report — the observability
    * half of the doc_id UNIQUENESS precondition (see
    * [[graft.Tables.documents]]). The r17 probe proved 2 rows sharing a
    * doc_id hash-diverge ≥6 keys (c96/c97/d26/d27/d37 + the pack
    * class): the engines disagree row-by-row on which copy feeds
    * id-keyed joins, so duplicate ids are a pipeline-PRECONDITION
    * violation, not a definable semantics. Per-read enforcement would
    * add a count-over-window shuffle to every documents scan at 100 TB;
    * instead uniqueness is an ingest-JOB invariant (exactly what the c1
    * exact-dedup stage and the CurationPipeline output produce —
    * CurationPipelineSpec pins the output collision-free), and THIS key
    * is the cheap detector an ingest runs before trusting a corpus:
    * a multiplicity histogram over the quarantined view (copies →
    * id-class count, min-doc_id witness per class). The copies=1 row
    * doubles as the clean-corpus identity attestation. Report-only:
    * one (doc_id) hash-agg + a ≤handful-row re-agg, never on a read
    * path. Reference anchor: solardb.py:83-97 — ON CONFLICT IGNORE is
    * ingest-level identity enforcement of the same invariant.
    */
  def c141DocCollisions(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .groupBy("doc_id").agg(count(lit(1)).as("copies"))
      .groupBy("copies")
      .agg(count(lit(1)).as("n_ids"), min("doc_id").as("first_doc"))
      .orderBy("copies")

  val c141Sql: String =
    """SELECT copies, CAST(COUNT(*) AS BIGINT) AS n_ids,
      |  MIN(doc_id) AS first_doc
      |FROM (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS copies
      |  FROM fdoc GROUP BY doc_id)
      |GROUP BY copies ORDER BY copies""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c140_doc_quarantine" -> (c140DocQuarantine _),
    "c141_doc_collisions" -> (c141DocCollisions _),
    "c113_mmr_rerank" -> (c113MmrRerank _),
    "c111_bradley_terry" -> (c111BradleyTerry _),
    "c110_textrank" -> (c110Textrank _),
    "c101_calibration" -> (c101Calibration _),
    "c116_isotonic" -> (c116Isotonic _),
    "c117_ks_drift" -> (c117KsDrift _),
    "c118_gini" -> (c118Gini _),
    "c119_wordpiece" -> (c119Wordpiece _),
    "c132_unigram_lm" -> (c132UnigramLm _),
    "c120_burstiness" -> (c120Burstiness _),
    "c121_rank_corr" -> (c121RankCorr _),
    "c123_conformal" -> (c123Conformal _),
    "c124_hill" -> (c124Hill _),
    "c125_fertility_drift" -> (c125FertilityDrift _),
    "c100_fertility" -> (c100Fertility _),
    "c99_rrf_fusion" -> (c99RrfFusion _),
    "c98_hash_embed" -> (c98HashEmbed _),
    "c97_blocklist" -> (c97Blocklist _),
    "c96_bpe_segment" -> (c96BpeSegment _),
    "c138_merge_sweep" -> (c138MergeSweep _),
    "c95_bpe_apply" -> (c95BpeApply _),
    "c94_gate_agreement" -> (c94GateAgreement _),
    "c92_heaps_law" -> (c92HeapsLaw _),
    "c91_dsir_draw" -> (c91DsirDraw _),
    "c90_pack_sweep" -> (c90PackSweep _),
    "c89_pmi_pairs" -> (c89PmiPairs _),
    "c88_bm25" -> (c88Bm25 _),
    "c109_retrieval_eval" -> (c109RetrievalEval _),
    "c87_epoch_plan" -> (c87EpochPlan _),
    "c86_contam_sweep" -> (c86ContamSweep _),
    "c83_span_corruption" -> (c83SpanCorruption _),
    "c75_good_turing" -> (c75GoodTuring _),
    "c76_doc_entropy" -> (c76DocEntropy _),
    "c73_corpus_drift" -> (c73CorpusDrift _),
    "c72_rare_tokens" -> (c72RareTokens _),
    "c71_zipf_fit" -> (c71ZipfFit _),
    "c67_incremental_dedup" -> (c67IncrementalDedup _),
    "c68_kn_bigram" -> (c68KnBigram _),
    "c1_dedup_exact" -> (c1DedupExact _),
    "c2_token_count" -> (c2TokenCount _),
    "c3_quality_score" -> (c3QualityScore _),
    "c4_lang_id" -> (c4LangId _),
    "c5_fingerprint" -> (c5Fingerprint _),
    "c14_vocab_topk" -> (c14VocabTopk _),
    "c15_length_histogram" -> (c15LengthHistogram _),
    "c21_tfidf_topk" -> (c21TfidfTopk _),
    "c22_length_quantiles" -> (c22LengthQuantiles _),
    "c23_split_assign" -> (c23SplitAssign _),
    "c24_bigram_lm" -> (c24BigramLm _),
    "c25_pii_redact" -> (c25PiiRedact _),
    "c26_repetition" -> (c26Repetition _),
    "c27_doc_pack" -> (c27DocPack _),
    "c29_contamination" -> (c29Contamination _),
    "c30_domain_mix" -> (c30DomainMix _),
    "c31_lm_score" -> (c31LmScore _),
    "c105_doremi" -> (c105Doremi _),
    "c107_hll_vocab" -> (c107HllVocab _),
    "c32_sample_budget" -> (c32SampleBudget _),
    "c33_prefix_dups" -> (c33PrefixDups _),
    "c36_quality_gate" -> (c36QualityGate _),
    "c37_winnowing" -> (c37Winnowing _),
    "c38_gram_novelty" -> (c38GramNovelty _),
    "c40_segment_dedup" -> (c40SegmentDedup _),
    "c43_dsir_weights" -> (c43DsirWeights _),
    "c44_chunk_overlap" -> (c44ChunkOverlap _),
    "c45_char_stats" -> (c45CharStats _),
    "c47_phrase_mining" -> (c47PhraseMining _),
    "c48_dup_spans" -> (c48DupSpans _),
    "c49_gopher_rules" -> (c49GopherRules _),
    "c52_hash_classifier" -> (c52HashClassifier _),
    "c53_bloom_decontam" -> (c53BloomDecontam _),
    "c55_vocab_coverage" -> (c55VocabCoverage _),
    "c57_ppl_buckets" -> (c57PplBuckets _),
    "c58_boilerplate" -> (c58Boilerplate _),
    "c59_bpe_merges" -> (c59BpeMerges _),
    "c63_cms_freq" -> (c63CmsFreq _),
    "c64_classifier_eval" -> (c64ClassifierEval _),
    "c127_cdc_chunks" -> (c127CdcChunks _),
    "c130_weighted_sample" -> (c130WeightedSample _))

  val oracles: Map[String, String] = Map(
    "c140_doc_quarantine" -> c140Sql,
    "c141_doc_collisions" -> c141Sql,
    "c127_cdc_chunks" -> c127Sql,
    "c130_weighted_sample" -> c130Sql,
    "c113_mmr_rerank" -> c113Sql,
    "c111_bradley_terry" -> c111Sql,
    "c110_textrank" -> c110Sql,
    "c101_calibration" -> c101Sql,
    "c116_isotonic" -> c116Sql,
    "c117_ks_drift" -> c117Sql,
    "c118_gini" -> c118Sql,
    "c119_wordpiece" -> c119Sql,
    "c132_unigram_lm" -> c132Sql,
    "c120_burstiness" -> c120Sql,
    "c121_rank_corr" -> c121Sql,
    "c123_conformal" -> c123Sql,
    "c124_hill" -> c124Sql,
    "c125_fertility_drift" -> c125Sql,
    "c100_fertility" -> c100Sql,
    "c99_rrf_fusion" -> c99Sql,
    "c98_hash_embed" -> c98Sql,
    "c97_blocklist" -> c97Sql,
    "c96_bpe_segment" -> c96Sql,
    "c138_merge_sweep" -> c138Sql,
    "c95_bpe_apply" -> c95Sql,
    "c94_gate_agreement" -> c94Sql,
    "c92_heaps_law" -> c92Sql,
    "c91_dsir_draw" -> c91Sql,
    "c90_pack_sweep" -> c90Sql,
    "c89_pmi_pairs" -> c89Sql,
    "c88_bm25" -> c88Sql,
    "c109_retrieval_eval" -> c109Sql,
    "c87_epoch_plan" -> c87Sql,
    "c86_contam_sweep" -> c86Sql,
    "c83_span_corruption" -> c83Sql,
    "c75_good_turing" -> c75Sql,
    "c76_doc_entropy" -> c76Sql,
    "c73_corpus_drift" -> c73Sql,
    "c72_rare_tokens" -> c72Sql,
    "c71_zipf_fit" -> c71Sql,
    "c67_incremental_dedup" -> c67Sql,
    "c68_kn_bigram" -> c68Sql,
    "c1_dedup_exact" -> c1Sql,
    "c2_token_count" -> c2Sql,
    "c3_quality_score" -> c3Sql,
    "c4_lang_id" -> c4Sql,
    "c5_fingerprint" -> c5Sql,
    "c14_vocab_topk" -> c14Sql,
    "c15_length_histogram" -> c15Sql,
    "c21_tfidf_topk" -> c21Sql,
    "c22_length_quantiles" -> c22Sql,
    "c23_split_assign" -> c23Sql,
    "c24_bigram_lm" -> c24Sql,
    "c25_pii_redact" -> c25Sql,
    "c26_repetition" -> c26Sql,
    "c27_doc_pack" -> c27Sql,
    "c29_contamination" -> c29Sql,
    "c30_domain_mix" -> c30Sql,
    "c31_lm_score" -> c31Sql,
    "c105_doremi" -> c105Sql,
    "c107_hll_vocab" -> c107Sql,
    "c32_sample_budget" -> c32Sql,
    "c33_prefix_dups" -> c33Sql,
    "c36_quality_gate" -> c36Sql,
    "c37_winnowing" -> c37Sql,
    "c38_gram_novelty" -> c38Sql,
    "c40_segment_dedup" -> c40Sql,
    "c43_dsir_weights" -> c43Sql,
    "c44_chunk_overlap" -> c44Sql,
    "c45_char_stats" -> c45Sql,
    "c47_phrase_mining" -> c47Sql,
    "c48_dup_spans" -> c48Sql,
    "c49_gopher_rules" -> c49Sql,
    "c52_hash_classifier" -> c52Sql,
    "c53_bloom_decontam" -> c53Sql,
    "c55_vocab_coverage" -> c55Sql,
    "c57_ppl_buckets" -> c57Sql,
    "c58_boilerplate" -> c58Sql,
    "c59_bpe_merges" -> c59Sql,
    "c63_cms_freq" -> c63Sql,
    "c64_classifier_eval" -> c64Sql)

  /** Session-shared memo builders, named for the bench prep section
    * ([[graft.Prep]]): each forces one expensive memoized intermediate
    * so per-query bench numbers measure the query alone — without this
    * the build cost bills to the alphabetically-first consumer (the
    * round-12 artifact: the ~5 s BPE sample-learn landed on
    * c100_fertility, reading 6.04 s for a ~1 s query).
    */
  private[graft] def prepItems: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "text_grams" -> ((s, d) => { distinctGrams(s, d): Unit }),
    "text_lm_score" -> ((s, d) => { lmScoredDocs(s, d): Unit }),
    "text_wp_vocab" -> ((s, d) => { wpVocab(s, d): Unit }),
    "text_uni_vocab" -> ((s, d) => { uniVocab(s, d): Unit }),
    "text_bpe_loop" -> ((s, d) => { bpeLoopFor(s, d): Unit }),
    "text_bpe_sample_learn" -> ((s, d) => { learnedMerges(s, d): Unit }),
    "text_bm25" -> ((s, d) => { bm25Ranked(s, d): Unit }),
    "text_rrf_join" -> ((s, d) => { rrfJoined(s, d): Unit }))
}
