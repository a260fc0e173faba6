package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis for training-data curation: language-ID (stopword n-gram
  * heuristic), quality scoring (length / punctuation / stopword ratios),
  * token counting (whitespace + BPE-ish regex), fingerprinting.
  * All pure Column expressions (whole-stage codegen; no UDF).
  */
object TextStats {

  val stopwords: Map[String, scala.Seq[String]] = Map(
    "en" -> scala.Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> scala.Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr" -> scala.Seq("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es" -> scala.Seq("el", "la", "los", "y", "es", "un", "una", "para", "en", "que"))

  def tokens(text: Column): Column = split(lower(text), " ")

  /** Count of tokens belonging to a word list. */
  def listHits(text: Column, words: scala.Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(lit(_)): _*))).cast(LongType)

  /** Language ID: argmax of per-language stopword hits, fixed priority
    * en > de > fr > es on ties (deterministic). */
  def langId(text: Column): Column = {
    val en = listHits(text, stopwords("en"))
    val de = listHits(text, stopwords("de"))
    val fr = listHits(text, stopwords("fr"))
    val es = listHits(text, stopwords("es"))
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Whitespace token count. */
  /** Winnowing fingerprints (rolling k-gram hash, window w — SIGMOD'03):
    * distinct selected hash prefixes, sorted. Native one-pass expression. */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.exprs.WinnowExpr.column(text, k, w)

  def nTokens(text: Column): Column =
    // size(NULL) is -1 with ANSI off; null text must count null like
    // DuckDB's len(string_split(NULL))
    when(text.isNull, lit(null).cast(LongType))
      .otherwise(size(split(text, " ")).cast(LongType))

  /** BPE-ish token estimate: letter runs, single digits, and punctuation
    * each count as one piece (the GPT-2 pre-tokenizer shape). */
  def nBpePieces(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast(LongType)

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast(DoubleType) /
      length(text).cast(DoubleType)

  /** Stopword-token ratio (English list) — a standard quality signal. */
  def stopwordRatio(text: Column): Column =
    listHits(text, stopwords("en")).cast(DoubleType) / nTokens(text).cast(DoubleType)

  /** Mean token length (chars excluding separators / token count). */
  def meanTokenLen(text: Column): Column =
    (length(text) - (nTokens(text) - 1)).cast(DoubleType) / nTokens(text).cast(DoubleType)

  /** Composite quality score in [0,1]: favors mid-length docs with some
    * stopwords and low punctuation noise. Deterministic, documented
    * weights — a curation heuristic, not a trained model. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 500.0, lit(1.0))
    val swScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 10.0)
    lenScore * 0.4 + swScore * 0.3 + punctPenalty * 0.3
  }

  /** Rolling-hash document fingerprint = Dedup.fingerprint (token-set md5). */
  def fingerprint(text: Column): Column = Dedup.fingerprint(text)

  /** Corpus vocabulary: token → (count, doc frequency), the corpus-level
    * statistics tokenizer training and vocab pruning start from. One
    * explode + one groupBy — map-side combine shrinks the shuffle to one
    * row per distinct token per partition (the canonical word-count
    * shape; at 100 TB this is exactly the job Spark was built for). */
  def vocabulary(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("_id"), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("_id")).as("doc_freq"))

  // ------------------------------------------------------------------ PII

  /** PII patterns (emails, international-ish phone numbers, IPv4, 13-16
    * digit card-like numbers). Conservative character-class regexes that
    * mean the same thing in Java regex and RE2-style engines, so an
    * external SQL oracle can replicate them verbatim. */
  val piiPatterns: scala.Seq[(String, String)] = scala.Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "card" -> "\\b[0-9]{13,16}\\b", // before phone: a card is also a digit run
    "phone" -> "\\+?[0-9][0-9()\\- ]{7,14}[0-9]",
    "ipv4" -> "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b")

  /** Count of matches for one PII class. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast(LongType)

  /** Redact every PII class with its `[CLASS]` token — the standard
    * pre-training scrub. Order matters (emails before phones so the
    * digits inside a redaction token can't re-match); one codegen'd
    * regexp_replace chain, no UDF. */
  def piiRedact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"[${name.toUpperCase}]")
    }

  // ------------------------------------------- n-gram LM novelty scoring

  /** Word bigrams with multiplicity ("a b" strings); empty below 2 tokens.
    * r12: the native one-pass kernel (identical byte spans to the
    * zip_with-slice-concat_ws form — split-on-" "/join-with-" " round
    * trips exactly; null text yields the empty array either way). */
  def wordBigramsRaw(text: Column): Column =
    graft.exprs.WordNgramsExpr.column(text, 2, distinct = false)

  /** Word trigrams with multiplicity ("a b c" strings); empty below 3
    * tokens. r12: native kernel, see [[wordBigramsRaw]]. */
  def wordTrigramsRaw(text: Column): Column =
    graft.exprs.WordNgramsExpr.column(text, 3, distinct = false)

  /** Trigram stupid-backoff resolution histogram — the integer-exact,
    * engine-portable core of an n-gram-LM perplexity filter (CCNet
    * style). Each document trigram is resolved at the deepest model
    * level that has corpus support beyond the occurrence itself:
    * level 3 if the trigram occurs ≥2× corpus-wide, else level 2 if
    * its trailing bigram does, else level 1 if its trailing unigram
    * does, else level 0 (a hapax continuation). A float stupid-backoff
    * score (0.4^(3-level) products) would hash-differ in the last ulp
    * across engines; the level histogram ranks documents identically
    * and stays bit-exact.
    *
    * Scale shape: three word-count-shaped model aggregations (map-side
    * combined; shuffle rows bounded by distinct n-grams per partition),
    * then n-gram-keyed equi-joins against the exploded trigram stream
    * and one per-doc re-agg. Linear end to end; never a product.
    *
    * Output: (id, n_tri, l3, l2, l1, l0) with zeros for sub-3-token
    * docs. */
  def backoffLevels(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("_t"))
    val tri = base.select(col("id"),
        explode(wordTrigramsRaw(col("_t"))).as("g3"))
      .select(col("id"), col("g3"),
        substring_index(col("g3"), " ", -2).as("g2"),
        substring_index(col("g3"), " ", -1).as("g1"))
    val m3 = tri.groupBy(col("g3")).agg(count(lit(1)).as("c3"))
    val m2 = base.select(explode(wordBigramsRaw(col("_t"))).as("g2"))
      .groupBy(col("g2")).agg(count(lit(1)).as("c2"))
    val m1 = base.select(explode(split(col("_t"), " ")).as("g1"))
      .groupBy(col("g1")).agg(count(lit(1)).as("c1"))
    val lvl = tri
      .join(m3, "g3").join(m2, "g2").join(m1, "g1")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("c3") >= 2L, 1L).otherwise(0L)).as("l3"),
        sum(when(col("c3") < 2L && col("c2") >= 2L, 1L).otherwise(0L)).as("l2"),
        sum(when(col("c3") < 2L && col("c2") < 2L && col("c1") >= 2L, 1L)
          .otherwise(0L)).as("l1"),
        sum(when(col("c3") < 2L && col("c2") < 2L && col("c1") < 2L, 1L)
          .otherwise(0L)).as("l0"))
    df.select(col(idCol).as("id")).join(lvl, scala.Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("l3"), lit(0L)).as("l3"),
        coalesce(col("l2"), lit(0L)).as("l2"),
        coalesce(col("l1"), lit(0L)).as("l1"),
        coalesce(col("l0"), lit(0L)).as("l0"))
  }

  /** Corpus bigram counts — the "training" pass of a count-based n-gram
    * language model. One explode + one map-side-combined groupBy (same
    * shape as [[vocabulary]]): the shuffle carries one row per distinct
    * bigram per partition, never the raw token stream. */
  def bigramModel(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(wordBigramsRaw(col(textCol))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))

  /** Score documents against a bigram model: how much of each document is
    * built from corpus-rare bigrams — the integer-exact, engine-portable
    * proxy for n-gram-LM perplexity scoring (a float cross-entropy would
    * hash-differ across engines in the last ulp; rare-mass counts rank
    * documents the same way). A doc's `novelty` is the fraction of its
    * bigram occurrences whose corpus count ≤ `rareMax`.
    *
    * Scale: explode keyed by bigram, sort-merge join against the model
    * (both sides shuffle on the bigram key — at deploy scale join on
    * xxhash64(bigram) to cut shuffle bytes), integer per-doc re-agg.
    * Output: (id, n_bigrams, n_distinct_bigrams, rare_hits, novelty). */
  def bigramNovelty(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, model: org.apache.spark.sql.DataFrame,
      rareMax: Long): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      explode(wordBigramsRaw(col(textCol))).as("bigram"))
    val scored = ex.join(model, scala.Seq("bigram"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bigram")).as("n_distinct_bigrams"),
        sum(when(coalesce(col("n"), lit(0L)) <= rareMax, 1L).otherwise(0L))
          .as("rare_hits"))
    df.select(col(idCol).as("id")).join(scored, scala.Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        coalesce(col("rare_hits"), lit(0L)).as("rare_hits"))
      .withColumn("novelty",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("rare_hits").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)))
  }

  // ----------------------------------------------------------------- TF-IDF

  /** Top-k salient terms per document, TF-IDF style. Ranking is the
    * integer-deterministic variant (tf DESC, doc-frequency ASC, token ASC):
    * the same ordering ln(N/df) induces at equal tf, without a float score
    * whose last ulp could differ across engines. `tfidf` (tf·ln(N/df)) is
    * still emitted for in-engine consumers.
    *
    * Scale: tf is one explode + groupBy(id, token) with map-side combine;
    * df re-aggregates the tf relation by token (no second corpus pass);
    * the rank window partitions by doc id — high cardinality, no global
    * window. Output: (id, token, tf, df_docs, rnk, tfidf). */
  def tfidfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val nDocs = df.count()
    val tf = df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("tf").desc, col("df_docs").asc, col("token").asc)
    tf.join(dfreq, "token")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("id"), col("token"), col("tf"), col("df_docs"), col("rnk"),
        (col("tf").cast(DoubleType) *
          log(lit(nDocs.toDouble) / col("df_docs").cast(DoubleType))).as("tfidf"))
  }

  // ------------------------------------------------- Gopher quality gates

  /** Gopher-rule stopword list (Rae et al. 2021 §A1.1). */
  val gopherStopwords: scala.Seq[String] =
    scala.Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality gates (Rae et al. 2021, MassiveText
    * filtering): word-count bounds, mean-word-length window, symbol ratio,
    * alpha-word fraction, stopword floor — pure codegen'd projections, and
    * the combined keep verdict. Output columns:
    * (n_words, mean_word_len, frac_alpha, n_symbols, stop_hits, keep). */
  def gopherFlags(text: Column): scala.Seq[Column] = {
    val toks = split(text, " ")
    val nWords = size(toks).cast(LongType)
    val meanLen = (length(text) - (nWords - 1)).cast(DoubleType) /
      nWords.cast(DoubleType)
    val fracAlpha = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast(DoubleType) / nWords.cast(DoubleType)
    val nSymbols = (size(regexp_extract_all(text, lit("#"), lit(0))) +
      size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0)))).cast(LongType)
    val stopHits = listHits(text, gopherStopwords)
    val keep = nWords.between(50, 100000) &&
      meanLen.between(3.0, 10.0) &&
      (nSymbols.cast(DoubleType) / nWords.cast(DoubleType)) <= 0.1 &&
      fracAlpha >= 0.8 && stopHits >= 2
    scala.Seq(nWords.as("n_words"), meanLen.as("mean_word_len"),
      fracAlpha.as("frac_alpha"), nSymbols.as("n_symbols"),
      stopHits.as("stop_hits"), keep.as("keep"))
  }

  // ----------------------------------------------------- repetition stats

  /** Fraction of all word bigrams occupied by the single most frequent
    * one (the Gopher "top-2-gram fraction" repetition filter). 0 for
    * texts with fewer than 2 tokens. Native one-pass expression (per-row
    * hash counting — a projection, not a shuffle). */
  def topBigramFrac(text: Column): Column =
    graft.exprs.TopBigramFracExpr.column(text)

  /** Fraction of duplicate tokens: 1 - distinct/total (type-token
    * inverse; high values flag boilerplate/repetition). */
  def dupTokenFrac(text: Column): Column = {
    val toks = split(text, " ")
    when(size(toks) <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(toks)).cast(DoubleType) / size(toks).cast(DoubleType))
  }

  /** Gopher "duplicate line fraction": share of a document's lines that
    * are repeats of an earlier line in the SAME document (Rae et al.
    * 2021 §A1.1 repetition filters — the within-doc complement of the
    * corpus-wide [[Curation.lineDedupGlobal]]). Pure projection. */
  def dupLineFrac(text: Column, sep: String = "\n"): Column = {
    val lines = split(text, java.util.regex.Pattern.quote(sep))
    when(text.isNull || size(lines) <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(lines)).cast(DoubleType) /
          size(lines).cast(DoubleType))
  }

  /** Gopher "duplicate line character fraction": share of the document's
    * line-characters living in repeated lines (weighted variant of
    * [[dupLineFrac]] — long boilerplate counts more). Characters of every
    * occurrence AFTER a line's first are duplicated. Implemented as
    * array folds inside codegen: total chars minus chars of distinct
    * lines, over total chars. */
  def dupLineCharFrac(text: Column, sep: String = "\n"): Column = {
    val lines = split(text, java.util.regex.Pattern.quote(sep))
    def charSum(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, l) => acc + length(l).cast(LongType))
    val total = charSum(lines)
    val firsts = charSum(array_distinct(lines))
    when(text.isNull || total <= 0, lit(0.0))
      .otherwise((total - firsts).cast(DoubleType) / total.cast(DoubleType))
  }

  /** Gopher "top n-gram character fraction" (n = 2..4): share of token
    * characters covered by occurrences of the most frequent word n-gram
    * (position-marked — overlaps never double-count; ties break to the
    * earliest first occurrence). Native one-pass expression. */
  def topNgramCharFrac(text: Column, n: Int): Column =
    graft.exprs.NgramCoverExpr.column(text, n, dup = false)

  /** Gopher "duplicate n-gram character fraction" (n = 5..10): share of
    * token characters covered by any word n-gram that occurs at least
    * twice in the document (position-marked union over all duplicated
    * n-grams). Native one-pass expression. */
  def dupNgramCharFrac(text: Column, n: Int): Column =
    graft.exprs.NgramCoverExpr.column(text, n, dup = true)

  /** Vocabulary head coverage: the `k` most frequent corpus tokens
    * (count desc, token asc — deterministic) with their cumulative share
    * of the WHOLE corpus token mass in basis points (integer-exact:
    * `10000·cumsum div total`). The statistic behind "how small can the
    * vocab be" tokenizer decisions.
    *
    * Scale shape: one word-count aggregation (map-side combined), a
    * top-k selection (per-partition partial top-k, no full sort), and
    * cumulative arithmetic on the collected k-row head — k is a small
    * constant, so the driver finish is bounded like the union-find
    * finish in [[Graph.connectedComponents]]. Nothing here is a global
    * window over corpus-sized data.
    *
    * Output: (rank, token, n, cum_bp). */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0 && k <= 100000, s"vocab head size must be in (0,100000], got $k")
    val spark = df.sparkSession
    // materialized once (r12): counts feeds the scalar total AND the
    // top-k head — lazily composed, the total's collect re-ran the full
    // corpus explode+aggregate a second time per action. The relation is
    // vocabulary-sized (aggregation output ≪ corpus at any scale).
    val counts = df
      .select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val total = counts.agg(sum(col("n"))).collect()(0).getLong(0)
    val head = counts.orderBy(col("n").desc, col("token")).limit(k).collect()
    var cum = 0L
    val rows = head.zipWithIndex.map { case (r, i) =>
      cum += r.getLong(1)
      (i + 1L, r.getString(0), r.getLong(1), 10000L * cum / total)
    }
    import spark.implicits._
    rows.toSeq.toDF("rank", "token", "n", "cum_bp")
  }

  /** Line-structure quality signals (the C4/RefinedWeb formatting
    * heuristics that complement the token-level Gopher gates): terminal-
    * punctuation line fraction (C4 keeps only sentence-like lines),
    * bullet-line fraction (RefinedWeb flags list-dominated pages), and
    * mean words per line. All array lambdas inside codegen — zero
    * shuffle; fractions are ratios of two integers, bit-exact across
    * engines. Output columns: (n_lines, punct_line_frac,
    * bullet_line_frac, mean_line_words). */
  def lineSignals(text: Column, sep: String = "\n"): scala.Seq[Column] = {
    val lines = split(text, java.util.regex.Pattern.quote(sep))
    val n = size(lines)
    def frac(cnt: Column): Column =
      when(n <= 0, lit(0.0))
        .otherwise(cnt.cast(DoubleType) / n.cast(DoubleType))
    val punct = size(filter(lines, l =>
      l.endsWith(".") || l.endsWith("!") || l.endsWith("?")))
    val bullet = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ")))
    val words = aggregate(lines, lit(0L),
      (acc, l) => acc + size(split(l, " ")).cast(LongType))
    scala.Seq(
      n.cast(LongType).as("n_lines"),
      frac(punct).as("punct_line_frac"),
      frac(bullet).as("bullet_line_frac"),
      when(n <= 0, lit(0.0))
        .otherwise(words.cast(DoubleType) / n.cast(DoubleType))
        .as("mean_line_words"))
  }

  // ------------------------------------------- unicode normalization

  /** Unicode-normalize text (NFC/NFD/NFKC/NFKD or STRIP_ACCENTS) — the
    * canonical-bytes pass before any fingerprint/dedup keying. Native
    * expression, no UDF ser/de. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.exprs.UnicodeNormExpr.column(text, form)

  /** Diacritic folding (NFD → drop combining marks → NFC). */
  def stripAccents(text: Column): Column = normalizeUnicode(text, "STRIP_ACCENTS")

  // ------------------------------------------------------------- chunking

  /** Sliding-window document chunking (context-window prep for training /
    * retrieval): token windows of `window` tokens every `stride` tokens,
    * final partial window kept. A pure projection + generator — the
    * chunk relation never shuffles; chunk text is rebuilt with
    * `array_join(slice(...))` inside codegen.
    *
    * Output: input row × (chunk_ix from 0, chunk_text, chunk_tokens). */
  def chunkOverlap(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"chunkOverlap: need 0 < stride <= window, got window=$window stride=$stride")
    val toks = split(col(textCol), " ")
    val n = size(toks)
    // last start s.t. start <= n-window, plus the tail window when stride
    // doesn't land exactly; single-token docs still yield chunk 0.
    val starts = sequence(lit(1), greatest(n - window + lit(1), lit(1)), lit(stride))
    df.select(col(idCol).as("id"), toks.as("_t"), posexplode(starts).as(scala.Seq("chunk_ix", "_s")))
      .select(col("id"), col("chunk_ix").cast(LongType).as("chunk_ix"),
        array_join(slice(col("_t"), col("_s"), lit(window)), " ").as("chunk_text"),
        least(size(col("_t")) - col("_s") + 1, lit(window)).cast(LongType)
          .as("chunk_tokens"))
  }

  // ----------------------------------------- importance weights (DSIR-ish)

  /** Integer-exact importance-resampling statistic (the DSIR idea —
    * Xie et al. 2023 — with hashed-unigram models and the log-ratio
    * replaced by rational mass sums so the gate can't trip on ln()
    * ulps): for each document, the total target-model count mass and
    * background-model count mass of its tokens. Downstream samplers
    * rank or threshold on target_mass/background_mass.
    *
    * Both models are corpus-derived: target = rows matching
    * `targetPred`, background = everything. Two word-count-shaped
    * aggregations + one token-keyed equi-join; never a cross product.
    * Output: (id, n_tokens, target_mass, background_mass). */
  def importanceMass(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, targetPred: Column): org.apache.spark.sql.DataFrame = {
    val tok = df.select(col(idCol).as("id"), targetPred.as("_tgt"),
      explode(split(col(textCol), " ")).as("tok"))
    val model = tok.groupBy(col("tok")).agg(
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cb"))
    tok.join(model, "tok")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ct")).as("target_mass"),
        sum(col("cb")).as("background_mass"))
  }

  /** Sequence-length histogram in power-of-2 buckets — the corpus
    * profile behind max_seq_len / packing-capacity decisions: how many
    * documents and how much token mass sits in [2^b, 2^(b+1)). The
    * bucket exponent is `length(bin(n)) - 1` (bit length), an integer
    * identity on both engines — no float log2 whose ulp could flip a
    * doc at an exact power of 2.
    *
    * Scale: one projection + one tiny groupBy (≤ 64 buckets).
    * Output: (bucket, bucket_lo, n_docs, tok_sum) by bucket. */
  def lengthHistogram(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(size(split(col(textCol), " ")).cast(LongType).as("_n"))
      .select(col("_n"), expr("length(bin(_n)) - 1").cast(LongType).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("tok_sum"))
      .select(col("bucket"),
        expr("shiftleft(cast(1 as bigint), cast(bucket as int))").as("bucket_lo"),
        col("n_docs"), col("tok_sum"))

  /** Per-group byte/char/word "compression profile" — the
    * tokenizer-fertility heuristic corpora are triaged by: languages or
    * sources whose bytes-per-word (or chars-per-word) ratio is far from
    * the corpus norm tokenize expensively and get re-weighted or
    * re-segmented. Ratios are integer basis points (sum·10000 div
    * denominator) so an external oracle matches bit-for-bit.
    *
    * Scale: one projection (octet/char/word length per row) + one
    * groupBy on the (small) group key — partial aggregation does the
    * work map-side; nothing grows with vocabulary.
    * Output: (group…, n_docs, sum_bytes, sum_chars, sum_words,
    * bytes_per_word_bp, chars_per_word_bp). */
  def compressionProfile(df: org.apache.spark.sql.DataFrame,
      textCol: String,
      groupCols: scala.Seq[String]): org.apache.spark.sql.DataFrame =
    df.select(groupCols.map(col) :+
        octet_length(col(textCol)).cast(LongType).as("_b") :+
        length(col(textCol)).cast(LongType).as("_c") :+
        size(split(col(textCol), " ")).cast(LongType).as("_w"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("_b")).as("sum_bytes"),
        sum(col("_c")).as("sum_chars"), sum(col("_w")).as("sum_words"))
      .withColumn("bytes_per_word_bp",
        expr("sum_bytes * 10000 div sum_words"))
      .withColumn("chars_per_word_bp",
        expr("sum_chars * 10000 div sum_words"))

  /** PMI-proxy collocation mining: corpus bigrams scored by the integer
    * cross-ratio `c_xy · N · 10000 div (c_x · c_y)` — rank-equivalent to
    * pointwise mutual information (log is monotone), with no float in
    * the score, so the top-k replays exactly in an external oracle. The
    * classic phrase-discovery pass (word2vec's phrase step uses these
    * counts) run before tokenizer/vocab decisions. `minCount` guards the
    * low-count PMI explosion.
    *
    * Scale: three word-count-shaped aggs (map-side combined) + two
    * joins keyed by the bigram's words — the unigram relation is
    * vocabulary-sized, the bigram relation df-floored by `minCount`;
    * the 1-row total broadcasts. Top-k is TakeOrdered (no full sort).
    * Output: (bigram, cxy, c1, c2, pmi_bp), score desc / bigram asc. */
  def collocations(df: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    val toks = df.select(explode(split(col(textCol), " ")).as("token"))
    val uni = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    val bg = df.select(explode(wordBigramsRaw(col(textCol))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    bg.withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(uni.toDF("w1", "c1"), "w1")
      .join(uni.toDF("w2", "c2"), "w2")
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("cxy"), col("c1"), col("c2"),
        expr("cxy * n_total * 10000 div (c1 * c2)").as("pmi_bp"))
      .orderBy(col("pmi_bp").desc, col("bigram"))
      .limit(k)
  }

  /** Per-group script/character-class profile: what fraction of content
    * characters are latin letters / digits / whitespace / other — the
    * cheap script-mix signal curation pipelines use to catch mislabeled
    * languages, binary-ish junk, and markup-heavy sources before any
    * model-based language ID runs.
    *
    * Counts are engine-portable: chars-in-class = length(text) −
    * length(text with the class removed), explicit ASCII classes only (no
    * locale-dependent POSIX classes). Pure projection + one map-side
    * combinable aggregation; integer basis points.
    *
    * Output: (group, n_docs, n_chars, latin_bp, digit_bp, space_bp,
    * other_bp). */
  def scriptProfile(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    def inClass(cls: String) =
      (length(t) - length(regexp_replace(t, cls, ""))).cast(LongType)
    df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(t).cast(LongType)).as("n_chars"),
        sum(inClass("[A-Za-z]")).as("_latin"),
        sum(inClass("[0-9]")).as("_digit"),
        sum(inClass("[ ]")).as("_space"))
      .select(col("group"), col("n_docs"), col("n_chars"),
        expr("_latin * 10000 div n_chars").as("latin_bp"),
        expr("_digit * 10000 div n_chars").as("digit_bp"),
        expr("_space * 10000 div n_chars").as("space_bp"),
        expr("(n_chars - _latin - _digit - _space) * 10000 div n_chars")
          .as("other_bp"))
  }
}
