package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed text indexing & retrieval for corpus curation: phrase
  * statistics, document commonness and a fully integer-deterministic BM25
  * variant for benchmark-decontamination / targeted-subset retrieval
  * (the "retrieve training docs matching an eval set" pass).
  *
  * Everything is rank-deterministic in integer arithmetic — no `ln`, no
  * doubles — so an external SQL oracle replays every score bit-exactly.
  *
  * Scale notes (100 TB posture): (doc, term) rows are produced by one
  * explode whose very next operator filters to the query vocabulary, so the
  * shuffle carries only matching (doc, term) rows — O(hits), not
  * O(corpus tokens). Corpus-level stats (N, total tokens) are a 1-row
  * aggregate joined on a constant key with a broadcast hint
  * (BroadcastHashJoin, not a nested-loop cross). Per-term document
  * frequencies are a query-vocabulary-sized relation — broadcast. Top-k
  * is `orderBy().limit()` → TakeOrdered, never a global sort.
  */
object Index {

  /** Exact phrase statistics: for each phrase, the number of documents
    * containing it and the total occurrence count. Computed as position
    * n-grams rebuilt inside codegen (array slice + join — a pure
    * projection) with the phrase filter applied before the aggregation
    * shuffle, so shuffled rows are O(phrase hits). Phrases of different
    * word counts are unioned (one pass per distinct length — lengths in
    * a query set are few). Output: (phrase, n_docs, n_occ), phrase asc;
    * phrases with zero hits are absent (a corpus-scale engine reports
    * hits, not the query list). */
  def phraseHits(df: DataFrame, idCol: String, textCol: String,
      phrases: scala.Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phraseHits needs at least one phrase")
    val byLen = phrases.groupBy(_.split(" ").length)
    val grams = byLen.map { case (len, ps) =>
      // guard: a doc shorter than the phrase emits no n-grams (an
      // unguarded sequence(1, 0) infers step -1 and reaches slice(_, 0),
      // which throws at runtime)
      df.select(col(idCol).as("did"), split(col(textCol), " ").as("toks"))
        .select(col("did"), explode(when(size(col("toks")) >= len,
          transform(sequence(lit(1), size(col("toks")) - (len - 1)),
            i => array_join(slice(col("toks"), i, lit(len)), " ")))
          .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))).as("phrase"))
        .filter(col("phrase").isin(ps: _*))
    }.reduce(_ unionByName _)
    grams.groupBy(col("phrase"))
      .agg(count_distinct(col("did")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .orderBy(col("phrase"))
  }

  /** Corpus stats (1 row, constant join key): document count and total
    * token count. Joined with a broadcast hint on the constant key so the
    * plan is a BroadcastHashJoin — audit-clean at any corpus size. */
  private def corpusStats(docs: DataFrame): DataFrame =
    broadcast(docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens")).withColumn("_one", lit(1)))

  /** Integer-deterministic BM25 top-k retrieval. The classic scoring
    * shape (Robertson-Sparck Jones idf × saturated tf with length
    * normalization) with the logarithmic idf replaced by the inverse
    * document-frequency ratio in basis points — rank behavior matches
    * BM25's "rarer term ⇒ larger weight, tf saturates at k1, long docs
    * discounted by b", while every score stays in BIGINT arithmetic an
    * oracle replays exactly:
    *
    *   idf_bp  = N·10000 div df(t)
    *   norm    = 100 − b_c + b_c·dl·N div Σdl        (b_c = 100·b)
    *   s(t,d)  = idf_bp·tf·(100 + k1_c) div (tf·100 + k1_c·norm)
    *   score   = Σ_t s(t,d); ties → id asc
    *
    * Plan: explode→term filter (O(hits) shuffle) → per-(doc,term) tf →
    * broadcast df join → broadcast 1-row stats join → per-doc sum →
    * TakeOrdered k. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: scala.Seq[String], k: Int, k1c: Int = 120, bc: Int = 75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val docs = df.select(col(idCol).as("did"),
      TextStats.nTokens(col(textCol)).as("dl"), split(col(textCol), " ").as("toks"))
    val tf = docs.select(col("did"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("did"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "token")
      .withColumn("_one", lit(1))
      .join(corpusStats(docs), "_one")
      .withColumn("s_term",
        expr(s"(n_docs * 10000 div df) * tf * ${100 + k1c} div " +
          s"(tf * 100 + $k1c * (100 - $bc + $bc * dl * n_docs div total_tokens))"))
      .groupBy(col("did"))
      .agg(sum(col("s_term")).as("score_bp"))
      .orderBy(col("score_bp").desc, col("did"))
      .limit(k)
  }

  /** Token-commonness score in basis points — the integer analog of the
    * CCNet unigram-LM signal: the mean corpus document-frequency of the
    * document's token occurrences, scaled to [0, 10000]. High = built
    * from ubiquitous tokens (boilerplate-ish), low = rare vocabulary.
    *
    *   common_bp(d) = (Σ_{occurrences t∈d} df(t)) · 10000
    *                    div (|d| · N)
    *
    * Plan: one explode keyed by token for the df aggregate (word-count
    * shape, map-side combined), an equi-join of occurrences against the
    * vocabulary-sized df relation, then a per-doc sum co-keyed on the
    * document id. 1-row N joins on a constant key, broadcast. */
  def commonnessBp(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = df.select(col(idCol).as("did"),
      TextStats.nTokens(col(textCol)).as("dl"), split(col(textCol), " ").as("toks"))
    val occ = docs.select(col("did"), col("dl"), explode(col("toks")).as("token"))
    val dfreq = occ.groupBy(col("token"))
      .agg(count_distinct(col("did")).as("df"))
    val nDocs = broadcast(
      docs.agg(count(lit(1)).as("n_docs")).withColumn("_one", lit(1)))
    occ.join(dfreq, "token")
      .groupBy(col("did"), col("dl"))
      .agg(sum(col("df")).as("sum_df"))
      .withColumn("_one", lit(1))
      .join(nDocs, "_one")
      .select(col("did"), expr("sum_df * 10000 div (dl * n_docs)").as("common_bp"))
  }

  /** Lexical retrieval by distinct-token overlap: for each query document,
    * the top-k corpus documents ranked by |tokens(q) ∩ tokens(d)| — the
    * candidate-generation stage of a sparse retriever (a df-weighted score
    * drops in by joining a df relation here; the overlap count keeps the
    * gate integer-exact). Self-matches are excluded.
    *
    * Plan: the query token set is tiny (|queries| docs) — broadcast, so
    * the corpus-side posting explode never shuffles for the join; only
    * matching (qid, did) rows reach the count aggregate, O(hits). At
    * deploy scale, filter stopwords (df cap) before the join so ubiquitous
    * tokens don't inflate the hit relation. Output: (qid, vid, rnk). */
  def overlapTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    def toks(d: DataFrame, as: String) = d.select(col(idCol).as(as),
      explode(array_distinct(split(col(textCol), " "))).as("token"))
    val hits = toks(corpus, "vid").join(broadcast(toks(queries, "qid")), "token")
      .filter(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid")).agg(count(lit(1)).as("ov"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ov").desc, col("vid"))
    hits.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("vid"), col("rnk"))
  }

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR'09) of ranked lists —
    * the standard hybrid-retrieval combiner (BM25 ⊕ dense ANN). Each list
    * is (qid, vid, rnk); an entry contributes floor(1000000 / (k0 + rnk))
    * so scores stay integer-exact for the oracle. Ties break on vid.
    *
    * Plan: union of the (small, k-bounded per query) lists → one groupBy
    * on (qid, vid) → per-query window top-k. Every relation after the
    * union is O(queries · k · lists) — negligible at any corpus scale;
    * the cost lives in the upstream retrievers. */
  def rrfFuse(lists: scala.Seq[DataFrame], k0: Int, topK: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val scored = lists.map(_.select(col("qid"), col("vid"),
      (lit(1000000L) / (lit(k0.toLong) + col("rnk"))).cast(
        org.apache.spark.sql.types.LongType).as("s")))
    val fused = scored.reduce(_ unionByName _)
      .groupBy(col("qid"), col("vid")).agg(sum(col("s")).as("rrf_bp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rrf_bp").desc, col("vid"))
    fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("qid"), col("vid"), col("rrf_bp"), col("rnk"))
  }
}
