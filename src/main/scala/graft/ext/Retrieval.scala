package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus retrieval operators for training-data pipelines: inverted
  * index construction and BM25 ranked search. Together they are the
  * "find everything about X in the corpus" path a curation team runs
  * next to dedup/filtering (and the index is the natural substrate for
  * the decontamination overlap join).
  *
  * Scale shape, deliberately:
  *  - the corpus is read ONCE into a (term, doc, tf) aggregate whose
  *    exchange is map-side combined — distinct (term, doc) pairs
  *    shuffle, never raw token occurrences;
  *  - posting lists are capped INSIDE the aggregation via the bounded
  *    [[graft.ops.TopK.TopKAgg]] buffer (partial buffers hold ≤ k
  *    entries, so a hot term — a stopword with 10^9 postings — ships
  *    ≤ k rows per partition instead of its whole posting universe);
  *  - BM25 probes ride a BROADCAST to the tf table: the corpus side
  *    never reshuffles for the query workload, and the only exchange
  *    after scoring is on the (query, doc) candidate pairs — bounded
  *    by matches, not by corpus size.
  */
object Retrieval {

  /** Inverted index over `docs(textCol)`: one row per term with
    *  - `df`       — document frequency (exact, over ALL postings),
    *  - `total_tf` — total occurrences (exact),
    *  - `postings` — the top-`maxPostings` documents by (tf DESC,
    *    doc_id ASC) as a `"doc:tf,doc:tf,…"` string.
    *
    * The cap is the point: real vocabularies are Zipfian, and an
    * uncapped posting list for a stopword is a single-reducer row of
    * unbounded width. df/total_tf stay exact because they aggregate
    * the same pre-capped (term, doc, tf) frame the buffer prunes —
    * one groupBy, one exchange, counts and capped list side by side
    * (the composability the TopKAgg exists for). */
  def invertedIndex(docs: DataFrame, maxPostings: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    val topk = udaf(new graft.ops.TopK.TopKAgg(maxPostings),
      ExpressionEncoder[(Double, Long)]())
    docs
      .select(col(idCol), explode(TextStats.tokens(col(textCol))).as("term"))
      .where(col("term") =!= "")
      .groupBy($"term", col(idCol))
      .agg(count(lit(1)).as("tf"))
      .groupBy($"term")
      .agg(
        count(lit(1)).as("df"),
        sum($"tf").as("total_tf"),
        topk($"tf".cast("double"), col(idCol).cast("long")).as("_top"))
      .select($"term", $"df", $"total_tf",
        array_join(transform($"_top",
          e => concat(e.getField("_2").cast("string"), lit(":"),
            e.getField("_1").cast("long").cast("string"))), ",").as("postings"))
  }

  /** BM25 ranked retrieval: for each query document (bag of DISTINCT
    * terms) return the `k` best corpus documents by
    *
    *   score = Σ_t  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t) = ln(1 + (N − df + 0.5) / (df + 0.5))
    *
    * (Robertson/Spärck Jones BM25 with the standard k1=1.2, b=0.75).
    * Each term's contribution is floor-quantized to q4 fixed point
    * BEFORE the sum, so the aggregate is an order-independent integer
    * sum — double summation order across partitions is not
    * deterministic, but a sum of longs is, and every q4 term value is
    * itself a deterministic chain of correctly-rounded IEEE ops (the
    * same cross-engine determinism contract as `tfidf`'s rounded
    * score; see qualityQ4's scaladoc for the arithmetic rules).
    *
    * Plan: tf/df/avgdl are corpus-side aggregates (map-side combined);
    * the query term set broadcasts onto the tf table (the corpus never
    * reshuffles for the probe workload — the decontamination shape);
    * the only post-scoring exchange carries (query, doc) candidates.
    * Top-k per query is a rank window over that bounded candidate
    * frame. Self-matches are excluded (a probe drawn from the corpus
    * would trivially retrieve itself). */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = TextStats.tokens(col(textCol))
    val tf = corpus
      .select(col(idCol).as("n_id"), explode(toks).as("term"))
      .where($"term" =!= "")
      .groupBy($"term", $"n_id")
      .agg(count(lit(1)).as("tf"))
      .persistScoped
    val dl = tf.groupBy($"n_id").agg(sum($"tf").as("dl"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val qTerms = queries
      .select(col(idCol).as("q_id"), explode(toks).as("term"))
      .where($"term" =!= "")
      .distinct()
    // Score each (term, doc) posting ONCE — the BM25 contribution is
    // independent of which query retrieves it — and only THEN fan out
    // to (q_id, doc) candidates (r12 optimization, guide §1.2/§2.3:
    // the old order joined qTerms FIRST, so the idf/saturation floating
    // math re-ran per matching QUERY — a query-fanout-sized multiplier
    // on the hot math). The semi-join keeps the math to postings some
    // query actually touches; quantized contributions are longs, so the
    // per-(q, doc) sum is order-independent and the result identical.
    val scoredTf = tf
      .join(broadcast(qTerms.select($"term").distinct()), Seq("term"),
        "left_semi")
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("n_id"))
      .crossJoin(broadcast(stats))
      // idf, saturation, and the quantizer — ln and / are evaluated in
      // the exact same structural order the DuckDB oracle spells out
      .withColumn("_avgdl",
        $"sum_dl".cast("double") / $"n_docs".cast("double"))
      .withColumn("_idf",
        log(lit(1.0) + ($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("_sat",
        ($"tf" * lit(k1 + 1.0)) /
          ($"tf" + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / $"_avgdl")))
      .withColumn("_c_q4", floor($"_idf" * $"_sat" * lit(10000.0)).cast("long"))
      .select($"term", $"n_id", $"_c_q4")
    val scored = scoredTf
      .join(broadcast(qTerms), Seq("term"))
      .where($"q_id" =!= $"n_id")
      .groupBy($"q_id", $"n_id")
      .agg(sum($"_c_q4").as("score_q4"))
    val w = Window.partitionBy($"q_id").orderBy($"score_q4".desc, $"n_id".asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"q_id", $"rank".cast("long").as("rank"), $"n_id", $"score_q4")
  }

  /** Exact n-word PHRASE search over positional postings — the query
    * class bag-of-words retrieval ([[bm25TopK]]) cannot answer.
    * `phrases` is `(phrase_id, phrase)`; returns `(phrase_id, doc_id,
    * n_occ)` for every document containing the phrase as consecutive
    * tokens, with the exact occurrence count.
    *
    * Formulation is the classic positional-index intersect: each corpus
    * token position joins the (broadcast) phrase-term table, every
    * match votes for the phrase start `pos − offset` it would imply,
    * and a start that collects ALL `plen` offsets is an occurrence.
    * Repeated terms inside a phrase are handled by construction — a
    * (phrase, doc, start, offset) vote is unique, so the count reaches
    * `plen` iff every slot matches.
    *
    * Scale shape: the corpus explode is narrow; the phrase table is
    * query-sized and BROADCASTS, so the corpus never reshuffles for the
    * probe workload (the bm25/decontamination contract); the only
    * exchange carries candidate votes — positions whose token appears
    * in some phrase — which selective phrases keep far below corpus
    * position count. A stopword-heavy phrase degrades toward its
    * posting volume, exactly as in a posting-list engine. */
  /** PROXIMITY (NEAR/k) search: documents where `termA` and `termB`
    * occur within `window` token positions of each other, any order —
    * the retrieval predicate between bag-of-words AND and exact phrase
    * match. Per qualifying doc: the number of proximate position pairs
    * and the minimum distance.
    *
    * Scale shape: one narrow position explode filtered to the two query
    * terms (posting-list sized from then on), re-keyed on doc_id for
    * the pairing join — the corpus itself never shuffles. */
  def nearSearch(corpus: DataFrame, termA: String, termB: String,
      window: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(termA != termB, "proximity terms must differ")
    val positions = corpus
      .select(col(idCol).as("doc_id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "term")))
      .where($"term" === termA || $"term" === termB)
    val pa = positions.where($"term" === termA)
      .select($"doc_id", $"pos".as("_pa"))
    val pb = positions.where($"term" === termB)
      .select($"doc_id", $"pos".as("_pb"))
    pa.join(pb, "doc_id")
      .where(abs($"_pa" - $"_pb") <= window)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs($"_pa" - $"_pb")).cast("long").as("min_dist"))
  }

  def phraseSearch(corpus: DataFrame, phrases: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pt = phrases
      .select($"phrase_id",
        posexplode(TextStats.tokens($"phrase")).as(Seq("off", "term")))
      .where($"term" =!= "")
    val plen = pt.groupBy($"phrase_id").agg(count(lit(1)).as("_plen"))
    val pterms = pt.join(plen, "phrase_id")
    val positions = spreadToSlots(corpus, idCol)
      .select(col(idCol).as("doc_id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "term")))
      .where($"term" =!= "")
    positions.join(broadcast(pterms), Seq("term"))
      .select($"phrase_id", $"doc_id", ($"pos" - $"off").as("start"), $"_plen")
      .where($"start" >= 0)
      .groupBy($"phrase_id", $"doc_id", $"start", $"_plen")
      .agg(count(lit(1)).as("_hit"))
      .where($"_hit" === $"_plen")
      .groupBy($"phrase_id", $"doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Banned-phrase blocklist screening — the NSFW / policy-phrase
    * curation gate: every document gets `(n_hits, blocked)` against a
    * literal phrase list, cardinality-preserving so the caller decides
    * drop vs quarantine vs audit. Built on [[phraseSearch]], so the
    * blocklist BROADCASTS and the corpus never reshuffles for the
    * screen; exact consecutive-token matches, not substring matches
    * ("class" never blocks on "ass"). */
  def blocklistFilter(corpus: DataFrame, banned: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(banned.nonEmpty, "banned phrase list must not be empty")
    val spark = corpus.sparkSession
    val phrases = spark
      .createDataFrame(banned.zipWithIndex.map { case (p, i) => (i.toLong, p) })
      .toDF("phrase_id", "phrase")
    val hits = phraseSearch(corpus, phrases, idCol, textCol)
      .groupBy($"doc_id").agg(sum($"n_occ").as("n_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)) > 0).as("blocked"))
  }
}
