package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryGroup, Tables}
import graft.ext.{Frequency, Retrieval, TextStats, Vocab}

/** Corpus retrieval / tokenization / robust-stats queries over the
  * `documents` table: inverted index, BM25 ranked search, vocabulary
  * encoding, and per-group winsorization. Every oracle spells out the
  * identical arithmetic in DuckDB (numeric literals cast `::DOUBLE`
  * explicitly — DuckDB parses bare decimal literals as DECIMAL, whose
  * arithmetic rounds differently from the IEEE doubles Spark uses).
  */
object RetrievalQueries extends QueryGroup {

  import Tables.load
  import ExtQueries.toksSql

  /** Inverted index: term → df, total_tf, top-10 postings by (tf DESC,
    * doc_id ASC) — the posting cap happens INSIDE the aggregation
    * (bounded TopKAgg buffers), so a Zipf-hot term never ships its full
    * posting universe through the shuffle. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Retrieval.invertedIndex(load(spark, dir, "documents"), maxPostings = 10)
      .orderBy($"term")

  private val invertedIndexSql =
    s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (SELECT term, doc_id, count(*) AS tf
       |       FROM t WHERE term != '' GROUP BY term, doc_id),
       |r AS (SELECT term, doc_id, tf,
       |             row_number() OVER (PARTITION BY term
       |               ORDER BY tf DESC, doc_id) AS rn FROM tf),
       |a AS (SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf
       |      FROM tf GROUP BY term),
       |p AS (SELECT term, string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR,
       |               ',' ORDER BY tf DESC, doc_id) AS postings
       |      FROM r WHERE rn <= 10 GROUP BY term)
       |SELECT a.term, a.df, a.total_tf, p.postings
       |FROM a JOIN p USING (term) ORDER BY a.term""".stripMargin

  /** BM25 top-5 retrieval for 5 probe documents (doc_id % 100 = 0)
    * against the whole corpus. Scores are per-term floor-quantized q4
    * integers summed exactly, so the ranking is bit-reproducible
    * cross-engine (see Retrieval.bm25TopK). */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Retrieval.bm25TopK(docs, docs.where($"doc_id" % 100 === 0), k = 5)
      .orderBy($"q_id", $"rank")
  }

  private val bm25TopKSql =
    s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (SELECT term, doc_id AS n_id, count(*) AS tf
       |       FROM t WHERE term != '' GROUP BY term, doc_id),
       |dl AS (SELECT n_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY n_id),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
       |          FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS q_id, term FROM t
       |       WHERE doc_id % 100 = 0 AND term != ''),
       |c AS (
       |  SELECT qt.q_id, tf.n_id,
       |    floor(
       |      (ln(1.0::DOUBLE + (s.n_docs - f.df + 0.5::DOUBLE)
       |                        / (f.df + 0.5::DOUBLE))
       |       * ((tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
       |          / (tf.tf + 1.2::DOUBLE *
       |              ((1.0::DOUBLE - 0.75::DOUBLE)
       |               + (0.75::DOUBLE * dl.dl)
       |                 / (s.sum_dl::DOUBLE / s.n_docs::DOUBLE)))))
       |      * 10000.0::DOUBLE)::BIGINT AS c_q4
       |  FROM tf JOIN qt USING (term) JOIN dfreq f USING (term)
       |          JOIN dl USING (n_id) CROSS JOIN stats s
       |  WHERE qt.q_id != tf.n_id),
       |sc AS (SELECT q_id, n_id, sum(c_q4)::BIGINT AS score_q4
       |       FROM c GROUP BY q_id, n_id),
       |r AS (SELECT q_id, n_id, score_q4,
       |             row_number() OVER (PARTITION BY q_id
       |               ORDER BY score_q4 DESC, n_id) AS rank FROM sc)
       |SELECT q_id, rank::BIGINT AS rank, n_id, score_q4
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Vocabulary encode: top-24 pieces by (count DESC, piece ASC) get
    * ids 1..24 (the corpus has 31 distinct pieces, so OOV → 0 really
    * occurs); each doc emits its piece count, OOV count, and the first
    * 32 ids as csv. The encode pass is a zero-shuffle map-literal scan. */
  def tokenizeIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Vocab.encode(docs, Vocab.buildVocab(docs, size = 24), headIds = 32)
      .orderBy($"doc_id")
  }

  private val piecesSql =
    s"regexp_extract_all(lower(coalesce(text, '')), '${TextStats.pieceRegexp}')"

  private val tokenizeIdsSql =
    s"""WITH pc AS (
       |  SELECT unnest($piecesSql) AS piece FROM documents),
       |cnt AS (SELECT piece, count(*) AS n FROM pc GROUP BY piece),
       |v AS (SELECT piece, id FROM (
       |        SELECT piece, row_number() OVER (ORDER BY n DESC, piece) AS id
       |        FROM cnt) WHERE id <= 24),
       |d AS (SELECT doc_id, $piecesSql AS ps FROM documents),
       |e AS (SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
       |        i -> struct_pack(pos := i, piece := ps[i]))) AS u FROM d),
       |ep AS (SELECT doc_id, u.pos AS pos, u.piece AS piece FROM e),
       |j AS (SELECT ep.doc_id, ep.pos, coalesce(v.id, 0) AS tid
       |      FROM ep LEFT JOIN v ON ep.piece = v.piece),
       |ids AS (SELECT doc_id, list(tid ORDER BY pos) AS ids
       |        FROM j GROUP BY doc_id)
       |SELECT d.doc_id, len(d.ps)::BIGINT AS n_pieces,
       |       coalesce(len(list_filter(i.ids, x -> x = 0)), 0)::BIGINT AS n_oov,
       |       coalesce(array_to_string(i.ids[1:32], ','), '') AS ids_csv
       |FROM d LEFT JOIN ids i USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** Winsorization: clip n_chars at the exact per-language [p05, p95]
    * (distributed-selection quantiles; the GROUP-sized bounds table
    * broadcasts back — the row side never shuffles). */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
    Frequency.winsorize(load(spark, dir, "documents"), "lang", "n_chars",
        0.05, 0.95)
      .select($"doc_id", $"lang", $"n_chars",
        $"lo".cast("long").as("lo"), $"hi".cast("long").as("hi"),
        $"clipped".cast("long").as("clipped"), $"was_clipped")
      .orderBy($"doc_id")

  private val winsorizeSql =
    """WITH q AS (
      |  SELECT lang, quantile_disc(n_chars, 0.05) AS lo,
      |         quantile_disc(n_chars, 0.95) AS hi
      |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      |  GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |       q.lo::BIGINT AS lo, q.hi::BIGINT AS hi,
      |       least(greatest(d.n_chars, q.lo), q.hi)::BIGINT AS clipped,
      |       (d.n_chars < q.lo OR d.n_chars > q.hi) AS was_clipped
      |FROM documents d JOIN q USING (lang)
      |WHERE d.n_chars IS NOT NULL ORDER BY d.doc_id""".stripMargin

  /** Exact phrase search: 3-word probe phrases (the first three tokens
    * of every doc_id % 100 = 1 document) located across the whole
    * corpus with exact occurrence counts, via the positional-index
    * intersect (phrase table broadcasts; only candidate votes shuffle).
    * The oracle is an INDEPENDENT formulation — a per-document array
    * scan comparing token slices — so the hash match pins phrase
    * semantics (adjacency, overlaps, repeated terms), not a replay. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val probes = docs.where($"doc_id" % 100 === 1)
      .select($"doc_id".as("phrase_id"),
        array_join(slice(TextStats.tokens($"text"), 1, 3), " ").as("phrase"))
    Retrieval.phraseSearch(docs, probes)
      .orderBy($"phrase_id", $"doc_id")
  }

  private val phraseSearchSql =
    s"""WITH p AS (
       |  SELECT doc_id AS phrase_id,
       |         list_slice($toksSql, 1, 3) AS ptoks
       |  FROM documents WHERE doc_id % 100 = 1),
       |d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |m AS (
       |  SELECT p.phrase_id, d.doc_id,
       |         len(list_filter(range(1, len(d.toks) + 1),
       |             s -> d.toks[s:(s + len(p.ptoks) - 1)] = p.ptoks))::BIGINT
       |           AS n_occ
       |  FROM p CROSS JOIN d)
       |SELECT phrase_id, doc_id, n_occ FROM m WHERE n_occ > 0
       |ORDER BY phrase_id, doc_id""".stripMargin

  /** Proximity (NEAR/3) search ([[graft.ext.Retrieval.nearSearch]]):
    * docs where 'value' and 'table' sit within three token positions,
    * with pair count and minimum distance — between bag-of-words AND
    * and exact phrase match. */
  def nearSearchQ(spark: SparkSession, dir: String): DataFrame =
    Retrieval.nearSearch(load(spark, dir, "documents"), "value", "table", 3)
      .orderBy($"doc_id")

  private val nearSearchSql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |pa AS (SELECT doc_id, unnest(list_filter(range(1, len(toks) + 1),
       |         i -> toks[i] = 'value')) AS p FROM d),
       |pb AS (SELECT doc_id, unnest(list_filter(range(1, len(toks) + 1),
       |         i -> toks[i] = 'table')) AS p FROM d)
       |SELECT pa.doc_id, count(*)::BIGINT AS n_pairs,
       |       min(abs(pa.p - pb.p))::BIGINT AS min_dist
       |FROM pa JOIN pb USING (doc_id)
       |WHERE abs(pa.p - pb.p) <= 3
       |GROUP BY pa.doc_id ORDER BY pa.doc_id""".stripMargin

  /** Blocklist screening: every doc scored against three banned
    * bigrams; cardinality-preserving (n_hits, blocked) report. */
  def blocklistQ(spark: SparkSession, dir: String): DataFrame =
    Retrieval.blocklistFilter(load(spark, dir, "documents"),
        Seq("table hash", "big order", "slow key"))
      .orderBy($"doc_id")

  private val blocklistSql =
    s"""WITH p AS (SELECT * FROM (VALUES
       |    (['table', 'hash']), (['big', 'order']), (['slow', 'key']))
       |    AS t(ptoks)),
       |d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |m AS (
       |  SELECT d.doc_id,
       |         sum(len(list_filter(range(1, len(d.toks) + 1),
       |             s -> d.toks[s:(s + len(p.ptoks) - 1)] = p.ptoks)))::BIGINT
       |           AS n_hits
       |  FROM p CROSS JOIN d GROUP BY d.doc_id)
       |SELECT d.doc_id, coalesce(m.n_hits, 0)::BIGINT AS n_hits,
       |       coalesce(m.n_hits, 0) > 0 AS blocked
       |FROM d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** Median/MAD robust outlier detection on events.value (as exact q4
    * fixed point) per event type, emitting only the flagged rows — two
    * distributed-selection quantile passes, group-sized frames
    * broadcast back, the row side never shuffles. */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events").where($"user_id" % 5 === 0)
      .select($"event_id", $"event_type",
        floor($"value" * lit(10000.0)).cast("long").as("v_q4"))
    Frequency.madOutliers(ev, "event_type", "v_q4", k = 3.0)
      .where($"is_outlier")
      .select($"event_id", $"event_type", $"v_q4",
        $"med".cast("long").as("med_q4"), $"mad".cast("long").as("mad_q4"))
      .orderBy($"event_id")
  }

  private val outlierMadSql =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |         floor(value * 10000.0::DOUBLE)::BIGINT AS v_q4
      |  FROM events WHERE user_id % 5 = 0),
      |m AS (SELECT event_type, quantile_disc(v_q4, 0.5) AS med
      |      FROM e GROUP BY event_type),
      |d AS (SELECT e.event_id, e.event_type, e.v_q4, m.med,
      |             abs(e.v_q4 - m.med) AS dev
      |      FROM e JOIN m USING (event_type)),
      |s AS (SELECT event_type, quantile_disc(dev, 0.5) AS mad
      |      FROM d GROUP BY event_type)
      |SELECT d.event_id, d.event_type, d.v_q4,
      |       d.med::BIGINT AS med_q4, s.mad::BIGINT AS mad_q4
      |FROM d JOIN s USING (event_type)
      |WHERE d.dev > 3.0::DOUBLE * s.mad
      |ORDER BY d.event_id""".stripMargin

  /** Grouped Pearson correlation + simple OLS of event value (integer
    * floor) against hour-of-day, per event type — exact integer
    * co-moments (order-independent long sums), floating point only in
    * the final per-group formula the oracle spells identically. */
  /** Tokenizer coverage audit: per source, total pieces, OOV pieces,
    * and the OOV rate in basis points against a top-24 vocabulary —
    * the "does this tokenizer fit this corpus slice" report run before
    * committing a vocab. Composes the bounded vocab build + narrow
    * encode with one rollup; exact integer arithmetic end to end. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Vocab.encode(docs, Vocab.buildVocab(docs, size = 24))
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_pieces").as("n_pieces"),
        sum($"n_oov").as("n_oov"))
      .withColumn("oov_bp", expr("(10000 * n_oov) div n_pieces"))
      .orderBy($"source")
  }

  private val vocabCoverageSql =
    s"""WITH pc AS (
       |  SELECT doc_id, unnest($piecesSql) AS piece FROM documents),
       |cnt AS (SELECT piece, count(*) AS n FROM pc GROUP BY piece),
       |v AS (SELECT piece FROM (
       |        SELECT piece, row_number() OVER (ORDER BY n DESC, piece) AS id
       |        FROM cnt) WHERE id <= 24),
       |c AS (SELECT pc.doc_id, count(*) AS np,
       |             sum(CASE WHEN v.piece IS NULL THEN 1 ELSE 0 END) AS no
       |      FROM pc LEFT JOIN v USING (piece) GROUP BY pc.doc_id)
       |SELECT d.source, count(*)::BIGINT AS n_docs,
       |       sum(coalesce(c.np, 0))::BIGINT AS n_pieces,
       |       sum(coalesce(c.no, 0))::BIGINT AS n_oov,
       |       ((10000 * sum(coalesce(c.no, 0)))
       |          // sum(coalesce(c.np, 0)))::BIGINT AS oov_bp
       |FROM documents d LEFT JOIN c USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  def corrOls(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
      .select($"event_type",
        expr("hour(ts)").cast("long").as("x"),
        floor($"value").cast("long").as("y"))
    graft.ops.Moments.corrOls(ev, "event_type", "x", "y")
      .orderBy($"event_type")
  }

  private val corrOlsSql =
    """WITH e AS (
      |  SELECT event_type, hour(CAST(ts AS TIMESTAMP))::BIGINT AS x,
      |         floor(value)::BIGINT AS y
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
      |m AS (
      |  SELECT event_type, count(*)::BIGINT AS n,
      |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
      |         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
      |         sum(y * y)::BIGINT AS syy
      |  FROM e GROUP BY event_type),
      |d AS (
      |  SELECT event_type, n,
      |         (n * sxy - sx * sy)::BIGINT AS covn,
      |         (n * sxx - sx * sx)::BIGINT AS varxn,
      |         (n * syy - sy * sy)::BIGINT AS varyn,
      |         sx, sy
      |  FROM m)
      |SELECT event_type, n,
      |  CASE WHEN varxn > 0 AND varyn > 0 THEN
      |    floor((covn::DOUBLE / sqrt(varxn::DOUBLE * varyn::DOUBLE))
      |          * 1000000.0::DOUBLE)::BIGINT END AS corr_q6,
      |  CASE WHEN varxn > 0 THEN
      |    floor((covn::DOUBLE / varxn::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
      |  END AS slope_q6,
      |  CASE WHEN varxn > 0 THEN
      |    floor(((sy::DOUBLE - (covn::DOUBLE / varxn::DOUBLE) * sx::DOUBLE)
      |           / n::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
      |  END AS intercept_q6
      |FROM d ORDER BY event_type""".stripMargin

  /** Per-returnflag Gram moments for a 3-feature price model
    * (quantity, discount bp, tax bp → whole-unit price): the exact
    * integer distributed half of normal-equation regression (the
    * driver-side solve is left out: floats can't hash cross-engine,
    * moments can). */
  def olsMoments(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem").select(
      $"l_returnflag",
      $"l_quantity".cast("long").as("qty"),
      round($"l_discount" * 10000).cast("long").as("disc_bp"),
      round($"l_tax" * 10000).cast("long").as("tax_bp"),
      round($"l_extendedprice").cast("long").as("price"))
    graft.ops.Moments.gramMoments(li, "l_returnflag",
        Seq("qty", "disc_bp", "tax_bp"), "price")
      .orderBy($"l_returnflag")
  }

  private val olsMomentsSql =
    """WITH e AS (
      |  SELECT l_returnflag,
      |         l_quantity::BIGINT AS x0,
      |         (round(l_discount * 10000))::BIGINT AS x1,
      |         (round(l_tax * 10000))::BIGINT AS x2,
      |         (round(l_extendedprice))::BIGINT AS y
      |  FROM lineitem
      |  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
      |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL
      |    AND l_extendedprice IS NOT NULL)
      |SELECT l_returnflag, count(*)::BIGINT AS n,
      |       sum(x0)::BIGINT AS sx0, sum(x1)::BIGINT AS sx1,
      |       sum(x2)::BIGINT AS sx2,
      |       sum(x0 * x0)::BIGINT AS g0_0, sum(x0 * x1)::BIGINT AS g0_1,
      |       sum(x0 * x2)::BIGINT AS g0_2, sum(x1 * x1)::BIGINT AS g1_1,
      |       sum(x1 * x2)::BIGINT AS g1_2, sum(x2 * x2)::BIGINT AS g2_2,
      |       sum(x0 * y)::BIGINT AS sxy0, sum(x1 * y)::BIGINT AS sxy1,
      |       sum(x2 * y)::BIGINT AS sxy2,
      |       sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS syy
      |FROM e GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact two-sample KS drift per event type: value distribution of
    * the first half of January vs the second, as an integer basis-point
    * statistic. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    Frequency.ksDrift(ev, "event_type", "value", ev("ts") < "2024-01-16")
      .orderBy($"event_type")
  }

  private val ksDriftSql =
    """WITH e AS (
      |  SELECT event_type AS g, value AS v,
      |         CASE WHEN ts < '2024-01-16' THEN 1 ELSE 0 END AS in1
      |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |pv AS (SELECT g, v, sum(in1)::BIGINT AS d1,
      |       sum(1 - in1)::BIGINT AS d2 FROM e GROUP BY g, v),
      |c AS (SELECT g, v,
      |      sum(d1) OVER (PARTITION BY g ORDER BY v) AS c1,
      |      sum(d2) OVER (PARTITION BY g ORDER BY v) AS c2,
      |      sum(d1) OVER (PARTITION BY g) AS n1,
      |      sum(d2) OVER (PARTITION BY g) AS n2
      |      FROM pv)
      |SELECT g AS event_type, n1::BIGINT AS n1, n2::BIGINT AS n2,
      |       ((10000 * max(abs(c1 * n2 - c2 * n1))) // (n1 * n2))::BIGINT
      |         AS ks_bp
      |FROM c WHERE n1 > 0 AND n2 > 0
      |GROUP BY g, n1, n2 ORDER BY event_type""".stripMargin

  /** Interpolated per-type value percentiles (percentile_cont
    * semantics) via the distributed-selection machinery — checked
    * against DuckDB's NATIVE quantile_cont, an independent
    * implementation of the same definition. */
  def quantileCont(spark: SparkSession, dir: String): DataFrame =
    Frequency.exactQuantilesCont(
        load(spark, dir, "events").select($"event_type", $"value"),
        "event_type", "value", Seq(0.5, 0.9))
      .select($"event_type", round($"p50", 4).as("p50"),
        round($"p90", 4).as("p90"))
      .orderBy($"event_type")

  private val quantileContSql =
    """SELECT event_type,
      |       round(quantile_cont(value, 0.5), 4) AS p50,
      |       round(quantile_cont(value, 0.9), 4) AS p90
      |FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("ext_quantile_cont", quantileCont, Some(quantileContSql)),
    QueryDef("ext_corr_ols", corrOls, Some(corrOlsSql)),
    QueryDef("ext_ols_moments", olsMoments, Some(olsMomentsSql)),
    QueryDef("ext_ks_drift", ksDrift, Some(ksDriftSql)),
    QueryDef("ext_inverted_index", invertedIndex, Some(invertedIndexSql)),
    QueryDef("ext_bm25_topk", bm25TopK, Some(bm25TopKSql)),
    QueryDef("ext_tokenize_ids", tokenizeIds, Some(tokenizeIdsSql)),
    QueryDef("ext_vocab_coverage", vocabCoverage, Some(vocabCoverageSql)),
    QueryDef("ext_winsorize", winsorize, Some(winsorizeSql)),
    QueryDef("ext_phrase_search", phraseSearch, Some(phraseSearchSql)),
    QueryDef("ext_near_search", nearSearchQ, Some(nearSearchSql)),
    QueryDef("ext_blocklist", blocklistQ, Some(blocklistSql)),
    QueryDef("ext_outlier_mad", outlierMad, Some(outlierMadSql)))
}
