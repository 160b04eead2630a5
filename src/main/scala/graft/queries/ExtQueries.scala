package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryGroup, Tables}
import graft.ext.{Association, Contamination, Dedup, Frequency, Sampling, ScopedPersist, Similarity, TextStats}

/** Extended LLM-data-pipeline operators (SURVEY §7.9) as oracle-checked
  * queries over `documents` / `embeddings`: dedup (exact, MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding-cosine), similarity search, and
  * text analysis. All hashing is md5-derived so DuckDB reproduces every
  * step bit-for-bit.
  */
object ExtQueries extends QueryGroup {

  import Tables.load

  /** Documents with deterministic injected duplicates (the sf tables have
    * no exact dups): copies of doc_id < 20 re-keyed to 100000+id. */
  private def docsWithDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    docs.select($"doc_id", $"text")
      .unionByName(docs.where($"doc_id" < 20)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
  }

  private val docsWithDupsSql =
    """dd AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20)""".stripMargin

  /** Exact dedup by content hash (canonical = min doc_id per digest). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithDups(spark, dir)).orderBy($"doc_id")

  private val dedupExactSql =
    s"""WITH $docsWithDupsSql
       |SELECT d.doc_id, c.canonical_id, d.doc_id != c.canonical_id AS is_dup
       |FROM (SELECT doc_id, md5(text) AS h FROM dd) d
       |JOIN (SELECT md5(text) AS h, min(doc_id) AS canonical_id
       |      FROM dd GROUP BY md5(text)) c USING (h)
       |ORDER BY d.doc_id""".stripMargin

  /** Sorted-neighborhood blocking (Hernández–Stolfo) + edit-distance
    * verify: candidates are the ordered pairs within w=8 positions of
    * the `(normalized 24-char prefix, doc_id)` sort order; a pair
    * survives when the keys are ≤ 8 edits apart. The global row number
    * is the distributed-selection machinery (one range exchange +
    * offset-seeded narrow numbering — never `Window.orderBy`'s single
    * task); pairs are one hash equi-join with constant w fan-out. The
    * oracle re-derives the whole pipeline with a window row_number. */
  def dedupSortedNbhd(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents").select($"doc_id",
      substring(regexp_replace(lower($"text"), "[^a-z0-9]", ""), 1, 24).as("snkey"))
    Dedup.sortedNeighborhood(docs, $"snkey", 8)
      .where(levenshtein($"a_key", $"b_key") <= 8)
      .select($"a_id", $"b_id", $"rank_dist",
        levenshtein($"a_key", $"b_key").cast("long").as("lev"))
      .orderBy($"a_id", $"b_id")
  }

  private val dedupSortedNbhdSql =
    """WITH keyed AS (
      |  SELECT doc_id,
      |         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS k
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, k, row_number() OVER (ORDER BY k, doc_id) AS rn FROM keyed)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |       (b.rn - a.rn)::BIGINT AS rank_dist,
      |       levenshtein(a.k, b.k)::BIGINT AS lev
      |FROM ranked a JOIN ranked b ON b.rn - a.rn BETWEEN 1 AND 8
      |WHERE levenshtein(a.k, b.k) <= 8
      |ORDER BY a_id, b_id""".stripMargin

  // Shared SQL fragments for tokenization/shingles (DuckDB side).
  // coalesce mirrors TextStats.tokens' null-safety: null text must
  // tokenize like the empty doc in BOTH engines or null-text docs would
  // pair in Spark and silently vanish from the DuckDB side
  private[queries] val toksSql = "string_split_regex(lower(coalesce(text, '')), '\\s+')"

  /** quality_q4 integer blend over raw counts (s = Σ token lengths,
    * n = #tokens, c = #en-stopwords, l = #chars, p = #punct) — MUST
    * mirror `TextStats.qualityQ4`; shared by every quality oracle. */
  private val q4Sql =
    """(4000 * (11*n - least(abs(2*s - 11*n), 11*n)) * l
      | + 33000 * least(5*c, n) * l
      | + 33000 * (l - least(4*p, l)) * n) // (11 * n * l)""".stripMargin
  private def shinglesSql(ws: String) =
    s"""CASE WHEN len($ws) >= 3
       |  THEN list_transform(range(1, len($ws) - 1),
       |         i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])
       |  ELSE [array_to_string($ws, ' ')] END""".stripMargin

  /** MinHash+LSH near-dup: 6 md5-minhash components, 3 bands × 2 rows,
    * bucket-join candidates, true shingle-Jaccard >= 0.5 verification. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(load(spark, dir, "documents"), 0.5)
      .orderBy($"id_a", $"id_b")

  /** CTE chain ending in `sigs` / `cand` / `sets` — MinHash signatures,
    * LSH band candidates, and distinct shingle sets; shared by the
    * near-dup query and the signature-calibration query. */
  private val minhashChainSql = {
    import graft.ext.Dedup.{MinhashPrime, MinhashSalts}
    val sigs = MinhashSalts.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, x -> (x * $a + $b) % $MinhashPrime)) AS sig_${i + 1}"
    }.mkString(",\n  ")
    s"""w AS (
       |  SELECT doc_id, ${shinglesSql(toksSql)} AS sh FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
       |  FROM w),
       |sigs AS (
       |  SELECT doc_id, $sigs FROM h),
       |bands AS (
       |  SELECT doc_id, sig_1::VARCHAR || ':' || sig_2::VARCHAR AS b0,
       |         sig_3::VARCHAR || ':' || sig_4::VARCHAR AS b1,
       |         sig_5::VARCHAR || ':' || sig_6::VARCHAR AS b2 FROM sigs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2) AND a.doc_id < b.doc_id),
       |sets AS (
       |  SELECT doc_id, list_distinct(${shinglesSql(toksSql)}) AS ss FROM documents)""".stripMargin
  }

  private val dedupMinhashSql =
    s"""WITH $minhashChainSql,
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(floor(len(list_intersect(sa.ss, sb.ss))::DOUBLE /
       |               len(list_distinct(list_concat(sa.ss, sb.ss))) * 10000) AS BIGINT) AS jaccard_q4
       |  FROM cand c JOIN sets sa ON c.id_a = sa.doc_id
       |              JOIN sets sb ON c.id_b = sb.doc_id)
       |SELECT id_a, id_b, jaccard_q4 FROM scored WHERE jaccard_q4 >= 5000
       |ORDER BY id_a, id_b""".stripMargin

  /** The PRODUCTION-SHAPE run of the MinHash-LSH dedup: hot-bucket cap
    * ON (maxBucket = 2 — a band bucket larger than the cap is dropped
    * wholesale before the candidate self-join; at 100 TB a boilerplate
    * bucket holding millions of docs must never reach the join). The
    * oracle replays the cap exactly: identical band values
    * ("sig_i:sig_j" strings on both engines), bucket sizes counted over
    * the same exploded rows, HAVING n ≤ 2. */
  def dedupMinhashCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(load(spark, dir, "documents"), 0.5, maxBucket = 2)
      .orderBy($"id_a", $"id_b")

  private val dedupMinhashCappedSql =
    s"""WITH $minhashChainSql,
       |bexp AS (
       |  SELECT doc_id, 0 AS band_idx, b0 AS band_val FROM bands
       |  UNION ALL SELECT doc_id, 1, b1 FROM bands
       |  UNION ALL SELECT doc_id, 2, b2 FROM bands),
       |bsz AS (
       |  SELECT band_idx, band_val FROM bexp
       |  GROUP BY 1, 2 HAVING count(*) <= 2),
       |bkept AS (
       |  SELECT e.doc_id, e.band_idx, e.band_val
       |  FROM bexp e JOIN bsz USING (band_idx, band_val)),
       |candc AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bkept a JOIN bkept b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(floor(len(list_intersect(sa.ss, sb.ss))::DOUBLE /
       |               len(list_distinct(list_concat(sa.ss, sb.ss))) * 10000) AS BIGINT) AS jaccard_q4
       |  FROM candc c JOIN sets sa ON c.id_a = sa.doc_id
       |               JOIN sets sb ON c.id_b = sb.doc_id)
       |SELECT id_a, id_b, jaccard_q4 FROM scored WHERE jaccard_q4 >= 5000
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact-substring duplicate spans (Lee et al. 2021 ExactSubstr shape)
    * over the dup-injected corpus: word 5-grams occurring ≥ 2× chain
    * into maximal per-doc spans of ≥ 10 tokens. The injected full-doc
    * duplicates guarantee whole-document spans; the word-soup corpus
    * contributes organic shorter ones. */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(docsWithDups(spark, dir), k = 5, minSpan = 10)
      .orderBy($"doc_id", $"span_start")

  /** CTE chain computing k=5/minSpan=10 duplicate spans over `dd` —
    * shared by the spans query and the span-removal query. */
  private val spanChainSql =
    s"""w AS (SELECT doc_id, $toksSql AS ws FROM dd),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3),
       |    i -> struct_pack(pos := i, h := md5(array_to_string(ws[i:i+4], ' '))))) AS u
       |  FROM w WHERE len(ws) >= 5),
       |p AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g),
       |dup AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
       |dp AS (SELECT doc_id, pos FROM p WHERE h IN (SELECT h FROM dup)),
       |i1 AS (SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
       |              THEN 0 ELSE 1 END AS nw FROM dp),
       |i2 AS (SELECT doc_id, pos,
       |         sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS UNBOUNDED PRECEDING) AS isl FROM i1),
       |s AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
       |      FROM i2 GROUP BY doc_id, isl),
       |spans AS (
       |  SELECT doc_id, span_start, span_end,
       |         span_end - span_start + 1 AS span_tokens
       |  FROM s WHERE span_end - span_start + 1 >= 10)""".stripMargin

  private val dedupSpansSql =
    s"""WITH $docsWithDupsSql,
       |$spanChainSql
       |SELECT doc_id, span_start, span_end, span_tokens
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** The REMOVE half of ExactSubstr: duplicate spans applied to the
    * injected copies (doc_id >= 100000 — the originals stay canonical),
    * rebuilding their text with covered tokens dropped. Exact full-doc
    * copies come back as empty strings, never dropped rows. */
  def dedupDespan(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithDups(spark, dir)
    val spans = Dedup.duplicateSpans(docs, k = 5, minSpan = 10)
      .where($"doc_id" >= 100000)
    Dedup.removeSpans(docs, spans).orderBy($"doc_id")
  }

  private val dedupDespanSql =
    s"""WITH $docsWithDupsSql,
       |$spanChainSql,
       |ap AS (SELECT doc_id, span_start, span_end FROM spans
       |       WHERE doc_id >= 100000),
       |tok AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws) + 1),
       |    i -> struct_pack(pos := i, tok := ws[i]))) AS u
       |  FROM w),
       |tp AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tok),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok FROM tp t
       |  WHERE NOT EXISTS (SELECT 1 FROM ap a WHERE a.doc_id = t.doc_id
       |                    AND t.pos BETWEEN a.span_start AND a.span_end)),
       |agg AS (
       |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS text_clean,
       |         count(*) AS n_kept
       |  FROM kept GROUP BY doc_id),
       |base AS (
       |  SELECT dd.doc_id, dd.text, len(w.ws) AS n_toks,
       |         EXISTS (SELECT 1 FROM ap WHERE ap.doc_id = dd.doc_id) AS touched
       |  FROM dd JOIN w USING (doc_id))
       |SELECT b.doc_id,
       |  CASE WHEN NOT touched THEN b.text
       |       ELSE coalesce(a.text_clean, '') END AS text_clean,
       |  CASE WHEN NOT touched THEN 0
       |       ELSE b.n_toks - coalesce(a.n_kept, 0) END AS n_removed
       |FROM base b LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** 16-bit SimHash per document + collision-bucket sizes. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    docs.select($"doc_id",
        Dedup.tokenHashes(TextStats.tokens($"text")).as("_hs"))
      .select($"doc_id", Dedup.simhash16FromHashes($"_hs").as("simhash"))
      .orderBy($"doc_id")
  }

  private val dedupSimhashSql = {
    val h = "(('0x' || substr(md5(w), 1, 8))::BIGINT)"
    val terms = (0 until 16).map { j =>
      s"(CASE WHEN list_sum(list_transform(ws, w -> ((($h >> $j) & 1) * 2 - 1))) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" +\n  ")
    s"""WITH w AS (SELECT doc_id, $toksSql AS ws FROM documents)
       |SELECT doc_id, $terms AS simhash
       |FROM w ORDER BY doc_id""".stripMargin
  }

  /** Per-source curation dashboard: exact-dup and within-source
    * segment-duplication rates. */
  def dedupReportQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupReport(load(spark, dir, "documents"), segLen = 8)
      .orderBy($"source")

  private val dedupReportSql =
    s"""WITH e AS (SELECT source, md5(text) AS h FROM documents),
       |ex AS (SELECT source, count(*)::BIGINT AS n_docs,
       |       count(DISTINCT h)::BIGINT AS u FROM e GROUP BY source),
       |w AS (SELECT source, $toksSql AS ws FROM documents),
       |sg AS (SELECT source, unnest(list_transform(range(0, (len(ws) + 7) // 8),
       |         i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' '))) AS seg
       |       FROM w),
       |s2 AS (SELECT source, count(*)::BIGINT AS n_segments,
       |       count(DISTINCT seg)::BIGINT AS su FROM sg GROUP BY source)
       |SELECT ex.source, n_docs, (n_docs - u)::BIGINT AS n_exact_dups,
       |       ((10000 * (n_docs - u)) // n_docs)::BIGINT AS exact_dup_bp,
       |       n_segments, (n_segments - su)::BIGINT AS n_seg_dups,
       |       ((10000 * (n_segments - su)) // n_segments)::BIGINT AS seg_dup_bp
       |FROM ex JOIN s2 USING (source) ORDER BY ex.source""".stripMargin

  /** Quote detection: which corpus docs contain ≥ 90% of each probe
    * doc's distinct tokens. Oracle is the naive probe×corpus form —
    * the prefix filter is complete, so results are identical. */
  def containmentQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    Dedup.containmentJoin(docs.where($"doc_id" % 100 === 1), docs, 9000)
      .orderBy($"id_a", $"id_b")
  }

  private val containmentSql =
    s"""WITH p AS (SELECT doc_id, list_distinct($toksSql) AS s FROM documents)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       len(a.s)::BIGINT AS n_a,
       |       len(list_intersect(a.s, b.s))::BIGINT AS overlap,
       |       ((10000 * len(list_intersect(a.s, b.s))) // len(a.s))::BIGINT
       |         AS contain_bp
       |FROM p a JOIN p b ON a.doc_id <> b.doc_id
       |WHERE a.doc_id % 100 = 1
       |  AND 10000 * len(list_intersect(a.s, b.s)) >= 9000 * len(a.s)
       |ORDER BY id_a, id_b""".stripMargin

  /** Cross-source containment matrix over 8-token segments. */
  def sourceOverlapQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(load(spark, dir, "documents"), segLen = 8)
      .orderBy($"src_a", $"src_b")

  private val sourceOverlapSql =
    s"""WITH w AS (SELECT source, $toksSql AS ws FROM documents),
       |sg AS (SELECT DISTINCT source, seg FROM (
       |  SELECT source, unnest(list_transform(range(0, (len(ws) + 7) // 8),
       |           i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' '))) AS seg
       |  FROM w)),
       |t AS (SELECT source, count(*)::BIGINT AS n_segs FROM sg GROUP BY source),
       |sh AS (SELECT a.source AS src_a, b.source AS src_b,
       |       count(*)::BIGINT AS n_shared
       |       FROM sg a JOIN sg b ON a.seg = b.seg AND a.source <> b.source
       |       GROUP BY 1, 2)
       |SELECT ta.source AS src_a, tb.source AS src_b,
       |       ta.n_segs AS n_segs_a,
       |       coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
       |       coalesce((10000 * sh.n_shared) // ta.n_segs, 0)::BIGINT
       |         AS contain_bp
       |FROM t ta CROSS JOIN t tb
       |LEFT JOIN sh ON sh.src_a = ta.source AND sh.src_b = tb.source
       |WHERE ta.source <> tb.source
       |ORDER BY src_a, src_b""".stripMargin

  /** SimHash near-dup pairs at Hamming distance ≤ 3 over a 64-bit
    * (4×16-bit-block) signature; pigeonhole block index generates
    * candidates. Oracle replays the block join — complete for k ≤ 3,
    * so the two forms are value-identical. */
  def dedupSimhashNear(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNear(load(spark, dir, "documents"), 3)
      .orderBy($"id_a", $"id_b")

  /** CTE chain ending in `shpairs(id_a, id_b, hamming)` — the Hamming
    * ≤ 3 SimHash pair set; shared by the near-dup query and the
    * modularity query (which scores a partition over these edges). */
  private val simhashPairsChainSql = {
    def sig(salt: Int) = {
      val h = s"(('0x' || substr(md5('s$salt' || w), 1, 8))::BIGINT)"
      (0 until 16).map { j =>
        s"(CASE WHEN list_sum(list_transform(ws, w -> ((($h >> $j) & 1) * 2 - 1))) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" +\n  ")
    }
    s"""w AS (SELECT doc_id, $toksSql AS ws FROM documents),
       |s AS (SELECT doc_id, ${sig(0)} AS sig0, ${sig(1)} AS sig1,
       |             ${sig(2)} AS sig2, ${sig(3)} AS sig3 FROM w),
       |blk AS (
       |  SELECT doc_id, sig0, sig1, sig2, sig3, 0 AS blk, sig0 AS bval FROM s
       |  UNION ALL SELECT doc_id, sig0, sig1, sig2, sig3, 1, sig1 FROM s
       |  UNION ALL SELECT doc_id, sig0, sig1, sig2, sig3, 2, sig2 FROM s
       |  UNION ALL SELECT doc_id, sig0, sig1, sig2, sig3, 3, sig3 FROM s),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.sig0 AS a0, a.sig1 AS a1, a.sig2 AS a2, a.sig3 AS a3,
       |         b.sig0 AS b0, b.sig1 AS b1, b.sig2 AS b2, b.sig3 AS b3
       |  FROM blk a JOIN blk b
       |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
       |shpairs AS (
       |  SELECT id_a, id_b, hamming FROM (
       |    SELECT id_a, id_b,
       |           (bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) +
       |            bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)))::BIGINT AS hamming
       |    FROM cand)
       |  WHERE hamming <= 3)""".stripMargin
  }

  private val dedupSimhashNearSql =
    s"""WITH $simhashPairsChainSql
       |SELECT id_a, id_b, hamming FROM shpairs
       |ORDER BY id_a, id_b""".stripMargin

  /** Word-set Jaccard near-dup via prefix filtering (lang-blocked). The
    * oracle is the NAIVE all-pairs form: prefix filtering is provably
    * complete, so the scalable plan must produce the identical result. */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(load(spark, dir, "documents"), 0.8)
      .orderBy($"id_a", $"id_b")

  private val dedupNgramSql =
    s"""WITH p AS (
       |  SELECT doc_id, lang, list_distinct($toksSql) AS toks
       |  FROM documents)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
       |       CAST(floor(len(list_intersect(a.toks, b.toks))::DOUBLE /
       |             len(list_distinct(list_concat(a.toks, b.toks))) * 10000) AS BIGINT) AS jaccard_q4
       |FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE floor(len(list_intersect(a.toks, b.toks))::DOUBLE /
       |      len(list_distinct(list_concat(a.toks, b.toks))) * 10000) >= 8000
       |ORDER BY id_a, id_b""".stripMargin

  /** The PRODUCTION-SHAPE run of the same operator: df cap ON
    * (maxDf = ⌈0.775·corpus⌉ — near-universal tokens leave every token
    * set before candidate generation AND verify). On the degenerate
    * 20-word testdata vocabulary the cap genuinely bites (most tokens
    * are near-universal); on a Heaps-law corpus it is a no-op. The
    * oracle replays the cap exactly: same df threshold, same capped
    * sets, naive all-pairs Jaccard over them. */
  def dedupNgramCapped(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val maxDf = math.ceil(0.775 * docs.count()).toLong
    Dedup.ngramJaccard(docs, 0.8, maxDf).orderBy($"id_a", $"id_b")
  }

  private val dedupNgramCappedSql =
    s"""WITH raw AS MATERIALIZED (
       |  SELECT doc_id, lang, list_distinct($toksSql) AS toks
       |  FROM documents),
       |lim AS (SELECT ceil(0.775 * count(*))::BIGINT AS max_df FROM documents),
       |tf AS MATERIALIZED (
       |  SELECT tok, count(*)::BIGINT AS freq
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM raw) GROUP BY tok),
       |p AS MATERIALIZED (
       |  SELECT r.doc_id, any_value(r.lang) AS lang, list(u.tok) AS toks
       |  FROM raw r
       |  JOIN (SELECT doc_id, unnest(toks) AS tok FROM raw) u
       |    ON u.doc_id = r.doc_id
       |  JOIN tf ON tf.tok = u.tok CROSS JOIN lim
       |  WHERE tf.freq <= lim.max_df
       |  GROUP BY r.doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
       |       CAST(floor(len(list_intersect(a.toks, b.toks))::DOUBLE /
       |             len(list_distinct(list_concat(a.toks, b.toks))) * 10000) AS BIGINT) AS jaccard_q4
       |FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE floor(len(list_intersect(a.toks, b.toks))::DOUBLE /
       |      len(list_distinct(list_concat(a.toks, b.toks))) * 10000) >= 8000
       |ORDER BY id_a, id_b""".stripMargin

  /** Embedding-cosine near-dup pairs within label blocks. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDup(load(spark, dir, "embeddings"), 0.3)
      .orderBy($"id_a", $"id_b")

  private val cosSql = (a: String, b: String) =>
    s"""(list_dot_product($a::DOUBLE[], $b::DOUBLE[]) /
       | (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) *
       |  sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[]))))""".stripMargin

  // zero-norm exclusion mirrors the Spark operators: NaN cosine would
  // silently drop in Spark but CAST-error in DuckDB
  private val nzSql =
    "(SELECT * FROM embeddings WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)"

  private val dedupEmbeddingSql =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       |       CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS cos_q4
       |FROM $nzSql a JOIN $nzSql b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000
       |ORDER BY id_a, id_b""".stripMargin

  /** Integer DCG weights ⌊10⁸∕log₂(r+1)⌋ for ranks 1..10 — computed
    * ONCE here and inlined as literals on both sides, so the
    * irrational log never evaluates inside either engine. */
  private val ndcgWeights: Seq[Long] =
    (1 to 10).map(r => math.floor(1e8 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** nDCG@10 of the exact cosine neighborhood against label relevance
    * ([[Similarity.ndcgAtK]]): position-weighted "how label-pure is the
    * top of each query's ranking" — the graded member of the retrieval
    * eval trio (recall@k counts hits anywhere, MRR sees only the first,
    * nDCG weights every position). Ideal is computed from each query's
    * OWN relevant-candidate count, so sparse labels aren't penalized
    * for shortage. */
  def simNdcg(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val topk = Similarity.bruteForceTopK(emb.where($"vec_id" < 10), emb, 10)
    val q = emb.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"label".as("_ql"))
    val rel = q.join(emb.select($"vec_id".as("n_id"), $"label".as("_nl")),
        $"_ql" === $"_nl" && $"q_id" =!= $"n_id")
      .select($"q_id", $"n_id")
    Similarity.ndcgAtK(topk, rel, 10, ndcgWeights).orderBy($"q_id")
  }

  private val simNdcgSql = {
    val wVals = ndcgWeights.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    val pVals = ndcgWeights.scanLeft(0L)(_ + _).zipWithIndex
      .map { case (s, n) => s"($n, $s)" }.mkString(", ")
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10),
       |bf AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM scored) WHERE rank <= 10),
       |w(rank, wt) AS (VALUES $wVals),
       |pref(n, s) AS (VALUES $pVals),
       |rel AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM embeddings q JOIN embeddings c
       |    ON q.label = c.label AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 10),
       |nrel AS (SELECT q_id, count(*)::BIGINT AS n_rel FROM rel GROUP BY 1),
       |dcg AS (
       |  SELECT bf.q_id,
       |         coalesce(sum(CASE WHEN rel.n_id IS NOT NULL THEN w.wt END),
       |                  0)::BIGINT AS dcg_q8
       |  FROM bf JOIN w ON bf.rank = w.rank
       |  LEFT JOIN rel ON bf.q_id = rel.q_id AND bf.n_id = rel.n_id
       |  GROUP BY bf.q_id)
       |SELECT d.q_id, coalesce(nrel.n_rel, 0)::BIGINT AS n_rel, d.dcg_q8,
       |       (CASE WHEN p.s > 0 THEN (10000 * d.dcg_q8) // p.s
       |             ELSE 0 END)::BIGINT AS ndcg_bp
       |FROM dcg d
       |LEFT JOIN nrel ON d.q_id = nrel.q_id
       |JOIN pref p ON p.n = least(coalesce(nrel.n_rel, 0), 10)
       |ORDER BY d.q_id""".stripMargin
  }

  /** Common-neighbor link prediction over the near-dup graph
    * ([[graft.ops.LinkPredict.neighborScores]]): pairs NOT currently
    * edges that share ≥ 2 near-dup partners — the dedup candidate-
    * expansion step ("probably a missed pair"), scored by neighborhood
    * Jaccard and rational resource allocation. Hub centers above
    * degree 64 are suppressed from wedge minting (mirrored in the
    * oracle). */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // looser 0.2 graph than the 0.3 dedup threshold: link prediction
    // hunts the pairs the edge rule MISSED, so it wants the sparser
    // regime where the closure is genuinely incomplete
    val pairs = Similarity.cosineNearDup(emb, 0.2).select($"id_a", $"id_b")
    graft.ops.LinkPredict.neighborScores(pairs).orderBy($"id_a", $"id_b")
  }

  private val linkPredictSql =
    s"""WITH e AS (
       |  SELECT a.vec_id AS u, b.vec_id AS v
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 2000),
       |adj AS (SELECT u AS z, v AS x FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT z, count(*)::BIGINT AS deg FROM adj GROUP BY z),
       |ctr AS (SELECT adj.z, adj.x, deg.deg FROM adj JOIN deg ON adj.z = deg.z
       |        WHERE deg.deg <= 64),
       |wed AS (SELECT l.x AS a, r.x AS b, l.deg
       |        FROM ctr l JOIN ctr r ON l.z = r.z AND l.x < r.x),
       |cand AS (SELECT a, b, count(*)::BIGINT AS cn,
       |                sum(100000000 // deg)::BIGINT AS ra_q8
       |         FROM wed GROUP BY 1, 2 HAVING count(*) >= 2),
       |ne AS (SELECT cand.* FROM cand LEFT JOIN e
       |         ON cand.a = e.u AND cand.b = e.v
       |       WHERE e.u IS NULL)
       |SELECT ne.a AS id_a, ne.b AS id_b, ne.cn,
       |       ((10000 * ne.cn) // (da.deg + db.deg - ne.cn))::BIGINT
       |         AS jaccard_bp,
       |       ne.ra_q8
       |FROM ne JOIN deg da ON ne.a = da.z JOIN deg db ON ne.b = db.z
       |ORDER BY id_a, id_b""".stripMargin

  /** ANN recall@5: the LSH index's per-query recall against brute-force
    * ground truth, exact basis points — the eval harness a bucketed
    * index must pass before it replaces the exact path at scale. */
  def simRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val q = emb.where($"vec_id" < 10)
    Similarity.recallAtK(
      Similarity.lshTopK(q, emb, 5, nPlanes = 4, dim = 64),
      Similarity.bruteForceTopK(q, emb, 5), 5)
      .orderBy($"q_id")
  }

  private val simRecallSql = {
    val bucket = lshBucketSql("embedding", Similarity.hyperplanes(64, 4))
    s"""WITH be AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |bf_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM bf_scored) WHERE rank <= 5),
       |lsh_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM be q JOIN be c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |lsh AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM lsh_scored) WHERE rank <= 5)
       |SELECT bf.q_id, (count(lsh.n_id))::BIGINT AS hits,
       |       ((10000 * count(lsh.n_id)) // 5)::BIGINT AS recall_bp
       |FROM bf LEFT JOIN lsh ON bf.q_id = lsh.q_id AND bf.n_id = lsh.n_id
       |GROUP BY bf.q_id ORDER BY bf.q_id""".stripMargin
  }

  /** Matryoshka truncation eval (Kusupati et al. 2022 — MRL prefix
    * embeddings): recall@5 of brute-force search over the FIRST 16 of
    * 64 dimensions against full-dimension ground truth — the
    * measure-before-you-truncate gate for serving prefix embeddings at
    * a fraction of the memory. Same recall harness as ext_sim_recall,
    * different approximation axis (dimension truncation vs bucketing). */
  def simMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val q = emb.where($"vec_id" < 10)
    def trunc(df: DataFrame) =
      df.withColumn("embedding", slice($"embedding", 1, 16))
    Similarity.recallAtK(
      Similarity.bruteForceTopK(trunc(q), trunc(emb), 5),
      Similarity.bruteForceTopK(q, emb, 5), 5)
      .orderBy($"q_id")
  }

  private val simMatryoshkaSql =
    s"""WITH t AS (
       |  SELECT vec_id, embedding, embedding[1:16] AS emb16 FROM embeddings),
       |truth_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM t q JOIN t c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM truth_scored) WHERE rank <= 5),
       |ap_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.emb16", "c.emb16")} AS cos
       |  FROM t q JOIN t c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |ap AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM ap_scored) WHERE rank <= 5)
       |SELECT truth.q_id, (count(ap.n_id))::BIGINT AS hits,
       |       ((10000 * count(ap.n_id)) // 5)::BIGINT AS recall_bp
       |FROM truth LEFT JOIN ap ON truth.q_id = ap.q_id AND truth.n_id = ap.n_id
       |GROUP BY truth.q_id ORDER BY truth.q_id""".stripMargin

  /** Largest-remainder quota allocation ([[Sampling.largestRemainder]]):
    * 1000 training-sample slots split exactly ∝ per-(source, lang)
    * character mass — Σ slots = 1000 by construction, every number an
    * exact integer. */
  def quotaAllocate(spark: SparkSession, dir: String): DataFrame = {
    val w = load(spark, dir, "documents")
      .groupBy($"source", $"lang").agg(sum($"n_chars").as("wt"))
    Sampling.largestRemainder(w, Seq("source", "lang"), "wt", 1000L)
      .orderBy($"source", $"lang")
  }

  private val quotaAllocateSql =
    """WITH w AS (
      |  SELECT source, lang, sum(n_chars)::BIGINT AS wt
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT sum(wt)::BIGINT AS tw FROM w),
      |b AS (
      |  SELECT source, lang, wt,
      |         (1000 * wt) // tw AS base,
      |         1000 * wt - ((1000 * wt) // tw) * tw AS rem
      |  FROM w CROSS JOIN tot),
      |lo AS (SELECT 1000 - sum(base) AS k FROM b),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source, lang) AS rk
      |      FROM b)
      |SELECT source, lang, wt,
      |       (base + CASE WHEN rk <= (SELECT k FROM lo) THEN 1 ELSE 0 END)::BIGINT
      |         AS slots
      |FROM r ORDER BY source, lang""".stripMargin

  /** Temperature-scaled mixture allocation
    * ([[Sampling.temperatureMixture]], α = 1∕2): 1000 sample slots
    * split ∝ √(per-source doc count) — the multilingual-sampling rule
    * that keeps head sources from drowning the tail; `epochs_bp` is the
    * implied passes-over-source budget. All integers exact; the √ is
    * the correctly-rounded IEEE double on both engines. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val c = load(spark, dir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n"))
    Sampling.temperatureMixture(c, Seq("source"), "n", 1000L, sqrtIters = 1)
      .orderBy($"source")
  }

  private val mixTemperatureSql =
    """WITH c AS (
      |  SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1),
      |w AS (
      |  SELECT source, n, floor(sqrt(n::DOUBLE))::BIGINT AS wt FROM c),
      |tot AS (SELECT sum(wt)::BIGINT AS tw FROM w),
      |b AS (
      |  SELECT source, n, wt,
      |         (1000 * wt) // tw AS base,
      |         1000 * wt - ((1000 * wt) // tw) * tw AS rem
      |  FROM w CROSS JOIN tot),
      |lo AS (SELECT 1000 - sum(base) AS k FROM b),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source, n) AS rk
      |      FROM b)
      |SELECT source, n AS n_docs, wt AS w_temp,
      |       (base + CASE WHEN rk <= (SELECT k FROM lo) THEN 1 ELSE 0 END)::BIGINT
      |         AS slots,
      |       ((10000 * (base + CASE WHEN rk <= (SELECT k FROM lo) THEN 1 ELSE 0 END)) // n)::BIGINT
      |         AS epochs_bp
      |FROM r ORDER BY source""".stripMargin

  /** QQ drift table: per event type, exact v_q4 deciles of the first
    * half of the time span against the second ([[Frequency.exactQuantiles]]
    * twice, joined side by side) — the effect-size view next to
    * ext_ks_drift's detection view: KS says THAT the distribution
    * moved, the quantile deltas say WHERE and by HOW MUCH. Era split
    * at the midpoint day, derived relationally from the data span. */
  def qqDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events").select($"event_type",
      expr("unix_micros(ts) div 86400000000").as("d"),
      floor($"value" * 10000.0).cast("long").as("v_q4"))
    val span = ev.agg(min($"d").as("mn"), max($"d").as("mx"))
    val tagged = ev.crossJoin(broadcast(span))
      .withColumn("era", when($"d" < expr("(mn + mx + 1) div 2"), "a").otherwise("b"))
    def q(era: String, pre: String) =
      Frequency.exactQuantiles(tagged.where($"era" === era),
          "event_type", "v_q4", Seq(0.1, 0.5, 0.9))
        .select($"event_type", $"p10".cast("long").as(s"${pre}_p10"),
          $"p50".cast("long").as(s"${pre}_p50"), $"p90".cast("long").as(s"${pre}_p90"))
    q("a", "a").join(q("b", "b"), "event_type")
      .withColumn("d_p50", $"b_p50" - $"a_p50")
      .orderBy($"event_type")
  }

  private val qqDriftSql =
    """WITH e AS (
      |  SELECT event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         floor(value * 10000.0::DOUBLE)::BIGINT AS v
      |  FROM events),
      |sp AS (SELECT min(d) AS mn, max(d) AS mx FROM e),
      |t AS (
      |  SELECT event_type,
      |         CASE WHEN d < (mn + mx + 1) // 2 THEN 'a' ELSE 'b' END AS era, v
      |  FROM e CROSS JOIN sp),
      |q AS (
      |  SELECT event_type, era,
      |         quantile_disc(v, 0.1)::BIGINT AS p10,
      |         quantile_disc(v, 0.5)::BIGINT AS p50,
      |         quantile_disc(v, 0.9)::BIGINT AS p90
      |  FROM t GROUP BY 1, 2)
      |SELECT a.event_type, a.p10 AS a_p10, a.p50 AS a_p50, a.p90 AS a_p90,
      |       b.p10 AS b_p10, b.p50 AS b_p50, b.p90 AS b_p90,
      |       (b.p50 - a.p50)::BIGINT AS d_p50
      |FROM q a JOIN q b ON a.event_type = b.event_type
      |  AND a.era = 'a' AND b.era = 'b'
      |ORDER BY a.event_type""".stripMargin

  /** MRR readout ([[Similarity.reciprocalRank]]): the rank the TRUE
    * nearest neighbor achieves inside the LSH top-5 list per query,
    * as ⌊10⁸∕rank⌋ (0 = missed) — position-sensitive where recall@k is
    * not. Same query set and index parameters as ext_sim_recall, so
    * the two evals read side by side. */
  def simMrr(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val q = emb.where($"vec_id" < 10)
    Similarity.reciprocalRank(
      Similarity.lshTopK(q, emb, 5, nPlanes = 4, dim = 64),
      Similarity.bruteForceTopK(q, emb, 1))
      .orderBy($"q_id")
  }

  private val simMrrSql = {
    val bucket = lshBucketSql("embedding", Similarity.hyperplanes(64, 4))
    s"""WITH be AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |bf1 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |    WHERE q.vec_id < 10) WHERE rank = 1),
       |lsh AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
       |    FROM be q JOIN be c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       |    WHERE q.vec_id < 10) WHERE rank <= 5)
       |SELECT bf1.q_id, bf1.n_id AS true_nn,
       |       coalesce(lsh.rank, 0)::BIGINT AS rank,
       |       coalesce(100000000 // lsh.rank, 0)::BIGINT AS rr_q8
       |FROM bf1 LEFT JOIN lsh ON bf1.q_id = lsh.q_id AND bf1.n_id = lsh.n_id
       |ORDER BY bf1.q_id""".stripMargin
  }

  /** Mutual-kNN graph over the label blocks: an edge survives only if
    * each endpoint ranks the other in its own top-5 — the
    * hubness-resistant pre-clustering graph. The Spark side checks
    * mutuality with a canonical-pair count-of-directions aggregate; the
    * oracle uses the INDEPENDENT self-join formulation (knn a JOIN knn b
    * on reversed endpoints). */
  def knnGraphQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // threshold -1 ⇒ every within-label pair is a candidate: the block
    // is the candidate universe; mutualKnn does the narrowing
    val pairs = Similarity.cosineNearDup(emb, -1.0)
      .select($"id_a", $"id_b", $"cos_q4")
    Similarity.mutualKnn(pairs, k = 5)
      .orderBy($"id_a", $"id_b")
  }

  private val knnGraphSql =
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS cos_q4
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id),
       |sym AS (
       |  SELECT id_a AS src, id_b AS dst, cos_q4 FROM pairs
       |  UNION ALL SELECT id_b, id_a, cos_q4 FROM pairs),
       |knn AS (
       |  SELECT src, dst, cos_q4, rn FROM (
       |    SELECT src, dst, cos_q4,
       |           row_number() OVER (PARTITION BY src
       |             ORDER BY cos_q4 DESC, dst) AS rn
       |    FROM sym) WHERE rn <= 5)
       |SELECT a.src AS id_a, a.dst AS id_b, a.cos_q4,
       |       a.rn AS rank_ab, b.rn AS rank_ba
       |FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |WHERE a.src < a.dst
       |ORDER BY id_a, id_b""".stripMargin

  /** Multi-probe LSH recall@5 for the same queries/planes as
    * [[simRecall]]: each query also probes the nPlanes Hamming-1
    * buckets — the recall uplift extra tables would buy without
    * replicating the corpus index. */
  def simMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val q = emb.where($"vec_id" < 10)
    Similarity.recallAtK(
      Similarity.lshTopKMultiProbe(q, emb, 5, nPlanes = 4, dim = 64),
      Similarity.bruteForceTopK(q, emb, 5), 5)
      .orderBy($"q_id")
  }

  private val simMultiprobeSql = {
    val bucket = lshBucketSql("embedding", Similarity.hyperplanes(64, 4))
    s"""WITH be AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |bf_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM bf_scored) WHERE rank <= 5),
       |qp AS (
       |  SELECT vec_id, embedding, xor(bucket, f.f) AS bucket
       |  FROM be CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS f) f
       |  WHERE vec_id < 10),
       |mp_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM qp q JOIN be c ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
       |mp AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM mp_scored) WHERE rank <= 5)
       |SELECT bf.q_id, (count(mp.n_id))::BIGINT AS hits,
       |       ((10000 * count(mp.n_id)) // 5)::BIGINT AS recall_bp
       |FROM bf LEFT JOIN mp ON bf.q_id = mp.q_id AND bf.n_id = mp.n_id
       |GROUP BY bf.q_id ORDER BY bf.q_id""".stripMargin
  }

  /** Brand-affinity association rules: which part brands co-occur in
    * the same order, with exact integer support/confidence/lift. */
  def assocRulesQ(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem").select($"l_orderkey", $"l_partkey")
    val part = load(spark, dir, "part").select($"p_partkey", $"p_brand")
    val items = li.join(broadcast(part), $"l_partkey" === $"p_partkey")
    Association.assocRules(items, "l_orderkey", "p_brand",
        minPairSupport = 50L)
      .orderBy($"a", $"b")
  }

  private val assocRulesSql =
    """WITH it AS (
      |  SELECT DISTINCT l_orderkey AS bk, p_brand AS i
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT count(DISTINCT bk) AS nb FROM it),
      |s AS (SELECT i, count(*) AS c FROM it GROUP BY i),
      |p AS (SELECT i1.i AS a, i2.i AS b, count(*) AS c_ab
      |      FROM it i1 JOIN it i2 ON i1.bk = i2.bk AND i1.i < i2.i
      |      GROUP BY 1, 2)
      |SELECT a, b, c_ab, sa.c AS c_a, sb.c AS c_b,
      |       (10000 * c_ab) // sa.c AS conf_ab_bp,
      |       (10000 * c_ab) // sb.c AS conf_ba_bp,
      |       (10000 * c_ab * nb) // (sa.c * sb.c) AS lift_bp
      |FROM p JOIN s sa ON p.a = sa.i JOIN s sb ON p.b = sb.i CROSS JOIN n
      |WHERE c_ab >= 50 ORDER BY a, b""".stripMargin

  /** Centroid-distance pruning: flag the 10% of vectors farthest from
    * their label centroid, exact integer distance ranking. */
  def embedPrune(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroidPrune(load(spark, dir, "embeddings"), pruneBp = 1000)
      .orderBy($"vec_id")

  private val embedPruneSql =
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding::DOUBLE[],
       |           x -> (floor(x * 1000))::BIGINT) AS v
       |  FROM $nzSql),
       |e AS (SELECT label, unnest(v) AS c, generate_subscripts(v, 1) AS i FROM q),
       |sc AS (SELECT label, i, sum(c)::BIGINT AS si FROM e GROUP BY label, i),
       |sl AS (SELECT label, list(si ORDER BY i) AS s FROM sc GROUP BY label),
       |nn AS (SELECT label, count(*)::BIGINT AS n FROM q GROUP BY label),
       |d AS (
       |  SELECT q.vec_id, q.label, nn.n,
       |         (list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))::BIGINT
       |            * nn.n * nn.n
       |          - 2 * nn.n *
       |            list_sum(list_transform(range(1, 65), i -> v[i] * sl.s[i]))::BIGINT
       |          + list_sum(list_transform(range(1, 65), i -> sl.s[i] * sl.s[i]))::BIGINT)
       |           AS d2n2
       |  FROM q JOIN sl USING (label) JOIN nn USING (label)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY label
       |        ORDER BY d2n2 DESC, vec_id DESC) AS rk FROM d)
       |SELECT vec_id, label, d2n2, (10000 * rk <= 1000 * n) AS prune
       |FROM r ORDER BY vec_id""".stripMargin

  /** k-anonymity release of document metadata: every released row's
    * (lang, source, size-bucket) combination is shared by ≥ 5 rows,
    * each row taking the most specific ladder level that reaches k —
    * exact bucket → decade bucket → source dropped — else suppressed
    * to `*`. Local recoding: anonymity is measured against the full
    * population's coarsened counts. */
  def kAnonymityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    graft.ops.Anonymize.kAnonymity(docs, "doc_id", Seq(
      Seq("lang" -> $"lang", "source" -> $"source",
        "chars" -> (expr("n_chars div 100") * 100)),
      Seq("lang" -> $"lang", "source" -> $"source",
        "chars" -> (expr("n_chars div 1000") * 1000)),
      Seq("lang" -> $"lang", "source" -> lit("*"),
        "chars" -> (expr("n_chars div 1000") * 1000))), k = 5)
      .orderBy($"doc_id")
  }

  // shared released-table SQL (a def: object-init order makes a shared
  // val interpolate as the literal "null" — the bpe_merges lesson)
  private def kAnonReleasedSql =
    """WITH q AS (
      |  SELECT doc_id,
      |         coalesce(lang, '∅') AS a0, coalesce(source, '∅') AS b0,
      |         coalesce(((n_chars // 100) * 100)::VARCHAR, '∅') AS c0,
      |         coalesce(lang, '∅') AS a1, coalesce(source, '∅') AS b1,
      |         coalesce(((n_chars // 1000) * 1000)::VARCHAR, '∅') AS c1,
      |         coalesce(lang, '∅') AS a2, '*' AS b2,
      |         coalesce(((n_chars // 1000) * 1000)::VARCHAR, '∅') AS c2
      |  FROM documents),
      |n0 AS (SELECT a0, b0, c0, count(*) AS n FROM q GROUP BY 1, 2, 3),
      |n1 AS (SELECT a1, b1, c1, count(*) AS n FROM q GROUP BY 1, 2, 3),
      |n2 AS (SELECT a2, b2, c2, count(*) AS n FROM q GROUP BY 1, 2, 3),
      |l AS (
      |  SELECT q.*,
      |         (CASE WHEN n0.n >= 5 THEN 0 WHEN n1.n >= 5 THEN 1
      |               WHEN n2.n >= 5 THEN 2 ELSE -1 END)::BIGINT AS gen_level
      |  FROM q JOIN n0 USING (a0, b0, c0) JOIN n1 USING (a1, b1, c1)
      |         JOIN n2 USING (a2, b2, c2))
      |SELECT doc_id,
      |  CASE gen_level WHEN 0 THEN a0 WHEN 1 THEN a1 WHEN 2 THEN a2
      |       ELSE '*' END AS gen_lang,
      |  CASE gen_level WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
      |       ELSE '*' END AS gen_source,
      |  CASE gen_level WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
      |       ELSE '*' END AS gen_chars,
      |  gen_level
      |FROM l""".stripMargin

  private def kAnonymitySql = kAnonReleasedSql + "\nORDER BY doc_id"

  /** l-diversity audit ([[graft.ops.Anonymize.lDiversity]]) of the
    * ext_k_anonymity release: per generalized QI group, rows, distinct
    * sensitive values (raw n_chars), and the l ≥ 3 flag — the leak
    * check k-anonymity alone cannot make. Two-level aggregate, no
    * countDistinct Expand. */
  def lDiversityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val released = kAnonymityQ(spark, dir)
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
    graft.ops.Anonymize.lDiversity(released,
        Seq("gen_lang", "gen_source", "gen_chars"), "n_chars", l = 3)
      .orderBy($"gen_lang", $"gen_source", $"gen_chars")
  }

  private def lDiversitySql =
    s"""SELECT gen_lang, gen_source, gen_chars,
       |       sum(n)::BIGINT AS n_rows,
       |       count(*)::BIGINT AS n_distinct,
       |       count(*) >= 3 AS l_ok
       |FROM (
       |  SELECT rel.gen_lang, rel.gen_source, rel.gen_chars,
       |         d.n_chars, count(*)::BIGINT AS n
       |  FROM ($kAnonReleasedSql) rel
       |  JOIN documents d USING (doc_id)
       |  GROUP BY 1, 2, 3, 4)
       |GROUP BY gen_lang, gen_source, gen_chars
       |ORDER BY gen_lang, gen_source, gen_chars""".stripMargin

  /** Top principal component of the embedding space via quantized
    * power iteration — the anisotropy/whitening readout; the oracle
    * replays the exact integer trajectory (co-moment matrix, prescale,
    * three normalize-divide rounds, sign pin). */
  def embedPca(spark: SparkSession, dir: String): DataFrame =
    Similarity.topComponent(load(spark, dir, "embeddings"))
      .orderBy($"dim")

  private val embedPcaSql = {
    def round(k: Int) =
      s"""u$k AS (SELECT c.i, sum(c.c * v.x)::BIGINT AS u
         |        FROM cov c JOIN v${k - 1} v ON c.j = v.i GROUP BY c.i),
         |m$k AS (SELECT max(abs(u))::BIGINT AS m FROM u$k),
         |v$k AS MATERIALIZED (
         |  SELECT i, (CASE WHEN m = 0 THEN 0
         |             ELSE (u * 10000) // m END)::BIGINT AS x
         |  FROM u$k CROSS JOIN m$k)""".stripMargin
    s"""WITH q AS MATERIALIZED (
       |  SELECT list_transform(embedding::DOUBLE[],
       |           x -> (floor(x * 1000))::BIGINT) AS v
       |  FROM $nzSql),
       |st AS (SELECT count(*)::BIGINT AS n FROM q),
       |sums AS (SELECT i.i AS i, sum(v[i.i])::BIGINT AS s
       |         FROM q, range(1, 65) i(i) GROUP BY 1),
       |prod AS (SELECT i.i AS i, j.j AS j, sum(v[i.i] * v[j.j])::BIGINT AS p
       |         FROM q, range(1, 65) i(i), range(1, 65) j(j) GROUP BY 1, 2),
       |cov AS MATERIALIZED (
       |  SELECT p.i, p.j, ((st.n * p.p - si.s * sj.s) // 1048576)::BIGINT AS c
       |  FROM prod p CROSS JOIN st
       |  JOIN sums si ON si.i = p.i JOIN sums sj ON sj.i = p.j),
       |v0 AS (SELECT unnest(range(1, 65))::BIGINT AS i, 10000::BIGINT AS x),
       |${(1 to 3).map(round).mkString(",\n")},
       |pin AS (SELECT x AS xk FROM (
       |  SELECT x, row_number() OVER (ORDER BY abs(x) DESC, i) AS rk FROM v3)
       |  WHERE rk = 1)
       |SELECT i AS dim, (CASE WHEN xk < 0 THEN -x ELSE x END)::BIGINT AS comp_q4
       |FROM v3 CROSS JOIN pin ORDER BY dim""".stripMargin
  }

  /** Anisotropy of the embedding space: the exact-integer share of
    * variance on the top component (Rayleigh quotient over the
    * prescaled co-moment matrix ÷ trace) — 10⁴/d = isotropic, 10⁴ =
    * collapsed to one direction. */
  def embedAnisotropy(spark: SparkSession, dir: String): DataFrame =
    Similarity.anisotropy(load(spark, dir, "embeddings"))

  private val embedAnisotropySql = {
    def round(k: Int) =
      s"""u$k AS (SELECT c.i, sum(c.c * v.x)::BIGINT AS u
         |        FROM cov c JOIN v${k - 1} v ON c.j = v.i GROUP BY c.i),
         |m$k AS (SELECT max(abs(u))::BIGINT AS m FROM u$k),
         |v$k AS MATERIALIZED (
         |  SELECT i, (CASE WHEN m = 0 THEN 0
         |             ELSE (u * 10000) // m END)::BIGINT AS x
         |  FROM u$k CROSS JOIN m$k)""".stripMargin
    s"""WITH q AS MATERIALIZED (
       |  SELECT list_transform(embedding::DOUBLE[],
       |           x -> (floor(x * 1000))::BIGINT) AS v
       |  FROM $nzSql),
       |st AS (SELECT count(*)::BIGINT AS n FROM q),
       |sums AS (SELECT i.i AS i, sum(v[i.i])::BIGINT AS s
       |         FROM q, range(1, 65) i(i) GROUP BY 1),
       |prod AS (SELECT i.i AS i, j.j AS j, sum(v[i.i] * v[j.j])::BIGINT AS p
       |         FROM q, range(1, 65) i(i), range(1, 65) j(j) GROUP BY 1, 2),
       |cov AS MATERIALIZED (
       |  SELECT p.i, p.j, ((st.n * p.p - si.s * sj.s) // 1048576)::BIGINT AS c
       |  FROM prod p CROSS JOIN st
       |  JOIN sums si ON si.i = p.i JOIN sums sj ON sj.i = p.j),
       |v0 AS (SELECT unnest(range(1, 65))::BIGINT AS i, 10000::BIGINT AS x),
       |${(1 to 3).map(round).mkString(",\n")},
       |num AS (SELECT sum(c.c * a.x * b.x)::BIGINT AS num
       |        FROM cov c JOIN v3 a ON c.i = a.i JOIN v3 b ON c.j = b.i),
       |den AS (SELECT sum(x * x)::BIGINT AS den FROM v3),
       |tr AS (SELECT sum(c)::BIGINT AS tr FROM cov WHERE i = j)
       |SELECT (num // den)::BIGINT AS lambda1_pre, tr AS trace_pre,
       |       (CASE WHEN tr = 0 THEN NULL
       |        ELSE (10000 * (num // den)) // tr END)::BIGINT AS var_share_bp
       |FROM num CROSS JOIN den CROSS JOIN tr""".stripMargin
  }

  /** Cluster-quality report over the label partition: exact-integer
    * cohesion (mean squared distance to the quantized centroid),
    * nearest-centroid separation, and the Davies–Bouldin-style ratio —
    * the "are my clusters real" gate. The oracle re-derives centroids
    * and distances RELATIONALLY (unnest + per-dim aggregates) where the
    * Spark side stays in array kernels. */
  def clusterQualityQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.clusterQuality(load(spark, dir, "embeddings"))
      .orderBy($"label")

  private val clusterQualitySql =
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding::DOUBLE[],
       |           x -> (floor(x * 1000))::BIGINT + 1000) AS v
       |  FROM $nzSql),
       |e AS (SELECT label, vec_id, unnest(v) AS c,
       |             generate_subscripts(v, 1) AS i FROM q),
       |cent AS (SELECT label, i,
       |                (sum(c)::BIGINT // count(*)::BIGINT) AS ci
       |         FROM e GROUP BY label, i),
       |nsz AS (SELECT label, count(*)::BIGINT AS n FROM q GROUP BY label),
       |d AS (SELECT e.label, (e.c - cent.ci) * (e.c - cent.ci) AS d2
       |      FROM e JOIN cent ON e.label = cent.label AND e.i = cent.i),
       |msd AS (SELECT d.label, nsz.n,
       |               (sum(d.d2)::BIGINT // nsz.n) AS msd_q6
       |        FROM d JOIN nsz ON d.label = nsz.label
       |        GROUP BY d.label, nsz.n),
       |cd AS (SELECT a.label AS la, b.label AS lb,
       |              sum((a.ci - b.ci) * (a.ci - b.ci))::BIGINT AS d2
       |       FROM cent a JOIN cent b ON a.i = b.i AND a.label != b.label
       |       GROUP BY a.label, b.label),
       |nn AS (SELECT la AS label, lb AS nn_label, d2 AS nn_d2_q6 FROM (
       |         SELECT la, lb, d2,
       |                row_number() OVER (PARTITION BY la ORDER BY d2, lb) AS rn
       |         FROM cd) WHERE rn = 1)
       |SELECT m.label, m.n, m.msd_q6, nn.nn_label, nn.nn_d2_q6,
       |       CASE WHEN nn.nn_d2_q6 = 0 THEN NULL
       |            ELSE (10000 * (m.msd_q6 + m2.msd_q6)) // nn.nn_d2_q6
       |       END AS db_bp
       |FROM msd m JOIN nn ON m.label = nn.label
       |JOIN msd m2 ON m2.label = nn.nn_label
       |ORDER BY m.label""".stripMargin

  /** Contrastive triplets: near-dup positives + one deterministic
    * other-label negative per anchor from its md5 hash bucket. */
  def simTriplets(spark: SparkSession, dir: String): DataFrame =
    Similarity.contrastiveTriplets(load(spark, dir, "embeddings"), 0.3,
        nBuckets = 16)
      .orderBy($"anchor_id", $"pos_id")

  private val simTripletsSql =
    s"""WITH pos AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       |         CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS cos_q4
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |anch AS (SELECT DISTINCT id_a, label FROM pos),
       |cand AS (
       |  SELECT vec_id AS neg_id, label AS neg_label,
       |         (('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 16) AS b
       |  FROM $nzSql),
       |negs AS (
       |  SELECT id_a,
       |         arg_min(neg_id, md5(id_a::VARCHAR || '|' || neg_id::VARCHAR)) AS neg_id
       |  FROM anch JOIN cand
       |    ON (('0x' || substr(md5(id_a::VARCHAR), 1, 8))::BIGINT % 16) = b
       |   AND neg_label <> anch.label
       |  GROUP BY id_a)
       |SELECT pos.id_a AS anchor_id, pos.id_b AS pos_id, negs.neg_id,
       |       pos.label, pos.cos_q4
       |FROM pos JOIN negs USING (id_a)
       |ORDER BY anchor_id, pos_id""".stripMargin

  /** Embedding near-dup, LSH-bucketed (the scale path: no metadata
    * blocking column, no all-pairs — multi-table sign-bit buckets,
    * exact cosine verify; candidates = bucket collision in ANY table). */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupLsh(load(spark, dir, "embeddings"), 0.3,
        nPlanes = 4, nTables = 8, dim = 64)
      .orderBy($"id_a", $"id_b")

  private val dedupEmbeddingLshSql = {
    // identical per-table seeded planes as cosineNearDupLsh(4, 8, 64)
    val bucketCols = (0 until 8).map(t =>
      s"${lshBucketSql("embedding", Similarity.hyperplanes(64, 4, seed = 42L + t))} AS b$t")
      .mkString(",\n  ")
    val anyTable = (0 until 8).map(t => s"a.b$t = b.b$t").mkString(" OR ")
    s"""WITH be AS (
       |  SELECT vec_id, embedding,
       |  $bucketCols
       |  FROM $nzSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS cos_q4
       |FROM be a JOIN be b ON a.vec_id < b.vec_id AND ($anyTable)
       |WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Pairwise ER evaluation ([[Similarity.pairEval]]): the LSH near-dup
    * pair set scored against label ground truth — pair-level
    * precision/recall/F1 in exact basis points, the readout that shows
    * whether a bucketed generator over- or under-merges (cluster purity
    * can't see pair-level misses). Truth = all same-label pairs among
    * nonzero vectors, counted as Σ n·(n−1)/2 without materializing. */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val pred = Similarity.cosineNearDupLsh(emb, 0.3,
      nPlanes = 4, nTables = 8, dim = 64).select($"id_a", $"id_b")
    val nz = emb.where(
      graft.functions.CustomExpressions.dot_product($"embedding", $"embedding") > 0)
    Similarity.pairEval(pred, nz, "vec_id", "label")
  }

  private val dedupEvalSql = {
    val bucketCols = (0 until 8).map(t =>
      s"${lshBucketSql("embedding", Similarity.hyperplanes(64, 4, seed = 42L + t))} AS b$t")
      .mkString(",\n  ")
    val anyTable = (0 until 8).map(t => s"a.b$t = b.b$t").mkString(" OR ")
    s"""WITH be AS (
       |  SELECT vec_id, label, embedding,
       |  $bucketCols
       |  FROM $nzSql),
       |pred AS (
       |  SELECT a.label AS la, b.label AS lb
       |  FROM be a JOIN be b ON a.vec_id < b.vec_id AND ($anyTable)
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |stats AS (
       |  SELECT count(*)::BIGINT AS n_pred,
       |         coalesce(sum(CASE WHEN la = lb THEN 1 END), 0)::BIGINT AS tp
       |  FROM pred),
       |truth AS (
       |  SELECT coalesce(sum((n * (n - 1)) // 2), 0)::BIGINT AS n_truth
       |  FROM (SELECT label, count(*)::BIGINT AS n FROM $nzSql GROUP BY label)),
       |m AS (
       |  SELECT n_pred, n_truth, tp,
       |         (CASE WHEN n_pred = 0 THEN 0
       |               ELSE (10000 * tp) // n_pred END)::BIGINT AS precision_bp,
       |         (CASE WHEN n_truth = 0 THEN 0
       |               ELSE (10000 * tp) // n_truth END)::BIGINT AS recall_bp
       |  FROM stats CROSS JOIN truth)
       |SELECT n_pred, n_truth, tp, precision_bp, recall_bp,
       |       (CASE WHEN precision_bp + recall_bp = 0 THEN 0
       |             ELSE (2 * precision_bp * recall_bp)
       |                    // (precision_bp + recall_bp) END)::BIGINT AS f1_bp
       |FROM m""".stripMargin
  }

  /** Dedup resolution end-to-end: embedding near-dup pairs → connected
    * components → one canonical doc per cluster. The oracle reproduces
    * min-label components with a recursive CTE (min reachable id =
    * component min, since the edge list is symmetrized). */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    Dedup.resolveComponents(emb, pairs, idCol = "vec_id").orderBy($"vec_id")
  }

  private val componentsCte =
    s"""pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |comp(id, comp) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, c.comp FROM edges e JOIN comp c ON e.src = c.id),
       |lab AS (SELECT id, min(comp) AS component_id FROM comp GROUP BY id)""".stripMargin

  private val dedupComponentsSql =
    s"""WITH RECURSIVE $componentsCte
       |SELECT id AS vec_id, component_id, id = component_id AS is_canonical
       |FROM lab ORDER BY vec_id""".stripMargin

  /** Cluster-size histogram over the near-dup components — the dedup
    * IMPACT dashboard (how much of the corpus sits in clusters of each
    * size, and therefore how much a keep-one-per-cluster pass removes).
    * Two cascaded bounded aggregates over the component labels. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    Dedup.resolveComponents(emb, pairs, idCol = "vec_id")
      .groupBy($"component_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz").agg(count(lit(1)).as("n_components"))
      .select($"sz", $"n_components",
        ($"sz" * $"n_components").as("n_docs"),
        (($"sz" - 1L) * $"n_components").as("n_removable"))
      .orderBy($"sz")
  }

  private val dedupClusterStatsSql =
    s"""WITH RECURSIVE $componentsCte,
       |cs AS (SELECT component_id, count(*) AS sz FROM lab GROUP BY 1)
       |SELECT sz, count(*) AS n_components,
       |       (sz * count(*))::BIGINT AS n_docs,
       |       ((sz - 1) * count(*))::BIGINT AS n_removable
       |FROM cs GROUP BY sz ORDER BY sz""".stripMargin

  /** ext_cc_star — giant-star connected components, the adversarial
    * shape for label propagation + contraction: ONE component of Θ(n)
    * nodes at diameter 1 with a hub of degree n − 1 (the r11 verdict's
    * unmeasured spot — the zipf corpus plants hot KEYS but never a
    * giant CC cluster, so [[graft.ext.Dedup.resolveComponents]]'s
    * contraction under a Θ(n)-degree hub was measured nowhere; Kiveris
    * et al.'s alternating large-star/small-star exists for exactly
    * this shape and gets implemented only if this entry degrades).
    * The star is built directly as an edge spine (NO pair generation,
    * so output stays linear by construction), sized 20× the documents
    * table so it scales with the corpus; the hub is the MAX id, so
    * min-labels must flow leaf → hub → leaves (two propagation rounds,
    * not one). `localFinishEdges = 0` keeps the loop fully distributed
    * — the default driver union-find would absorb the m1-sized star
    * and the gate would compare code PATHS, not scales. Output is the
    * per-component rollup (one row), not n labels: the gate times the
    * resolve, not the dump. */
  def ccStarQ(spark: SparkSession, dir: String): DataFrame = {
    val n = load(spark, dir, "documents").count() * 20L
    val nodes = spark.range(n).select($"id".as("doc_id"))
    val pairs = spark.range(n - 1)
      .select($"id".as("id_a"), lit(n - 1).as("id_b"))
    Dedup.resolveComponents(nodes, pairs, idCol = "doc_id",
        localFinishEdges = 0L)
      .groupBy($"component_id")
      .agg(count(lit(1)).as("n_nodes"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"),
        sum(when($"is_canonical", 1L).otherwise(0L)).as("n_canonical"))
      .orderBy($"component_id")
  }

  // the star's components have a CLOSED FORM (one component rooted at
  // the min id 0) — the oracle states it, scaled off the same table
  private val ccStarSql =
    """WITH n AS (SELECT 20 * count(*) AS n FROM documents)
      |SELECT 0::BIGINT AS component_id, n::BIGINT AS n_nodes,
      |       0::BIGINT AS min_id, (n - 1)::BIGINT AS max_id,
      |       1::BIGINT AS n_canonical
      |FROM n""".stripMargin

  /** Leakage-safe train/val/test split: split assignment keyed on the
    * near-dup COMPONENT id, not the document id, so near-duplicates can
    * never straddle train and eval (the contamination mode a plain
    * per-doc split invites — one copy trains, its near-copy evaluates).
    * Composes cosineNearDup → resolveComponents → splitAssign; the
    * whole-cluster-moves property is what decontamination-by-split
    * means at scale. */
  def splitLeakageSafe(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    Dedup.resolveComponents(emb, pairs, idCol = "vec_id")
      .select($"vec_id", $"component_id",
        Sampling.splitAssign($"component_id",
          Seq(("train", 8000), ("val", 1000), ("test", 1000))).as("split"))
      .orderBy($"vec_id")
  }

  private val splitLeakageSafeSql = {
    val compBucket =
      "(('0x' || substr(md5(component_id::VARCHAR), 1, 8))::BIGINT % 10000)"
    s"""WITH RECURSIVE $componentsCte
       |SELECT id AS vec_id, component_id,
       |  CASE WHEN component_id IS NULL THEN NULL
       |       WHEN $compBucket < 8000 THEN 'train'
       |       WHEN $compBucket < 9000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM lab ORDER BY vec_id""".stripMargin
  }

  /** End-to-end dedup pipeline (what a training-data run actually does):
    * near-dup pairs → connected components → keep the HIGHEST-QUALITY
    * member per cluster (not min-id) with deterministic tie-break.
    * Composes cosineNearDup + resolveComponents + TextStats quality +
    * a per-component argmax window. */
  def dedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = load(spark, dir, "embeddings")
    val docs = load(spark, dir, "documents")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val comps = Dedup.resolveComponents(emb, pairs, idCol = "vec_id")
    val q = TextStats.analyze(docs).select($"doc_id", $"quality_q4")
    val best = Window.partitionBy($"component_id")
      .orderBy($"quality_q4".desc, $"vec_id")
    comps.join(q, $"vec_id" === $"doc_id")
      .withColumn("rk", row_number().over(best))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"component_id")))
      .where($"rk" === 1)
      .select($"component_id", $"vec_id".as("best_id"),
        $"quality_q4".as("best_quality_q4"), $"n_members")
      .orderBy($"component_id")
  }

  private val dedupPipelineSql = {
    val enStop = TextStats.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE $componentsCte,
       |qw AS (SELECT doc_id, text, $toksSql AS ws FROM documents),
       |qs AS (SELECT doc_id,
       |  list_sum(list_transform(ws, w -> length(w)))::BIGINT AS s,
       |  greatest(len(ws), 1)::BIGINT AS n,
       |  len(list_filter(ws, w -> w IN ($enStop)))::BIGINT AS c,
       |  greatest(length(text), 1)::BIGINT AS l,
       |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p
       |  FROM qw),
       |q AS (SELECT doc_id, $q4Sql AS quality_q4 FROM qs),
       |m AS (SELECT l.component_id, l.id, q.quality_q4
       |      FROM lab l JOIN q ON l.id = q.doc_id),
       |r AS (SELECT component_id, id, quality_q4,
       |        row_number() OVER (PARTITION BY component_id
       |          ORDER BY quality_q4 DESC, id) AS rk,
       |        count(*) OVER (PARTITION BY component_id) AS n_members
       |      FROM m)
       |SELECT component_id, id AS best_id, quality_q4 AS best_quality_q4,
       |       n_members
       |FROM r WHERE rk = 1 ORDER BY component_id""".stripMargin
  }

  /** SemDeDup: cluster embeddings into cells (deterministic farthest
    * seeds so the oracle rebuilds them), pair only within a cell,
    * resolve components, mark the min-id canonical. The oracle replays
    * seeding, assignment, within-cell pairs, and min-label components
    * relationally — so the hash match pins the whole cluster-then-dedup
    * cascade, not just the pieces. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroidsKmeans(emb, nCells = 4, iters = 0,
      seeding = "farthest")
    Dedup.semanticDedup(emb, nCells = 4, threshold = 0.3,
        centroids = Some(cents))
      .orderBy($"vec_id")
  }

  private val dedupSemanticSql =
    s"""WITH RECURSIVE $farthestSeeds4Cte,
       |cassign AS (
       |  SELECT e.vec_id, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c_vec) DESC,
       |                    c.cell) AS rn
       |  FROM embeddings e CROSS JOIN cents c),
       |cells AS (SELECT vec_id, cell FROM cassign WHERE rn = 1),
       |pnz AS (
       |  SELECT n.vec_id, n.embedding, cl.cell
       |  FROM nz n JOIN cells cl USING (vec_id)),
       |spairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM pnz a JOIN pnz b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |sedges AS (
       |  SELECT id_a AS src, id_b AS dst FROM spairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM spairs),
       |scomp(id, comp) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, c.comp FROM sedges e JOIN scomp c ON e.src = c.id),
       |slab AS (SELECT id, min(comp) AS component_id FROM scomp GROUP BY id)
       |SELECT l.id AS vec_id, cl.cell, l.component_id,
       |       l.id = l.component_id AS is_canonical
       |FROM slab l JOIN cells cl ON cl.vec_id = l.id
       |ORDER BY vec_id""".stripMargin

  /** Brute-force cosine top-5 for the first 10 vectors as queries. */
  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb.where($"vec_id" < 10), emb, 5)
      .orderBy($"q_id", $"rank")
  }

  private val simTopKSql =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Per-document text statistics (token counts, quality, lang-id,
    * fingerprint). */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.analyze(load(spark, dir, "documents")).orderBy($"doc_id")

  // Language-ID SQL fragments shared by the text-stats and corpus-filter
  // oracles — always derived from TextStats.stopwords, never retyped.
  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
  private val langs = Seq("en", "fr", "es", "de", "zh")
  private val langScoreExprs = langs.map(l =>
    s"len(list_filter(ws, w -> w IN (${inList(TextStats.stopwords(l))}))) AS s_$l").mkString(",\n  ")
  private val langBestSql = s"greatest(${langs.map("s_" + _).mkString(", ")})"
  private val langPredCase = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'")
    .mkString("CASE ", " ", " ELSE 'und' END")

  /** Language-ID evaluation: the confusion matrix of predicted vs
    * labeled language with per-cell share of the label's row in basis
    * points — the accuracy report run before trusting the lang column
    * downstream (stratified sampling, per-lang quality bands). One
    * |langs|²-bounded aggregate; the broadcast row totals are the
    * transition-matrix shape. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
      .select($"lang", TextStats.langId(TextStats.tokens($"text")).as("lang_pred"))
    val cells = d.groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
    val totals = d.groupBy($"lang").agg(count(lit(1)).as("_t"))
    cells.join(broadcast(totals), Seq("lang"))
      .select($"lang", $"lang_pred", $"n",
        expr("(10000 * n) div _t").as("share_bp"))
      .orderBy($"lang", $"lang_pred")
  }

  private val langConfusionSql =
    s"""WITH w AS (
       |  SELECT doc_id, lang, $toksSql AS ws FROM documents),
       |scored AS (SELECT doc_id, lang, $langScoreExprs FROM w),
       |p AS (SELECT lang, $langBestSql AS best, * FROM scored),
       |pred AS (SELECT lang, $langPredCase AS lang_pred FROM p),
       |cells AS (SELECT lang, lang_pred, count(*)::BIGINT AS n
       |          FROM pred GROUP BY lang, lang_pred),
       |t AS (SELECT lang, count(*) AS tt FROM pred GROUP BY lang)
       |SELECT c.lang, c.lang_pred, c.n,
       |       ((10000 * c.n) // t.tt)::BIGINT AS share_bp
       |FROM cells c JOIN t USING (lang)
       |ORDER BY c.lang, c.lang_pred""".stripMargin

  /** ext_kappa_langid — Cohen's κ between the stored `lang` label and
    * the n-gram lang-id prediction ([[Frequency.cohenKappa]]): the
    * chance-corrected agreement score a labeling pipeline reports
    * where raw accuracy lies (a majority-class predictor scores high
    * accuracy but κ ≈ 0). Same prediction chain as ext_lang_confusion;
    * the oracle replays prediction AND the κ arithmetic. */
  def kappaLangId(spark: SparkSession, dir: String): DataFrame =
    Frequency.cohenKappa(
      load(spark, dir, "documents")
        .select($"lang",
          TextStats.langId(TextStats.tokens($"text")).as("lang_pred")),
      "lang", "lang_pred")

  private val kappaLangIdSql =
    s"""WITH w AS (
       |  SELECT doc_id, lang, $toksSql AS ws FROM documents),
       |scored AS (SELECT doc_id, lang, $langScoreExprs FROM w),
       |p AS (SELECT lang, $langBestSql AS best, * FROM scored),
       |pred AS (SELECT lang AS a, $langPredCase AS b FROM p),
       |cells AS (SELECT a, b, count(*)::BIGINT AS c FROM pred GROUP BY 1, 2),
       |nn AS (SELECT sum(c)::BIGINT AS n FROM cells),
       |ag AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_agree FROM cells
       |       WHERE a IS NOT DISTINCT FROM b),
       |ra AS (SELECT a, sum(c)::BIGINT AS ra FROM cells GROUP BY 1),
       |cb AS (SELECT b, sum(c)::BIGINT AS cb FROM cells GROUP BY 1),
       |s AS (SELECT coalesce(sum(ra.ra::HUGEINT * cb.cb), 0)::HUGEINT AS s_chance
       |      FROM ra JOIN cb ON ra.a IS NOT DISTINCT FROM cb.b)
       |SELECT n, n_agree, s_chance::BIGINT AS s_chance,
       |       (CASE WHEN n::HUGEINT * n - s_chance = 0 THEN 0
       |        WHEN n::HUGEINT * n_agree - s_chance >= 0
       |          THEN (10000 * (n::HUGEINT * n_agree - s_chance)) //
       |               (n::HUGEINT * n - s_chance)
       |        ELSE -((10000 * (s_chance - n::HUGEINT * n_agree)) //
       |               (n::HUGEINT * n - s_chance))
       |        END)::BIGINT AS kappa_bp
       |FROM nn CROSS JOIN ag CROSS JOIN s""".stripMargin

  private val textStatsSql = {
    val scoreExprs = langScoreExprs
    val best = langBestSql
    val predCase = langPredCase
    s"""WITH w AS (
       |  SELECT doc_id, text, $toksSql AS ws FROM documents),
       |scored AS (
       |  SELECT doc_id, text, ws, $scoreExprs FROM w),
       |withbest AS (
       |  SELECT *, $best AS best FROM scored),
       |stats AS (
       |  SELECT doc_id,
       |    len(ws) AS n_tokens,
       |    len(list_distinct(ws)) AS n_distinct,
       |    list_sum(list_transform(ws, w -> length(w)))::BIGINT AS s,
       |    greatest(len(ws), 1)::BIGINT AS n,
       |    s_en::BIGINT AS c,
       |    greatest(length(text), 1)::BIGINT AS l,
       |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p,
       |    list_sum(list_transform(ws, w -> length(w)))::DOUBLE
       |      / greatest(len(ws), 1) AS awl,
       |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
       |      / greatest(length(text), 1) AS pr,
       |    s_en::DOUBLE / greatest(len(ws), 1) AS sr,
       |    $predCase AS lang_pred,
       |    md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS fingerprint
       |  FROM withbest)
       |SELECT doc_id, n_tokens, n_distinct,
       |  round(awl, 4) AS avg_word_len,
       |  round(pr, 4) AS punct_ratio,
       |  round(sr, 4) AS stopword_ratio,
       |  $q4Sql AS quality_q4,
       |  lang_pred, fingerprint
       |FROM stats ORDER BY doc_id""".stripMargin
  }

  /** 2-D mix raking (IPF): re-weight the lang × source cell grid so
    * both marginals approach uniform — the simultaneous-balance step
    * temperature mixing can't do. 3 integer rounds, oracle unrolled. */
  def mixRaking(spark: SparkSession, dir: String): DataFrame =
    Sampling.rakeWeights(load(spark, dir, "documents"), "lang", "source",
        rounds = 3)
      .orderBy($"lang", $"source")

  private val mixRakingSql = {
    def round(i: Int, prev: String) =
      s"""ra$i AS MATERIALIZED (
         |  SELECT w.a, w.b, w.c, ((w.w * t.ta) // g.rt)::BIGINT AS w
         |  FROM $prev w CROSS JOIN tot t
         |  JOIN (SELECT a, sum(w)::BIGINT AS rt FROM $prev GROUP BY a) g
         |    ON w.a = g.a),
         |rb$i AS MATERIALIZED (
         |  SELECT w.a, w.b, w.c, ((w.w * t.tb) // g.ct)::BIGINT AS w
         |  FROM ra$i w CROSS JOIN tot t
         |  JOIN (SELECT b, sum(w)::BIGINT AS ct FROM ra$i GROUP BY b) g
         |    ON w.b = g.b)""".stripMargin
    s"""WITH cells AS MATERIALIZED (
       |  SELECT coalesce(lang, '∅') AS a, coalesce(source, '∅') AS b,
       |         count(*)::BIGINT AS c
       |  FROM documents GROUP BY 1, 2),
       |tot AS MATERIALIZED (
       |  SELECT ((sum(c)::BIGINT * 10000) // count(DISTINCT a))::BIGINT AS ta,
       |         ((sum(c)::BIGINT * 10000) // count(DISTINCT b))::BIGINT AS tb
       |  FROM cells),
       |w0 AS (SELECT a, b, c, (c * 10000)::BIGINT AS w FROM cells),
       |${round(1, "w0")},
       |${round(2, "rb1")},
       |${round(3, "rb2")}
       |SELECT a AS lang, b AS source, c AS n_docs, w AS w_q4,
       |       ((10000 * w) // (c * 10000))::BIGINT AS rate_bp
       |FROM rb3 ORDER BY lang, source""".stripMargin
  }

  /** Chunk-level language consistency: per doc, the majority chunk
    * language, its exact-bp share, and the mixed flag — CCNet's
    * paragraph-level lang-ID reshaped to fixed token windows. */
  def langMixed(spark: SparkSession, dir: String): DataFrame =
    TextStats.mixedLanguage(load(spark, dir, "documents"), chunkSize = 32)
      .orderBy($"doc_id")

  private val langMixedSql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS ws0 FROM documents),
       |c AS (
       |  SELECT doc_id,
       |         ws0[cid * 32 + 1 : cid * 32 + 32] AS ws
       |  FROM (SELECT doc_id, ws0, unnest(generate_series(0,
       |          greatest(len(ws0) - 1, 0) // 32)) AS cid FROM t)),
       |scored AS (SELECT doc_id, $langScoreExprs FROM c),
       |wb AS (SELECT *, $langBestSql AS best FROM scored),
       |lg AS (SELECT doc_id, $langPredCase AS lg FROM wb),
       |cnt AS (SELECT doc_id, lg, count(*) AS c FROM lg GROUP BY 1, 2),
       |top AS (
       |  SELECT doc_id, lg, c,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY c DESC, lg) AS rn,
       |         sum(c) OVER (PARTITION BY doc_id) AS nch,
       |         count(*) OVER (PARTITION BY doc_id) AS nl
       |  FROM cnt)
       |SELECT doc_id, nch::BIGINT AS n_chunks, nl::BIGINT AS n_langs,
       |       lg AS major_lang,
       |       ((10000 * c) // nch)::BIGINT AS major_share_bp,
       |       ((10000 * c) // nch) < 8000 AS is_mixed
       |FROM top WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Leave-one-source-out ablation: for each source, the EXACT change
    * in corpus mean quality if that source were dropped —
    * delta = (n_s·T − N·sum_s) ∕ (N·(N−n_s)) in q8 (q4 score ×10⁴),
    * positive ⇒ the corpus improves without the source. The data-mixing
    * readout that ranks sources by marginal value before re-weighting. */
  def sourceAblation(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val q = TextStats.analyze(docs).select($"doc_id", $"quality_q4")
    val bySrc = docs
      .select($"doc_id", coalesce($"source", lit("∅")).as("source"))
      .join(q, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"quality_q4").as("_sum"))
    val tot = bySrc.agg(sum($"n_docs").as("_N"), sum($"_sum").as("_T"))
    bySrc.crossJoin(broadcast(tot))
      .select($"source", $"n_docs",
        expr("_sum div n_docs").as("mean_q4"),
        when($"n_docs" === $"_N", lit(null).cast("long"))
          .otherwise(expr(
            "(10000 * (n_docs * _T - _N * _sum)) div (_N * (_N - n_docs))"))
          .as("loo_delta_q8"))
      .orderBy($"source")
  }

  private val sourceAblationSql =
    s"""WITH w AS (
       |  SELECT doc_id, text, source, $toksSql AS ws FROM documents),
       |scored AS (SELECT doc_id, text, source, ws, $langScoreExprs FROM w),
       |qs AS (SELECT doc_id, coalesce(source, '∅') AS source,
       |  list_sum(list_transform(ws, x -> length(x)))::BIGINT AS s,
       |  greatest(len(ws), 1)::BIGINT AS n,
       |  s_en::BIGINT AS c,
       |  greatest(length(text), 1)::BIGINT AS l,
       |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p
       |  FROM scored),
       |q AS (SELECT doc_id, source, $q4Sql AS quality_q4 FROM qs),
       |g AS (SELECT source, count(*)::BIGINT AS n_docs,
       |             sum(quality_q4)::BIGINT AS sm
       |      FROM q GROUP BY source),
       |t AS (SELECT sum(n_docs)::BIGINT AS nn, sum(sm)::BIGINT AS tt FROM g)
       |SELECT source, n_docs, (sm // n_docs)::BIGINT AS mean_q4,
       |       CASE WHEN n_docs = nn THEN NULL
       |            ELSE (10000 * (n_docs * tt - nn * sm))
       |                   // (nn * (nn - n_docs)) END::BIGINT AS loo_delta_q8
       |FROM g CROSS JOIN t ORDER BY source""".stripMargin

  /** Per-language quality percentile normalization: each doc's quality
    * score as an exact-bp percentile WITHIN its predicted language —
    * the language-fair thresholding step (an absolute quality cut
    * over-prunes low-resource languages whose scores skew low). One
    * doc-cardinality shuffle on lang_pred; the rank and count are
    * partitioned windows, never a global sort. */
  def qualityPctile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextStats.analyze(load(spark, dir, "documents"))
      .select($"doc_id", $"lang_pred", $"quality_q4")
    val w = Window.partitionBy($"lang_pred").orderBy($"quality_q4", $"doc_id")
    val n = Window.partitionBy($"lang_pred")
    q.withColumn("_rnk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(n))
      .select($"doc_id", $"lang_pred", $"quality_q4",
        expr("(10000 * (_rnk - 1)) div greatest(_n - 1, 1)").as("pctile_bp"))
      .orderBy($"doc_id")
  }

  private val qualityPctileSql = {
    val enStop = TextStats.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, text, $toksSql AS ws FROM documents),
       |scored AS (SELECT doc_id, text, ws, $langScoreExprs FROM w),
       |wb AS (SELECT *, $langBestSql AS best FROM scored),
       |pred AS (SELECT doc_id, text, ws, s_en,
       |           $langPredCase AS lang_pred FROM wb),
       |qs AS (SELECT doc_id, lang_pred,
       |  list_sum(list_transform(ws, w -> length(w)))::BIGINT AS s,
       |  greatest(len(ws), 1)::BIGINT AS n,
       |  s_en::BIGINT AS c,
       |  greatest(length(text), 1)::BIGINT AS l,
       |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p
       |  FROM pred),
       |q AS (SELECT doc_id, lang_pred, $q4Sql AS quality_q4 FROM qs),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY lang_pred
       |          ORDER BY quality_q4, doc_id) AS rnk,
       |        count(*) OVER (PARTITION BY lang_pred) AS nn
       |      FROM q)
       |SELECT doc_id, lang_pred, quality_q4,
       |       ((10000 * (rnk - 1)) // greatest(nn - 1, 1))::BIGINT AS pctile_bp
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Pareto-frontier document selection: docs not dominated under
    * (maximize quality, minimize tokens) — the trade-off curve a single
    * weighted score hides. Spark runs the bounded-domain skyline (one
    * aggregate + strict-prefix min); the oracle runs the O(n²)
    * NOT-EXISTS dominance directly, independently checking it. */
  def paretoDocs(spark: SparkSession, dir: String): DataFrame = {
    val q = TextStats.analyze(Tables.loadWide(spark, dir, "documents"))
      .select($"doc_id", $"quality_q4", $"n_tokens")
    Sampling.paretoFrontier(q, "quality_q4", "n_tokens", "doc_id")
      .select($"doc_id", $"quality_q4", $"n_tokens")
      .orderBy($"doc_id")
  }

  private val paretoDocsSql = {
    val enStop = TextStats.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, text, $toksSql AS ws FROM documents),
       |scored AS (SELECT doc_id, text, ws, s_en FROM (
       |  SELECT doc_id, text, ws,
       |         len(list_filter(ws, x -> x IN ($enStop))) AS s_en FROM w)),
       |qs AS (SELECT doc_id, len(ws) AS n_tokens,
       |  list_sum(list_transform(ws, x -> length(x)))::BIGINT AS s,
       |  greatest(len(ws), 1)::BIGINT AS n,
       |  s_en::BIGINT AS c,
       |  greatest(length(text), 1)::BIGINT AS l,
       |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p
       |  FROM scored),
       |q AS (SELECT doc_id, ($q4Sql)::BIGINT AS quality_q4, n_tokens FROM qs)
       |SELECT d.doc_id, d.quality_q4, d.n_tokens
       |FROM q d
       |WHERE NOT EXISTS (SELECT 1 FROM q o WHERE
       |   (o.quality_q4 > d.quality_q4 AND o.n_tokens <= d.n_tokens) OR
       |   (o.quality_q4 >= d.quality_q4 AND o.n_tokens < d.n_tokens))
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Hybrid-retrieval rank fusion: RRF of the LSH and IVF retrievers'
    * top-5, exact integer ⌊10⁸∕(60+rank)⌋ scores. */
  def simRrf(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val q = emb.where($"vec_id" < 10)
    Similarity.rrfFuse(Seq(
        Similarity.lshTopK(q, emb, 5, nPlanes = 4, dim = 64),
        Similarity.ivfTopK(q, emb, 5, nCells = 16, nProbe = 4)), k = 5)
      .orderBy($"q_id", $"rank")
  }

  private val simRrfSql = {
    val bucket = lshBucketSql("embedding", Similarity.hyperplanes(64, 4))
    val dotc = (v: String) => s"list_dot_product($v::DOUBLE[], c.c_vec)"
    s"""WITH lsh_be AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |lsh_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM lsh_be q JOIN lsh_be c
       |    ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |lsh_topk AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM lsh_scored) WHERE rank <= 5),
       |ivf_cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding::DOUBLE[],
       |           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
       |                                          embedding::DOUBLE[]))) AS c_vec
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
       |        ORDER BY vec_id LIMIT 16)),
       |ivf_cassign AS (
       |  SELECT e.vec_id AS n_id, e.embedding AS n_vec, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotc("e.embedding")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN ivf_cents c),
       |ivf_corpus AS (SELECT n_id, n_vec, cell FROM ivf_cassign WHERE rn = 1),
       |ivf_qassign AS (
       |  SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cell,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${dotc("q.embedding")} DESC, c.cell) AS pr
       |  FROM embeddings q CROSS JOIN ivf_cents c WHERE q.vec_id < 10),
       |ivf_probes AS (SELECT q_id, q_vec, cell FROM ivf_qassign WHERE pr <= 4),
       |ivf_scored AS (
       |  SELECT p.q_id, n.n_id, ${cosSql("p.q_vec", "n.n_vec")} AS cos
       |  FROM ivf_probes p JOIN ivf_corpus n USING (cell) WHERE p.q_id != n.n_id),
       |ivf_topk AS (
       |  SELECT q_id, n_id, rank FROM (
       |    SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS rank
       |    FROM ivf_scored) WHERE rank <= 5),
       |u AS (
       |  SELECT q_id, n_id, 100000000 // (60 + rank) AS s FROM lsh_topk
       |  UNION ALL
       |  SELECT q_id, n_id, 100000000 // (60 + rank) AS s FROM ivf_topk),
       |g AS (SELECT q_id, n_id, (sum(s))::BIGINT AS rrf_score
       |      FROM u GROUP BY 1, 2)
       |SELECT q_id, n_id, rrf_score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |           ORDER BY rrf_score DESC, n_id) AS rank FROM g)
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** Quality→accuracy calibration: per quality decile, how often the
    * language-ID agrees with the label — the "does this quality signal
    * actually predict anything" reliability check run before a score
    * gates sampling. Exact integer deciles and accuracy bp; one
    * doc-keyed join + one 10-row aggregate. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val q = TextStats.analyze(docs)
      .select($"doc_id", $"lang_pred", $"quality_q4")
    docs.select($"doc_id", $"lang").join(q, Seq("doc_id"))
      .select(least(expr("quality_q4 div 1000"), lit(9L)).as("decile"),
        when($"lang_pred" === $"lang", 1L).otherwise(0L).as("ok"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"ok").as("n_correct"))
      .select($"decile", $"n_docs", $"n_correct",
        expr("(10000 * n_correct) div n_docs").as("acc_bp"))
      .orderBy($"decile")
  }

  private val qualityCalibrationSql = {
    val enStop = TextStats.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, lang, text, $toksSql AS ws FROM documents),
       |scored AS (SELECT doc_id, lang, text, ws, $langScoreExprs FROM w),
       |wb AS (SELECT *, $langBestSql AS best FROM scored),
       |pred AS (SELECT doc_id, lang, text, ws, s_en,
       |           $langPredCase AS lang_pred FROM wb),
       |qs AS (SELECT doc_id, lang, lang_pred,
       |  list_sum(list_transform(ws, x -> length(x)))::BIGINT AS s,
       |  greatest(len(ws), 1)::BIGINT AS n,
       |  s_en::BIGINT AS c,
       |  greatest(length(text), 1)::BIGINT AS l,
       |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p
       |  FROM pred),
       |q AS (SELECT doc_id, lang, lang_pred, $q4Sql AS quality_q4 FROM qs)
       |SELECT least(quality_q4 // 1000, 9) AS decile,
       |       count(*) AS n_docs,
       |       (sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END))::BIGINT
       |         AS n_correct,
       |       ((10000 * sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END))
       |          // count(*))::BIGINT AS acc_bp
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Isotonic calibration of the hashing-trick classifier score against
    * the exact quality rule ([[Frequency.isotonicCalibrate]], PAV):
    * per score bucket, the raw share of docs passing quality_q4 ≥ 8000
    * AND the pooled monotone fit — the reliability curve a
    * thresholding pipeline can consume. The oracle replays the exact
    * bucket counts and the PAV merge sequence as a small-step machine
    * in one recursive CTE (cross-multiplied integer rate comparisons —
    * every pooling decision hash-gated). */
  /** (score_bp, y) frame shared by the calibration family: classifier
    * score per doc against the exact quality_q4 ≥ 8000 outcome. */
  private def scoredOutcome(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val score = TextStats.classifierScore(docs).select($"doc_id", $"score_bp")
    val quality = TextStats.analyze(docs).select($"doc_id", $"quality_q4")
    score.join(quality, Seq("doc_id"))
      .select($"score_bp", ($"quality_q4" >= 8000L).cast("long").as("y"))
  }

  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame =
    Frequency.isotonicCalibrate(scoredOutcome(spark, dir),
        "score_bp", "y", bucketWidth = 250L)
      .orderBy($"bucket")

  /** ext_calibration_error — ECE/MCE (Naeini 2015) + Brier of the
    * hashing-trick classifier score against the exact quality outcome
    * ([[graft.ops.RankStats.calibrationError]]): the one-row "can the
    * score be thresholded at face value" summary next to the per-decile
    * reliability table and the PAV fix. All exact integers. */
  def calibrationErrorQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.RankStats.calibrationError(
      scoredOutcome(spark, dir), $"score_bp", $"y" === 1L)

  // def, NOT val: references classifierScoreCte (object-init order)
  private def calibrationErrorSql = {
    val enStops = inList(TextStats.stopwords("en"))
    s"""WITH $classifierScoreCte,
       |w2 AS (
       |  SELECT doc_id, text, $toksSql AS ws FROM documents),
       |qs AS (SELECT doc_id,
       |  list_sum(list_transform(ws, x -> length(x)))::BIGINT AS s,
       |  greatest(len(ws), 1)::BIGINT AS n,
       |  len(list_filter(ws, x -> x IN ($enStops)))::BIGINT AS c,
       |  greatest(length(text), 1)::BIGINT AS l,
       |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p
       |  FROM w2),
       |q AS (SELECT doc_id, $q4Sql AS quality_q4 FROM qs),
       |so AS MATERIALIZED (
       |  SELECT sc.score_bp AS conf,
       |         CASE WHEN q.quality_q4 >= 8000 THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN q USING (doc_id)),
       |bk AS (
       |  SELECT least(conf // 1000, 9) AS b, count(*)::BIGINT AS n_b,
       |         sum(y)::BIGINT AS c_b, sum(conf)::BIGINT AS s_b
       |  FROM so GROUP BY 1),
       |g AS (
       |  SELECT n_b, abs((10000 * c_b) // n_b - s_b // n_b) AS gap
       |  FROM bk),
       |e AS (
       |  SELECT sum(n_b)::BIGINT AS n,
       |         (sum(n_b * gap) // sum(n_b))::BIGINT AS ece_bp,
       |         max(gap)::BIGINT AS mce_bp
       |  FROM g),
       |br AS (
       |  SELECT (sum((conf - 10000 * y) * (conf - 10000 * y))
       |            // count(*))::BIGINT AS brier_q8
       |  FROM so)
       |SELECT n, ece_bp, mce_bp, brier_q8 FROM e CROSS JOIN br""".stripMargin
  }

  // def, NOT val: references classifierScoreCte, declared later in this
  // object — a val here would interpolate the literal "null" (the
  // object-init-order hazard the verify notes pin)
  private def isotonicCalibrationSql = {
    val enStops = inList(TextStats.stopwords("en"))
    val viol = (st: String) =>
      s"len($st) >= 2 AND $st[-2][1] * $st[-1][2] > $st[-1][1] * $st[-2][2]"
    s"""WITH RECURSIVE $classifierScoreCte,
       |w2 AS MATERIALIZED (
       |  SELECT doc_id, text, $toksSql AS ws FROM documents),
       |qs AS (SELECT doc_id,
       |  list_sum(list_transform(ws, x -> length(x)))::BIGINT AS s,
       |  greatest(len(ws), 1)::BIGINT AS n,
       |  len(list_filter(ws, x -> x IN ($enStops)))::BIGINT AS c,
       |  greatest(length(text), 1)::BIGINT AS l,
       |  (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS p
       |  FROM w2),
       |q AS (SELECT doc_id, $q4Sql AS quality_q4 FROM qs),
       |bk AS MATERIALIZED (
       |  SELECT sc.score_bp // 250 AS bucket, count(*)::BIGINT AS n,
       |         sum(CASE WHEN q.quality_q4 >= 8000 THEN 1 ELSE 0 END)::BIGINT AS k
       |  FROM sc JOIN q USING (doc_id)
       |  GROUP BY 1),
       |bi AS MATERIALIZED (
       |  SELECT bucket, n, k, row_number() OVER (ORDER BY bucket) AS idx
       |  FROM bk),
       |nb AS MATERIALIZED (SELECT count(*)::BIGINT AS nbk FROM bi),
       |m AS (
       |  SELECT 0::BIGINT AS i, []::BIGINT[][] AS st
       |  UNION ALL
       |  SELECT CASE WHEN ${viol("m.st")} THEN m.i ELSE m.i + 1 END,
       |         CASE WHEN ${viol("m.st")}
       |              THEN list_append(m.st[1:len(m.st)-2],
       |                     [m.st[-2][1] + m.st[-1][1],
       |                      m.st[-2][2] + m.st[-1][2],
       |                      m.st[-2][3] + m.st[-1][3]])
       |              ELSE list_append(m.st, [bi.k, bi.n, 1::BIGINT])
       |         END
       |  FROM m LEFT JOIN bi ON bi.idx = m.i + 1
       |  WHERE (${viol("m.st")}) OR bi.idx IS NOT NULL),
       |fin AS MATERIALIZED (
       |  SELECT st FROM m
       |  WHERE i = (SELECT nbk FROM nb) AND NOT (${viol("st")})),
       |blocks AS (
       |  SELECT j, st[j] AS blk FROM (
       |    SELECT st, unnest(range(1, len(st) + 1)) AS j FROM fin)),
       |ext AS (
       |  SELECT j, blk[1] AS bk2, blk[2] AS bn, blk[3] AS cnt,
       |         sum(blk[3]) OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM blocks)
       |SELECT bi.bucket, bi.n, bi.k,
       |       ((10000 * bi.k) // bi.n)::BIGINT AS raw_bp,
       |       (CASE WHEN e.bn = 0 THEN 0
       |             ELSE (10000 * e.bk2) // e.bn END)::BIGINT AS iso_bp
       |FROM bi JOIN ext e ON bi.idx > e.cum - e.cnt AND bi.idx <= e.cum
       |ORDER BY bucket""".stripMargin
  }

  /** Bootstrap 90% CI on the mean purchase value per event type:
    * md5-seeded Poisson resampling, exact integer q4 means. */
  def bootstrapCiQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.bootstrapCi(load(spark, dir, "events"),
        "event_type", "event_id", "value", b = 100)
      .orderBy($"event_type")

  private val bootstrapCiSql = {
    // thresholds rendered from the SAME Scala constant — never retyped
    val wCase = Sampling.BootstrapCum.zipWithIndex
      .map { case (t, i) => s"WHEN u < $t THEN $i" }
      .mkString("CASE ", " ", s" ELSE ${Sampling.BootstrapCum.size} END")
    s"""WITH base AS (
       |  SELECT event_type AS g, event_id::VARCHAR AS id,
       |         (round(value * 100))::BIGINT AS cents
       |  FROM events WHERE value IS NOT NULL),
       |actual AS (
       |  SELECT g, ((10000 * (sum(cents))::BIGINT) // count(*))::BIGINT
       |           AS mean_q4,
       |         count(*) AS n_rows
       |  FROM base GROUP BY g),
       |ex AS (
       |  SELECT g, cents, r.b,
       |         ('0x' || substr(md5(id || '_' || ((r.b + 3) // 4)::VARCHAR),
       |                         (1 + 8 * ((r.b - 1) % 4))::INTEGER,
       |                         8))::BIGINT AS u
       |  FROM base, range(1, 101) r(b)),
       |wts AS (
       |  SELECT g, b,
       |         (sum(($wCase) * cents))::BIGINT AS wv,
       |         (sum($wCase))::BIGINT AS sw
       |  FROM ex GROUP BY g, b HAVING sw > 0),
       |means AS (SELECT g, ((10000 * wv) // sw)::BIGINT AS m FROM wts),
       |ci AS (SELECT g, list(m ORDER BY m) AS ms FROM means GROUP BY g)
       |SELECT a.g AS event_type, a.n_rows, a.mean_q4,
       |       ci.ms[5] AS lo_q4, ci.ms[95] AS hi_q4
       |FROM actual a JOIN ci ON a.g = ci.g
       |ORDER BY event_type""".stripMargin
  }

  /** Key-skew report over lineitem's part key: exact Gini + hottest-key
    * share — the pre-join skew measurement. */
  def skewReport(spark: SparkSession, dir: String): DataFrame =
    Frequency.skewReport(load(spark, dir, "lineitem"), "l_partkey")

  private val skewReportSql =
    """WITH kc AS (SELECT l_partkey, count(*) AS c
      |            FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
      |cc AS (SELECT c, count(*) AS f FROM kc GROUP BY 1),
      |w AS (SELECT c, f, (sum(f) OVER (ORDER BY c))::BIGINT AS cum FROM cc),
      |s AS (SELECT
      |  (SELECT count(*) FROM kc)::BIGINT AS n,
      |  (SELECT (sum(c))::BIGINT FROM kc) AS srows,
      |  (SELECT (max(c))::BIGINT FROM kc) AS maxc,
      |  (SELECT (sum(c * ((cum - f) * f + (f * (f + 1)) // 2)))::BIGINT
      |   FROM w) AS g2)
      |SELECT n AS n_keys, srows AS n_rows, maxc AS max_count,
      |       ((10000 * maxc) // srows)::BIGINT AS top_share_bp,
      |       ((10000 * (2 * g2 - (n + 1) * srows)) // (n * srows))::BIGINT
      |         AS gini_bp
      |FROM s""".stripMargin

  /** Exact heavy hitters over lineitem part keys WITHOUT a full-keyspace
    * shuffle: per-partition local counts emit candidates (pigeonhole
    * superset), then only candidate keys are exactly counted. The oracle
    * is the plain relational HAVING — the two must agree exactly because
    * the verify phase is exact and the candidate phase is a superset
    * under any partitioning. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Frequency.heavyHitters(load(spark, dir, "lineitem"), "l_partkey", 45L)
      .orderBy($"l_partkey")

  private val heavyHittersSql =
    """SELECT l_partkey, count(*) AS cnt FROM lineitem
      |GROUP BY l_partkey HAVING count(*) >= 45
      |ORDER BY l_partkey""".stripMargin

  /** Gopher/Dolma repetition filters per document: most-common 2-/3-gram
    * char coverage + duplicate 5-/10-gram fractions, all integer q4.
    * The Spark side is a narrow per-row run-length mode (no explode);
    * the oracle rebuilds the mode RELATIONALLY (unnest + group + window
    * with the same cnt-desc-then-gram tie-break), so a hash match proves
    * the in-row pass against the independent relational definition. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextStats.repetition(load(spark, dir, "documents")).orderBy($"doc_id")

  private val textRepetitionSql = {
    // grams: positions 1..len-n+1 (range's upper bound is exclusive);
    // DuckDB list slices are 1-based inclusive, so ws[i:i+n-1] is n wide
    def gramsSql(n: Int) =
      s"""CASE WHEN len(ws) >= $n
         |  THEN list_transform(range(1, len(ws) - ${n - 2}),
         |         i -> array_to_string(ws[i:i+${n - 1}], ' '))
         |  ELSE []::VARCHAR[] END""".stripMargin
    def topSql(n: Int) =
      s"""(SELECT doc_id, gm, cnt FROM (
         |  SELECT doc_id, gm, cnt,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY cnt DESC, gm) AS rn
         |  FROM (SELECT doc_id, gm, count(*) AS cnt
         |        FROM (SELECT doc_id, unnest(g$n) AS gm FROM g)
         |        GROUP BY doc_id, gm))
         |  WHERE rn = 1)""".stripMargin
    def dupSql(n: Int) =
      s"""CASE WHEN len(g$n) = 0 THEN 0
         |  ELSE (10000 * (len(g$n) - len(list_distinct(g$n)))) // len(g$n)
         |END""".stripMargin
    s"""WITH w AS (
       |  SELECT doc_id, $toksSql AS ws,
       |         greatest(length(coalesce(text, '')), 1)::BIGINT AS chars
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, chars,
       |         ${gramsSql(2)} AS g2,
       |         ${gramsSql(3)} AS g3,
       |         ${gramsSql(5)} AS g5,
       |         ${gramsSql(10)} AS g10
       |  FROM w)
       |SELECT g.doc_id,
       |  t2.gm AS top2_gram,
       |  coalesce(t2.cnt, 0) AS top2_count,
       |  least((10000 * coalesce(t2.cnt, 0) * length(coalesce(t2.gm, '')))
       |        // g.chars, 10000) AS top2_char_frac_q4,
       |  least((10000 * coalesce(t3.cnt, 0) * length(coalesce(t3.gm, '')))
       |        // g.chars, 10000) AS top3_char_frac_q4,
       |  ${dupSql(5)} AS dup5_frac_q4,
       |  ${dupSql(10)} AS dup10_frac_q4
       |FROM g
       |LEFT JOIN ${topSql(2)} t2 USING (doc_id)
       |LEFT JOIN ${topSql(3)} t3 USING (doc_id)
       |ORDER BY g.doc_id""".stripMargin
  }

  /** HLL-candidates + exact-verify distinct-count groups: parts touched
    * by ≥ 42 distinct orders. The sketch phase only nominates; every
    * emitted row is exactly counted, so the plain relational HAVING
    * oracle must agree. */
  def heavyDistinct(spark: SparkSession, dir: String): DataFrame =
    Frequency.distinctHeavyGroups(load(spark, dir, "lineitem"),
        "l_partkey", "l_orderkey", 42L)
      .orderBy($"l_partkey")

  private val heavyDistinctSql =
    """SELECT l_partkey, count(DISTINCT l_orderkey) AS n_distinct
      |FROM lineitem GROUP BY l_partkey
      |HAVING count(DISTINCT l_orderkey) >= 42
      |ORDER BY l_partkey""".stripMargin

  /** Exact per-event-type value quantiles — the distributed-selection
    * operator (value-counts + range-partitioned prefix sum, no global
    * sort, no low-cardinality window). The oracle is DuckDB's NATIVE
    * `quantile_disc` — an independent engine's built-in aggregate — so
    * the hash match pins the ⌈p·n⌉ discrete-quantile semantics, not
    * just our own formulation replayed. */
  def quantileExact(spark: SparkSession, dir: String): DataFrame =
    Frequency.exactQuantiles(load(spark, dir, "events"),
        "event_type", "value", Seq(0.5, 0.9, 0.99))
      .select($"event_type",
        floor($"p50" * 10000).cast("long").as("p50_q4"),
        floor($"p90" * 10000).cast("long").as("p90_q4"),
        floor($"p99" * 10000).cast("long").as("p99_q4"))
      .orderBy($"event_type")

  private val quantileExactSql =
    """SELECT event_type,
      |  CAST(floor(quantile_disc(value, 0.50) * 10000) AS BIGINT) AS p50_q4,
      |  CAST(floor(quantile_disc(value, 0.90) * 10000) AS BIGINT) AS p90_q4,
      |  CAST(floor(quantile_disc(value, 0.99) * 10000) AS BIGINT) AS p99_q4
      |FROM events
      |WHERE event_type IS NOT NULL AND value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Context-window chunking: long documents → overlapping fixed-size
    * token windows (size 24, stride 16 here so multi-chunk docs are
    * common at every SF). Narrow explode, nothing shuffles. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    TextStats.chunkDocs(load(spark, dir, "documents"), size = 24, stride = 16)
      .orderBy($"doc_id", $"chunk_id")

  private val chunkDocsSql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS ws, len($toksSql)::BIGINT AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, ws, unnest(generate_series(
       |           0, (greatest(n - 24, 0) + 15) // 16)) AS chunk_id
       |  FROM t)
       |SELECT doc_id, chunk_id,
       |       len(ws[chunk_id * 16 + 1 : chunk_id * 16 + 24])::BIGINT
       |         AS n_chunk_tokens,
       |       array_to_string(ws[chunk_id * 16 + 1 : chunk_id * 16 + 24], ' ')
       |         AS chunk_text
       |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** RAKE keyphrase extraction ([[TextStats.rakePhrases]]): top-25
    * stopword-free candidate runs scored deg∕freq — the unsupervised
    * keyword step of document labeling, next to collocations (pairs)
    * and TF-IDF (single terms). The oracle replays islands, word
    * scores, and phrase assembly relationally. */
  def rakeKeyphrases(spark: SparkSession, dir: String): DataFrame =
    TextStats.rakePhrases(load(spark, dir, "documents"), k = 25)

  private def rakeKeyphrasesSql = {
    val enStops = inList(TextStats.stopwords("en"))
    s"""WITH pos AS (
       |  SELECT doc_id, unnest($toksSql) AS w,
       |         unnest(range(1, len($toksSql) + 1)) AS i
       |  FROM documents),
       |ns AS (
       |  SELECT doc_id, w, i,
       |         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |  FROM pos WHERE w <> '' AND w NOT IN ($enStops)),
       |pl AS (
       |  SELECT doc_id, w, i, grp,
       |         count(*) OVER (PARTITION BY doc_id, grp) AS plen
       |  FROM ns),
       |nsc AS (SELECT * FROM pl WHERE plen <= 6),
       |ws AS (
       |  SELECT w, ((10000 * sum(plen)) // count(*))::BIGINT AS wscore_q4
       |  FROM nsc GROUP BY w),
       |ph AS (
       |  SELECT nsc.doc_id, nsc.grp,
       |         max(nsc.plen)::BIGINT AS n_words,
       |         sum(ws.wscore_q4)::BIGINT AS score_q4,
       |         string_agg(nsc.w, ' ' ORDER BY nsc.i) AS phrase
       |  FROM nsc JOIN ws ON nsc.w = ws.w
       |  GROUP BY 1, 2)
       |SELECT phrase, max(n_words)::BIGINT AS n_words,
       |       count(*)::BIGINT AS n_occurrences,
       |       max(score_q4)::BIGINT AS score_q4
       |FROM ph GROUP BY phrase
       |ORDER BY score_q4 DESC, phrase LIMIT 25""".stripMargin
  }

  /** Collocation mining: adjacent-pair lift in basis points (the
    * no-log integer cousin of PMI), min-count 5, top-40 with
    * deterministic tie-break. */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    TextStats.collocations(load(spark, dir, "documents"), k = 40)

  private val collocationsSql =
    s"""WITH g AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |bi AS (
       |  SELECT array_to_string(ws[i:i+1], ' ') AS g,
       |         ws[i] AS w1, ws[i+1] AS w2
       |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM g)
       |  WHERE len(ws) >= 2),
       |cnt AS (SELECT g, w1, w2, count(*)::BIGINT AS n_ab
       |        FROM bi GROUP BY 1, 2, 3),
       |l AS (SELECT w1, sum(n_ab)::BIGINT AS n_a FROM cnt GROUP BY 1),
       |r AS (SELECT w2, sum(n_ab)::BIGINT AS n_b FROM cnt GROUP BY 1),
       |tot AS (SELECT sum(n_ab)::BIGINT AS n_tot FROM cnt)
       |SELECT c.g, c.n_ab,
       |       (c.n_ab * t.n_tot * 10000) // (l.n_a * r.n_b) AS lift_bp
       |FROM cnt c JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot t
       |WHERE c.n_ab >= 5
       |ORDER BY lift_bp DESC, g ASC LIMIT 40""".stripMargin

  /** PageRank over the near-dup graph ([[graft.ops.PageRank]]):
    * all-integer damped iterations, K=4, unrolled CTE-per-iteration in
    * the oracle (recursive SQL cannot aggregate over its own recursive
    * reference, so the fixed unroll IS the independent formulation). */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    graft.ops.PageRank.run(edges, emb.select($"vec_id".as("id")),
        iterations = 4)
      .orderBy($"id")
  }

  private val pagerankSql = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT i.id,
         |         ((10000 - 8500) * (1000000000 // p.n)) // 10000
         |           + (8500 * coalesce(s.s, 0)) // 10000 AS r
         |  FROM ids i CROSS JOIN p
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.r // d.d)::BIGINT AS s
         |    FROM $prev r JOIN deg d ON r.id = d.src
         |    JOIN edges e ON e.src = d.src
         |    GROUP BY e.dst) s ON i.id = s.dst)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |deg AS (SELECT src, count(*)::BIGINT AS d FROM edges GROUP BY 1),
       |ids AS (SELECT DISTINCT vec_id AS id FROM embeddings),
       |p AS (SELECT count(*)::BIGINT AS n FROM ids),
       |it0 AS (SELECT id, (1000000000 // p.n) AS r FROM ids CROSS JOIN p),
       |${iter("it0", "it1")},
       |${iter("it1", "it2")},
       |${iter("it2", "it3")},
       |${iter("it3", "it4")}
       |-- no fixpoint assert NEEDED: power iteration is fixed-count BY
       |-- DEFINITION on both sides (PageRank.run(iterations = 4) == 4
       |-- unrolled CTEs) — unlike the msf/sssp/kcore/ktruss fixpoint
       |-- loops, the iteration count can never drift with the dataset
       |SELECT id, r AS rank FROM it4 ORDER BY id""".stripMargin
  }

  /** HITS hubs & authorities ([[graft.ops.Hits]]) on the customer→part
    * purchase graph (distinct (custkey, partkey) via orders⋈lineitem):
    * hubs are broad well-endorsed buyers, authorities the parts those
    * buyers concentrate on — the mutual-reinforcement ranking next to
    * PageRank's endorsement mass. All-integer max-rescaled iterations
    * (K=2); the oracle unrolls them as MATERIALIZED CTEs (each level is
    * referenced twice — its sum and its max — the documented DuckDB
    * CTE-inlining blow-up otherwise). Top-50 per side, score-desc with
    * id tie-break, so the LIMIT boundary is deterministic. */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val edges = load(spark, dir, "orders").select($"o_orderkey", $"o_custkey")
      .join(load(spark, dir, "lineitem").select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("hub"), $"l_partkey".as("auth"))
      .distinct()
    val (hubs, auths) = graft.ops.Hits.run(edges, iterations = 2)
    hubs.orderBy($"score".desc, $"id").limit(50)
      .select(lit("hub").as("kind"), $"id", $"score")
      .unionByName(auths.orderBy($"score".desc, $"id").limit(50)
        .select(lit("auth").as("kind"), $"id", $"score"))
      .orderBy($"kind", $"score".desc, $"id")
  }

  private val hitsSql = {
    def halfRound(scoreIn: String, joinKey: String, groupKey: String,
        raw: String, out: String, outCol: String) =
      s"""$raw AS MATERIALIZED (
         |  SELECT $groupKey, sum(${if (outCol == "h") "a" else "h"})::BIGINT AS s
         |  FROM edges JOIN $scoreIn USING ($joinKey) GROUP BY $groupKey),
         |$out AS MATERIALIZED (
         |  SELECT $groupKey, ((s * 10000) // (SELECT max(s) FROM $raw))::BIGINT AS $outCol
         |  FROM $raw)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS hub, l.l_partkey AS auth
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |a0 AS MATERIALIZED (SELECT DISTINCT auth, 10000::BIGINT AS a FROM edges),
       |${halfRound("a0", "auth", "hub", "h1r", "h1", "h")},
       |${halfRound("h1", "hub", "auth", "a1r", "a1", "a")},
       |${halfRound("a1", "auth", "hub", "h2r", "h2", "h")},
       |${halfRound("h2", "hub", "auth", "a2r", "a2", "a")},
       |top AS (
       |  (SELECT 'hub' AS kind, hub AS id, h AS score FROM h2
       |   ORDER BY score DESC, id LIMIT 50)
       |  UNION ALL
       |  (SELECT 'auth' AS kind, auth AS id, a AS score FROM a2
       |   ORDER BY score DESC, id LIMIT 50))
       |SELECT kind, id, score FROM top ORDER BY kind, score DESC, id""".stripMargin
  }

  /** Co-purchase projection ([[graft.ops.Cooccurrence]]): the item–item
    * shared-customer graph from the same bipartite purchase edges as
    * ext_hits, hot hubs (> 50 distinct parts) dropped by the stop-hub
    * rule BEFORE the quadratic self-join — the cap fires on the real
    * degree tail at every SF. Top-100 by shared count, full tie-break. */
  def copurchase(spark: SparkSession, dir: String): DataFrame = {
    val edges = load(spark, dir, "orders").select($"o_orderkey", $"o_custkey")
      .join(load(spark, dir, "lineitem").select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("hub"), $"l_partkey".as("item"))
    graft.ops.Cooccurrence.project(edges, maxDegree = 50)
      .orderBy($"n_shared".desc, $"item_a", $"item_b").limit(100)
  }

  private val copurchaseSql =
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS hub, l_partkey AS item
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |d AS (
      |  SELECT hub FROM (SELECT hub, count(*) AS d FROM e GROUP BY hub)
      |  WHERE d <= 50),
      |k AS (SELECT e.hub, e.item FROM e JOIN d USING (hub))
      |SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_shared
      |FROM k a JOIN k b ON a.hub = b.hub AND a.item < b.item
      |GROUP BY 1, 2
      |ORDER BY n_shared DESC, item_a, item_b LIMIT 100""".stripMargin

  /** 2-core of the same near-dup graph as PageRank/LPA: iterative
    * peeling until every survivor keeps ≥ 2 similar neighbors — the
    * dense-kernel selector (components finds reachability, LPA the
    * groups, k-core the density floor). The oracle peels via ONE
    * recursive CTE whose window functions re-derive both endpoint
    * degrees per round — an independent formulation (no survivor-set
    * joins), run past the fixpoint so the final iteration IS the core. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    graft.ops.KCore.run(edges, k = 2, maxIter = 30)
      .orderBy($"node")
  }

  private val kcoreSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |ae(iter, src, dst) AS (
       |  SELECT 0, src, dst FROM edges WHERE src != dst
       |  UNION ALL
       |  SELECT iter + 1, src, dst FROM (
       |    SELECT iter, src, dst,
       |           count(*) OVER (PARTITION BY iter, src) AS dsrc,
       |           count(*) OVER (PARTITION BY iter, dst) AS ddst
       |    FROM ae WHERE iter < 30)
       |  WHERE dsrc >= 2 AND ddst >= 2)
       |SELECT src AS node, count(*)::BIGINT AS deg
       |FROM ae
       |-- fixpoint assert: the peel is monotone-shrinking, so equal row
       |-- counts at iters 29/30 == set equality == converged; a graph
       |-- needing a 31st peel must fail loudly, not ship a superset
       |WHERE iter = 30
       |  AND CASE WHEN (SELECT count(*) FROM ae WHERE iter = 30)
       |             = (SELECT count(*) FROM ae WHERE iter = 29)
       |           THEN TRUE
       |           ELSE error('kcore oracle not converged in 30 rounds') END
       |GROUP BY src ORDER BY node""".stripMargin

  /** Multi-source BFS over the shared near-dup graph: minimum hop
    * distance from the seed set (every ~97th vector — a deterministic
    * "flagged documents" stand-in) out to radius 3 — the
    * contamination-spread / blast-radius query (components answers
    * "connected at all", BFS answers "how close"). The oracle expands
    * level by level as chained CTEs, each level NOT-EXISTS-pruned
    * against all previous levels — the visited-set semantics written
    * independently of the Spark frontier loop. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    val seeds = emb
      .where(Similarity.dot($"embedding", $"embedding") > 0 &&
        $"vec_id" % 97 === 0)
      .select($"vec_id".as("node"))
    graft.ops.Bfs.run(edges, seeds, maxHops = 3)
      .orderBy($"node")
  }

  private val bfsHopsSql = {
    def level(cur: String, prev: Seq[String]) = {
      val pruned = prev.map(p =>
        s"NOT EXISTS (SELECT 1 FROM $p WHERE $p.node = e.dst)").mkString("\n    AND ")
      s"""$cur AS (
         |  SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN ${prev.last} ON e.src = ${prev.last}.node
         |  WHERE $pruned)""".stripMargin
    }
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |h0 AS (SELECT vec_id AS node FROM $nzSql WHERE vec_id % 97 = 0),
       |${level("h1", Seq("h0"))},
       |${level("h2", Seq("h0", "h1"))},
       |${level("h3", Seq("h0", "h1", "h2"))}
       |SELECT node, 0::BIGINT AS hops FROM h0
       |UNION ALL SELECT node, 1::BIGINT FROM h1
       |UNION ALL SELECT node, 2::BIGINT FROM h2
       |UNION ALL SELECT node, 3::BIGINT FROM h3
       |ORDER BY node""".stripMargin
  }

  /** Bounded-radius harmonic centrality over the near-dup graph
    * ([[graft.ops.Bfs.harmonic]], 3 hops): Σ ⌊10⁶∕d⌋ per node —
    * the "which documents sit at the center of their duplicate
    * cluster" readout, disconnected-graph-native (unreachable
    * contributes 0). The oracle expands three per-root distance
    * levels as NOT-EXISTS-pruned chained CTEs — the visited-set
    * semantics written independently of the Spark frontier loop. */
  def harmonicQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    graft.ops.Bfs.harmonic(edges, maxHops = 3).orderBy($"id")
  }

  /** The 3-hop NOT-EXISTS-pruned level CTE chain ending in `alld`
    * (root, node, d) over the near-dup graph — shared by the harmonic
    * and eccentricity oracles. */
  private def bfsLevelsSql =
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |d1 AS MATERIALIZED (
       |  SELECT DISTINCT src AS root, dst AS node, 1 AS d FROM edges
       |  WHERE src <> dst),
       |d2 AS MATERIALIZED (
       |  SELECT DISTINCT p.root, e.dst AS node, 2 AS d
       |  FROM d1 p JOIN edges e ON e.src = p.node
       |  WHERE p.root <> e.dst
       |    AND NOT EXISTS (SELECT 1 FROM d1
       |                    WHERE d1.root = p.root AND d1.node = e.dst)),
       |d3 AS MATERIALIZED (
       |  SELECT DISTINCT p.root, e.dst AS node, 3 AS d
       |  FROM d2 p JOIN edges e ON e.src = p.node
       |  WHERE p.root <> e.dst
       |    AND NOT EXISTS (SELECT 1 FROM d1
       |                    WHERE d1.root = p.root AND d1.node = e.dst)
       |    AND NOT EXISTS (SELECT 1 FROM d2
       |                    WHERE d2.root = p.root AND d2.node = e.dst)),
       |alld AS (
       |  SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL
       |  SELECT * FROM d3)""".stripMargin

  private def harmonicSql =
    s"""$bfsLevelsSql
       |SELECT root AS id, count(*)::BIGINT AS n_reached,
       |       sum(1000000 // d)::BIGINT AS harmonic_q6
       |FROM alld GROUP BY 1 ORDER BY id""".stripMargin

  /** ext_eccentricity — bounded eccentricity + reach per node
    * ([[graft.ops.Bfs.eccentricity]], 3 hops, the [[harmonicQ]] BFS):
    * per-node max distance within the bound — min/max over the frame
    * are the radius and diameter lower bounds of the near-dup graph. */
  def eccentricityQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    graft.ops.Bfs.eccentricity(edges, maxHops = 3).orderBy($"id")
  }

  private def eccentricitySql =
    s"""$bfsLevelsSql
       |SELECT root AS id, count(*)::BIGINT AS n_reached,
       |       max(d)::BIGINT AS ecc_hops
       |FROM alld GROUP BY 1 ORDER BY id""".stripMargin

  /** Minimum spanning forest of the near-dup graph with DISTANCE
    * weights (10000 − cos_q4): the single-linkage dendrogram backbone —
    * cutting it at a threshold IS single-linkage clustering. Unique
    * under the strict (w, a, b) total order. The oracle unrolls 12
    * Borůvka rounds (components at least halve per round; extra rounds
    * are idempotent), each round's component merge a recursive
    * label-closure CTE — fully independent of the Spark loop's
    * resolveComponents machinery. */
  def msfQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val pairs = Similarity.cosineNearDup(emb, 0.3)
      .select($"id_a".as("a"), $"id_b".as("b"),
        (lit(10000L) - $"cos_q4").as("w"))
    graft.ops.Msf.run(pairs).orderBy($"a", $"b")
  }

  private val msfSql = {
    def round(i: Int) = {
      val p = s"comp${i - 1}"
      s"""rel$i AS (
         |  SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
         |  FROM edges0 e JOIN $p x ON e.a = x.n JOIN $p y ON e.b = y.n
         |  WHERE x.c != y.c),
         |tch$i AS (
         |  SELECT ca AS tc, w, a, b, ca, cb FROM rel$i
         |  UNION ALL SELECT cb, w, a, b, ca, cb FROM rel$i),
         |sel$i AS MATERIALIZED (
         |  SELECT DISTINCT a, b, w, ca, cb FROM (
         |    SELECT tc, w, a, b, ca, cb,
         |           row_number() OVER (PARTITION BY tc ORDER BY w, a, b) AS rn
         |    FROM tch$i) WHERE rn = 1),
         |se$i AS (
         |  SELECT ca AS x, cb AS y FROM sel$i
         |  UNION ALL SELECT cb, ca FROM sel$i),
         |cl$i(n, l) AS (
         |  SELECT x, x FROM se$i
         |  UNION
         |  SELECT se.y, c.l FROM cl$i c JOIN se$i se ON se.x = c.n),
         |nl$i AS (SELECT n, min(l) AS l FROM cl$i GROUP BY n),
         |comp$i AS MATERIALIZED (
         |  SELECT p.n, coalesce(nl.l, p.c) AS c
         |  FROM $p p LEFT JOIN nl$i nl ON p.c = nl.n)""".stripMargin
    }
    val rounds = (1 to 12).map(round).mkString(",\n")
    val forest = (1 to 12)
      .map(i => s"SELECT a, b, w FROM sel$i").mkString("\nUNION ALL ")
    s"""WITH RECURSIVE edges0 AS MATERIALIZED (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |         10000 - CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS w
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |nodes AS (SELECT DISTINCT n FROM (
       |  SELECT a AS n FROM edges0 UNION ALL SELECT b FROM edges0)),
       |comp0 AS (SELECT n, n AS c FROM nodes),
       |$rounds
       |SELECT a, b, w FROM ($forest)
       |-- fixpoint assert: Borůvka is converged iff NO cross-component
       |-- edge survives the final contraction; a dataset needing a 13th
       |-- round must fail loudly, not ship a partial forest as the oracle
       |WHERE CASE WHEN NOT EXISTS (
       |        SELECT 1 FROM edges0 e JOIN comp12 x ON e.a = x.n
       |        JOIN comp12 y ON e.b = y.n WHERE x.c != y.c)
       |           THEN TRUE
       |           ELSE error('msf oracle not converged in 12 rounds') END
       |ORDER BY a, b""".stripMargin
  }

  /** Weighted shortest semantic distance from the SAME seed set as
    * [[bfsHops]]/[[pprQ]], distance = 10000 − cos_q4 per edge: the
    * third blast-radius reading (hops, mass, now cheapest weighted
    * path). The oracle unrolls 12 relaxation rounds — idempotent past
    * the fixpoint; the Spark side THROWS if the true diameter exceeds
    * its bound, so a too-shallow unroll fails loudly, never silently. */
  def ssspQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val pairs = Similarity.cosineNearDup(emb, 0.3)
      .select($"id_a", $"id_b", (lit(10000L) - $"cos_q4").as("w"))
    val edges = Similarity.symmetrize(pairs, "src", "dst", $"w")
    val seeds = emb
      .where(Similarity.dot($"embedding", $"embedding") > 0 &&
        $"vec_id" % 97 === 0)
      .select($"vec_id".as("node"))
    graft.ops.Sssp.run(edges, seeds, maxRounds = 30)
      .orderBy($"node")
  }

  private val ssspSql = {
    def round(i: Int) =
      s"""d$i AS MATERIALIZED (
         |  SELECT n, min(d) AS d FROM (
         |    SELECT n, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS n, p.d + e.w AS d
         |    FROM d${i - 1} p JOIN edges e ON e.src = p.n)
         |  GROUP BY n)""".stripMargin
    s"""WITH pr AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         10000 - CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS w
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst, w FROM pr
       |  UNION ALL SELECT id_b, id_a, w FROM pr),
       |d0 AS (SELECT vec_id AS n, 0::BIGINT AS d FROM $nzSql
       |       WHERE vec_id % 97 = 0),
       |${(1 to 30).map(round).mkString(",\n")}
       |SELECT n AS node, d::BIGINT AS dist FROM d30
       |-- fixpoint assert: the Spark side relaxes to a VERIFIED fixpoint;
       |-- if a dataset ever needs a 31st relaxation round this unroll must
       |-- fail loudly, not ship inflated distances as the oracle
       |WHERE CASE WHEN (SELECT count(*) FROM d30) = (SELECT count(*) FROM d29)
       |            AND NOT EXISTS (SELECT 1 FROM d30 x JOIN d29 y
       |                            ON x.n = y.n AND x.d <> y.d)
       |           THEN TRUE
       |           ELSE error('sssp oracle not converged in 30 rounds') END
       |ORDER BY node""".stripMargin
  }

  /** Personalized PageRank from the SAME seed set as [[bfsHops]] over
    * the same near-dup graph, edges weighted by cos_q4: BFS answers
    * "how many hops from the flagged documents", PPR answers "how much
    * weighted influence reaches me" — teleport returns only to seeds,
    * transitions are weight-proportional, all arithmetic integer. The
    * oracle unrolls the 3 iterations as chained CTEs. */
  def pprQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val pairs = Similarity.cosineNearDup(emb, 0.3)
      .select($"id_a", $"id_b", $"cos_q4")
    val edges = Similarity.symmetrize(pairs, "src", "dst", $"cos_q4".as("w"))
    val seeds = emb
      .where(Similarity.dot($"embedding", $"embedding") > 0 &&
        $"vec_id" % 97 === 0)
      .select($"vec_id".as("node"))
    graft.ops.PersonalizedPageRank.run(edges, seeds, iterations = 3)
      .orderBy($"id")
  }

  private val pprSql = {
    def round(prev: String, cur: String) =
      s"""c$cur AS (
         |  SELECT e.dst, sum((r.r * e.w) // w.wtot) AS cs
         |  FROM $prev r JOIN w ON r.id = w.src JOIN edges e ON e.src = r.id
         |  WHERE r.r > 0 GROUP BY e.dst),
         |$cur AS (
         |  SELECT id, r FROM (
         |    SELECT coalesce(c.dst, s.node) AS id,
         |           ((CASE WHEN s.node IS NOT NULL THEN b.base ELSE 0 END
         |             + (8500 * coalesce(c.cs, 0)) // 10000))::BIGINT AS r
         |    FROM c$cur c FULL OUTER JOIN seeds s ON c.dst = s.node
         |    CROSS JOIN b) WHERE r > 0)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000) AS BIGINT) AS w
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst, w FROM pairs
       |  UNION ALL SELECT id_b, id_a, w FROM pairs),
       |seeds AS (SELECT vec_id AS node FROM $nzSql WHERE vec_id % 97 = 0),
       |w AS (SELECT src, sum(w)::BIGINT AS wtot FROM edges WHERE w > 0 GROUP BY src),
       |b AS (SELECT ((10000 - 8500) * (1000000000 // count(*))) // 10000 AS base,
       |             (1000000000 // count(*))::BIGINT AS r0 FROM seeds),
       |l0 AS (SELECT node AS id, b.r0 AS r FROM seeds CROSS JOIN b),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |-- no fixpoint assert NEEDED: personalized PageRank is
       |-- fixed-count BY DEFINITION on both sides
       |-- (PersonalizedPageRank.run(iterations = 3) == 3 unrolled CTEs)
       |SELECT id, r AS rank FROM l3 ORDER BY id""".stripMargin
  }

  /** Label-propagation communities over the same near-dup graph as
    * PageRank (3 deterministic synchronous rounds, most-frequent
    * neighbor label, min tie-break): components finds reachability,
    * LPA finds the dense groups inside. Oracle unrolls the rounds as
    * chained CTEs with a window argmax per round. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    graft.ops.LabelProp.run(edges, emb.select($"vec_id".as("id")),
        iterations = 3)
      .orderBy($"id")
  }

  /** The LPA chain (pairs → edges → 3 unrolled rounds → l3) shared by
    * the label-prop oracle and the conductance oracle — the community
    * assignment must be ONE definition. */
  private def labelPropChainSql = {
    def round(prev: String, cur: String) =
      s"""g$cur AS (
         |  SELECT e.dst, pl.lab, count(*) AS c
         |  FROM edges e JOIN $prev pl ON e.src = pl.id
         |  GROUP BY e.dst, pl.lab),
         |w$cur AS (
         |  SELECT dst, lab,
         |         row_number() OVER (PARTITION BY dst
         |           ORDER BY c DESC, lab) AS rn
         |  FROM g$cur),
         |$cur AS (
         |  SELECT l.id, coalesce(w.lab, l.lab) AS lab
         |  FROM $prev l LEFT JOIN (SELECT dst, lab FROM w$cur WHERE rn = 1) w
         |    ON l.id = w.dst)""".stripMargin
    s"""pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |l0 AS (SELECT DISTINCT vec_id AS id, vec_id AS lab FROM embeddings),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}""".stripMargin
  }

  private val labelPropSql =
    s"""WITH $labelPropChainSql
       |-- no fixpoint assert NEEDED: synchronous LPA here is fixed-count
       |-- BY DEFINITION on both sides (LabelProp.run(iterations = 3) ==
       |-- 3 unrolled CTE rounds) — the assignment is the 3-round one,
       |-- converged or not, identically in both engines
       |SELECT id, lab FROM l3 ORDER BY id""".stripMargin

  /** Degree ASSORTATIVITY of the near-dup graph (Newman 2002): the
    * Pearson correlation of endpoint degrees over the directed edge
    * list — do similar docs cluster hub-to-hub (r > 0, rich club) or
    * hub-to-leaf (r < 0, star-like)? Star-like near-dup graphs mean
    * one canonical doc with many variants; assortative ones mean dense
    * mutual-variant blocks — different dedup strategies. Both
    * directions included, so the marginals are symmetric and
    * r_q6 = 10⁶·(n·Σxy − Sx²) div (n·Σx² − Sx²) — exact integers end
    * to end (the Moments contract). */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "u", "v")
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
    edges
      .join(deg.select($"u", $"d".as("du")), Seq("u"))
      .join(deg.select($"u".as("v"), $"d".as("dv")), Seq("v"))
      .agg(count(lit(1)).as("n_endpoints"), sum($"du").as("sx"),
        sum($"du" * $"dv").as("sxy"), sum($"du" * $"du").as("sxx"))
      // decimal(38,0) moments (n·Σd² exceeds int64 at ~10× the gate SF)
      // and a REGULAR-graph guard: zero degree variance (every node the
      // same degree) makes assortativity undefined — report 0 (caught
      // by the ScaleGen m10 sweep, whose clusters are complete graphs)
      .select(expr("n_endpoints div 2").as("n_edges"),
        expr("""CASE WHEN CAST(n_endpoints AS DECIMAL(38,0)) * sxx
                     - CAST(sx AS DECIMAL(38,0)) * sx = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST((1000000 * (CAST(n_endpoints AS DECIMAL(38,0)) * sxy
                     - CAST(sx AS DECIMAL(38,0)) * sx))
                     div (CAST(n_endpoints AS DECIMAL(38,0)) * sxx
                     - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)
                END""").as("r_q6"))
  }

  private val assortativitySql =
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |deg AS (SELECT u, count(*)::BIGINT AS d FROM edges GROUP BY u),
       |j AS (
       |  SELECT du.d AS du, dv.d AS dv
       |  FROM edges e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u),
       |m AS (
       |  SELECT count(*)::BIGINT AS n, sum(du)::BIGINT AS sx,
       |         sum(du * dv)::BIGINT AS sxy, sum(du * du)::BIGINT AS sxx
       |  FROM j)
       |SELECT (n // 2)::BIGINT AS n_edges,
       |       (CASE WHEN n::HUGEINT * sxx - sx::HUGEINT * sx = 0 THEN 0
       |             ELSE (1000000 * (n::HUGEINT * sxy - sx::HUGEINT * sx))
       |                  // (n::HUGEINT * sxx - sx::HUGEINT * sx)
       |        END)::BIGINT AS r_q6
       |FROM m""".stripMargin

  /** Per-community CONDUCTANCE of the LPA partition
    * ([[graft.ops.Modularity.conductance]]): cut ∕ min(vol, 2m − vol)
    * per community — "how leaky is the boundary" next to
    * ext_modularity's "denser than chance". Same graph and the same
    * 3-round LPA labels as ext_label_prop (one shared oracle chain). */
  def communityConductance(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    val labels = graft.ops.LabelProp.run(edges,
      emb.select($"vec_id".as("id")), iterations = 3)
    graft.ops.Modularity.conductance(pairs, labels)
      .orderBy($"community")
  }

  private def communityConductanceSql =
    s"""WITH $labelPropChainSql,
       |deg AS (
       |  SELECT id, count(*)::BIGINT AS deg FROM (
       |    SELECT id_a AS id FROM pairs
       |    UNION ALL SELECT id_b FROM pairs)
       |  GROUP BY id),
       |vol AS (
       |  SELECT l.lab, count(*)::BIGINT AS n_members,
       |         sum(coalesce(d.deg, 0))::BIGINT AS vol
       |  FROM l3 l LEFT JOIN deg d ON l.id = d.id GROUP BY l.lab),
       |tot AS (SELECT sum(deg)::BIGINT AS twoe FROM deg),
       |cut AS (
       |  SELECT lab, count(*)::BIGINT AS cut FROM (
       |    SELECT unnest([la.lab, lb.lab]) AS lab
       |    FROM pairs p
       |    JOIN l3 la ON p.id_a = la.id
       |    JOIN l3 lb ON p.id_b = lb.id
       |    WHERE la.lab <> lb.lab)
       |  GROUP BY lab)
       |SELECT v.lab AS community, v.n_members, v.vol,
       |       coalesce(c.cut, 0)::BIGINT AS cut,
       |       (CASE WHEN least(v.vol, t.twoe - v.vol) = 0 THEN 0
       |             ELSE (10000 * coalesce(c.cut, 0))
       |                    // least(v.vol, t.twoe - v.vol) END)::BIGINT
       |         AS conductance_bp
       |FROM vol v LEFT JOIN cut c ON v.lab = c.lab CROSS JOIN tot t
       |WHERE v.vol > 0 ORDER BY community""".stripMargin

  /** Weighted sampling without replacement (deterministic
    * Efraimidis–Spirakis): 50 documents drawn with probability rising
    * in n_chars; TakeOrderedAndProject top-k, no global sort. */
  def sampleWor(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedWithoutReplacement(
        load(spark, dir, "documents").select($"doc_id", $"n_chars"),
        "doc_id", "n_chars", k = 50)
      .orderBy($"doc_id")

  private val sampleWorSql =
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |    floor((-ln(((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
      |                 % 10000) + 1.0::DOUBLE) / 10001.0::DOUBLE))
      |          / n_chars::DOUBLE * 100000000.0::DOUBLE)::BIGINT AS score_q8
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
      |k AS (SELECT doc_id, n_chars, score_q8 FROM s
      |      ORDER BY score_q8, doc_id LIMIT 50)
      |SELECT doc_id, n_chars, score_q8 FROM k ORDER BY doc_id""".stripMargin

  /** k-truss backbone of the near-dup graph ([[graft.ops.KTruss]],
    * k = 3: every surviving edge closes ≥ 1 triangle of the truss) —
    * the EDGE-density community backbone next to ext_kcore's node
    * peel: pendant links and chains strip off, dense cluster interiors
    * survive with their triangle supports. The oracle unrolls six peel
    * rounds (idempotent past the fixpoint), each one wedge-join
    * support recompute + filter, written independently of the Spark
    * loop. */
  def ktrussQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    graft.ops.KTruss.run(edges, k = 3).orderBy($"a", $"b")
  }

  private val ktrussSql = {
    def round(r: Int): String = {
      val prev = s"e${r - 1}"
      s"""t$r AS MATERIALIZED (
         |  SELECT x.a, x.b, y.b AS c
         |  FROM $prev x JOIN $prev y ON x.a = y.a AND x.b < y.b
         |  JOIN $prev z ON z.a = x.b AND z.b = y.b),
         |s$r AS MATERIALIZED (
         |  SELECT a, b, count(*)::BIGINT AS sup FROM (
         |    SELECT a, b FROM t$r
         |    UNION ALL SELECT a, c AS b FROM t$r
         |    UNION ALL SELECT b AS a, c AS b FROM t$r)
         |  GROUP BY 1, 2),
         |e$r AS MATERIALIZED (
         |  SELECT p.a, p.b, coalesce(s$r.sup, 0) AS sup
         |  FROM $prev p LEFT JOIN s$r ON s$r.a = p.a AND s$r.b = p.b
         |  WHERE coalesce(s$r.sup, 0) >= 1)""".stripMargin
    }
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs),
       |${(1 to 6).map(round).mkString(",\n")}
       |SELECT a, b, sup AS support FROM e6
       |-- fixpoint assert: the Spark side iterates to a VERIFIED fixpoint;
       |-- if a dataset ever needs a 7th peel round this unroll must fail
       |-- loudly, not ship a non-fixpoint superset as the oracle
       |WHERE CASE WHEN (SELECT count(*) FROM e6) = (SELECT count(*) FROM e5)
       |           THEN TRUE
       |           ELSE error('ktruss oracle not converged in 6 rounds') END
       |ORDER BY a, b""".stripMargin
  }

  /** Full truss DECOMPOSITION of the near-dup graph
    * ([[graft.ops.KTruss.decompose]]): every canonical edge labeled
    * with its trussness t(e) = max k whose k-truss contains it (t ≥ 2
    * always, SATURATED at maxK = 8 — survivors of the 8-peel label 8,
    * which keeps the answer well-defined on dense near-clique graphs)
    * — the curation-dashboard readout next to ext_ktruss's single-k
    * answer. The oracle replays successive peel phases (k = 3..8, six
    * unrolled rounds each) with per-phase fixpoint asserts, so a
    * slower-converging dataset fails LOUDLY instead of
    * hash-mismatching; saturation needs no emptiness assert (the
    * 8-survivor join arm IS the saturated label). */
  def trussDecomposeQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val edges = Similarity.symmetrize(pairs, "src", "dst")
    graft.ops.KTruss.decompose(edges, maxK = 8).orderBy($"a", $"b")
  }

  private val trussDecomposeSql = {
    val kMax = 8
    // phase k peels from the (k-1)-truss (E_k ⊆ E_{k-1}: the peel
    // fixpoint from any superset of E_k inside G is E_k itself)
    def phase(k: Int): String = {
      val minSup = k - 2
      def prev(r: Int) = s"k${k}e${r - 1}"
      val e0 =
        if (k == 3) "k3e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs)"
        else s"k${k}e0 AS MATERIALIZED (SELECT a, b FROM k${k - 1}e6)"
      val rounds = (1 to 6).map { r =>
        s"""k${k}t$r AS MATERIALIZED (
           |  SELECT x.a, x.b, y.b AS c
           |  FROM ${prev(r)} x JOIN ${prev(r)} y ON x.a = y.a AND x.b < y.b
           |  JOIN ${prev(r)} z ON z.a = x.b AND z.b = y.b),
           |k${k}s$r AS MATERIALIZED (
           |  SELECT a, b, count(*)::BIGINT AS sup FROM (
           |    SELECT a, b FROM k${k}t$r
           |    UNION ALL SELECT a, c AS b FROM k${k}t$r
           |    UNION ALL SELECT b AS a, c AS b FROM k${k}t$r)
           |  GROUP BY 1, 2),
           |k${k}e$r AS MATERIALIZED (
           |  SELECT p.a, p.b
           |  FROM ${prev(r)} p LEFT JOIN k${k}s$r s ON s.a = p.a AND s.b = p.b
           |  WHERE coalesce(s.sup, 0) >= $minSup)""".stripMargin
      }.mkString(",\n")
      e0 + ",\n" + rounds
    }
    val joins = (3 to kMax).map(k =>
      s"LEFT JOIN k${k}e6 f$k ON f$k.a = g.a AND f$k.b = g.b").mkString("\n")
    val trussCase = (kMax to 3 by -1)
      .map(k => s"WHEN f$k.a IS NOT NULL THEN $k").mkString(" ")
    val asserts = (3 to kMax).map(k =>
      s"""CASE WHEN (SELECT count(*) FROM k${k}e6) = (SELECT count(*) FROM k${k}e5)
         |      THEN TRUE ELSE error('truss phase $k not converged in 6 rounds') END""".stripMargin)
      .mkString("\n  AND ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |${(3 to kMax).map(phase).mkString(",\n")}
       |SELECT g.a, g.b,
       |       (CASE $trussCase ELSE 2 END)::BIGINT AS trussness
       |FROM k3e0 g
       |$joins
       |WHERE $asserts
       |ORDER BY 1, 2""".stripMargin
  }

  /** Triangle counts per node over the near-dup graph
    * ([[graft.ops.Triangles]], degree-ordered wedge enumeration). The
    * oracle enumerates each triangle by plain id-order (a<b<c triple
    * self-join) — a completely different orientation, same triangles. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    graft.ops.Triangles.perNode(pairs).orderBy($"id")
  }

  private val trianglesSql =
    s"""WITH e AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |tri AS (
       |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
       |  FROM e e1
       |  JOIN e e2 ON e2.id_a = e1.id_b
       |  JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |corners AS (
       |  SELECT unnest([a, b, c]) AS id FROM tri)
       |SELECT id, count(*)::BIGINT AS n_triangles
       |FROM corners GROUP BY id ORDER BY id""".stripMargin

  /** Local clustering coefficient ([[graft.ops.Triangles.localClustering]],
    * Watts–Strogatz) per node of the same near-dup graph as
    * ext_triangles: lcc_bp = ⌊10⁴·2T ∕ (deg·(deg−1))⌋, every node with
    * ≥ 1 edge present (nodes outside any triangle at 0). The oracle
    * re-derives degrees and triangles with the id-order orientation. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    graft.ops.Triangles.localClustering(pairs).orderBy($"id")
  }

  private val clusteringCoeffSql =
    s"""WITH e AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |bidir AS (
       |  SELECT id_a AS id, id_b AS v FROM e
       |  UNION ALL SELECT id_b AS id, id_a AS v FROM e),
       |deg AS (SELECT id, count(*)::BIGINT AS degree FROM bidir GROUP BY id),
       |tri AS (
       |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
       |  FROM e e1
       |  JOIN e e2 ON e2.id_a = e1.id_b
       |  JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
       |corners AS (
       |  SELECT unnest([a, b, c]) AS id FROM tri),
       |tcnt AS (SELECT id, count(*)::BIGINT AS n_triangles
       |         FROM corners GROUP BY id)
       |SELECT d.id, d.degree,
       |       coalesce(t.n_triangles, 0)::BIGINT AS n_triangles,
       |       (CASE WHEN d.degree < 2 THEN 0
       |             ELSE (10000 * 2 * coalesce(t.n_triangles, 0))
       |                  // (d.degree * (d.degree - 1)) END)::BIGINT AS lcc_bp
       |FROM deg d LEFT JOIN tcnt t USING (id)
       |ORDER BY d.id""".stripMargin

  /** Snapshot diff (CDC between two table versions): the after-image
    * modifies every `%6==0` customer, drops `%5==0`, and adds re-keyed
    * rows — added/removed/changed classification with old/new values
    * side by side. The oracle classifies with an independent
    * CASE-over-full-join formulation. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val customer = load(spark, dir, "customer")
    val before = customer
      .select($"c_custkey", $"c_mktsegment", round($"c_acctbal", 2).as("acctbal"))
    val after = customer.where($"c_custkey" % 5 =!= 0)
      .select($"c_custkey",
        when($"c_custkey" % 6 === 0, lit("MOVED"))
          .otherwise($"c_mktsegment").as("c_mktsegment"),
        round($"c_acctbal", 2).as("acctbal"))
      .unionByName(customer.where($"c_custkey" % 1000 === 2)
        .select(($"c_custkey" + 8000000).as("c_custkey"),
          $"c_mktsegment", round($"c_acctbal", 2).as("acctbal")))
    graft.ops.SnapshotDiff.diff(before, after, Seq("c_custkey"))
      .orderBy($"c_custkey")
  }

  private val snapshotDiffSql =
    """WITH b AS (
      |  SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal
      |  FROM customer),
      |a AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 6 = 0 THEN 'MOVED'
      |              ELSE c_mktsegment END AS c_mktsegment,
      |         round(c_acctbal, 2) AS acctbal
      |  FROM customer WHERE c_custkey % 5 != 0
      |  UNION ALL
      |  SELECT c_custkey + 8000000, c_mktsegment, round(c_acctbal, 2)
      |  FROM customer WHERE c_custkey % 1000 = 2)
      |SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
      |       CASE WHEN b.c_custkey IS NULL THEN 'added'
      |            WHEN a.c_custkey IS NULL THEN 'removed'
      |            WHEN b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
      |              OR b.acctbal IS DISTINCT FROM a.acctbal THEN 'changed'
      |       END AS change_type,
      |       b.c_mktsegment AS old_c_mktsegment,
      |       a.c_mktsegment AS new_c_mktsegment,
      |       b.acctbal AS old_acctbal, a.acctbal AS new_acctbal
      |FROM b FULL JOIN a ON b.c_custkey = a.c_custkey
      |WHERE CASE WHEN b.c_custkey IS NULL THEN 'added'
      |           WHEN a.c_custkey IS NULL THEN 'removed'
      |           WHEN b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
      |             OR b.acctbal IS DISTINCT FROM a.acctbal THEN 'changed'
      |      END IS NOT NULL
      |ORDER BY c_custkey""".stripMargin

  /** Table profiling (ANALYZE shape): per-column rows/nulls/ndv/min/max
    * in one aggregate pass; the oracle is a UNION ALL of independent
    * per-column aggregates. */
  /** Functional-dependency / key audit across two tables: is doc_id a
    * key, does lang determine source, is o_orderkey a key, does a
    * customer pin an order status — the assumptions dedup keys and
    * dimension joins silently make, checked exactly. */
  def fdCheckQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val orders = load(spark, dir, "orders")
    graft.ops.Profile.fdCheck(docs, Seq(
        ("doc_id_key", Seq("doc_id"), Seq("text", "lang", "source")),
        ("lang_to_source", Seq("lang"), Seq("source"))))
      .unionByName(graft.ops.Profile.fdCheck(orders, Seq(
        ("order_key", Seq("o_orderkey"), Seq("o_custkey", "o_totalprice")),
        ("cust_to_status", Seq("o_custkey"), Seq("o_orderstatus")))))
      .orderBy($"rule")
  }

  private val fdCheckSql = {
    def one(name: String, table: String, det: String, dep: String) =
      s"""SELECT '$name' AS rule, count(*)::BIGINT AS n_groups,
         |  coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)::BIGINT AS n_viol_groups,
         |  coalesce(sum(CASE WHEN nd > 1 THEN rws END), 0)::BIGINT AS n_viol_rows,
         |  coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0) = 0 AS holds
         |FROM (SELECT $det, count(DISTINCT $dep) AS nd, count(*) AS rws
         |      FROM $table GROUP BY $det)""".stripMargin
    Seq(
      one("doc_id_key", "documents", "doc_id", "(text, lang, source)"),
      one("lang_to_source", "documents", "lang", "(source)"),
      one("order_key", "orders", "o_orderkey", "(o_custkey, o_totalprice)"),
      one("cust_to_status", "orders", "o_custkey", "(o_orderstatus)"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY rule")
  }

  def profileTable(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.profile(load(spark, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate", "o_totalprice"))
      .orderBy($"col_name")

  private val profileTableSql = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
         |  (count(*) - count($c))::BIGINT AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value
         |FROM orders""".stripMargin
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
      "o_orderdate", "o_totalprice").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Z-order curve verification: per-z-block stats over the Morton
    * interleave of (orderkey, partkey) low 16 bits. The oracle rebuilds
    * the interleave with pure shift/mask arithmetic, pinning the curve
    * bit-for-bit — the correctness core of [[graft.io.Layout.zorderBy]]
    * (the layout/write side is exercised in LayoutSpec; file stats
    * aren't SQL-visible). */
  def zorderCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val li = load(spark, dir, "lineitem")
    val z = toColumn(graft.functions.ZValue(
      toExpr($"l_orderkey".bitwiseAND(65535L)),
      toExpr($"l_partkey".bitwiseAND(65535L)), 16))
    li.select(z.as("z"))
      .groupBy(expr("z div 16777216").as("z_block"))
      .agg(count(lit(1)).as("n"), min($"z").as("z_min"), max($"z").as("z_max"))
      .orderBy($"z_block")
  }

  private val zorderCurveSql =
    """WITH p AS (
      |  SELECT (l_orderkey & 65535) AS x, (l_partkey & 65535) AS y
      |  FROM lineitem),
      |zz AS (
      |  SELECT list_sum(list_transform(range(0, 16), i ->
      |           (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1))
      |         ))::BIGINT AS z
      |  FROM p)
      |SELECT z // 16777216 AS z_block, count(*) AS n,
      |       min(z) AS z_min, max(z) AS z_max
      |FROM zz GROUP BY 1 ORDER BY z_block""".stripMargin

  /** Hilbert curve verification — the locality-tighter sibling of
    * ext_zorder_curve ([[graft.functions.HilbertD]]): per-curve-block
    * stats over the Hilbert distance of (orderkey, partkey) low 8 bits.
    * The oracle UNROLLS the same 8 per-level quadrant rotations in pure
    * integer SQL, pinning the curve bit-for-bit. Hilbert never makes
    * Morton's diagonal jumps, so consecutive positions are always grid
    * neighbors — tighter file min/max rectangles at layout time. */
  def hilbertCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val li = load(spark, dir, "lineitem")
    val h = toColumn(graft.functions.HilbertD(
      toExpr($"l_orderkey".bitwiseAND(255L)),
      toExpr($"l_partkey".bitwiseAND(255L)), 8))
    li.select(h.as("h"))
      .groupBy(expr("h div 1024").as("h_block"))
      .agg(count(lit(1)).as("n"), min($"h").as("h_min"), max($"h").as("h_max"))
      .orderBy($"h_block")
  }

  private val hilbertCurveSql = {
    val n = 256L
    // one CTE per curve level: s walks 128 → 1; (v // s) & 1 reads the
    // bit s tests; the ry=0 branch reflects (rx=1) and swaps — the
    // published xy→d rotation, unrolled
    def level(i: Int): String = {
      val s = 1L << (7 - i)
      s"""h${i + 1} AS (
         |  SELECT d + ${s * s} * xor(3 * ((x // $s) & 1), (y // $s) & 1) AS d,
         |         CASE WHEN ((y // $s) & 1) = 0 THEN
         |                CASE WHEN ((x // $s) & 1) = 1 THEN ${n - 1} - y ELSE y END
         |              ELSE x END AS x,
         |         CASE WHEN ((y // $s) & 1) = 0 THEN
         |                CASE WHEN ((x // $s) & 1) = 1 THEN ${n - 1} - x ELSE x END
         |              ELSE y END AS y
         |  FROM h$i)""".stripMargin
    }
    s"""WITH h0 AS (
       |  SELECT (l_orderkey & 255) AS x, (l_partkey & 255) AS y,
       |         0::BIGINT AS d
       |  FROM lineitem),
       |${(0 until 8).map(level).mkString(",\n")}
       |SELECT d // 1024 AS h_block, count(*) AS n,
       |       min(d) AS h_min, max(d) AS h_max
       |FROM h8 GROUP BY 1 ORDER BY h_block""".stripMargin
  }

  /** 3-D Hilbert curve verification ([[graft.functions.HilbertD3]],
    * Skilling's transpose algorithm): per-curve-block stats over the
    * 3-D Hilbert distance of (orderkey, partkey, suppkey) low 4 bits —
    * the layout key a training-data table clusters on when THREE
    * dimensions matter at once (source, lang, quality). The oracle
    * unrolls the same reflect/exchange levels, Gray encode, and bit
    * interleave in pure integer SQL, pinning the curve bit-for-bit. */
  def hilbert3d(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val li = load(spark, dir, "lineitem")
    val h = toColumn(graft.functions.HilbertD3(
      toExpr($"l_orderkey".bitwiseAND(15L)),
      toExpr($"l_partkey".bitwiseAND(15L)),
      toExpr($"l_suppkey".bitwiseAND(15L)), 4))
    li.select(h.as("h"))
      .groupBy(expr("h div 64").as("h_block"))
      .agg(count(lit(1)).as("n"), min($"h").as("h_min"), max($"h").as("h_max"))
      .orderBy($"h_block")
  }

  /** The b=4, n=3 Skilling unroll as a SQL CTE chain: consumes a CTE
    * named `s0` with columns (keep..., x0, x1, x2) and defines a CTE
    * `hh` with (keep..., h). Levels q walk 8 → 2; within a level, axis
    * 0 then 1 then 2 reflect/exchange against axis 0 — each (q, i)
    * step is one CTE because the steps MUTATE x0 sequentially; then
    * Gray encode + trailing t-correction + bit interleave (bit j of
    * axis i lands at index position 3j + (2 − i)). */
  private def hilbert3Ctes(keep: Seq[String]): String = {
    val k = if (keep.isEmpty) "" else keep.mkString("", ", ", ", ")
    def step(idx: Int, q: Long, i: Int): String = {
      val p = q - 1
      val body =
        if (i == 0)
          s"""${k}CASE WHEN (x0 & $q) <> 0 THEN xor(x0, $p) ELSE x0 END AS x0,
             |         x1, x2""".stripMargin
        else {
          val xi = s"x$i"
          val others = Seq(1, 2).map(kk =>
            if (kk == i)
              s"""CASE WHEN ($xi & $q) <> 0 THEN $xi
                 |              ELSE xor($xi, (xor(x0, $xi) & $p)) END AS x$kk""".stripMargin
            else s"x$kk").mkString(",\n         ")
          s"""${k}CASE WHEN ($xi & $q) <> 0 THEN xor(x0, $p)
             |              ELSE xor(x0, (xor(x0, $xi) & $p)) END AS x0,
             |         $others""".stripMargin
        }
      s"""s${idx + 1} AS (
         |  SELECT $body
         |  FROM s$idx)""".stripMargin
    }
    val steps = (for {
      (q, li) <- Seq(8L, 4L, 2L).zipWithIndex
      i <- 0 to 2
    } yield (li * 3 + i, q, i)).map { case (idx, q, i) => step(idx, q, i) }
    val tExpr = Seq(8L, 4L, 2L).map(q =>
      s"CASE WHEN (xor(x2, xor(x1, x0)) & $q) <> 0 THEN ${q - 1} ELSE 0 END")
      .reduce((a, b) => s"xor($a, $b)")
    val interleave = (for {
      j <- 0 to 3
      i <- 0 to 2
    } yield s"(((f$i >> $j) & 1) << ${3 * j + (2 - i)})").mkString(" + ")
    s"""${steps.mkString(",\n")},
       |g AS (
       |  SELECT ${k}x0, xor(x1, x0) AS g1, xor(x2, xor(x1, x0)) AS g2,
       |         $tExpr AS t
       |  FROM s9),
       |f AS (
       |  SELECT ${k}xor(x0, t) AS f0, xor(g1, t) AS f1, xor(g2, t) AS f2
       |  FROM g),
       |hh AS (
       |  SELECT $k($interleave)::BIGINT AS h FROM f)""".stripMargin
  }

  private val hilbert3dSql =
    s"""WITH s0 AS (
       |  SELECT (l_orderkey & 15) AS x0, (l_partkey & 15) AS x1,
       |         (l_suppkey & 15) AS x2
       |  FROM lineitem),
       |${hilbert3Ctes(Nil)}
       |SELECT h // 64 AS h_block, count(*) AS n,
       |       min(h) AS h_min, max(h) AS h_max
       |FROM hh GROUP BY 1 ORDER BY h_block""".stripMargin

  /** Curve-fragmentation readout — the measurable claim behind Hilbert
    * vs Morton clustering: for fixed 8×8 query boxes on the 64×64 grid,
    * the number of CONTIGUOUS curve runs the box shatters into (a
    * stats-pruning reader opens one range per run, so fewer runs =
    * fewer file/row-group touches). Both curves computed per cell, runs
    * counted per (box, curve) with a lag window; the oracle recomputes
    * both curves (Morton via bit interleave, Hilbert via the 6-level
    * unroll) and the identical run count. */
  def curveSpan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    val boxes = Seq((1L, 3L, 5L), (2L, 16L, 16L), (3L, 40L, 9L),
      (4L, 27L, 33L)).toDS().toDF("box_id", "x0", "y0")
    val cells = boxes
      .withColumn("dx", explode(sequence(lit(0L), lit(7L))))
      .withColumn("dy", explode(sequence(lit(0L), lit(7L))))
      .select($"box_id", ($"x0" + $"dx").as("x"), ($"y0" + $"dy").as("y"))
    val curves = cells.select($"box_id",
      toColumn(graft.functions.ZValue(toExpr($"x"), toExpr($"y"), 6)).as("z"),
      toColumn(graft.functions.HilbertD(toExpr($"x"), toExpr($"y"), 6)).as("h"))
    val melted = curves.select($"box_id", lit("h").as("curve"), $"h".as("v"))
      .unionByName(curves.select($"box_id", lit("z").as("curve"), $"z".as("v")))
    val w = Window.partitionBy($"box_id", $"curve").orderBy($"v")
    melted.withColumn("_p", lag($"v", 1).over(w))
      .withColumn("brk",
        when($"_p".isNull || $"v" =!= $"_p" + 1, 1L).otherwise(0L))
      .groupBy($"box_id", $"curve")
      .agg(sum($"brk").as("n_runs"), (max($"v") - min($"v") + 1).as("span"))
      .orderBy($"box_id", $"curve")
  }

  private val curveSpanSql = {
    def level(i: Int): String = {
      val s = 1L << (5 - i)
      s"""c${i + 1} AS (
         |  SELECT box_id,
         |         d + ${s * s} * xor(3 * ((x // $s) & 1), (y // $s) & 1) AS d,
         |         CASE WHEN ((y // $s) & 1) = 0 THEN
         |                CASE WHEN ((x // $s) & 1) = 1 THEN 63 - y ELSE y END
         |              ELSE x END AS x,
         |         CASE WHEN ((y // $s) & 1) = 0 THEN
         |                CASE WHEN ((x // $s) & 1) = 1 THEN 63 - x ELSE x END
         |              ELSE y END AS y
         |  FROM c$i)""".stripMargin
    }
    s"""WITH boxes(box_id, x0, y0) AS (
       |  VALUES (1, 3, 5), (2, 16, 16), (3, 40, 9), (4, 27, 33)),
       |cells AS (
       |  SELECT box_id, x0 + dx.r AS x, y0 + dy.r AS y
       |  FROM boxes, range(0, 8) dx(r), range(0, 8) dy(r)),
       |z AS (
       |  SELECT box_id, 'z' AS curve,
       |         list_sum(list_transform(range(0, 6), i ->
       |           (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1))
       |         ))::BIGINT AS v
       |  FROM cells),
       |c0 AS (SELECT box_id, x, y, 0::BIGINT AS d FROM cells),
       |${(0 until 6).map(level).mkString(",\n")},
       |h AS (SELECT box_id, 'h' AS curve, d AS v FROM c6),
       |u AS (SELECT * FROM z UNION ALL SELECT * FROM h),
       |r AS (
       |  SELECT box_id, curve, v,
       |         lag(v) OVER (PARTITION BY box_id, curve ORDER BY v) AS p
       |  FROM u)
       |SELECT box_id::BIGINT AS box_id, curve,
       |       sum(CASE WHEN p IS NULL OR v <> p + 1 THEN 1 ELSE 0 END)::BIGINT
       |         AS n_runs,
       |       (max(v) - min(v) + 1)::BIGINT AS span
       |FROM r GROUP BY 1, 2 ORDER BY box_id, curve""".stripMargin
  }

  /** 3-D curve-fragmentation readout — [[curveSpan]]'s claim in three
    * dimensions: for fixed 4×4×4 query boxes on the 16³ grid, the
    * number of contiguous curve runs each box shatters into under the
    * 3-D Hilbert curve vs the 3-D Morton interleave (a stats-pruning
    * reader opens one range per run). The oracle recomputes Morton via
    * list_sum interleave and Hilbert via the shared Skilling unroll
    * ([[hilbert3Ctes]]) plus the identical run count. */
  def curveSpan3d(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    val boxes = Seq((1L, 1L, 2L, 3L), (2L, 6L, 6L, 6L), (3L, 12L, 0L, 9L),
      (4L, 9L, 11L, 2L)).toDS().toDF("box_id", "x0", "y0", "z0")
    val cells = boxes
      .withColumn("dx", explode(sequence(lit(0L), lit(3L))))
      .withColumn("dy", explode(sequence(lit(0L), lit(3L))))
      .withColumn("dz", explode(sequence(lit(0L), lit(3L))))
      .select($"box_id", ($"x0" + $"dx").as("x"), ($"y0" + $"dy").as("y"),
        ($"z0" + $"dz").as("z"))
    val curves = cells.select($"box_id",
      toColumn(graft.functions.ZValue3(
        toExpr($"x"), toExpr($"y"), toExpr($"z"), 4)).as("m"),
      toColumn(graft.functions.HilbertD3(
        toExpr($"x"), toExpr($"y"), toExpr($"z"), 4)).as("h"))
    val melted = curves.select($"box_id", lit("h").as("curve"), $"h".as("v"))
      .unionByName(curves.select($"box_id", lit("z").as("curve"), $"m".as("v")))
    val w = Window.partitionBy($"box_id", $"curve").orderBy($"v")
    melted.withColumn("_p", lag($"v", 1).over(w))
      .withColumn("brk",
        when($"_p".isNull || $"v" =!= $"_p" + 1, 1L).otherwise(0L))
      .groupBy($"box_id", $"curve")
      .agg(sum($"brk").as("n_runs"), (max($"v") - min($"v") + 1).as("span"))
      .orderBy($"box_id", $"curve")
  }

  private val curveSpan3dSql =
    s"""WITH boxes(box_id, bx, by, bz) AS (
       |  VALUES (1, 1, 2, 3), (2, 6, 6, 6), (3, 12, 0, 9), (4, 9, 11, 2)),
       |cells AS (
       |  SELECT box_id, bx + dx.r AS cx, by + dy.r AS cy, bz + dz.r AS cz
       |  FROM boxes, range(0, 4) dx(r), range(0, 4) dy(r), range(0, 4) dz(r)),
       |zz AS (
       |  SELECT box_id, 'z' AS curve,
       |         list_sum(list_transform(range(0, 4), i ->
       |           (((cx >> i) & 1) << (3*i)) + (((cy >> i) & 1) << (3*i + 1)) +
       |           (((cz >> i) & 1) << (3*i + 2))
       |         ))::BIGINT AS v
       |  FROM cells),
       |s0 AS (SELECT box_id, cx AS x0, cy AS x1, cz AS x2 FROM cells),
       |${hilbert3Ctes(Seq("box_id"))},
       |hcurve AS (SELECT box_id, 'h' AS curve, h AS v FROM hh),
       |u AS (SELECT * FROM zz UNION ALL SELECT * FROM hcurve),
       |r AS (
       |  SELECT box_id, curve, v,
       |         lag(v) OVER (PARTITION BY box_id, curve ORDER BY v) AS p
       |  FROM u)
       |SELECT box_id::BIGINT AS box_id, curve,
       |       sum(CASE WHEN p IS NULL OR v <> p + 1 THEN 1 ELSE 0 END)::BIGINT
       |         AS n_runs,
       |       (max(v) - min(v) + 1)::BIGINT AS span
       |FROM r GROUP BY 1, 2 ORDER BY box_id, curve""".stripMargin

  /** Model-based quality scoring (hashing-trick linear classifier —
    * the CCNet/DCLM fastText-filter shape). All-integer md5-derived
    * scores; the oracle re-derives bucket → weight → Σ → basis-point
    * rescale inline, so a hash match pins the whole model application,
    * not just row counts. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    TextStats.classifierScore(load(spark, dir, "documents"))
      .orderBy($"doc_id")

  /** Shared CTE chain re-deriving the hashing-trick classifier score as
    * `sc(doc_id, n_tokens, score_bp)` — the classifier and band-prune
    * oracles both replay the ONE model application. */
  private val classifierScoreCte = {
    val md5u32 = (s: String) => s"(('0x' || substr(md5($s), 1, 8))::BIGINT)"
    val weight =
      s"(${md5u32(s"(${md5u32("w")} % 4096)::VARCHAR")} % 2001) - 1000"
    s"""t AS (
       |  SELECT doc_id, $toksSql AS ws FROM documents),
       |s AS (
       |  SELECT doc_id, len(ws)::BIGINT AS n_tokens,
       |         list_sum(list_transform(ws, w -> $weight))::BIGINT AS raw
       |  FROM t),
       |sc AS (
       |  SELECT doc_id, n_tokens,
       |         (10000 * (raw + 1000 * n_tokens)) // (2000 * n_tokens) AS score_bp
       |  FROM s)""".stripMargin
  }

  private val qualityClassifierSql =
    s"""WITH $classifierScoreCte
       |SELECT doc_id, n_tokens, score_bp, score_bp >= 5000 AS keep
       |FROM sc ORDER BY doc_id""".stripMargin

  /** Quality-band pruning — keep each language's middle [p10, p90] of
    * the classifier score: the fixed-threshold `keep` flag cuts an
    * absolute floor, while the BAND also drops the suspiciously-perfect
    * tail (template/boilerplate text scores unnaturally high — DCLM/
    * FineWeb prune both ends). Bounds come from the distributed-
    * selection quantiles (group-cardinality frame, broadcasts back);
    * the doc side never reshuffles. */
  def pruneBand(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val scored = TextStats.classifierScore(docs)
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
    val bounds = Frequency.exactQuantiles(scored, "lang", "score_bp",
        Seq(0.1, 0.9))
      .withColumnRenamed("lang", "_bg")
    scored.join(broadcast(bounds), $"lang" === $"_bg")
      .select($"doc_id", $"lang", $"score_bp",
        $"p10".cast("long").as("lo_bp"), $"p90".cast("long").as("hi_bp"),
        ($"score_bp" >= $"p10" && $"score_bp" <= $"p90").as("keep_band"))
      .orderBy($"doc_id")
  }

  private val pruneBandSql =
    s"""WITH $classifierScoreCte,
       |l AS (SELECT sc.doc_id, d.lang, sc.score_bp
       |      FROM sc JOIN documents d USING (doc_id)),
       |b AS (SELECT lang, quantile_disc(score_bp, 0.1)::BIGINT AS lo_bp,
       |             quantile_disc(score_bp, 0.9)::BIGINT AS hi_bp
       |      FROM l GROUP BY lang)
       |SELECT l.doc_id, l.lang, l.score_bp, b.lo_bp, b.hi_bp,
       |       (l.score_bp >= b.lo_bp AND l.score_bp <= b.hi_bp) AS keep_band
       |FROM l JOIN b USING (lang) ORDER BY l.doc_id""".stripMargin

  /** Model-weighted sampling: per-row keep probability ∝ the
    * classifier score ([[TextStats.classifierScore]]) — the sample
    * up-weights what the model likes, deterministically (md5 bucket vs
    * score, bit-reproducible across runs and engines). Oracle re-derives
    * score AND membership in SQL. */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val scored = TextStats.classifierScore(docs)
      .select($"doc_id", $"score_bp")
      .join(docs.select($"doc_id", $"source"), "doc_id")
    Sampling.weightedSample(scored, "doc_id", $"score_bp")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"score_bp").as("score_sum"))
      .orderBy($"source")
  }

  private val sampleWeightedSql = {
    val md5u32 = (s: String) => s"(('0x' || substr(md5($s), 1, 8))::BIGINT)"
    val weight =
      s"(${md5u32(s"(${md5u32("w")} % 4096)::VARCHAR")} % 2001) - 1000"
    s"""WITH t AS (
       |  SELECT doc_id, source, $toksSql AS ws FROM documents),
       |s AS (
       |  SELECT doc_id, source, len(ws)::BIGINT AS n,
       |         list_sum(list_transform(ws, w -> $weight))::BIGINT AS raw
       |  FROM t),
       |sc AS (
       |  SELECT doc_id, source,
       |         (10000 * (raw + 1000 * n)) // (2000 * n) AS score_bp
       |  FROM s)
       |SELECT source, count(*) AS n_kept, sum(score_bp)::BIGINT AS score_sum
       |FROM sc
       |WHERE (${md5u32("doc_id::VARCHAR")} % 10000)
       |        < greatest(0, least(10000, score_bp))
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** C4/Gopher-style corpus filter: metrics + failed-rule reasons + keep
    * flag per document, one narrow pass. The oracle recomputes every
    * metric relationally and re-derives the rule cascade, so the hash
    * match pins thresholds, reason naming, and the sort order of the
    * reasons array. */
  def textFilter(spark: SparkSession, dir: String): DataFrame =
    TextStats.filterCorpus(load(spark, dir, "documents"))
      // library API keeps `reasons` as array<string>; stringified here
      // because the driver's pandas comparator cannot sort ndarray cells
      .withColumn("reasons", array_join($"reasons", ","))
      .orderBy($"doc_id")

  /** Filter-attrition funnel: for every corpus-filter rule, the docs
    * and tokens it flags, next to `_total` and `_kept` rows — the data
    * audit table a curation run publishes (rule attribution sums can
    * exceed `_total − _kept`: docs may trip several rules). */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.ScopedPersist
    // The barrier is load-bearing: the funnel PRUNES the cascade's
    // output down to (n_tokens, reasons, keep), which drops every
    // metric to a single reference — CollapseProject then inlines the
    // whole chain and wordNgrams receives a DERIVED token array, the
    // documented per-gram re-tokenize hazard (measured 12 s at sf0.1
    // vs 1.5 s for the cascade itself). Materializing filterCorpus
    // once makes the metrics attributes for both fan-out branches.
    val f = TextStats.filterCorpus(Tables.loadWide(spark, dir, "documents"))
      .persistScoped
    val perRule = f.select($"n_tokens", explode($"reasons").as("rule"))
      .groupBy($"rule")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
    val summary = f
      .agg(count(lit(1)).as("_td"), sum($"n_tokens").as("_tt"),
        sum(when($"keep", 1L).otherwise(0L)).as("_kd"),
        sum(when($"keep", $"n_tokens").otherwise(0L)).as("_kt"))
      .select(explode(array(
        struct(lit("_total").as("rule"), $"_td".as("n_docs"), $"_tt".as("n_tokens")),
        struct(lit("_kept").as("rule"), $"_kd".as("n_docs"), $"_kt".as("n_tokens"))))
        .as("_r"))
      .select($"_r.rule", $"_r.n_docs", $"_r.n_tokens")
    perRule.unionByName(summary).orderBy($"rule")
  }

  private def filterChainAnd(finalSelect: String) = {
    def gramsSql(n: Int) =
      s"""CASE WHEN len(ws) >= $n
         |  THEN list_transform(range(1, len(ws) - ${n - 2}),
         |         i -> array_to_string(ws[i:i+${n - 1}], ' '))
         |  ELSE []::VARCHAR[] END""".stripMargin
    val reasonsList =
      """[CASE WHEN n_tokens < 15 THEN 'too_short' END,
        | CASE WHEN quality_q4 < 8000 THEN 'low_quality' END,
        | CASE WHEN lang_pred != 'en' THEN 'lang_mismatch' END,
        | CASE WHEN dup5_frac_q4 > 1000 THEN 'dup_ngrams' END,
        | CASE WHEN top2_char_frac_q4 > 2000 THEN 'top_ngram' END]""".stripMargin
    s"""WITH w AS (
       |  SELECT doc_id, text, $toksSql AS ws,
       |         greatest(length(coalesce(text, '')), 1)::BIGINT AS chars
       |  FROM documents),
       |scored AS (SELECT doc_id, text, ws, chars, $langScoreExprs FROM w),
       |withbest AS (SELECT *, $langBestSql AS best FROM scored),
       |base AS (
       |  SELECT doc_id,
       |    len(ws)::BIGINT AS n_tokens,
       |    list_sum(list_transform(ws, w -> length(w)))::BIGINT AS s,
       |    greatest(len(ws), 1)::BIGINT AS n,
       |    s_en::BIGINT AS c,
       |    chars AS l,
       |    (length(coalesce(text, '')) -
       |     length(regexp_replace(coalesce(text, ''), '[[:punct:]]', '', 'g')))::BIGINT AS p,
       |    $langPredCase AS lang_pred,
       |    ${gramsSql(2)} AS g2,
       |    ${gramsSql(5)} AS g5
       |  FROM withbest),
       |top2 AS (
       |  SELECT doc_id, gm, cnt FROM (
       |    SELECT doc_id, gm, cnt,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY cnt DESC, gm) AS rn
       |    FROM (SELECT doc_id, gm, count(*) AS cnt
       |          FROM (SELECT doc_id, unnest(g2) AS gm FROM base)
       |          GROUP BY doc_id, gm))
       |  WHERE rn = 1),
       |metrics AS (
       |  SELECT base.doc_id, n_tokens,
       |    $q4Sql AS quality_q4,
       |    lang_pred,
       |    least((10000 * coalesce(t2.cnt, 0) * length(coalesce(t2.gm, '')))
       |          // l, 10000) AS top2_char_frac_q4,
       |    CASE WHEN len(g5) = 0 THEN 0
       |         ELSE (10000 * (len(g5) - len(list_distinct(g5)))) // len(g5)
       |    END AS dup5_frac_q4
       |  FROM base LEFT JOIN top2 t2 USING (doc_id)),
       |reasoned AS (
       |  SELECT *, list_sort(list_filter($reasonsList,
       |    x -> x IS NOT NULL)) AS reasons
       |  FROM metrics)
       |$finalSelect""".stripMargin
  }

  private val textFilterSql = filterChainAnd(
    """SELECT doc_id, n_tokens, quality_q4, lang_pred, top2_char_frac_q4,
      |       dup5_frac_q4,
      |       coalesce(array_to_string(reasons, ','), '') AS reasons,
      |       len(reasons) = 0 AS keep
      |FROM reasoned ORDER BY doc_id""".stripMargin)

  private val filterFunnelSql = filterChainAnd(
    """SELECT rule, n_docs, n_tokens FROM (
      |  SELECT rule, count(*)::BIGINT AS n_docs,
      |         sum(n_tokens)::BIGINT AS n_tokens
      |  FROM (SELECT unnest(reasons) AS rule, n_tokens FROM reasoned)
      |  GROUP BY rule
      |  UNION ALL
      |  SELECT '_total', count(*)::BIGINT, sum(n_tokens)::BIGINT
      |  FROM reasoned
      |  UNION ALL
      |  SELECT '_kept', count(*)::BIGINT,
      |         coalesce(sum(n_tokens), 0)::BIGINT
      |  FROM reasoned WHERE len(reasons) = 0)
      |ORDER BY rule""".stripMargin)

  /** Corpus-frequency bigram LM score per document (quantized
    * conditional P(w2|w1) average — all-integer arithmetic, so the
    * oracle re-derives it exactly from the same counts). */
  def textLm(spark: SparkSession, dir: String): DataFrame =
    TextStats.lmScore(load(spark, dir, "documents")).orderBy($"doc_id")

  private val textLmSql =
    s"""WITH w AS (SELECT doc_id, $toksSql AS ws FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(ws) >= 2
       |         THEN list_transform(range(1, len(ws)),
       |                i -> ws[i] || ' ' || ws[i + 1])
       |         ELSE []::VARCHAR[] END) AS g
       |  FROM w),
       |c2 AS (SELECT g, count(*)::BIGINT AS c2 FROM bg GROUP BY g),
       |c1 AS (SELECT split_part(g, ' ', 1) AS w1, count(*)::BIGINT AS c1
       |       FROM bg GROUP BY 1),
       |q AS (
       |  SELECT c2.g, (1000000 * c2.c2) // c1.c1 AS q
       |  FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w1),
       |per AS (
       |  SELECT bg.doc_id, count(*)::BIGINT AS n, sum(q.q)::BIGINT AS s
       |  FROM bg JOIN q USING (g) GROUP BY bg.doc_id)
       |SELECT d.doc_id,
       |       coalesce(p.n, 0)::BIGINT AS n_bigrams,
       |       coalesce(p.s // p.n, 0)::BIGINT AS lm_q6
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Top-40 emerging/receding terms between the even-id and odd-id
    * document snapshots, by absolute frequency-share delta. */
  def termDriftQ(spark: SparkSession, dir: String): DataFrame =
    TextStats.termDrift(load(spark, dir, "documents"),
      $"doc_id" % 2 === 0, k = 40)

  private val termDriftSql =
    s"""WITH t AS (
       |  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in1,
       |         unnest($toksSql) AS w
       |  FROM documents),
       |c AS (SELECT w, sum(in1)::BIGINT AS c1, sum(1 - in1)::BIGINT AS c2
       |      FROM t WHERE w <> '' GROUP BY w),
       |tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c)
       |SELECT w, ((10000 * c1) // n1)::BIGINT AS early_bp,
       |       ((10000 * c2) // n2)::BIGINT AS late_bp,
       |       ((10000 * c2) // n2 - (10000 * c1) // n1)::BIGINT AS delta_bp
       |FROM c CROSS JOIN tot WHERE n1 > 0 AND n2 > 0
       |ORDER BY abs((10000 * c2) // n2 - (10000 * c1) // n1) DESC, w
       |LIMIT 40""".stripMargin

  /** Stupid-backoff bigram LM: train on the en subcorpus, score every
    * document — off-domain docs rank via the unigram backoff path. */
  def textLmBackoff(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    TextStats.lmScoreBackoff(docs, $"lang" === "en")
      .orderBy($"doc_id")
  }

  private val textLmBackoffSql =
    s"""WITH w AS (SELECT doc_id, lang, $toksSql AS ws FROM documents),
       |tbg AS (
       |  SELECT unnest(CASE WHEN len(ws) >= 2
       |           THEN list_transform(range(1, len(ws)),
       |                  i -> ws[i] || ' ' || ws[i + 1])
       |           ELSE []::VARCHAR[] END) AS g
       |  FROM w WHERE lang = 'en'),
       |tb AS (SELECT g, count(*)::BIGINT AS c2 FROM tbg GROUP BY g),
       |tuw AS (SELECT unnest(ws) AS w2 FROM w WHERE lang = 'en'),
       |tu AS (SELECT w2, count(*)::BIGINT AS c1w FROM tuw GROUP BY w2),
       |nt AS (SELECT count(*)::BIGINT AS n FROM tuw),
       |c1 AS (SELECT split_part(g, ' ', 1) AS w1, sum(c2)::BIGINT AS c1
       |       FROM tb GROUP BY 1),
       |bg AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
       |           THEN list_transform(range(1, len(ws)),
       |                  i -> ws[i] || ' ' || ws[i + 1])
       |           ELSE []::VARCHAR[] END) AS g
       |  FROM w),
       |q AS (
       |  SELECT bg.doc_id,
       |         CASE WHEN tb.c2 IS NOT NULL THEN (1000000 * tb.c2) // c1.c1
       |              ELSE coalesce((400000 * tu.c1w) // nt.n, 0) END AS q,
       |         (tb.c2 IS NULL) AS backoff
       |  FROM bg LEFT JOIN tb USING (g)
       |  LEFT JOIN c1 ON split_part(bg.g, ' ', 1) = c1.w1
       |  LEFT JOIN tu ON split_part(bg.g, ' ', 2) = tu.w2
       |  CROSS JOIN nt),
       |per AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |         sum(CASE WHEN backoff THEN 1 ELSE 0 END)::BIGINT AS n_backoff,
       |         sum(q)::BIGINT AS s
       |  FROM q GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
       |       coalesce(p.n_backoff, 0)::BIGINT AS n_backoff,
       |       coalesce(p.s // p.n_bigrams, 0)::BIGINT AS lm_q6
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Top-50 adjacent-token pairs by corpus frequency (one BPE training
    * step's ranked statistic; deterministic count-then-gram tie-break). */
  def vocabPairs(spark: SparkSession, dir: String): DataFrame =
    TextStats.vocabPairs(load(spark, dir, "documents"), 50)

  /** Six BPE merge-training rounds over the ASCII word table: the
    * learned merge sequence (round, lhs, rhs, n). The oracle unrolls
    * each round as CTEs and applies the merge with an islands-greedy
    * window formulation — an independent derivation of the operator's
    * left-to-right fold (the two agree because a merged symbol can
    * never re-match its own left side, and same-symbol runs resolve to
    * even offsets either way). */
  def bpeMergesQ(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Vocab.bpeMerges(load(spark, dir, "documents"), rounds = 6)

  /** Train 6 BPE merges, then tokenize every document with them — the
    * full train→apply pair. The oracle re-trains relationally and
    * applies the merges to the distinct-word dictionary with the same
    * islands-greedy windows, then joins docs back on the word. */
  def bpeEncodeQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val merges = graft.ext.Vocab.bpeMerges(docs, rounds = 6)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.ext.Vocab.bpeEncode(docs, merges, headPieces = 32)
      .orderBy($"doc_id")
  }

  private val bpeMergesSql = {
    def round(r: Int) =
      s"""px$r AS (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM s${r - 1}),
         |p$r AS (SELECT syms[i] AS l, syms[i+1] AS r2, sum(cnt)::BIGINT AS n
         |        FROM px$r GROUP BY 1, 2),
         |sel$r AS (SELECT l, r2, n FROM p$r ORDER BY n DESC, l, r2 LIMIT 1),
         |u$r AS (SELECT w, cnt, syms, unnest(range(1, len(syms) + 1)) AS pos FROM s${r - 1}),
         |t$r AS (SELECT w, cnt, pos, syms[pos] AS s,
         |        coalesce(syms[pos] = sel.l AND pos < len(syms)
         |                 AND syms[pos + 1] = sel.r2, FALSE) AS m
         |        FROM u$r CROSS JOIN sel$r sel),
         |i$r AS (SELECT *, pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) AS isl
         |        FROM t$r),
         |k$r AS (SELECT *, m AND ((pos - min(pos) OVER (PARTITION BY w, m, isl)) % 2 = 0) AS keep
         |        FROM i$r),
         |a$r AS (SELECT w, cnt, pos,
         |        CASE WHEN keep THEN sel.l || sel.r2 ELSE s END AS s2,
         |        lag(keep) OVER (PARTITION BY w ORDER BY pos) AS ab
         |        FROM k$r CROSS JOIN sel$r sel),
         |s$r AS (SELECT w, cnt, list(s2 ORDER BY pos) AS syms FROM a$r
         |        WHERE NOT coalesce(ab, FALSE) GROUP BY w, cnt
         |        HAVING len(list(s2 ORDER BY pos)) >= 2)""".stripMargin
    val rounds = (1 to 6).map(round).mkString(",\n")
    val union = (1 to 6)
      .map(r => s"SELECT $r::BIGINT AS round, l AS lhs, r2 AS rhs, n FROM sel$r")
      .mkString("\n UNION ALL ")
    s"""WITH $bpeTrainCtes,
       |$rounds
       |$union ORDER BY round""".stripMargin
  }

  /** Shared training head: word counts + initial char symbols. The
    * per-round CTEs (p/sel/apply) are generated by the two queries.
    * A `def`, not a `val`: bpeMergesSql initializes BEFORE this point
    * in the object body and a val would interpolate as null. */
  private def bpeTrainCtes =
    s"""w0 AS (
       |  SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest($toksSql) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}') AND length(w) >= 2 GROUP BY w),
       |s0 AS (SELECT w, cnt,
       |       list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
       |       FROM w0)""".stripMargin

  /** Tokenizer fertility by language: pieces-per-word after applying
    * the corpus-trained merges — the multilingual-fairness metric
    * (a language whose words shatter into many pieces pays more
    * sequence length per sentence). */
  def bpeFertilityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val merges = graft.ext.Vocab.bpeMerges(docs, rounds = 6)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.ext.Vocab.bpeEncode(docs, merges, headPieces = 32)
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      .groupBy($"lang")
      .agg(sum($"n_words").as("n_words"), sum($"n_pieces").as("n_pieces"))
      .select($"lang", $"n_words", $"n_pieces",
        expr("(10000 * n_pieces) div n_words").as("fertility_bp"))
      .orderBy($"lang")
  }

  private def bpeFertilitySql =
    s"""$bpeApplyWith
       |SELECT d2.lang, count(*)::BIGINT AS n_words,
       |       sum(len(dj.pieces))::BIGINT AS n_pieces,
       |       ((10000 * sum(len(dj.pieces))) // count(*))::BIGINT AS fertility_bp
       |FROM dj JOIN documents d2 USING (doc_id)
       |GROUP BY d2.lang ORDER BY d2.lang""".stripMargin

  /** Everything through `dj` (doc word positions → applied pieces) —
    * shared by the encode and fertility oracles. A def (init-order). */
  private def bpeApplyWith = {
    // training rounds (same as bpeMergesSql)
    def trainRound(r: Int) =
      s"""px$r AS (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM s${r - 1}),
         |p$r AS (SELECT syms[i] AS l, syms[i+1] AS r2, sum(cnt)::BIGINT AS n
         |        FROM px$r GROUP BY 1, 2),
         |sel$r AS (SELECT l, r2, n FROM p$r ORDER BY n DESC, l, r2 LIMIT 1),
         |u$r AS (SELECT w, cnt, syms, unnest(range(1, len(syms) + 1)) AS pos FROM s${r - 1}),
         |t$r AS (SELECT w, cnt, pos, syms[pos] AS s,
         |        coalesce(syms[pos] = sel.l AND pos < len(syms)
         |                 AND syms[pos + 1] = sel.r2, FALSE) AS m
         |        FROM u$r CROSS JOIN sel$r sel),
         |i$r AS (SELECT *, pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) AS isl
         |        FROM t$r),
         |k$r AS (SELECT *, m AND ((pos - min(pos) OVER (PARTITION BY w, m, isl)) % 2 = 0) AS keep
         |        FROM i$r),
         |a$r AS (SELECT w, cnt, pos,
         |        CASE WHEN keep THEN sel.l || sel.r2 ELSE s END AS s2,
         |        lag(keep) OVER (PARTITION BY w ORDER BY pos) AS ab
         |        FROM k$r CROSS JOIN sel$r sel),
         |s$r AS (SELECT w, cnt, list(s2 ORDER BY pos) AS syms FROM a$r
         |        WHERE NOT coalesce(ab, FALSE) GROUP BY w, cnt
         |        HAVING len(list(s2 ORDER BY pos)) >= 2)""".stripMargin
    // dictionary apply rounds: every pattern-matching word, no HAVING drop
    def applyRound(r: Int) =
      s"""eu$r AS (SELECT w, syms, unnest(range(1, len(syms) + 1)) AS pos FROM e${r - 1}),
         |et$r AS (SELECT w, pos, syms[pos] AS s,
         |         coalesce(syms[pos] = sel.l AND pos < len(syms)
         |                  AND syms[pos + 1] = sel.r2, FALSE) AS m
         |         FROM eu$r CROSS JOIN sel$r sel),
         |ei$r AS (SELECT *, pos - row_number() OVER (PARTITION BY w, m ORDER BY pos) AS isl
         |         FROM et$r),
         |ek$r AS (SELECT *, m AND ((pos - min(pos) OVER (PARTITION BY w, m, isl)) % 2 = 0) AS keep
         |         FROM ei$r),
         |ea$r AS (SELECT w, pos,
         |         CASE WHEN keep THEN sel.l || sel.r2 ELSE s END AS s2,
         |         lag(keep) OVER (PARTITION BY w ORDER BY pos) AS ab
         |         FROM ek$r CROSS JOIN sel$r sel),
         |e$r AS (SELECT w, list(s2 ORDER BY pos) AS syms FROM ea$r
         |        WHERE NOT coalesce(ab, FALSE) GROUP BY w)""".stripMargin
    val train = (1 to 6).map(trainRound).mkString(",\n")
    val apply = (1 to 6).map(applyRound).mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |$train,
       |d0 AS (SELECT DISTINCT w FROM (SELECT unnest($toksSql) AS w FROM documents)
       |       WHERE regexp_matches(w, '^[a-z]+${"$"}')),
       |e0 AS (SELECT w,
       |       list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
       |       FROM d0),
       |$apply,
       |dw AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
       |       FROM (SELECT doc_id, $toksSql AS ws FROM documents)),
       |dw2 AS (SELECT doc_id, pos, ws[pos] AS w FROM dw),
       |dj AS (SELECT dw2.doc_id, dw2.pos,
       |       coalesce(e6.syms, [dw2.w]) AS pieces
       |       FROM dw2 LEFT JOIN e6 ON dw2.w = e6.w)""".stripMargin
  }

  private def bpeEncodeSql =
    s"""$bpeApplyWith
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |       sum(len(pieces))::BIGINT AS n_pieces,
       |       array_to_string(list_slice(flatten(list(pieces ORDER BY pos)), 1, 32), ',')
       |         AS pieces_csv
       |FROM dj GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val vocabPairsSql =
    s"""WITH w AS (SELECT doc_id, $toksSql AS ws FROM documents),
       |bg AS (
       |  SELECT unnest(
       |    CASE WHEN len(ws) >= 2
       |         THEN list_transform(range(1, len(ws)),
       |                i -> ws[i] || ' ' || ws[i + 1])
       |         ELSE []::VARCHAR[] END) AS g
       |  FROM w)
       |SELECT g, count(*)::BIGINT AS n FROM bg
       |GROUP BY g ORDER BY n DESC, g LIMIT 50""".stripMargin

  /** Whitespace-token vs BPE-ish-piece counts per document (the two
    * token-counting modes a training-data pipeline budgets with). */
  def tokenPieces(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    docs.select($"doc_id",
        TextStats.tokenCount(TextStats.tokens($"text")).as("n_tokens"),
        TextStats.pieceCount($"text").as("n_pieces"))
      .orderBy($"doc_id")
  }

  // interpolates the SHARED pattern constant (runtime values are not
  // escape-processed, so the \s survives verbatim) — retyping it as a
  // literal here silently depends on the s-interpolator turning '\\s'
  // into '\s', an escape trap the advisor caught
  private val tokenPiecesSql =
    s"""SELECT doc_id,
       |  len($toksSql) AS n_tokens,
       |  len(regexp_extract_all(lower(coalesce(text, '')),
       |      '${TextStats.pieceRegexp}')) AS n_pieces
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprints (k=5, w=4), one row per selected hash. */
  def fingerprintWinnow(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    docs.select($"doc_id",
        explode(TextStats.winnowFingerprints($"text", 5, 4)).as("fp"))
      .orderBy($"doc_id", $"fp")
  }

  // mirrors TextStats.winnowFingerprints: md5-derived k-gram hashes,
  // per-window list_min, short docs keep the global min, sub-k docs
  // contribute nothing (range/unnest of an empty list emit no rows)
  private val winnowCte =
    s"""t AS (
       |  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
       |hs AS (
       |  SELECT doc_id,
       |    list_transform(range(1, greatest(length(t) - 5 + 2, 1)),
       |      i -> ('0x' || substr(md5(substr(t, i::INT, 5)), 1, 8))::BIGINT) AS hs
       |  FROM t),
       |sel AS (
       |  SELECT doc_id,
       |    CASE WHEN len(hs) = 0 THEN []::BIGINT[]
       |         WHEN len(hs) - 4 + 1 <= 0 THEN [list_min(hs)]
       |         ELSE list_sort(list_distinct(
       |           list_transform(range(1, len(hs) - 4 + 2),
       |             j -> list_min(list_slice(hs, j, j + 3)))))
       |    END AS fps
       |  FROM hs)""".stripMargin

  private val fingerprintWinnowSql =
    s"""WITH $winnowCte
       |SELECT doc_id, unnest(fps) AS fp FROM sel
       |ORDER BY doc_id, fp""".stripMargin

  /** Deterministic train/val/test split + per-lang counts (reproducible
    * across runs/engines — the md5 bucket, never rand()). */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    docs.select($"lang",
        Sampling.splitAssign($"doc_id",
          Seq(("train", 8000), ("val", 1000), ("test", 1000))).as("split"))
      .groupBy($"lang", $"split").agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"split")
  }

  private val bucketSql =
    "(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000)"

  // the leading IS NULL arm mirrors splitAssign's null-key ⇒ null-split
  // contract (doc_id is non-null here, but the SQL must state the same
  // semantics, not rely on the fixture)
  private val sampleSplitSql =
    s"""SELECT lang,
       |  CASE WHEN doc_id IS NULL THEN NULL
       |       WHEN $bucketSql < 8000 THEN 'train'
       |       WHEN $bucketSql < 9000 THEN 'val'
       |       ELSE 'test' END AS split,
       |  count(*) AS n
       |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Stratified deterministic sample: per-language basis-point rates
    * (language re-balancing for training mixes). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Sampling.stratifiedSample(docs, "doc_id", "lang",
        Map("en" -> 500, "zh" -> 2000), defaultBp = 1000)
      .select($"doc_id", $"lang").orderBy($"doc_id")
  }

  private val sampleStratifiedSql =
    s"""SELECT doc_id, lang FROM documents
       |WHERE $bucketSql < (CASE lang WHEN 'en' THEN 500
       |                              WHEN 'zh' THEN 2000 ELSE 1000 END)
       |ORDER BY doc_id""".stripMargin

  /** Temperature-0.5 mixture resampling over `source`: the oracle
    * re-derives the exact integer keep-rates (sqrt weights → feasible
    * total → basis points, all floor-division) and the md5-bucket
    * membership, so the hash match pins both the rate math and the
    * per-row sample. */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Sampling.mixtureSample(docs, "doc_id", "source", alpha = 0.5)
      .select($"doc_id", $"source").orderBy($"doc_id")
  }

  /** Greedy token-budget selection: keep the best-scoring docs (by
    * distinct-token ratio) while the running token total stays under
    * 20k. Oracle is the single-window form; the operator must produce
    * the identical greedy prefix without a global sort. */
  def budgetSelectQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val toks = TextStats.tokens($"text")
    val scored = docs.select($"doc_id", $"text",
        size(array_distinct(toks)).cast("long").as("_d"),
        size(toks).cast("long").as("_n"))
      .select($"doc_id", $"text", expr("(10000 * _d) div _n").as("score"))
    Sampling.budgetSelect(scored, 20000L, "score")
      .orderBy($"doc_id")
  }

  private val budgetSelectSql =
    s"""WITH w AS (SELECT doc_id, $toksSql AS ws FROM documents),
       |s AS (SELECT doc_id,
       |      ((10000 * len(list_distinct(ws))) // len(ws))::BIGINT AS score,
       |      len(ws)::BIGINT AS n_tokens FROM w),
       |c AS (SELECT doc_id, score, n_tokens,
       |      coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |        AS cum_before
       |      FROM s)
       |SELECT doc_id, score, n_tokens, cum_before FROM c
       |WHERE cum_before < 20000 ORDER BY doc_id""".stripMargin

  /** Per-language token-budget selection: an independent 4k-token
    * quota per lang, best distinct-ratio docs first. */
  def budgetSelectLangQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    val toks = TextStats.tokens($"text")
    val scored = docs.select($"doc_id", $"lang", $"text",
        size(array_distinct(toks)).cast("long").as("_d"),
        size(toks).cast("long").as("_n"))
      .select($"doc_id", $"lang", $"text", expr("(10000 * _d) div _n").as("score"))
    Sampling.budgetSelectPerGroup(scored, 4000L, "lang", "score")
      .select($"lang", $"doc_id", $"score", $"n_tokens", $"cum_before")
      .orderBy($"lang", $"doc_id")
  }

  private val budgetSelectLangSql =
    s"""WITH w AS (SELECT doc_id, lang, $toksSql AS ws FROM documents),
       |s AS (SELECT doc_id, lang,
       |      ((10000 * len(list_distinct(ws))) // len(ws))::BIGINT AS score,
       |      len(ws)::BIGINT AS n_tokens FROM w),
       |c AS (SELECT lang, doc_id, score, n_tokens,
       |      coalesce(sum(n_tokens) OVER (PARTITION BY lang
       |        ORDER BY score DESC, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |        AS cum_before
       |      FROM s)
       |SELECT lang, doc_id, score, n_tokens, cum_before FROM c
       |WHERE cum_before < 4000 ORDER BY lang, doc_id""".stripMargin

  /** DSIR importance scores for every document against the English
    * subcorpus as the target domain (hashed-bigram ratio, 64 buckets,
    * exact integer quantization). */
  def sampleDsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Sampling.dsirScores(docs, docs.filter($"lang" === "en"), nBuckets = 64)
      .orderBy($"doc_id")
  }

  private val sampleDsirSql =
    s"""WITH w AS (SELECT doc_id, lang, $toksSql AS ws FROM documents),
       |bg AS (
       |  SELECT doc_id, lang, unnest(
       |    CASE WHEN len(ws) >= 2
       |         THEN list_transform(range(1, len(ws)),
       |                i -> ws[i] || ' ' || ws[i + 1])
       |         ELSE []::VARCHAR[] END) AS g
       |  FROM w),
       |bk AS (
       |  SELECT doc_id, lang,
       |         (('0x' || substr(md5(g), 1, 8))::BIGINT % 64) AS b
       |  FROM bg),
       |cnt AS (
       |  SELECT b, count(*)::HUGEINT AS cr,
       |         (count(*) FILTER (WHERE lang = 'en'))::HUGEINT AS ct
       |  FROM bk GROUP BY b),
       |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM cnt),
       |q AS (
       |  SELECT b, ((1000000 * (ct + 1) * (nr + 64)) //
       |             ((cr + 1) * (nt + 64)))::BIGINT AS q
       |  FROM cnt CROSS JOIN tot),
       |per AS (
       |  SELECT bk.doc_id, count(*)::BIGINT AS n, sum(q.q)::BIGINT AS s
       |  FROM bk JOIN q USING (b) GROUP BY bk.doc_id)
       |SELECT d.doc_id,
       |       coalesce(p.n, 0)::BIGINT AS n_grams,
       |       coalesce(p.s // p.n, 0)::BIGINT AS dsir_q6
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Exact integer re-derivation of `Sampling.mixtureRates(alpha=0.5)`
    * as CTEs ending in `rates(source, bp)` — shared by the mixture
    * sample and mix-report oracles. */
  private val mixtureRatesCte =
    """n AS (
      |  SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY source),
      |sq AS (
      |  SELECT source, n_s,
      |         CAST(floor(sqrt(n_s) * 1000) AS BIGINT) AS sqi FROM n),
      |tot AS (SELECT sum(sqi)::HUGEINT AS s FROM sq),
      |fs AS (
      |  SELECT min(n_s::HUGEINT * t.s // sqi::HUGEINT) AS nstar
      |  FROM sq CROSS JOIN tot t),
      |rates AS (
      |  SELECT source,
      |         least((10000::HUGEINT * sqi::HUGEINT * f.nstar)
      |                 // (t.s * n_s::HUGEINT),
      |               10000::HUGEINT)::BIGINT AS bp
      |  FROM sq CROSS JOIN tot t CROSS JOIN fs f)""".stripMargin

  private val sampleMixtureSql =
    s"""WITH $mixtureRatesCte
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN rates r USING (source)
       |WHERE $bucketSql < r.bp
       |ORDER BY doc_id""".stripMargin

  /** The pre-training mix report: what lands in each (source, split)
    * bucket — documents and token budget — after temperature mixing.
    * Composes mixtureSample + splitAssign + token counting in one
    * aggregation; the oracle re-derives every stage. */
  def mixReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Sampling.mixtureSample(docs, "doc_id", "source", alpha = 0.5)
      .select($"source",
        Sampling.splitAssign($"doc_id",
          Seq(("train", 8000), ("val", 1000), ("test", 1000))).as("split"),
        TextStats.tokenCount(TextStats.tokens($"text")).cast("long").as("_nt"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"_nt").as("n_tokens"))
      .orderBy($"source", $"split")
  }

  private val mixReportSql =
    s"""WITH $mixtureRatesCte
       |SELECT d.source,
       |  CASE WHEN d.doc_id IS NULL THEN NULL
       |       WHEN $bucketSql < 8000 THEN 'train'
       |       WHEN $bucketSql < 9000 THEN 'val'
       |       ELSE 'test' END AS split,
       |  count(*)::BIGINT AS n_docs,
       |  sum(len($toksSql))::BIGINT AS n_tokens
       |FROM documents d JOIN rates r USING (source)
       |WHERE $bucketSql < r.bp
       |GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  /** Per-source cap at 40 docs (C4/Dolma domain capping): kept rows are
    * a deterministic uniform draw via the md5 rank, so the oracle
    * reproduces membership exactly. */
  def sampleCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Sampling.capPerGroup(docs, "doc_id", "source", k = 40)
      .select($"doc_id", $"source").orderBy($"doc_id")
  }

  private val sampleCapSql =
    """WITH r AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, source FROM r WHERE rk <= 40
      |ORDER BY doc_id""".stripMargin

  /** Deterministic global shuffle into 8 training shards: shard = md5
    * range, pos = rank by (md5, id) within the shard. Reproducible
    * permutation with no global sort — one hash-partitioned window. */
  def sampleShards(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Sampling.shardAssign(docs, "doc_id", nShards = 8)
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  private val sampleShardsSql =
    """WITH h AS (SELECT doc_id, md5(doc_id::VARCHAR) AS hh FROM documents),
      |s AS (SELECT doc_id, hh,
      |        (('0x' || substr(hh, 1, 8))::BIGINT % 8) AS shard FROM h)
      |SELECT doc_id, shard,
      |       (row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
      |        - 1)::BIGINT AS pos
      |FROM s ORDER BY shard, pos""".stripMargin

  /** Multi-epoch training schedule ([[Sampling.epochSchedule]]): every
    * doc placed in every epoch under a per-epoch independent md5
    * permutation — the reshuffle-each-epoch loader order, regenerable
    * bit-for-bit with no stored permutation. */
  def epochScheduleQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    Sampling.epochSchedule(docs, "doc_id", epochs = 2, nShards = 4)
      .select($"epoch", $"shard", $"pos", $"doc_id")
      .orderBy($"epoch", $"shard", $"pos")
  }

  private val epochScheduleSql =
    """WITH e AS (
      |  SELECT doc_id, unnest(range(0, 2)) AS epoch FROM documents),
      |h AS (
      |  SELECT doc_id, epoch::BIGINT AS epoch,
      |         md5(doc_id::VARCHAR || ':' || epoch::VARCHAR) AS hh
      |  FROM e),
      |s AS (
      |  SELECT doc_id, epoch, hh,
      |         (('0x' || substr(hh, 1, 8))::BIGINT % 4) AS shard
      |  FROM h)
      |SELECT epoch, shard,
      |       (row_number() OVER (PARTITION BY epoch, shard ORDER BY hh, doc_id)
      |        - 1)::BIGINT AS pos,
      |       doc_id
      |FROM s ORDER BY epoch, shard, pos""".stripMargin

  /** Benchmark decontamination: corpus docs sharing >= 3 winnowing
    * fingerprints with the probe subset (doc_id % 101 = 0 stands in for
    * an eval set). Bucketed by fingerprint — no all-pairs. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    Contamination.overlaps(docs, docs.where($"doc_id" % 101 === 0), minShared = 3)
      .orderBy($"corpus_id", $"probe_id")
  }

  private val decontaminateSql =
    s"""WITH $winnowCte,
       |fps AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
       |j AS (
       |  SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id,
       |         count(*) AS n_shared
       |  FROM fps c JOIN (SELECT * FROM fps WHERE doc_id % 101 = 0) p
       |    USING (fp)
       |  WHERE c.doc_id != p.doc_id
       |  GROUP BY 1, 2)
       |SELECT corpus_id, probe_id, n_shared FROM j
       |WHERE n_shared >= 3 ORDER BY corpus_id, probe_id""".stripMargin

  /** PII redaction over documents with deterministic planted spans (the
    * synthetic corpus has no natural emails/URLs, so docs with
    * doc_id % 7 = 0 get a contact line appended before redaction —
    * mirrored exactly in the oracle — giving the scrubber real work). */
  def textRedact(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val enriched = docs.select($"doc_id",
      when($"doc_id" % 7 === 0,
          concat($"text", lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com or https://data.example.org/dl?id="),
            $"doc_id".cast("string"),
            lit(" call +1-555-012-3456 from 10.0.0."),
            ($"doc_id" % 256).cast("string"),
            lit(" ref "), lpad($"doc_id".cast("string"), 9, "0")))
        .otherwise($"text").as("text"))
    enriched.select($"doc_id",
        TextStats.redact($"text").as("redacted"),
        TextStats.redactionCount($"text").cast("long").as("n_redacted"))
      .orderBy($"doc_id")
  }

  private val textRedactSql = {
    // DuckDB single-quoted strings pass backslashes through verbatim, so
    // the Java-side patterns inline unchanged (they stay in RE2 ∩ Java)
    val subs = TextStats.redactionPatterns
    def chain(e: String) = subs.foldLeft(e) { case (t, (p, tag)) =>
      s"regexp_replace($t, '$p', '$tag', 'g')"
    }
    // counts accumulate over the progressively-redacted text, like the engine
    val cntTerms = subs.inits.toSeq.reverse.tail.map { prefix =>
      val done = prefix.dropRight(1)
      val (p, _) = prefix.last
      val base = done.foldLeft("text") { case (t, (pp, tag)) =>
        s"regexp_replace($t, '$pp', '$tag', 'g')"
      }
      s"len(regexp_extract_all($base, '$p'))"
    }.mkString(" + ")
    s"""WITH e AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN
       |      text || ' contact user' || doc_id ||
       |      '@example.com or https://data.example.org/dl?id=' || doc_id ||
       |      ' call +1-555-012-3456 from 10.0.0.' || (doc_id % 256) ||
       |      ' ref ' || lpad(doc_id::VARCHAR, 9, '0')
       |    ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id, ${chain("text")} AS redacted, ($cntTerms) AS n_redacted
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Typed span extraction over the same PII-enriched documents as
    * [[textRedact]]: one row per maskable span with its kind and
    * in-kind ordinal — redact audits in aggregate, this keeps the
    * spans. Oracle unnests regexp_extract_all over the identical
    * cascade. */
  def textExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val enriched = docs.select($"doc_id",
      when($"doc_id" % 7 === 0,
          concat($"text", lit(" contact user"), $"doc_id".cast("string"),
            lit("@example.com or https://data.example.org/dl?id="),
            $"doc_id".cast("string"),
            lit(" call +1-555-012-3456 from 10.0.0."),
            ($"doc_id" % 256).cast("string"),
            lit(" ref "), lpad($"doc_id".cast("string"), 9, "0")))
        .otherwise($"text").as("text"))
    TextStats.extractSpans(enriched)
      .orderBy($"doc_id", $"kind", $"ordinal")
  }

  private val textExtractSql = {
    val subs = TextStats.redactionPatterns
    val arms = subs.zipWithIndex.map { case ((p, tag), i) =>
      val masked = subs.take(i).foldLeft("text") { case (t, (pp, tt)) =>
        s"regexp_replace($t, '$pp', '$tt', 'g')"
      }
      s"""SELECT doc_id, '$tag' AS kind,
         |       generate_subscripts(m, 1)::BIGINT AS ordinal,
         |       unnest(m) AS span
         |FROM (SELECT doc_id, regexp_extract_all($masked, '$p') AS m FROM e)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN
       |      text || ' contact user' || doc_id ||
       |      '@example.com or https://data.example.org/dl?id=' || doc_id ||
       |      ' call +1-555-012-3456 from 10.0.0.' || (doc_id % 256) ||
       |      ' ref ' || lpad(doc_id::VARCHAR, 9, '0')
       |    ELSE text END AS text
       |  FROM documents)
       |SELECT * FROM ($arms) ORDER BY doc_id, kind, ordinal""".stripMargin
  }

  /** TF-IDF top-3 terms per document. */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame =
    TextStats.tfidf(load(spark, dir, "documents"), 3)
      .orderBy($"doc_id", $"rank")

  private val tfidfTopSql =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term,
       |         round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY tfidf DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  /** LSH-bucketed ANN (scale path). Approximate vs brute force, but fully
    * DETERMINISTIC: the hyperplanes are seeded, so the oracle inlines the
    * same plane constants and reproduces bucket assignment + ranking
    * exactly. */
  def simLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    Similarity.lshTopK(emb.where($"vec_id" < 10), emb, 5, nPlanes = 4, dim = 64)
      .orderBy($"q_id", $"rank")
  }

  /** Sign-bit bucket SQL from inlined plane constants — must stay in
    * lockstep with `Similarity.lshBucket`'s `> 0` convention and bit
    * encoding (Double.toString round-trips, so both engines see
    * identical constants). Shared by every LSH oracle. */
  private def lshBucketSql(v: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($v::DOUBLE[], $arr) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " +\n     ", ")")

  private val simLshSql = {
    // the exact planes lshTopK(nPlanes = 4, dim = 64) derives from seed 42
    val bucket = lshBucketSql("embedding", Similarity.hyperplanes(64, 4))
    s"""WITH be AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM be q JOIN be c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** IVF-bucketed ANN (second scale path next to LSH): deterministic
    * coarse centroids (first 16 vectors, L2-normalized), narrow argmax
    * cell assignment, 4-of-16 cell probe. The oracle rebuilds the same
    * index relationally from the parquet — no inlined constants. */
  def simIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    Similarity.ivfTopK(emb.where($"vec_id" < 10), emb, 5, nCells = 16, nProbe = 4)
      .orderBy($"q_id", $"rank")
  }

  private val simIvfSql = {
    val dotc = (v: String) => s"list_dot_product($v::DOUBLE[], c.c_vec)"
    s"""WITH cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding::DOUBLE[],
       |           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
       |                                          embedding::DOUBLE[]))) AS c_vec
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
       |        ORDER BY vec_id LIMIT 16)),
       |cassign AS (
       |  SELECT e.vec_id AS n_id, e.embedding AS n_vec, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotc("e.embedding")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN cents c),
       |corpus AS (SELECT n_id, n_vec, cell FROM cassign WHERE rn = 1),
       |qassign AS (
       |  SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cell,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${dotc("q.embedding")} DESC, c.cell) AS pr
       |  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10),
       |probes AS (SELECT q_id, q_vec, cell FROM qassign WHERE pr <= 4),
       |scored AS (
       |  SELECT p.q_id, n.n_id, ${cosSql("p.q_vec", "n.n_vec")} AS cos
       |  FROM probes p JOIN corpus n USING (cell) WHERE p.q_id != n.n_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** IVF on the k-means quantizer's deterministic farthest-first seeding
    * (`ivfCentroidsKmeans(iters = 0)`): 4 seeds, 2-of-4 probe. The
    * hash-checked form pins the SEEDING stage — Lloyd refinement sums
    * partition-ordered doubles (not bit-reproducible across engines) and
    * is covered by the SimilaritySpec recall test instead. The oracle
    * rebuilds the chained argmin-of-max-cosine selection relationally
    * from the parquet — no inlined constants. */
  def simIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroidsKmeans(emb, nCells = 4, iters = 0,
      seeding = "farthest") // the variant the DuckDB oracle rebuilds relationally
    Similarity.ivfTopK(emb.where($"vec_id" < 10), emb, 5, nProbe = 2,
        centroids = Some(cents))
      .orderBy($"q_id", $"rank")
  }

  /** Chained farthest-first selection of 4 seeds as CTEs (`nz` … `cents`):
    * seed 1 = lowest-id non-zero vector; seed k+1 = argmin over the
    * corpus of max cosine against the chosen set (running greatest),
    * ties to the lowest id — in lockstep with
    * `Similarity.ivfCentroidsKmeans(seeding = "farthest")`. Shared by
    * the IVF-kmeans and semantic-dedup oracles. */
  // lazy: referenced by dedupSemanticSql, which is declared earlier in
  // the file — a plain val would interpolate null at init order
  private lazy val farthestSeeds4Cte =
    """nz AS (
      |  SELECT vec_id, embedding,
      |         list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS nn
      |  FROM embeddings
      |  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      |s1 AS (
      |  SELECT list_transform(embedding::DOUBLE[], x -> x / sqrt(nn)) AS c
      |  FROM nz ORDER BY vec_id LIMIT 1),
      |m1 AS (
      |  SELECT nz.vec_id, nz.embedding, nz.nn,
      |         list_dot_product(nz.embedding::DOUBLE[], s1.c) / sqrt(nz.nn) AS mx
      |  FROM nz CROSS JOIN s1),
      |s2 AS (
      |  SELECT list_transform(embedding::DOUBLE[], x -> x / sqrt(nn)) AS c
      |  FROM m1 ORDER BY mx ASC, vec_id ASC LIMIT 1),
      |m2 AS (
      |  SELECT m1.vec_id, m1.embedding, m1.nn,
      |         greatest(m1.mx,
      |           list_dot_product(m1.embedding::DOUBLE[], s2.c) / sqrt(m1.nn)) AS mx
      |  FROM m1 CROSS JOIN s2),
      |s3 AS (
      |  SELECT list_transform(embedding::DOUBLE[], x -> x / sqrt(nn)) AS c
      |  FROM m2 ORDER BY mx ASC, vec_id ASC LIMIT 1),
      |m3 AS (
      |  SELECT m2.vec_id, m2.embedding, m2.nn,
      |         greatest(m2.mx,
      |           list_dot_product(m2.embedding::DOUBLE[], s3.c) / sqrt(m2.nn)) AS mx
      |  FROM m2 CROSS JOIN s3),
      |s4 AS (
      |  SELECT list_transform(embedding::DOUBLE[], x -> x / sqrt(nn)) AS c
      |  FROM m3 ORDER BY mx ASC, vec_id ASC LIMIT 1),
      |cents AS (
      |  SELECT 0 AS cell, c AS c_vec FROM s1 UNION ALL
      |  SELECT 1, c FROM s2 UNION ALL
      |  SELECT 2, c FROM s3 UNION ALL
      |  SELECT 3, c FROM s4)""".stripMargin

  private val simIvfKmeansSql = {
    val dotc = (v: String) => s"list_dot_product($v::DOUBLE[], c.c_vec)"
    s"""WITH $farthestSeeds4Cte,
       |cassign AS (
       |  SELECT e.vec_id AS n_id, e.embedding AS n_vec, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${dotc("e.embedding")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN cents c),
       |corpus AS (SELECT n_id, n_vec, cell FROM cassign WHERE rn = 1),
       |qassign AS (
       |  SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cell,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${dotc("q.embedding")} DESC, c.cell) AS pr
       |  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < 10),
       |probes AS (SELECT q_id, q_vec, cell FROM qassign WHERE pr <= 2),
       |scored AS (
       |  SELECT p.q_id, n.n_id, ${cosSql("p.q_vec", "n.n_vec")} AS cos
       |  FROM probes p JOIN corpus n USING (cell) WHERE p.q_id != n.n_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, rank, CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
       |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** Int8 quantization of the embeddings table: codes + q6 scale max.
    * Every code is exact integer output of deterministic IEEE double
    * arithmetic (float widening exact, 127·amax mantissa-exact, floor),
    * so the DuckDB rebuild hash-matches element-for-element. */
  def simQuantize(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(load(spark, dir, "embeddings"))
      // the library API keeps `codes` as array<int>; the declared query
      // stringifies it (o2_sorted_arrays pattern) because the driver's
      // pandas comparator cannot sort ndarray cells
      .select($"vec_id", array_join($"codes", ",").as("codes"),
        floor($"scale" * lit(127.0) * lit(1000000.0)).cast("long").as("amax_q6"))
      .orderBy($"vec_id")

  private val simQuantizeSql =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
      |  FROM embeddings)
      |SELECT vec_id,
      |  array_to_string(CASE WHEN amax > 0
      |       THEN list_transform(v, x -> (floor(x * 127.0 / amax))::INT)
      |       ELSE list_transform(v, x -> 0) END, ',') AS codes,
      |  CASE WHEN amax > 0
      |       THEN (floor((amax / 127.0) * 127.0 * 1000000.0))::BIGINT
      |       ELSE 0 END AS amax_q6
      |FROM e ORDER BY vec_id""".stripMargin

  /** Sequence packing: contiguous 2000-token training sequences over the
    * documents table. The Spark side is the two-phase distributed prefix
    * sum; the oracle is the plain windowed form — bin assignments are a
    * pure function of (id → n_tokens), so they must agree exactly. */
  def packSeqs(spark: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(load(spark, dir, "documents"), 2000L)
      .orderBy($"doc_id")

  /** Packing-efficiency report: per training sequence, how many docs
    * landed in it and how far its token fill deviates from the 2000
    * budget (docs straddle greedily, so fills over- or under-shoot by
    * up to one doc — the padding/truncation cost a trainer pays). */
  def packReportQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.packSequences(load(spark, dir, "documents"), 2000L)
      .groupBy($"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .select($"seq_id", $"n_docs", $"n_tokens",
        ($"n_tokens" - lit(2000L)).as("fill_delta"))
      .orderBy($"seq_id")

  private val packReportSql =
    s"""WITH w AS (SELECT doc_id, len($toksSql)::BIGINT AS n_tokens FROM documents),
       |p AS (SELECT doc_id, n_tokens,
       |      ((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |        - n_tokens) // 2000)::BIGINT AS seq_id
       |      FROM w)
       |SELECT seq_id, count(*)::BIGINT AS n_docs,
       |       sum(n_tokens)::BIGINT AS n_tokens,
       |       (sum(n_tokens) - 2000)::BIGINT AS fill_delta
       |FROM p GROUP BY seq_id ORDER BY seq_id""".stripMargin

  private val packSeqsSql =
    s"""WITH w AS (SELECT doc_id, len($toksSql)::BIGINT AS n_tokens FROM documents)
       |SELECT doc_id, n_tokens,
       |       ((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |         - n_tokens) // 2000)::BIGINT AS seq_id
       |FROM w ORDER BY doc_id""".stripMargin

  /** Multimodal decode plumbing (stub codec). The FakeCodec metadata is
    * pure byte arithmetic over the payload (= the UTF-8 text bytes; the
    * corpus is ASCII, so DuckDB's char ops see the same bytes), so the
    * oracle reproduces n_bytes/width/height/frames/rate in SQL. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Multimodal
    Multimodal.decode(
        Multimodal.syntheticAssets(spark, load(spark, dir, "documents")))
      .toDF().orderBy($"asset_id")
  }

  private val multimodalMetaSql =
    """WITH b AS (
      |  SELECT doc_id AS asset_id,
      |         ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
      |         length(text) AS n_bytes,
      |         list_sum(list_transform(range(1, length(text) + 1),
      |                                 i -> ascii(substr(text, i, 1))))::BIGINT AS s
      |  FROM documents)
      |SELECT asset_id, kind, n_bytes,
      |  CASE kind WHEN 'image' THEN 64 + s % 1856
      |            WHEN 'audio' THEN 0
      |            ELSE 320 + s % 1600 END AS width,
      |  CASE kind WHEN 'image' THEN 64 + (s // 7) % 1016
      |            WHEN 'audio' THEN 0
      |            ELSE 240 + (s // 3) % 840 END AS height,
      |  CASE kind WHEN 'image' THEN 1
      |            WHEN 'audio' THEN 0
      |            ELSE 1 + s % 300 END AS n_frames,
      |  CASE kind WHEN 'audio' THEN [16000, 22050, 44100][(s % 3) + 1]
      |            ELSE 0 END AS sample_rate_hz
      |FROM b ORDER BY asset_id""".stripMargin

  /** Product quantization of the embeddings (4 subspaces × 16 codes,
    * seeded codebooks = first 16 vectors by id): codes + total q6²
    * quantization error, all-integer so DuckDB rebuilds the codebook
    * RELATIONALLY and matches element-for-element — the ivf-oracle
    * pattern applied to vector compression. */
  def simPq(spark: SparkSession, dir: String): DataFrame =
    Similarity.productQuantize(load(spark, dir, "embeddings"))
      .select($"vec_id", array_join($"codes", ",").as("codes_csv"), $"dist")
      .orderBy($"vec_id")

  private val simPqSql = {
    val sub = 16
    def dj(j: Int) =
      s"""list_sum(list_transform(range(1, ${sub + 1}),
         |    i -> (q.qv[${j * sub} + i] - cb.qv[${j * sub} + i])
         |       * (q.qv[${j * sub} + i] - cb.qv[${j * sub} + i]))) AS d$j""".stripMargin
    def arg(j: Int) =
      s"""a$j AS (SELECT vec_id, code, d$j,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d$j, code) AS rn
         |  FROM d)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> floor(x::DOUBLE * 1000000.0)::BIGINT) AS qv FROM embeddings),
       |cb AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, qv
       |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 16)),
       |d AS (SELECT q.vec_id, cb.code,
       |  ${(0 until 4).map(dj).mkString(",\n  ")}
       |      FROM q CROSS JOIN cb),
       |${(0 until 4).map(arg).mkString(",\n")}
       |SELECT a0.vec_id,
       |  a0.code::VARCHAR || ',' || a1.code::VARCHAR || ',' ||
       |  a2.code::VARCHAR || ',' || a3.code::VARCHAR AS codes_csv,
       |  (a0.d0 + a1.d1 + a2.d2 + a3.d3)::BIGINT AS dist
       |FROM (SELECT * FROM a0 WHERE rn = 1) a0
       |JOIN (SELECT * FROM a1 WHERE rn = 1) a1 USING (vec_id)
       |JOIN (SELECT * FROM a2 WHERE rn = 1) a2 USING (vec_id)
       |JOIN (SELECT * FROM a3 WHERE rn = 1) a3 USING (vec_id)
       |ORDER BY a0.vec_id""".stripMargin
  }

  /** Segment-level global dedup (C4/CCNet paragraph granularity): the
    * corpus cut into 8-token segments, every repeated segment keeping
    * only its globally first occurrence, docs rebuilt from survivors.
    * The 31-word synthetic vocabulary makes segment collisions organic
    * (plus exact ones via the injected duplicate docs in DedupSpec);
    * here the plain corpus exercises the operator end-to-end. */
  def dedupSegments(spark: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(load(spark, dir, "documents"), segLen = 8)
      .orderBy($"doc_id")

  private val dedupSegmentsSql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |b AS (SELECT doc_id, toks, (len(toks) + 7) // 8 AS n_seg FROM d),
       |o0 AS (SELECT doc_id, toks, unnest(range(0, n_seg)) AS i FROM b),
       |o AS (SELECT doc_id, i AS seg_idx,
       |             array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
       |      FROM o0),
       |w AS (SELECT doc_id, seg_idx, seg,
       |             row_number() OVER (PARTITION BY seg
       |               ORDER BY doc_id, seg_idx) AS rn FROM o),
       |k AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
       |             string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup
       |      FROM w WHERE rn = 1 GROUP BY doc_id)
       |SELECT b.doc_id, b.n_seg::BIGINT AS n_seg,
       |       coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       |       coalesce(k.text_dedup, '') AS text_dedup
       |FROM b LEFT JOIN k USING (doc_id) ORDER BY b.doc_id""".stripMargin

  /** Incremental dedup of a synthetic "new crawl batch" against the
    * corpus: verbatim copies (exact dups), 16-token truncations (full
    * containment, NOT exact — the quoted-subset case symmetric Jaccard
    * misses), and suffix-extended docs (partial containment). */
  def dedupIncrement(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val copies = docs.where($"doc_id" < 20)
      .select(($"doc_id" + 100000).as("doc_id"), $"text")
    val truncs = docs.where($"doc_id" % 7 === 3)
      .select(($"doc_id" + 200000).as("doc_id"),
        array_join(slice(TextStats.tokens($"text"), 1, 16), " ").as("text"))
    val extended = docs.where($"doc_id" % 11 === 5)
      .select(($"doc_id" + 300000).as("doc_id"),
        concat($"text", lit(" zz9 zz9 zz9")).as("text"))
    Dedup.incrementalDedup(docs,
        copies.unionByName(truncs).unionByName(extended), segLen = 8)
      .orderBy($"doc_id")
  }

  private val dedupIncrementSql =
    s"""WITH nb AS (
       |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 20
       |  UNION ALL
       |  SELECT doc_id + 200000, array_to_string(($toksSql)[1:16], ' ')
       |  FROM documents WHERE doc_id % 7 = 3
       |  UNION ALL
       |  SELECT doc_id + 300000, text || ' zz9 zz9 zz9'
       |  FROM documents WHERE doc_id % 11 = 5),
       |cseg0 AS (SELECT $toksSql AS toks FROM documents),
       |cseg1 AS (SELECT toks, unnest(range(0, (len(toks) + 7) // 8)) AS i FROM cseg0),
       |cseg AS (SELECT DISTINCT array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
       |         FROM cseg1),
       |cdig AS (SELECT DISTINCT md5(text) AS h FROM documents),
       |ns0 AS (SELECT doc_id, $toksSql AS toks FROM nb),
       |ns1 AS (SELECT doc_id, toks, (len(toks) + 7) // 8 AS n_seg,
       |               unnest(range(0, (len(toks) + 7) // 8)) AS i FROM ns0),
       |ns AS (SELECT DISTINCT doc_id, n_seg,
       |              array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
       |       FROM ns1),
       |tot AS (SELECT doc_id, any_value(n_seg) AS n_seg,
       |               count(*) AS n_distinct FROM ns GROUP BY doc_id),
       |sh AS (SELECT ns.doc_id, count(*) AS n_shared
       |       FROM ns SEMI JOIN cseg USING (seg) GROUP BY ns.doc_id),
       |ex AS (SELECT nb.doc_id,
       |              (cdig.h IS NOT NULL) AS is_exact_dup
       |       FROM nb LEFT JOIN cdig ON md5(nb.text) = cdig.h)
       |SELECT t.doc_id, t.n_seg::BIGINT AS n_seg,
       |       coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
       |       ((10000 * coalesce(sh.n_shared, 0)) // t.n_distinct)::BIGINT
       |         AS contain_bp,
       |       ex.is_exact_dup
       |FROM tot t LEFT JOIN sh USING (doc_id) JOIN ex USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** Boilerplate removal by document frequency (CCNet/RefinedWeb
    * curation shape): every 8-token segment occurring in ≥ 3 DISTINCT
    * docs is cut from ALL of them — including the first occurrence,
    * which [[dedupSegments]] would keep. At every SF the organic
    * segment collisions of the 31-word vocabulary give the threshold
    * real work (17–128 hot segments) while most docs stay whole. */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateFilter(load(spark, dir, "documents"),
        segLen = 8, minDf = 3)
      .orderBy($"doc_id")

  private val boilerplateSql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |b AS (SELECT doc_id, toks, (len(toks) + 7) // 8 AS n_seg FROM d),
       |o0 AS (SELECT doc_id, toks, unnest(range(0, n_seg)) AS i FROM b),
       |o AS (SELECT doc_id, i AS seg_idx,
       |             array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS seg
       |      FROM o0),
       |hot AS (SELECT seg FROM (
       |          SELECT seg, count(DISTINCT doc_id) AS df FROM o GROUP BY seg)
       |        WHERE df >= 3),
       |k AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
       |             string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean
       |      FROM o ANTI JOIN hot USING (seg) GROUP BY doc_id)
       |SELECT b.doc_id, b.n_seg::BIGINT AS n_seg,
       |       (b.n_seg - coalesce(k.n_kept, 0))::BIGINT AS n_removed,
       |       coalesce(k.text_clean, '') AS text_clean
       |FROM b LEFT JOIN k USING (doc_id) ORDER BY b.doc_id""".stripMargin

  /** Johnson–Lindenstrauss ±1 random projection of the embeddings to
    * 16 components as exact q6 integer sums (order-independent,
    * cross-engine bit-identical); the sign matrix is md5-derived at
    * plan build and inlined into the oracle as literals. Entirely
    * narrow — no exchange anywhere. */
  def simRandomProject(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(load(spark, dir, "embeddings"),
        outDim = 16, inDim = 64)
      .orderBy($"vec_id")

  private val simRandomProjectSql = {
    val mat = Similarity.signMatrix(16, 64)
    val comps = mat.map { row =>
      val lits = row.mkString("[", ", ", "]")
      s"""(list_sum(list_transform(range(1, len(embedding) + 1),
         |  i -> ($lits)[i] * floor(embedding[i]::DOUBLE * 1000000.0::DOUBLE)::BIGINT)))::BIGINT""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  array_to_string([$comps], ',') AS proj_csv
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** Count–min sketch over the corpus token stream (depth 4 × width 64
    * — narrower than the 31-term vocabulary is wide, so collisions and
    * the one-sided overestimate REALLY occur) probed for every distinct
    * term, with the exact counts alongside: `est ≥ true` per key by
    * construction, and the oracle re-derives sketch + probe + truth
    * relationally. */
  def sketchCms(spark: SparkSession, dir: String): DataFrame = {
    val keys = load(spark, dir, "documents")
      .select(explode(TextStats.tokens($"text")).as("term"))
      .where($"term" =!= "")
    val sketch = Frequency.countMinSketch(keys, "term", depth = 4, width = 64)
    val est = Frequency.cmsEstimate(sketch, keys, "term", depth = 4, width = 64)
    val truth = keys.groupBy($"term".as("key")).agg(count(lit(1)).as("true_cnt"))
    truth.join(est, Seq("key"))
      .select($"key", $"true_cnt", $"est",
        ($"est" - $"true_cnt").as("overcount"))
      .orderBy($"key")
  }

  private val sketchCmsSql =
    s"""WITH t AS (SELECT unnest($toksSql) AS k FROM documents),
       |tk AS (SELECT k FROM t WHERE k != ''),
       |js AS (SELECT unnest(range(0, 4)) AS j),
       |cells AS (
       |  SELECT j, ('0x' || substr(md5(j::VARCHAR || '_' || k), 1, 8))::BIGINT % 64 AS c,
       |         count(*) AS cnt
       |  FROM tk CROSS JOIN js GROUP BY j, c),
       |probes AS (SELECT DISTINCT k FROM tk),
       |pc AS (
       |  SELECT k, j, ('0x' || substr(md5(j::VARCHAR || '_' || k), 1, 8))::BIGINT % 64 AS c
       |  FROM probes CROSS JOIN js),
       |est AS (
       |  SELECT pc.k, min(coalesce(cells.cnt, 0))::BIGINT AS est
       |  FROM pc LEFT JOIN cells USING (j, c) GROUP BY pc.k),
       |tr AS (SELECT k, count(*)::BIGINT AS true_cnt FROM tk GROUP BY k)
       |SELECT tr.k AS key, tr.true_cnt, est.est,
       |       (est.est - tr.true_cnt)::BIGINT AS overcount
       |FROM tr JOIN est USING (k) ORDER BY key""".stripMargin

  /** Equi-depth histogram of o_totalprice in 8 buckets: boundaries are
    * exact quantile_disc order statistics from the distributed-selection
    * machinery; DuckDB rebuilds them with its NATIVE quantile_disc list
    * form — an independent implementation of the same order statistic,
    * so the hash match pins boundary semantics, not a replay. */
  def histogramEqDepth(spark: SparkSession, dir: String): DataFrame =
    Frequency.equiDepthHistogram(load(spark, dir, "orders"),
        "o_totalprice", k = 8)
      .orderBy($"bucket")

  private val histogramEqDepthSql = {
    val ps = (1 until 8).map(i => i.toDouble / 8).mkString("[", ", ", "]")
    s"""WITH v AS (SELECT o_totalprice::DOUBLE AS v FROM orders
       |           WHERE o_totalprice IS NOT NULL),
       |q AS (SELECT quantile_disc(v, $ps) AS bs FROM v),
       |b AS (SELECT v.v,
       |        (1 + list_sum(list_transform(q.bs,
       |           b -> CASE WHEN v.v > b THEN 1 ELSE 0 END)))::INT AS bucket
       |      FROM v CROSS JOIN q)
       |SELECT bucket, min(v) AS lo, max(v) AS hi, count(*)::BIGINT AS n_rows
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Windowed skip-gram pair counts (distance ≤ 3), top-20 — the
    * word2vec/windowed-PMI extraction; the oracle re-derives the pair
    * explode with inclusive list slicing. */
  def skipgramsQ(spark: SparkSession, dir: String): DataFrame =
    TextStats.skipgrams(Tables.loadWide(spark, dir, "documents"),
      window = 3, k = 20, minCount = 2)

  private val skipgramsSql =
    s"""WITH d AS (SELECT doc_id, $toksSql AS ws FROM documents),
       |p0 AS (SELECT ws, unnest(range(1, len(ws) + 1)) AS i FROM d),
       |p AS (SELECT ws[i] AS w1,
       |             unnest(ws[(i+1):least(i+3, len(ws))]) AS w2
       |      FROM p0),
       |c AS (SELECT w1, w2, count(*)::BIGINT AS cnt FROM p
       |      WHERE w1 != '' AND w2 != '' GROUP BY w1, w2)
       |SELECT w1, w2, cnt FROM c WHERE cnt >= 2
       |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin

  /** Grid quantile sketch probed at p50/p90/p99 with the exact
    * quantiles alongside: `true ≤ est ≤ true + width` visible per
    * column — the mergeable fixed-footprint quantile path next to the
    * exact distributed-selection one. */
  def sketchQuantile(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events").select($"value")
    val sk = Frequency.gridQuantileSketch(ev, "value", width = 5.0)
    val est = Frequency.gridQuantileEstimate(sk, 5.0, Seq(0.5, 0.9, 0.99))
      .select($"p50".as("est_p50"), $"p90".as("est_p90"), $"p99".as("est_p99"))
    val truth = Frequency.exactQuantiles(
        ev.withColumn("_g", lit("all")), "_g", "value", Seq(0.5, 0.9, 0.99))
      .select($"p50".as("true_p50"), $"p90".as("true_p90"), $"p99".as("true_p99"))
    est.crossJoin(truth)
      .select($"est_p50", $"true_p50", $"est_p90", $"true_p90",
        $"est_p99", $"true_p99")
  }

  private val sketchQuantileSql =
    """WITH v AS (SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
      |s AS (SELECT floor(v / 5.0)::BIGINT AS b, count(*) AS cnt
      |      FROM v GROUP BY b),
      |c AS (SELECT b, cnt, sum(cnt) OVER (ORDER BY b) AS cum,
      |             sum(cnt) OVER () AS n FROM s),
      |est AS (SELECT
      |  min(CASE WHEN cum >= ceil(0.5 * n) THEN (b + 1) * 5.0 END) AS est_p50,
      |  min(CASE WHEN cum >= ceil(0.9 * n) THEN (b + 1) * 5.0 END) AS est_p90,
      |  min(CASE WHEN cum >= ceil(0.99 * n) THEN (b + 1) * 5.0 END) AS est_p99
      |  FROM c),
      |tr AS (SELECT quantile_disc(v, 0.5) AS true_p50,
      |              quantile_disc(v, 0.9) AS true_p90,
      |              quantile_disc(v, 0.99) AS true_p99 FROM v)
      |SELECT est.est_p50, tr.true_p50, est.est_p90, tr.true_p90,
      |       est.est_p99, tr.true_p99
      |FROM est CROSS JOIN tr""".stripMargin

  /** HyperLogLog cardinality calibration ([[Frequency.hllCardinality]]):
    * per-source distinct-vocabulary estimate next to the exact count,
    * plus the MERGED union row (register max — the mergeability that
    * makes HLL the 100-TB cardinality sketch). Every stage hash-gates:
    * md5 buckets, unrolled integer rank CASE (shared verbatim with this
    * oracle), exact integer harmonic denominator, one identical double
    * division. */
  def sketchHll(spark: SparkSession, dir: String): DataFrame =
    Frequency.hllCardinality(load(spark, dir, "documents"))
      .orderBy($"src")

  private val sketchHllSql = {
    val rank = Frequency.hllRankCase("w32")
    val lc = Frequency.hllLinearCase("v_zero")
    val a = Frequency.hllAlphaNumerator
    s"""WITH words AS MATERIALIZED (
       |  SELECT source AS src, w FROM (
       |    SELECT source, unnest($toksSql) AS w FROM documents)
       |  WHERE w <> ''),
       |hashed AS (
       |  SELECT src,
       |         ('0x' || substr(md5(w), 1, 2))::BIGINT AS b,
       |         ('0x' || substr(md5(w), 3, 8))::BIGINT AS w32
       |  FROM words),
       |regs AS MATERIALIZED (
       |  SELECT src, b, max($rank)::BIGINT AS r
       |  FROM hashed GROUP BY 1, 2),
       |allregs AS (
       |  SELECT src, b, r FROM regs
       |  UNION ALL
       |  SELECT '__union' AS src, b, max(r) AS r FROM regs GROUP BY 2),
       |est AS (
       |  SELECT src,
       |         (sum(1::BIGINT << (33 - r)::INT) +
       |            (256 - count(*)) * 8589934592)::BIGINT AS s,
       |         (256 - count(*))::BIGINT AS v_zero
       |  FROM allregs GROUP BY 1),
       |ex AS (
       |  SELECT src, count(DISTINCT w)::BIGINT AS n_exact FROM words GROUP BY 1
       |  UNION ALL
       |  SELECT '__union', count(DISTINCT w)::BIGINT FROM words),
       |raws AS (
       |  SELECT src, v_zero,
       |         floor($a::DOUBLE / s::DOUBLE)::BIGINT AS hll_raw
       |  FROM est),
       |ests AS (
       |  SELECT src, v_zero,
       |         (CASE WHEN hll_raw <= 640 AND v_zero > 0
       |               THEN $lc ELSE hll_raw END)::BIGINT AS hll_est
       |  FROM raws)
       |SELECT e.src AS src, x.n_exact, e.hll_est,
       |       (CASE WHEN e.hll_est >= x.n_exact
       |             THEN (10000 * (e.hll_est - x.n_exact)) // x.n_exact
       |             ELSE -((10000 * (x.n_exact - e.hll_est)) // x.n_exact)
       |        END)::BIGINT AS err_bp,
       |       e.v_zero
       |FROM ests e JOIN ex x ON e.src = x.src
       |ORDER BY src""".stripMargin
  }

  /** Mutual information between document language and source
    * ([[Frequency.mutualInfo]]): the "is the corpus mix confounded"
    * diagnostic — MI, both marginal entropies (q6 floor-quantized with
    * the bm25 ln-portability pattern), and symmetric normalized MI in
    * basis points via exact integer division. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame =
    Frequency.mutualInfo(load(spark, dir, "documents"), "lang", "source")

  private val mutualInfoSql =
    """WITH cells AS MATERIALIZED (
      |  SELECT lang AS a, source AS b, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |nn AS (SELECT sum(c)::BIGINT AS n FROM cells),
      |ma AS (SELECT a, sum(c)::BIGINT AS ra FROM cells GROUP BY 1),
      |mb AS (SELECT b, sum(c)::BIGINT AS cb FROM cells GROUP BY 1),
      |mi AS (
      |  -- null-safe margin joins: a NULL category is its own level and
      |  -- must reach the MI numerator (mirrors the Spark <=> joins)
      |  SELECT sum(floor((c::DOUBLE / n::DOUBLE) *
      |           ln((c::DOUBLE * n::DOUBLE) / (ra::DOUBLE * cb::DOUBLE)) *
      |           1000000.0::DOUBLE)::BIGINT)::BIGINT AS mi_q6
      |  FROM cells JOIN ma ON cells.a IS NOT DISTINCT FROM ma.a
      |             JOIN mb ON cells.b IS NOT DISTINCT FROM mb.b
      |             CROSS JOIN nn),
      |ha AS (
      |  SELECT sum(floor((ra::DOUBLE / n::DOUBLE) *
      |           ln(n::DOUBLE / ra::DOUBLE) *
      |           1000000.0::DOUBLE)::BIGINT)::BIGINT AS h_a_q6
      |  FROM ma CROSS JOIN nn),
      |hb AS (
      |  SELECT sum(floor((cb::DOUBLE / n::DOUBLE) *
      |           ln(n::DOUBLE / cb::DOUBLE) *
      |           1000000.0::DOUBLE)::BIGINT)::BIGINT AS h_b_q6
      |  FROM mb CROSS JOIN nn)
      |SELECT n, mi_q6, h_a_q6, h_b_q6,
      |       (CASE WHEN h_a_q6 + h_b_q6 > 0
      |             THEN (10000 * 2 * greatest(mi_q6, 0)) // (h_a_q6 + h_b_q6)
      |             ELSE 0 END)::BIGINT AS nmi_bp
      |FROM nn CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb""".stripMargin

  /** ext_coreset_kcenter — k-center greedy coreset over the embedding
    * corpus ([[Sampling.kCenterCoreset]], Gonzalez farthest-point
    * traversal): the 6 most mutually-distant vectors with their
    * selection distances — the diverse-subset selector of
    * training-data curation. The oracle replays every greedy round:
    * one CTE per selection, least() over the same engine-computed
    * inner products, argmax with the min-id tiebreak. */
  def coresetKcenter(spark: SparkSession, dir: String): DataFrame =
    Sampling.kCenterCoreset(load(spark, dir, "embeddings"), k = 6)
      .orderBy($"rank")

  private val coresetKcenterSql = {
    val k = 6
    def lp(x: String, y: String) = s"list_dot_product($x, $y)"
    def d2(vi: String) =
      s"(${lp("e.v", "e.v")} - 2.0::DOUBLE * ${lp("e.v", vi)} + ${lp(vi, vi)})"
    val ctes = new StringBuilder
    ctes ++= "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),\n"
    ctes ++= "s1 AS (SELECT id, v, 0.0::DOUBLE AS d2 FROM e ORDER BY id LIMIT 1)"
    for (r <- 2 to k) {
      val priors = (1 until r).map(i => s"s$i")
      val d2expr =
        if (r == 2) d2("s1.v")
        else "least(" + (1 until r).map(i => d2(s"s$i.v")).mkString(", ") + ")"
      val notSel = (1 until r).map(i => s"e.id <> s$i.id").mkString(" AND ")
      ctes ++= s""",
         |s$r AS (
         |  SELECT e.id, e.v, $d2expr AS d2
         |  FROM e, ${priors.mkString(", ")}
         |  WHERE $notSel
         |  ORDER BY d2 DESC, e.id LIMIT 1)""".stripMargin
    }
    val union = (1 to k).map(r =>
      s"SELECT ${r}::BIGINT AS rank, id AS vec_id, " +
        (if (r == 1) "0::BIGINT" else "floor(d2 * 1000000.0::DOUBLE)::BIGINT") +
        s" AS d2_q6 FROM s$r").mkString("\nUNION ALL ")
    s"WITH ${ctes.result()}\n$union\nORDER BY rank"
  }

  /** Deterministic negative sampling for contrastive training
    * ([[Sampling.negativeSample]]): near-dup pairs are the positives
    * (both directions), and each anchor draws 3 md5-walk negatives
    * from the contiguous vec_id universe, excluding itself and all its
    * positives. The oracle replays the whole walk — candidates,
    * rejection, first-draw dedup, rank — relationally. */
  def negativeSampling(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    val nVecs = emb.count()
    // barrier: the cosine pair kernel is the expensive stage, and every
    // consumer (iterative rounds, final metric passes) would
    // re-evaluate it without the persist
    val pairs = Similarity.cosineNearDup(emb, 0.3).select($"id_a", $"id_b")
      .persistScoped
    val pos = Similarity.symmetrize(pairs, "a", "p")
    Sampling.negativeSample(pos, "a", "p", lit(nVecs), k = 3)
      .orderBy($"anchor_id", $"rank")
  }

  private val negativeSamplingSql =
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM $nzSql a JOIN $nzSql b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE floor(${cosSql("a.embedding", "b.embedding")} * 10000) >= 3000),
       |pos AS MATERIALIZED (
       |  SELECT DISTINCT id_a AS anchor_id, id_b AS pos_id FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
       |anchors AS (SELECT DISTINCT anchor_id FROM pos),
       |cands AS (
       |  SELECT anchor_id, j.r AS j,
       |         (('0x' || substr(md5(anchor_id::VARCHAR || '_' ||
       |             j.r::VARCHAR), 1, 8))::BIGINT % n) AS cand
       |  FROM anchors CROSS JOIN nn, range(1, 13) j(r)),
       |kept AS (
       |  SELECT c.anchor_id, c.cand, min(c.j) AS j
       |  FROM cands c
       |  WHERE c.cand <> c.anchor_id
       |    AND NOT EXISTS (SELECT 1 FROM pos
       |                    WHERE pos.anchor_id = c.anchor_id
       |                      AND pos.pos_id = c.cand)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT anchor_id, cand,
       |         row_number() OVER (PARTITION BY anchor_id
       |                            ORDER BY j, cand) AS rank
       |  FROM kept)
       |SELECT anchor_id, rank::BIGINT AS rank, cand AS neg_id
       |FROM ranked WHERE rank <= 3
       |ORDER BY anchor_id, rank""".stripMargin

  /** RAG chunking ([[TextStats.chunk]]): every document split into
    * 40-token windows advancing by 30 (10 tokens of shared context
    * between consecutive chunks) — the context-window preparation pass
    * before embedding/indexing. The oracle replays the window starts,
    * list slices, and trailing-chunk clamping. */
  def ragChunking(spark: SparkSession, dir: String): DataFrame =
    TextStats.chunk(load(spark, dir, "documents"))
      .orderBy($"doc_id", $"chunk_idx")

  private val ragChunkingSql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS l FROM documents),
       |starts AS (
       |  SELECT doc_id, l, len(l)::BIGINT AS n,
       |         unnest(range(0,
       |           greatest(ceil((len(l) - 1) / 30.0)::BIGINT, 0) + 1))
       |           AS chunk_idx
       |  FROM t),
       |c AS (
       |  SELECT doc_id, chunk_idx, (chunk_idx * 30)::BIGINT AS start_tok,
       |         array_to_string(
       |           list_slice(l, chunk_idx * 30 + 1, chunk_idx * 30 + 40),
       |           ' ') AS chunk_text
       |  FROM starts WHERE chunk_idx * 30 < n OR chunk_idx = 0)
       |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, start_tok, chunk_text,
       |       len(string_split_regex(chunk_text, '\\s+'))::BIGINT
       |         AS n_chunk_tokens
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** KMV bottom-k sketch calibration ([[Frequency.kmvJaccard]]): per
    * source PAIR, the union-sketch Jaccard estimate of vocabulary
    * overlap next to the exact Jaccard — deterministic md5 hashes, so
    * the whole sketch pipeline hash-gates in DuckDB. */
  def sketchKmv(spark: SparkSession, dir: String): DataFrame =
    Frequency.kmvJaccard(load(spark, dir, "documents"), k = 64)
      .orderBy($"src_a", $"src_b")

  private val sketchKmvSql =
    s"""WITH words AS MATERIALIZED (
       |  SELECT source AS src, w FROM (
       |    SELECT source, unnest($toksSql) AS w FROM documents)
       |  WHERE w <> ''),
       |tok AS MATERIALIZED (
       |  SELECT DISTINCT src,
       |         ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
       |  FROM words),
       |sk AS MATERIALIZED (
       |  SELECT src, h FROM (
       |    SELECT src, h, row_number() OVER (PARTITION BY src ORDER BY h)
       |             AS rk
       |    FROM tok) WHERE rk <= 64),
       |srcs AS (SELECT DISTINCT src FROM sk),
       |pairs AS (
       |  SELECT a.src AS sa, b.src AS sb
       |  FROM srcs a JOIN srcs b ON a.src < b.src),
       |uh AS (
       |  SELECT sa, sb, h, count(*) AS m FROM (
       |    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.src = p.sa
       |    UNION ALL
       |    SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.src = p.sb)
       |  GROUP BY 1, 2, 3),
       |est AS (
       |  SELECT sa, sb,
       |         sum(CASE WHEN m = 2 THEN 1 ELSE 0 END)::BIGINT AS n_both,
       |         count(*)::BIGINT AS k_union
       |  FROM (SELECT sa, sb, h, m,
       |          row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS urk
       |        FROM uh) WHERE urk <= 64
       |  GROUP BY 1, 2),
       |tw AS MATERIALIZED (SELECT DISTINCT src, w FROM words),
       |sz AS (SELECT src, count(*)::BIGINT AS nt FROM tw GROUP BY 1),
       |inter AS (
       |  SELECT x.src AS sa, y.src AS sb, count(*)::BIGINT AS ni
       |  FROM tw x JOIN tw y ON x.w = y.w AND x.src < y.src
       |  GROUP BY 1, 2)
       |SELECT e.sa AS src_a, e.sb AS src_b, e.n_both, e.k_union,
       |       ((10000 * e.n_both) // e.k_union)::BIGINT AS jaccard_est_bp,
       |       ((10000 * coalesce(i.ni, 0)) //
       |          (za.nt + zb.nt - coalesce(i.ni, 0)))::BIGINT AS jaccard_bp
       |FROM est e
       |LEFT JOIN inter i ON e.sa = i.sa AND e.sb = i.sb
       |JOIN sz za ON za.src = e.sa
       |JOIN sz zb ON zb.src = e.sb
       |ORDER BY src_a, src_b""".stripMargin

  /** Join-size estimation from two count-min sketches (the
    * optimizer-statistics shape): est = min_j Σ_c A(j,c)·B(j,c) over
    * the lineitem.l_partkey × part.p_partkey sketches, with the exact
    * join size alongside — `est ≥ true` by construction (collision
    * terms are nonnegative), and the 64-cell width keeps the
    * overestimate REAL at every SF. */
  def sketchJoinSize(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem").select($"l_partkey".as("k"))
    val pt = load(spark, dir, "part").select($"p_partkey".as("k"))
    val sa = Frequency.countMinSketch(li, "k", depth = 4, width = 64)
    val sb = Frequency.countMinSketch(pt, "k", depth = 4, width = 64)
    val truth = li.join(pt, Seq("k")).agg(count(lit(1)).as("true_sz"))
    Frequency.cmsJoinSize(sa, sb).crossJoin(truth)
      .select($"est", $"true_sz", ($"est" - $"true_sz").as("overcount"))
  }

  private val sketchJoinSizeSql =
    """WITH js AS (SELECT unnest(range(0, 4)) AS j),
      |ca AS (
      |  SELECT j, ('0x' || substr(md5(j::VARCHAR || '_' || l_partkey::VARCHAR), 1, 8))::BIGINT % 64 AS c,
      |         count(*) AS cnt
      |  FROM lineitem CROSS JOIN js GROUP BY j, c),
      |cb AS (
      |  SELECT j, ('0x' || substr(md5(j::VARCHAR || '_' || p_partkey::VARCHAR), 1, 8))::BIGINT % 64 AS c,
      |         count(*) AS cnt
      |  FROM part CROSS JOIN js GROUP BY j, c),
      |ip AS (SELECT ca.j, sum(ca.cnt * cb.cnt) AS ip
      |       FROM ca JOIN cb USING (j, c) GROUP BY ca.j),
      |est AS (SELECT min(ip)::BIGINT AS est FROM ip),
      |tr AS (SELECT count(*)::BIGINT AS true_sz
      |       FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT est.est, tr.true_sz, (est.est - tr.true_sz)::BIGINT AS overcount
      |FROM est CROSS JOIN tr""".stripMargin

  /** EXACT global rank + percentile (basis points) of every distinct
    * o_totalprice in a deterministic order subset — via the
    * distributed-selection prefix machinery, NOT `Window.orderBy(value)`
    * (which plans the whole frame into one task). GlobalRankSpec pins
    * the no-single-partition-exchange property. */
  def globalRankQ(spark: SparkSession, dir: String): DataFrame =
    Frequency.globalRank(
        load(spark, dir, "orders").where($"o_custkey" % 100 === 0),
        "o_totalprice")
      .orderBy($"value")

  private val globalRankSql =
    """WITH v AS (SELECT o_totalprice::DOUBLE AS v FROM orders
      |           WHERE o_custkey % 100 = 0),
      |c AS (SELECT v, count(*) AS cnt FROM v GROUP BY v),
      |r AS (SELECT v, cnt,
      |             (sum(cnt) OVER (ORDER BY v) - cnt + 1)::BIGINT AS rank
      |      FROM c),
      |n AS (SELECT count(*)::BIGINT AS n FROM v)
      |SELECT r.v AS value, r.cnt::BIGINT AS cnt, r.rank,
      |       floor(10000.0::DOUBLE * (r.rank - 1)
      |             / greatest(n.n - 1, 1))::BIGINT AS pct_bp
      |FROM r CROSS JOIN n ORDER BY r.v""".stripMargin

  /** Per-source KL(source ‖ corpus) over token unigram distributions —
    * the mix-drift monitor. Contributions floor-quantized to q8 before
    * the sum (order-independent integer aggregate, the bm25 pattern). */
  def mixKl(spark: SparkSession, dir: String): DataFrame =
    TextStats.mixKlDrift(load(spark, dir, "documents"))
      .orderBy($"source")

  private val mixKlSql =
    s"""WITH t AS (SELECT source AS src, unnest($toksSql) AS term FROM documents),
       |tk AS (SELECT src, term FROM t WHERE term != ''),
       |sc AS (SELECT src, term, count(*) AS sc FROM tk GROUP BY src, term),
       |st AS (SELECT src, count(*) AS st FROM tk GROUP BY src),
       |gc AS (SELECT term, count(*) AS gc FROM tk GROUP BY term),
       |gt AS (SELECT count(*) AS gt FROM tk)
       |SELECT sc.src AS source, count(*)::BIGINT AS n_terms,
       |  sum(floor((sc.sc::DOUBLE / st.st::DOUBLE)
       |      * ln((sc.sc::DOUBLE / st.st::DOUBLE)
       |           / (gc.gc::DOUBLE / gt.gt::DOUBLE))
       |      * 100000000.0::DOUBLE))::BIGINT AS kl_q8
       |FROM sc JOIN gc USING (term) JOIN st USING (src) CROSS JOIN gt
       |GROUP BY sc.src ORDER BY source""".stripMargin

  /** LSH banding S-curve design table — the analytic companion of
    * ext_minhash_calibration's empirical sweep: for every (b, r)
    * banding of k = 6 MinHash components and a grid of true Jaccard
    * values s, the candidate probability 1 − (1 − s^r)^b (the curve
    * whose threshold-steepness trade drives the banding choice; the
    * shipped default b=3, r=2 sits where the curve crosses ~0.5 near
    * s = 0.5). Powers unroll to repeated multiplication with IDENTICAL
    * nesting on both engines (no pow()), floor-quantized q6. */
  def lshSCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    val grid = (for {
      (b, r) <- Seq((6, 1), (3, 2), (2, 3), (1, 6))
      sBp <- 500L to 9500L by 500L
    } yield (b.toLong, r.toLong, sBp)).toDS().toDF("b", "r", "s_bp")
    def pow(e: String, n: Long): String =
      Seq.fill(n.toInt)(e).mkString("(", " * ", ")")
    // per-(b,r) literal unroll; union of four constant-folded branches
    val parts = Seq((6L, 1L), (3L, 2L), (2L, 3L), (1L, 6L)).map { case (b, r) =>
      grid.where($"b" === b && $"r" === r)
        .withColumn("p_cand_q6", expr(
          s"""CAST(floor((1.0D - ${pow(
            s"(1.0D - ${pow("(CAST(s_bp AS DOUBLE) / 10000.0D)", r)})", b)})
             | * 1000000.0D) AS BIGINT)""".stripMargin))
    }
    parts.reduce(_ unionByName _).orderBy($"b".desc, $"s_bp")
  }

  private val lshSCurveSql = {
    def pow(e: String, n: Int): String =
      Seq.fill(n)(e).mkString("(", " * ", ")")
    val branches = Seq((6, 1), (3, 2), (2, 3), (1, 6)).map { case (b, r) =>
      s"""SELECT $b::BIGINT AS b, $r::BIGINT AS r, g.s AS s_bp,
         |  floor((1.0::DOUBLE - ${pow(
        s"(1.0::DOUBLE - ${pow("(g.s::DOUBLE / 10000.0::DOUBLE)", r)})", b)})
         |    * 1000000.0::DOUBLE)::BIGINT AS p_cand_q6
         |FROM (SELECT unnest(range(500, 9501, 500)) AS s) g""".stripMargin
    }
    branches.mkString("", "\nUNION ALL\n", "\nORDER BY b DESC, s_bp")
  }

  /** Pairwise Jensen–Shannon divergence between source token
    * distributions ([[TextStats.jsDivergence]]) — the symmetric,
    * bounded companion of ext_mix_kl: the source-interchangeability
    * matrix a mixture designer reads before setting weights. q8
    * floor-before-sum with explicit zero-count branches. */
  def mixJsd(spark: SparkSession, dir: String): DataFrame =
    TextStats.jsDivergence(load(spark, dir, "documents"))
      .orderBy($"src_a", $"src_b")

  private val mixJsdSql =
    s"""WITH t AS (SELECT source AS src, unnest($toksSql) AS term FROM documents),
       |tk AS MATERIALIZED (SELECT src, term FROM t WHERE term != ''),
       |cnt AS MATERIALIZED (
       |  SELECT src, term, count(*)::BIGINT AS c FROM tk GROUP BY 1, 2),
       |tot AS (SELECT src, count(*)::BIGINT AS t FROM tk GROUP BY 1),
       |pairs AS (
       |  SELECT a.src AS sa, b.src AS sb
       |  FROM tot a JOIN tot b ON a.src < b.src),
       |la AS (
       |  SELECT p.sa, p.sb, c.term, c.c AS ca
       |  FROM pairs p JOIN cnt c ON c.src = p.sa),
       |lb AS (
       |  SELECT p.sa, p.sb, c.term, c.c AS cb
       |  FROM pairs p JOIN cnt c ON c.src = p.sb),
       |m AS (
       |  SELECT coalesce(la.sa, lb.sa) AS sa, coalesce(la.sb, lb.sb) AS sb,
       |         coalesce(la.term, lb.term) AS term,
       |         coalesce(la.ca, 0) AS ca, coalesce(lb.cb, 0) AS cb
       |  FROM la FULL OUTER JOIN lb
       |    ON la.sa = lb.sa AND la.sb = lb.sb AND la.term = lb.term),
       |e AS (
       |  SELECT m.sa, m.sb, m.ca, m.cb,
       |         (m.ca::DOUBLE / ta.t::DOUBLE) AS p,
       |         (m.cb::DOUBLE / tb.t::DOUBLE) AS q
       |  FROM m JOIN tot ta ON ta.src = m.sa JOIN tot tb ON tb.src = m.sb)
       |SELECT sa AS src_a, sb AS src_b, count(*)::BIGINT AS n_terms,
       |  sum(
       |    (CASE WHEN ca > 0
       |          THEN floor(0.5::DOUBLE * p * ln(p / ((p + q) / 2.0::DOUBLE))
       |                     * 100000000.0::DOUBLE)::BIGINT
       |          ELSE 0 END) +
       |    (CASE WHEN cb > 0
       |          THEN floor(0.5::DOUBLE * q * ln(q / ((p + q) / 2.0::DOUBLE))
       |                     * 100000000.0::DOUBLE)::BIGINT
       |          ELSE 0 END))::BIGINT AS jsd_q8
       |FROM e GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  /** Flesch reading-ease per document in exact integer hundredths
    * ([[TextStats.readability]]): floor-on-positive divisions and a
    * vowel-run syllable heuristic keep the classic formula
    * hash-gateable where its float form is not. */
  def readabilityQ(spark: SparkSession, dir: String): DataFrame =
    TextStats.readability(load(spark, dir, "documents"))
      .orderBy($"doc_id")

  private val readabilitySql =
    s"""WITH g AS (
       |  SELECT doc_id, lower(coalesce(text, '')) AS lt, $toksSql AS ws
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |         len(ws)::BIGINT AS n_words,
       |         greatest(len(list_filter(string_split_regex(lt, '[.!?]+'),
       |                       x -> len(trim(x)) > 0)), 1)::BIGINT AS n_sentences,
       |         (len(regexp_extract_all(lt, '[aeiouy]+'))
       |          + len(list_filter(ws, w -> NOT regexp_matches(w, '[aeiouy]'))))::BIGINT
       |           AS n_syllables
       |  FROM g)
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |       (CASE WHEN n_words = 0 THEN NULL
       |             ELSE 20684 - (203 * n_words) // (2 * n_sentences)
       |                        - (8460 * n_syllables) // n_words
       |        END)::BIGINT AS flesch_c100
       |FROM c ORDER BY doc_id""".stripMargin

  /** Character-distribution diversity per document: exact-integer
    * Gini–Simpson collision probability + top-char share (the
    * log-free gibberish/repetition signal). */
  def charDiversityQ(spark: SparkSession, dir: String): DataFrame =
    TextStats.charDiversity(load(spark, dir, "documents"))
      .orderBy($"doc_id")

  private val charDiversitySql =
    """WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
      |ch AS (SELECT doc_id,
      |       unnest(list_transform(range(1, length(t) + 1),
      |                i -> substr(t, i, 1))) AS ch
      |       FROM d),
      |c AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY doc_id, ch),
      |p AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS nd,
      |      max(c)::BIGINT AS mx, sum(c * (c - 1))::BIGINT AS coll
      |      FROM c GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(p.n, 0)::BIGINT AS n_chars,
      |       coalesce(p.nd, 0)::BIGINT AS n_distinct_chars,
      |       coalesce((10000 * p.mx) // p.n, 0)::BIGINT AS top_share_bp,
      |       coalesce(CASE WHEN p.n >= 2
      |                THEN (10000 * p.coll) // (p.n * (p.n - 1)) END, 0)::BIGINT
      |         AS simpson_bp
      |FROM d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** Word-3-gram novelty per document: fraction (basis points) of a
    * doc's distinct 3-grams occurring in no other document. */
  def textNovelty(spark: SparkSession, dir: String): DataFrame =
    TextStats.ngramNovelty(load(spark, dir, "documents"), n = 3)
      .orderBy($"doc_id")

  private val textNoveltySql =
    s"""WITH w AS (SELECT doc_id, $toksSql AS ws FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(
       |        CASE WHEN len(ws) >= 3
       |             THEN list_transform(range(1, len(ws) - 1),
       |                    i -> array_to_string(ws[i:i+2], ' '))
       |             ELSE CAST([] AS VARCHAR[]) END)) AS gram
       |      FROM w),
       |dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
       |pd AS (SELECT g.doc_id, count(*)::BIGINT AS n_grams,
       |              sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END)::BIGINT
       |                AS n_exclusive
       |       FROM g JOIN dfq USING (gram) GROUP BY g.doc_id)
       |SELECT w.doc_id, coalesce(pd.n_grams, 0)::BIGINT AS n_grams,
       |       coalesce(pd.n_exclusive, 0)::BIGINT AS n_exclusive,
       |       (CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0
       |             ELSE floor(10000.0::DOUBLE * pd.n_exclusive / pd.n_grams)
       |        END)::BIGINT AS novelty_bp
       |FROM w LEFT JOIN pd USING (doc_id) ORDER BY w.doc_id""".stripMargin

  /** Data-quality expectations over lineitem: four predicate rules in
    * ONE aggregate pass plus the uniqueness rule (its own key shuffle,
    * inherent) — the pre-publish gate an ingest pipeline runs. The
    * synthetic lineitem genuinely violates pk uniqueness and the
    * tax/discount caps, so both outcomes exercise. */
  def expectationsQ(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val rules = Seq(
      "quantity_in_1_50" -> !$"l_quantity".between(1.0, 50.0),
      "discount_le_8pct" -> ($"l_discount" > 0.08),
      "tax_le_6pct" -> ($"l_tax" > 0.06),
      "shipdate_not_null" -> $"l_shipdate".isNull)
    graft.ops.Expectations.check(li, rules)
      .unionByName(graft.ops.Expectations.checkUnique(li,
        Seq("l_orderkey", "l_linenumber"), "pk_unique"))
      .orderBy($"rule")
  }

  private val expectationsSql =
    """WITH base AS (
      |  SELECT 'quantity_in_1_50' AS rule, count(*)::BIGINT AS n_rows,
      |    sum(CASE WHEN coalesce(NOT (l_quantity BETWEEN 1.0 AND 50.0), TRUE)
      |        THEN 1 ELSE 0 END)::BIGINT AS n_violations FROM lineitem
      |  UNION ALL
      |  SELECT 'discount_le_8pct', count(*)::BIGINT,
      |    sum(CASE WHEN coalesce(l_discount > 0.08, TRUE)
      |        THEN 1 ELSE 0 END)::BIGINT FROM lineitem
      |  UNION ALL
      |  SELECT 'tax_le_6pct', count(*)::BIGINT,
      |    sum(CASE WHEN coalesce(l_tax > 0.06, TRUE)
      |        THEN 1 ELSE 0 END)::BIGINT FROM lineitem
      |  UNION ALL
      |  SELECT 'shipdate_not_null', count(*)::BIGINT,
      |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'pk_unique', count(*)::BIGINT,
      |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT
      |  FROM lineitem)
      |SELECT rule, n_rows, n_violations, n_violations = 0 AS pass
      |FROM base ORDER BY rule""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("ext_expectations", expectationsQ, Some(expectationsSql)),
    QueryDef("ext_sketch_cms", sketchCms, Some(sketchCmsSql)),
    QueryDef("ext_sketch_join_size", sketchJoinSize, Some(sketchJoinSizeSql)),
    QueryDef("ext_sketch_kmv", sketchKmv, Some(sketchKmvSql)),
    QueryDef("ext_sketch_hll", sketchHll, Some(sketchHllSql)),
    QueryDef("ext_mutual_info", mutualInfo, Some(mutualInfoSql)),
    QueryDef("ext_kappa_langid", kappaLangId, Some(kappaLangIdSql)),
    QueryDef("ext_rag_chunking", ragChunking, Some(ragChunkingSql)),
    QueryDef("ext_coreset_kcenter", coresetKcenter, Some(coresetKcenterSql)),
    QueryDef("ext_negative_sampling", negativeSampling, Some(negativeSamplingSql)),
    QueryDef("ext_calibration_error", calibrationErrorQ,
      Some(calibrationErrorSql)),
    QueryDef("ext_isotonic_calibration", isotonicCalibration,
      Some(isotonicCalibrationSql)),
    QueryDef("ext_sketch_quantile", sketchQuantile, Some(sketchQuantileSql)),
    QueryDef("ext_global_rank", globalRankQ, Some(globalRankSql)),
    QueryDef("ext_histogram_eqdepth", histogramEqDepth, Some(histogramEqDepthSql)),
    QueryDef("ext_mix_kl", mixKl, Some(mixKlSql)),
    QueryDef("ext_mix_jsd", mixJsd, Some(mixJsdSql)),
    QueryDef("ext_lsh_scurve", lshSCurve, Some(lshSCurveSql)),
    QueryDef("ext_text_novelty", textNovelty, Some(textNoveltySql)),
    QueryDef("ext_char_diversity", charDiversityQ, Some(charDiversitySql)),
    QueryDef("ext_text_readability", readabilityQ, Some(readabilitySql)),
    QueryDef("ext_dedup_segments", dedupSegments, Some(dedupSegmentsSql)),
    QueryDef("ext_boilerplate", boilerplate, Some(boilerplateSql)),
    QueryDef("ext_dedup_increment", dedupIncrement, Some(dedupIncrementSql)),
    QueryDef("ext_dedup_report", dedupReportQ, Some(dedupReportSql)),
    QueryDef("ext_source_overlap", sourceOverlapQ, Some(sourceOverlapSql)),
    QueryDef("ext_containment", containmentQ, Some(containmentSql)),
    QueryDef("ext_sim_rp", simRandomProject, Some(simRandomProjectSql)),
    QueryDef("ext_multimodal_meta", multimodalMeta, Some(multimodalMetaSql)),
    QueryDef("ext_sim_lsh_ann", simLsh, Some(simLshSql)),
    QueryDef("ext_sim_ivf_ann", simIvf, Some(simIvfSql)),
    QueryDef("ext_sim_ivf_kmeans", simIvfKmeans, Some(simIvfKmeansSql)),
    QueryDef("ext_sim_quantize", simQuantize, Some(simQuantizeSql)),
    QueryDef("ext_sim_pq", simPq, Some(simPqSql)),
    QueryDef("ext_tfidf_topk", tfidfTop, Some(tfidfTopSql)),
    QueryDef("ext_dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("ext_dedup_sorted_nbhd", dedupSortedNbhd, Some(dedupSortedNbhdSql)),
    QueryDef("ext_dedup_minhash_lsh", dedupMinhash, Some(dedupMinhashSql)),
    QueryDef("ext_dedup_minhash_capped", dedupMinhashCapped,
      Some(dedupMinhashCappedSql)),
    QueryDef("ext_dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    QueryDef("ext_dedup_simhash_near", dedupSimhashNear, Some(dedupSimhashNearSql)),
    QueryDef("ext_dedup_spans", dedupSpans, Some(dedupSpansSql)),
    QueryDef("ext_dedup_despan", dedupDespan, Some(dedupDespanSql)),
    QueryDef("ext_dedup_ngram_jaccard", dedupNgram, Some(dedupNgramSql)),
    QueryDef("ext_dedup_ngram_capped", dedupNgramCapped, Some(dedupNgramCappedSql)),
    QueryDef("ext_dedup_embedding", dedupEmbedding, Some(dedupEmbeddingSql)),
    QueryDef("ext_dedup_embedding_lsh", dedupEmbeddingLsh, Some(dedupEmbeddingLshSql)),
    QueryDef("ext_dedup_eval", dedupEval, Some(dedupEvalSql)),
    QueryDef("ext_dedup_components", dedupComponents, Some(dedupComponentsSql)),
    QueryDef("ext_cc_star", ccStarQ, Some(ccStarSql)),
    QueryDef("ext_dedup_pipeline", dedupPipeline, Some(dedupPipelineSql)),
    QueryDef("ext_dedup_semantic", dedupSemantic, Some(dedupSemanticSql)),
    QueryDef("ext_sim_topk", simTopK, Some(simTopKSql)),
    QueryDef("ext_sim_triplets", simTriplets, Some(simTripletsSql)),
    QueryDef("ext_embed_prune", embedPrune, Some(embedPruneSql)),
    QueryDef("ext_sim_recall", simRecall, Some(simRecallSql)),
    QueryDef("ext_sim_ndcg", simNdcg, Some(simNdcgSql)),
    QueryDef("ext_link_predict", linkPredict, Some(linkPredictSql)),
    QueryDef("ext_sim_matryoshka", simMatryoshka, Some(simMatryoshkaSql)),
    QueryDef("ext_sim_mrr", simMrr, Some(simMrrSql)),
    QueryDef("ext_quota_allocate", quotaAllocate, Some(quotaAllocateSql)),
    QueryDef("ext_mix_temperature", mixTemperature, Some(mixTemperatureSql)),
    QueryDef("ext_qq_drift", qqDrift, Some(qqDriftSql)),
    QueryDef("ext_assoc_rules", assocRulesQ, Some(assocRulesSql)),
    QueryDef("ext_quality_pctile", qualityPctile, Some(qualityPctileSql)),
    QueryDef("ext_source_ablation", sourceAblation, Some(sourceAblationSql)),
    QueryDef("ext_lang_mixed", langMixed, Some(langMixedSql)),
    QueryDef("ext_mix_raking", mixRaking, Some(mixRakingSql)),
    QueryDef("ext_pareto_docs", paretoDocs, Some(paretoDocsSql)),
    QueryDef("ext_sim_rrf", simRrf, Some(simRrfSql)),
    QueryDef("ext_skew_report", skewReport, Some(skewReportSql)),
    QueryDef("ext_bootstrap_ci", bootstrapCiQ, Some(bootstrapCiSql)),
    QueryDef("ext_quality_calibration", qualityCalibration,
      Some(qualityCalibrationSql)),
    QueryDef("ext_dedup_cluster_stats", dedupClusterStats,
      Some(dedupClusterStatsSql)),
    QueryDef("ext_text_stats", textStats, Some(textStatsSql)),
    QueryDef("ext_lang_confusion", langConfusion, Some(langConfusionSql)),
    QueryDef("ext_token_pieces", tokenPieces, Some(tokenPiecesSql)),
    QueryDef("ext_text_lm", textLm, Some(textLmSql)),
    QueryDef("ext_text_lm_backoff", textLmBackoff, Some(textLmBackoffSql)),
    QueryDef("ext_term_drift", termDriftQ, Some(termDriftSql)),
    QueryDef("ext_vocab_pairs", vocabPairs, Some(vocabPairsSql)),
    QueryDef("ext_bpe_merges", bpeMergesQ, Some(bpeMergesSql)),
    QueryDef("ext_bpe_encode", bpeEncodeQ, Some(bpeEncodeSql)),
    QueryDef("ext_bpe_fertility", bpeFertilityQ, Some(bpeFertilitySql)),
    QueryDef("ext_text_repetition", textRepetition, Some(textRepetitionSql)),
    QueryDef("ext_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    QueryDef("ext_heavy_distinct", heavyDistinct, Some(heavyDistinctSql)),
    QueryDef("ext_quantile_exact", quantileExact, Some(quantileExactSql)),
    QueryDef("ext_text_filter", textFilter, Some(textFilterSql)),
    QueryDef("ext_filter_funnel", filterFunnel, Some(filterFunnelSql)),
    QueryDef("ext_quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    QueryDef("ext_prune_band", pruneBand, Some(pruneBandSql)),
    QueryDef("ext_chunk_docs", chunkDocs, Some(chunkDocsSql)),
    QueryDef("ext_collocations", collocations, Some(collocationsSql)),
    QueryDef("ext_rake_keyphrases", rakeKeyphrases, Some(rakeKeyphrasesSql)),
    QueryDef("ext_skipgrams", skipgramsQ, Some(skipgramsSql)),
    QueryDef("ext_zorder_curve", zorderCurve, Some(zorderCurveSql)),
    QueryDef("ext_hilbert_curve", hilbertCurve, Some(hilbertCurveSql)),
    QueryDef("ext_hilbert_3d", hilbert3d, Some(hilbert3dSql)),
    QueryDef("ext_curve_span_3d", curveSpan3d, Some(curveSpan3dSql)),
    QueryDef("ext_curve_span", curveSpan, Some(curveSpanSql)),
    QueryDef("ext_profile_table", profileTable, Some(profileTableSql)),
    QueryDef("ext_fd_check", fdCheckQ, Some(fdCheckSql)),
    QueryDef("ext_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    QueryDef("ext_pagerank", pagerank, Some(pagerankSql)),
    QueryDef("ext_hits", hits, Some(hitsSql)),
    QueryDef("ext_copurchase", copurchase, Some(copurchaseSql)),
    QueryDef("ext_label_prop", labelProp, Some(labelPropSql)),
    QueryDef("ext_conductance", communityConductance,
      Some(communityConductanceSql)),
    QueryDef("ext_assortativity", assortativity, Some(assortativitySql)),
    QueryDef("ext_kcore", kcore, Some(kcoreSql)),
    QueryDef("ext_bfs_hops", bfsHops, Some(bfsHopsSql)),
    QueryDef("ext_harmonic", harmonicQ, Some(harmonicSql)),
    QueryDef("ext_eccentricity", eccentricityQ, Some(eccentricitySql)),
    QueryDef("ext_ktruss", ktrussQ, Some(ktrussSql)),
    QueryDef("ext_truss_decompose", trussDecomposeQ, Some(trussDecomposeSql)),
    QueryDef("ext_knn_graph", knnGraphQ, Some(knnGraphSql)),
    QueryDef("ext_cluster_quality", clusterQualityQ, Some(clusterQualitySql)),
    QueryDef("ext_embed_pca", embedPca, Some(embedPcaSql)),
    QueryDef("ext_embed_anisotropy", embedAnisotropy, Some(embedAnisotropySql)),
    QueryDef("ext_k_anonymity", kAnonymityQ, Some(kAnonymitySql)),
    QueryDef("ext_l_diversity", lDiversityQ, Some(lDiversitySql)),
    QueryDef("ext_ppr", pprQ, Some(pprSql)),
    QueryDef("ext_sssp", ssspQ, Some(ssspSql)),
    QueryDef("ext_msf", msfQ, Some(msfSql)),
    QueryDef("ext_sim_multiprobe", simMultiprobe, Some(simMultiprobeSql)),
    QueryDef("ext_sample_wor", sampleWor, Some(sampleWorSql)),
    QueryDef("ext_triangles", triangles, Some(trianglesSql)),
    QueryDef("ext_clustering_coeff", clusteringCoeff, Some(clusteringCoeffSql)),
    QueryDef("ext_fingerprint_winnow", fingerprintWinnow, Some(fingerprintWinnowSql)),
    QueryDef("ext_text_redact", textRedact, Some(textRedactSql)),
    QueryDef("ext_text_extract", textExtract, Some(textExtractSql)),
    QueryDef("ext_sample_split", sampleSplit, Some(sampleSplitSql)),
    QueryDef("ext_split_leakage_safe", splitLeakageSafe, Some(splitLeakageSafeSql)),
    QueryDef("ext_sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    QueryDef("ext_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    QueryDef("ext_sample_mixture", sampleMixture, Some(sampleMixtureSql)),
    QueryDef("ext_sample_dsir", sampleDsir, Some(sampleDsirSql)),
    QueryDef("ext_budget_select", budgetSelectQ, Some(budgetSelectSql)),
    QueryDef("ext_budget_lang", budgetSelectLangQ, Some(budgetSelectLangSql)),
    QueryDef("ext_sample_shards", sampleShards, Some(sampleShardsSql)),
    QueryDef("ext_epoch_schedule", epochScheduleQ, Some(epochScheduleSql)),
    QueryDef("ext_sample_cap", sampleCap, Some(sampleCapSql)),
    QueryDef("ext_mix_report", mixReport, Some(mixReportSql)),
    QueryDef("ext_pack_sequences", packSeqs, Some(packSeqsSql)),
    QueryDef("ext_pack_report", packReportQ, Some(packReportSql)),
    QueryDef("ext_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("ext_source_cosine", sourceCosineQ, Some(sourceCosineSql)),
    QueryDef("ext_keyness", keynessQ, Some(keynessSql)),
    QueryDef("ext_length_profile", lengthProfileQ, Some(lengthProfileSql)),
    QueryDef("ext_modularity", modularityQ, Some(modularitySql)),
    QueryDef("ext_minhash_calibration", minhashCalibrationQ,
      Some(minhashCalibrationSql)),
    QueryDef("ext_cluster_purity", clusterPurityQ, Some(clusterPuritySql)),
    QueryDef("ext_benford_audit", benfordQ, Some(benfordSql)),
    QueryDef("ext_knn_eval", knnEvalQ, Some(knnEvalSql)))

  /** Leave-one-out 3-NN label accuracy within LSH buckets. */
  def knnEvalQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnLabelEval(load(spark, dir, "embeddings"), k = 3)
      .orderBy($"label")

  private val knnEvalSql = {
    val bucket = lshBucketSql("embedding", Similarity.hyperplanes(64, 4))
    s"""WITH be AS (
       |  SELECT vec_id, label, embedding, $bucket AS bucket FROM $nzSql t),
       |pr AS (
       |  SELECT a.vec_id AS a_id, a.label AS a_label, b.vec_id AS b_id,
       |         b.label AS b_label,
       |         CAST(floor(${cosSql("a.embedding", "b.embedding")} * 10000)
       |           AS BIGINT) AS cos_q4
       |  FROM be a JOIN be b
       |    ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
       |rk AS (SELECT a_id, a_label, b_label,
       |         row_number() OVER (PARTITION BY a_id
       |           ORDER BY cos_q4 DESC, b_id) AS rn
       |       FROM pr),
       |v AS (SELECT a_id, a_label, b_label, count(*)::BIGINT AS c
       |      FROM rk WHERE rn <= 3 GROUP BY 1, 2, 3),
       |pm AS (SELECT a_id, a_label,
       |              max(struct_pack(c := c, l := b_label)) AS top
       |       FROM v GROUP BY 1, 2),
       |pd AS (SELECT a_id, a_label, top.l AS pred FROM pm)
       |SELECT be.label AS label, count(*)::BIGINT AS n,
       |       sum(CASE WHEN pd.pred = be.label THEN 1 ELSE 0 END)::BIGINT
       |         AS n_correct,
       |       ((10000 * sum(CASE WHEN pd.pred = be.label THEN 1 ELSE 0 END))
       |        // count(*))::BIGINT AS acc_bp
       |FROM be LEFT JOIN pd ON be.vec_id = pd.a_id
       |GROUP BY be.label ORDER BY label""".stripMargin
  }

  /** Benford first-digit audit of order totals — the fabricated-data
    * smoke test; first digit via integer string-length arithmetic. */
  def benfordQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.benford(load(spark, dir, "orders"), "o_totalprice")
      .orderBy($"digit")

  private val benfordSql = {
    val expect = graft.ops.Profile.BenfordBp.zipWithIndex
      .map { case (bp, i) => s"(${i + 1}, $bp)" }.mkString(", ")
    s"""WITH c AS (
       |  SELECT floor(o_totalprice * 100)::BIGINT AS c
       |  FROM orders
       |  WHERE o_totalprice IS NOT NULL
       |    AND floor(o_totalprice * 100)::BIGINT >= 1),
       |d AS (
       |  SELECT c // pow(10, length(c::VARCHAR) - 1)::BIGINT AS digit
       |  FROM c),
       |n AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
       |e(digit, benford_bp) AS (VALUES $expect),
       |t AS (SELECT sum(n)::BIGINT AS t FROM n)
       |SELECT e.digit::BIGINT AS digit, coalesce(n.n, 0)::BIGINT AS n,
       |       ((10000 * coalesce(n.n, 0)) // t.t)::BIGINT AS share_bp,
       |       e.benford_bp::BIGINT AS benford_bp,
       |       ((10000 * coalesce(n.n, 0)) // t.t - e.benford_bp)::BIGINT
       |         AS dev_bp
       |FROM e LEFT JOIN n ON e.digit = n.digit CROSS JOIN t
       |ORDER BY digit""".stripMargin
  }

  /** Label purity of the sign-LSH buckets vs the embeddings' semantic
    * labels — does the hash partition respect ground truth. */
  def clusterPurityQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = load(spark, dir, "embeddings")
    Similarity.labelPurity(
        emb.select(
          Similarity.lshBucket($"embedding",
            Similarity.hyperplanes(64, 4)).as("cluster"),
          $"label"))
      .orderBy($"cluster")
  }

  private val clusterPuritySql = {
    val bucket = lshBucketSql("embedding", Similarity.hyperplanes(64, 4))
    s"""WITH a AS (SELECT $bucket AS cluster, label FROM embeddings),
       |cl AS (SELECT cluster, label, count(*)::BIGINT AS c
       |       FROM a GROUP BY 1, 2),
       |p AS (SELECT cluster, sum(c)::BIGINT AS n,
       |             max(struct_pack(c := c, l := label)) AS top
       |      FROM cl GROUP BY cluster)
       |SELECT cluster::BIGINT AS cluster, n, top.l AS majority_label,
       |       top.c AS n_majority, ((10000 * top.c) // n)::BIGINT AS purity_bp
       |FROM p ORDER BY cluster""".stripMargin
  }

  /** Pairwise source-vocabulary squared cosine (q6 shares, exact bp). */
  def sourceCosineQ(spark: SparkSession, dir: String): DataFrame =
    TextStats.sourceCosine(load(spark, dir, "documents"))
      .orderBy($"src_a", $"src_b")

  private val sourceCosineSql =
    s"""WITH t AS (SELECT source AS src, unnest($toksSql) AS w FROM documents),
       |c AS (SELECT src, w, count(*)::BIGINT AS c FROM t
       |      WHERE w <> '' GROUP BY 1, 2),
       |tot AS (SELECT src, sum(c)::BIGINT AS n FROM c GROUP BY src),
       |sh AS (SELECT c.src, c.w, ((1000000 * c.c) // t.n)::BIGINT AS s
       |       FROM c JOIN tot t ON c.src = t.src
       |       WHERE (1000000 * c.c) // t.n > 0),
       |nr AS (SELECT src, sum(s * s)::HUGEINT AS n2 FROM sh GROUP BY src),
       |p AS (SELECT a.src AS sa, b.src AS sb, count(*)::BIGINT AS nc,
       |             sum(a.s * b.s)::HUGEINT AS sab
       |      FROM sh a JOIN sh b ON a.w = b.w AND a.src < b.src
       |      GROUP BY 1, 2)
       |SELECT p.sa AS src_a, p.sb AS src_b, p.nc AS n_common,
       |       ((10000::HUGEINT * p.sab * p.sab) // (na.n2 * nb.n2))::BIGINT
       |         AS cos2_bp
       |FROM p JOIN nr na ON na.src = p.sa JOIN nr nb ON nb.src = p.sb
       |ORDER BY src_a, src_b""".stripMargin

  /** Top-5 distinctive terms per source by q6-share lift (min count 5). */
  def keynessQ(spark: SparkSession, dir: String): DataFrame =
    TextStats.keyness(load(spark, dir, "documents"), k = 5, minCount = 5)
      .orderBy($"source", $"rank")

  private val keynessSql =
    s"""WITH t AS (SELECT source AS src, unnest($toksSql) AS w FROM documents),
       |c AS (SELECT src, w, count(*)::BIGINT AS c FROM t
       |      WHERE w <> '' GROUP BY 1, 2),
       |st AS (SELECT src, sum(c)::BIGINT AS st FROM c GROUP BY src),
       |gc AS (SELECT w, sum(c)::BIGINT AS gc FROM c GROUP BY w),
       |gt AS (SELECT sum(c)::BIGINT AS gt FROM c),
       |l AS (SELECT c.src, c.w, c.c,
       |        ((10000 * ((1000000 * c.c) // st.st)) //
       |         greatest((1000000 * gc.gc) // gt.gt, 1))::BIGINT AS lift_bp
       |      FROM c JOIN st ON c.src = st.src
       |                JOIN gc ON c.w = gc.w CROSS JOIN gt
       |      WHERE c.c >= 5)
       |SELECT src AS source, rank::BIGINT AS rank, w AS term,
       |       c AS n, lift_bp
       |FROM (SELECT *, row_number() OVER (PARTITION BY src
       |        ORDER BY lift_bp DESC, w) AS rank FROM l)
       |WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  /** Per source × log2 token-length bucket corpus profile. */
  def lengthProfileQ(spark: SparkSession, dir: String): DataFrame =
    TextStats.lengthProfile(load(spark, dir, "documents"))
      .orderBy($"source", $"bucket")

  private val lengthProfileSql =
    s"""WITH n AS (
       |  SELECT source,
       |         len(list_filter($toksSql, w -> w <> ''))::BIGINT AS n
       |  FROM documents)
       |SELECT source,
       |       (CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END)::BIGINT
       |         AS bucket,
       |       count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
       |       min(n)::BIGINT AS min_len, max(n)::BIGINT AS max_len
       |FROM n GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin

  /** Modularity of the source partition over the SimHash near-dup graph
    * — "do near-dup edges concentrate within sources". */
  def modularityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    graft.ops.Modularity.modularity(
        Dedup.simhashNear(docs, 3),
        docs.select($"doc_id".as("id"), $"source".as("label")))
      .orderBy($"label")
  }

  private val modularitySql =
    s"""WITH $simhashPairsChainSql,
       |lab AS (SELECT doc_id AS id, source AS label FROM documents),
       |m AS (SELECT count(*)::BIGINT AS m FROM shpairs),
       |deg AS (SELECT id, count(*)::BIGINT AS d FROM (
       |          SELECT id_a AS id FROM shpairs
       |          UNION ALL SELECT id_b FROM shpairs) GROUP BY id),
       |dl AS (SELECT l.label, count(*)::BIGINT AS n_nodes,
       |              sum(deg.d)::BIGINT AS d_tot
       |       FROM deg JOIN lab l ON deg.id = l.id GROUP BY 1),
       |ei AS (SELECT la.label, count(*)::BIGINT AS e_in
       |       FROM shpairs p JOIN lab la ON p.id_a = la.id
       |                      JOIN lab lb ON p.id_b = lb.id
       |       WHERE la.label = lb.label GROUP BY 1)
       |SELECT l.label AS label, coalesce(dl.n_nodes, 0)::BIGINT AS n_nodes,
       |       coalesce(ei.e_in, 0)::BIGINT AS e_in,
       |       coalesce(dl.d_tot, 0)::BIGINT AS d_tot,
       |       ((10000::HUGEINT *
       |         (4::HUGEINT * m.m * coalesce(ei.e_in, 0) -
       |          coalesce(dl.d_tot, 0)::HUGEINT * coalesce(dl.d_tot, 0)))
       |        // (4::HUGEINT * m.m * m.m))::BIGINT AS q_bp
       |FROM (SELECT DISTINCT label FROM lab) l
       |LEFT JOIN dl ON dl.label = l.label
       |LEFT JOIN ei ON ei.label = l.label
       |CROSS JOIN m
       |ORDER BY label""".stripMargin

  /** MinHash signature calibration: per component-match count, the
    * exact true-Jaccard profile of the LSH candidate pairs. */
  def minhashCalibrationQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCalibration(load(spark, dir, "documents"))
      .orderBy($"n_match")

  private val minhashCalibrationSql = {
    val nMatch = (1 to 6).map(i =>
      s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $minhashChainSql,
       |est AS (
       |  SELECT ($nMatch)::BIGINT AS n_match,
       |         CAST(floor(len(list_intersect(ta.ss, tb.ss))::DOUBLE /
       |               len(list_distinct(list_concat(ta.ss, tb.ss))) * 10000)
       |           AS BIGINT) AS true_q4
       |  FROM cand c JOIN sigs sa ON c.id_a = sa.doc_id
       |              JOIN sigs sb ON c.id_b = sb.doc_id
       |              JOIN sets ta ON c.id_a = ta.doc_id
       |              JOIN sets tb ON c.id_b = tb.doc_id)
       |SELECT n_match, count(*)::BIGINT AS n_pairs,
       |       (sum(true_q4) // count(*))::BIGINT AS mean_true_q4,
       |       min(true_q4)::BIGINT AS min_true_q4,
       |       max(true_q4)::BIGINT AS max_true_q4
       |FROM est GROUP BY n_match ORDER BY n_match""".stripMargin
  }
}
