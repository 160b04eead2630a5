package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (SURVEY §7.9):
  * tokenization, quality scoring, language-ID heuristic, fingerprinting.
  *
  * All pure Catalyst expressions — narrow, codegen'd, zero shuffle; at
  * 100 TB these run at scan speed and the only cost is the string work.
  */
object TextStats {

  /** Whitespace tokenizer (lowercased). A BPE-ish refinement would swap
    * the pattern for a regex over word pieces; the operator shape (array
    * column, narrow) is identical.
    *
    * Null-safe by construction: null text tokenizes like the empty doc
    * instead of null-propagating the row out of downstream pairing /
    * stats — and the DuckDB oracle SQL (`toksSql` in ExtQueries) applies
    * the same coalesce, so both engines agree on null-text rows. */
  def tokens(text: Column): Column =
    split(lower(coalesce(text, lit(""))), "\\s+")

  /** Fixed-size token-window CHUNKING with overlap — the RAG/context-
    * window preparation pass (split every document into `chunkTokens`-
    * token windows advancing by `stride`, so consecutive chunks share
    * `chunkTokens − stride` tokens of context): chunk i covers tokens
    * [i·stride, i·stride + chunkTokens), emitted while i·stride < n
    * (every token lands in ≥ 1 chunk; trailing chunks may be shorter;
    * an empty/null doc yields one empty chunk at idx 0 — the
    * tokenizer's empty-doc convention carried through).
    *
    * Pure narrow transform: one explode over ⌈n∕stride⌉ window starts
    * per doc, slices on the already-split token array — no shuffle, no
    * state; fan-out is bounded by doc length over stride. Chunk ids
    * are (doc_id, chunk_idx) — deterministic, re-chunk-stable. */
  def chunk(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunkTokens: Int = 40,
      stride: Int = 30): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      s"need 1 <= stride <= chunkTokens; got $chunkTokens/$stride")
    docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size($"_toks"))
      .withColumn("chunk_idx", explode(sequence(lit(0),
        greatest(ceil(($"_n" - 1).cast("double") / stride).cast("int"),
          lit(0)))))
      .where($"chunk_idx" * stride < $"_n" || $"chunk_idx" === 0)
      .select(col(idCol), $"chunk_idx".cast("long").as("chunk_idx"),
        ($"chunk_idx" * stride).cast("long").as("start_tok"),
        array_join(slice($"_toks", $"chunk_idx" * stride + 1,
          lit(chunkTokens)), " ").as("chunk_text"))
      .withColumn("n_chunk_tokens",
        size(split($"chunk_text", "\\s+")).cast("long"))
  }

  /** Small per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deterministic and tiny by design (the real thing would
    * broadcast a larger dictionary — same plan shape). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "value", "table", "row"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "dans"),
    "es" -> Seq("el", "la", "de", "y", "un", "una", "es", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "in", "zu"),
    "zh" -> Seq("的", "是", "在", "和", "了", "有"))

  /** Count of tokens belonging to `lang`'s stopword list. */
  def stopwordCount(toks: Column, lang: String): Column =
    size(filter(toks, w => w.isin(stopwords(lang): _*)))

  /** Language-ID: argmax of stopword hits, ties broken by fixed language
    * order (en, fr, es, de, zh) — fully deterministic.
    *
    * Evaluation shape: the five per-language counts are built into ONE
    * scores array and let-bound through a single-element `transform`
    * lambda, so each language's `filter` walk runs exactly once per row
    * (`array_position` takes the FIRST max == the fixed-order tie-break).
    * The previous form — `when(s === greatest(all scores), …)` per
    * language — re-evaluated the interpreted HOF counts ~15× per row:
    * subexpression elimination never reaches lambda-bearing expressions,
    * the repo's documented top hazard (see WinnowFingerprint scaladoc).
    * TextStatsSpec pins the one-filter-per-language shape on the
    * optimized plan. */
  def langId(toks: Column): Column = {
    val order = Seq("en", "fr", "es", "de", "zh")
    val scores = array(order.map(l => stopwordCount(toks, l)): _*)
    element_at(
      transform(array(scores), sc =>
        when(array_max(sc) > 0,
          element_at(typedLit(order), array_position(sc, array_max(sc)).cast("int")))
          .otherwise(lit("und"))),
      1)
  }

  /** Token count. */
  def tokenCount(toks: Column): Column = size(toks)

  /** Quality-score components: length / punctuation / stopword ratios,
    * the standard heuristic-filter shape. */
  def avgWordLen(toks: Column): Column =
    aggregate(toks, lit(0.0), (acc, w) => acc + length(w)) /
      greatest(size(toks).cast("double"), lit(1.0))

  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  def stopwordRatio(toks: Column): Column =
    stopwordCount(toks, "en").cast("double") /
      greatest(size(toks).cast("double"), lit(1.0))

  /** Document fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive content signature (rolling-hash family; md5 keeps
    * it oracle-checkable). */
  def fingerprint(toks: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks))).cast("binary"))

  /** BPE-ish piece tokenizer: alphanumeric runs OR single non-space
    * symbols — the pre-tokenization split every byte-pair encoder starts
    * from. On latin text this approximates subword piece counts; on CJK
    * it degrades to one piece per character, which is exactly what a
    * byte-level BPE sees. Pure regexp work → codegen, zero shuffle. */
  val pieceRegexp = "[a-z0-9]+|[^a-z0-9\\s]"

  def pieces(text: Column): Column =
    regexp_extract_all(lower(coalesce(text, lit(""))), lit(pieceRegexp), lit(0))

  def pieceCount(text: Column): Column = size(pieces(text))

  /** PII / boilerplate scrubbing: emails, URLs, and long digit runs
    * (phone/account numbers) → typed placeholder tokens — the standard
    * pre-training redaction pass. Patterns stay inside the RE2 ∩ Java
    * regex dialect so any engine reproduces them; applied in a fixed
    * order (URLs first — an URL may contain digit runs that must not be
    * double-masked). Pure regexp_replace → codegen, zero shuffle. */
  /** Ordered outer-to-inner (URL ⊃ email-ish ⊃ dotted-quad ⊃ phone ⊃
    * bare digit run): each pattern runs on the text the previous ones
    * already masked, so an inner span never double-fires. All patterns
    * stay in RE2 ∩ Java so the DuckDB oracle inlines them verbatim. */
  val redactionPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+"                                  -> "<URL>",
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"   -> "<EMAIL>",
    "(?:[0-9]{1,3}\\.){3}[0-9]{1,3}"                    -> "<IP>",
    "(?:\\+?[0-9]{1,3}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "[0-9]{6,}"                                         -> "<NUM>")

  def redact(text: Column): Column =
    redactionPatterns.foldLeft(text) { case (t, (p, tag)) =>
      regexp_replace(t, p, tag)
    }

  /** Typed span extraction TABLE — the structured complement of
    * [[redact]]: one row per maskable span (doc, kind, ordinal, span),
    * extracted on the progressively-redacted text so an inner pattern
    * never re-fires inside an outer match (the same cascade
    * [[redactionCount]] audits in aggregate; this keeps the spans —
    * the PII-review / link-graph / contact-mining input table).
    * Narrow plan: regexp_extract_all + posexplode per kind, one union,
    * zero shuffle — scan-speed at any corpus size. */
  def extractSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val start = docs.select(col(idCol), col(textCol).as("_t"))
    val (staged, matchCols) =
      redactionPatterns.zipWithIndex.foldLeft((start, Seq.empty[String])) {
        case ((df, cols), ((p, tag), i)) =>
          val c = s"_m$i"
          // mask with the SAME tag redact() uses — the tag text is part
          // of what later patterns see, so any other placeholder (e.g.
          // one containing digits) would change their matches
          (df.withColumn(c, regexp_extract_all($"_t", lit(p), lit(0)))
            .withColumn("_t", regexp_replace($"_t", p, tag)),
            cols :+ c)
      }
    redactionPatterns.zip(matchCols).map { case ((_, tag), c) =>
      staged.select(col(idCol), lit(tag).as("kind"),
        posexplode(col(c)).as(Seq("_ord", "span")))
    }.reduce(_ unionByName _)
      .select(col(idCol), $"kind", ($"_ord" + 1).cast("long").as("ordinal"),
        $"span")
  }

  /** Number of spans the redaction pass would mask (audit metric). */
  def redactionCount(text: Column): Column = {
    // count on the progressively-redacted text, like redact() itself:
    // a digit run inside an URL is the URL match, not a second hit
    val (cnt, _) = redactionPatterns.foldLeft((lit(0), text)) {
      case ((n, t), (p, tag)) =>
        (n + size(regexp_extract_all(t, lit(p), lit(0))),
          regexp_replace(t, p, tag))
    }
    cnt
  }

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm): hash every character k-gram, slide a w-wide window over
    * the hash sequence, keep each window's minimum. Guarantees any
    * shared substring of length ≥ k + w − 1 contributes a shared
    * fingerprint while retaining ~2/(w+1) of the hashes — the standard
    * scalable document-fingerprint for overlap detection. Returns the
    * sorted distinct selected hashes.
    *
    * Scale shape: one narrow kernel expression per row
    * ([[graft.functions.WinnowFingerprint]]) — runs at scan speed, no
    * shuffle, and the md5-derived gram hash is bit-identical in any
    * engine (DuckDB-oracle-checkable). The equivalent HOF chain is a
    * trap: interpreted lambdas get no CSE, so the gram-hash array was
    * re-built per window element — O(len³) per doc (see the kernel's
    * scaladoc for the measured wedge). Shorter docs: fewer grams than
    * the window ⇒ the global min is the single fingerprint; fewer than
    * k chars ⇒ empty. */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.functions.WinnowFingerprint(coalesce(text, lit("")), k, w)

  /** Word n-grams as space-joined strings, narrow — built by folding
    * `zip_with` over shifted slices (the Dedup.shingles pattern), NOT
    * `slice(toks, i, n)` inside a `transform` lambda: interpreted HOFs
    * re-evaluate non-attribute references per ELEMENT, so the lambda
    * form re-ran the tokenizer once per gram position when handed a
    * derived array (measured 3.6 s → 0.3 s on the spans gram scan at
    * sf0.1). zip_with/slice ARGUMENTS evaluate once per row; still,
    * pass an attribute column (`_toks`) when the tokens come from an
    * expression — this builder references `toks` ~2n times. */
  def wordNgrams(toks: Column, n: Int): Column = {
    val shifted = (1 until n).map(k =>
      slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))))
    val grams = shifted.foldLeft(toks) { (acc, s) =>
      zip_with(acc, s, (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= n, slice(grams, lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact integer division (both operands positive, < 2^53): num−num%den
    * is an exact multiple, so the double divide is exact — the same
    * engine-exact arithmetic as [[qualityQ4]]. */
  private def exactDiv(num: Column, den: Column): Column =
    ((num - pmod(num, den)) / den).cast("long")

  /** Mode of a gram array as struct(gram, cnt): sort, then one run-length
    * pass; strict `>` keeps the FIRST max run of the sorted order, i.e.
    * ties break to the lexicographically smallest gram — the same
    * deterministic tie-break a relational `ORDER BY cnt DESC, gram` gives,
    * which is how the DuckDB oracle rebuilds it. O(g log g) per row,
    * zero shuffle — per-document mode never needs the explode+groupBy
    * shape. `run` appears three times in the merge lambda but is a cheap
    * comparison, not a nested HOF — the re-evaluation hazard class (see
    * [[langId]]) is about lambdas inside repeated branches. */
  def topGram(grams: Column): Column = {
    val z = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best"), lit("").as("bestg"))
    aggregate(array_sort(grams), z,
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          when(run > acc.getField("best"), run)
            .otherwise(acc.getField("best")).as("best"),
          when(run > acc.getField("best"), g)
            .otherwise(acc.getField("bestg")).as("bestg"))
      },
      acc => struct(acc.getField("bestg").as("gram"),
        acc.getField("best").as("cnt")))
  }

  /** Gopher-style "fraction of characters in the most common n-gram"
    * (Rae et al. 2021 §A1.1.3, adapted to word grams — the corpus is
    * single-line): cnt·len(gram)/chars, q4 fixed-point, capped at 1
    * (overlapping occurrences can cover more chars than the doc has). */
  def topCharFracQ4(top: Column, chars: Column): Column =
    least(exactDiv(lit(10000L) * top.getField("cnt") *
      length(top.getField("gram")).cast("long"), chars), lit(10000L))

  /** Gopher-style duplicate n-gram fraction: share of n-gram occurrences
    * that are repeats, 1 − distinct/total, q4 fixed-point. */
  def dupFracQ4(grams: Column): Column = {
    val total = size(grams).cast("long")
    when(total === 0L, lit(0L)).otherwise(
      exactDiv(lit(10000L) * (total - size(array_distinct(grams)).cast("long")),
        total))
  }

  /** Per-document repetition filters (the Gopher/Dolma repetitious-text
    * family): most-common 2-/3-gram char coverage and duplicate 5-/10-gram
    * fractions. Entirely narrow — every stat is per-row over the token
    * array, so at 100 TB this runs at scan speed next to [[analyze]];
    * no explode, no shuffle. The gram arrays and mode structs are stored
    * as intermediate columns referenced multiple times downstream:
    * CollapseProject keeps non-cheap expressions materialized rather than
    * inlining them per consumer, so each HOF runs once per row
    * (TextStatsSpec pins one `aggregate` per mode on the optimized plan). */
  def repetition(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col("_toks")
    docs
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_chars",
        greatest(length(coalesce(col(textCol), lit(""))), lit(1)).cast("long"))
      .withColumn("_g2", wordNgrams(t, 2))
      .withColumn("_g3", wordNgrams(t, 3))
      .withColumn("_g5", wordNgrams(t, 5))
      .withColumn("_g10", wordNgrams(t, 10))
      .withColumn("_t2", topGram(col("_g2")))
      .withColumn("_t3", topGram(col("_g3")))
      .select(
        col("doc_id"),
        when(col("_t2").getField("cnt") > 0, col("_t2").getField("gram"))
          .as("top2_gram"),
        col("_t2").getField("cnt").as("top2_count"),
        topCharFracQ4(col("_t2"), col("_chars")).as("top2_char_frac_q4"),
        topCharFracQ4(col("_t3"), col("_chars")).as("top3_char_frac_q4"),
        dupFracQ4(col("_g5")).as("dup5_frac_q4"),
        dupFracQ4(col("_g10")).as("dup10_frac_q4"))
  }

  /** TF-IDF top-k terms per document (HashingTF-equivalent, SURVEY §7.9):
    * tf = term count in doc, idf = ln((N+1)/(df+1)), top-k by tf·idf with
    * lexicographic tie-break. Two hash aggregations + one broadcast of
    * the (term, idf) dimension — no all-pairs work; at 100 TB the term
    * dimension is the only state and it is vocabulary-bounded. */
  def tfidf(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1) / (col("df") + 1)), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }

  /** Full per-document stats frame. Tokenizes ONCE into a stored column,
    * then derives raw components, then rounds/blends — higher-order
    * expressions are outside Spark's CSE, so inlining the tokenizer into
    * every output would re-split the text per column. */
  /** quality_q4 = floor(10⁴·quality) computed in EXACT integer arithmetic
    * from the raw counts (S=Σ token lengths, n=#tokens, c=#stopwords,
    * p=#punct chars, L=#chars):
    *   lenScore  = A/(11n), A = 11n − min(|2S−11n|, 11n)
    *   stopScore = B/n,     B = min(5c, n)
    *   punctScore= C/L,     C = L − min(4p, L)
    *   q4 = (4000·A·L + 33000·B·L + 33000·C·n) div (11·n·L)
    * The double-precision blend produced different last-bit results in
    * Spark vs DuckDB (FP contraction), which flipped rounding at 4 dp;
    * integer arithmetic is engine-exact. */
  def qualityQ4(s: Column, n0: Column, c: Column, p: Column, l0: Column): Column = {
    val n = greatest(n0, lit(1)).cast("long")
    val l = greatest(l0, lit(1)).cast("long")
    val a = lit(11L) * n - least(abs(lit(2L) * s - lit(11L) * n), lit(11L) * n)
    val b = least(lit(5L) * c, n)
    val cc = l - least(lit(4L) * p, l)
    val num = lit(4000L) * a * l + lit(33000L) * b * l + lit(33000L) * cc * n
    val den = lit(11L) * n * l
    // exact integer division (num - num%den is an exact multiple, and
    // both operands are < 2^53 so the double division is exact)
    ((num - pmod(num, den)) / den).cast("long")
  }

  /** End-to-end corpus quality filtering — the C4/Gopher heuristic
    * cascade as ONE narrow pass: every document gets its metrics, a
    * sorted `reasons` array naming each failed rule, and a `keep` flag.
    * Filtering a 100 TB corpus is a scan, not a pipeline of joins: the
    * token array, gram arrays, and mode structs are stored intermediate
    * columns (CollapseProject keeps non-cheap multi-referenced
    * expressions materialized), so each HOF runs once per row and no
    * stage shuffles anything.
    *
    * Default thresholds are tuned to the synthetic corpus (quality p10
    * ≈ 7800, top-2-gram coverage p90 ≈ 1100) so both outcomes are
    * exercised at every SF; real deployments pass their own. */
  def filterCorpus(docs: DataFrame, textCol: String = "text",
      minTokens: Long = 15L, minQualityQ4: Long = 8000L,
      langWant: String = "en", maxDup5Q4: Long = 1000L,
      maxTop2Q4: Long = 2000L,
      passthrough: Seq[String] = Nil): DataFrame = {
    // `passthrough` columns ride along unchanged (e.g. the text itself
    // when the caller routes documents, not just verdicts — the
    // streaming corpusFilterSink does); still one narrow pass.
    val t = col("_toks")
    spreadToSlots(docs, "doc_id")
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_chars",
        greatest(length(coalesce(col(textCol), lit(""))), lit(1)).cast("long"))
      .withColumn("_g5", wordNgrams(t, 5))
      .withColumn("_t2", topGram(wordNgrams(t, 2)))
      .withColumn("_s", aggregate(t, lit(0L), (acc, w) => acc + length(w)))
      .withColumn("_n", size(t).cast("long"))
      .withColumn("_c", stopwordCount(t, "en").cast("long"))
      .withColumn("_p",
        (length(coalesce(col(textCol), lit(""))) -
          length(regexp_replace(coalesce(col(textCol), lit("")),
            "[\\p{Punct}]", ""))).cast("long"))
      .select(col("doc_id") +: passthrough.map(col) ++: Seq(
        col("_n").as("n_tokens"),
        qualityQ4(col("_s"), col("_n"), col("_c"), col("_p"), col("_chars"))
          .as("quality_q4"),
        langId(t).as("lang_pred"),
        topCharFracQ4(col("_t2"), col("_chars")).as("top2_char_frac_q4"),
        dupFracQ4(col("_g5")).as("dup5_frac_q4")): _*)
      .withColumn("reasons", array_sort(filter(array(
        when(col("n_tokens") < minTokens, lit("too_short")),
        when(col("quality_q4") < minQualityQ4, lit("low_quality")),
        when(col("lang_pred") =!= langWant, lit("lang_mismatch")),
        when(col("dup5_frac_q4") > maxDup5Q4, lit("dup_ngrams")),
        when(col("top2_char_frac_q4") > maxTop2Q4, lit("top_ngram"))),
        x => x.isNotNull)))
      .withColumn("keep", size(col("reasons")) === 0)
  }

  /** Corpus-frequency bigram LM score — the CCNet/Wikipedia-LM quality
    * signal shape without an external model: score a document by how
    * typical its word transitions are IN THIS CORPUS.
    *
    * Per bigram g = "w1 w2": q(g) = (10^6 · c(g)) div c(w1·) where c(g)
    * is the corpus bigram count and c(w1·) the count of bigrams starting
    * with w1 — i.e. the quantized conditional probability P(w2 | w1).
    * Per document: `lm_q6` = floor-average of q over its bigrams.
    * All-integer arithmetic (`div`), so any engine reproduces it
    * bit-for-bit (counts must stay under 2^63/10^6 ≈ 9·10^12 bigram
    * occurrences per gram — beyond that, lift the quantizer into
    * decimal).
    *
    * Scale shape: two map-side-combined gram-count aggregates, q derived
    * on the GRAM-LEVEL table (bigram-vocabulary-sized, not corpus-sized)
    * with one join, then one equi-join back to the exploded corpus and a
    * per-doc aggregate. No driver materialization, no all-pairs. */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val bg = docs
      .select(col(idCol), explode(wordNgrams(tokens(col(textCol)), 2)).as("g"))
    val c2 = bg.groupBy($"g").agg(count(lit(1L)).as("c2"))
    val c1 = bg.select(substring_index($"g", " ", 1).as("w1"))
      .groupBy($"w1").agg(count(lit(1L)).as("c1"))
    val q = c2.join(c1, substring_index(c2("g"), " ", 1) === c1("w1"))
      .select($"g", expr("(1000000 * c2) div c1").as("q"))
    val perDoc = bg.join(q, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1L)).as("n_bigrams"), sum($"q").as("s"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce(expr("s div n_bigrams"), lit(0L)).as("lm_q6"))
  }

  /** Bigram LM scoring with STUPID BACKOFF (Brants et al., EMNLP 2007
    * — the web-scale LM smoothing that needs no discount tuning):
    * train conditional bigram stats on the `isTrain` subcorpus, score
    * EVERY document — including out-of-domain ones full of unseen
    * bigrams, which [[lmScore]] (self-trained, no backoff) cannot
    * rank. Per bigram (w₁,w₂): seen → ⌊10⁶·c₂(w₁w₂) ∕ c₁(w₁)⌋;
    * unseen → backoff ⌊0.4·10⁶·ct(w₂) ∕ N⌋ (train unigram prob of the
    * CONTINUATION, 0.4 = the paper's fixed α as the exact ratio
    * 400000/10⁶); both words unseen → 0. Doc score = mean over its
    * bigrams — all integer arithmetic, the [[lmScore]] determinism
    * pattern.
    *
    * Scale shape: two train-side map-side-combined counts (bigram +
    * unigram), then the corpus grams take one equi join per table and
    * one doc-keyed aggregate — the vocabulary shuffles, the text does
    * not. */
  def lmScoreBackoff(docs: DataFrame, isTrain: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val train = docs.where(isTrain)
    val tb = train
      .select(explode(wordNgrams(tokens(col(textCol)), 2)).as("g"))
      .groupBy($"g").agg(count(lit(1)).as("_c2"))
    val tuAll = train
      .select(explode(tokens(col(textCol))).as("w"))
    val tu = tuAll.groupBy($"w").agg(count(lit(1)).as("_c1w"))
    val n = tuAll.count() // exact scalar; one map-side-combined count
    val c1 = tb
      .select(substring_index($"g", " ", 1).as("w1"), $"_c2")
      .groupBy($"w1").agg(sum($"_c2").as("_c1"))
    val grams = docs
      .select(col(idCol), explode(wordNgrams(tokens(col(textCol)), 2)).as("g"))
    val scored = grams
      .join(tb, Seq("g"), "left")
      .join(c1, substring_index(grams("g"), " ", 1) === c1("w1"), "left")
      .join(tu, substring_index(grams("g"), " ", -1) === tu("w"), "left")
      .select(col(idCol),
        when($"_c2".isNotNull, expr("(1000000 * _c2) div _c1"))
          .otherwise(coalesce(expr(s"(400000 * _c1w) div ${math.max(n, 1L)}"),
            lit(0L))).as("_q"),
        $"_c2".isNull.as("_backoff"))
    docs.select(col(idCol))
      .join(scored.groupBy(col(idCol))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when($"_backoff", 1L).otherwise(0L)).as("n_backoff"),
            sum($"_q").as("_s")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_backoff", lit(0L)).as("n_backoff"),
        coalesce(expr("_s div n_bigrams"), lit(0L)).as("lm_q6"))
  }

  /** Emerging/receding terms between two corpus snapshots: for every
    * token, its frequency share (basis points of all tokens) in the
    * `isFirst` sample vs the rest, ranked by absolute share delta —
    * "what changed between last crawl and this one" at the vocabulary
    * level, the term-resolution companion to the distribution-level
    * [[mixKlDrift]] / KS monitors. All integer: share_bp = ⌊10⁴·c ∕ N⌋
    * per era, delta = late − early.
    *
    * Scale shape: one (term, era) map-side-combined count, a tiny
    * 2-row totals aggregate broadcast as literals-via-join, and a
    * TakeOrdered top-k — no full sort. */
  def termDrift(docs: DataFrame, isFirst: Column, k: Int,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toksE = docs
      .select(when(isFirst, 1L).otherwise(0L).as("_in1"),
        explode(tokens(col(textCol))).as("w"))
      .where($"w" =!= "")
    val counts = toksE.groupBy($"w")
      .agg(sum($"_in1").as("_c1"), sum(lit(1L) - $"_in1").as("_c2"))
    val totals = counts.agg(sum($"_c1").as("_n1"), sum($"_c2").as("_n2"))
    counts.crossJoin(broadcast(totals))
      .where($"_n1" > 0 && $"_n2" > 0)
      .select($"w",
        expr("(10000 * _c1) div _n1").as("early_bp"),
        expr("(10000 * _c2) div _n2").as("late_bp"))
      .withColumn("delta_bp", $"late_bp" - $"early_bp")
      .orderBy(abs($"delta_bp").desc, $"w".asc)
      .limit(k)
  }

  /** Top-k adjacent-token-pair frequencies — the statistic one BPE
    * training step ranks (count DESC, gram ASC tie-break, so the cut is
    * deterministic). Global top-k plans as TakeOrderedAndProject over a
    * map-side-combined count: no full sort, no full shuffle of grams. */
  def vocabPairs(docs: DataFrame, k: Int,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs.select(explode(wordNgrams(tokens(col(textCol)), 2)).as("g"))
      .groupBy($"g").agg(count(lit(1L)).as("n"))
      .orderBy($"n".desc, $"g".asc)
      .limit(k)
  }

  /** Context-window chunking — split each document into fixed-size
    * token windows with stride overlap (the long-document preparation
    * step before sequence packing: a 100k-token doc becomes overlapping
    * `size`-token training chunks instead of being truncated).
    *
    * Chunk starts walk the stride grid: 0, stride, 2·stride, …; the
    * last start is the first multiple covering the tail, so
    * `n_chunks = ceil(max(0, n − size) ∕ stride) + 1` — every token is
    * in ≥ 1 chunk, consecutive chunks share `size − stride` tokens, and
    * a short doc yields exactly itself. Pure narrow explode: the
    * cardinality grows ~n/stride per doc but NOTHING shuffles — the
    * right shape for a 100-TB corpus rewrite. All arithmetic integer. */
  def chunkDocs(docs: DataFrame, size: Int = 64, stride: Int = 48,
      textCol: String = "text"): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    docs
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_n", org.apache.spark.sql.functions.size(col("_toks")))
      .withColumn("chunk_id", explode(sequence(lit(0),
        expr(s"cast((greatest(_n - $size, 0) + ${stride - 1}) div $stride as int)"))))
      .withColumn("_chunk", slice(col("_toks"),
        col("chunk_id") * stride + 1, lit(size)))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        org.apache.spark.sql.functions.size(col("_chunk")).cast("long")
          .as("n_chunk_tokens"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** Chunk-level language consistency — CCNet runs lang-ID per
    * PARAGRAPH precisely because document-level ID hides code-switching
    * and boilerplate contamination; a "mixed" doc poisons monolingual
    * training shards. Each doc splits into non-overlapping
    * `chunkSize`-token windows, every chunk gets the deterministic
    * stopword-argmax [[langId]], and the doc reports its chunk count,
    * distinct chunk languages, the majority language (ties to the
    * lexicographically first), the majority share in exact bp, and the
    * mixed flag (share < `minShareBp`). Chunks are sliced from the
    * TOKEN ARRAY directly (never re-tokenized text — the documented
    * derived-array hazard). An empty doc is one 'und' chunk.
    *
    * Scale shape: narrow chunk explode + one (doc, lang) and one doc
    * aggregate, both map-side combinable; argmax by min(struct). */
  def mixedLanguage(docs: DataFrame, chunkSize: Int = 32,
      minShareBp: Long = 8000L, textCol: String = "text"): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be > 0, got $chunkSize")
    require(minShareBp >= 0 && minShareBp <= 10000, s"bad bp $minShareBp")
    val chunks = docs
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_cid", explode(sequence(lit(0),
        expr(s"cast(greatest(size(_toks) - 1, 0) div $chunkSize as int)"))))
      .select(col("doc_id"),
        langId(slice(col("_toks"), col("_cid") * chunkSize + 1,
          lit(chunkSize))).as("_lg"))
    chunks.groupBy($"doc_id", $"_lg").agg(count(lit(1)).as("_c"))
      .groupBy($"doc_id")
      .agg(sum($"_c").as("n_chunks"), count(lit(1)).as("n_langs"),
        min(struct((-$"_c").as("nc"), $"_lg".as("lg"))).as("_m"))
      .select($"doc_id", $"n_chunks", $"n_langs",
        $"_m.lg".as("major_lang"),
        expr("(10000 * -_m.nc) div n_chunks").as("major_share_bp"))
      .withColumn("is_mixed", $"major_share_bp" < minShareBp)
  }

  /** Model-based quality scoring — the classifier-filter stage of a
    * pretraining pipeline (fastText-style as in CCNet/GPT-3/DCLM): each
    * document scored by a hashing-trick linear model in one narrow
    * codegen pass (no join, no shuffle — the weight table rides to
    * executors inside the broadcast task binary).
    *
    * Scores are all-integer and md5-derived (see
    * [[graft.functions.LinearModelKernel]]) so the oracle reproduces
    * them exactly: `score_bp` rescales the mean token weight from
    * [−1000, 1000] into basis points [0, 10000] with floor division on
    * a non-negative numerator (truncation == floor, cross-engine
    * exact); `keep` thresholds at the midpoint. A deployment swaps the
    * deterministic weight table for trained parameters; plan unchanged. */
  def classifierScore(docs: DataFrame, dim: Int = 4096,
      keepAtBp: Int = 5000, textCol: String = "text"): DataFrame = {
    require(dim > 0, s"dim must be > 0, got $dim")
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val weights = graft.functions.LinearModelKernel.buildWeights(dim)
    docs
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_raw", toColumn(
        graft.functions.HashedLinearScore(toExpr(col("_toks")), weights)))
      .withColumn("n_tokens", size(col("_toks")).cast("long"))
      .withColumn("score_bp",
        expr("(10000 * (_raw + 1000 * n_tokens)) div (2000 * n_tokens)"))
      .select(col("doc_id"), col("n_tokens"), col("score_bp"),
        (col("score_bp") >= keepAtBp).as("keep"))
  }

  /** Collocation mining — adjacent pairs ranked by contingency-table
    * lift: `lift = n_ab · N ∕ (n_a• · n_•b)` over the bigram table
    * (n_a• = pair occurrences with `a` first, n_•b = with `b` second,
    * N = total pairs). The no-log monotone cousin of PMI, so it stays
    * ALL-INTEGER (basis points, floor div on non-negative operands) and
    * every engine agrees bit-for-bit. Shape: one map-side-combined
    * bigram count, two vocabulary-sized margin aggregates broadcast
    * back onto it, global top-k as TakeOrderedAndProject — the corpus
    * is read once, nothing big shuffles. */
  /** Windowed co-occurrence (skip-gram) pair counts — the word2vec /
    * windowed-PMI training-data extraction next to [[collocations]]'
    * adjacent-only pairs: every ordered pair (w_i, w_j) with
    * `1 ≤ j − i ≤ window` counts once, top-k by count with a full
    * deterministic tie order. The pair explode is NARROW (n·window
    * rows per doc off one attribute token array — the inner slice
    * reads an attribute, so no re-tokenization), the count is ONE
    * map-side-combined aggregate over a vocabulary²-bounded key space,
    * and the cut is TakeOrderedAndProject — no global sort. Empty
    * tokens (the empty-doc sentinel) are excluded from both sides. */
  def skipgrams(docs: DataFrame, window: Int = 3, k: Int = 20,
      minCount: Long = 2, textCol: String = "text"): DataFrame = {
    require(window >= 1 && k >= 1 && minCount >= 1,
      s"need window/k/minCount >= 1, got $window/$k/$minCount")
    spreadToSlots(docs, textCol)
      .withColumn("_toks", tokens(col(textCol)))
      .select(explode(flatten(transform(col("_toks"), (w, i) =>
        transform(slice(col("_toks"), i + 2, lit(window)),
          w2 => struct(w.as("w1"), w2.as("w2")))))).as("p"))
      .select($"p.w1".as("w1"), $"p.w2".as("w2"))
      .where($"w1" =!= "" && $"w2" =!= "")
      .groupBy($"w1", $"w2").agg(count(lit(1L)).as("cnt"))
      .where($"cnt" >= minCount)
      .orderBy($"cnt".desc, $"w1", $"w2")
      .limit(k)
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    * keyword step of document labeling/routing pipelines: candidate
    * phrases are the maximal STOPWORD-FREE token runs (the classic
    * gaps-and-islands carve), each word scores deg∕freq over the whole
    * corpus (freq = occurrences inside candidates; deg = Σ lengths of
    * the candidates containing it — words living in long phrases score
    * up), and a phrase scores the sum of its word scores. All ratios
    * are truncated q4 integers, so the ranking is engine-exact.
    *
    * Scale shape: one posexplode pass; islands are per-doc window
    * arithmetic; word scores are a vocabulary-sized aggregate joined
    * back by word (never by doc); identical phrase TEXTS collapse
    * before the final top-k (TakeOrderedAndProject). Candidates cap at
    * `maxLen` words — the standard RAKE noise guard. */
  def rakePhrases(docs: DataFrame, k: Int = 25, maxLen: Int = 6,
      textCol: String = "text", lang: String = "en"): DataFrame = {
    require(k >= 1 && maxLen >= 1, s"bad k=$k / maxLen=$maxLen")
    import org.apache.spark.sql.expressions.Window
    val stops = stopwords(lang)
    val pos = docs
      .select(col("doc_id"), posexplode(tokens(col(textCol))))
      .withColumnRenamed("col", "w").withColumnRenamed("pos", "i")
      .where($"w" =!= "")
      .withColumn("stop", $"w".isInCollection(stops))
    val nonStop = pos.where(!$"stop")
      .withColumn("grp", $"i" - row_number().over(
        Window.partitionBy($"doc_id").orderBy($"i")))
      .withColumn("plen",
        count(lit(1)).over(Window.partitionBy($"doc_id", $"grp")))
      .where($"plen" <= maxLen)
      .persistScoped // read for word scores AND phrase assembly
    val wordScore = nonStop.groupBy($"w")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
      .select($"w", expr("(10000 * deg) div freq").as("wscore_q4"))
    val phrases = nonStop.join(wordScore, Seq("w"))
      .groupBy($"doc_id", $"grp")
      .agg(max($"plen").as("n_words"),
        sum($"wscore_q4").as("score_q4"),
        concat_ws(" ", array_sort(collect_list(struct($"i", $"w")))
          .getField("w")).as("phrase"))
    phrases.groupBy($"phrase")
      .agg(max($"n_words").as("n_words"), count(lit(1)).as("n_occurrences"),
        max($"score_q4").as("score_q4"))
      .orderBy($"score_q4".desc, $"phrase")
      .limit(k)
  }

  def collocations(docs: DataFrame, k: Int, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bi = docs
      .select(explode(wordNgrams(tokens(col(textCol)), 2)).as("g"))
      .groupBy($"g").agg(count(lit(1L)).as("n_ab"))
      .withColumn("w1", split($"g", " ").getItem(0))
      .withColumn("w2", split($"g", " ").getItem(1))
    val left = bi.groupBy($"w1").agg(sum($"n_ab").as("n_a"))
    val right = bi.groupBy($"w2").agg(sum($"n_ab").as("n_b"))
    val tot = bi.agg(sum($"n_ab").as("n_tot"))
    bi.join(broadcast(left), "w1").join(broadcast(right), "w2")
      .crossJoin(broadcast(tot))
      .where($"n_ab" >= minCount)
      .select($"g", $"n_ab",
        expr("(n_ab * n_tot * 10000) div (n_a * n_b)").as("lift_bp"))
      .orderBy($"lift_bp".desc, $"g".asc)
      .limit(k)
  }

  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col("_toks")
    spreadToSlots(docs, "doc_id")
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_awl", avgWordLen(t))
      .withColumn("_pr", punctRatio(col(textCol)))
      .withColumn("_sr", stopwordRatio(t))
      .withColumn("_s", aggregate(t, lit(0L), (acc, w) => acc + length(w)))
      .withColumn("_n", size(t).cast("long"))
      .withColumn("_c", stopwordCount(t, "en").cast("long"))
      .withColumn("_len", length(col(textCol)).cast("long"))
      .withColumn("_p",
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), "[\\p{Punct}]", ""))).cast("long"))
      .select(
        col("doc_id"),
        tokenCount(t).as("n_tokens"),
        size(array_distinct(t)).as("n_distinct"),
        round(col("_awl"), 4).as("avg_word_len"),
        round(col("_pr"), 4).as("punct_ratio"),
        round(col("_sr"), 4).as("stopword_ratio"),
        qualityQ4(col("_s"), col("_n"), col("_c"), col("_p"), col("_len"))
          .as("quality_q4"),
        langId(t).as("lang_pred"),
        fingerprint(t).as("fingerprint"))
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over the token
    * unigram distributions — the mix-monitoring statistic a curation
    * team tracks per ingest batch (a source whose KL jumps got
    * scraped differently / degraded; the aggregate twin of
    * [[Sampling.mixtureRates]]' composition report).
    *
    * Each term's contribution `p·ln(p/q)` is floor-quantized to q8
    * fixed point BEFORE the sum (the bm25 determinism pattern: doubles
    * sum in nondeterministic partition order, longs don't, and each
    * contribution is itself a fixed chain of correctly-rounded IEEE
    * ops both engines reproduce bit-for-bit). Returns
    * `(source, n_terms, kl_q8)`; KL ≥ 0 up to quantization (each
    * term's floor can shave < 1 q8 unit).
    *
    * Scale shape: two map-side-combined count aggregates (per-source
    * terms, global terms) joined on term — co-partitioned hash join,
    * vocabulary-sized, the corpus text itself never shuffles; the
    * source-total and corpus-total frames are source-cardinality and
    * broadcast. */
  def mixKlDrift(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(srcCol).as("src"), explode(tokens(col(textCol))).as("term"))
      .where($"term" =!= "")
      .persistScoped // read twice: per-source counts and global counts
    val srcCnt = toks.groupBy($"src", $"term").agg(count(lit(1)).as("sc"))
    val srcTot = toks.groupBy($"src").agg(count(lit(1)).as("st"))
    val globCnt = toks.groupBy($"term").agg(count(lit(1)).as("gc"))
    val globTot = toks.agg(count(lit(1)).as("gt"))
    srcCnt
      .join(globCnt, Seq("term"))
      .join(broadcast(srcTot), Seq("src"))
      .crossJoin(broadcast(globTot))
      // the exact operation nesting the oracle spells out: p, q, ln, ×
      .withColumn("_p", $"sc".cast("double") / $"st".cast("double"))
      .withColumn("_q", $"gc".cast("double") / $"gt".cast("double"))
      .withColumn("_c_q8",
        floor($"_p" * log($"_p" / $"_q") * lit(100000000.0)).cast("long"))
      .groupBy($"src".as("source"))
      .agg(count(lit(1)).as("n_terms"), sum($"_c_q8").as("kl_q8"))
  }

  /** Pairwise Jensen–Shannon divergence between source token
    * distributions — [[mixKlDrift]]'s symmetric, bounded companion
    * (JSD = ½KL(p‖m) + ½KL(q‖m), m = ½(p+q); always finite, ≤ ln 2,
    * symmetric): the "which sources are interchangeable / which are
    * distinct registers" matrix a mixture designer reads before
    * setting sampling weights.
    *
    * Same determinism contract as KL: each term's two half-
    * contributions are floor-quantized to q8 BEFORE the sum (doubles
    * sum in nondeterministic partition order; longs don't), with
    * explicit zero-count branches (a term absent from one side
    * contributes only the other half — the p·ln(p∕m) limit at p = 0
    * is 0, never a NaN).
    *
    * Scale shape: the per-source term counts aggregate once
    * (map-side-combined, vocabulary-sized); the pair grid is
    * |sources|²∕2 — dashboard-sized — and the (pair, term) frame is
    * grid × vocabulary, joined co-partitioned on the term. */
  def jsDivergence(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(srcCol).as("src"), explode(tokens(col(textCol))).as("term"))
      .where($"term" =!= "")
      .persistScoped // read twice: term counts and source totals
    val cnt = toks.groupBy($"src", $"term").agg(count(lit(1)).as("c"))
      .persistScoped // both pair legs read it
    val tot = toks.groupBy($"src").agg(count(lit(1)).as("t"))
    val srcs = tot.select($"src")
    val pairs = srcs.select($"src".as("sa"))
      .crossJoin(srcs.select($"src".as("sb"))).where($"sa" < $"sb")
    val la = pairs.join(cnt.select($"src".as("sa"), $"term", $"c".as("ca")),
      Seq("sa"))
    val lb = pairs.join(cnt.select($"src".as("sb"), $"term", $"c".as("cb")),
      Seq("sb"))
    val merged = la.join(lb, Seq("sa", "sb", "term"), "full_outer")
      .select($"sa", $"sb", $"term",
        coalesce($"ca", lit(0L)).as("ca"), coalesce($"cb", lit(0L)).as("cb"))
      .join(broadcast(tot.select($"src".as("sa"), $"t".as("ta"))), Seq("sa"))
      .join(broadcast(tot.select($"src".as("sb"), $"t".as("tb"))), Seq("sb"))
    merged
      // the exact operation nesting the oracle spells out — two floors,
      // one per half, each guarded by its side's zero-count branch
      .withColumn("_p", $"ca".cast("double") / $"ta".cast("double"))
      .withColumn("_q", $"cb".cast("double") / $"tb".cast("double"))
      .withColumn("_m", ($"_p" + $"_q") / lit(2.0))
      .withColumn("_c_q8",
        when($"ca" > 0,
          floor(lit(0.5) * $"_p" * log($"_p" / $"_m") * lit(100000000.0))
            .cast("long")).otherwise(0L) +
        when($"cb" > 0,
          floor(lit(0.5) * $"_q" * log($"_q" / $"_m") * lit(100000000.0))
            .cast("long")).otherwise(0L))
      .groupBy($"sa".as("src_a"), $"sb".as("src_b"))
      .agg(count(lit(1)).as("n_terms"), sum($"_c_q8").as("jsd_q8"))
  }

  /** N-gram novelty: the fraction of each document's DISTINCT word
    * n-grams that occur in NO other document — the "how much of this
    * doc is new text" signal (novelty ≈ 0 flags near-boilerplate even
    * when no single dedup rule fires; the per-doc complement of the
    * corpus-level dedup family).
    *
    * Returns `(doc_id, n_grams, n_exclusive, novelty_bp)` with
    * `novelty_bp = ⌊10⁴·n_exclusive/n_grams⌋` (0 for docs too short to
    * have an n-gram). A gram repeated only WITHIN one doc is still
    * exclusive to it — document frequency is counted over distinct
    * (doc, gram).
    *
    * Scale shape: distinct grams per doc are computed in-row
    * (`array_distinct`, narrow), document frequency is one
    * map-side-combined aggregate, and the flag joins back on the gram
    * — co-partitioned with the df aggregate's own partitioning, so
    * the gram frame shuffles once. */
  /** Flesch reading-ease per document in EXACT integer hundredths —
    * the classic readability quality signal (Flesch 1948, public):
    *
    *   flesch_c100 = 20684 − ⌊203·w ∕ (2·s)⌋ − ⌊8460·syl ∕ w⌋
    *
    * with w = tokens, s = non-blank `[.!?]+` sentence segments
    * (min 1), and the deterministic syllable heuristic
    * syl = (#`[aeiouy]+` vowel runs in the lowercased text) +
    * (#tokens with no vowel run) — the vowelless-token correction
    * gives every word ≥ 1 syllable without per-word arithmetic. Both
    * divisions are floor-on-positives, so the score is bit-identical
    * in any engine (the float constant form 206.835 − 1.015(w/s) −
    * 84.6(syl/w) is not). Zero-word docs report null.
    *
    * Scale shape: fully narrow — two regexp passes and two small HOF
    * filters per row, zero shuffle; the token array is aliased once in
    * its own projection (multi-referenced HOF inputs re-evaluate when
    * inlined — the documented CollapseProject hazard). */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        tokens(col(textCol)).as("_toks"),
        lower(coalesce(col(textCol), lit(""))).as("_lt"))
      .select(col(idCol),
        size($"_toks").cast("long").as("n_words"),
        greatest(size(filter(split($"_lt", "[.!?]+"),
          x => length(trim(x)) > lit(0))), lit(1)).cast("long").as("n_sentences"),
        (size(regexp_extract_all($"_lt", lit("[aeiouy]+"), lit(0))) +
          size(filter($"_toks", t => !t.rlike("[aeiouy]"))))
          .cast("long").as("n_syllables"))
      .select(col(idCol), $"n_words", $"n_sentences", $"n_syllables",
        when($"n_words" === 0, lit(null).cast("long"))
          .otherwise(lit(20684L) -
            expr("(203 * n_words) div (2 * n_sentences)") -
            expr("(8460 * n_syllables) div n_words"))
          .as("flesch_c100"))

  /** Per-document character-distribution diversity — the
    * gibberish/repetition quality signal family, in EXACT integer
    * arithmetic: `(doc_id, n_chars, n_distinct_chars, top_share_bp,
    * simpson_bp)` where top_share_bp = ⌊10⁴·max c ∕ n⌋ (a run of one
    * character → 10000) and simpson_bp = ⌊10⁴·Σc(c−1) ∕ (n(n−1))⌋ —
    * the Gini–Simpson collision probability, the rational-arithmetic
    * stand-in for Shannon entropy (whose log2 is NOT bit-reproducible
    * across libm builds: a 1-ulp log difference flips a floor at
    * scale, so entropy can't sit behind a cross-engine hash gate;
    * collision probability carries the same repetitiveness ordering
    * exactly). Docs with < 2 chars report simpson_bp = 0.
    *
    * Scale shape: one (doc, char) hash aggregate (alphabet-bounded
    * per doc) and one doc-keyed reduction — the gram-op shuffle
    * footprint, text itself moves once. */
  def charDiversity(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val chars = when(length(t) === 0, typedLit(Array.empty[String]))
      .otherwise(transform(sequence(lit(1), length(t)), i => t.substr(i, lit(1))))
    val counts = docs
      .select(col(idCol).as("doc_id"), explode(chars).as("ch"))
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
    val perDoc = counts.groupBy($"doc_id")
      .agg(sum($"c").as("n"),
        count(lit(1)).as("n_distinct_chars"),
        max($"c").as("_maxc"),
        sum($"c" * ($"c" - 1)).as("_coll"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n", lit(0L)).as("n_chars"),
        coalesce($"n_distinct_chars", lit(0L)).as("n_distinct_chars"),
        coalesce(expr("(10000 * _maxc) div n"), lit(0L)).as("top_share_bp"),
        coalesce(when($"n" >= 2,
          expr("(10000 * _coll) div (n * (n - 1))")), lit(0L))
          .as("simpson_bp"))
  }

  def ngramNovelty(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(wordNgrams(tokens(col(textCol)), n))).as("gram"))
      .persistScoped // read twice: df aggregate + per-doc join-back
    val dfreq = grams.groupBy($"gram").agg(count(lit(1)).as("_df"))
    val perDoc = grams
      .join(dfreq, Seq("gram"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"_df" === 1, 1L).otherwise(0L)).as("n_exclusive"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_exclusive", lit(0L)).as("n_exclusive"),
        when(coalesce($"n_grams", lit(0L)) === 0, lit(0L))
          .otherwise(floor(lit(10000.0) * $"n_exclusive" / $"n_grams")
            .cast("long")).as("novelty_bp"))
  }

  /** Pairwise source-vocabulary similarity: squared cosine between each
    * pair of per-source unigram frequency vectors, in exact basis points
    * — "which sources carry the same distribution" (redundant-source
    * detection for data mixing; the vector-space companion to the
    * segment-containment [[graft.ext.Dedup.sourceOverlap]] and the
    * per-source-vs-corpus [[mixKlDrift]]).
    *
    * Squared cosine keeps the statistic RATIONAL (plain cosine needs a
    * square root, which is not bit-reproducible across engines):
    * `cos2_bp = ⌊10⁴·(Σaᵢbᵢ)² ∕ (Σaᵢ²·Σbᵢ²)⌋` over term shares
    * quantized to q6 (`⌊10⁶·count∕total⌋`, zero-share terms dropped).
    * Quantized shares make every magnitude CORPUS-SIZE-INDEPENDENT:
    * Σs² ≤ 10¹², so (Σab)² ≤ 10²⁴ and 10⁴·(Σab)² ≤ 10²⁸ — inside
    * decimal(38,0) at any corpus size; the `div` is Spark's
    * IntegralDivide over decimals ≡ DuckDB `//` over HUGEINT.
    *
    * Scale shape: one (source, term) map-side-combined count, totals
    * broadcast back, one term-keyed self-join of the share vectors
    * (bucket per term = docs-with-that-term across ≤|S| sources), one
    * pair aggregate, norms broadcast. No all-pairs product over rows
    * ever exists; the output is |S|·(|S|−1)∕2 rows. */
  def sourceCosine(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val cnt = docs
      .select(col(srcCol).as("src"), explode(tokens(col(textCol))).as("w"))
      .where($"w" =!= "")
      .groupBy($"src", $"w").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy($"src").agg(sum($"c").as("n"))
    val sh = cnt.join(broadcast(tot), Seq("src"))
      .select($"src", $"w", expr("(1000000 * c) div n").as("s"))
      .where($"s" > 0L)
      .persistScoped // read three times: two join sides + norms
    val norms = sh.groupBy($"src").agg(sum($"s" * $"s").as("n2"))
    sh.toDF("src_a", "w", "s_a")
      .join(sh.toDF("src_b", "w", "s_b"), Seq("w"))
      .where($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_common"), sum($"s_a" * $"s_b").as("_sab"))
      .join(broadcast(norms.toDF("src_a", "_na")), Seq("src_a"))
      .join(broadcast(norms.toDF("src_b", "_nb")), Seq("src_b"))
      .select($"src_a", $"src_b", $"n_common",
        expr("""(cast(10000 as decimal(38,0)) *
                 cast(_sab as decimal(38,0)) * cast(_sab as decimal(38,0)))
                div (cast(_na as decimal(38,0)) * cast(_nb as decimal(38,0)))
             """).as("cos2_bp"))
  }

  /** Keyness — the top-k most DISTINCTIVE terms per source, ranked by
    * frequency lift over the corpus: `lift_bp = ⌊10⁴·ss ∕ max(sg,1)⌋`
    * where ss = the term's q6 share within the source and sg = its q6
    * share corpus-wide (both ⌊10⁶·count∕total⌋ — staged quantization
    * keeps every product ≤ 10¹⁶ regardless of corpus size). `minCount`
    * suppresses one-off noise terms; ties break lexicographically so
    * the cut is deterministic.
    *
    * Scale shape: the mixKlDrift aggregate family — one (source, term)
    * map-side-combined count read twice (per-source and global rollups
    * derive from it, never a second corpus pass), totals broadcast, and
    * a per-source top-k window (WindowGroupLimit pushes the rank cut
    * below the sort). */
  def keyness(docs: DataFrame, k: Int = 5, minCount: Long = 5,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val srcCnt = docs
      .select(col(srcCol).as("src"), explode(tokens(col(textCol))).as("w"))
      .where($"w" =!= "")
      .groupBy($"src", $"w").agg(count(lit(1)).as("c"))
      .persistScoped // read twice: per-source shares + global rollup
    val srcTot = srcCnt.groupBy($"src").agg(sum($"c").as("st"))
    val globCnt = srcCnt.groupBy($"w").agg(sum($"c").as("gc"))
    val globTot = srcCnt.agg(sum($"c").as("gt"))
    val lifted = srcCnt
      .where($"c" >= minCount)
      .join(broadcast(srcTot), Seq("src"))
      .join(globCnt, Seq("w"))
      .crossJoin(broadcast(globTot))
      .select($"src", $"w", $"c",
        expr("(10000 * ((1000000 * c) div st)) div greatest((1000000 * gc) div gt, 1)")
          .as("lift_bp"))
    lifted
      .withColumn("rank",
        row_number().over(Window.partitionBy($"src")
          .orderBy($"lift_bp".desc, $"w".asc)).cast("long"))
      .where($"rank" <= k)
      .select($"src".as("source"), $"rank", $"w".as("term"),
        $"c".as("n"), $"lift_bp")
  }

  /** Corpus length profile: per source × log₂ token-length bucket, the
    * doc count, token mass, and bucket bounds — the readout that sizes
    * sequence packing / truncation policy ("how much of source X is
    * long-tail documents"). The bucket is the BIT LENGTH of the token
    * count (`length(bin(n))`, = ⌊log₂ n⌋+1 for n ≥ 1; empty docs take
    * bucket 0) — exact integer log-bucketing both engines spell
    * identically, no float log₂ anywhere. */
  /** ROUGE-style clipped n-gram overlap for candidate∕reference text
    * PAIRS (Lin 2004, "ROUGE: a package for automatic evaluation of
    * summaries") — the eval-pipeline readout for generated-vs-gold
    * text: for n ∈ {1, 2}, clipped overlap = Σ_gram min(count_cand,
    * count_ref), precision = overlap ∕ |cand n-grams|, recall =
    * overlap ∕ |ref n-grams|, F1 harmonic — all in integer basis
    * points (counts are exact integers; `div` ≡ `//`, every operand
    * non-negative, so no float and no sign split anywhere).
    *
    * Output: one row per (pair, n): `(pair_id, n, cand_ngrams,
    * ref_ngrams, overlap, prec_bp, rec_bp, f1_bp)`; a side with zero
    * n-grams scores 0 by convention.
    *
    * Scale shape: per-pair token work only — explode → one
    * map-side-combinable gram count per side, one equi-join on
    * (pair, n, gram) for the clipped sum (grams absent from either
    * side contribute 0, so the join is INNER), totals read off array
    * sizes. No global state, no window, no collect: 100 TB of pairs
    * shard by pair_id. */
  def rougeOverlap(pairs: DataFrame, pairIdCol: String = "pair_id",
      candCol: String = "cand", refCol: String = "ref"): DataFrame = {
    def uni(c: Column): Column = filter(tokens(c), w => w =!= "")
    def bi(t: Column): Column =
      when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (x, y) => concat(x, lit(" "), y)))
        .otherwise(array().cast("array<string>"))
    val base = pairs
      .select(col(pairIdCol).cast("long").as("pid"),
        uni(col(candCol)).as("c1"), uni(col(refCol)).as("r1"))
      .select($"pid", $"c1", $"r1", bi($"c1").as("c2"), bi($"r1").as("r2"))
      .persistScoped // read for both gram sides and the totals
    def grams(col1: String, col2: String, cnt: String): DataFrame =
      base.select($"pid", lit(1L).as("n"), explode(col(col1)).as("g"))
        .unionByName(
          base.select($"pid", lit(2L).as("n"), explode(col(col2)).as("g")))
        .groupBy($"pid", $"n", $"g").agg(count(lit(1)).as(cnt))
    val overlap = grams("c1", "c2", "ca")
      .join(grams("r1", "r2", "cb"), Seq("pid", "n", "g"))
      .groupBy($"pid", $"n").agg(sum(least($"ca", $"cb")).as("overlap"))
    val totals = base.select($"pid", lit(1L).as("n"),
        size($"c1").cast("long").as("cand_ngrams"),
        size($"r1").cast("long").as("ref_ngrams"))
      .unionByName(base.select($"pid", lit(2L).as("n"),
        size($"c2").cast("long").as("cand_ngrams"),
        size($"r2").cast("long").as("ref_ngrams")))
    totals.join(overlap, Seq("pid", "n"), "left_outer")
      .select($"pid".as("pair_id"), $"n", $"cand_ngrams", $"ref_ngrams",
        coalesce($"overlap", lit(0L)).as("overlap"))
      .withColumn("prec_bp", when($"cand_ngrams" > 0L,
        expr("(10000 * overlap) div cand_ngrams")).otherwise(0L))
      .withColumn("rec_bp", when($"ref_ngrams" > 0L,
        expr("(10000 * overlap) div ref_ngrams")).otherwise(0L))
      .withColumn("f1_bp", when($"prec_bp" + $"rec_bp" > 0L,
        expr("(2 * prec_bp * rec_bp) div (prec_bp + rec_bp)"))
        .otherwise(0L))
  }

  def lengthProfile(docs: DataFrame, srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val n = size(filter(tokens(col(textCol)), w => w =!= ""))
    docs
      .select(col(srcCol).as("source"), n.cast("long").as("_n"))
      .select($"source", $"_n",
        when($"_n" === 0L, lit(0L))
          .otherwise(length(bin($"_n")).cast("long")).as("bucket"))
      .groupBy($"source", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"_n").as("n_tokens"),
        min($"_n").as("min_len"), max($"_n").as("max_len"))
  }
}
