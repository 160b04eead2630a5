package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vocabulary-based tokenization: build a piece vocabulary from the
  * corpus, then encode every document to token ids — the "apply the
  * tokenizer at scale" step between BPE training ([[TextStats.vocabPairs]]
  * is one training statistic) and sequence packing
  * ([[Sampling.packSequences]] consumes the resulting counts).
  *
  * Scale shape: the vocabulary is bounded by construction (`size`
  * entries — a tokenizer vocab is 32–256k in practice), so it is a
  * legitimate bounded driver materialization, exactly like IVF
  * centroids. The encode pass then rides the collected vocab into a
  * MAP LITERAL inside a narrow expression — zero joins, zero
  * shuffles, one codegen'd scan pass per document. Encoding 100 TB is
  * a map-only job; only the vocab build aggregates (one map-side
  * combined count + a TakeOrdered top-k).
  */
object Vocab {

  /** Top-`size` pieces by (count DESC, piece ASC — deterministic cut),
    * ids assigned by rank starting at 1 (0 is reserved for OOV).
    * Plans as TakeOrderedAndProject over a partial-aggregated count:
    * no full sort, no full vocabulary shuffle to one node. */
  def buildVocab(docs: DataFrame, size: Int,
      textCol: String = "text"): Map[String, Int] = {
    require(size >= 1, s"size must be >= 1, got $size")
    docs
      .select(explode(TextStats.pieces(col(textCol))).as("piece"))
      .groupBy($"piece").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"piece".asc)
      .limit(size)
      .select($"piece")
      .collect()
      .iterator
      .zipWithIndex
      .map { case (r, i) => r.getString(0) -> (i + 1) }
      .toMap
  }

  /** Greedy left-to-right application of ONE merge to a symbol array:
    * a fold that replaces a trailing `l` followed by `r` with the
    * merged symbol — consumption of the left element makes overlapping
    * matches (l == r runs) resolve exactly as sequential BPE does. */
  private def mergeFold(syms: org.apache.spark.sql.Column,
      l: String, r: String): org.apache.spark.sql.Column =
    aggregate(syms, typedLit(Array.empty[String]),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** BPE merge training (Sennrich et al., ACL 2016): run `rounds`
    * merge iterations over the corpus and return the learned merge
    * table — (round, lhs, rhs, n) per iteration, the exact artifact a
    * BPE tokenizer ships. [[TextStats.vocabPairs]] ranks ONE round's
    * statistic; this trains the merge sequence.
    *
    * Works the way real trainers do: on the DISTINCT-WORD frequency
    * table, not the corpus — one corpus scan builds (word, cnt), and
    * every round after that touches only the vocabulary-bounded word
    * table (millions of rows at 100 TB, vs the corpus' trillions).
    * Each round = one map-side-combined pair count + a
    * TakeOrderedAndProject top-1 (a 1-row bounded driver
    * materialization — the tie-break is (count DESC, pair ASC), so the
    * cut is deterministic), then a NARROW greedy left-to-right merge
    * fold over each word's symbol array — no shuffle in the apply
    * step, and words reduced to one symbol drop out (they can never
    * pair again). Each round's word table is a [[graft.ops.Iterate]]
    * loop barrier, so lineage stays flat and the superseded table is
    * freed; the merge table is built on the driver, so nothing stays
    * cached once training returns.
    *
    * `wordPattern` keeps training on ASCII-safe words by default
    * (cross-engine substring semantics on multi-byte text differ;
    * the operator itself is agnostic). Stops early if the corpus runs
    * out of pairs, so an empty corpus trains zero merges. */
  def bpeMerges(docs: DataFrame, rounds: Int, textCol: String = "text",
      wordPattern: String = "^[a-z]+$"): DataFrame = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1, 64], got $rounds")
    val spark = docs.sparkSession
    val merges = graft.ops.Iterate.loop("bpeMerges", rounds) { l =>
      var next = docs
        .select(explode(TextStats.tokens(col(textCol))).as("w"))
        .filter($"w".rlike(wordPattern) && length($"w") >= 2)
        .groupBy($"w").agg(count(lit(1)).as("cnt"))
        .select($"cnt",
          transform(sequence(lit(1), length($"w")), i => $"w".substr(i, lit(1)))
            .as("syms"))
      val out = Seq.newBuilder[(Long, String, String, Long)]
      var exhausted = false
      while (!exhausted && l.rounds < rounds) {
        val r = l.round(next) + 1
        val cur = graft.ops.Iterate.loopBarrier(next)
        val top = cur
          .select($"cnt", explode(
            transform(sequence(lit(1), size($"syms") - 1),
              i => struct(element_at($"syms", i).as("l"),
                element_at($"syms", i + 1).as("r")))).as("p"))
          .groupBy($"p.l", $"p.r").agg(sum($"cnt").as("n"))
          .orderBy($"n".desc, $"l".asc, $"r".asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (lhs, rhs, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          out += ((r.toLong, lhs, rhs, n))
          next = cur.select($"cnt", mergeFold($"syms", lhs, rhs).as("syms"))
            .filter(size($"syms") >= 2)
        }
      }
      out.result()
    }
    spark.createDataFrame(merges).toDF("round", "lhs", "rhs", "n")
  }

  /** Apply a learned BPE merge sequence (from [[bpeMerges]]) to every
    * document — the tokenize-at-scale half of the train→apply pair.
    * Returns one row per doc: `(doc_id, n_words, n_pieces,
    * pieces_csv)` with the first `headPieces` pieces in document order
    * as a csv preview (the bounded output shape the driver's
    * comparator can hash; library callers re-derive the full piece
    * array from the same dictionary).
    *
    * DICTIONARY-APPLY shape — the only way this scales: merges fold
    * over the DISTINCT word table (vocabulary-bounded), never per
    * occurrence, and documents pick up their pieces through one equi
    * join on the word. The fold chain is narrow (k nested folds in one
    * projection); words not matching `wordPattern` pass through as a
    * single piece (the byte-fallback analogue). Zero merges is valid:
    * every matching word encodes as its characters. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      headPieces: Int = 32, idCol: String = "doc_id",
      textCol: String = "text",
      wordPattern: String = "^[a-z]+$"): DataFrame = {
    require(headPieces >= 1, s"headPieces must be >= 1, got $headPieces")
    val docWords = docs.select(col(idCol),
      posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "w")))
    val syms0 = transform(sequence(lit(1), length($"w")),
      i => $"w".substr(i, lit(1)))
    val dict = docWords.filter($"w".rlike(wordPattern))
      .select($"w").distinct()
      .select($"w",
        merges.foldLeft(syms0) { case (s, (l, r)) => mergeFold(s, l, r) }
          .as("pieces"))
    docWords.join(dict, Seq("w"), "left")
      .select(col(idCol), $"pos",
        coalesce($"pieces", array($"w")).as("pieces"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size($"pieces")).as("n_pieces"),
        array_join(
          slice(flatten(transform(
            array_sort(collect_list(struct($"pos", $"pieces"))),
            s => s.getField("pieces"))), 1, headPieces), ",")
          .as("pieces_csv"))
  }

  /** Encode each document against `vocab`: ordered token ids (OOV → 0;
    * an empty vocab is valid and leaves every piece OOV).
    * Returns doc_id, `n_pieces`, `n_oov`, and `ids_csv` — the first
    * `headIds` ids as a csv string (the bounded preview shape the
    * driver's comparator can hash; the full id array stays available
    * via the `_ids` intermediate for library callers who re-select it).
    * Entirely narrow: the vocab map is a literal riding the task
    * binary, so the plan is scan → project, no exchange. */
  def encode(docs: DataFrame, vocab: Map[String, Int], headIds: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(headIds >= 1, s"headIds must be >= 1, got $headIds")
    val m = typedLit(vocab)
    docs
      .withColumn("_ids",
        transform(TextStats.pieces(col(textCol)),
          p => coalesce(element_at(m, p), lit(0))))
      .select(
        col(idCol),
        size($"_ids").cast("long").as("n_pieces"),
        size(filter($"_ids", i => i === 0)).cast("long").as("n_oov"),
        array_join(slice($"_ids", 1, headIds), ",").as("ids_csv"))
  }
}
