package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.CustomExpressions

/** The sample↔file linkage join — the reference's crown jewel
  * (`/root/reference/update_reads.py:64-163`, driver loop :184-338).
  *
  * Reference semantics reproduced exactly:
  *  - query id = `minicore_seq_id`; only the FIRST comma-separated id is
  *    ever probed (the reference's loop returns unconditionally after the
  *    first element — update_reads.py:78-130);
  *  - gate: `minicore_sequenced == "YES"` (update_reads.py:215-221);
  *  - tier 1: `{id}_` / `{id}-` / `{id}.` substring of file_name;
  *  - tier 2 (id contains `_`): id with `_`→`-`, same three patterns;
  *  - tier 3 (id contains `_`): id with `-` stripped, same patterns;
  *  - tier 2b (id contains `-`, no `_`): id with `-`→`_`, patterns
  *    `{q}` (bare contains — the reference's literal behavior), `{q}-`,
  *    `{q}.`;
  *  - earliest tier with ANY match wins (even if all its matches are
  *    later dropped by the `.gz` filter — the filter runs AFTER tier
  *    selection, update_reads.py:147);
  *  - per sample: `$addToSet` new file names, `received` = matched file
  *    mdate (reference takes list-order-first — nondeterministic; we pin
  *    min(mdate)), `filesize_sum` = Σ filesize over ALL matched files;
  *    matched reads get `orphan = false`.
  *
  * Physical strategy (SURVEY §4.3.1): the faithful predicate is a
  * substring-contains theta join → BroadcastNestedLoopJoin, fine when one
  * side is broadcast-size. For 100 TB the equi rewrite applies first:
  * filenames explode into separator-normalized token prefixes, sample ids
  * normalize the same way, and the match becomes a plain shuffle/broadcast
  * HASH join; only samples the equi pass missed fall back to the BNLJ.
  * LinkageSpec proves equi+fallback ≡ faithful BNLJ on the fixtures.
  */
object Linkage {

  /** Candidate (tier, pattern, bare-allowed) probes per sample. */
  def candidateKeys(samples: DataFrame,
      sampleCol: String = "sample_name",
      idCol: String = "minicore_seq_id"): DataFrame = {
    val firstId = split(col(idCol), ",").getItem(0)
    val t1 = struct(lit(1).as("tier"), firstId.as("key"), lit(false).as("bare"))
    val t2 = when(firstId.contains("_"),
      struct(lit(2).as("tier"), regexp_replace(firstId, "_", "-").as("key"),
        lit(false).as("bare")))
    val t3 = when(firstId.contains("_"),
      struct(lit(3).as("tier"), regexp_replace(firstId, "-", "").as("key"),
        lit(false).as("bare")))
    val t2b = when(!firstId.contains("_") && firstId.contains("-"),
      struct(lit(2).as("tier"), regexp_replace(firstId, "-", "_").as("key"),
        lit(true).as("bare")))
    samples
      .where(upper(col("minicore_sequenced")) === "YES")
      .where(col(idCol).isNotNull && lower(col(idCol)) =!= "nan")
      // explode, then drop the null tiers: a higher-order filter inside
      // the generator would keep the Generate out of whole-stage codegen
      .select(col(sampleCol), explode(array(t1, t2, t3, t2b)).as("probe"))
      .where(col("probe").isNotNull)
      .select(col(sampleCol), col("probe.tier").as("tier"),
        col("probe.key").as("key"), col("probe.bare").as("bare"))
  }

  /** The reference's contains predicate for one probe against file_name. */
  private def containsMatch(fileName: Column, key: Column, bare: Column): Column =
    fileName.contains(concat(key, lit("_"))) ||
      fileName.contains(concat(key, lit("-"))) ||
      fileName.contains(concat(key, lit("."))) ||
      (bare && fileName.contains(key))

  /** Faithful linkage: contains theta-join (BNLJ; broadcast the probes),
    * earliest matching tier per sample wins, `.gz` filter after. Output:
    * (sample_name, file_name, filesize, mdate, tier). */
  def linkFaithful(samples: DataFrame, reads: DataFrame,
      sampleCol: String = "sample_name"): DataFrame = {
    val probes = candidateKeys(samples, sampleCol)
    val matches = reads.join(broadcast(probes),
        containsMatch(col("file_name"), col("key"), col("bare")))
      .select(col(sampleCol), col("tier"), col("file_name"),
        col("filesize"), col("mdate"))
    bestTierThenGz(matches, sampleCol)
  }

  /** Tier selection (min tier with any match, BEFORE the gz filter), then
    * the `.gz` filter, then per-(sample,file) dedup. */
  private def bestTierThenGz(matches: DataFrame, sampleCol: String): DataFrame = {
    val w = Window.partitionBy(col(sampleCol))
    matches
      .withColumn("best_tier", min(col("tier")).over(w))
      .where(col("tier") === col("best_tier"))
      .where(col("file_name").endsWith(".gz"))
      .select(col(sampleCol), col("file_name"), col("filesize"), col("mdate"),
        col("tier"))
      .dropDuplicates(sampleCol, "file_name")
  }

  /** Separator-normalized form: strip `-`/`_`/`.` (so every tier variant
    * of an id collapses to one canonical key). */
  def normKey(c: Column): Column = regexp_replace(c, "[-_.]", "")

  /** Scalable path, stage 1: explode each file name into normalized token
    * SUBRANGES — every contiguous token run starting at any position, not
    * just leading prefixes (file `resub_CC131_SelS_R1.fastq.gz` → `resub`,
    * `resubCC131`, …, but also `CC131`, `CC131SelS`, `SelS`, …). A probe
    * whose id sits mid-name (`CC131_SelS` inside `resub_…`) therefore
    * still produces an equi candidate; prefix-only keys silently dropped
    * such files whenever the sample had any other equi hit. maxSpan bounds
    * the per-start run length (ids are short token sequences); key count
    * is ≈ tokens × maxSpan per file, dedup'd, and the result stays
    * equi-joinable like any hash join.
    *
    * The token array is projected once before the nested `transform`s:
    * interpreted HOF lambdas re-evaluate captured expressions per element,
    * so inlining `split` here would re-split the name O(tokens²) times. */
  def fileSubstringKeys(reads: DataFrame, maxSpan: Int = 8): DataFrame = {
    reads
      .select(col("file_name"), split(col("file_name"), "[._-]").as("toks"))
      .select(col("file_name"),
        explode(flatten(transform(sequence(lit(1), size(col("toks"))), start =>
          transform(sequence(start, least(size(col("toks")),
              start + lit(maxSpan - 1))),
            end => concat_ws("",
              slice(col("toks"), start, end - start + lit(1))))))).as("file_key"))
      .where(length(col("file_key")) > 0)
      .distinct()
  }

  /** Scalable linkage: equi join on normalized token-subrange keys, then
    * the faithful BNLJ only for samples the equi pass missed entirely.
    *
    * Completeness: subrange keys cover every token-ALIGNED match anywhere
    * in the name (prefix or mid-name), so the per-sample residual only
    * needs to rescue samples with zero candidates. The one remaining gap
    * vs pure substring semantics is a match starting mid-token (probe
    * `CC131` inside token `xCC131`) on a sample that also has an aligned
    * hit — not producible by the reference's `{id}_S#_...` naming; use
    * linkFaithful when exact substring fidelity matters more than scale. */
  def linkScalable(samples: DataFrame, reads: DataFrame,
      sampleCol: String = "sample_name"): DataFrame = {
    val probes = candidateKeys(samples, sampleCol)
      .withColumn("norm_key", normKey(col("key")))
    val fileKeys = fileSubstringKeys(reads)
    // Equi join = candidate blocking only; the faithful contains
    // predicate re-verifies every candidate (cheap, per-pair) so tier
    // assignment is exact — normalization alone would blur tiers.
    val equiMatches = fileKeys
      .join(probes, col("file_key") === col("norm_key"))
      .join(reads.select(col("file_name"), col("filesize"), col("mdate")), Seq("file_name"))
      .where(containsMatch(col("file_name"), col("key"), col("bare")))
      .select(col(sampleCol), col("tier"), col("file_name"),
        col("filesize"), col("mdate"))
    val equiLinked = bestTierThenGz(equiMatches, sampleCol)

    // Residual: samples that produced no equi match at all get the
    // faithful pass (small set; BNLJ is fine by construction).
    val matchedSamples = equiMatches.select(col(sampleCol)).distinct()
    val residualSamples = samples.join(matchedSamples, Seq(sampleCol), "left_anti")
    val residualLinked = linkFaithful(residualSamples, reads, sampleCol)

    equiLinked.unionByName(residualLinked)
  }

  /** Per-sample aggregates of a linkage result (update_reads.py:237-273):
    * sorted distinct file list, received = min(mdate) [pinned ordering],
    * filesize_sum over all matched files. */
  def aggregates(linked: DataFrame, sampleCol: String = "sample_name"): DataFrame =
    linked.groupBy(col(sampleCol))
      .agg(
        sort_array(collect_set(col("file_name"))).as("files"),
        min(col("mdate")).as("received"),
        sum(col("filesize")).as("filesize_sum"))

  /** J4 — conflict resolution (update_reads.py:166-181, solve_conflict):
    * a file matched by >1 sample goes to the sample with the highest
    * fuzz.ratio(sample_name, file_name); ties break by name (the
    * reference inherits dict order — we pin lexicographic). Returns the
    * linkage result with losers removed. */
  def resolveConflicts(linked: DataFrame, sampleCol: String = "sample_name"): DataFrame = {
    val w = Window.partitionBy(col("file_name"))
      .orderBy(desc("score"), col(sampleCol))
    linked
      .withColumn("score",
        CustomExpressions.fuzz_ratio(col(sampleCol), col("file_name")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("score", "rn")
  }

  /** Mark matched reads non-orphan (update_reads.py:275-284). */
  def markOrphans(reads: DataFrame, linked: DataFrame): DataFrame = {
    val matched = linked.select(col("file_name")).distinct()
      .withColumn("matched", lit(true))
    reads.join(matched, Seq("file_name"), "left")
      .withColumn("orphan", coalesce(!col("matched"), lit(true)))
      .drop("matched")
  }

  /** One Fellegi–Sunter comparator: field name plus the m (P(agree |
    * match)) and u (P(agree | non-match)) probabilities. Weights are
    * fixed at q6 INTEGER literals in Scala — ⌊10⁶·ln(m∕u)⌋ on
    * agreement, ⌊10⁶·ln((1−m)∕(1−u))⌋ on disagreement — so the score
    * is a portable integer sum (the SPRT-constant trick; no EM loop,
    * weights are the caller's priors as in production deterministic-
    * plus-probabilistic linkage stacks). */
  final case class FsComparator(field: String, m: Double, u: Double) {
    require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
      s"need 0 < u < m < 1, got m=$m u=$u for $field")
    val wAgreeQ6: Long = math.floor(1e6 * math.log(m / u)).toLong
    val wDisagreeQ6: Long = math.floor(1e6 * math.log((1 - m) / (1 - u))).toLong
  }

  /** Probabilistic record linkage scoring (Fellegi & Sunter, JASA
    * 1969) over a BLOCKED self-join: candidate pairs share the block
    * key (never all-pairs — the blocking discipline every linkage
    * stack at scale lives by), each comparator contributes its
    * agreement or disagreement log-likelihood weight, and the summed
    * score classifies the pair against the caller's upper/lower
    * thresholds: `match` ≥ upper, `non_match` ≤ lower, `possible`
    * between (the clerical-review band).
    *
    * Agreement is both-non-null equality; a null on either side is a
    * DISAGREEMENT (the conservative production default — missing data
    * must not manufacture matches).
    *
    * Scale shape: one equi-shuffle on the block key builds candidates;
    * comparator arithmetic is narrow codegen; the output is
    * pair-bounded by the block sizes, which the caller controls by
    * choosing the key (exactly the hot-bucket story of the dedup
    * family). Skewed blocks → salt the key upstream or AQE. */
  def fellegiSunterSelf(df: DataFrame, idCol: String,
      blockCols: Seq[String], comparators: Seq[FsComparator],
      upperQ6: Long, lowerQ6: Long): DataFrame = {
    require(blockCols.nonEmpty, "blocked linkage needs a block key")
    require(comparators.nonEmpty, "need at least one comparator")
    require(upperQ6 >= lowerQ6, s"upper $upperQ6 < lower $lowerQ6")
    val fields = comparators.map(_.field)
    val base = df.select((idCol +: (blockCols ++ fields)).distinct
      .map(col): _*)
    val a = base.select(col(idCol).as("id_a") +:
      (blockCols.map(col) ++ fields.map(f => col(f).as(s"_a_$f"))): _*)
    val b = base.select(col(idCol).as("id_b") +:
      (blockCols.map(col) ++ fields.map(f => col(f).as(s"_b_$f"))): _*)
    val scored = a.join(b, blockCols)
      .where(col("id_a") < col("id_b"))
      .withColumn("score_q6", comparators.map { c =>
        when(col(s"_a_${c.field}").isNotNull &&
            col(s"_b_${c.field}").isNotNull &&
            col(s"_a_${c.field}") === col(s"_b_${c.field}"),
          lit(c.wAgreeQ6)).otherwise(lit(c.wDisagreeQ6))
      }.reduce(_ + _))
      .withColumn("n_agree", comparators.map { c =>
        when(col(s"_a_${c.field}").isNotNull &&
            col(s"_b_${c.field}").isNotNull &&
            col(s"_a_${c.field}") === col(s"_b_${c.field}"),
          lit(1L)).otherwise(lit(0L))
      }.reduce(_ + _))
      .withColumn("verdict",
        when(col("score_q6") >= upperQ6, "match")
          .when(col("score_q6") <= lowerQ6, "non_match")
          .otherwise("possible"))
    scored.select((Seq("id_a", "id_b").map(col) ++ blockCols.map(col) ++
      Seq(col("score_q6"), col("n_agree"), col("verdict"))): _*)
  }
}
