package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag corpus documents that share
  * fingerprinted substrings with an evaluation/probe set — the standard
  * n-gram-overlap decontamination every serious training corpus runs
  * (GPT-3 13-gram dedup, Dolma's paragraph dedup are this exact shape).
  *
  * Mechanism: winnowing fingerprints ([[TextStats.winnowFingerprints]])
  * on both sides guarantee any shared substring of length ≥ k + w − 1
  * yields a shared fingerprint, so a (corpus ⋈ probe ON fingerprint)
  * equi-join finds every overlap ≥ that length with NO all-pairs work —
  * the join is bucketed by fingerprint value exactly like an LSH band
  * join. Counting distinct shared fingerprints per (doc, probe) and
  * thresholding turns raw hash collisions into an overlap score.
  *
  * Scale shape: explode is narrow; the only shuffle is the fingerprint
  * equi-join plus the (doc, probe) count — both hash-partitioned, both
  * linear in fingerprint volume (~2/(w+1) of the k-grams). Ubiquitous
  * boilerplate fingerprints create hot keys at corpus scale: cap them
  * with `maxDf` (drop fingerprints present in more than maxDf corpus
  * docs — the decontamination analogue of stop-words; a fingerprint
  * that common is boilerplate, not benchmark leakage). Default off for
  * oracle parity. */
object Contamination {

  /** @param excludeSelfIds drop (corpus_id == probe_id) pairs. ONLY
    *   correct when probes are drawn from the corpus itself (shared id
    *   space, as in `ext_decontaminate`); an eval set with its own id
    *   sequence must pass false, or a corpus doc that genuinely leaked
    *   probe #42's text while also being numbered 42 would be reported
    *   clean. */
  def overlaps(corpus: DataFrame, probes: DataFrame, minShared: Int,
      k: Int = 5, w: Int = 4, maxDf: Long = Long.MaxValue,
      excludeSelfIds: Boolean = true,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cf = spreadToSlots(corpus, idCol).select(col(idCol).as("corpus_id"),
      explode(TextStats.winnowFingerprints(col(textCol), k, w)).as("fp"))
    val capped =
      if (maxDf == Long.MaxValue) cf
      else {
        // document frequency per fingerprint; the cap drops hot keys
        // BEFORE the probe join so the skewed shuffle never happens.
        // cf is persisted because BOTH the df aggregation and the
        // anti-join left side consume it — without the barrier the
        // corpus scan + winnow-kernel explode (the dominant stage)
        // would run twice.
        val cfP = cf.persistScoped
        val df = cfP.groupBy($"fp").agg(countDistinct($"corpus_id").as("_df"))
        cfP.join(broadcast(df.where($"_df" > maxDf)), Seq("fp"), "left_anti")
      }
    val pf = probes.select(col(idCol).as("probe_id"),
      explode(TextStats.winnowFingerprints(col(textCol), k, w)).as("fp"))
    val joined = capped.join(pf, Seq("fp"))
    val nonSelf =
      if (excludeSelfIds) joined.where($"corpus_id" =!= $"probe_id") else joined
    nonSelf
      .groupBy($"corpus_id", $"probe_id")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= minShared)
  }
}
