package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / dataset-splitting operators for
  * training-data pipelines: ablation subsets, train/val/test splits,
  * per-language mixing rates.
  *
  * Everything keys off an md5-derived bucket of the ROW KEY, never a
  * random number: the same row lands in the same subset on every run,
  * on every engine, regardless of partitioning — which is what makes
  * splits reproducible across reshuffles and incremental re-runs (a
  * `rand()` sample changes membership whenever Spark re-executes the
  * stage, and can't be oracle-checked at all). Buckets are basis points
  * (1/10000) so rates like 0.25 % are exact.
  *
  * Scale shape: pure narrow expressions — the sample/split is decided
  * per row at scan speed with zero shuffle; a stratified rate lookup
  * broadcasts. */
object Sampling {

  /** md5-derived uniform bucket in [0, 10000). The key is stringified
    * first (a bigint key must hash its DECIMAL form, not raw bytes, to
    * match `md5(key::VARCHAR)` in any SQL engine). A NULL key buckets
    * to NULL and therefore falls out of every sample/split — coalesce
    * the key upstream if null-keyed rows must be retained. */
  def hashBucket(key: Column): Column =
    pmod(conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(10000L))

  /** Deterministic sample: keep rows whose bucket falls below
    * `rateBp` basis points (rateBp = 1000 ⇒ 10 %). */
  def hashSample(df: DataFrame, keyCol: String, rateBp: Int): DataFrame =
    df.where(hashBucket(col(keyCol)) < rateBp)

  /** Per-ROW-rate deterministic sample: keep a row iff its md5 bucket
    * falls under `rateBp`, an arbitrary basis-point EXPRESSION — the
    * generalization of [[hashSample]] (constant rate) and
    * [[stratifiedSample]] (per-stratum rate) to a per-row keep
    * probability, e.g. rate ∝ a model quality score so the sample
    * up-weights what the classifier likes while staying bit-for-bit
    * reproducible (same key ⇒ same verdict on every run and engine).
    * Rates clamp to [0, 10000]; a NULL key falls out per the
    * [[hashBucket]] contract. Pure narrow filter, zero shuffle. */
  def weightedSample(df: DataFrame, keyCol: String, rateBp: Column): DataFrame =
    df.where(hashBucket(col(keyCol)) <
      greatest(lit(0), least(lit(10000), rateBp)))

  /** Deterministic split assignment: cumulative bucket ranges over
    * (label, basisPoints) weights, e.g. Seq(("train",8000), ("val",1000),
    * ("test",1000)). Weights must sum to ≤ 10000; rows past the total
    * get the last label (guards rounding). A NULL key yields a NULL
    * split — honoring [[hashBucket]]'s null-falls-out contract instead
    * of silently landing null-keyed rows in the final label (the
    * un-guarded CASE would); coalesce the key upstream to retain them. */
  def splitAssign(key: Column, splits: Seq[(String, Int)]): Column = {
    require(splits.nonEmpty && splits.map(_._2).sum <= 10000,
      "split weights are basis points and must sum to <= 10000")
    val b = hashBucket(key)
    val cuts = splits.scanLeft(0)(_ + _._2).tail
    val assigned = splits.zip(cuts).dropRight(1).foldRight(lit(splits.last._1): Column) {
      case (((label, _), cut), acc) => when(b < cut, lit(label)).otherwise(acc)
    }
    when(b.isNotNull, assigned)
  }

  /** Stratified deterministic sample: per-stratum rates in basis points
    * (e.g. lang → rate for language re-balancing), `defaultBp` for
    * strata not in the map. The rate table is tiny and inlined into the
    * expression — no join at all. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Int], defaultBp: Int): DataFrame = {
    val rate = rates.foldRight(lit(defaultBp): Column) {
      case ((stratum, bp), acc) => when(col(strataCol) === stratum, lit(bp)).otherwise(acc)
    }
    df.where(hashBucket(col(keyCol)) < rate)
  }

  /** Sequence packing — assign documents to fixed-token-budget training
    * sequences by CONTIGUOUS fill in id order:
    * `seq_id = exclusive_prefix_sum(n_tokens) div budget`. Whole docs
    * are assigned (a doc straddling a boundary belongs to the sequence
    * its first token falls in); splitting straddlers is a trivial
    * downstream refinement, the hard part at scale is the ordered
    * global prefix sum — and a bare `Window.orderBy` computes it by
    * dragging the WHOLE corpus into one partition. This is the textbook
    * two-phase distributed scan instead:
    *
    *  1. range-partition by id, sort within partitions, persist — the
    *     persist is LOAD-BEARING: `repartitionByRange` samples its
    *     boundaries per action, and the totals pass and the assignment
    *     pass must observe the SAME partitioning;
    *  2. one tiny job collects per-partition token totals (P longs to
    *     the driver), whose prefix sums become per-partition offsets;
    *  3. each partition independently scans its sorted rows, carrying
    *     `offset + running` — narrow, no second shuffle.
    *
    * Output bins are a pure function of (id → n_tokens), independent of
    * partition boundaries — reproducible across runs, cluster sizes,
    * and engines (the oracle is a plain windowed prefix sum). Ids must
    * be unique: ties have no defined order in either formulation. */
  def packSequences(docs: DataFrame, budgetTokens: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    val sess = docs.sparkSession
    import sess.implicits.newProductEncoder
    val nPart = math.max(1, sess.sessionState.conf.numShufflePartitions)
    val ranged = docs
      .select(col(idCol).cast("long").as("_id"),
        TextStats.tokenCount(TextStats.tokens(col(textCol))).cast("long").as("_n"))
      .repartitionByRange(nPart, col("_id"))
      .sortWithinPartitions("_id")
      .persistScoped
      .as[(Long, Long)]
    val totals = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      var s = 0L
      it.foreach(s += _._2)
      Iterator.single((pid, s))
    }.collect().toMap
    val offsets = (0 until nPart).scanLeft(0L)(_ + totals.getOrElse(_, 0L)).toArray
    val bOff = sess.sparkContext.broadcast(offsets)
    ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      var run = bOff.value(pid)
      it.map { case (id, n) =>
        val exclusive = run
        run += n
        (id, n, exclusive / budgetTokens)
      }
    }.toDF(idCol, "n_tokens", "seq_id")
  }

  /** Temperature-scaled mixture resampling — the "data mixing" op that
    * rebalances a multi-source corpus toward `count^alpha`-proportional
    * shares (alpha = 1 keeps the natural mix, alpha = 0 is uniform,
    * 0.5 is the standard multilingual-temperature compromise) by
    * DOWN-sampling only (no row is ever duplicated):
    *
    *  - target share of source s:  w_s = n_s^alpha / Σ n_t^alpha
    *  - feasible total: N* = min_s floor(n_s / w_s)  (the largest total
    *    where no source needs upsampling)
    *  - keep-rate of s in basis points: floor(10^4 · w_s · N* / n_s)
    *
    * The per-source counts are a BOUNDED driver materialization (one
    * map-side-combined aggregate; sources are a rate-table-sized set,
    * same class as [[stratifiedSample]]'s map). Rates are derived in
    * exact BigInt arithmetic over `floor(n^alpha · 1000)` integer
    * weights, so the basis points are identical in any engine — and the
    * row filter is [[hashBucket]], so membership is deterministic too.
    * The filter itself is a narrow inlined-rate scan: zero shuffle,
    * zero joins, exactly like [[stratifiedSample]].
    *
    * alpha = 0.5 uses `sqrt` (IEEE-exact, bit-identical across
    * engines); other alphas go through `pow`, which may differ by an
    * ulp between libm builds — fine for training mixes, but pin 0.5 for
    * cross-engine hash checks. */
  def mixtureSample(df: DataFrame, keyCol: String, srcCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1], got $alpha")
    val rates = mixtureRates(df, srcCol, alpha)
    stratifiedSample(df, keyCol, srcCol, rates, defaultBp = 0)
  }

  /** The per-source basis-point keep-rates [[mixtureSample]] applies —
    * exposed so a pipeline can log/inspect the mix it is about to cut. */
  def mixtureRates(df: DataFrame, srcCol: String,
      alpha: Double = 0.5): Map[String, Int] = {
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sqi = counts.map { case (s, n) =>
      val w = if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
      s -> BigInt(math.floor(w * 1000.0).toLong)
    }
    val total = sqi.values.sum
    val nStar = counts.map { case (s, n) => BigInt(n) * total / sqi(s) }.min
    counts.map { case (s, n) =>
      val bp = BigInt(10000) * sqi(s) * nStar / (total * BigInt(n))
      s -> bp.min(BigInt(10000)).toInt
    }
  }

  /** Per-group cap — the C4/Dolma "at most k documents per domain"
    * guard against a single source dominating the mix. Deterministic:
    * within a group, rows rank by (md5 of the key, key) — a reproducible
    * pseudo-random order, so the kept k are a stable uniform draw rather
    * than whatever k arrived first. Scale shape (r11): the naive
    * per-group window sorts each whole group in one task no matter the
    * cluster size (AQE cannot split a window partition); rows are
    * instead pre-pruned through bucketed hash-prefix counts so the
    * per-group rank runs on ~(k + one bucket) survivors. */
  def capPerGroup(df: DataFrame, keyCol: String, groupCol: String,
      k: Int, buckets: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    // Pre-prune via bucketed hash-prefix counts ([[graft.ops
    // .GroupedPrefix]]): a row with >= k predecessors in strictly-lower
    // buckets can never make the cap, and since bucketing is monotone
    // in the order key the pruned rows are a SUFFIX of the order — the
    // survivors are a prefix, so row_number over the pruned frame IS
    // the true rank. The per-group window then ranks ~(k + one bucket)
    // rows instead of the whole group (a 20-source corpus would
    // otherwise sort n/20 rows per task no matter the cluster size).
    // The numeric value of the first 15 hex chars is monotone in the
    // md5 string, and equal prefixes share a bucket — order-consistent.
    val hashed = df
      .withColumn("_h", md5(col(keyCol).cast("string").cast("binary")))
      .withColumn("_hv",
        expr("cast(conv(substring(_h, 1, 15), 16, 10) as bigint)"))
    val withOff = graft.ops.GroupedPrefix.withBucketOffsets(hashed,
      Seq(groupCol), "_hv", count(lit(1)), "_coff", buckets)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("_h"), col(keyCol))
    withOff
      .where(coalesce(col("_coff"), lit(0L)) < k)
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= k)
      .select(df.columns.map(col): _*) // the caller's schema, untouched
  }

  /** Deterministic global shuffle + sharding for training-data output:
    * `shard` = md5-hash of the row key mod nShards, `pos` = the row's
    * rank within its shard by (md5 hex, key). Together they define a
    * reproducible pseudo-random permutation of the corpus — what a
    * training run needs from "shuffle the data into N shards" — with no
    * global sort: the only wide op is one hash-partitioned window, and
    * each shard sorts independently (at 100 TB: nShards ≥ executors and
    * AQE splits any skew; md5 makes skew all but impossible). */
  /** Weighted sampling WITHOUT replacement — the deterministic form of
    * the Efraimidis–Spirakis A-ES scheme: each row draws the md5-uniform
    * `u = (bucket + 1)/10001 ∈ (0, 1)` from its OWN key and exposes
    * `score_q8 = ⌊(−ln u)/w · 10⁸⌋`; the k smallest scores are the
    * sample (equivalent to the classic "largest u^(1/w)" rule — ln is
    * monotone — with the quantized score making the cut reproducible
    * across engines; ties at a score break by key). Inclusion
    * probability rises with weight; re-running with the same corpus
    * reproduces the same sample bit-for-bit, the same contract as every
    * other md5-basis sampler here.
    *
    * Scale shape: the score is a narrow per-row expression; top-k plans
    * as TakeOrderedAndProject (per-partition heads + one k-row merge) —
    * no global sort, no full shuffle. Null or non-positive weights and
    * null keys fall out (a zero-weight row must never be sampled; a
    * null key has no reproducible draw). */
  /** Scalar twin of [[weightedWithoutReplacement]]'s column formula —
    * the SAME md5-bucket draw and A-ES score, computed JVM-side so the
    * streaming sampler ([[graft.streaming.StreamingIngest
    * .weightedSampleStream]]) holds state scored identically to the
    * batch op (parity pinned in StreamingSpec). None for null keys or
    * non-positive weights — the rows the batch op filters out. */
  private[graft] def aesScoreQ8(key: String, weight: Double): Option[Long] =
    if (key == null || !(weight > 0)) None
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars = first 4 bytes, big-endian unsigned — what
      // conv(substring(md5(k), 1, 8), 16, 10) reads
      val h32 = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
        ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
      val u = (h32 % 10000L + 1).toDouble / 10001.0
      Some(math.floor(-math.log(u) / weight * 1e8).toLong)
    }

  def weightedWithoutReplacement(df: DataFrame, keyCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (hashBucket(col(keyCol)).cast("double") + lit(1.0)) / lit(10001.0)
    df.where(col(keyCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("score_q8",
        floor((-log(u)) / col(weightCol).cast("double") * lit(100000000.0))
          .cast("long"))
      .orderBy(col("score_q8").asc, col(keyCol).asc)
      .limit(k)
  }

  /** Multi-EPOCH training schedule — [[shardAssign]] extended over
    * epochs: each epoch e reorders the corpus under a DIFFERENT
    * deterministic permutation (md5 of `key:e`), which is exactly what
    * a training loader needs from "reshuffle every epoch" — epoch
    * orders are mutually independent, every epoch covers every row
    * exactly once, and any (epoch, shard) file can be regenerated
    * bit-for-bit without storing a permutation anywhere.
    *
    * Scale shape: the epoch fan-out is a narrow explode (E× rows, no
    * shuffle); the ONLY wide op is the (epoch, shard)-hash-partitioned
    * rank window — shards sort independently, epochs don't wait on each
    * other, and the corpus is never globally sorted. At 100 TB with
    * nShards ≥ executors this is one exchange at E× corpus size;
    * generating one epoch at a time (filter epoch = e before the
    * window) prunes the explode back to 1× — the filter rides into the
    * narrow stage. */
  def epochSchedule(df: DataFrame, keyCol: String, epochs: Int,
      nShards: Int): DataFrame = {
    require(epochs >= 1 && nShards >= 1,
      s"epochs and nShards must be >= 1, got ($epochs, $nShards)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("_h"), col(keyCol))
    df.select(col(keyCol))
      .withColumn("epoch", explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("_h", md5(concat(col(keyCol).cast("string"), lit(":"),
        col("epoch").cast("string")).cast("binary")))
      .withColumn("shard",
        pmod(conv(substring(col("_h"), 1, 8), 16, 10).cast("long"),
          lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .drop("_h")
  }

  def shardAssign(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val h = md5(col(keyCol).cast("string").cast("binary"))
    val w = Window.partitionBy(col("shard")).orderBy(col("_h"), col(keyCol))
    df.withColumn("_h", h)
      .withColumn("shard",
        pmod(conv(substring(col("_h"), 1, 8), 16, 10).cast("long"),
          lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .drop("_h")
  }

  /** Greedy token-budget corpus selection: rank documents by
    * (score DESC, id ASC) and keep them while the running token total
    * BEFORE the doc is under `budgetTokens` — "take the best docs
    * until the budget runs out", the curation step that turns a scored
    * corpus into a fixed-size training set (the last doc may overshoot
    * the budget; cutting mid-doc is [[packSequences]]' job).
    *
    * Scale shape: the naive form is a global `Window.orderBy` —
    * single-partition, dead at scale. This is the [[packSequences]] /
    * globalRank machinery instead: range-partition on the rank key, a
    * one-row-per-partition totals collect (bounded), then a narrow
    * per-partition running sum seeded with exact offsets. No global
    * sort exchange, no single task. Returns
    * `(id, score, n_tokens, cum_before)` for the selected docs. */
  def budgetSelect(docs: DataFrame, budgetTokens: Long,
      scoreCol: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    val sess = docs.sparkSession
    import sess.implicits.newProductEncoder
    val nPart = math.max(1, sess.sessionState.conf.numShufflePartitions)
    val ranged = docs
      .select(col(idCol).cast("long").as("_id"),
        col(scoreCol).cast("long").as("_s"),
        TextStats.tokenCount(TextStats.tokens(col(textCol))).cast("long").as("_n"))
      .repartitionByRange(nPart, col("_s").desc, col("_id"))
      .sortWithinPartitions(col("_s").desc, col("_id"))
      .persistScoped
      .as[(Long, Long, Long)]
    val totals = ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      var s = 0L
      it.foreach(s += _._3)
      Iterator.single((pid, s))
    }.collect().toMap
    val offsets = (0 until nPart).scanLeft(0L)(_ + totals.getOrElse(_, 0L)).toArray
    val bOff = sess.sparkContext.broadcast(offsets)
    ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.get().partitionId()
      var run = bOff.value(pid)
      it.flatMap { case (id, s, n) =>
        val exclusive = run
        run += n
        if (exclusive < budgetTokens) Some((id, s, n, exclusive)) else None
      }
    }.toDF(idCol, "score", "n_tokens", "cum_before")
  }

  /** Per-group greedy token-budget selection — [[budgetSelect]] with an
    * independent budget per group (per-language / per-source quotas,
    * the "balanced corpus under a global token cap" curation step).
    * Scale shape (r11): the group key is LOW-cardinality (a handful of
    * languages), so a plain group-partitioned running sum is whole-
    * corpus-sized single-task sorts in disguise; the running token sum
    * is instead score-bucketed with broadcast prefix offsets
    * ([[graft.ops.GroupedPrefix]]). */
  def budgetSelectPerGroup(docs: DataFrame, budgetTokens: Long,
      groupCol: String, scoreCol: String, idCol: String = "doc_id",
      textCol: String = "text", buckets: Int = 256): DataFrame = {
    require(budgetTokens >= 1, s"budgetTokens must be >= 1, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    // distributed running token sum ([[graft.ops.GroupedPrefix]],
    // descending buckets follow the score-desc order; equal scores
    // share a bucket, ties break on id INSIDE the bucket): a 3-language
    // corpus partitioned by language alone is three whole-corpus-sized
    // single-task sorts — nominally partitioned, not scaled
    val scored = docs
      .select(col(groupCol), col(idCol).cast("long").as(idCol),
        col(scoreCol).cast("long").as(scoreCol),
        TextStats.tokenCount(TextStats.tokens(col(textCol)))
          .cast("long").as("n_tokens"))
    val withOff = graft.ops.GroupedPrefix.withBucketOffsets(scored,
      Seq(groupCol), scoreCol, sum($"n_tokens"), "_toff",
      buckets, descending = true)
    val w = Window.partitionBy(col(groupCol), col("_b"))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    withOff
      .withColumn("cum_before", coalesce(col("_toff"), lit(0L)) +
        coalesce(sum($"n_tokens").over(w), lit(0L)))
      .where($"cum_before" < budgetTokens)
      .select(col(groupCol), col(idCol), col(scoreCol),
        $"n_tokens", $"cum_before")
  }

  /** DSIR-shaped data selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every RAW document by how much more likely its hashed-bigram bag
    * is under a TARGET domain sample than under the raw corpus — the
    * standard "select web data that looks like Wikipedia" curation
    * signal — in exact integer arithmetic.
    *
    * Features are bigrams hashed into `nBuckets` buckets, both
    * distributions add-1 smoothed; the paper's per-feature log-ratio is
    * replaced by the quantized LINEAR bucket ratio
    * q_b = ⌊10⁶·(ct_b+1)(Nr+B) ∕ ((cr_b+1)(Nt+B))⌋ and a doc scores the
    * MEAN ratio over its bigrams ⌊Σq ∕ n⌋ — order-preserving per bucket
    * and exact in any engine (the [[TextStats.lmScore]] determinism
    * pattern). Resampling composes downstream: threshold `dsir_q6` or
    * feed it to [[weightedSample]]; selection stays a narrow filter.
    *
    * Scale shape: bucket counts are one map-side-combined aggregate per
    * side over the exploded grams, producing ≤ `nBuckets` rows — a
    * BOUNDED driver materialization (the [[mixtureRates]] /
    * ivfCentroids pattern) turned into exact BigInt ratios inlined as a
    * literal lookup map, so scoring is a narrow `element_at` per gram
    * plus one doc-keyed aggregate. Document text shuffles nowhere; only
    * (doc_id, bucket) pairs reach the per-doc sum. Docs with < 2 tokens
    * have no features and score (0, 0) — filter or backstop upstream. */
  def dsirScores(raw: DataFrame, target: DataFrame, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 65536,
      s"nBuckets must be in [2, 65536], got $nBuckets")
    def gramBuckets(df: DataFrame) = df
      .select(col(idCol),
        explode(TextStats.wordNgrams(TextStats.tokens(col(textCol)), 2)).as("g"))
      .select(col(idCol),
        pmod(conv(substring(md5($"g".cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(nBuckets.toLong)).as("b"))
    val rawG = gramBuckets(raw)
    val cr = rawG.groupBy($"b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ct = gramBuckets(target).groupBy($"b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (nr, nt) = (cr.values.map(BigInt(_)).sum, ct.values.map(BigInt(_)).sum)
    val b = BigInt(nBuckets)
    val q = (0L until nBuckets.toLong).map { i =>
      val num = BigInt(1000000) * (BigInt(ct.getOrElse(i, 0L)) + 1) * (nr + b)
      val den = (BigInt(cr.getOrElse(i, 0L)) + 1) * (nt + b)
      i -> (num / den).toLong
    }
    val qMap = map(q.flatMap { case (i, v) => Seq(lit(i), lit(v)) }: _*)
    val perDoc = rawG.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(element_at(qMap, $"b")).as("s"))
    raw.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce(expr("s div n_grams"), lit(0L)).as("dsir_q6"))
  }

  /** Poisson(1) bootstrap cumulative thresholds as exact u32 literals:
    * a row's resample weight is how many thresholds its md5-u32 draw
    * clears (P(w=k) = e⁻¹∕k!, capped at 7). Both engines see the same
    * integer constants, so every resample is bit-reproducible. */
  private[graft] val BootstrapCum: Seq[Long] = {
    val p = (0 to 6).scanLeft(0.0) { case (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).product }.drop(1)
    p.map(c => math.floor(c * 4294967296.0).toLong)
  }

  /** Bootstrap confidence interval for the per-group MEAN of a money
    * column — error bars on any pipeline metric without distributional
    * assumptions, deterministic enough to sit behind the hash gate:
    * resample b gives row i the Poisson(1) weight drawn from
    * md5(id‖b) (the online/Poisson bootstrap — Oza & Russell '01), so
    * every "random" draw is a pure function of the data. Means are
    * exact integer q4 ratios (⌊10⁴·Σwv∕Σw⌋); the CI is the empirical
    * [lo, hi] order statistic of the B means (picked in-row from a
    * B-length sorted array — never a window).
    *
    * Scale shape: the ×B explode is pipeline-local (narrow) and the
    * per-(group, b) partial sums map-side combine, so the shuffle is
    * |groups|·B rows, not B copies of the data. */
  def bootstrapCi(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, b: Int = 100, loIdx: Int = 5, hiIdx: Int = 95)
      : DataFrame = {
    require(loIdx >= 1 && hiIdx <= b && loIdx <= hiIdx,
      s"bad order statistics lo=$loIdx hi=$hiIdx for b=$b")
    val base = bootstrapBase(df, groupCol, idCol, valueCol)
    val actual = base.groupBy($"_g")
      .agg(expr("(10000 * sum(_cents)) div count(1)").as("mean_q4"),
        count(lit(1)).as("n_rows"))
    val means = bootstrapMeans(base, b)
    means.groupBy($"_g")
      .agg(sort_array(collect_list($"_m")).as("_ms"))
      .join(actual, Seq("_g"))
      .select($"_g".as(groupCol), $"n_rows", $"mean_q4",
        element_at($"_ms", loIdx).as("lo_q4"),
        element_at($"_ms", hiIdx).as("hi_q4"))
  }

  /** Normalized `(_g, _id, _cents)` resampling base — persisted because
    * every bootstrap consumer reads it at least twice. The group key is
    * compared AS STRING (the kernel's map key). */
  private def bootstrapBase(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame =
    df.where(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("_g"),
        col(idCol).cast("string").as("_id"),
        round(col(valueCol) * 100).cast("long").as("_cents"))
      .persistScoped

  /** Per-(group, resample) bootstrap MEANS `(_g, _b, _m)` in exact q4
    * integers — the reusable core under [[bootstrapCi]] and the lift-CI
    * composition.
    *
    * Per-partition kernel: every row's B weights come straight off the
    * md5 DIGEST BYTES (draw j of md5 k reads bytes 4j..4j+3 unsigned
    * big-endian — bit-identical to the hex-substring an oracle takes)
    * and accumulate into per-(group, resample) partial sums, so the
    * shuffle is |groups|·B rows per partition — the ×B row explode,
    * its 20M string expressions, and its combine hashmap of 20M keys
    * never exist (measured 82 s → ~4 s at sf0.1). mapPartitions is
    * the point here: the kernel IS a hand-rolled partial-aggregation
    * buffer, the same license as the prefix-sum phases. */
  private[graft] def bootstrapMeans(base: DataFrame, b: Int): DataFrame = {
    require(b >= 10 && b <= 1000, s"need 10 <= b <= 1000 resamples, got $b")
    val sess = base.sparkSession
    import sess.implicits.newProductEncoder
    val nB = b
    val thr = BootstrapCum.toArray
    val parts = base.select($"_g", $"_id", $"_cents")
      .as[(String, String, Long)].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val acc = scala.collection.mutable.HashMap
        .empty[String, (Array[Long], Array[Long])]
      it.foreach { case (g, id, cents) =>
        val (wv, sw) = acc.getOrElseUpdate(g,
          (new Array[Long](nB), new Array[Long](nB)))
        var i = 0
        var dig: Array[Byte] = null
        while (i < nB) {
          val j = i % 4
          if (j == 0) {
            md.reset()
            dig = md.digest(s"${id}_${i / 4 + 1}"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          val u = ((dig(4 * j) & 0xffL) << 24) | ((dig(4 * j + 1) & 0xffL) << 16) |
            ((dig(4 * j + 2) & 0xffL) << 8) | (dig(4 * j + 3) & 0xffL)
          var w = 0L
          var t = 0
          while (t < thr.length && u >= thr(t)) { w += 1; t += 1 }
          wv(i) += w * cents
          sw(i) += w
          i += 1
        }
      }
      acc.iterator.flatMap { case (g, (wv, sw)) =>
        (0 until nB).iterator.map(i => (g, i + 1, wv(i), sw(i)))
      }
    }.toDF("_g", "_b", "_wv", "_sw")
    parts
      .groupBy($"_g", $"_b")
      .agg(sum($"_wv").as("_wv"), sum($"_sw").as("_sw"))
      .where($"_sw" > 0L)
      .select($"_g", $"_b", expr("(10000 * _wv) div _sw").as("_m"))
  }

  /** Bootstrap CI on an A/B LIFT: resample means per arm from the SAME
    * md5 draws, pair them per resample index, and take order statistics
    * of the differences — the experiment readout that reports an
    * interval on the effect, not just a z². Arms are the two values of
    * `armCol` (compared as strings); positive lift = arm1 − arm0. */
  def bootstrapLiftCi(df: DataFrame, armCol: String, idCol: String,
      valueCol: String, arm0: String, arm1: String, b: Int = 100,
      loIdx: Int = 5, hiIdx: Int = 95): DataFrame = {
    require(loIdx >= 1 && hiIdx <= b && loIdx <= hiIdx,
      s"bad order statistics lo=$loIdx hi=$hiIdx for b=$b")
    val base = bootstrapBase(df, armCol, idCol, valueCol)
      .where($"_g".isin(arm0, arm1))
    val actual = base.groupBy($"_g")
      .agg(expr("(10000 * sum(_cents)) div count(1)").as("_mean"))
    val actualLift = actual.where($"_g" === arm1).select($"_mean".as("_m1"))
      .crossJoin(actual.where($"_g" === arm0).select($"_mean".as("_m0")))
      .select(($"_m1" - $"_m0").as("lift_q4"))
    val means = bootstrapMeans(base, b)
    val diffs = means.where($"_g" === arm1)
      .select($"_b", $"_m".as("_ma"))
      .join(means.where($"_g" === arm0).select($"_b", $"_m".as("_mb")),
        Seq("_b"))
      .select(($"_ma" - $"_mb").as("_d"))
    diffs.agg(sort_array(collect_list($"_d")).as("_ds"),
        count(lit(1)).as("n_resamples"))
      .crossJoin(actualLift)
      .select($"lift_q4", $"n_resamples",
        element_at($"_ds", loIdx).as("lift_lo_q4"),
        element_at($"_ds", hiIdx).as("lift_hi_q4"))
  }

  /** 2-D Pareto frontier (skyline): rows not dominated under
    * (maximize `maxCol`, minimize `minCol`) — multi-objective doc
    * selection ("highest quality at every length budget") where a
    * single weighted score would hide the trade-off curve. Dominance is
    * the standard one: d' dominates d iff d' is ≥ in both objectives
    * and strictly better in at least one; incomparable ties (equal on
    * both) all survive.
    *
    * Scale shape: the naive skyline is the O(n²) NOT-EXISTS self-join
    * (what the oracle runs). Here: one map-side-combined aggregate to
    * (maxCol → min minCol) — bounded by the QUANTIZED score domain, so
    * ≤ ~10⁴ rows — then a running strict-prefix min over that bounded
    * frame (the one deliberate single-partition stage, same contract as
    * the ≤nCells centroid collects), and a broadcast join back. Rows
    * never self-join. */
  def paretoFrontier(df: DataFrame, maxCol: String, minCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perQ = df
      .where(col(maxCol).isNotNull && col(minCol).isNotNull)
      .groupBy(col(maxCol).as("_q")).agg(min(col(minCol)).as("_mt"))
    // strict-prefix min over quality DESC: frontier quality levels are
    // exactly those whose best minCol beats every higher-quality level
    val w = Window.orderBy($"_q".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perQ
      .withColumn("_pm", min($"_mt").over(w))
      .where($"_pm".isNull || $"_mt" < $"_pm")
      .select($"_q", $"_mt")
    df.join(broadcast(frontier),
        col(maxCol) === $"_q" && col(minCol) === $"_mt")
      .select(col(idCol), col(maxCol), col(minCol))
  }

  /** Two-dimensional mix raking (iterative proportional fitting,
    * Deming–Stephan 1940): re-weight the (dimA × dimB) cell grid so
    * BOTH marginals approach uniform targets — the data-mixing step
    * [[mixtureRates]] can't do (temperature-α fixes ONE dimension;
    * balancing lang AND source simultaneously needs IPF). Each round
    * scales rows to the dimA target then columns to the dimB target;
    * weights live in q4 longs with truncating division, so the whole
    * trajectory is a defined integer procedure both engines replay
    * bit-for-bit (convergence is within integer drift of classic IPF).
    *
    * Output per cell: `n_docs`, the final `w_q4` mass, and `rate_bp` —
    * the per-doc sampling/up-weighting rate that realizes the mix
    * (> 10000 = upsample). Null dims are a value class via `∅`.
    *
    * Scale shape: cells form via ONE map-side-combined aggregate (at
    * domain × lang cardinality this is the only full-data pass);
    * every round then touches only cell-cardinality frames, with the
    * marginal totals joined back BROADCAST — at millions of cells the
    * rounds are a few small hash joins, never a full-data shuffle. */
  def rakeWeights(rows: DataFrame, dimA: String = "lang",
      dimB: String = "source", rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val cells = rows
      .select(coalesce(col(dimA).cast("string"), lit("∅")).as("a"),
        coalesce(col(dimB).cast("string"), lit("∅")).as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("c"))
      .persistScoped
    val tot = cells.agg(sum($"c").as("_n"),
        countDistinct($"a").as("_na"), countDistinct($"b").as("_nb"))
      .select(expr("(_n * 10000) div _na").as("_ta"),
        expr("(_n * 10000) div _nb").as("_tb"))
    graft.ops.Iterate.loop("rakeWeights", rounds) { l =>
      var w = cells.crossJoin(broadcast(tot))
        .select($"a", $"b", $"c", $"_ta", $"_tb", ($"c" * 10000L).as("w"))
      for (_ <- 1 to rounds) {
        l.round(w)
        // each half-round reads the previous w TWICE (marginal aggregate
        // + join back) — without a loop barrier the logical plan doubles
        // per half-round (2^(2·rounds) analysis tree; measured 10 s of
        // pure planning at sf0.1 with every frame cell-sized). The
        // barrier truncates lineage once per round on the tiny cell frame.
        w = graft.ops.Iterate.loopBarrier(w)
        val rt = w.groupBy($"a").agg(sum($"w").as("_rt"))
        w = w.join(broadcast(rt), "a")
          .select($"a", $"b", $"c", $"_ta", $"_tb",
            expr("(w * _ta) div _rt").as("w"))
        val ct = w.groupBy($"b").agg(sum($"w").as("_ct"))
        w = w.join(broadcast(ct), "b")
          .select($"a", $"b", $"c", $"_ta", $"_tb",
            expr("(w * _tb) div _ct").as("w"))
      }
      w.select($"a".as(dimA), $"b".as(dimB), $"c".as("n_docs"),
        $"w".as("w_q4"), expr("(10000 * w) div (c * 10000)").as("rate_bp"))
    }
  }

  /** Largest-remainder (Hamilton) apportionment: split `totalSlots`
    * integer slots across groups exactly proportionally to integer
    * weights — the quota allocator behind "N training shards ∝ token
    * counts" / "sample budget ∝ source size" where naive per-group
    * rounding over- or under-shoots the total. Each group gets
    * ⌊slots·w ∕ W⌋; the `slots − Σ⌊·⌋` leftovers go to the largest
    * scaled remainders (`slots·w mod W`), ties broken by the key
    * columns — fully deterministic exact integers.
    *
    * The rank runs in a single-task `Window.orderBy` DELIBERATELY:
    * the input is a per-group aggregate (group cardinality by
    * construction — sources, languages, shards), so the frame is
    * bounded and a distributed rank would only add exchanges. Do not
    * feed row-cardinality frames. */
  def largestRemainder(weights: DataFrame, keyCols: Seq[String],
      weightCol: String, totalSlots: Long): DataFrame = {
    require(keyCols.nonEmpty && totalSlots >= 0, "need keys and slots >= 0")
    import org.apache.spark.sql.expressions.Window
    val w = weights.select(keyCols.map(col) :+ col(weightCol).cast("long").as("_w"): _*)
    val tot = w.agg(sum($"_w").as("_tw"))
    val based = w.crossJoin(broadcast(tot))
      .select(keyCols.map(col) :+ $"_w" :+
        expr(s"($totalSlots * _w) div _tw").as("_base") :+
        expr(s"$totalSlots * _w - (($totalSlots * _w) div _tw) * _tw").as("_rem"): _*)
    val leftover = based.agg((lit(totalSlots) - sum($"_base")).as("_k"))
    val rk = Window.orderBy($"_rem".desc +: keyCols.map(col): _*)
    based
      .withColumn("_rk", row_number().over(rk))
      .crossJoin(broadcast(leftover))
      .select(keyCols.map(col) :+ $"_w".as(weightCol) :+
        ($"_base" + when($"_rk" <= $"_k", 1L).otherwise(0L)).as("slots"): _*)
  }

  /** TEMPERATURE-scaled mixture allocation (the multilingual-corpus
    * sampling rule of Devlin et al. 2019 / Conneau & Lample 2019:
    * p_i ∝ n_i^α, α < 1): big sources are DOWN-weighted so the long
    * tail of small sources is not drowned — the standard fix for
    * head-heavy corpus mixes, next to [[largestRemainder]] (α = 1,
    * purely proportional) and [[raking]] (target-marginal fitting).
    *
    * α is restricted to 1∕2^k (`sqrtIters` = k nested square roots) so
    * the reweighting is ENGINE-EXACT: ⌊√·⌋ iterated k times equals
    * ⌊n^(1∕2^k)⌋ (nested-radical floor identity), and IEEE-754 sqrt is
    * correctly rounded — both engines produce the identical double for
    * any int64 < 2⁵³ — so the floor hash-gates where a pow()-based
    * weight could not. Slots then split by largest remainder; the
    * `epochs_bp` readout (10⁴·slots ∕ n, truncated) is the implied
    * number of passes over each source — the over-sampling factor a
    * training run must budget for.
    *
    * Scale shape: input is the per-source aggregate (group cardinality
    * by construction); everything here is bounded-frame arithmetic on
    * top of it. */
  def temperatureMixture(counts: DataFrame, keyCols: Seq[String],
      countCol: String, totalSlots: Long, sqrtIters: Int = 1): DataFrame = {
    require(sqrtIters >= 1 && sqrtIters <= 5,
      s"sqrtIters must be in [1, 5], got $sqrtIters")
    val n = col(countCol).cast("long")
    val w = (1 to sqrtIters).foldLeft(n) { (e, _) =>
      floor(sqrt(e.cast("double"))).cast("long")
    }
    val weighted = counts
      .select(keyCols.map(col) :+ n.as("_n") :+ w.as("_tw"): _*)
    largestRemainder(weighted, keyCols :+ "_n", "_tw", totalSlots)
      .select(keyCols.map(col) :+ $"_n".as("n_docs") :+
        $"_tw".as("w_temp") :+ $"slots" :+
        expr("(10000 * slots) div _n").as("epochs_bp"): _*)
  }

  /** Deterministic NEGATIVE SAMPLING for contrastive training (the
    * word2vec/SimCLR data-prep staple): for each anchor with at least
    * one positive, draw `k` negatives from the contiguous id universe
    * [0, n) — excluding the anchor itself and ALL of its positives —
    * by walking md5-uniform candidates in a fixed order. No RNG state:
    * candidate j of anchor a is `md5(a ++ "_" ++ j) mod n`, so any
    * (anchor, epoch-salt) pair is reproducible in isolation and the
    * whole draw replays in SQL.
    *
    * The candidate walk over-provisions (`slack ×` k draws), drops
    * collisions with positives/self, dedups repeated candidates at
    * their FIRST draw position, and keeps the k earliest — all
    * relational (one explode, one anti-join against the positives, one
    * per-anchor window), so rejection never loops.
    *
    * Scale shape: |anchors|·(k·slack) candidate rows, one anti-join on
    * (anchor, candidate) against the positive pairs, one anchor-keyed
    * window — everything keys on the anchor, no skew (md5 candidates),
    * no driver state. The universe must be contiguous ids [0, n) (the
    * embedding/vec_id contract); for sparse universes map through a
    * dense rank first. */
  def negativeSample(positives: DataFrame, anchorCol: String,
      posCol: String, n: Column, k: Int, slack: Int = 4,
      salt: String = ""): DataFrame = {
    require(k >= 1 && slack >= 2, s"need k >= 1, slack >= 2; got $k/$slack")
    import org.apache.spark.sql.expressions.Window
    val pos = positives
      .select(col(anchorCol).as("anchor_id"), col(posCol).as("pos_id"))
      .where($"anchor_id".isNotNull && $"pos_id".isNotNull)
      .distinct()
    val anchors = pos.select($"anchor_id").distinct()
    val cands = anchors
      .crossJoin(broadcast(pos.sparkSession.range(1).select(n.as("_n"))))
      .select($"anchor_id", $"_n",
        explode(sequence(lit(1), lit(k * slack))).as("j"))
      .select($"anchor_id", $"j",
        pmod(conv(substring(md5(concat($"anchor_id".cast("string"),
          lit("_" + salt), $"j".cast("string")).cast("binary")), 1, 8),
          16, 10).cast("long"), $"_n").as("cand"))
      .where($"cand" =!= $"anchor_id")
    val nonPos = cands.join(pos,
        cands("anchor_id") === pos("anchor_id") && cands("cand") === pos("pos_id"),
        "left_anti")
      .groupBy($"anchor_id", $"cand").agg(min($"j").as("j"))
    nonPos
      .withColumn("rank", row_number().over(
        Window.partitionBy($"anchor_id").orderBy($"j", $"cand")))
      .where($"rank" <= k)
      .select($"anchor_id", $"rank".cast("long").as("rank"),
        $"cand".as("neg_id"))
  }

  /** k-center greedy CORESET (Gonzalez 1985 farthest-point traversal,
    * the 2-approximation to the k-center cover): start from the
    * min-id vector, then k − 1 times select the point FARTHEST (squared
    * L2) from everything selected so far — the standard diverse-subset
    * selector for training-data curation (Sener & Savarese ICLR'18 use
    * exactly this traversal for active-learning coresets).
    *
    * Determinism/portability: distances are d² = ⟨v,v⟩ − 2⟨v,s⟩ + ⟨s,s⟩
    * with every inner product computed BY THE ENGINE over the same
    * float values (selected vectors ride back in as array literals, no
    * string round-trip; the oracle recomputes its own `list_dot_product`
    * over the identical floats — bit-equal doubles, the cosine-kernel
    * precedent), argmax ties break on min id, and the emitted distance
    * is q6-floored.
    *
    * Scale shape: the corpus NEVER shuffles — each of the k − 1 rounds
    * is one narrow scan (least() over ≤ k literal-vector kernel dots)
    * into a TakeOrdered(1); selected vectors are a k-bounded driver
    * materialization. k passes over 100 TB is the honest cost of the
    * sequential greedy; the batched variants (pick several per round)
    * trade approximation quality for passes and drop in here unchanged. */
  def kCenterCoreset(embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 32, s"k must be in [1, 32], got $k")
    val spark = embeddings.sparkSession
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    import Similarity.dot
    val e = embeddings
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .where(col("v").isNotNull)
      .persistScoped // scanned once per round
    val seed = e.orderBy($"id").limit(1).collect()
    require(seed.nonEmpty, "kCenterCoreset needs a non-empty corpus")
    var sel = Vector((seed(0).getLong(0), seed(0).getSeq[Float](1), 0L))
    while (sel.size < k) {
      val d2s = sel.map { case (_, vec, _) =>
        val lv = typedLit(vec)
        dot($"v", $"v") - lit(2.0) * dot($"v", lv) + dot(lv, lv)
      }
      val minD2 = if (d2s.size == 1) d2s.head else least(d2s: _*)
      val top = e.where(!$"id".isin(sel.map(_._1): _*))
        .select($"id", $"v", minD2.as("_d2"))
        .orderBy($"_d2".desc, $"id".asc)
        .limit(1).collect()
      require(top.nonEmpty,
        s"corpus has fewer than k=$k distinct vectors (got ${sel.size})")
      val r = top(0)
      sel = sel :+ ((r.getLong(0), r.getSeq[Float](1),
        math.floor(r.getDouble(2) * 1000000.0).toLong))
    }
    sel.zipWithIndex
      .map { case ((id, _, d2q6), i) => ((i + 1).toLong, id, d2q6) }
      .toDF("rank", "vec_id", "d2_q6")
  }
}
