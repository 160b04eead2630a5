package graft.ext

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency analysis for training-data pipelines: EXACT heavy hitters
  * without shuffling the full key space.
  *
  * The naive `groupBy(key).count.where(cnt >= T)` exchanges every
  * distinct key — at 100 TB that is a shuffle of the whole vocabulary /
  * URL space / user-id space to answer a question whose output is tiny.
  * The classic two-phase shape (the deterministic relative of
  * SpaceSaving / Misra–Gries candidate generation) avoids it:
  *
  *  1. CANDIDATES, zero shuffle: each partition counts its own rows in a
  *     hash map and emits only keys with local count ≥ ⌈T / P⌉. By
  *     pigeonhole, any key with global count ≥ T must reach that local
  *     threshold in at least one of the P partitions — so the candidate
  *     set is a SUPERSET of the answer under ANY partitioning (P is read
  *     from `TaskContext.numPartitions` inside the task, so the
  *     guarantee can't drift from a stale planning-time partition
  *     count). Per-partition distinct keys bound the map's memory —
  *     the same bound a map-side partial aggregate needs.
  *  2. VERIFY, exact: the (small — at most P·rows/T entries) candidate
  *     set broadcasts; rows semi-join it and only THEIR keys are
  *     exactly counted and filtered to ≥ T. False candidates die here,
  *     so the final output is exactly the true heavy hitters —
  *     oracle-checkable against a plain relational HAVING.
  *
  * `mapPartitions` is deliberate (per-partition hash-map lifecycle is
  * the point); everything else stays declarative. Null keys are
  * excluded, as in a relational GROUP BY they'd form their own group —
  * callers who want them can coalesce first.
  */
object Frequency {

  /** Groups with ≥ `minDistinct` DISTINCT values of `distinctCol` —
    * the distinct-count sibling of [[heavyHitters]], sketch-first:
    *
    *  1. CANDIDATES: one HLL pass (`approx_count_distinct`, rsd 2%) per
    *     group — sketches partial-merge map-side, so the exchange
    *     carries one ~KB sketch per (partition, group) instead of every
    *     distinct (group, value) pair, which is what Spark's exact
    *     distinct aggregate must shuffle. Groups whose estimate reaches
    *     70% of the threshold become candidates. Unlike the pigeonhole
    *     bound in [[heavyHitters]] this superset is PROBABILISTIC — but
    *     missing a true group needs HLL to underestimate by 30% at
    *     rsd 2%, a >15σ event; the alternative (exact everywhere) is
    *     the full distinct shuffle this operator exists to avoid.
    *  2. VERIFY: exact `countDistinct` over the candidate groups only
    *     (broadcast semi-join), filtered to ≥ `minDistinct` — so every
    *     emitted row is exact and the output matches the plain
    *     relational HAVING.
    *
    * Null group keys are excluded (as in [[heavyHitters]]); null values
    * never count toward distinct totals in either engine. */
  def distinctHeavyGroups(df: DataFrame, groupCol: String, distinctCol: String,
      minDistinct: Long, rsd: Double = 0.02): DataFrame = {
    require(minDistinct >= 1, s"minDistinct must be >= 1, got $minDistinct")
    val rows = df.where(col(groupCol).isNotNull)
    val cands = rows.groupBy(col(groupCol))
      .agg(approx_count_distinct(col(distinctCol), rsd).as("_approx"))
      .where(col("_approx") >= math.ceil(minDistinct * 0.7).toLong)
      .select(col(groupCol))
    rows.join(broadcast(cands), Seq(groupCol), "left_semi")
      .groupBy(col(groupCol))
      .agg(countDistinct(col(distinctCol)).as("n_distinct"))
      .where(col("n_distinct") >= minDistinct)
  }

  /** EXACT per-group quantiles (`quantile_disc` semantics: the smallest
    * element whose cumulative count reaches ⌈p·n⌉ of the group's sorted
    * multiset) without a global sort and without a per-group window.
    *
    * The naive formulations both die at scale: `ORDER BY` per group
    * drags every row of a group through one sort, and
    * `Window.partitionBy(group)` sends each whole group to a single
    * partition — for low-cardinality groups (event types, languages)
    * that is a handful of executors sorting 100 TB while the rest idle.
    * This is the distributed-selection shape instead:
    *
    *  1. VALUE COUNTS — the only per-row shuffle: `groupBy(group,
    *     value).count` partial-aggregates map-side, so the exchange
    *     carries distinct (group, value) pairs, not rows. (For heavily
    *     duplicated domains — latencies in ms, lengths, scores — this
    *     is orders of magnitude below row count; for near-continuous
    *     domains quantize upstream or the count pass degenerates to a
    *     row shuffle, which is still strictly better than a sort.)
    *  2. RANGE-partition the counts by (group, value) and sort WITHIN
    *     partitions — groups span partitions freely; no single-reducer
    *     group. The persist is load-bearing: `repartitionByRange`
    *     samples boundaries per action and phases 3+4 must observe the
    *     SAME partitioning (the packSequences invariant).
    *  3. One tiny job collects per-(partition, group) count totals — at
    *     most P + G entries reach the driver — whose per-group prefix
    *     sums become each partition's starting cumulative count.
    *  4. Each partition independently scans its sorted slice carrying
    *     the running per-group cumulative count: narrow, no second
    *     row-scale shuffle. The quantile is then a map-side-combined
    *     `min(value WHERE cum >= ⌈p·n⌉)` per group — the final exchange
    *     is P·G rows.
    *
    * ⌈p·n⌉ is evaluated in IEEE double (`ceil(p * n)`) — bit-for-bit
    * the index DuckDB's `quantile_disc` selects, so the output is
    * oracle-checkable against a different engine's native aggregate.
    * Null groups and null values are excluded (as in any relational
    * quantile); group keys are stringified for transport (callers keep
    * their typed key by re-joining or casting back — the output column
    * keeps `groupCol`'s name). Probabilities must lie in (0, 1]. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile probabilities must lie in (0, 1], got $ps")
    val labels = quantileLabels(ps)
    val cum = groupCumulative(df, groupCol, valueCol)
    val aggs = ps.zip(labels).map { case (p, lbl) =>
      min(when(col("_cum") >= ceil(lit(p) * col("_n")), col("_v"))).as(lbl)
    }
    cum.groupBy(col("_g").as(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** INTERPOLATED per-group quantiles (`quantile_cont` /
    * `percentile_cont` semantics: `h = (n−1)·p`, result =
    * `v⌊h⌋ + (v⌈h⌉ − v⌊h⌋)·(h − ⌊h⌋)` over the sorted multiset) — the
    * continuous twin of [[exactQuantiles]], same distributed-selection
    * machinery, same oracle-exactness contract: both order statistics
    * come from the one cumulative pass (`min(v WHERE cum ≥ k)` at
    * k = ⌊h⌋+1 and ⌈h⌉+1), and the interpolation is one fixed chain of
    * IEEE ops per group. */
  def exactQuantilesCont(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile probabilities must lie in [0, 1], got $ps")
    val labels = quantileLabels(ps)
    val cum = groupCumulative(df, groupCol, valueCol)
    val aggs = ps.zip(labels).flatMap { case (p, lbl) =>
      val h = lit(p) * (col("_n") - 1).cast("double")
      Seq(
        min(when(col("_cum") >= floor(h) + 1, col("_v"))).as(s"_lo_$lbl"),
        min(when(col("_cum") >= ceil(h) + 1, col("_v"))).as(s"_hi_$lbl"))
    }
    val grouped = cum.groupBy(col("_g").as(groupCol), col("_n"))
      .agg(aggs.head, aggs.tail: _*)
    val outs = ps.zip(labels).map { case (p, lbl) =>
      val h = lit(p) * (col("_n") - 1).cast("double")
      (col(s"_lo_$lbl") +
        (col(s"_hi_$lbl") - col(s"_lo_$lbl")) * (h - floor(h))).as(lbl)
    }
    grouped.select(col(groupCol) +: outs: _*)
  }

  private def quantileLabels(ps: Seq[Double]): Seq[String] = {
    val labels = ps.map(p => "p" + math.round(p * 100))
    require(labels.distinct.size == labels.size,
      s"probabilities collide at integer-percent labels: $labels")
    labels
  }

  /** Phases 1–4 of the distributed-selection quantile machinery (see
    * [[exactQuantiles]]'s scaladoc): returns the `(_g, _v, _cum, _n)`
    * frame — per distinct (group, value), the running cumulative count
    * and the group's total — built with ONE row-scale exchange and a
    * bounded (P + G entries) driver collect. */
  private def groupCumulative(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits.newProductEncoder
    val nPart = math.max(1, sess.sessionState.conf.numShufflePartitions)
    val counts = df
      .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("_g"),
        col(valueCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val ranged = counts
      .repartitionByRange(nPart, col("_g"), col("_v"))
      .sortWithinPartitions("_g", "_v")
      .persistScoped
      .as[(String, Double, Long)]
    // per-(partition, group) totals: P + G entries, not data-scale
    val partTotals = ranged.mapPartitions { it =>
      val pid = TaskContext.get().partitionId()
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (g, _, c) => m.update(g, m.getOrElse(g, 0L) + c) }
      m.iterator.map { case (g, s) => (pid, g, s) }
    }.collect()
    val grand = partTotals.groupBy(_._2).map { case (g, a) => g -> a.map(_._3).sum }
    val offsets: Map[(Int, String), Long] =
      partTotals.groupBy(_._2).iterator.flatMap { case (g, a) =>
        val inPidOrder = a.sortBy(_._1)
        inPidOrder.map(_._1).zip(inPidOrder.scanLeft(0L)(_ + _._3))
          .map { case (pid, off) => (pid, g) -> off }
      }.toMap
    val bOff = sess.sparkContext.broadcast(offsets)
    val bGrand = sess.sparkContext.broadcast(grand)
    val cum = ranged.mapPartitions { it =>
      val pid = TaskContext.get().partitionId()
      var curG: String = null
      var run = 0L
      it.map { case (g, v, c) =>
        if (g != curG) { curG = g; run = bOff.value((pid, g)) }
        run += c
        (g, v, run, bGrand.value(g))
      }
    }.toDF("_g", "_v", "_cum", "_n")
    cum
  }

  /** Winsorization (outlier clipping) of `valueCol` at exact per-group
    * quantiles [pLo, pHi] — the standard robust-statistics pre-pass
    * before length/score distributions feed sampling weights or
    * normalization. Returns every input row with the group bounds, the
    * clipped value, and a `was_clipped` flag.
    *
    * Scale shape: the bounds come from [[exactQuantiles]] (distributed
    * selection — no global sort, no per-group window), and the bounds
    * table is GROUP-cardinality, so it broadcasts back onto the rows:
    * the data-scale side never shuffles for the clip. Values are
    * handled as doubles internally (the exactQuantiles transport type);
    * integer inputs survive exactly (< 2^53). */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo < pHi, s"need pLo < pHi, got $pLo >= $pHi")
    val labels = Seq(pLo, pHi).map(p => "p" + math.round(p * 100))
    // the bounds frame shares df's lineage (self-join): re-key its group
    // column to a fresh name so the join condition is unambiguous
    val bounds = exactQuantiles(df, groupCol, valueCol, Seq(pLo, pHi))
      .withColumnRenamed(groupCol, "_wg")
      .withColumnRenamed(labels.head, "lo")
      .withColumnRenamed(labels.last, "hi")
    df.where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .join(broadcast(bounds),
        col(groupCol).cast("string") === col("_wg"), "inner")
      .drop("_wg")
      .withColumn("_v", col(valueCol).cast("double"))
      .withColumn("clipped", least(greatest(col("_v"), col("lo")), col("hi")))
      .withColumn("was_clipped", col("_v") < col("lo") || col("_v") > col("hi"))
      .drop("_v")
  }

  /** Robust per-group outlier detection by median/MAD — the
    * heavy-tail-safe alternative to mean/stddev z-scores (one extreme
    * value cannot drag the threshold, because both the center and the
    * spread are medians). Flags a row when
    * `|value − median| > k · MAD` where `MAD = median(|value − median|)`.
    *
    * Returns every surviving (non-null group/value) row with `med`,
    * `mad`, `dev` (= |value − median|) and `is_outlier` attached.
    * Integer-valued inputs (e.g. q4 fixed-point longs) keep every
    * emitted number exact: medians of integers are integers, `k · mad`
    * with a small-integer k is exact double arithmetic, so the flag is
    * reproducible bit-for-bit cross-engine.
    *
    * Scale shape: two [[exactQuantiles]] passes (distributed selection —
    * no global sort, no per-group window), each producing a
    * GROUP-cardinality frame that BROADCASTS back onto the rows; the
    * data-scale side never shuffles. The second pass runs over the
    * derived |value − median| column, so its input is the same row
    * frame, one narrow projection deeper. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0.0, s"k must be > 0, got $k")
    val meds = exactQuantiles(df, groupCol, valueCol, Seq(0.5))
      .withColumnRenamed(groupCol, "_mg")
      .withColumnRenamed("p50", "med")
    val withMed = df
      .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .join(broadcast(meds), col(groupCol).cast("string") === col("_mg"))
      .drop("_mg")
      .withColumn("dev", abs(col(valueCol).cast("double") - col("med")))
    val mads = exactQuantiles(withMed, groupCol, "dev", Seq(0.5))
      .withColumnRenamed(groupCol, "_sg")
      .withColumnRenamed("p50", "mad")
    withMed
      .join(broadcast(mads), col(groupCol).cast("string") === col("_sg"))
      .drop("_sg")
      .withColumn("is_outlier", col("dev") > lit(k) * col("mad"))
  }

  /** Count–min sketch built as a RELATION (Cormode & Muthukrishnan
    * 2005): `depth` md5-derived hash rows × `width` columns, each cell
    * holding the exact count of keys mapping into it. The sketch is the
    * result of ONE map-side-combined aggregate whose exchange carries
    * at most `depth · width` combined rows per partition — the fixed
    * memory footprint that makes frequency estimation possible when
    * even [[heavyHitters]]' candidate pass is too much state. Returns
    * `(j, c, cnt)` — the sketch matrix in coordinate form, mergeable
    * across corpora by unioning and re-aggregating (counts are sums). */
  def countMinSketch(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 1, s"need depth/width >= 1, got $depth/$width")
    // Aggregate per key BEFORE the depth-explode + md5 (guide §2.3,
    // aggregate before you shuffle / don't compute what you can count):
    // the md5 cell hash runs once per (distinct key × depth) instead of
    // once per (row × depth) — a dup-factor-sized CPU cut (lineitem
    // partkey at sf0.1: 2.4M → 80k digests), and the explode multiplies
    // the REDUCED frame. Cell counts are identical: sum of per-key
    // counts grouped by (j, c) ≡ count of rows grouped by (j, c). The
    // trade is one map-side-combined key shuffle (bounded by distinct
    // keys per partition); for mostly-unique key spaces that shuffle is
    // row-scale and the old shape's only cost was the hash CPU — CMS
    // targets repeated-key frequency estimation, where dup ≫ 1.
    df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("_k"))
      .agg(count(lit(1)).as("_n"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"),
        $"_k", $"_n")
      .select($"j", cmsCell($"j", $"_k", width).as("c"), $"_n")
      .groupBy($"j", $"c")
      .agg(sum($"_n").as("cnt"))
  }

  /** Point-estimate probe keys against a [[countMinSketch]] relation:
    * `est = min_j sketch(j, h_j(key))` — the classic one-sided bound
    * (`est ≥ true`, overestimate only from collisions). The sketch is
    * `depth · width` rows by construction, so it BROADCASTS onto the
    * probe side; estimating any number of keys never shuffles them. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 64): DataFrame =
    probes.select(col(keyCol).cast("string").as("key")).distinct()
      .select($"key", explode(sequence(lit(0), lit(depth - 1))).as("j"))
      .select($"key", $"j", cmsCell($"j", $"key", width).as("c"))
      .join(broadcast(sketch), Seq("j", "c"), "left")
      .groupBy($"key")
      .agg(min(coalesce($"cnt", lit(0L))).as("est"))

  /** Mergeable fixed-grid quantile sketch: `(b, cnt)` with
    * `b = ⌊value ∕ width⌋` — ONE map-side-combined aggregate whose
    * exchange carries at most (domain ∕ width) rows per partition, the
    * quantile sibling of [[countMinSketch]] (merge = union +
    * re-aggregate, counts are sums). Unlike [[exactQuantiles]] this
    * never ships distinct values: the state is bounded by the GRID, so
    * streaming accumulation and cross-corpus merging are O(grid) —
    * the trade is a one-sided estimate error ≤ `width`. */
  def gridQuantileSketch(df: DataFrame, valueCol: String,
      width: Double): DataFrame = {
    require(width > 0.0, s"width must be > 0, got $width")
    df.where(col(valueCol).isNotNull)
      .groupBy(floor(col(valueCol).cast("double") / width).cast("long").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Estimate quantiles from a [[gridQuantileSketch]]: the p-quantile
    * estimate is the UPPER EDGE `(b_p + 1)·width` of the first bucket
    * whose cumulative count reaches ⌈p·n⌉ — so `true ≤ est ≤ true +
    * width`, the one-sided bound the sketch trades for its fixed
    * footprint (spec-pinned). The running sum is a window over the
    * SKETCH relation — grid-bounded KBs, not data-scale, which is why
    * the single-partition window [[globalRank]] exists to avoid is
    * legal here. Returns one row of `p<NN>` estimate columns. */
  def gridQuantileEstimate(sketch: DataFrame, width: Double,
      ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(width > 0.0, s"width must be > 0, got $width")
    val labels = quantileLabels(ps)
    val cum = sketch
      .withColumn("_cum", sum($"cnt").over(
        Window.orderBy($"b").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", sum($"cnt").over(
        Window.partitionBy(lit(1))))
    val aggs = ps.zip(labels).map { case (p, lbl) =>
      min(when($"_cum" >= ceil(lit(p) * $"_n"), ($"b" + 1) * width)).as(lbl)
    }
    cum.agg(aggs.head, aggs.tail: _*)
  }

  /** Equi-join cardinality estimate from two [[countMinSketch]]
    * relations (Alon-Matias-Szegedy inner product over CM rows,
    * Cormode & Muthukrishnan §4.2): `est = min_j Σ_c A(j,c)·B(j,c)`.
    * The true size of `A ⋈ B` on the sketched key is `Σ_k fA(k)·fB(k)`;
    * every hash row's inner product equals that plus nonnegative
    * collision terms, so the estimate is ONE-SIDED (`est ≥ true`), the
    * same guarantee as the point estimate. This is the
    * optimizer-statistics shape: join sizes priced from two
    * `depth × width` relations — KBs — without touching either input
    * again (and sketches of separately-ingested corpora merge by
    * re-aggregation first). Returns one row `(est)`. */
  def cmsJoinSize(a: DataFrame, b: DataFrame): DataFrame =
    a.select($"j", $"c", $"cnt".as("_ca"))
      .join(b.select($"j", $"c", $"cnt".as("_cb")), Seq("j", "c"))
      .groupBy($"j").agg(sum($"_ca" * $"_cb").as("_ip"))
      .agg(min($"_ip").as("est"))

  /** Hash row `j`'s cell for `key`: first 32 md5 bits of `"j_key"`
    * mod width — the same md5 pseudo-randomness basis as the sampling
    * layer, reproducible in any engine. */
  private def cmsCell(j: Column, key: Column, width: Int): Column =
    (conv(substring(md5(concat(j.cast("string"), lit("_"), key)
      .cast("binary")), 1, 8), 16, 10).cast("long") % width).cast("long")

  /** EXACT global rank (SQL `rank()` over the whole frame: ties share
    * the smallest position) of every distinct value — WITHOUT the
    * single-reducer `Window.orderBy(value)` plan Spark gives the naive
    * formulation, which at 100 TB funnels the entire frame through one
    * task. Returns `(value, cnt, rank, pct_bp)` per distinct value
    * (`pct_bp` = ⌊10⁴·(rank−1)/(n−1)⌋, the percentile in basis points);
    * callers re-join on value for per-row ranks.
    *
    * Same distributed-selection machinery as [[exactQuantiles]]:
    *  1. one map-side-combined count per distinct value;
    *  2. RANGE-partition + sort WITHIN partitions (distributed sort,
    *     every partition doing its share — no global single sort task);
    *  3. one bounded job collects per-partition totals (P rows) whose
    *     prefix sums seed each partition's running rank;
    *  4. a narrow per-partition scan emits `rank = offset + running`.
    *
    * The persist between 2 and 3/4 is load-bearing for the same reason
    * as in exactQuantiles: `repartitionByRange` samples boundaries per
    * action, and both passes must observe the SAME partitioning. */
  def globalRank(df: DataFrame, valueCol: String): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits.newProductEncoder
    val nPart = math.max(1, sess.sessionState.conf.numShufflePartitions)
    val counts = df
      .where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("_c"))
      .repartitionByRange(nPart, col("_v"))
      .sortWithinPartitions("_v")
      .persistScoped
      .as[(Double, Long)]
    val partTotals = counts.mapPartitions { it =>
      val pid = TaskContext.get().partitionId()
      var s = 0L
      it.foreach(s += _._2)
      Iterator.single((pid, s))
    }.collect().sortBy(_._1)
    val n = partTotals.map(_._2).sum
    val offsets: Map[Int, Long] = partTotals.map(_._1)
      .zip(partTotals.scanLeft(0L)(_ + _._2)).toMap
    val bOff = sess.sparkContext.broadcast(offsets)
    counts.mapPartitions { it =>
      val pid = TaskContext.get().partitionId()
      var run = bOff.value(pid)
      it.map { case (v, c) =>
        val r = run + 1
        run += c
        (v, c, r)
      }
    }.toDF("value", "cnt", "rank")
      .withColumn("pct_bp",
        floor(lit(10000.0) * (col("rank") - 1) /
          lit(math.max(1L, n - 1).toDouble)).cast("long"))
  }

  /** QUANTILE NORMALIZATION (Bolstad et al., Bioinformatics 2003 — the
    * cross-sample normalization of genomics expression pipelines, and
    * the cross-cohort score equating of eval pipelines): every group's
    * value distribution is mapped ONTO the pooled global distribution,
    * so after the transform all groups share it exactly. Each row's
    * within-group midrank quantile p = (2r−1)∕(2n) is looked up in the
    * global order statistics: norm = the global `quantile_disc(p)` =
    * the value at global row index ⌈p·N⌉ = ((2r−1)·N + 2n−1) div (2n)
    * — all integer, engine-exact.
    *
    * Scale shape: per-group ranks are PARTITIONED windows; the global
    * order statistics come from [[globalRank]]'s distributed-selection
    * spine (never a single-task global sort); and the index→value
    * lookup exploits that the spine's [rank, rank+cnt−1] intervals
    * TILE [1, N] — a bucket-quantized equi join (the RangeJoin trick on
    * the rank axis), spine side exploded by covered bucket, row side on
    * idx's bucket, residual-filtered. One bounded `count()` action
    * sizes the buckets; everything else is jobs over data.
    *
    * Null values are excluded (no rank). Integer inputs come back as
    * the spine's double rendering — lossless below 2⁵³, cast back at
    * the call site. */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val base = df
      .select(col(groupCol).as("g"), col(valueCol).as("v"), col(idCol).as("id"))
      .where(col("v").isNotNull)
      .persistScoped // read three times: count, ranks, spine
    val nTot = base.count()
    val w = math.max(1L, nTot / 256L)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("id"))
    val ranked = base
      .withColumn("_r", row_number().over(wr).cast("long"))
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      // numerator in decimal(38,0): (2r−1)·N is O(n·N) and would
      // overflow int64 past ~2e9 rows; IntegralDivide on decimals
      // returns LONG, so _idx (≤ N) lands back in long exactly
      .withColumn("_idx",
        expr(s"((2 * cast(_r as decimal(38,0)) - 1) * ${nTot}L" +
          " + 2 * _n - 1) div (2 * _n)"))
      .withColumn("_bk", expr(s"_idx div ${w}L"))
    val spine = globalRank(base.select(col("v")), "v")
      .select(col("value").as("_sv"), col("cnt").as("_c"), col("rank").as("_rk"))
      .withColumn("_bk", explode(expr(
        s"sequence(_rk div ${w}L, (_rk + _c - 1) div ${w}L)")))
    ranked.join(spine, Seq("_bk"))
      .where(col("_rk") <= col("_idx") &&
        col("_idx") <= col("_rk") + col("_c") - 1)
      .select(col("id"), col("g"), col("v"), col("_sv").as("norm_v"))
  }

  /** Equi-DEPTH histogram of `valueCol` in `k` buckets — the
    * equal-frequency complement of a9's equal-width histogram and the
    * shape an optimizer's column statistics / a data-profiler's
    * distribution summary want (each bucket holds ≈ n/k rows, so the
    * bucket boundaries ARE the distribution; equal-width buckets on a
    * skewed column put everything in one bar).
    *
    * Bucket boundaries are the exact `quantile_disc` order statistics
    * at i/k (i = 1..k−1) from the SAME distributed-selection machinery
    * as [[exactQuantiles]] — no global sort, no single-reducer window.
    * A value v lands in bucket `1 + |{i : v > b_i}|`; ties at a
    * boundary stay in the lower bucket, so heavy ties legally overfill
    * a bucket (and may leave another empty — empty buckets are absent
    * rows, identically in the oracle). Returns `(bucket, lo, hi,
    * n_rows)` with lo/hi the actual min/max value present per bucket.
    *
    * Scale shape: boundaries come off one cumulative pass whose driver
    * materialization is k−1 doubles (the bounded-collect pattern of the
    * IVF centroids); bucketing then runs over the DISTINCT-value count
    * frame — one map-side-combined aggregate, never a row rescan — with
    * the boundaries inlined as literals (narrow). */
  def equiDepthHistogram(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"need 2 <= k <= 1000 buckets, got $k")
    val cum = groupCumulative(df.withColumn("_g1", lit("all")), "_g1", valueCol)
    val bAggs = (1 until k).map { i =>
      min(when(col("_cum") >= ceil(lit(i.toDouble / k) * col("_n")), col("_v")))
        .as(s"_b$i")
    }
    val head = cum.groupBy().agg(bAggs.head, bAggs.tail: _*).collect()
    if (head.isEmpty || head(0).isNullAt(0)) {
      // empty input: no rows, right schema
      val sess = df.sparkSession
      import sess.implicits.newProductEncoder
      return sess.emptyDataset[(Int, Double, Double, Long)]
        .toDF("bucket", "lo", "hi", "n_rows")
    }
    val bs = (1 until k).map(i => head(0).getAs[Double](s"_b$i"))
    val bucket = (lit(1) +: bs.map(b => when(col("_v") > lit(b), 1).otherwise(0)))
      .reduce(_ + _)
    df.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("_c"))
      .select(bucket.cast("int").as("bucket"), col("_v"), col("_c"))
      .groupBy(col("bucket"))
      .agg(min(col("_v")).as("lo"), max(col("_v")).as("hi"),
        sum(col("_c")).as("n_rows"))
  }

  def heavyHitters(df: DataFrame, keyCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val sess = df.sparkSession
    import sess.implicits.newStringEncoder
    val keyed = df.select(col(keyCol).cast("string").as("_k"))
      .where(col("_k").isNotNull)
    val cands = keyed.as[String].mapPartitions { it =>
      val p = math.max(1, TaskContext.get().numPartitions())
      val localMin = math.max(1L, (minCount + p - 1) / p)
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach(k => m.update(k, m.getOrElse(k, 0L) + 1L))
      m.iterator.filter(_._2 >= localMin).map(_._1)
    }.toDF("_ck").distinct()
    df.join(broadcast(cands), col(keyCol).cast("string") === col("_ck"), "left_semi")
      .where(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /** EXACT two-sample Kolmogorov–Smirnov distance per group — the
    * distribution-drift monitor ("did this feature's distribution move
    * between last week's crawl and this week's") as an integer
    * statistic: D = max_v |F₁(v) − F₂(v)| is computed as
    * max |c₁·n₂ − c₂·n₁| over the merged distinct-value grid, so
    * nothing floats until the final basis-point division —
    * order-independent and cross-engine hashable, unlike a p-value.
    * Rows split into sample 1 (where `firstSample`) vs sample 2.
    *
    * Scale shape: one (group, value) hash aggregate collapses
    * duplicates map-side, then ONE partitioned cumulative window per
    * group — no global sort, no single task (the [[winsorize]]
    * shuffle footprint). Groups missing either sample drop out (KS is
    * undefined). Counts must satisfy n₁·n₂ < 2⁶³ (quantize upstream
    * at extreme scale — the [[graft.ops.Moments]] contract). */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String,
      firstSample: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .where(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"), col(valueCol).as("_v"),
        when(firstSample, 1L).otherwise(0L).as("_in1"))
    val pv = base.groupBy($"_g", $"_v")
      .agg(sum($"_in1").as("_d1"), sum(lit(1L) - $"_in1").as("_d2"))
    val w = Window.partitionBy($"_g").orderBy($"_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy($"_g")
    pv
      .withColumn("_c1", sum($"_d1").over(w))
      .withColumn("_c2", sum($"_d2").over(w))
      .withColumn("_n1", sum($"_d1").over(wTot))
      .withColumn("_n2", sum($"_d2").over(wTot))
      .groupBy($"_g")
      .agg(first($"_n1").as("n1"), first($"_n2").as("n2"),
        max(abs($"_c1" * $"_n2" - $"_c2" * $"_n1")).as("_dmax"))
      .where($"n1" > 0 && $"n2" > 0)
      .select($"_g".as(groupCol), $"n1", $"n2",
        expr("(10000 * _dmax) div (n1 * n2)").as("ks_bp"))
  }

  /** Key-skew report — the "measure your skew BEFORE you join/group on
    * this key" tool: key count, row count, hottest-key count and share,
    * and the EXACT Gini coefficient of the per-key row distribution in
    * basis points (0 = perfectly even, →10⁴ = one key owns everything).
    * Gini is the standard skew summary a max∕avg ratio understates —
    * and it decides salting/AQE-skew handling at 100 TB.
    *
    * Exact integer Gini from the sorted-rank identity
    * G = (2·Σᵢ i·cᵢ − (n+1)·S)∕(n·S) (keys rank-ordered ascending by
    * count): ranks never materialize per key — keys with equal count c
    * occupy a consecutive rank run, so the run contributes
    * c·(f·K₋ + f(f+1)∕2) computed on the COUNT-OF-COUNTS frame, which
    * is bounded by the number of distinct count values. The cumulative
    * K₋ comes from the same two-phase distributed prefix-sum machinery
    * as [[exactQuantiles]] — no global sort, no single-task window.
    * Contract (same as [[graft.ops.Moments]]): 2·Σ i·cᵢ must fit a
    * long — quantize or shard first at extreme key cardinality.
    *
    * Returns one row: (n_keys, n_rows, max_count, top_share_bp,
    * gini_bp); on no keys n_keys is 0 and the rest NULL. */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val kc = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("_c"))
      .persistScoped // read twice: count-of-counts + the prefix sums
    val cc = kc.groupBy($"_c").agg(count(lit(1)).as("_f"))
    // (_v = count value as double, _cum = #keys with count ≤ v, _n = #keys)
    val cum = groupCumulative(kc.withColumn("_g1", lit("all")), "_g1", "_c")
    cum.join(cc, cum("_v") === cc("_c").cast("double"))
      .select($"_v".cast("long").as("_cv"), $"_f", $"_cum", $"_n")
      .agg(
        coalesce(max($"_n"), lit(0L)).as("n_keys"),
        sum($"_cv" * $"_f").as("n_rows"),
        max($"_cv").as("max_count"),
        // NB: `div`, not `/` — Column./ on longs silently yields double
        sum(expr("_cv * ((_cum - _f) * _f + (_f * (_f + 1)) div 2)"))
          .as("_g2"))
      .select($"n_keys", $"n_rows", $"max_count",
        expr("(10000 * max_count) div n_rows").as("top_share_bp"),
        expr("(10000 * (2 * _g2 - (n_keys + 1) * n_rows))" +
          " div (n_keys * n_rows)").as("gini_bp"))
  }

  /** KMV (k-minimum-values / bottom-k theta) sketch CALIBRATION for
    * cross-source vocabulary overlap (Bar-Yossef et al. 2002; the
    * mergeable bottom-k form Theta sketches standardize): per source,
    * the sketch is the k SMALLEST md5-u32 hashes of its distinct
    * tokens — deterministic, so unlike HLL the whole estimate is
    * engine-replayable and oracle-exact. For each source pair the
    * union sketch (k smallest of the merged hash sets) estimates
    * Jaccard as (members present in BOTH sketches) ∕ k′ — the standard
    * bottom-k set-operation estimator — and the output sets the
    * estimate NEXT TO the exact Jaccard so the readout is the
    * calibration itself.
    *
    * Scale shape: the corpus is touched once (distinct (source, hash)
    * map-side combine); everything pairwise runs on SKETCHES —
    * |sources|·k rows — so the pair phase costs catalog-size², not
    * corpus anything. The exact side (the calibration target) is a
    * vocabulary-bucketed token equi join — the expensive half, which
    * is precisely why the sketch exists; at 100 TB you ship only the
    * sketch phase and drop the exact columns. */
  /** ISOTONIC calibration curve (PAV — [[graft.functions.PavKernel]]):
    * bucket a score, take each bucket's empirical success rate, and
    * pool adjacent violators into the least-squares MONOTONE fit — the
    * standard classifier-calibration step (Zadrozny & Elkan 2002): a
    * raw reliability curve wiggles from bucket noise; the isotonic fit
    * is the version a thresholding pipeline can actually consume
    * (rate guaranteed non-decreasing in score). Output per bucket:
    * raw n/k/rate and the pooled isotonic rate.
    *
    * Scale shape: one map-side-combined bucket aggregate over the
    * corpus; the PAV itself runs in-row on the bounded bucket array
    * (score-domain-sized, data-size-independent — the BurstStates
    * discipline). Cross-multiplied rate comparisons need k·n < 2⁶³,
    * i.e. ≲3·10⁹ rows per bucket — widen buckets past that. */
  def isotonicCalibrate(scored: DataFrame, scoreCol: String, yCol: String,
      bucketWidth: Long = 250L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val b = scored
      .select(expr(s"$scoreCol div $bucketWidth").as("bucket"),
        col(yCol).cast("long").as("y"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"), sum($"y").as("k"))
    val one = b
      .agg(sort_array(collect_list(struct($"bucket", $"n", $"k"))).as("bnk"))
      .withColumn("_ks", expr("transform(bnk, x -> x.k)"))
      .withColumn("_ns", expr("transform(bnk, x -> x.n)"))
    val iso = toColumn(graft.functions.PavRates(
      toExpr($"_ks"), toExpr($"_ns")))
    one.withColumn("_iso", iso)
      .select(posexplode(expr("arrays_zip(bnk, _iso)")))
      .select(col("col.bnk.bucket").as("bucket"), col("col.bnk.n").as("n"),
        col("col.bnk.k").as("k"),
        expr("(10000 * col.bnk.k) div col.bnk.n").as("raw_bp"),
        col("col._iso").as("iso_bp"))
  }

  /** HyperLogLog rank CASE over a 32-bit hash slice, shared verbatim
    * with the oracle SQL (the unrolled integer comparisons sidestep
    * every log2/leading-zero portability trap): rank = position of the
    * leftmost 1-bit, 33 when the slice is zero. */
  private[graft] def hllRankCase(c: String): String =
    (1 to 32).map(r => s"WHEN $c >= ${1L << (32 - r)} THEN $r")
      .mkString("CASE ", " ", " ELSE 33 END")

  /** α₂₅₆·m²·2^33 (Flajolet et al. 2007; α₂₅₆ = 0.7213∕(1+1.079∕256)),
    * pre-multiplied in Scala to ONE double literal so both engines
    * evaluate a single identical division — and neither engine gets the
    * chance to parse a bare float literal as DECIMAL (DuckDB would). */
  private[graft] val hllAlphaNumerator: String = {
    val v = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 8589934592.0
    v.toString
  }

  /** Linear-counting table — the small-range correction the float HLLs
    * compute as m·ln(m∕V): V only takes 256 values, so the whole
    * function precomputes to integer literals (the same trick as the
    * SPRT log constants), making the correction exactly portable. */
  private[graft] def hllLinearCase(c: String): String =
    (1 to 256).map(v =>
      s"WHEN $c = $v THEN ${math.floor(256.0 * math.log(256.0 / v)).toLong}")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** HyperLogLog distinct-vocabulary sketch (Flajolet–Fuhr–Gandouet–
    * Meunier 2007), m = 256 registers — per source AND for the merged
    * union (register-max mergeability is the reason HLL is the
    * cardinality sketch at 100 TB: 256 bytes per source, union = max).
    *
    * Unlike the float HLLs this one HASH-GATES cross-engine: bucket and
    * hash slice come from md5, the rank is an unrolled integer CASE,
    * the harmonic denominator is the exact INTEGER S = Σ 2^(33−r)
    * (absent registers contribute 2^33), the one double step —
    * α·m²·2^33 ∕ S — is a single literal-times-division both engines
    * evaluate identically, and the standard small-range linear-counting
    * correction (E ≤ 2.5m with zero registers → m·ln(m∕V)) precomputes
    * to a 256-entry INTEGER table ([[hllLinearCase]]) because V has
    * only 256 possible values.
    *
    * Scale shape: one token explode (narrow), one (src, bucket)
    * aggregate — 256 rows per source — then register-sized arithmetic.
    * The exact distinct count rides along as calibration (at real
    * scale you'd drop it; it is the expensive column here). */
  def hllCardinality(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    val words = docs.select(col(srcCol).as("src"),
        explode(graft.ext.TextStats.tokens(col(textCol))).as("w"))
      .where($"w" =!= "")
      .persistScoped // read by the register path AND the exact counts
    val hashed = words.select($"src",
      conv(substring(md5($"w".cast("binary")), 1, 2), 16, 10)
        .cast("long").as("b"),
      conv(substring(md5($"w".cast("binary")), 3, 8), 16, 10)
        .cast("long").as("w32"))
    val ranked = hashed.select($"src", $"b",
      expr(hllRankCase("w32")).cast("long").as("r"))
    val regs = ranked.groupBy($"src", $"b").agg(max($"r").as("r"))
      .persistScoped // 256 rows per source; union path re-reads it
    def estimated(regDf: DataFrame): DataFrame = regDf
      .groupBy($"src")
      .agg(count(lit(1)).as("c"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - r AS INT))"))
          .as("sp"))
      .select($"src",
        ($"sp" + (lit(256L) - $"c") * lit(8589934592L)).as("s"),
        (lit(256L) - $"c").as("v_zero"))
      // α·m²·2^33 = α·2^49; one double division, identical both sides
      // (α multiplied out in Scala — bare float literals parse as
      // DECIMAL in DuckDB and would overflow/diverge)
      .withColumn("hll_raw", expr(
        s"CAST(floor(CAST($hllAlphaNumerator AS DOUBLE) / " +
          "CAST(s AS DOUBLE)) AS BIGINT)"))
      // small-range regime (raw ≤ 2.5m, zero registers present) →
      // linear counting from the integer table
      .withColumn("hll_est", expr(
        "CASE WHEN hll_raw <= 640 AND v_zero > 0 THEN " +
          hllLinearCase("v_zero") + " ELSE hll_raw END"))
    val perSrc = estimated(regs)
    val union = estimated(
      regs.groupBy($"b").agg(max($"r").as("r"))
        .select(lit("__union").as("src"), $"b", $"r"))
    val exactSrc = words.select($"src", $"w").distinct()
      .groupBy($"src").agg(count(lit(1)).as("n_exact"))
    val exactUnion = words.select($"w").distinct()
      .agg(count(lit(1)).as("n_exact"))
      .select(lit("__union").as("src"), $"n_exact")
    perSrc.unionByName(union)
      .join(exactSrc.unionByName(exactUnion), Seq("src"))
      // sign-before-division: Spark div truncates, DuckDB // floors —
      // dividing the absolute error keeps both on the same integer
      .select($"src", $"n_exact", $"hll_est",
        expr("""CASE WHEN hll_est >= n_exact
                THEN (10000 * (hll_est - n_exact)) div n_exact
                ELSE -((10000 * (n_exact - hll_est)) div n_exact)
                END""").as("err_bp"),
        $"v_zero")
  }

  /** Mutual information between two categorical columns — the
    * feature-association diagnostic (does `lang` carry information
    * about `source`? is the split correlated with the label?). Emits
    * one row: n, MI (q6), both marginal entropies (q6), and the
    * symmetric normalized MI `2·MI∕(H_a + H_b)` in basis points via
    * exact integer division.
    *
    * Numeric contract: every cell/margin contribution is
    * floor-quantized to q6 from an expression with IDENTICAL structure
    * on both engines — (c∕n)·ln(c·n∕(ra·cb)) for MI cells,
    * (ra∕n)·ln(n∕ra) for entropy terms (spelled positively; no
    * negation of a floor) — the bm25 ln-portability pattern. Null
    * categories participate as their own level: the GROUP BYs treat
    * NULL as one group on both engines, and the margin joins are
    * NULL-SAFE (`<=>` / IS NOT DISTINCT FROM) so null-level cells
    * contribute to the MI numerator exactly like the entropies.
    *
    * Scale shape: two map-side-combined aggregates (cells +
    * margins at category cardinality) and arithmetic on a
    * category-sized frame; the fact table is scanned once. */
  def mutualInfo(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("c"))
      .persistScoped // cells feed the margins AND the MI sum
    val n = cells.agg(sum($"c").as("n"))
    val ma = cells.groupBy($"a").agg(sum($"c").as("ra"))
    val mb = cells.groupBy($"b").agg(sum($"c").as("cb"))
    // NULL-SAFE margin joins: a null category is its own level (the
    // GROUP BYs above already treat it as one group on both engines),
    // and a plain equi-join would silently drop its cells from the MI
    // numerator while the marginal entropies still count it —
    // MI/NMI would be inconsistent for data with null categories
    val mi = cells
      .join(broadcast(ma.withColumnRenamed("a", "_ma_a")), $"a" <=> $"_ma_a")
      .join(broadcast(mb.withColumnRenamed("b", "_mb_b")), $"b" <=> $"_mb_b")
      .crossJoin(broadcast(n))
      .agg(sum(expr(
        """CAST(floor((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
          |  ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) /
          |     (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))) *
          |  1000000.0D) AS BIGINT)""".stripMargin)).as("mi_q6"))
    def entropy(m: DataFrame, cnt: String): DataFrame = m
      .crossJoin(broadcast(n))
      .agg(sum(expr(
        s"""CAST(floor((CAST($cnt AS DOUBLE) / CAST(n AS DOUBLE)) *
           |  ln(CAST(n AS DOUBLE) / CAST($cnt AS DOUBLE)) *
           |  1000000.0D) AS BIGINT)""".stripMargin)).as("h_q6"))
    val ha = entropy(ma, "ra").select($"h_q6".as("h_a_q6"))
    val hb = entropy(mb, "cb").select($"h_q6".as("h_b_q6"))
    n.crossJoin(broadcast(mi)).crossJoin(broadcast(ha))
      .crossJoin(broadcast(hb))
      .select($"n", $"mi_q6", $"h_a_q6", $"h_b_q6",
        // greatest(mi, 0): quantization floors can push a near-zero MI
        // a hair negative, and a negative numerator would split the
        // div-truncate vs //-floor engines
        expr("CASE WHEN h_a_q6 + h_b_q6 > 0 " +
          "THEN (10000 * 2 * greatest(mi_q6, 0)) div (h_a_q6 + h_b_q6) " +
          "ELSE 0 END").as("nmi_bp"))
  }

  /** Cohen's kappa between two categorical label columns — the
    * inter-annotator / classifier-vs-gold AGREEMENT score corrected for
    * chance: κ = (n·agree − S) ∕ (n² − S) with S = Σ_level row_l·col_l
    * (the chance-agreement mass). Emits n, n_agree, s_chance and κ in
    * basis points via sign-before-division (κ < 0 = worse than chance;
    * dividing the absolute numerator keeps Spark's truncating `div` ≡
    * DuckDB's flooring `//`). Null labels are their own level — the
    * [[mutualInfo]] contract — via null-safe aggregation and joins.
    * A degenerate table where chance explains everything (n² = S, one
    * level on either side) emits κ = 0.
    *
    * Scale shape: one fact scan into a cell aggregate at category²
    * cardinality; margins and the chance sum are category-sized
    * broadcasts. Products form in decimal(38,0) (10⁴·n·n_agree
    * overflows int64 past ~10⁹ rows); readout columns cast back to
    * long. */
  def cohenKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("c"))
      .persistScoped // n, agree, both margins, and S all read this frame
    val n = cells.agg(sum($"c").as("n"))
    val agree = cells.where($"a" <=> $"b")
      .agg(coalesce(sum($"c"), lit(0L)).as("n_agree"))
    val ra = cells.groupBy($"a").agg(sum($"c").as("ra"))
    val cb = cells.groupBy($"b").agg(sum($"c").as("cb"))
    val s = ra.join(broadcast(cb), $"a" <=> $"b")
      .agg(coalesce(sum($"ra".cast("decimal(38,0)") * $"cb"),
        lit(0L).cast("decimal(38,0)")).as("_s"))
    n.crossJoin(broadcast(agree)).crossJoin(broadcast(s))
      .withColumn("_num",
        expr("CAST(n AS DECIMAL(38,0)) * n_agree - _s"))
      .withColumn("_den", expr("CAST(n AS DECIMAL(38,0)) * n - _s"))
      .select($"n", $"n_agree", $"_s".cast("long").as("s_chance"),
        expr("""CASE WHEN _den = 0 THEN CAST(0 AS BIGINT)
                WHEN _num >= 0 THEN CAST((10000 * _num) div _den AS BIGINT)
                ELSE CAST(-((10000 * (-_num)) div _den) AS BIGINT)
                END""").as("kappa_bp"))
  }

  /** Fleiss' kappa (Fleiss 1971) — multi-annotator chance-corrected
    * agreement over `(item, label)` ratings with a FIXED panel size:
    * the readout an annotation pipeline reports when k raters label
    * the same items ([[cohenKappa]] is the 2-rater special case, but
    * Fleiss admits ANY assignment of raters to items). Items that did
    * not receive exactly `raters` ratings are dropped (the classic
    * complete-case requirement — a partial panel has no defined P_i).
    *
    * With n_ij = ratings of item i in category j, N kept items,
    * T = N·raters, A = Σ n_ij², C_j = Σ_i n_ij:
    *   P̄  = (A − T) ∕ (T(raters−1)),   P̄e = Σ C_j² ∕ T²,
    *   κ  = (P̄ − P̄e) ∕ (1 − P̄e)
    *       = (T(A − T) − (raters−1)ΣC²) ∕ ((raters−1)(T² − ΣC²)).
    * All-integer basis points via sign-before-division (`div` ≡ `//`
    * across engines), products in decimal(38,0) — T² and T·A overflow
    * int64 past ~10⁸ ratings. Null labels are their own category (the
    * [[cohenKappa]] contract). Degenerate unanimity (one category
    * everywhere → denominator 0) emits κ = 0.
    *
    * Scale shape: one fact scan into an (item, label) cell aggregate,
    * one item-total rollup for the complete-case semi-join, then
    * category-sized margins — no window, no collect, every aggregate
    * map-side combinable. */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String,
      raters: Int): DataFrame = {
    require(raters >= 2, s"raters must be >= 2, got $raters")
    val cells = df.groupBy(col(itemCol).as("i"), col(labelCol).as("j"))
      .agg(count(lit(1)).as("c"))
      .persistScoped // complete-case filter + margins + A all read this
    val complete = cells.groupBy($"i").agg(sum($"c").as("t"))
      .where($"t" === raters.toLong).select($"i")
    val kept = cells.join(complete, Seq("i"), "left_semi").persistScoped
    val base = kept.agg(
      count_distinct($"i").as("n_items"),
      coalesce(sum($"c" * $"c"), lit(0L)).as("sum_sq"))
    val s2 = kept.groupBy($"j").agg(sum($"c").as("cj"))
      .agg(coalesce(sum($"cj".cast("decimal(38,0)") * $"cj"),
        lit(0L).cast("decimal(38,0)")).as("_s2"))
    base.crossJoin(broadcast(s2))
      .withColumn("_t", ($"n_items" * raters.toLong).cast("decimal(38,0)"))
      .withColumn("_num",
        $"_t" * ($"sum_sq" - $"_t") - lit((raters - 1).toLong) * $"_s2")
      .withColumn("_den",
        lit((raters - 1).toLong) * ($"_t" * $"_t" - $"_s2"))
      .select($"n_items", lit(raters.toLong).as("n_raters"), $"sum_sq",
        $"_s2".cast("long").as("s2_cat"),
        expr("""CASE WHEN _den = 0 THEN CAST(0 AS BIGINT)
                WHEN _num >= 0 THEN CAST((10000 * _num) div _den AS BIGINT)
                ELSE CAST(-((10000 * (-_num)) div _den) AS BIGINT)
                END""").as("kappa_bp"))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 2011,
    * "Computing Krippendorff's alpha-reliability") — the agreement
    * coefficient for INCOMPLETE panels: where [[fleissKappa]] drops
    * every item whose panel is short, alpha uses all items with ≥ 2
    * ratings, weighting each by its own pairable-value count. With
    * m_u ratings of item u (n_uj per category), n = Σ m_u,
    * C_j = Σ_u n_uj:
    *   D_o = (1∕n) Σ_u Σ_j n_uj(m_u − n_uj) ∕ (m_u − 1)
    *   D_e = (n² − ΣC_j²) ∕ (n(n−1)),   α = 1 − D_o ∕ D_e
    *       = 1 − S(n−1) ∕ (L(n² − ΣC²)),
    * where L = lcm(1..maxRaters−1) clears every per-item denominator:
    * S = Σ_rows c(m−c)·(L ∕ (m−1)) is an EXACT integer, so α lands in
    * basis points with zero float anywhere — the per-ROW form matters
    * at scale: S needs no per-item regrouping, it is one map-side
    * combinable sum over the (item, label) cells. Items with m > maxRaters
    * fail LOUDLY (they would need a larger L); the default 32 keeps
    * L = lcm(1..31) within int64. All-one-category data has D_e = 0 →
    * α emitted as 0 (undefined in the literature; 0 = "no better than
    * chance" is the conservative readout). Truncating `div` ≡ flooring
    * `//` because every operand of the division is non-negative. */
  def krippendorffAlpha(df: DataFrame, itemCol: String, labelCol: String,
      maxRaters: Int = 32): DataFrame = {
    require(maxRaters >= 2 && maxRaters <= 41,
      s"maxRaters must be in [2, 41] (lcm(1..40) is the int64 ceiling), " +
        s"got $maxRaters")
    val lcmL: Long = (2 until maxRaters)
      .foldLeft(1L)((a, b) => a / BigInt(a).gcd(BigInt(b)).toLong * b)
    val cells = df.groupBy(col(itemCol).as("i"), col(labelCol).as("j"))
      .agg(count(lit(1)).as("c"))
      .persistScoped // item totals, margins, and S all read this
    val items = cells.groupBy($"i").agg(sum($"c").as("m")).persistScoped
    val nOver = items.where($"m" > maxRaters.toLong).count()
    require(nOver == 0L,
      s"krippendorffAlpha: $nOver items carry more than $maxRaters " +
        "ratings - raise maxRaters (L must clear every m-1)")
    val kept = cells.join(items.where($"m" >= 2L), Seq("i"))
    val sRow = kept.agg(coalesce(sum(
      expr(s"CAST(c * (m - c) AS DECIMAL(38,0)) * ($lcmL div (m - 1))")),
      lit(0L).cast("decimal(38,0)")).as("_s"))
    val base = items.where($"m" >= 2L).agg(
      count(lit(1)).as("n_items"),
      coalesce(sum($"m"), lit(0L)).as("n_values"))
    val s2 = kept.groupBy($"j").agg(sum($"c").as("cj"))
      .agg(coalesce(sum($"cj".cast("decimal(38,0)") * $"cj"),
        lit(0L).cast("decimal(38,0)")).as("_s2"))
    base.crossJoin(broadcast(sRow)).crossJoin(broadcast(s2))
      .withColumn("_n", $"n_values".cast("decimal(38,0)"))
      .withColumn("_l", lit(lcmL).cast("decimal(38,0)"))
      .withColumn("_den", $"_l" * ($"_n" * $"_n" - $"_s2"))
      .select($"n_items", $"n_values",
        // D_o in bp — the raw L-scaled sum S overflows int64 at corpus
        // scale (L ~ 7e13), but D_o = S/(Ln) is a [0, 1] fraction
        expr("""CASE WHEN _n = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((10000 * _s) div (_l * _n) AS BIGINT)
                END""").as("do_bp"),
        $"_s2".cast("long").as("s2_cat"),
        expr("""CASE WHEN _den <= 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(10000 - (10000 * _s * (_n - 1)) div _den AS BIGINT)
                END""").as("alpha_bp"))
  }

  def kmvJaccard(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source", k: Int = 64): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(srcCol).as("src"),
        explode(graft.ext.TextStats.tokens(col(textCol))).as("w"))
      .where($"w" =!= "")
    val tok = words
      .select($"src", conv(substring(md5($"w".cast("binary")), 1, 8), 16, 10)
        .cast("long").as("h"))
      .distinct()
    val sk = tok
      .withColumn("rk",
        row_number().over(Window.partitionBy($"src").orderBy($"h")))
      .where($"rk" <= k)
      .select($"src", $"h")
      .persistScoped // sketch-sized; read for both pair legs
    val srcs = sk.select($"src").distinct()
    val pairs = srcs.select($"src".as("sa"))
      .crossJoin(srcs.select($"src".as("sb"))).where($"sa" < $"sb")
    val uh = pairs.join(sk.select($"src".as("sa"), $"h"), Seq("sa"))
      .select($"sa", $"sb", $"h")
      .unionByName(pairs.join(sk.select($"src".as("sb"), $"h"), Seq("sb"))
        .select($"sa", $"sb", $"h"))
      .groupBy($"sa", $"sb", $"h").agg(count(lit(1)).as("_m"))
    val estim = uh
      .withColumn("urk",
        row_number().over(Window.partitionBy($"sa", $"sb").orderBy($"h")))
      .where($"urk" <= k)
      .groupBy($"sa", $"sb")
      .agg(sum(when($"_m" === 2, 1L).otherwise(0L)).as("n_both"),
        count(lit(1)).as("k_union"))
    val tw = words.distinct().persistScoped
    val sizes = tw.groupBy($"src").agg(count(lit(1)).as("nt"))
    val inter = tw.select($"src".as("sa"), $"w")
      .join(tw.select($"src".as("sb"), $"w"), Seq("w"))
      .where($"sa" < $"sb")
      .groupBy($"sa", $"sb").agg(count(lit(1)).as("ni"))
    estim
      .join(inter, Seq("sa", "sb"), "left_outer")
      .join(sizes.select($"src".as("sa"), $"nt".as("_na")), Seq("sa"))
      .join(sizes.select($"src".as("sb"), $"nt".as("_nb")), Seq("sb"))
      .withColumn("ni", coalesce($"ni", lit(0L)))
      .select($"sa".as("src_a"), $"sb".as("src_b"), $"n_both", $"k_union",
        expr("(10000 * n_both) div k_union").as("jaccard_est_bp"),
        expr("(10000 * ni) div (_na + _nb - ni)").as("jaccard_bp"))
  }
}
