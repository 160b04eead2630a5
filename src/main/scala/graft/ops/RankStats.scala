package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.ScopedPersist

/** Rank-based statistics in EXACT integer arithmetic — the eval/audit
  * readouts (AUC, Gini, Spearman, Mann–Kendall) a data pipeline runs
  * over scores and labels before a release, expressed so both engines
  * of the correctness gate compute bit-identical integers (no sqrt, no
  * float accumulation; divisions only on provably non-negative
  * numerators, where Spark's truncating `div` ≡ DuckDB's `//` ≡ floor).
  *
  * Scale shape: every ranking is a window PARTITIONED BY the group
  * column — per-key sorts that scale out with the key cardinality,
  * never a single-task global ORDER BY (the `globalRank` trap) — and
  * every statistic then collapses through one map-side-combined
  * aggregate to |groups| rows. Where the group column itself is
  * LOW-CARDINALITY (spearman's 3 return flags), partitioning by it is
  * the same trap one step removed: [[spearman]] therefore
  * histogram-buckets values first and ranks within (group, bucket)
  * with broadcast prefix offsets — window partitions shrink by the
  * bucket count and no task ever sorts a whole group.
  */
object RankStats {

  /** ROC AUC per group via the Mann–Whitney U statistic (Mann &
    * Whitney 1947; AUC = U/(n₁·n₀), Hanley–McNeil 1982) with midrank
    * tie handling, in exact basis points.
    *
    * Doubled midranks keep everything integral: a tie group of size c
    * whose minimum rank is r has average rank r + (c−1)/2, so
    * 2·midrank = 2r + c − 1. Then U₂ = 2·R₁ − n₁(n₁+1) ≥ 0 and
    * auc_bp = ⌊10⁴·U₂ ∕ (2·n₁·n₀)⌋. Groups with no positives or no
    * negatives have no defined AUC and are dropped.
    */
  def auc(df: DataFrame, groupCol: Column, labelCol: Column,
      scoreCol: Column, rankBuckets: Int = 256): DataFrame = {
    val base = df.select(groupCol.as("g"), labelCol.as("_pos"),
      scoreCol.as("_x"))
    // distributed midrank ([[GroupedPrefix]]): the group column is
    // low-cardinality (20 sources), so partitionBy(g) alone would sort
    // whole groups in single tasks; 2·midrank = 2r + c − 1 =
    // 2·offset + rank_in_bucket + count_le_in_bucket, with the rank
    // and the RANGE-frame count sharing one exchange + sort
    val withOff = GroupedPrefix.withBucketOffsets(base, Seq("g"), "_x",
      count(lit(1)), "_off", rankBuckets)
    val w = Window.partitionBy(col("g"), col("_b")).orderBy(col("_x"))
    val r2 = withOff
      .withColumn("_mr2", lit(2L) * coalesce(col("_off"), lit(0L)) +
        rank().over(w).cast("long") +
        count(lit(1)).over(w.rangeBetween(Window.unboundedPreceding,
          Window.currentRow)))
    r2.groupBy(col("g"))
      .agg(
        sum(when(col("_pos"), lit(1L)).otherwise(lit(0L))).as("n_pos"),
        sum(when(col("_pos"), lit(0L)).otherwise(lit(1L))).as("n_neg"),
        sum(when(col("_pos"), col("_mr2")).otherwise(lit(0L))).as("_r1x2"))
      .where(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("g"), col("n_pos"), col("n_neg"),
        expr("(10000 * (_r1x2 - n_pos * (n_pos + 1))) div (2 * n_pos * n_neg)")
          .as("auc_bp"))
  }

  /** Gini coefficient per group over a NON-NEGATIVE integer value
    * column, exact basis points: with the group's values sorted
    * ascending and 1-indexed by i,
    * gini_bp = ⌊10⁴·(2·Σi·xᵢ − (n+1)·Σx) ∕ (n·Σx)⌋.
    * Ties contribute the same Σi·xᵢ under any tie order (equal values
    * swap freely), so the row_number tie-break (`tieCol`) only pins
    * determinism, not the result. Groups with Σx = 0 are dropped. */
  def gini(df: DataFrame, groupCol: Column, valueCol: Column,
      tieCol: Column): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("_x"), col("_t"))
    df.select(groupCol.as("g"), valueCol.as("_x"), tieCol.as("_t"))
      .withColumn("_i", row_number().over(w).cast("long"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("_x")).as("total"),
        sum(col("_i") * col("_x")).as("_six"))
      .where(col("total") > 0)
      .select(col("g"), col("n"), col("total"),
        expr("(10000 * (2 * _six - (n + 1) * total)) div (n * total)")
          .as("gini_bp"))
  }

  /** Spearman rank correlation per group as SIGNED SQUARED basis
    * points (`rho2_bp = sign(ρ)·⌊10⁴·ρ²⌋` of the staged-quantized ρ) —
    * squared keeps the statistic rational (plain ρ with midrank ties
    * needs the Pearson form's square root).
    *
    * Midranks are doubled to stay integral (2·midrank = 2r + c − 1),
    * then STAGED QUANTIZATION (the keyness/source-cosine pattern)
    * bounds every product independently of group size: the Pearson
    * co-moments of the doubled midranks are divided by n² first —
    * cov_q = ⌊(n·Σxy − Σx·Σy) ∕ n²⌋ ≤ 4·10¹² for q6-sized ranks —
    * so 10⁴·cov_q² ≤ 10²⁹ sits inside decimal(38,0), where Spark's
    * IntegralDivide ≡ DuckDB HUGEINT `//`. cov_q may be negative, so
    * the floor-vs-truncate divergence is avoided by dividing |cov_q|²
    * (non-negative) and re-applying the sign. Co-moment sums run in
    * decimal(38,0) end-to-end. Groups where either variance quantizes
    * to zero are dropped. */
  def spearman(df: DataFrame, groupCol: Column, xCol: Column,
      yCol: Column, rankBuckets: Int = 256): DataFrame = {
    require(rankBuckets >= 1, s"rankBuckets must be >= 1, got $rankBuckets")
    // DISTRIBUTED per-group ranking (r11): `rank().over(partitionBy(g))`
    // with a LOW-CARDINALITY g (3 return flags here) sorts each group's
    // full row set in ONE task — the silent scale killer the plan audit
    // can't see because the window IS partitioned, just by a 3-value
    // key. Instead, rows are histogram-bucketed by value (any monotone
    // bucketing works: equal values land in equal buckets, so tie
    // counts are bucket-local), per-(g, bucket) prefix offsets come
    // from a bucket-cardinality rollup, and the global doubled midrank
    // falls out of ONE window over (g, bucket):
    //   rank_in_bucket rk = cnt_less_in_bucket + 1
    //   cnt_le (RANGE frame, same window spec — shares the exchange+sort)
    //   2·midrank = 2·cnt_less + cnt + 1 = 2·off + rk + le
    // Window partitions shrink from n/|g| rows to n/(|g|·B).
    val base = df.select(groupCol.as("g"), xCol.as("_x"), yCol.as("_y"))
    // per-group count + value spans, one broadcast row per group
    val gstats = broadcast(base.groupBy(col("g")).agg(
      count(lit(1)).as("_gn"),
      min(col("_x").cast("double")).as("_xlo"),
      max(col("_x").cast("double")).as("_xhi"),
      min(col("_y").cast("double")).as("_ylo"),
      max(col("_y").cast("double")).as("_yhi")))
    def bucket(c: String, lo: String, hi: String) =
      when(col(c).isNull, lit(-1)).otherwise(
        least(lit(rankBuckets - 1), greatest(lit(0),
          floor((col(c).cast("double") - col(lo)) /
            ((col(hi) - col(lo)) / rankBuckets + lit(1e-300)))
            .cast("int"))))
    // null-safe joins throughout: a NULL group is a real partition to
    // the window this machinery replaces, so the rollup joins must
    // return its rows too
    val withB = GroupedPrefix.joinNullSafe(base, gstats, Seq("g"))
      .withColumn("_bx", bucket("_x", "_xlo", "_xhi"))
      .withColumn("_by", bucket("_y", "_ylo", "_yhi"))
      .persistScoped
    // rows BELOW each (g, bucket): bucket-cardinality frame, broadcast
    def offsets(b: String, name: String) = broadcast(
      withB.groupBy(col("g"), col(b)).agg(count(lit(1)).as("_c"))
        .withColumn(name, coalesce(sum(col("_c")).over(
          Window.partitionBy(col("g")).orderBy(col(b))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .drop("_c"))
    def midrank2(b: String, v: String, off: String): Column = {
      val w = Window.partitionBy(col("g"), col(b)).orderBy(col(v))
      // rank + RANGE-frame count share one exchange + one sort
      (lit(2) * col(off) + rank().over(w).cast("long") +
        count(lit(1)).over(w.rangeBetween(Window.unboundedPreceding,
          Window.currentRow)))
    }
    val ranked = GroupedPrefix.joinNullSafe(
      GroupedPrefix.joinNullSafe(withB, offsets("_bx", "_offx"),
        Seq("g", "_bx")),
      offsets("_by", "_offy"), Seq("g", "_by"))
      .withColumn("_mr2_x", midrank2("_bx", "_x", "_offx"))
      .withColumn("_mr2_y", midrank2("_by", "_y", "_offy"))
      // doubled midrank, quantized to a q6 SHARE of the group's rank
      // span (2·midrank ∈ [1, 2n] → ⌊10⁶·mr2 ∕ 2n⌋ ∈ [0, 10⁶]) —
      // group-size-independent magnitudes, so every downstream product
      // has a fixed bound no matter how large the group
      .withColumn("_rx", expr("(1000000 * _mr2_x) div (2 * _gn)")
        .cast("decimal(38,0)"))
      .withColumn("_ry", expr("(1000000 * _mr2_y) div (2 * _gn)")
        .cast("decimal(38,0)"))
    ranked.groupBy(col("g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(col("_rx")).as("_sx"), sum(col("_ry")).as("_sy"),
        sum(col("_rx") * col("_ry")).as("_sxy"),
        sum(col("_rx") * col("_rx")).as("_sxx"),
        sum(col("_ry") * col("_ry")).as("_syy"))
      .select(col("g"), col("_n").cast("long").as("n"),
        // sign taken BEFORE the division, which runs on |numerator| —
        // a negative covariance through integer division would hit the
        // floor(DuckDB)-vs-truncate(Spark) divergence
        when(expr("_n * _sxy - _sx * _sy") < 0, lit(-1L)).otherwise(lit(1L))
          .as("_sign"),
        expr("abs(_n * _sxy - _sx * _sy) div (_n * _n)").as("_cov_qa"),
        expr("(_n * _sxx - _sx * _sx) div (_n * _n)").as("_vx_q"),
        expr("(_n * _syy - _sy * _sy) div (_n * _n)").as("_vy_q"))
      .where(col("_vx_q") > 0 && col("_vy_q") > 0)
      .select(col("g"), col("n"),
        (col("_sign") * expr(
          """(10000 * cast(_cov_qa as decimal(38,0)) * cast(_cov_qa as decimal(38,0)))
             div (cast(_vx_q as decimal(38,0)) * cast(_vy_q as decimal(38,0)))"""))
          .cast("long").as("rho2_bp"))
  }

  /** Pearson chi-square statistic of independence between two
    * categorical columns, quantized to q6 (⌊10⁶·χ²⌋ summed per cell —
    * both engines floor per cell, so the sum is bit-identical):
    * per grid cell, χ²-cell = (O·N − R·C)² ∕ (N·R·C), cross-multiplied
    * so everything is integral; the squared term needs decimal(38,0)
    * (O·N alone is ~10²² at warehouse scale). The FULL marginal grid
    * is walked — a missing (a, b) combination still contributes its
    * expected count — via a cross join of the two marginal tables,
    * which are aggregate-sized by construction.
    *
    * One row out: n, df = (|A|−1)(|B|−1), chi2_q6. */
  def chiSquare(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("_a"), bCol.as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_o"))
    val ra = cells.groupBy(col("_a")).agg(sum(col("_o")).as("_r"))
    val cb = cells.groupBy(col("_b")).agg(sum(col("_o")).as("_c"))
    val na = ra.agg(count(lit(1)).as("_na"), sum(col("_r")).as("_n"))
    val nb = cb.agg(count(lit(1)).as("_nb"))
    ra.crossJoin(broadcast(cb))
      .join(cells, Seq("_a", "_b"), "left")
      .crossJoin(broadcast(na))
      .select(expr("""(1000000 *
                 (cast(coalesce(_o, 0) as decimal(38,0)) * _n - cast(_r as decimal(38,0)) * _c) *
                 (cast(coalesce(_o, 0) as decimal(38,0)) * _n - cast(_r as decimal(38,0)) * _c))
                div (cast(_n as decimal(38,0)) * _r * _c)""").as("_cell_q6"))
      // global aggregates: an empty input still gives SQL's one row
      .agg(sum(col("_cell_q6")).as("_chi2"))
      .crossJoin(na).crossJoin(nb)
      .select(col("_n").as("n"),
        ((col("_na") - 1) * (col("_nb") - 1)).as("df"),
        col("_chi2").cast("long").as("chi2_q6"))
  }

  /** Chi-square GOODNESS-OF-FIT against the uniform distribution over
    * an explicit finite domain (exact q6, per-cell floors): with k
    * domain values and N observations, each cell contributes
    * ⌊10⁶·(k·O − N)² ∕ (k·N)⌋ — the cross-multiplied form of
    * (O − N∕k)²∕(N∕k). The audit behind last-digit uniformity checks
    * (Nigrini's fraud screens, the companion to [[Profile.benford]]):
    * amounts invented by humans over-represent round digits.
    *
    * The domain is a LITERAL spine (broadcast), so values never seen
    * in the data still contribute their expected count; observed
    * values outside the domain are ignored. One map-side-combined
    * aggregate over the data; decimal(38,0) keeps the squared term
    * exact at any N. No observations give N = 0 and a NULL chi2_q6. */
  def chiSquareGof(df: DataFrame, valueCol: Column,
      domain: Seq[Long]): DataFrame = {
    require(domain.nonEmpty, "need a non-empty domain")
    val spark = df.sparkSession
    import spark.implicits.{newLongEncoder, localSeqToDatasetHolder}
    val obs = df.select(valueCol.as("_d"))
      .groupBy(col("_d")).agg(count(lit(1)).as("_o"))
    val spine = domain.toDS().toDF("_d")
    // at most |domain| rows, so the left join can build on this side
    val inDomain = obs.join(broadcast(spine), Seq("_d"), "left_semi")
    val tot = inDomain.agg(coalesce(sum(col("_o")), lit(0L)).as("_n"))
    val k = domain.size.toLong
    spine.join(broadcast(inDomain), Seq("_d"), "left")
      .crossJoin(broadcast(tot))
      .select(col("_n"),
        expr(s"""(1000000 *
                  ($k * cast(coalesce(_o, 0) as decimal(38,0)) - _n) *
                  ($k * cast(coalesce(_o, 0) as decimal(38,0)) - _n))
                 div ($k * cast(nullif(_n, 0) as decimal(38,0)))""").as("_cell"))
      .groupBy(col("_n")).agg(sum(col("_cell")).as("_chi2"))
      .select(col("_n").as("n"), lit(k).as("k"),
        col("_chi2").cast("long").as("chi2_q6"))
  }

  /** Weighted median per group (lower weighted median: the smallest
    * value whose cumulative weight reaches half the group's total) —
    * exact, no quantization: the value column passes through
    * untouched. Cumulative weights run in a window PARTITIONED BY the
    * group (ordered by value with `tieCol` pinning determinism), the
    * group total in the same partition unbounded — one shuffle on the
    * group key, then a min over the qualifying rows. */
  def weightedMedian(df: DataFrame, groupCol: Column, valueCol: Column,
      weightCol: Column, tieCol: Column, buckets: Int = 256): DataFrame = {
    val base = df.select(groupCol.as("g"), valueCol.as("_x"),
      weightCol.as("_w"), tieCol.as("_t"))
    // distributed running weight ([[GroupedPrefix]]): cum = weights in
    // strictly-lower buckets (broadcast offsets) + in-bucket running
    // sum — partitionBy(g) alone (25 nations) would be whole-group
    // single-task sorts
    val withOff = GroupedPrefix.withBucketOffsets(base, Seq("g"), "_x",
      sum(col("_w")), "_woff", buckets)
    val tot = broadcast(base.groupBy(col("g")).agg(sum(col("_w")).as("_tot")))
    val cumW = Window.partitionBy(col("g"), col("_b"))
      .orderBy(col("_x"), col("_t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    GroupedPrefix.joinNullSafe(withOff, tot, Seq("g"))
      .withColumn("_cum",
        coalesce(col("_woff"), lit(0L)) + sum(col("_w")).over(cumW))
      .where(lit(2L) * col("_cum") >= col("_tot"))
      .groupBy(col("g"))
      .agg(min(col("_x")).as("w_median"), max(col("_tot")).as("total_w"))
  }

  /** Mann–Kendall trend statistic per group (Mann 1945; Kendall 1975):
    * S = Σ_{i<j} sign(x_j − x_i) over the group's series in time
    * order, plus the pair count. S is left UNDIVIDED (it can be
    * negative, where truncating and flooring integer division
    * disagree across engines); τ is S / n_pairs for the reader.
    *
    * The caller collapses the raw data to the (group, t, x) series
    * FIRST (a data-sized aggregate), so the O(n²) pair join here runs
    * on series-sized input only — same contract as Theil–Sen. */
  def mannKendall(series: DataFrame, groupCol: String, tCol: String,
      xCol: String): DataFrame = {
    val a = series.select(col(groupCol).as("g"), col(tCol).as("_ta"),
      col(xCol).as("_xa"))
    val b = series.select(col(groupCol).as("g"), col(tCol).as("_tb"),
      col(xCol).as("_xb"))
    a.join(b, Seq("g"))
      .where(col("_ta") < col("_tb"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(signum(col("_xb") - col("_xa")).cast("long")).as("s_stat"))
  }

  /** Calibration error of a [0, 10⁴]-scaled confidence against binary
    * outcomes — ECE/MCE (Naeini et al. 2015's equal-width binning) and
    * the Brier score, all EXACT integers: per decile bucket, accuracy
    * and mean confidence in basis points via truncating division on
    * non-negative values; ECE = Σ n_b·|acc_b − conf_b| ∕ N, MCE = the
    * max gap, Brier·10⁸ = Σ (conf − 10⁴·y)² ∕ N. The readout behind
    * "can this quality score be thresholded at face value" — the
    * summary next to ext_quality_calibration's per-decile table and
    * ext_isotonic_calibration's PAV fix.
    *
    * Scale shape: one map-side-combined bucket aggregate (≤ nBuckets
    * rows) plus one scalar aggregate; the score column rides whatever
    * scan produced it. */
  def calibrationError(df: DataFrame, confQ4: Column, labelCol: Column,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && 10000 % nBuckets == 0,
      s"nBuckets must divide 10000, got $nBuckets")
    val w = 10000 / nBuckets
    val rows = df.select(confQ4.as("conf"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .withColumn("b", least(expr(s"conf div $w"), lit(nBuckets - 1L)))
      .persistScoped // the bucket table and the Brier scalar both read it
    val buckets = rows.groupBy(col("b"))
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("c_b"),
        sum(col("conf")).as("s_b"))
      .withColumn("gap", abs(expr("(10000 * c_b) div n_b") -
        expr("s_b div n_b")))
    val ece = buckets.agg(sum(col("n_b")).as("n"),
      expr("sum(n_b * gap)").as("_w"), max(col("gap")).as("mce_bp"))
      .select(col("n"), expr("_w div n").as("ece_bp"), col("mce_bp"))
    val brier = rows.agg(expr(
      "sum((conf - 10000 * y) * (conf - 10000 * y))").as("_s"),
      count(lit(1)).as("_n"))
      .select(expr("_s div _n").as("brier_q8"))
    ece.crossJoin(broadcast(brier))
  }

  /** Unbiased pass@k (Chen et al. 2021, the HumanEval estimator): per
    * task with n attempts of which c are correct,
    * pass@k = 1 − C(n−c, k)∕C(n, k) — the probability that a random
    * k-subset of the attempts contains at least one success, which is
    * what "the model solves it within k samples" means without the
    * naive-subsampling bias. Computed EXACTLY in basis points via the
    * falling-factorial form 1 − Π_{i<k}(n−c−i)∕(n−i): integer products
    * and one truncating division on non-negative values, so both
    * engines agree bit-for-bit. k clamps to n per task (k_eff =
    * min(k, n)); factors clamp at 0, so n−c < k_eff ⇒ pass = 10⁴.
    *
    * Overflow bound: 10⁴·n^k < 2⁶³ — n up to ~97 000 attempts per task
    * at k = 3 (far beyond any eval harness).
    *
    * Scale shape: ONE map-side-combined (task) aggregate over the
    * attempt table, then row-local integer arithmetic on |tasks| rows. */
  def passAtK(attempts: DataFrame, taskCol: String, correctCol: Column,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 8, s"k must be in 1..8, got $k")
    val counts = attempts.groupBy(col(taskCol))
      .agg(count(lit(1)).as("n"),
        sum(when(correctCol, 1L).otherwise(0L)).as("c"))
      .withColumn("k_eff", least(lit(k.toLong), col("n")))
    val num = (0 until k).map(i =>
      s"(CASE WHEN $i < k_eff THEN greatest(n - c - $i, 0) ELSE 1 END)")
      .mkString(" * ")
    val den = (0 until k).map(i =>
      s"(CASE WHEN $i < k_eff THEN n - $i ELSE 1 END)")
      .mkString(" * ")
    counts.withColumn("pass_bp", expr(
      s"CASE WHEN n >= 1 THEN 10000 - (10000 * ($num)) div ($den) ELSE 0 END"))
  }

  /** THEIL–SEN robust trend (Theil 1950, Sen 1968) — [[mannKendall]]'s
    * natural companion (MK answers "is there a trend", Theil–Sen
    * answers "how steep"): per group, the MEDIAN of all pairwise
    * slopes, which tolerates ~29% outliers where OLS tolerates zero.
    * Slopes are q6 integers via sign-before-division (Spark's
    * truncating `div` ≡ DuckDB's `//` on the non-negative absolute
    * value); the median is the LOWER median (deterministic for even
    * pair counts); the intercept is the median of the q6 residuals
    * `10⁶·x − slope·t` under the chosen slope.
    *
    * Same input contract as [[mannKendall]]: the caller collapses raw
    * data to the (group, t, x) series FIRST, so the O(n²) pair join
    * runs on series-sized input only (a year of daily points = 66k
    * pairs per group — window-sorted per group, never globally). */
  def theilSen(series: DataFrame, groupCol: String, tCol: String,
      xCol: String): DataFrame = {
    val a = series.select(col(groupCol).as("g"), col(tCol).as("_ta"),
      col(xCol).as("_xa"))
    val b = series.select(col(groupCol).as("g"), col(tCol).as("_tb"),
      col(xCol).as("_xb"))
    val slopes = a.join(b, Seq("g"))
      .where(col("_ta") < col("_tb"))
      .withColumn("slope_q6", expr(
        """CASE WHEN _xb >= _xa
          |THEN (1000000 * (_xb - _xa)) div (_tb - _ta)
          |ELSE -((1000000 * (_xa - _xb)) div (_tb - _ta)) END""".stripMargin))
    val w = Window.partitionBy(col("g")).orderBy(col("slope_q6"))
    val med = slopes
      .withColumn("_rn", row_number().over(w))
      .withColumn("_np", count(lit(1)).over(Window.partitionBy(col("g"))))
      // integer div: Column./ would yield DOUBLE and miss even counts
      .where(col("_rn") === expr("(_np + 1) div 2"))
      .select(col("g"), col("_np").as("n_pairs"), col("slope_q6"))
    val resid = series.select(col(groupCol).as("g"), col(tCol).as("_t"),
        col(xCol).as("_x"))
      .join(med, Seq("g"))
      .withColumn("_r_q6", lit(1000000L) * col("_x") -
        col("slope_q6") * col("_t"))
    val wr = Window.partitionBy(col("g")).orderBy(col("_r_q6"))
    resid
      .withColumn("_rn", row_number().over(wr))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("_rn") === expr("(_n + 1) div 2"))
      .select(col("g").as(groupCol), col("_n").as("n_points"),
        col("n_pairs"), col("slope_q6"), col("_r_q6").as("intercept_q6"))
  }

  /** Kendall's τ-b — the tie-corrected rank concordance next to
    * [[spearman]]: over all row pairs of a group, C = concordant
    * (x and y order agree), D = discordant, with ties in x or y in
    * neither; τ-b = (C − D) ∕ √((n₀−n₁)(n₀−n₂)) where n₀ = n(n−1)∕2
    * and n₁/n₂ are the x/y tie-pair sums. Rows with a null x or y are
    * dropped.
    *
    * Shape: rows first COLLAPSE to distinct (x, y) value cells with
    * counts, and the pair enumeration runs over CELL pairs weighted by
    * count products — |cells|² per group, not |rows|² (ties are free).
    * Same contract as [[theilSen]]: feed a collapsed/bounded series
    * (daily aggregates, bucketed metrics), where m = distinct cells is
    * calendar- or domain-bounded; on a continuous column collapse or
    * bucket first. C, D and the tie sums are exact integers; only the
    * final τ-b runs through one identical-structure double expression
    * (IEEE sqrt + divide are correctly rounded on both engines, the
    * ev14 pattern). Groups whose tie-corrected denominator is zero
    * (constant x or constant y) emit τ-b = 0. */
  def kendallTau(df: DataFrame, groupCol: Column, xCol: Column,
      yCol: Column): DataFrame = {
    val cells = df
      .select(groupCol.as("g"), xCol.as("x"), yCol.as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("c"))
      .persistScoped // margins AND both sides of the cell-pair join
    val a = cells.toDF("g", "xa", "ya", "ca")
    val b = cells.toDF("g", "xb", "yb", "cb")
    // each unordered cell pair exactly once: (xa, ya) < (xb, yb) lex
    val cd = a.join(b, Seq("g"))
      .where(col("xa") < col("xb") ||
        (col("xa") === col("xb") && col("ya") < col("yb")))
      .groupBy(col("g"))
      .agg(
        sum(when(col("xa") < col("xb") && col("ya") < col("yb"),
          col("ca") * col("cb")).otherwise(lit(0L))).as("c_conc"),
        sum(when(col("xa") < col("xb") && col("ya") > col("yb"),
          col("ca") * col("cb")).otherwise(lit(0L))).as("d_disc"))
    val tx = cells.groupBy(col("g"), col("x"))
      .agg(sum(col("c")).as("t"))
      .groupBy(col("g"))
      .agg(sum(expr("t * (t - 1) div 2")).as("n1"))
    val ty = cells.groupBy(col("g"), col("y"))
      .agg(sum(col("c")).as("t"))
      .groupBy(col("g"))
      .agg(sum(expr("t * (t - 1) div 2")).as("n2"))
    val nn = cells.groupBy(col("g")).agg(sum(col("c")).as("n"))
    nn.join(cd, Seq("g"), "left_outer")
      .join(tx, Seq("g")).join(ty, Seq("g"))
      .select(col("g"), col("n"),
        coalesce(col("c_conc"), lit(0L)).as("c_conc"),
        coalesce(col("d_disc"), lit(0L)).as("d_disc"),
        col("n1"), col("n2"),
        expr("n * (n - 1) div 2").as("n0"))
      .withColumn("tau_b_bp", expr(
        """CASE WHEN n0 - n1 <= 0 OR n0 - n2 <= 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor((10000.0D * (c_conc - d_disc)) /
          |  sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)))
          |  AS BIGINT) END""".stripMargin))
  }
}
