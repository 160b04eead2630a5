package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grouped second-order statistics — Pearson correlation and simple OLS
  * (y = a + b·x) — computed from EXACT INTEGER co-moments: the five
  * sums Σx, Σy, Σxy, Σx², Σy² are long aggregates over integer-valued
  * inputs, so every partial is exact and the reduction is
  * order-independent (the cross-engine determinism contract; Spark's
  * own `corr` reduces doubles in partition order and is not
  * bit-reproducible). Only the FINAL formula touches floating point —
  * one fixed chain of IEEE ops per group that any engine replays
  * bit-for-bit.
  *
  * Inputs must be integer-valued and small enough that `n·Σv²` fits a
  * long (quantize/downscale first — the q-fixed-point discipline used
  * across the ext layer). Scale shape: ONE map-side-combined aggregate
  * over one scan; group cardinality rows move, never data. */
object Moments {

  /** The integer-input contract, ENFORCED at the schema level (free —
    * no job): a fractional column would be silently truncated by the
    * long cast before the co-moments form, which can flip the reported
    * covariance/slope signs with no error. Quantize to fixed-point
    * first (the ext layer's q-discipline). */
  private def requireIntegral(df: DataFrame, name: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(name).dataType
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(ok,
      s"Moments: column '$name' must be integer-typed, got $dt — " +
        "quantize to fixed-point first (a silent cast would truncate " +
        "fractional values and can flip covariance signs)")
  }

  /** Per-group `(n, corr_q6, slope_q6, intercept_q6)` of integer-valued
    * columns `xCol`, `yCol`. Degenerate groups (zero variance in x for
    * the fit, or in either variable for the correlation) yield nulls
    * rather than NaN-poisoning downstream. */
  def corrOls(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    requireIntegral(df, xCol); requireIntegral(df, yCol)
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    def q6(c: Column): Column = floor(c * lit(1000000.0)).cast("long")
    df.where(col(groupCol).isNotNull && x.isNotNull && y.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * y).as("_sxy"), sum(x * x).as("_sxx"), sum(y * y).as("_syy"))
      // covn = n·Σxy − Σx·Σy ; varxn = n·Σx² − (Σx)² ; varyn likewise —
      // all exact longs; the oracle spells the identical nesting
      .withColumn("_covn", col("n") * col("_sxy") - col("_sx") * col("_sy"))
      .withColumn("_varxn", col("n") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("_varyn", col("n") * col("_syy") - col("_sy") * col("_sy"))
      .withColumn("corr_q6",
        when(col("_varxn") > 0 && col("_varyn") > 0,
          q6(col("_covn").cast("double") /
            sqrt(col("_varxn").cast("double") * col("_varyn").cast("double")))))
      .withColumn("slope_q6",
        when(col("_varxn") > 0,
          q6(col("_covn").cast("double") / col("_varxn").cast("double"))))
      .withColumn("intercept_q6",
        when(col("_varxn") > 0,
          q6((col("_sy").cast("double") -
            (col("_covn").cast("double") / col("_varxn").cast("double"))
              * col("_sx").cast("double")) / col("n").cast("double"))))
      .select(col(groupCol), col("n"), col("corr_q6"),
        col("slope_q6"), col("intercept_q6"))
  }

  /** Simpson's-paradox detector (Simpson 1951; the aggregation-reversal
    * audit every cohort dashboard needs): the SIGN of the per-group OLS
    * slope vs the sign of the POOLED slope, both exact — sign(covn) of
    * the integer covariance numerator n·Σxy − Σx·Σy, no division, no
    * floats — with `reversal` flagged where a group trends strictly
    * against the pooled trend. Two map-side-combined aggregates over
    * one projection (the pooled moments are the group moments re-summed,
    * never a second scan), pooled row broadcast back. */
  def simpsonsFlag(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    requireIntegral(df, xCol); requireIntegral(df, yCol)
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val base = df.where(col(groupCol).isNotNull && x.isNotNull && y.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * y).as("_sxy"))
    val pooled = base.agg(sum(col("n")).as("_pn"), sum(col("_sx")).as("_psx"),
      sum(col("_sy")).as("_psy"), sum(col("_sxy")).as("_psxy"))
      .select(signum(col("_pn") * col("_psxy") - col("_psx") * col("_psy"))
        .cast("long").as("pooled_sign"))
    base
      .withColumn("slope_sign",
        signum(col("n") * col("_sxy") - col("_sx") * col("_sy")).cast("long"))
      .crossJoin(broadcast(pooled))
      .withColumn("reversal",
        col("slope_sign") =!= 0L && col("pooled_sign") =!= 0L &&
          col("slope_sign") === -col("pooled_sign"))
      .select(col(groupCol), col("n"), col("slope_sign"), col("pooled_sign"),
        col("reversal"))
  }

  /** Per-group EXACT Gram moments for multi-feature linear regression:
    * n, Σx_i, Σx_i·x_j (upper triangle), Σx_i·y, Σy, Σy² — every
    * number an exact long over integer-valued inputs, so the aggregate
    * is order-independent and cross-engine reproducible. This is the
    * distributed HALF of normal-equation model fitting (the classic
    * scalable linear-model shape): one map-side-combined pass over the
    * data produces a group-cardinality × O(d²) moment relation, and
    * the d×d solve happens wherever the moments land.
    * Quantize/downscale inputs so n·max(v)² fits a long — the same
    * contract as [[corrOls]]. */
  def gramMoments(df: DataFrame, groupCol: String, features: Seq[String],
      yCol: String): DataFrame = {
    val d = features.size
    require(d >= 1 && d <= 16, s"features size must be in [1, 16], got $d")
    val xs = features.map(f => col(f).cast("long"))
    val y = col(yCol).cast("long")
    val aggs =
      (count(lit(1)).as("n") +:
        xs.zipWithIndex.map { case (x, i) => sum(x).as(s"sx$i") }) ++
      (for (i <- 0 until d; j <- i until d)
        yield sum(xs(i) * xs(j)).as(s"g${i}_$j")) ++
      xs.zipWithIndex.map { case (x, i) => sum(xs(i) * y).as(s"sxy$i") } ++
      Seq(sum(y).as("sy"), sum(y * y).as("syy"))
    df.where(col(groupCol).isNotNull && y.isNotNull &&
        xs.map(_.isNotNull).reduce(_ && _))
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
  }

}
