package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, QueryGroup, Tables}
import graft.functions.ModeAgg

/** Aggregation operators A1–A11 (SURVEY.md §2.4) re-expressed over the
  * driver test tables. Flagship = a1_project_summary, mirroring the
  * reference's per-project dashboard aggregation
  * (`/root/reference/utils/parse.py:294-340`): entity counts, has-data
  * counts, volume sums, mode of a categorical, %-done ratio, sorted desc.
  *
  * Scale notes: every aggregation here is a hash aggregate with map-side
  * partial aggregation (one shuffle on the group key); the per-customer
  * pre-aggregation in a1 shrinks the orders side *before* the customer
  * join, and the nation/segment dimensions stay broadcast-size.
  */
object AggQueries extends QueryGroup {

  import Tables.load

  /** A1 — flagship dashboard summary (parse.py:294-340 shape). */
  def projectSummary(spark: SparkSession, dir: String): DataFrame = {
    val customer = load(spark, dir, "customer")
    val orders   = load(spark, dir, "orders")
    val nation   = load(spark, dir, "nation")

    // Pre-aggregate the fact side first: shrinks the join input from
    // |orders| to |customers-with-orders| (critical at 100 TB).
    val custOrders = orders.groupBy($"o_custkey".as("cust_key"))
      .agg(count(lit(1)).as("n_orders"), sum($"o_totalprice").as("spend"))

    val enriched = customer
      .join(custOrders, customer("c_custkey") === custOrders("cust_key"), "left")

    enriched
      .join(broadcast(nation), enriched("c_nationkey") === nation("n_nationkey"))
      .groupBy($"n_name".as("nation"))
      .agg(
        count(lit(1)).as("n_customers"),
        count($"n_orders").as("n_with_orders"),
        round(sum(coalesce($"spend", lit(0.0))) / 1e6, 4).as("spend_m"),
        ModeAgg.mode_str($"c_mktsegment").as("top_segment"),
        round(count($"n_orders").cast("double") / count(lit(1)), 4).as("pct_active"))
      .orderBy(desc("pct_active"), $"nation")
  }

  private val projectSummarySql =
    """WITH cust_orders AS (
      |  SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
      |  FROM orders GROUP BY o_custkey
      |), enriched AS (
      |  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, co.n_orders, co.spend
      |  FROM customer c LEFT JOIN cust_orders co ON c.c_custkey = co.o_custkey
      |), seg_mode AS (
      |  SELECT c_nationkey, c_mktsegment AS top_segment FROM (
      |    SELECT c_nationkey, c_mktsegment,
      |           row_number() OVER (PARTITION BY c_nationkey
      |                              ORDER BY count(*) DESC, c_mktsegment ASC) AS rn
      |    FROM customer GROUP BY c_nationkey, c_mktsegment)
      |  WHERE rn = 1
      |)
      |SELECT n.n_name AS nation,
      |       count(*) AS n_customers,
      |       count(e.n_orders) AS n_with_orders,
      |       round(sum(coalesce(e.spend, 0))/1e6, 4) AS spend_m,
      |       m.top_segment AS top_segment,
      |       round(CAST(count(e.n_orders) AS DOUBLE)/count(*), 4) AS pct_active
      |FROM enriched e
      |JOIN nation n ON e.c_nationkey = n.n_nationkey
      |JOIN seg_mode m ON e.c_nationkey = m.c_nationkey
      |GROUP BY n.n_name, m.top_segment
      |ORDER BY pct_active DESC, nation""".stripMargin

  /** A2 — conditional aggregation (summary_lane.py:8-11 shape). */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    li.groupBy($"l_returnflag".as("flag"))
      .agg(
        round(sum($"l_quantity"), 2).as("total_qty"),
        round(sum(when($"l_linestatus" === "F", $"l_quantity").otherwise(0.0)), 2).as("qty_f"),
        round(sum(when($"l_linestatus" === "F", $"l_quantity").otherwise(0.0)) /
          sum($"l_quantity"), 6).as("pct_f"))
      .orderBy($"flag")
  }

  private val conditionalAggSql =
    """SELECT l_returnflag AS flag,
      |       round(sum(l_quantity), 2) AS total_qty,
      |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_f,
      |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END)
      |             / sum(l_quantity), 6) AS pct_f
      |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin

  /** A3/W1 — within-group proportion of total (summary_lane.py:13-14). */
  def groupProportion(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val w = Window.partitionBy($"l_orderkey")
    li.select(
        $"l_orderkey", $"l_linenumber",
        round($"l_extendedprice" / sum($"l_extendedprice").over(w), 6).as("price_share"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private val groupProportionSql =
    """SELECT l_orderkey, l_linenumber,
      |       round(l_extendedprice / sum(l_extendedprice)
      |             OVER (PARTITION BY l_orderkey), 6) AS price_share
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** A4 — derived-metric stats per group (variance_files.py:102-155 shape):
    * depth = reads*150/genome_size becomes a revenue-per-size metric. */
  def depthStats(spark: SparkSession, dir: String): DataFrame = {
    val li   = load(spark, dir, "lineitem")
    val part = load(spark, dir, "part")
    val depth = round($"l_extendedprice" * (lit(1.0) - $"l_discount") /
      greatest($"p_size".cast("double"), lit(1.0)), 3)
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select($"p_brand", depth.as("depth"))
      .groupBy($"p_brand".as("brand"))
      .agg(
        round(avg($"depth"), 4).as("avg_depth"),
        count(when($"depth" < 500, 1)).as("n_low"),
        count(when($"depth" < 800, 1)).as("n_mid"),
        count(lit(1)).as("n_total"))
      .orderBy($"brand")
  }

  private val depthStatsSql =
    """WITH d AS (
      |  SELECT p.p_brand,
      |         round(l.l_extendedprice * (1.0 - l.l_discount)
      |               / greatest(CAST(p.p_size AS DOUBLE), 1.0), 3) AS depth
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
      |SELECT p_brand AS brand,
      |       round(avg(depth), 4) AS avg_depth,
      |       count(CASE WHEN depth < 500 THEN 1 END) AS n_low,
      |       count(CASE WHEN depth < 800 THEN 1 END) AS n_mid,
      |       count(*) AS n_total
      |FROM d GROUP BY p_brand ORDER BY brand""".stripMargin

  /** A5 — count rows matching a filter (count_documents shape). */
  def filteredCount(spark: SparkSession, dir: String): DataFrame = {
    val orders = load(spark, dir, "orders")
    orders.where($"o_orderstatus" === "F")
      .agg(count(lit(1)).as("n_finished"))
  }

  private val filteredCountSql =
    "SELECT count(*) AS n_finished FROM orders WHERE o_orderstatus = 'F'"

  /** A7 — min event time per group (received = first matched mdate,
    * update_reads.py:237). */
  def minDate(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy($"user_id")
      .agg(min($"ts").as("first_seen"), max($"ts").as("last_seen"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  private val minDateSql =
    """SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS first_seen,
      |       CAST(max(ts) AS TIMESTAMP) AS last_seen,
      |       count(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A9 — histogram / frequency count (per-state counts shape). */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    ev.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  private val histogramSql =
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type"

  /** Rollup subtotals (engine surface beyond the reference: Spark's
    * rollup/cube/grouping-sets are free once aggregation is declarative).
    * NULL group markers replaced for deterministic comparison. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    flagStatusTotals(li, li.rollup($"l_returnflag", $"l_linestatus"))
  }

  /** a12/a17: row count and quantity per grouping set of (flag, status),
    * a set's absent columns as 'ALL'. SQL answers the empty grouping set
    * with one row even over no input rows (count 0, sum NULL); Spark's
    * grouped aggregate answers none, so on an empty input the global
    * aggregate supplies that row. */
  private def flagStatusTotals(li: DataFrame,
      sets: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = {
    val measures = Seq(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
    val grandTotal = li.agg(measures.head, measures.tail: _*).where($"n" === 0)
      .select(lit(null).cast("string").as("l_returnflag"),
        lit(null).cast("string").as("l_linestatus"), $"n", $"qty")
    sets.agg(measures.head, measures.tail: _*).unionByName(grandTotal)
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("flag"),
        coalesce($"l_linestatus", lit("ALL")).as("status"),
        $"n", $"qty")
      .orderBy($"flag", $"status")
  }

  private val rollupAggSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |       coalesce(l_linestatus, 'ALL') AS status,
      |       count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  /** A17 — CUBE: all 2^k grouping combinations (the non-prefix sets
    * rollup can't produce) in one Expand + one aggregate — completes
    * the multidimensional-aggregate family next to a12 (rollup) and
    * a13 (explicit grouping sets). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    flagStatusTotals(li, li.cube($"l_returnflag", $"l_linestatus"))
  }

  private val cubeAggSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |       coalesce(l_linestatus, 'ALL') AS status,
      |       count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  /** A14 — star-schema revenue (TPC-H Q5 shape): the canonical
    * multi-dimension join plan. The fact table (lineitem) takes ONE
    * hash shuffle (to orders on the orderkey); every dimension hop —
    * customer, nation, region — is a broadcast, so the 100-TB fact
    * never re-shuffles per dimension. Filters (region, order year)
    * reach the scans before any join. */
  def starRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val ord = load(spark, dir, "orders")
      .where(year($"o_orderdate") === 1995)
      .select($"o_orderkey", $"o_custkey")
    val cust = load(spark, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
    val nat = load(spark, dir, "nation")
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    val reg = load(spark, dir, "region")
      .where($"r_name" === "ASIA").select($"r_regionkey")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name".as("nation"))
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")) / 1e6, 4)
        .as("revenue_m"), count(lit(1)).as("n_items"))
      .orderBy(desc("revenue_m"), $"nation")
  }

  private val starRevenueSql =
    """SELECT n.n_name AS nation,
      |       round(sum(l.l_extendedprice * (1 - l.l_discount)) / 1e6, 4)
      |         AS revenue_m,
      |       count(*) AS n_items
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE year(o.o_orderdate) = 1995 AND r.r_name = 'ASIA'
      |GROUP BY n.n_name
      |ORDER BY revenue_m DESC, nation""".stripMargin

  /** Arbitrary GROUPING SETS (the general form rollup/cube specialize):
    * per-(flag,status), per-flag, and per-STATUS subtotals in one pass —
    * a set rollup cannot express (it only nests prefixes). Spark plans
    * one Expand + one aggregate, not three scans. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    li.groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"),
          Seq($"l_linestatus")),
        $"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("flag"),
        coalesce($"l_linestatus", lit("ALL")).as("status"),
        $"n", $"qty")
      .orderBy($"flag", $"status")
  }

  private val groupingSetsSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |       coalesce(l_linestatus, 'ALL') AS status,
      |       count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), (l_linestatus))
      |ORDER BY flag, status""".stripMargin

  /** A15 — pivot (long → wide): per-user event counts, one column per
    * event type. Spark compiles `pivot` to conditional aggregation —
    * one pass, map-side partial — with the pivot values pinned
    * explicitly so the plan never needs the extra distinct-scan (and
    * the output schema is stable for the oracle). */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy($"user_id")
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"user_id")

  private val pivotCountsSql =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A16 — unpivot/melt (wide → long, the inverse of a15): customer
    * numeric attributes to (key, attribute, value) rows. Narrow Expand
    * — one output row per (row, attribute), no shuffle. */
  def unpivotAttrs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")
      .select($"c_custkey", $"c_acctbal", $"c_nationkey".cast("double").as("c_nationkey"))
      .unpivot(Array($"c_custkey"), Array($"c_acctbal", $"c_nationkey"),
        "attribute", "value")
      .select($"c_custkey", $"attribute", round($"value", 2).as("value"))
      .orderBy($"c_custkey", $"attribute")

  private val unpivotAttrsSql =
    """SELECT c_custkey, attribute, round(value, 2) AS value FROM (
      |  SELECT c_custkey, 'c_acctbal' AS attribute, c_acctbal AS value
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'c_nationkey', c_nationkey::DOUBLE FROM customer)
      |ORDER BY c_custkey, attribute""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("a15_pivot", pivotCounts, Some(pivotCountsSql)),
    QueryDef("a16_unpivot", unpivotAttrs, Some(unpivotAttrsSql)),
    QueryDef("a12_rollup", rollupAgg, Some(rollupAggSql)),
    QueryDef("a17_cube", cubeAgg, Some(cubeAggSql)),
    QueryDef("a13_grouping_sets", groupingSets, Some(groupingSetsSql)),
    QueryDef("a14_star_revenue", starRevenue, Some(starRevenueSql)),
    QueryDef("a1_project_summary", projectSummary, Some(projectSummarySql)),
    QueryDef("a2_conditional_agg", conditionalAgg, Some(conditionalAggSql)),
    QueryDef("a3_group_proportion", groupProportion, Some(groupProportionSql)),
    QueryDef("a4_depth_stats", depthStats, Some(depthStatsSql)),
    QueryDef("a5_filtered_count", filteredCount, Some(filteredCountSql)),
    QueryDef("a7_min_date", minDate, Some(minDateSql)),
    QueryDef("a9_histogram", histogram, Some(histogramSql)))
}
