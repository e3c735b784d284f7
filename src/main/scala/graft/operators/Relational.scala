package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator suite over the driver testdata tables (SURVEY.md §2
  * Table C). The reference has no relational engine at all (its only SQL is
  * a SQLite point lookup, task.py:73), so these are the built-in Spark
  * operators our engine exposes to users alongside the extraction pipeline
  * — each registered in SparkEntry.queries with a DuckDB oracle.
  *
  * Scale notes per query are inline: what shuffles, what broadcasts, what
  * pushes down. All numeric outputs avoid raw float aggregates (rounded to
  * fixed decimals) so the driver's hash compare is stable across engines;
  * every query has a total ORDER BY for deterministic row order.
  */
object Relational {

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** TPC-H Q1-style pricing summary. One shuffle (partial agg map-side,
    * 4-group final); the shipdate filter pushes down to the parquet scan.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style: 3-way join with a broadcast dim (customer is tiny vs
    * lineitem at scale → broadcast; orders⋈lineitem shuffles on orderkey).
    */
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = table(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val li = table(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderpriority,
      | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      | AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      | AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** Broadcast-join chain over the two smallest dims: supplier⋈nation⋈region.
    * Both dims broadcast (no shuffle on the fact side at any scale).
    */
  def qBroadcastDims(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        round(sum(col("s_acctbal")), 2).as("sum_acctbal"))
      .orderBy(col("r_name"))

  val qBroadcastDimsSql: String =
    """SELECT r_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS sum_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Left-semi join: orders having at least one high-quantity line.
    * Semi joins ship only the join key of the right side — at 100 TB this
    * is the cheap way to express EXISTS.
    */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val hot = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
    table(s, dir, "orders")
      .join(hot, col("o_orderkey") === hot("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val qSemiJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Left-anti join: customers with no high-value order, per nation
    * (broadcast the nation dim; anti-join shuffles on custkey only).
    */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = table(s, dir, "orders").filter(col("o_totalprice") > 300000)
    table(s, dir, "customer")
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers_no_big_orders"))
      .orderBy(col("n_name"))
  }

  val qAntiJoinSql: String =
    """SELECT n_name, count(*) AS n_customers_no_big_orders FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Window top-k: top 3 orders per customer by totalprice (row_number,
    * deterministic tiebreak on orderkey). One shuffle on custkey.
    */
  def qWindowTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  val qWindowTopKSql: String =
    """SELECT o_custkey, o_orderkey, rnk, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      | FROM orders) t WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin

  /** Window lag: per-user inter-event gaps over the events stream table;
    * emits users with max gap and count of gaps > 1h. At scale this is the
    * sessionization primitive (single shuffle on user_id).
    */
  def qWindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_s", unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
      .groupBy(col("user_id"))
      .agg(count(col("gap_s")).as("n_gaps"),
        max(col("gap_s")).as("max_gap_s"),
        sum(when(col("gap_s") > 3600, 1L).otherwise(0L)).as("n_session_breaks"))
      .orderBy(col("user_id"))
  }

  val qWindowLagSql: String =
    """SELECT user_id, count(gap_s) AS n_gaps, max(gap_s) AS max_gap_s,
      | CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_session_breaks
      |FROM (
      | SELECT user_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s
      | FROM events) t
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Global sort + limit (top-k): takeOrdered-style — Spark plans this as
    * TakeOrderedAndProject (no full sort shuffle).
    */
  def qTopK(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .limit(10)

  val qTopKSql: String =
    """SELECT p_partkey, p_name, p_retailprice FROM part
      |ORDER BY p_retailprice DESC, p_partkey LIMIT 10""".stripMargin

  /** Set op: months with shipments but no new orders (shipping tail —
    * EXCEPT = distinct + anti semantics in both engines).
    */
  def qSetOp(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem").select(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .except(table(s, dir, "orders").select(date_format(col("o_orderdate"), "yyyy-MM").as("month")))
      .orderBy(col("month"))

  val qSetOpSql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS month FROM lineitem
      |EXCEPT SELECT strftime(o_orderdate, '%Y-%m') AS month FROM orders ORDER BY month""".stripMargin

  /** Union-all of two grouped projections (schema-aligned counts). */
  def qUnionAll(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").groupBy(col("event_type").as("k")).agg(count(lit(1)).as("n"))
      .withColumn("src", lit("events"))
      .unionAll(
        table(s, dir, "orders").groupBy(col("o_orderstatus").as("k")).agg(count(lit(1)).as("n"))
          .withColumn("src", lit("orders")))
      .orderBy(col("src"), col("k"))

  val qUnionAllSql: String =
    """SELECT * FROM (
      | SELECT event_type AS k, count(*) AS n, 'events' AS src FROM events GROUP BY event_type
      | UNION ALL
      | SELECT o_orderstatus AS k, count(*) AS n, 'orders' AS src FROM orders GROUP BY o_orderstatus
      |) t ORDER BY src, k""".stripMargin

  /** Scalar string functions (projection only — no shuffle; column pruning
    * means the scan reads exactly the referenced columns).
    */
  def qScalarString(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_name"), 1, 12).as("name_pfx"),
        length(col("p_name")).as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))
      .limit(200)

  val qScalarStringSql: String =
    """SELECT p_partkey, upper(p_brand) AS brand_u, substring(p_name, 1, 12) AS name_pfx,
      | length(p_name) AS name_len, p_brand || '|' || p_type AS brand_type
      |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin

  /** Date bucketing: orders per month. */
  def qDateBuckets(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("month"))

  val qDateBucketsSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
      | round(sum(o_totalprice), 2) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  /** JSON extraction from the events.props column + grouped agg. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val qJsonExtractSql: String =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      | max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Rollup (hierarchical agg with subtotals). Explicit NULLS FIRST so both
    * engines order the subtotal rows identically.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val qRollupSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
      |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Distinct aggregates (expand-based plan; one extra shuffle per distinct
    * column — noted for scale: prefer approx_count_distinct in metrics paths).
    */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val qDistinctAggSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** CASE/WHEN + math functions + conditional agg. */
  def qCaseMath(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .withColumn("disc_band",
        when(col("l_discount") >= 0.08, "high")
          .when(col("l_discount") >= 0.04, "mid")
          .otherwise("low"))
      .groupBy(col("disc_band"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(sum(abs(col("l_extendedprice")) * col("l_tax")), 2).as("sum_tax_amt"))
      .orderBy(col("disc_band"))

  val qCaseMathSql: String =
    """SELECT CASE WHEN l_discount >= 0.08 THEN 'high'
      |            WHEN l_discount >= 0.04 THEN 'mid' ELSE 'low' END AS disc_band,
      | count(*) AS n, round(avg(l_quantity), 2) AS avg_qty,
      | round(sum(abs(l_extendedprice) * l_tax), 2) AS sum_tax_amt
      |FROM lineitem GROUP BY 1 ORDER BY disc_band""".stripMargin

  /** Array aggregation: sorted list of nation's supplier names. The array
    * is built with collect_list + sort_array (the operator under test), then
    * serialized with array_join for the compare — the driver's pandas sort
    * cannot hash raw array cells (round-1 ERR), and joining to a string
    * compares the identical semantics.
    */
  def qArrayAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("suppliers"),
        count(lit(1)).as("n"))
      .orderBy(col("n_name"))

  val qArrayAggSql: String =
    """SELECT n_name, array_to_string(list_sort(list(s_name)), ',') AS suppliers, count(*) AS n
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Statistical aggregates: stddev, exact percentile (interpolated),
    * correlation — rounded so cross-engine float noise cannot flip the
    * hash compare.
    */
  def qStatsAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev(col("l_quantity")), 3).as("sd_qty"),
        round(expr("percentile(l_quantity, 0.5)"), 3).as("med_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))

  val qStatsAggSql: String =
    """SELECT l_returnflag, round(stddev(l_quantity), 3) AS sd_qty,
      | round(quantile_cont(l_quantity, 0.5), 3) AS med_qty,
      | round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price,
      | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Scalar subquery: orders above the global average price. The scalar
    * side is a 1-row broadcast (no shuffle of the fact table).
    */
  def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val avgP = table(s, dir, "orders").agg(avg(col("o_totalprice")).as("ap"))
    table(s, dir, "orders")
      .crossJoin(broadcast(avgP))
      .filter(col("o_totalprice") > col("ap"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_above_avg"))
      .orderBy(col("o_orderstatus"))
  }

  val qScalarSubquerySql: String =
    """SELECT o_orderstatus, count(*) AS n_above_avg FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Pivot (wide conditional aggregation): order counts per priority ×
    * status. Spark's .pivot plans to the same conditional-agg shape the
    * oracle spells out — one shuffle, map-side partials.
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))

  val qPivotSql: String =
    """SELECT o_orderpriority,
      | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  /** Cube (all grouping-set combinations). */
  def qCube(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val qCubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Full outer join of two pre-aggregated sides (nation coverage of
    * customers vs suppliers; either side may be absent).
    */
  def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val sp = table(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(sp, Seq("nationkey"), "full_outer")
      .na.fill(0L, Seq("n_cust", "n_supp"))
      .orderBy(col("nationkey"))
  }

  val qFullOuterSql: String =
    """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      | COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
      | USING (nationkey)
      |ORDER BY nationkey""".stripMargin

  /** Explicit GROUPING SETS (beyond rollup/cube: an arbitrary set list —
    * here per-flag totals alongside flag×status detail). Expressed via
    * SQL over the parquet path (the DataFrame API spells only rollup/cube;
    * Catalyst plans both identically through Expand).
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    s.sql(
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         | round(sum(l_quantity), 2) AS qty
         |FROM parquet.`$dir/lineitem.parquet`
         |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | round(sum(l_quantity), 2) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Set op: months with BOTH shipments and new orders (INTERSECT =
    * distinct ∩ — completes the set-op family next to EXCEPT/UNION ALL).
    */
  def qIntersect(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem").select(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .intersect(table(s, dir, "orders").select(date_format(col("o_orderdate"), "yyyy-MM").as("month")))
      .orderBy(col("month"))

  val qIntersectSql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS month FROM lineitem
      |INTERSECT SELECT strftime(o_orderdate, '%Y-%m') AS month FROM orders ORDER BY month""".stripMargin

  /** AS-OF JOIN — the canonical time-series operator Spark lacks as a
    * built-in (for each purchase, the same user's latest click at or
    * before it), composed the scale-correct way: tag both sides, UNION,
    * and carry the running last right-side row per key with an
    * ignoreNulls `last()` over a rows-unbounded-preceding window. ONE
    * shuffle on the key, no range cross-product — the naive
    * `l.ts >= r.ts` join explodes quadratically in events per key. The
    * right side is pre-deduped to one row per (key, ts) so the pick is
    * deterministic; equal timestamps match (right sorts before left at
    * the same ts). Oracle: DuckDB's NATIVE `ASOF LEFT JOIN` — a fully
    * independent implementation of the same semantics.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("r_event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("l_event_id"))
    val tagged = purchases
      .select(col("user_id"), col("ts"), lit(1).as("side"), col("l_event_id"),
        lit(null).cast("long").as("r_event_id"),
        lit(null).cast("timestamp").as("r_ts"))
      .unionAll(clicks.select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("l_event_id"), col("r_event_id"),
        col("ts").as("r_ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_id", last(col("r_event_id"), ignoreNulls = true).over(w))
      .withColumn("click_ts", last(col("r_ts"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("l_event_id").as("purchase_id"), col("user_id"), col("click_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("click_ts"))).as("lag_seconds"))
      .orderBy(col("purchase_id"))
  }

  val qAsofJoinSql: String =
    """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT user_id, ts, event_id AS purchase_id
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, c.click_id,
      | CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_seconds
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY purchase_id""".stripMargin

  /** RANGE JOIN against a tiny band table — the scale-correct plan is a
    * BROADCAST nested-loop on the band predicate (never a shuffle): the
    * fact side streams through codegen'd comparisons against the
    * broadcast bands. Half-open [lo, hi) bands so every quantity lands
    * in exactly one band on both engines.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("q1_tiny", 0.0, 10.0), ("q2_small", 10.0, 20.0), ("q3_mid", 20.0, 35.0),
      ("q4_large", 35.0, 50.0), ("q5_huge", 50.0, 1e9))
      .toDF("band", "lo", "hi")
    table(s, dir, "lineitem")
      .join(broadcast(bands),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("band"))
  }

  val qRangeJoinSql: String =
    """SELECT band, count(*) AS n_items, round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem
      |JOIN (VALUES ('q1_tiny', 0.0, 10.0), ('q2_small', 10.0, 20.0),
      |             ('q3_mid', 20.0, 35.0), ('q4_large', 35.0, 50.0),
      |             ('q5_huge', 50.0, 1e9)) b(band, lo, hi)
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** Gap-based SESSIONIZATION (30-minute inactivity splits a user's
    * events into sessions) — lag + running sum over one per-user window:
    * ONE shuffle on user_id, no self-join. The per-session agg reuses
    * the same partitioning (no second exchange before the group-by on
    * (user_id, session_seq) under AQE).
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
      .withColumn("new_session",
        when(col("gap_s").isNull || col("gap_s") > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(wRun))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_seconds"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  val qSessionizeSql: String =
    """WITH g AS (
      | SELECT user_id, ts, event_id,
      |  date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
      | FROM events),
      |m AS (
      | SELECT user_id, ts,
      |  CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      | FROM g)
      |SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_seconds
      |FROM m GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin

  /** Correlated EXISTS with a nested scalar subquery, through the SQL
    * surface (spark.sql) so Catalyst's subquery decorrelation — EXISTS →
    * left-semi, scalar subquery → single-row broadcast — is exercised as
    * a USER would write it, not pre-rewritten by hand. At scale: the
    * scalar avg is one tiny agg; the semi join shuffles on custkey.
    */
  def qExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "customer").createOrReplaceTempView("v_customer")
    table(s, dir, "orders").createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT c_custkey, c_name FROM v_customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM v_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > (SELECT avg(o_totalprice) FROM v_orders))
        |ORDER BY c_custkey""".stripMargin)
  }

  val qExistsSubquerySql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_totalprice > (SELECT avg(o_totalprice) FROM orders))
      |ORDER BY c_custkey""".stripMargin

  /** LATERAL correlated subquery with per-key LIMIT (each customer's two
    * most expensive orders) — the SQL-standard form of the window-topk
    * pattern; Catalyst decorrelates it into a ranked window.
    */
  def qLateralTopk(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "customer").createOrReplaceTempView("v_customer")
    table(s, dir, "orders").createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM v_customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM v_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  val qLateralTopkSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c
      |JOIN LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ON true
      |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin

  /** RANGE-frame window (value-based, not row-based): per event, how many
    * of the same user's events fall in the trailing hour. One shuffle on
    * user_id; the frame is epoch-second-based so both engines agree on
    * floor-second boundaries.
    */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_s"))
      .rangeBetween(-3600L, Window.currentRow)
    table(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("epoch_s"))
      .withColumn("n_last_hour", count(lit(1)).over(w).cast("long"))
      .select(col("user_id"), col("event_id"), col("n_last_hour"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val qWindowRangeSql: String =
    """SELECT user_id, event_id,
      | CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_s
      |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_hour
      |FROM (SELECT user_id, event_id,
      |        date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS epoch_s
      |      FROM events)
      |ORDER BY user_id, event_id""".stripMargin

  /** All relational queries + oracles, lifted into SparkEntry.registry. */
  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q_exists_subquery", qExistsSubquery _, qExistsSubquerySql),
    ("q_lateral_topk", qLateralTopk _, qLateralTopkSql),
    ("q_window_range", qWindowRange _, qWindowRangeSql),
    ("q_asof_join", qAsofJoin _, qAsofJoinSql),
    ("q_range_join", qRangeJoin _, qRangeJoinSql),
    ("q_sessionize", qSessionize _, qSessionizeSql),
    ("q1_pricing_summary", q1PricingSummary _, q1Sql),
    ("q3_top_revenue", q3TopRevenue _, q3Sql),
    ("q_broadcast_dims", qBroadcastDims _, qBroadcastDimsSql),
    ("q_semi_join", qSemiJoin _, qSemiJoinSql),
    ("q_anti_join", qAntiJoin _, qAntiJoinSql),
    ("q_window_topk", qWindowTopK _, qWindowTopKSql),
    ("q_window_lag", qWindowLag _, qWindowLagSql),
    ("q_topk", qTopK _, qTopKSql),
    ("q_setop_except", qSetOp _, qSetOpSql),
    ("q_setop_intersect", qIntersect _, qIntersectSql),
    ("q_grouping_sets", qGroupingSets _, qGroupingSetsSql),
    ("q_union_all", qUnionAll _, qUnionAllSql),
    ("q_scalar_string", qScalarString _, qScalarStringSql),
    ("q_date_buckets", qDateBuckets _, qDateBucketsSql),
    ("q_json_extract", qJsonExtract _, qJsonExtractSql),
    ("q_rollup", qRollup _, qRollupSql),
    ("q_distinct_agg", qDistinctAgg _, qDistinctAggSql),
    ("q_case_math", qCaseMath _, qCaseMathSql),
    ("q_array_agg", qArrayAgg _, qArrayAggSql),
    ("q_stats_agg", qStatsAgg _, qStatsAggSql),
    ("q_scalar_subquery", qScalarSubquery _, qScalarSubquerySql),
    ("q_pivot", qPivot _, qPivotSql),
    ("q_cube", qCube _, qCubeSql),
    ("q_full_outer", qFullOuter _, qFullOuterSql)
  )
}
