package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Analytic extensions beyond the original §2.B grid: pivot, exact
  * quantiles, EXISTS subqueries, ordered string aggregation, FILTER-clause
  * conditional aggregation. Same determinism discipline as Relational
  * (decimal money math, round(…,4), total ORDER BY).
  */
object Analytics {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")

  /** PIVOT: revenue matrix returnflag × linestatus (explicit value list so
    * the output schema is static — required for both the oracle and any
    * sane downstream consumer). */
  def qPivotRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(dec($"l_extendedprice")).cast("double"), 4))
      .select($"l_returnflag",
        coalesce($"F", lit(0.0)).as("rev_f"),
        coalesce($"O", lit(0.0)).as("rev_o"))
      .orderBy($"l_returnflag")
  }

  val pivotRevenueSql: String =
    """SELECT l_returnflag,
      |  coalesce(round(CAST(sum(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE), 4), 0.0) AS rev_f,
      |  coalesce(round(CAST(sum(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE), 4), 0.0) AS rev_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact quantiles (median / p90) per group — Spark `percentile` and
    * DuckDB `quantile_cont` share linear interpolation on the sorted
    * values, so the results hash-match after round(4). */
  def qQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"))
      .orderBy($"l_returnflag")
  }

  val quantilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Correlated EXISTS / NOT EXISTS subqueries (TPC-H Q4 shape): order
    * priority counts for orders that do/don't have any high-quantity line.
    * Catalyst rewrites the correlated EXISTS into a left-semi/anti join. */
  def qExistsSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  count_if(EXISTS (
        |    SELECT 1 FROM v_lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)) AS n_with_bulk
        |FROM v_orders o
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val existsSubquerySql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_orders,
      |  count(*) FILTER (WHERE EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)) AS n_with_bulk
      |FROM orders o
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Ordered string aggregation per group (listagg capability) over a
    * bounded subset — the output stays row-sized because the input is
    * filtered first (an unbounded listagg is a scale bug, not a feature). */
  def qStringAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, sfDir)
      .where($"c_custkey" <= 100)
      .groupBy($"c_mktsegment")
      .agg(
        concat_ws(",", array_sort(collect_list($"c_name"))).as("names"),
        count(lit(1)).as("n"))
      .orderBy($"c_mktsegment")
  }

  val stringAggSql: String =
    """SELECT c_mktsegment,
      |  string_agg(c_name, ',' ORDER BY c_name) AS names,
      |  count(*) AS n
      |FROM customer WHERE c_custkey <= 100
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** FILTER-clause conditional aggregation: one pass, many predicates —
    * the idiomatic replacement for N separate filtered scans. */
  def qConditionalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        count_if($"o_totalprice" > 200000).as("n_big"),
        count_if($"o_orderpriority" === "1-URGENT").as("n_urgent"),
        round(sum(when($"o_totalprice" > 200000, dec($"o_totalprice")))
          .cast("double"), 4).as("big_revenue"))
      .orderBy($"o_orderstatus")
  }

  val conditionalAggSql: String =
    """SELECT o_orderstatus,
      |  count(*) AS n_orders,
      |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
      |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |    FILTER (WHERE o_totalprice > 200000) AS DOUBLE), 4) AS big_revenue
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------- classic OLAP shapes

  /** TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    * date-filtered orders ⋈ lineitem, revenue per order, global top-10 —
    * the canonical join→agg→top-k pipeline. Date filters push to both
    * scans; top-k compiles to TakeOrderedAndProject. */
  def qShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1997-06-30").cast("timestamp")
    Tables.customer(spark, sfDir).where($"c_mktsegment" === "BUILDING")
      .join(Tables.orders(spark, sfDir).where($"o_orderdate" < cutoff),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, sfDir).where($"l_shipdate" > cutoff),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(round(sum(dec($"l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(12,2)")))
        .cast("double"), 4).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey", $"revenue",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
        $"o_orderpriority")
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-06-30'
      |  AND l_shipdate > TIMESTAMP '1997-06-30'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape (local supplier volume): the 6-way star join — region
    * ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier with the
    * customer and supplier pinned to the same nation. Small dims
    * broadcast; the fact-side joins shuffle on their keys. */
  def qLocalSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.region(spark, sfDir).where($"r_name" === "ASIA")
      .join(Tables.nation(spark, sfDir), $"r_regionkey" === $"n_regionkey")
      .join(Tables.customer(spark, sfDir), $"n_nationkey" === $"c_nationkey")
      // Half-open range instead of year(o_orderdate)===1996: a raw-column
      // comparison reaches the parquet scan (PushedFilters + row-group
      // min/max skipping); wrapping the column in year() would force a
      // full scan of orders at 100 TB. Asserted in PlanShapeSpec.
      .join(Tables.orders(spark, sfDir)
        .where($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp")),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, sfDir), $"o_orderkey" === $"l_orderkey")
      .join(Tables.supplier(spark, sfDir),
        $"l_suppkey" === $"s_suppkey" && $"s_nationkey" === $"c_nationkey")
      .groupBy($"n_name")
      .agg(round(sum(dec($"l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(12,2)")))
        .cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val localSupplierVolumeSql: String =
    """SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
      |  count(*) AS n_lines
      |FROM region
      |JOIN nation ON r_regionkey = n_regionkey
      |JOIN customer ON n_nationkey = c_nationkey
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q19 shape (discounted revenue): disjunction of conjunctive
    * brand/size/quantity ranges — the OR-of-ANDs predicate that tests
    * whether complex filters still reach the scan and the join stays an
    * equi-join with the residual as a post-filter. */
  def qDiscountedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val j = Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), $"l_partkey" === $"p_partkey")
    j.where(
      ($"p_brand" === "Brand#1" && $"p_size".between(1, 15) && $"l_quantity".between(1, 15)) ||
        ($"p_brand" === "Brand#2" && $"p_size".between(1, 30) && $"l_quantity".between(10, 25)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 50) && $"l_quantity".between(20, 35)))
      .agg(round(sum(dec($"l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(12,2)")))
        .cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val discountedRevenueSql: String =
    """SELECT
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 25)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  /** TPC-H Q7 shape (volume shipping): bilateral trade revenue between two
    * nations by ship year. Supplier-nation and customer-nation resolve via
    * broadcast joins against the 25-row nation dim; lineitem⋈orders is the
    * fact-fact shuffle join keyed on orderkey; the bidirectional nation
    * pair filter sits on the joined row. Decimal revenue, exact. */
  def qVolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nation = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_name")
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(supp, $"l_suppkey" === $"s_suppkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .where(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").cast("long").as("l_year"))
      .agg(round(sum(dec($"l_extendedprice") *
        (lit(1.0).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)")))
        .cast("double"), 4).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val volumeShippingSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 shape (national market share): NATION_2's share of ECONOMY-
    * part revenue sold into the ASIA-region market, by order year. All
    * four dimension legs (part filtered to one type, supplier→nation,
    * customer→nation→region, the 25-row nation table itself) broadcast;
    * the only data-sized shuffle is lineitem⋈orders on orderkey, with the
    * order-date range pushed into the orders scan. Market share is a
    * ratio of two exact decimal sums, cast to double only for the final
    * division — identical IEEE inputs on both engines. */
  def qMarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nation = Tables.nation(spark, sfDir)
    val asiaNations = nation
      .join(broadcast(Tables.region(spark, sfDir).where($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey")
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(asiaNations), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(nation.select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val econParts = Tables.part(spark, sfDir)
      .where($"p_type" === "ECONOMY").select($"p_partkey")
    val orders = Tables.orders(spark, sfDir)
      .where($"o_orderdate" >= "1995-01-01" && $"o_orderdate" < "1997-01-01")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val vol = dec($"l_extendedprice") *
      (lit(1.0).cast("decimal(3,2)") - $"l_discount".cast("decimal(3,2)"))
    Tables.lineitem(spark, sfDir)
      .join(broadcast(econParts), $"l_partkey" === $"p_partkey")
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        sum(when($"supp_nation" === "NATION_2", vol)
          .otherwise(lit(0.0).cast("decimal(12,2)"))).as("nation_vol"),
        sum(vol).as("total_vol"))
      .select($"o_year",
        round($"nation_vol".cast("double") / $"total_vol".cast("double"), 6)
          .as("mkt_share"))
      .orderBy($"o_year")
  }

  val marketShareSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  round(
      |    CAST(sum(CASE WHEN sn.n_name = 'NATION_2'
      |      THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |      ELSE CAST(0.0 AS DECIMAL(12,2)) END) AS DOUBLE) /
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE),
      |    6) AS mkt_share
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
      |  AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1997-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting), adapted to this
    * schema: "late" = shipped more than 60 days after the order date. A
    * supplier's late lines count when at least one OTHER supplier
    * participated in the order and NO other supplier was also late.
    *
    * Spelled as ONE pass over the lineitem⋈orders fact join (the naive
    * exists/not-exists spelling consumes that join three times — at 100×
    * the triple fact scan dominates): aggregate per (order, supplier)
    * once, then derive each order's supplier count and late-supplier
    * count with a window PARTITIONED BY orderkey over that
    * (order-of-magnitude-smaller) relation. No self-join diamond, so no
    * exchange-reuse gamble either: the fact table is scanned and shuffled
    * exactly once by construction (single-scan is plan-asserted in
    * PlanShapeSpec). The window partitions are bounded by the number of
    * suppliers per order, never corpus-scale. */
  def qWaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS")).as("late"))
    // Round-20 optimization note (examined, deliberately left alone): at
    // fixture scale orders broadcasts, so the (l_orderkey, l_suppkey)
    // aggregation and the l_orderkey window each pay an exchange and an
    // explicit repartition($"l_orderkey") would halve that — but at
    // corpus scale the join grades to a shuffle join on l_orderkey whose
    // output partitioning already satisfies BOTH (subset rule), making
    // the agg and window exchange-free; the explicit repartition would
    // then be a REDUNDANT fact-sized exchange. The current spelling is
    // the scale-correct one.
    val perSupp = li.groupBy($"l_orderkey", $"l_suppkey")
      .agg(sum(when($"late", 1L).otherwise(0L)).as("n_late_lines"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp",
        sum(when($"n_late_lines" > 0, 1L).otherwise(0L)).over(w))
      .where($"n_late_lines" > 0 && $"n_supp" >= 2 && $"n_late_supp" === 1)
      .join(Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_name"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name").agg(sum($"n_late_lines").as("numwait"))
      .orderBy($"numwait".desc, $"s_name").limit(20)
  }

  val waitingSuppliersSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT s_name, count(*) AS numwait
      |FROM li l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE l1.late
      |  AND EXISTS (SELECT 1 FROM li l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM li l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** TPC-H Q6 shape (forecasting revenue change): the pure scan-side
    * query — every predicate (ship-year range, discount band, quantity
    * cap) is a raw-column comparison that reaches the parquet scan as a
    * pushed filter, and the aggregate has no grouping, so the whole plan
    * is scan → partial agg → single-row final agg. At 100 TB this is the
    * shape that proves the engine can answer a selective question without
    * shuffling anything but 32 partial rows. */
  def qForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .agg(
        round(sum(dec($"l_extendedprice") * $"l_discount".cast("decimal(3,2)"))
          .cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val forecastRevenueSql: String =
    """SELECT
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE), 4) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q10 shape (returned-item reporting): customers ranked by the
    * revenue they generated on returned lines in one quarter. The date
    * range pushes into the orders scan and the returnflag equality into
    * the lineitem scan; nation broadcasts; top-20 compiles to
    * TakeOrderedAndProject so only 20 rows ever reach the driver. */
  def qReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
          .where($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1996-04-01").cast("timestamp")),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, sfDir).where($"l_returnflag" === "R"),
        $"o_orderkey" === $"l_orderkey")
      .join(broadcast(Tables.nation(spark, sfDir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
      .agg(round(sum(dec($"l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(12,2)")))
        .cast("double"), 4).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
      .select($"c_custkey", $"c_name", $"revenue", $"c_acctbal", $"n_name")
  }

  val returnedItemsSql: String =
    """SELECT c_custkey, c_name,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
      |  c_acctbal, n_name
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): the agg-of-agg —
    * a left outer join whose join-side filter lives in the ON clause (so
    * non-matching customers survive with count 0), a per-customer count,
    * then a second aggregation over the counts. Two shuffles by
    * construction; the second one is tiny (one row per distinct count). */
  def qCustOrderDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).where($"o_orderpriority" === "1-URGENT"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val custOrderDistributionSql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q14 shape (promotion effect): promo share of one ship-month's
    * revenue — a conditional-numerator ratio over a join, both sums exact
    * decimal until the final double division. */
  def qPromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vol = dec($"l_extendedprice") *
      (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(12,2)"))
    Tables.lineitem(spark, sfDir)
      .where($"l_shipdate" >= lit("1996-09-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-10-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, sfDir).select($"p_partkey", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .agg(
        round(lit(100.0) *
          sum(when($"p_type" === "PROMO", vol).otherwise(lit(0).cast("decimal(12,2)")))
            .cast("double") /
          sum(vol).cast("double"), 6).as("promo_share"),
        count(lit(1)).as("n_lines"))
  }

  val promoRevenueSql: String =
    """SELECT
      |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE),
      |    6) AS promo_share,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin

  /** TPC-H Q15 shape (top supplier): per-supplier quarterly revenue, then
    * the supplier(s) equal to the global max — the "view + scalar
    * aggregate of the view" pattern. The revenue stays decimal so the
    * max-equality join is exact; the 1-row max frame broadcasts. */
  def qTopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, sfDir)
      .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(dec($"l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(12,2)")))
        .as("rev_dec"))
    rev.join(broadcast(rev.agg(max($"rev_dec").as("mx"))), $"rev_dec" === $"mx")
      .join(Tables.supplier(spark, sfDir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name",
        round($"rev_dec".cast("double"), 4).as("total_rev"))
      .orderBy($"s_suppkey")
  }

  val topSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS rev_dec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, round(CAST(rev_dec AS DOUBLE), 4) AS total_rev
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17 shape (small-quantity-order revenue): the correlated SCALAR
    * subquery — each line compares against 20% of its part's average
    * quantity. Catalyst decorrelates this into an aggregate + equi-join,
    * never a per-row rescan (quantities are integer-valued doubles, so the
    * average is exact in any summation order on both engines). */
  def qSmallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem")
    Tables.part(spark, sfDir).createOrReplaceTempView("v_part")
    spark.sql(
      """SELECT
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
        |  count(*) AS n_lines
        |FROM v_lineitem l1 JOIN v_part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM v_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
  }

  val smallQtyRevenueSql: String =
    """SELECT
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
      |  count(*) AS n_lines
      |FROM lineitem l1 JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin

  /** TPC-H Q18 shape (large-volume customers): orders whose total line
    * quantity clears a threshold — the group-by-HAVING semi-join feeding a
    * three-way join, top-20 by order value. The HAVING side aggregates
    * lineitem once, keyed on orderkey, and the survivors (few) drive the
    * rest of the join tree. */
  def qLargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("sum_qty"))
      .where($"sum_qty" > 250)
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"c_custkey" === $"o_custkey")
      .join(big, $"o_orderkey" === $"l_orderkey")
      .select($"c_name", $"c_custkey", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
        $"o_totalprice", round($"sum_qty", 2).as("sum_qty"))
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  val largeOrdersSql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  o_totalprice, round(sum_qty, 2) AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
      |  ON o_orderkey = big.l_orderkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** TPC-H Q22 shape (global sales opportunity), adapted to this schema
    * (no phone column → nation is the grouping key; every sf0.01 customer
    * has SOME order → "dormant" = no order since 1999): customers with an
    * above-average positive balance and no recent orders, counted per
    * nation. Scalar-subquery threshold (exact decimal average, rounded to
    * cents on both engines) + anti join on the recent-orders set. */
  def qSalesOpportunity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val thr = Tables.customer(spark, sfDir)
      .where($"c_acctbal" > 0)
      .agg(round(sum(dec($"c_acctbal")).cast("double") / count(lit(1)), 2).as("thr"))
    val recent = Tables.orders(spark, sfDir)
      .where($"o_orderdate" >= lit("1999-01-01").cast("timestamp"))
      .select($"o_custkey")
    Tables.customer(spark, sfDir)
      .crossJoin(broadcast(thr))
      .where($"c_acctbal" > $"thr")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("numcust"),
        round(sum(dec($"c_acctbal")).cast("double"), 2).as("totacctbal"))
      .orderBy($"n_name")
  }

  val salesOpportunitySql: String =
    """WITH thr AS (
      |  SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*), 2) AS thr
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT n_name, count(*) AS numcust,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS totacctbal
      |FROM customer
      |CROSS JOIN thr
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > thr
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** TPC-H Q4 shape (order priority checking): orders placed in a window
    * that had at least one line shipped > 30 days after the order date,
    * counted per priority. The EXISTS compiles to ONE LeftSemi hash join
    * on orderkey (with the date comparison as a join residual) — at 100 TB
    * the orders date range prunes via pushdown before the join, and the
    * semi join short-circuits per order. */
  def qPriorityWaiting(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .where($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      .join(Tables.lineitem(spark, sfDir).select($"l_orderkey", $"l_shipdate"),
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val priorityWaitingSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q12 shape (shipping-priority mode split), adapted to this
    * schema (no l_shipmode — l_returnflag stands in as the mode axis):
    * per flag, how many 1996-shipped lines belong to high- vs
    * low-priority orders. The two-tier CASE-sum is the signature shape;
    * the shipdate range pushes into the lineitem scan. */
  def qShipmodePriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hi = Seq("1-URGENT", "2-HIGH")
    Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderpriority")
      .join(Tables.lineitem(spark, sfDir)
          .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
          .select($"l_orderkey", $"l_returnflag"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority".isin(hi: _*), 1L).otherwise(0L))
          .as("high_count"),
        sum(when(!$"o_orderpriority".isin(hi: _*), 1L).otherwise(0L))
          .as("low_count"))
      .orderBy($"l_returnflag")
  }

  val shipmodePrioritySql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q9 shape (product type profit), adapted (no partsupp —
    * supply cost modeled as 10% of p_retailprice per unit): profit on
    * widget-family parts by supplier nation and order year. The LIKE
    * filter prunes part before the fact join, nation broadcasts, and the
    * 5-way join keys all hash — the classic snowflake-profit rollup.
    * All money math in exact DECIMAL on both engines. */
  def qProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val one = lit(1.0).cast("decimal(3,2)")
    val costRate = lit(0.1).cast("decimal(3,2)")
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).where($"p_name".contains("widget"))
        .select($"p_partkey", $"p_retailprice"), $"l_partkey" === $"p_partkey")
      .join(Tables.supplier(spark, sfDir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
      .join(Tables.orders(spark, sfDir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("o_year"))
      .agg(round(sum(
        dec($"l_extendedprice") * (one - $"l_discount".cast("decimal(3,2)")) -
          dec($"p_retailprice") * $"l_quantity".cast("decimal(5,2)") * costRate)
        .cast("double"), 4).as("profit"))
      .orderBy($"n_name", $"o_year")
  }

  val productProfitSql: String =
    """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  round(CAST(sum(
      |    CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
      |    - CAST(p_retailprice AS DECIMAL(12,2)) *
      |      CAST(l_quantity AS DECIMAL(5,2)) * CAST(0.1 AS DECIMAL(3,2)))
      |    AS DOUBLE), 4) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** TPC-H Q2 shape (minimum-cost supplier), adapted (no partsupp — the
    * per-(part, supplier) MIN sale price from lineitem stands in for
    * ps_supplycost): for small STANDARD parts, the EUROPE supplier(s)
    * achieving the part's regional minimum. The correlated
    * min-subquery is spelled decorrelated — per-part min aggregate +
    * equality join back — which is exactly the plan Catalyst should reach
    * anyway; MIN (not avg) keeps the comparison value bit-identical
    * across engines. The full sort key is unique, so the LIMIT cut is
    * deterministic. */
  def qMinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.lineitem(spark, sfDir)
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"l_extendedprice").as("cost"))
    val eu = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, sfDir).where($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val pse = ps.join(eu, $"l_suppkey" === $"s_suppkey")
    val mn = pse.groupBy($"l_partkey").agg(min($"cost").as("min_cost"))
    pse.join(mn, "l_partkey").where($"cost" === $"min_cost")
      .join(Tables.part(spark, sfDir)
          .where($"p_size" < 10 && $"p_type" === "STANDARD").select($"p_partkey"),
        $"l_partkey" === $"p_partkey")
      .select(round($"s_acctbal", 2).as("s_acctbal"), $"s_name", $"n_name",
        $"p_partkey", round($"cost", 2).as("cost"))
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
      .limit(10)
  }

  val minCostSupplierSql: String =
    """WITH ps AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk, min(l_extendedprice) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |eu AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
      |pse AS (
      |  SELECT ps.*, eu.s_name, eu.s_acctbal, eu.n_name
      |  FROM ps JOIN eu ON ps.sk = eu.s_suppkey),
      |mn AS (SELECT pk, min(cost) AS min_cost FROM pse GROUP BY 1)
      |SELECT round(p.s_acctbal, 2) AS s_acctbal, p.s_name, p.n_name,
      |  p.pk AS p_partkey, round(p.cost, 2) AS cost
      |FROM pse p
      |JOIN mn ON p.pk = mn.pk AND p.cost = mn.min_cost
      |JOIN part ON p.pk = p_partkey
      |WHERE p_size < 10 AND p_type = 'STANDARD'
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 10""".stripMargin

  /** TPC-H Q11 shape (important stock identification), adapted (no
    * partsupp — per-part sales value for a supplier-nation group stands
    * in for stock value): parts whose value exceeds a fraction of the
    * group total. The HAVING-over-scalar-subquery is the signature: the
    * total is ONE broadcast row (crossJoin against a 1-row aggregate —
    * the pattern every global-threshold query in this engine uses), never
    * a re-aggregation per row. */
  def qImportantParts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val v = Tables.lineitem(spark, sfDir)
      .join(Tables.supplier(spark, sfDir)
          .where($"s_nationkey".isin(1, 2, 3, 4, 5)).select($"s_suppkey"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(sum(dec($"l_extendedprice") * $"l_quantity".cast("decimal(5,2)"))
        .as("val"))
    val thr = v.agg((sum($"val").cast("double") * 0.001).as("thresh"))
    v.crossJoin(broadcast(thr))
      .where($"val".cast("double") > $"thresh")
      .select($"l_partkey".as("p_partkey"),
        round($"val".cast("double"), 4).as("value"))
      .orderBy($"value".desc, $"p_partkey")
  }

  val importantPartsSql: String =
    """WITH v AS (
      |  SELECT l_partkey AS pk,
      |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |        CAST(l_quantity AS DECIMAL(5,2))) AS val
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey IN (1, 2, 3, 4, 5) GROUP BY 1)
      |SELECT pk AS p_partkey, round(CAST(val AS DOUBLE), 4) AS value
      |FROM v
      |WHERE CAST(val AS DOUBLE) > (SELECT CAST(sum(val) AS DOUBLE) * 0.001 FROM v)
      |ORDER BY value DESC, p_partkey""".stripMargin

  /** TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    * counts per (brand, type) over a size slice, excluding a NOT IN
    * supplier set. The NOT IN compiles to a LeftAnti hash join (keys
    * non-null, so no null-aware penalty); count(DISTINCT) expands to
    * Catalyst's two-phase distinct aggregation. Unique (cnt, brand,
    * type) sort key → deterministic LIMIT. */
  def qSupplierVariety(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir)
          .where($"p_size".isin(1, 5, 9, 13) && $"p_brand" =!= "Brand#3")
          .select($"p_partkey", $"p_brand", $"p_type"),
        $"l_partkey" === $"p_partkey")
      .join(Tables.supplier(spark, sfDir).where($"s_acctbal" < 0)
          .select($"s_suppkey"),
        $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_type")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type")
      .limit(20)
  }

  val supplierVarietySql: String =
    """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size IN (1, 5, 9, 13) AND p_brand <> 'Brand#3'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2
      |ORDER BY supplier_cnt DESC, p_brand, p_type LIMIT 20""".stripMargin

  /** TPC-H Q20 shape (potential excess inventory), adapted (no partsupp
    * availqty — total shipped quantity per (supplier, part) stands in):
    * suppliers in one region that moved > 55 units of some red part in a
    * two-year window. The nested IN compiles to a LeftSemi join against
    * the HAVING-filtered aggregate; quantity sums ride DECIMAL so the
    * threshold comparison is exact on both engines. */
  def qExcessStockSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val excess = Tables.lineitem(spark, sfDir)
      .where($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
      .join(Tables.part(spark, sfDir).where($"p_name".startsWith("red"))
        .select($"p_partkey"), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey", $"l_partkey")
      .agg(sum($"l_quantity".cast("decimal(12,2)")).as("q"))
      .where($"q" > 55)
      .select($"l_suppkey")
    Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir).where($"n_regionkey" === 3)),
        $"s_nationkey" === $"n_nationkey")
      .join(excess, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_name", round($"s_acctbal", 2).as("s_acctbal"))
      .orderBy($"s_name")
  }

  val excessStockSuppliersSql: String =
    """SELECT s_name, round(s_acctbal, 2) AS s_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE n_regionkey = 3
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
      |    WHERE p_name LIKE 'red%'
      |      AND l_shipdate >= TIMESTAMP '1996-01-01'
      |      AND l_shipdate < TIMESTAMP '1998-01-01'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 55)
      |ORDER BY s_name""".stripMargin

  /** Join-key skew diagnostic (engine-ops tool, not a TPC-H shape): the
    * hottest join keys with their row share and skew factor (share ×
    * distinct-key count — 1.0 = perfectly uniform). This is the report a
    * 100 TB operator runs BEFORE choosing between a plain shuffle join,
    * AQE skew handling, and explicit salting ([[graft.sources.Skew]]);
    * the top-k cut itself is TakeOrderedAndProject, and the global totals
    * are one broadcast row. */
  def qSkewReport(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("cnt"))
    val tot = k.agg(sum($"cnt").as("n"), count(lit(1)).as("distinct_keys"))
    k.crossJoin(broadcast(tot))
      .select($"l_orderkey".as("key"), $"cnt",
        round($"cnt".cast("double") / $"n", 6).as("share"),
        round($"cnt".cast("double") * $"distinct_keys" / $"n", 4).as("skew_factor"))
      .orderBy($"cnt".desc, $"key").limit(20)
  }

  val skewReportSql: String =
    """WITH k AS (SELECT l_orderkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS n, count(*) AS distinct_keys FROM k)
      |SELECT k.key, k.cnt,
      |  round(CAST(k.cnt AS DOUBLE) / tot.n, 6) AS share,
      |  round(CAST(k.cnt AS DOUBLE) * tot.distinct_keys / tot.n, 4) AS skew_factor
      |FROM k, tot ORDER BY k.cnt DESC, k.key LIMIT 20""".stripMargin

  /** Exact interpolated median per key, computed by VALUE COUNTING
    * instead of Spark's `percentile` aggregate: groupBy (key, value) →
    * per-key cumulative counts over the (bounded-cardinality) distinct
    * values → the two straddling ranks via conditional MIN. For
    * integer-valued doubles this equals `percentile(v, 0.5)` /
    * `quantile_cont(v, 0.5)` bit-for-bit (odd n picks an exact value,
    * even n the exact midpoint of two integers), but it never builds the
    * per-group value→count maps `percentile` merges across partitions —
    * measured 2.5 s → ~0.3 s per median at sf0.1. The window partitions
    * by key over DISTINCT values, so its size is value-cardinality-
    * bounded, not row-bounded. */
  private def medianByCounts(df: DataFrame, key: String, v: String,
      out: String): DataFrame =
    medianOfCounts(
      df.groupBy(col(key), col(v)).agg(count(lit(1)).as("__c")), key, v, out)

  /** Exact rank-selection over an ALREADY value-counted (key, v, __c)
    * relation: each (name, rankOf) entry yields an output column `name`
    * holding the per-key value at 1-based rank rankOf(n) counted in value
    * order (NULL if the rank exceeds n — callers coalesce); `__n` (the
    * per-key total count) is appended for callers that interpolate.
    *
    * SIZE-DISPATCHED (same discipline as
    * [[graft.ml.Dedup.connectedComponents]]): below `windowMaxRows`
    * distinct (key, v) rows the one-window spelling wins — a running
    * count over each key's distinct values is one sort task per key, and
    * at bounded cardinality (integer cents, dates, scores) that task
    * stays small no matter how large the FACT table is. Above it — keys
    * with genuinely unbounded value spaces (raw doubles, ns timestamps)
    * — it dispatches to [[ranksOfCountsBucketed]], whose every window is
    * bounded regardless of scale. The dispatch count() is a cheap pass
    * over the count relation (callers checkpoint theirs). Both paths
    * select the identical exact value (asserted against each other in
    * AnalyticsSpec). */
  private[graft] def ranksOfCounts(vc: DataFrame, key: String, v: String,
      ranks: Seq[(String, Column => Column)],
      windowMaxRows: Long = 4000000L): DataFrame =
    if (vc.count() <= windowMaxRows) ranksOfCountsWindow(vc, key, v, ranks)
    else ranksOfCountsBucketed(vc, key, v, ranks)

  /** One-window rank selection: per-key running count over distinct
    * values, conditional MIN picks each requested rank's value. One sort
    * task per key, sized by the key's VALUE CARDINALITY (not row count) —
    * the right plan when that cardinality is bounded. */
  private def ranksOfCountsWindow(vc: DataFrame, key: String, v: String,
      ranks: Seq[(String, Column => Column)]): DataFrame = {
    val wOrd = Window.partitionBy(col(key)).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(key))
    val ranked = vc
      .withColumn("__cum", sum(col("__c")).over(wOrd))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val aggCols = ranks.map { case (nm, f) =>
      min(when(col("__cum") >= f(col("__n")).cast("long"), col(v))).as(nm)
    } :+ min(col("__n")).as("__n")
    ranked.groupBy(col(key)).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Rank selection via TWO-PHASE BUCKET REFINEMENT — the 100 TB-safe
    * spelling when per-key value cardinality is unbounded (the one-window
    * plan would funnel billions of distinct values through one task).
    *
    *   Phase A: values are bucketed into ≤2048 per-key ranges (width from
    *   the per-key min/max, a cheap parallel agg) and a cumulative count
    *   over the BUCKET histogram (≤2048 rows per key) locates, for every
    *   requested rank, the single bucket containing it plus the count
    *   below that bucket.
    *   Phase B: only the target buckets' values (≈ distinct/2048 of the
    *   data) are ranked exactly; everything else is never sorted.
    *
    * Both windows are bounded — ≤2048 rows (histogram) and one bucket's
    * values (probe) — regardless of data scale; all heavy operators are
    * hash aggregations. Selection is EXACT: bucketing only narrows where
    * the rank lives, the returned value is identical to a full sort's. */
  private[graft] def ranksOfCountsBucketed(vc: DataFrame, key: String,
      v: String, ranks: Seq[(String, Column => Column)]): DataFrame = {
    // stats is consumed three times (rank rows, bucket exprs, final n);
    // checkpointing the key-cardinality-bounded rows keeps each consumer
    // from re-scanning vc — same discipline as the callers' checkpointed
    // count tables
    val stats = vc.groupBy(col(key)).agg(
        min(col(v)).as("__vmin"), max(col(v)).as("__vmax"),
        sum(col("__c")).as("__n"))
      .withColumn("__w", greatest(lit(1.0),
        ceil((col("__vmax") - col("__vmin") + 1) / 2048.0)))
      .localCheckpoint(true)
    // one (key, which, rank) row per requested rank
    val rankRows = stats
      .select(col(key), explode(array(ranks.zipWithIndex.map {
        case ((_, f), i) =>
          struct(lit(i).as("__which"), f(col("__n")).cast("long").as("__rank"))
      }: _*)).as("__t"))
      .select(col(key), col("__t.__which").as("__which"),
        col("__t.__rank").as("__rank"))
    val vb = vc
      .join(broadcast(stats.select(col(key), col("__vmin"), col("__w"))),
        Seq(key))
      .withColumn("__b",
        floor((col(v) - col("__vmin")) / col("__w")).cast("long"))
    val wb = Window.partitionBy(col(key)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vb.groupBy(col(key), col("__b"))
      .agg(sum(col("__c")).as("__bc"))
      .withColumn("__bcum", sum(col("__bc")).over(wb))
    // the bucket containing rank r: first with bcum >= r, i.e. the one
    // where r lands strictly inside (below, bcum]
    val targets = cum.join(broadcast(rankRows), Seq(key))
      .where(col("__bcum") >= col("__rank") &&
        col("__bcum") - col("__bc") < col("__rank"))
      .select(col(key), col("__b"),
        (col("__bcum") - col("__bc")).as("__below"),
        col("__which"), col("__rank"))
    val wv = Window.partitionBy(col(key), col("__which")).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sel = vb.select(col(key), col(v), col("__c"), col("__b"))
      .join(broadcast(targets), Seq(key, "__b"))
      .withColumn("__cum", col("__below") + sum(col("__c")).over(wv))
      .where(col("__cum") >= col("__rank"))
      .groupBy(col(key), col("__which"))
      .agg(min(col(v)).as("__v"))
    val pivoted = sel.groupBy(col(key)).agg(
      min(when(col("__which") === 0, col("__v"))).as(ranks.head._1),
      ranks.zipWithIndex.tail.map { case ((nm, _), i) =>
        min(when(col("__which") === i, col("__v"))).as(nm) }: _*)
    pivoted.join(broadcast(stats.select(col(key), col("__n"))), Seq(key))
  }

  /** Exact interpolated median over an ALREADY value-counted (key, v,
    * __c) relation — lets a caller build the count table once and reuse
    * it for several quantile passes without re-scanning the fact table.
    * Rank selection rides [[ranksOfCounts]]' two-phase bucket refinement
    * (no per-key full-value sort anywhere). */
  private def medianOfCounts(vc: DataFrame, key: String, v: String,
      out: String): DataFrame =
    // 1-based interpolation ranks for p=0.5: lo = floor((n+1)/2),
    // hi = floor(n/2)+1 — equal when n is odd
    ranksOfCounts(vc, key, v, Seq(
      "__vlo" -> (n => ((n + 1) / 2).cast("long")),
      "__vhi" -> (n => (n / 2).cast("long") + 1)))
      .select(col(key), ((col("__vlo") + col("__vhi")) / 2.0).as(out))

  /** General p-quantile over an ALREADY value-counted (key, v, __c)
    * relation — [[medianOfCounts]] at arbitrary p with the standard
    * linear interpolation (0-based rank h = (n−1)·p, value =
    * v_lo + frac·(v_hi − v_lo)). The oracle mirrors this EXACT spelling
    * as a count-based CTE rather than calling `quantile_cont`, so the
    * one interpolation multiply-add runs in the same operand order on
    * both engines. */
  private def quantileOfCounts(vc: DataFrame, key: String, v: String,
      p: Double, out: String): DataFrame = {
    def h(n: Column) = (n - 1).cast("double") * p
    ranksOfCounts(vc, key, v, Seq(
      "__vlo" -> (n => floor(h(n)).cast("long") + 1),
      "__vhi" -> (n => floor(h(n)).cast("long") + 2)))
      .select(col(key),
        (col("__vlo") + (h(col("__n")) - floor(h(col("__n")))) *
          (coalesce(col("__vhi"), col("__vlo")) - col("__vlo"))).as(out))
  }

  /** Winsorized statistics per return flag — the clamp-don't-drop robust
    * mean beside [[qOutlierFilter]]'s MAD filter: prices clamped to their
    * flag's [p05, p95] band, both quantiles from [[quantileOfCounts]]
    * over ONE value-count relation (single fact scan, same architecture
    * as the outlier filter). Determinism: quantiles interpolate in
    * mirrored operand order; each clamped value is quantized to
    * MILLI-CENTS (`round(clamped·10³)` as BIGINT) before the weighted
    * sum, so the mean is exact-integer until two final divisions.
    *
    * r18-drift adjudication (round 19, the orderBrands ABBA discipline):
    * the driver sweep's 3.96 s never reproduced — probe samples
    * 2.57/2.11 s against a 1.94–2.43 s q_theil_sen same-run reference,
    * and the r18 pre-audit clean sweep (182.0 s tree, which already
    * carried the sizeDispatch refactor) had this query at 2.03 s vs its
    * r17 2.17 s. Host noise; no revert. */
  def qWinsorize(spark: SparkSession, sfDir: String): DataFrame =
    winsorize(spark, sfDir, OutlierDriverMaxValues)

  /** Driver-side value-at-rank p-quantile over an ASCENDING (value,
    * count) array — [[quantileOfCounts]]'s exact algebra (0-based
    * h = (n−1)·p, 1-based ranks floor(h)+1 / floor(h)+2, linear
    * interpolation vlo + frac·(vhi − vlo) with the beyond-end vhi
    * coalescing to vlo), extracted beside [[medianOfValueCounts]] so a
    * ScalaCheck law pins it against the naive expanded-multiset
    * quantile. */
  private[graft] def quantileOfValueCounts(pairs: Array[(Double, Long)],
      p: Double): Double = {
    val n = pairs.iterator.map(_._2).sum
    val h = (n - 1).toDouble * p
    val lo = math.floor(h).toLong + 1L
    val hi = lo + 1L
    var cum = 0L
    var vlo = 0.0
    var vhi = 0.0
    var hiSeen = false
    var i = 0
    while (i < pairs.length && cum < hi) {
      val next = cum + pairs(i)._2
      if (cum < lo && lo <= next) vlo = pairs(i)._1
      if (cum < hi && hi <= next) { vhi = pairs(i)._1; hiSeen = true }
      cum = next
      i += 1
    }
    val vhiEff = if (hiSeen) vhi else vlo
    vlo + (h - math.floor(h)) * (vhiEff - vlo)
  }

  /** [[qWinsorize]] with the dispatch ceiling exposed (shared
    * [[OutlierDriverMaxValues]] — the same value-count relation): tests
    * force the distributed rank-selection arm with ceiling 0 and assert
    * both arms agree. */
  private[graft] def winsorize(spark: SparkSession, sfDir: String,
      driverMaxValues: Long): DataFrame = {
    import spark.implicits._
    val vc0 = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag".as("flag"),
        round($"l_extendedprice" * 100).as("price_c"))
      .groupBy($"flag", $"price_c").agg(count(lit(1)).as("__c"))
    Dist.sizeDispatch(vc0, driverMaxValues) { (vc, _) =>
      val flat = vc.as[(String, Double, Long)].collect()
      val out = byKeyValueAscending(flat).map { case (flag, pv) =>
        val p05 = quantileOfValueCounts(pv, 0.05)
        val p95 = quantileOfValueCounts(pv, 0.95)
        var n = 0L
        var sMc = 0L
        var nClip = 0L
        pv.foreach { case (v, c) =>
          // same op order as the distributed clamp: round(greatest(p05,
          // least(p95, v)) * 1e3) as long — Spark's Round on doubles is
          // BigDecimal.valueOf(x).setScale(0, HALF_UP), replicated here
          val clamped = math.max(p05, math.min(p95, v))
          val wMc = java.math.BigDecimal.valueOf(clamped * 1e3)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue
          n += c
          sMc += wMc * c
          if (v < p05 || v > p95) nClip += c
        }
        (flag, n, p05, p95, sMc, nClip)
      }
      spark.createDataset(out)
        .toDF("flag", "n", "p05_c", "p95_c", "s_mc", "n_clipped")
        .select($"flag".as("l_returnflag"), $"n",
          round($"p05_c" / 100.0, 4).as("p05"),
          round($"p95_c" / 100.0, 4).as("p95"),
          round($"s_mc".cast("double") / $"n" / 1e5, 4).as("mean_winsorized"),
          $"n_clipped")
        .orderBy($"l_returnflag")
    } { (vc, _) => winsorizeDistributed(vc) }
  }

  private def winsorizeDistributed(vc: DataFrame): DataFrame = {
    val spark = vc.sparkSession
    import spark.implicits._
    val bands = quantileOfCounts(vc, "flag", "price_c", 0.05, "p05")
      .join(quantileOfCounts(vc, "flag", "price_c", 0.95, "p95"), "flag")
    val clamped = vc.join(broadcast(bands), "flag")
      .select($"flag", $"__c", $"p05", $"p95",
        round(greatest($"p05", least($"p95", $"price_c")) * 1e3)
          .cast("long").as("w_mc"),
        ($"price_c" < $"p05" || $"price_c" > $"p95").as("clipped"))
    clamped.groupBy($"flag")
      .agg(sum($"__c").as("n"),
        // operand-widened: w_mc (clamped milli-cents ~1e8) times a
        // value-count that carries ~N rows per group passes 2^63 near
        // 1e11 corpus rows — Spark's long sum overflows where the
        // oracle's HUGEINT stays exact
        sum($"w_mc".cast("decimal(38,0)") * $"__c").as("s_mc"),
        sum(when($"clipped", $"__c").otherwise(0L)).as("n_clipped"),
        min($"p05").as("p05_c"), min($"p95").as("p95_c"))
      .select($"flag".as("l_returnflag"), $"n",
        round($"p05_c" / 100.0, 4).as("p05"),
        round($"p95_c" / 100.0, 4).as("p95"),
        round($"s_mc".cast("double") / $"n" / 1e5, 4).as("mean_winsorized"),
        $"n_clipped")
      .orderBy($"l_returnflag")
  }

  val winsorizeSql: String =
    """WITH vc AS (
      |  SELECT l_returnflag AS flag, round(l_extendedprice * 100) AS price_c,
      |    count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT flag, price_c, c,
      |    sum(c) OVER (PARTITION BY flag ORDER BY price_c
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY flag) AS n
      |  FROM vc),
      |q05 AS (
      |  SELECT flag,
      |    min(CASE WHEN cum >= floor((n - 1) * 0.05) + 1 THEN price_c END) AS vlo,
      |    min(CASE WHEN cum >= floor((n - 1) * 0.05) + 2 THEN price_c END) AS vhi,
      |    max((n - 1) * 0.05 - floor((n - 1) * 0.05)) AS frac
      |  FROM r GROUP BY 1),
      |q95 AS (
      |  SELECT flag,
      |    min(CASE WHEN cum >= floor((n - 1) * 0.95) + 1 THEN price_c END) AS vlo,
      |    min(CASE WHEN cum >= floor((n - 1) * 0.95) + 2 THEN price_c END) AS vhi,
      |    max((n - 1) * 0.95 - floor((n - 1) * 0.95)) AS frac
      |  FROM r GROUP BY 1),
      |b AS (
      |  SELECT q05.flag,
      |    q05.vlo + q05.frac * (coalesce(q05.vhi, q05.vlo) - q05.vlo) AS p05,
      |    q95.vlo + q95.frac * (coalesce(q95.vhi, q95.vlo) - q95.vlo) AS p95
      |  FROM q05 JOIN q95 ON q05.flag = q95.flag),
      |cl AS (
      |  SELECT vc.flag, vc.c, b.p05, b.p95,
      |    CAST(round(greatest(b.p05, least(b.p95, vc.price_c)) * 1e3) AS BIGINT) AS w_mc,
      |    (vc.price_c < b.p05 OR vc.price_c > b.p95) AS clipped
      |  FROM vc JOIN b ON vc.flag = b.flag)
      |SELECT flag AS l_returnflag, CAST(sum(c) AS BIGINT) AS n,
      |  round(min(p05) / 100.0, 4) AS p05,
      |  round(min(p95) / 100.0, 4) AS p95,
      |  round(CAST(sum(CAST(w_mc AS HUGEINT) * c) AS DOUBLE) / sum(c) / 1e5, 4)
      |    AS mean_winsorized,
      |  CAST(sum(CASE WHEN clipped THEN c ELSE 0 END) AS BIGINT) AS n_clipped
      |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin

  /** Robust outlier detection via median absolute deviation: lines whose
    * price sits more than 2 MADs from their returnflag's median,
    * summarized per flag. All quantile math runs on integer CENTS
    * (`round(price*100)`) — median interpolation over integer-valued
    * doubles is exact IEEE on both engines (midpoints land on .0/.5),
    * so the threshold comparison can never flip on a ulp. Medians come
    * from [[medianOfCounts]] over ONE (flag, price) value-count relation:
    * the fact table is scanned exactly once, the checkpointed count table
    * (value-cardinality-bounded, not row-bounded) then feeds the median,
    * the deviation median (counts re-keyed by |v−med| and summed — no
    * second fact scan), and the final outlier rollup whose counts/extrema
    * come from the same table.
    *
    * Clean-band adjudication (round 20 ABBA probe, anchor 0.37/0.28 s):
    * 3.49/3.00 s — repeats at the sweep level in BOTH probe positions,
    * so the ~3 s is the structural cost of the value-count build plus
    * the bounded driver rank selection, not fixture overhead or block
    * pressure. Structural; no revert. */
  def qOutlierFilter(spark: SparkSession, sfDir: String): DataFrame =
    outlierFilter(spark, sfDir, OutlierDriverMaxValues)

  /** Value-row ceiling for the driver arm: 2M (flag, cents) value-count
    * tuples ≈ low-hundreds of MB transient on the driver — the cents
    * domain is price-formula-bounded but grows with the part count, so
    * past the cap the SAME query grades out to the distributed
    * rank-selection arm. */
  private val OutlierDriverMaxValues = 2000000L

  /** [[qOutlierFilter]] with the dispatch ceiling exposed so tests can
    * force the distributed arm (ceiling 0) and assert both arms agree.
    *
    * Structure notes, both arms measured under bench conditions:
    * the DISTRIBUTED arm is the checkpointed multi-job spelling with
    * runtime-dispatched rank selection (~4 s on the fixture). Two
    * "clever" distributed alternatives measured WORSE: a fully-lazy
    * one-plan spelling relying on exchange reuse paid 5.3-6.6 s cold
    * (the tripled vc subtree pays planning+codegen before reuse can
    * help), and forcing the bucketed arm to skip the two dispatch
    * count() jobs paid 4.4-7.2 s (its per-median stats checkpoints cost
    * more jobs than the counts they replaced). The DRIVER arm collects
    * the value-count relation itself (cardinality-bounded, counted
    * cheap off the checkpoint) and replays the exact same rank/median
    * algebra in local integer-cents math, skipping the median/dev/MAD
    * shuffle-checkpoint chain entirely; its presentation projection
    * routes through the SAME Spark round() so the arms and the oracle
    * agree bit-for-bit. */
  private[graft] def outlierFilter(spark: SparkSession, sfDir: String,
      driverMaxValues: Long): DataFrame = {
    import spark.implicits._
    outlierOfCounts(
      Tables.lineitem(spark, sfDir)
        .select($"l_returnflag".as("flag"),
          round($"l_extendedprice" * 100).as("price_c"))
        .groupBy($"flag", $"price_c").agg(count(lit(1)).as("__c")),
      driverMaxValues)
  }

  /** Driver-side value-at-rank median over an ASCENDING (value, count)
    * array — [[medianOfCounts]]'s exact algebra (1-based ranks
    * lo=(n+1)/2, hi=n/2+1; med=(v_lo+v_hi)/2, exact IEEE on
    * integer-valued doubles), extracted so a ScalaCheck law can pin it
    * against the naive expanded-multiset median over random inputs. */
  private[graft] def medianOfValueCounts(pairs: Array[(Double, Long)]): Double = {
    val n = pairs.iterator.map(_._2).sum
    val lo = (n + 1) / 2
    val hi = n / 2 + 1
    var cum = 0L
    var vlo = 0.0
    var vhi = 0.0
    var i = 0
    while (i < pairs.length && cum < hi) {
      val next = cum + pairs(i)._2
      if (cum < lo && lo <= next) vlo = pairs(i)._1
      if (cum < hi && hi <= next) vhi = pairs(i)._1
      cum = next
      i += 1
    }
    (vlo + vhi) / 2.0
  }

  /** Partition a collected (key, value, count) array into per-key
    * value-ASCENDING (value, count) arrays. Round 21 (guide §1.2
    * per-task work): the former `flat.groupBy(_._1)` + `xs.map(...)` +
    * `sortBy(_._1)` chain in the outlier/winsorize driver arms cost
    * ~0.4–0.6 s at the 594k-row fixture grid in pure allocation — the
    * hash-map groupBy's per-key buffers, the re-mapped tuple arrays, and
    * sortBy's mapped copy. One bucketing pass plus an in-place sort per
    * key produces identical arrays (first-appearance key order; callers
    * order their 3–5-row output downstream anyway). */
  private[graft] def byKeyValueAscending(
      flat: Array[(String, Double, Long)]): Seq[(String, Array[(Double, Long)])] = {
    val m = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuilder[(Double, Long)]]
    flat.foreach { t =>
      m.getOrElseUpdate(t._1,
        scala.collection.mutable.ArrayBuilder.make[(Double, Long)]) +=
        ((t._2, t._3))
    }
    m.iterator.map { case (k, b) =>
      val a = b.result()
      a.sortInPlaceBy(_._1)
      (k, a)
    }.toSeq
  }

  /** [[outlierFilter]]'s algorithm core over a prepared (flag, price_c,
    * __c) value-count relation — extracted so synthetic both-arms tests
    * can drive it with adversarial tie/parity cases the fixture never
    * hits. */
  private[graft] def outlierOfCounts(vc0: DataFrame,
      driverMaxValues: Long): DataFrame = {
    val spark = vc0.sparkSession
    import spark.implicits._
    Dist.sizeDispatch(vc0, driverMaxValues) { (vc, _) =>
      def medOf(pairs: Array[(Double, Long)]): Double =
        medianOfValueCounts(pairs)
      val flat = vc.as[(String, Double, Long)].collect()
      val out = byKeyValueAscending(flat).flatMap { case (flag, pv) =>
        val med = medOf(pv)
        // Round 20 (optimization round, guide §1.2 per-task work): no
        // hash-merge of equal distances — medianOfValueCounts walks
        // cumulative counts, so duplicate (d, c) entries sorted adjacent
        // yield the identical median (equal values across the run), and
        // the boxed groupBy+sum over the ~price-domain-sized array was
        // pure allocation overhead in the driver arm's hot loop.
        val dev = pv.map { case (v, c) => (math.abs(v - med), c) }
        dev.sortInPlaceBy(_._1)
        val mad = medOf(dev)
        // same operand order as the distributed filter: abs > 2.0 * mad
        val outs = pv.filter { case (v, _) => math.abs(v - med) > 2.0 * mad }
        // a flag with zero outliers is absent from the distributed
        // arm's post-filter groupBy — mirror that
        if (outs.isEmpty) None
        else Some((flag, outs.iterator.map(_._2).sum,
          outs.iterator.map(_._1).min, outs.iterator.map(_._1).max))
      }
      spark.createDataset(out)
        .toDF("l_returnflag", "n_outliers", "min_c", "max_c")
        .select($"l_returnflag", $"n_outliers",
          round($"min_c" / 100.0, 2).as("min_out"),
          round($"max_c" / 100.0, 2).as("max_out"))
        .orderBy($"l_returnflag")
    } { (vc, _) =>
      val med = medianOfCounts(vc, "flag", "price_c", "med")
        .localCheckpoint(true)
      val devCounts = vc.join(broadcast(med), "flag")
        .groupBy($"flag", abs($"price_c" - $"med").as("dev"))
        .agg(sum($"__c").as("__c"))
        .localCheckpoint(true)
      val mad = medianOfCounts(devCounts, "flag", "dev", "mad")
      vc.join(broadcast(med.join(mad, "flag")), "flag")
        .where(abs($"price_c" - $"med") > lit(2.0) * $"mad")
        .groupBy($"flag")
        .agg(sum($"__c").as("n_outliers"),
          round(min($"price_c") / 100.0, 2).as("min_out"),
          round(max($"price_c") / 100.0, 2).as("max_out"))
        .select($"flag".as("l_returnflag"), $"n_outliers", $"min_out", $"max_out")
        .orderBy($"l_returnflag")
    }
  }

  val outlierFilterSql: String =
    """WITH li AS (
      |  SELECT l_returnflag AS flag, round(l_extendedprice * 100) AS price_c
      |  FROM lineitem),
      |med AS (SELECT flag, quantile_cont(price_c, 0.5) AS med FROM li GROUP BY 1),
      |mad AS (
      |  SELECT li.flag, quantile_cont(abs(price_c - med), 0.5) AS mad
      |  FROM li JOIN med ON li.flag = med.flag GROUP BY 1)
      |SELECT li.flag AS l_returnflag, count(*) AS n_outliers,
      |  round(min(price_c) / 100.0, 2) AS min_out,
      |  round(max(price_c) / 100.0, 2) AS max_out
      |FROM li JOIN med ON li.flag = med.flag JOIN mad ON li.flag = mad.flag
      |WHERE abs(price_c - med.med) > 2 * mad.mad
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** 2-D skyline (Pareto frontier) of parts: minimize retail price,
    * maximize size — the preference-query operator (Börzsönyi et al.'s
    * SKYLINE OF, ICDE 2001). A part is dominated if some other part is at
    * least as good on both axes and strictly better on one; the skyline
    * is the undominated set.
    *
    * Scale shape — the naive spelling is an all-pairs dominance anti-join
    * (banned: quadratic BNLJ). Because one axis (p_size) is a SMALL
    * DOMAIN (1..50), dominance collapses to suffix minima over the
    * per-size min-price relation: part (p, s) is undominated iff
    *   p == min price among sizes ≥ s   (nothing ≥-size is strictly
    *                                     cheaper — covers same-size ties)
    *   AND min price among sizes > s > p (nothing strictly-bigger is
    *                                      cheap-or-equal).
    * One corpus-linear hash aggregation to ≤ 50 (size, min-price) rows, a
    * window over that DOMAIN-BOUNDED relation (never corpus-scale — the
    * global orderBy is safe because the partition is ≤ |size domain|),
    * and a broadcast join back. Generalizes to any skyline where one
    * dimension is low-cardinality; for two continuous axes the same
    * scheme runs on a quantile-bucketed axis with per-bucket refinement. */
  def qSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, sfDir)
      .select($"p_partkey",
        round($"p_retailprice" * 100).cast("long").as("cents"), $"p_size")
    val bySize = p.groupBy($"p_size").agg(min($"cents").as("mn"))
    // suffix minima over the size domain (size desc order): m2 = min at
    // size > s ([[Dist.withPrefixMin]]'s exclusive running min — null at
    // the top), m1 = min at size ≥ s = min(m2, own); no unpartitioned
    // window even if the size domain grows
    val m = Dist.withPrefixMin(bySize, Seq($"p_size".desc), Seq("mn" -> "m2"))
      .select($"p_size", least($"m2", $"mn").as("m1"), $"m2")
    p.join(broadcast(m), Seq("p_size"))
      .where($"cents" === $"m1" && ($"m2".isNull || $"m2" > $"cents"))
      .select($"p_partkey", round($"cents" / 100.0, 2).as("price"), $"p_size")
      .orderBy($"p_size".desc, $"p_partkey")
  }

  val skylineSql: String =
    """WITH p AS (
      |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
      |    p_size
      |  FROM part),
      |s AS (SELECT p_size, min(cents) AS mn FROM p GROUP BY 1),
      |m AS (
      |  SELECT p_size,
      |    min(mn) OVER (ORDER BY p_size DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m1,
      |    min(mn) OVER (ORDER BY p_size DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m2
      |  FROM s)
      |SELECT p_partkey, round(cents / 100.0, 2) AS price, p_size
      |FROM p JOIN m USING (p_size)
      |WHERE cents = m1 AND (m2 IS NULL OR m2 > cents)
      |ORDER BY p_size DESC, p_partkey""".stripMargin

  /** Degree distribution of the supplier co-purchase graph — the first
    * diagnostic any graph pipeline runs before the iterative algorithms
    * ([[qPagerank]], triangle counting): a histogram of node degree,
    * including degree-0 isolates (suppliers that never co-ship), which an
    * edge-only aggregation silently drops.
    *
    * The raw co-purchase graph is quasi-complete (every supplier co-ships
    * with every other at this density), so — the `q_triangle_count`
    * sparsification discipline — an edge requires ≥ 20 shared orders,
    * turning the histogram into a real affinity-degree distribution
    * rather than one spike at |V|−1.
    *
    * Scale shape: the same bounded per-order pair generation as
    * [[qPagerank]] (compiled `graft_pairs` kernel — one orderkey shuffle,
    * fan-out bounded by lineitems per order, never an all-pairs
    * self-join), one weight aggregation on the undirected x<y half
    * counted twice, a LEFT join from the supplier dimension to pick up
    * isolates, and a degree-domain-bounded histogram aggregate. */
  /** The ≥20-shared-orders supplier affinity graph as undirected (x<y)
    * edges — shared by [[qDegreeDistribution]] and [[qLinkPredict]].
    * Bounded per-order pair generation via the compiled `graft_pairs`
    * kernel; one orderkey shuffle, one (x, y)-keyed weight aggregate. */
  private def affinityEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_suppkey")).as("ss"))
      .select(explode(call_function("graft_pairs", $"ss", lit(false))).as("e"))
      .groupBy($"e.x", $"e.y").agg(count(lit(1)).as("w"))
      .where($"w" >= 20)
      .select($"x", $"y")
  }

  private val affinityEdgesSql: String =
    """SELECT a.l_suppkey AS x, b.l_suppkey AS y
      |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
      |JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |GROUP BY 1, 2 HAVING count(*) >= 20""".stripMargin

  def qDegreeDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = affinityEdges(spark, sfDir)
    val deg = pairs.select(explode(array($"x", $"y")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    Tables.supplier(spark, sfDir)
      .select($"s_suppkey".as("node"))
      .join(deg, Seq("node"), "left")
      .select(coalesce($"deg", lit(0L)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"deg")
  }

  val degreeDistributionSql: String =
    s"""WITH e AS ($affinityEdgesSql),
       |deg AS (
       |  SELECT node, count(*) AS deg
       |  FROM (SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e)
       |  GROUP BY node)
       |SELECT coalesce(deg, 0) AS deg, count(*) AS n_nodes
       |FROM supplier s LEFT JOIN deg ON deg.node = s.s_suppkey
       |GROUP BY 1 ORDER BY deg""".stripMargin

  /** Pareto concentration: the share of total revenue carried by the top
    * 20% of customers — the "80/20" readout every account-management
    * review opens with, complementing [[qRevenueGini]]'s full-curve
    * summary with the single actionable cut.
    *
    * Exactness: per-customer revenue is exact cents; the top-k cut
    * (k = n DIV 5, total order (revenue desc, custkey)) comes from
    * [[Dist.withPrefix]]'s distributed sort + row index — the family's
    * zipWithIndex ranking discipline, no unpartitioned window — and the
    * share is one integer ratio in ppm. Scale shape: one fact aggregate
    * to the customer relation, one distributed-prefix pass, a 1-row
    * result. */
  def qParetoShare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, sfDir)
      .select($"o_custkey",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("rev_c"))
      .groupBy($"o_custkey").agg(sum($"rev_c").as("rev"))
      .withColumn("negrev", -$"rev")
    val idxd = Dist.withPrefix(perCust, Seq($"negrev", $"o_custkey"),
        Seq("rev" -> "cumpre"), Some("idx"))
      .localCheckpoint(true)
    val tot = idxd.agg(count(lit(1)).as("n"), sum($"rev").as("total"))
    idxd.crossJoin(broadcast(tot))
      .withColumn("k", expr("n DIV 5"))
      .agg(max($"n").as("n_customers"), max($"k").as("top_k"),
        max($"total").as("tot"),
        sum(when($"idx" <= $"k", $"rev").otherwise(0L)).as("toprev"))
      .select($"n_customers", $"top_k",
        // widened: toprev is corpus cents (~2e18 at 100 TB), so *1e6
        // overflows the long on Spark while the oracle's HUGEINT stays exact
        expr("CAST(CAST(toprev AS DECIMAL(38,0)) * 1000000 DIV tot AS BIGINT)")
          .as("top20_share_ppm"))
  }

  val paretoShareSql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) AS idx
      |  FROM pc),
      |t AS (SELECT count(*) AS n, sum(rev) AS total FROM pc)
      |SELECT CAST(n AS BIGINT) AS n_customers, CAST(n // 5 AS BIGINT) AS top_k,
      |  CAST(CAST(sum(CASE WHEN idx <= n // 5 THEN rev ELSE 0 END) AS HUGEINT)
      |    * 1000000 // total AS BIGINT) AS top20_share_ppm
      |FROM r CROSS JOIN t GROUP BY n, total""".stripMargin

  /** Statistical MODE per group — the most frequent quantity per return
    * flag with a deterministic smallest-value tie-break: the one classic
    * aggregate the family still lacked (means, medians, quantiles,
    * geomeans all ship; the mode is the categorical-or-discrete
    * summary).
    *
    * Scale shape: one (flag, value) hash aggregate (map-side
    * combinable), then a rank-1 window over the VALUE-CARDINALITY-
    * bounded count relation — never the fact rows. */
  def qMode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_quantity".cast("long").as("qty"))
      .groupBy($"l_returnflag", $"qty").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"l_returnflag").orderBy($"cnt".desc, $"qty")))
      .where($"rnk" === 1)
      .select($"l_returnflag", $"qty".as("mode_qty"), $"cnt".as("mode_count"))
      .orderBy($"l_returnflag")
  }

  val modeSql: String =
    """WITH c AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, qty, cnt,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY cnt DESC, qty) AS rnk
      |  FROM c)
      |SELECT l_returnflag, qty AS mode_qty, cnt AS mode_count
      |FROM r WHERE rnk = 1 ORDER BY l_returnflag""".stripMargin

  /** Herfindahl–Hirschman concentration of supplier revenue per ship
    * year — Σ share² (0 → perfectly fragmented, 1 → monopoly), the
    * standard market-concentration index, and operationally the same
    * number that predicts whether a supplier-keyed shuffle will skew.
    *
    * Exactness: per-supplier yearly revenue is exact cents; the Σ rev²
    * numerator is widened to DECIMAL(38,0) (cents² passes 2^63 just
    * above ~$300k per supplier-year) and the denominator square is
    * assembled from the exact BIGINT total in doubles, one division,
    * round 6. Scale shape: one fact aggregate to the (year, supplier)
    * grid, one year-bounded aggregate. */
  def qHhi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ys = Tables.lineitem(spark, sfDir)
      .select(year($"l_shipdate").cast("long").as("yr"), $"l_suppkey",
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("rev_c"))
      .groupBy($"yr", $"l_suppkey").agg(sum($"rev_c").as("rev"))
    ys.groupBy($"yr")
      .agg(count(lit(1)).as("n_suppliers"), sum($"rev").as("tot"),
        sum(($"rev" * $"rev").cast("decimal(38,0)")).as("sq"))
      .select($"yr", $"n_suppliers",
        round($"sq".cast("double")
          / ($"tot".cast("double") * $"tot".cast("double")), 6).as("hhi"))
      .orderBy($"yr")
  }

  val hhiSql: String =
    """WITH ys AS (
      |  SELECT year(l_shipdate) AS yr, l_suppkey,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT CAST(yr AS BIGINT) AS yr, count(*) AS n_suppliers,
      |  round(CAST(sum(CAST(rev * rev AS DECIMAL(38,0))) AS DOUBLE)
      |    / (CAST(sum(rev) AS DOUBLE) * sum(rev)), 6) AS hhi
      |FROM ys GROUP BY yr ORDER BY yr""".stripMargin

  /** Degree assortativity of the supplier affinity graph — the Pearson
    * correlation of endpoint degrees over all directed edges: positive
    * means hubs ship with hubs (assortative mixing), negative means
    * hub-and-spoke. The one-number structural summary that tells you
    * whether the skew-handling path (salting, AQE skew join) will face
    * clustered or dispersed hot keys.
    *
    * Exactness: degrees are bounded by |V|, so the five Pearson moments
    * over the directed edge list are exact integer sums, with the three
    * degree-product sums widened to DECIMAL(38,0)/HUGEINT on the operand
    * (a hub-heavy graph puts deg² near |V|² per edge, so the SUM passes
    * 2^63 long before the fixture suggests — Spark's long sum
    * overflows where DuckDB stays exact, and the engines would
    * diverge); one double assembly ends it, `+ 0.0`-normalized on both
    * engines because a near-neutral graph sits at r ≈ 0 by construction
    * and a tiny negative r rounds to -0.0 on DuckDB vs +0.0 on Spark in
    * the string-compared parity gate. Scale shape: one degree aggregate + one edge-keyed
    * join of the degree dimension onto each endpoint, then a single
    * 1-row reduction.
    *
    * Clean-band adjudication (round 20 ABBA probe, post-widening):
    * 1.38/1.80 s — first position reads AT the 1.41 s pre-widening
    * baseline, so the decimal edge-sum's cost is mostly block-pressure
    * sensitivity, not a fixed structural increment; the sweep-level
    * ~1.95 s reading carries the host band on top. No revert. */
  def qAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = affinityEdges(spark, sfDir).localCheckpoint(true)
    val adj = e.union(e.select($"y", $"x"))
      .toDF("src", "dst")
    val deg = adj.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    adj
      .join(deg.select($"node".as("src"), $"deg".as("dx")), Seq("src"))
      .join(deg.select($"node".as("dst"), $"deg".as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m"), sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum($"dx".cast("decimal(38,0)") * $"dy").as("sxy"),
        sum($"dx".cast("decimal(38,0)") * $"dx").as("sxx"),
        sum($"dy".cast("decimal(38,0)") * $"dy").as("syy"))
      // a regular graph (every degree equal — sf0.001's K10) has zero
      // degree variance: the correlation is undefined there, and under
      // ANSI mode an unguarded 0/0 double division THROWS — emit null
      .withColumn("den",
        sqrt($"m".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx")
          * sqrt($"m".cast("double") * $"syy".cast("double")
            - $"sy".cast("double") * $"sy"))
      .select(expr("m DIV 2").as("n_edges"),
        when($"den" > 0.0,
          round(($"m".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy")
            / $"den", 6) + 0.0).as("assortativity"))
  }

  val assortativitySql: String =
    s"""WITH e0 AS ($affinityEdgesSql),
       |adj AS (SELECT x AS src, y AS dst FROM e0
       |        UNION ALL SELECT y AS src, x AS dst FROM e0),
       |deg AS (SELECT src AS node, count(*) AS deg FROM adj GROUP BY 1),
       |j AS (
       |  SELECT a.deg AS dx, b.deg AS dy
       |  FROM adj JOIN deg a ON adj.src = a.node JOIN deg b ON adj.dst = b.node),
       |m AS (
       |  SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
       |    sum(CAST(dx AS HUGEINT) * dy) AS sxy,
       |    sum(CAST(dx AS HUGEINT) * dx) AS sxx,
       |    sum(CAST(dy AS HUGEINT) * dy) AS syy
       |  FROM j)
       |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
       |  CASE WHEN sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * sx)
       |      * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * sy) > 0
       |    THEN round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * sy)
       |      / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * sx)
       |        * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * sy)), 6) + 0.0
       |  END AS assortativity
       |FROM m""".stripMargin

  /** Common-neighbors link prediction on the supplier affinity graph —
    * "which suppliers SHOULD be co-shipping but aren't": for every
    * non-adjacent pair sharing at least one neighbor, the classic
    * common-neighbors score, top-20 with a total-order tie-break.
    *
    * Scale shape: the wedge self-join on the symmetrized adjacency fans
    * out by degree² per pivot node (the inherent cost of common-neighbor
    * counting — the same bound the triangle count carries), one (a, c)
    * aggregate, a LEFT ANTI join against the edge set to keep only
    * non-adjacent candidates, and a TakeOrderedAndProject cut. */
  def qLinkPredict(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = affinityEdges(spark, sfDir).localCheckpoint(true)
    val adj = e.select($"x".as("b"), $"y".as("n"))
      .union(e.select($"y".as("b"), $"x".as("n")))
    val wedges = adj.as("l").join(adj.as("r"),
        col("l.b") === col("r.b") && col("l.n") < col("r.n"))
      .groupBy(col("l.n").as("a"), col("r.n").as("c"))
      .agg(count(lit(1)).as("common_neighbors"))
    wedges.join(e, wedges("a") === e("x") && wedges("c") === e("y"), "left_anti")
      .orderBy($"common_neighbors".desc, $"a", $"c")
      .limit(20)
  }

  val linkPredictSql: String =
    s"""WITH e AS ($affinityEdgesSql),
       |adj AS (SELECT x AS b, y AS n FROM e UNION ALL SELECT y AS b, x AS n FROM e),
       |w AS (
       |  SELECT l.n AS a, r.n AS c, count(*) AS common_neighbors
       |  FROM adj l JOIN adj r ON l.b = r.b AND l.n < r.n
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT w.* FROM w
       |  LEFT JOIN e ON w.a = e.x AND w.c = e.y
       |  WHERE e.x IS NULL)
       |SELECT a, c, common_neighbors FROM cand
       |ORDER BY common_neighbors DESC, a, c LIMIT 20""".stripMargin

  /** Fixed-iteration PageRank over the supplier co-purchase graph —
    * iterative graph analytics beyond [[Similarity]]'s connected
    * components. Nodes are suppliers; a directed edge joins two suppliers
    * that ship within the same order (simple graph: DISTINCT pairs from a
    * per-order self-join whose fan-out is bounded by the lineitems per
    * order, never all-pairs). Three synchronous iterations of
    *   r' = 0.15 + 0.85 · Σ_in r/outdeg
    * in parts-per-million INTEGER arithmetic — each contribution is
    * `r·85 DIV (100·outdeg)`, so per-node sums are order-independent long
    * adds and the final ranks are bit-identical on any engine (the oracle
    * unrolls the same three steps as CTEs). Scale shape: every iteration
    * is one src-keyed equi-join plus one dst-keyed aggregation — the
    * standard distributed PageRank step. The ONLY diamond in the lineage
    * is the O(lineitem) pair build (consumed by all three iterations), so
    * the DISTINCT HALF-edge set is `localCheckpoint`ed once (same
    * discipline as [[graft.ml.Dedup.connectedComponents]]; round 21 moved
    * the checkpoint from the mirrored+outdeg-windowed relation down to
    * the half set — see [[qPagerankHalfEdges]]); the rank chain itself is
    * linear — each iteration's table appears exactly once in the next —
    * so the three steps compile into ONE job of small keyed joins over the
    * checkpointed edges, not a job per iteration. The iteration count is a
    * fixed constant, not data-dependent. */
  def qPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.supplier(spark, sfDir).select($"s_suppkey".as("node"))
    pagerankHalf(nodes, qPagerankHalfEdges(spark, sfDir))
      .select($"node".as("suppkey"), $"rank_ppm")
      .orderBy($"rank_ppm".desc, $"suppkey")
  }

  /** [[qPagerank]]'s undirected half-edge build: the DISTINCT (x < y)
    * supplier co-purchase pairs. Round 21 (guide §2.4): the dispatch
    * relation is now THIS half set — the former pipeline mirrored both
    * directions and ran a src-partitioned outdeg window BEFORE the
    * size-dispatch checkpoint, so the checkpoint materialized (and the
    * driver arm collected) 2|E| windowed rows; the mirror and the degree
    * are recomputed from the half set by whichever arm needs them (the
    * driver arm derives degrees in one local pass, the distributed arm
    * via [[pagerankHalf]]'s post-checkpoint mirror — same exchange count as
    * before, half the materialized/collected bytes, one full-relation
    * window+sort removed from the driver path). */
  private[graft] def qPagerankHalfEdges(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    // per-order supplier sets → compiled pair kernel (no self-join): one
    // orderkey shuffle, bounded per-order fan-out, then the simple-graph
    // distinct
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_suppkey")).as("ss"))
      .select(explode(call_function("graft_pairs", $"ss", lit(false))).as("e"))
      .select($"e.x", $"e.y").distinct()
  }

  /** Edge ceiling for the driver arm: 2M (src, dst, od) tuples — the
    * triangle-count broadcast budget. The three synchronous iterations
    * are each a BROADCAST round trip (collect ranks to the driver, ship
    * to executors, aggregate back), so under the ceiling the whole loop
    * runs directly on the collected edge array instead — same integer
    * algebra, no per-iteration exchange. */
  private val PagerankDriverMaxEdges = 2000000L

  /** Three synchronous ppm-integer PageRank iterations over a node table
    * ("node") and an undirected (x, y) HALF-edge relation — the algorithm
    * core of [[qPagerank]], taking its graph as arguments so the
    * ScalingSpec slope canary can drive it with a fixed-density synthetic
    * graph (the co-purchase graph densifies with SF, which would measure
    * the generator, not the plan). The size dispatch
    * checkpoints/counts/collects the half set (half the rows of the
    * mirrored relation, and no outdeg window ahead of the checkpoint);
    * `measure = ×2` keeps the ceiling in directed-edge units, so the
    * driver/distributed grade-out point is unchanged. The driver arm
    * derives degrees in one local pass and applies each half edge in
    * both directions (od(src) divides each contribution exactly as the
    * mirrored relation's window od did — od(v) = distinct-neighbor count
    * of v); the distributed arm mirrors the CHECKPOINTED half set into
    * directed (src, dst, od) rows and runs the iterations there, each
    * broadcasting the node-cardinality rank table into a map-side join
    * over the edges plus one dst-keyed aggregation — the same exchanges
    * the former pre-dispatch pipeline paid. */
  private[graft] def pagerankHalf(nodes: DataFrame, halfIn: DataFrame,
      driverMaxEdges: Long = PagerankDriverMaxEdges): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    Dist.sizeDispatch(halfIn, driverMaxEdges, measure = (_, n) => n * 2) { (half, _) =>
      val hs = half.select($"x", $"y").as[(Long, Long)].collect()
      val ns = nodes.select($"node".cast("long")).as[Long].collect()
      val deg = scala.collection.mutable.LongMap.empty[Long]
      hs.foreach { case (x, y) =>
        deg(x) = deg.getOrElse(x, 0L) + 1L
        deg(y) = deg.getOrElse(y, 0L) + 1L
      }
      var r = scala.collection.mutable.LongMap.empty[Long]
      ns.foreach(n => r(n) = 1000000L)
      for (_ <- 1 to 3) {
        val cs = scala.collection.mutable.LongMap.empty[Long]
        hs.foreach { case (x, y) =>
          // both directions of the undirected edge, each divided by its
          // OWN source's degree — identical algebra to the mirrored
          // (src, dst, od) rows; an endpoint outside the node table
          // contributes nothing, mirroring the distributed inner join
          r.get(x).foreach { rs =>
            cs(y) = cs.getOrElse(y, 0L) + rs * 85L / (100L * deg(x))
          }
          r.get(y).foreach { rs =>
            cs(x) = cs.getOrElse(x, 0L) + rs * 85L / (100L * deg(y))
          }
        }
        val nr = scala.collection.mutable.LongMap.empty[Long]
        ns.foreach(n => nr(n) = 150000L + cs.getOrElse(n, 0L))
        r = nr
      }
      spark.createDataset(ns.toSeq.map(n => (n, r(n))))
        .toDF("node", "rank_ppm")
    } { (half, _) =>
      // both directions from one explode, outdeg riding each edge row via
      // a src-partitioned window (one shuffle, no pairs⋈degree diamond;
      // partition size is bounded by a node's degree ≤ |V|, never by the
      // corpus). That relation is the diamond all three iterations
      // consume — without its own checkpoint the window+sort above the
      // half checkpoint replays per iteration join (exchange reuse stops
      // at the exchange, not at the Window above it): measured at the 10×
      // scale probe, un-checkpointed 5.61/4.54 s vs old 3.48/4.03 s.
      // Checkpointing restores the old distributed shape; the half
      // checkpoint the dispatch already paid is the cheap, window-free
      // side.
      val edges = half
        .select(explode(array(
          struct($"x".as("src"), $"y".as("dst")),
          struct($"y".as("src"), $"x".as("dst")))).as("p"))
        .select($"p.src", $"p.dst")
        .withColumn("od", count(lit(1)).over(Window.partitionBy($"src")))
        .localCheckpoint(true)
      var ranks = nodes.select($"node", lit(1000000L).as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(broadcast(ranks), edges("src") === ranks("node"))
          .select($"dst", expr("r * 85 DIV (100 * od)").as("c"))
          .groupBy($"dst").agg(sum($"c").as("cs"))
        ranks = nodes
          .join(broadcast(contrib), nodes("node") === contrib("dst"), "left")
          .select($"node", (lit(150000L) + coalesce($"cs", lit(0L))).as("r"))
      }
      ranks.select($"node", $"r".as("rank_ppm"))
    }
  }

  val pagerankSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |e AS (
      |  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey),
      |deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
      |n AS (SELECT s_suppkey AS node FROM supplier),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
      |c1 AS (SELECT e.dst, sum(r0.r * 85 // (100 * deg.od)) AS cs
      |       FROM e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
      |r1 AS (SELECT n.node, CAST(150000 + coalesce(c1.cs, 0) AS BIGINT) AS r
      |       FROM n LEFT JOIN c1 ON c1.dst = n.node),
      |c2 AS (SELECT e.dst, sum(r1.r * 85 // (100 * deg.od)) AS cs
      |       FROM e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
      |r2 AS (SELECT n.node, CAST(150000 + coalesce(c2.cs, 0) AS BIGINT) AS r
      |       FROM n LEFT JOIN c2 ON c2.dst = n.node),
      |c3 AS (SELECT e.dst, sum(r2.r * 85 // (100 * deg.od)) AS cs
      |       FROM e JOIN r2 ON r2.node = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
      |r3 AS (SELECT n.node, CAST(150000 + coalesce(c3.cs, 0) AS BIGINT) AS r
      |       FROM n LEFT JOIN c3 ON c3.dst = n.node)
      |SELECT node AS suppkey, r AS rank_ppm
      |FROM r3 ORDER BY rank_ppm DESC, suppkey""".stripMargin

  /** Triangle counting over the supplier co-purchase graph (same graph as
    * [[qPagerank]], thresholded to pairs sharing ≥ 6 orders so the
    * quasi-complete co-purchase graph sparsifies to real affinity edges).
    * Returns per-node triangle counts keyed at each triangle's
    * orientation-lowest vertex.
    *
    * Scale shape — the textbook distributed triangle count: edges are
    * ORIENTED from the lower-(degree, id) endpoint to the higher, which
    * bounds every node's out-degree by O(√m) on any graph, so the wedge
    * self-join fans out by outdeg², not deg². Wedges close against the
    * *undirected* pair set (each triangle counted exactly once at its
    * lowest vertex, whatever the orientation of the far edge). Degrees are
    * node-cardinality (broadcast); the thresholded edge set is
    * data-derived, so the closure join is SIZE-DISPATCHED: the edge count
    * is read off the already-materialized checkpoint (a cheap local job),
    * and the broadcast hint is applied only under
    * [[TriangleBroadcastMaxEdges]] — above it the closure runs as a plain
    * shuffle equi-join on (x, y), so a dense graph degrades to a shuffle
    * instead of OOMing the driver. The oriented wedge relation is
    * checkpointed once (deg, wedges and closure all read it) but NOT
    * pre-partitioned — round 20 measured that an eager localCheckpoint
    * surfaces as UnknownPartitioning under AQE, so a pre-checkpoint
    * repartition never reaches the join and is a wasted exchange.
    * All arithmetic is integer-exact. */
  def qTriangleCount(spark: SparkSession, sfDir: String): DataFrame =
    triangleCount(spark, sfDir, TriangleBroadcastMaxEdges)

  /** Edge-count ceiling for broadcasting the closure side of the triangle
    * join: 2M edges × 16 B/row ≈ 32 MB — comfortably inside a default
    * driver/broadcast budget, far below where a hard hint would OOM. */
  private val TriangleBroadcastMaxEdges = 2000000L

  /** [[qTriangleCount]] with the broadcast dispatch threshold exposed so
    * tests can force the shuffle path (threshold 0) and assert both plans
    * agree and neither carries an unconditional broadcast hint. */
  private[graft] def triangleCount(spark: SparkSession, sfDir: String,
      broadcastMaxEdges: Long): DataFrame = {
    import spark.implicits._
    // one orderkey shuffle → compiled pair kernel → co-occurrence counts;
    // x < y by construction (sorted set), one row per unordered pair
    val pairs = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_suppkey")).as("ss"))
      .select(explode(call_function("graft_pairs", $"ss", lit(false))).as("e"))
      .groupBy($"e.x".as("x"), $"e.y".as("y"))
      .agg(count(lit(1)).as("c"))
      .where($"c" >= 6).select($"x", $"y")
    trianglesOfPairs(pairs, broadcastMaxEdges)
  }

  /** Degree-oriented triangle count over a prepared undirected pair set
    * (x, y with x < y, one row per edge) — the algorithm core of
    * [[qTriangleCount]], extracted so the ScalingSpec slope canary can
    * drive it with a fixed-density synthetic graph. Returns per-apex
    * triangle counts ordered by node id. */
  private[graft] def trianglesOfPairs(pairsIn: DataFrame,
      broadcastMaxEdges: Long): DataFrame = {
    val spark = pairsIn.sparkSession
    import spark.implicits._
    val pairs = pairsIn
      .localCheckpoint(true) // one diamond: deg, ori, closure all read it
    // the checkpoint is already materialized, so this count is a cheap
    // local job — it drives the closure join's broadcast-vs-shuffle
    // dispatch (a hard broadcast hint on a data-derived edge set would
    // override Spark's size checks and OOM the driver at real scale)
    val nEdges = pairs.count()
    val deg = pairs.select($"x".as("n")).unionAll(pairs.select($"y".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    // checkpoint the oriented edges: deg/wedge/closure all read them.
    // Round 20 (optimization round): the former `.repartition($"u")`
    // before this checkpoint is GONE — the captured plan
    // (plans/r20/q_triangle_count_before.txt) shows the eager
    // localCheckpoint surfaces as UnknownPartitioning(0) under AQE, so
    // the pre-partitioning never reached the wedge self-join (which
    // planned its own distribution regardless: broadcast under the
    // ceiling, its own exchanges above it) — the repartition was purely
    // a wasted full-relation exchange in the checkpoint build.
    val ori = pairs
      .join(broadcast(deg).withColumnsRenamed(Map("n" -> "nx", "d" -> "dx")),
        $"x" === $"nx")
      .join(broadcast(deg).withColumnsRenamed(Map("n" -> "ny", "d" -> "dy")),
        $"y" === $"ny")
      .select(
        when($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"), $"x")
          .otherwise($"y").as("u"),
        when($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"), $"y")
          .otherwise($"x").as("v"))
      .localCheckpoint(true)
    val wedges = ori.alias("e1")
      .join(ori.alias("e2"), $"e1.u" === $"e2.u" && $"e1.v" < $"e2.v")
      .select($"e1.u".as("apex"), $"e1.v".as("b"), $"e2.v".as("cc"))
    val closure = if (nEdges <= broadcastMaxEdges) broadcast(pairs) else pairs
    wedges
      .join(closure, $"b" === $"x" && $"cc" === $"y")
      .groupBy($"apex".as("suppkey"))
      .agg(count(lit(1)).as("triangles"))
      .orderBy($"suppkey")
  }

  val triangleCountSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |p AS (
      |  SELECT a.l_suppkey AS x, b.l_suppkey AS y
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2 HAVING count(*) >= 6),
      |deg AS (
      |  SELECT n, count(*) AS d
      |  FROM (SELECT x AS n FROM p UNION ALL SELECT y AS n FROM p) GROUP BY 1),
      |ori AS (
      |  SELECT
      |    CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND p.x < p.y)
      |         THEN p.x ELSE p.y END AS u,
      |    CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND p.x < p.y)
      |         THEN p.y ELSE p.x END AS v
      |  FROM p JOIN deg dx ON p.x = dx.n JOIN deg dy ON p.y = dy.n),
      |w AS (
      |  SELECT e1.u AS apex, e1.v AS b, e2.v AS c
      |  FROM ori e1 JOIN ori e2 ON e1.u = e2.u AND e1.v < e2.v)
      |SELECT apex AS suppkey, count(*) AS triangles
      |FROM w JOIN p ON w.b = p.x AND w.c = p.y
      |GROUP BY 1 ORDER BY suppkey""".stripMargin

  /** Community detection by synchronous label propagation on the
    * thresholded co-purchase graph ([[qTriangleCount]]'s edge set): two
    * fixed iterations of "adopt the most frequent neighbor label, ties to
    * the smallest" — the deterministic spelling of LPA (vanilla LPA's
    * random tie-breaks make it irreproducible; (count DESC, label ASC) is
    * a total order, so any engine agrees).
    *
    * Scale shape: per iteration, one src-keyed broadcast join of the
    * node-cardinality label table into the checkpointed edges, one
    * (dst, label) aggregation, and one dst-partitioned top-1 window
    * (partition size = a node's degree). Iteration count is a fixed
    * constant. Nodes outside the thresholded graph keep their own id as a
    * singleton community. */
  def qLabelProp(spark: SparkSession, sfDir: String): DataFrame =
    labelProp(spark, sfDir, GraphDriverMaxEdges)

  /** [[qLabelProp]] with the dispatch ceiling exposed (tests force the
    * distributed arm with ceiling 0 and assert both arms agree). */
  private[graft] def labelProp(spark: SparkSession, sfDir: String,
      driverMaxEdges: Long): DataFrame = {
    import spark.implicits._
    val pairs0 = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_suppkey")).as("ss"))
      .select(explode(call_function("graft_pairs", $"ss", lit(false))).as("e"))
      .groupBy($"e.x".as("x"), $"e.y".as("y"))
      .agg(count(lit(1)).as("c"))
      .where($"c" >= 6)
    val edges0 = pairs0
      .select(explode(array(
        struct($"x".as("src"), $"y".as("dst")),
        struct($"y".as("src"), $"x".as("dst")))).as("p"))
      .select($"p.src", $"p.dst")
    val nodes = Tables.supplier(spark, sfDir).select($"s_suppkey".as("node"))
    Dist.sizeDispatch(edges0, driverMaxEdges) { (edges, _) =>
      val es = edges.as[(Long, Long)].collect()
      val ns = nodes.as[Long].collect()
      var lab = scala.collection.mutable.LongMap.empty[Long]
      ns.foreach(n => lab(n) = n)
      for (_ <- 1 to 2) {
        // per-dst (label -> count); adoption = max count, ties to the
        // SMALLEST label — exactly the distributed arm's
        // row_number() OVER (ORDER BY cnt DESC, label) = 1
        val cnt = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        es.foreach { case (src, dst) =>
          // srcs outside the node table drop, like the inner join below
          lab.get(src).foreach { l =>
            cnt((dst, l)) = cnt.getOrElse((dst, l), 0L) + 1L
          }
        }
        val best = scala.collection.mutable.LongMap.empty[(Long, Long)]
        cnt.foreach { case ((dst, l), c) =>
          best.get(dst) match {
            case Some((bc, bl)) if c < bc || (c == bc && l >= bl) => ()
            case _ => best(dst) = (c, l)
          }
        }
        val nl = scala.collection.mutable.LongMap.empty[Long]
        ns.foreach(n => nl(n) = best.get(n).map(_._2).getOrElse(n))
        lab = nl
      }
      spark.createDataset(ns.toSeq.map(n => (n, lab(n))))
        .toDF("suppkey", "community").orderBy($"suppkey")
    } { (edges, _) =>
      val wTop = Window.partitionBy($"dst").orderBy($"cnt".desc, $"label")
      var labels = nodes.select($"node", $"node".as("label"))
      for (_ <- 1 to 2) {
        val adopted = edges
          .join(broadcast(labels), edges("src") === labels("node"))
          .groupBy($"dst", $"label").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wTop))
          .where($"rn" === 1)
          .select($"dst", $"label".as("new_label"))
        labels = nodes
          .join(broadcast(adopted), nodes("node") === adopted("dst"), "left")
          .select($"node", coalesce($"new_label", $"node").as("label"))
      }
      labels.select($"node".as("suppkey"), $"label".as("community"))
        .orderBy($"suppkey")
    }
  }

  val labelPropSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |p AS (
      |  SELECT a.l_suppkey AS x, b.l_suppkey AS y
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2 HAVING count(*) >= 6),
      |e AS (SELECT x AS src, y AS dst FROM p
      |      UNION ALL SELECT y AS src, x AS dst FROM p),
      |n AS (SELECT s_suppkey AS node FROM supplier),
      |l0 AS (SELECT node, node AS label FROM n),
      |c1 AS (
      |  SELECT e.dst, l0.label, count(*) AS cnt
      |  FROM e JOIN l0 ON l0.node = e.src GROUP BY 1, 2),
      |a1 AS (
      |  SELECT dst, label AS new_label FROM c1
      |  QUALIFY row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) = 1),
      |l1 AS (
      |  SELECT n.node, coalesce(a1.new_label, n.node) AS label
      |  FROM n LEFT JOIN a1 ON a1.dst = n.node),
      |c2 AS (
      |  SELECT e.dst, l1.label, count(*) AS cnt
      |  FROM e JOIN l1 ON l1.node = e.src GROUP BY 1, 2),
      |a2 AS (
      |  SELECT dst, label AS new_label FROM c2
      |  QUALIFY row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) = 1),
      |l2 AS (
      |  SELECT n.node, coalesce(a2.new_label, n.node) AS label
      |  FROM n LEFT JOIN a2 ON a2.dst = n.node)
      |SELECT node AS suppkey, label AS community
      |FROM l2 ORDER BY suppkey""".stripMargin

  /** Fixed-round peel count for [[qKcore]]: 12 covers convergence with
    * margin at every tested SF (sf0.01 needs 10); rounds after the
    * fixpoint are provable no-ops, and BOTH engines run exactly this many,
    * so even a hypothetically unconverged graph yields identical results.
    * The spec asserts true convergence on a synthetic pendant graph. */
  private val KcorePeelRounds = 12

  /** K-core decomposition (k = 3) of the part co-purchase graph: nodes
    * are parts, edges join parts co-ordered in ≥ 2 orders, and the 3-core
    * is what survives repeatedly peeling nodes of degree < 3 — the
    * standard dense-substructure extractor (Seidman 1983) used to find
    * the stable "always bought together" backbone and to seed community
    * detection. Returns each surviving node with its within-core degree.
    *
    * Scale shape: the edge build is the same per-order compiled pair
    * kernel as [[qTriangleCount]] (fan-out bounded by order width, never
    * all-pairs). Each peel round is one degree aggregation over the
    * current edge set plus two semi-joins back — all equi-joins with NO
    * broadcast hints (the shrinking alive set is data-derived; AQE picks
    * the strategy, so a dense graph degrades to shuffles instead of
    * OOMing the driver). The loop `localCheckpoint`s each round to cut
    * the 12-deep lineage and early-exits on edge-count fixpoint, so
    * converged graphs stop paying immediately. */
  def qKcore(spark: SparkSession, sfDir: String): DataFrame =
    kcore(spark, sfDir, GraphDriverMaxEdges)

  /** Shared edge ceiling for the iterative-graph driver arms (k-core
    * peel, label propagation): 2M edge tuples — the triangle-count
    * broadcast budget. Each distributed round is checkpoint + count (or
    * broadcast + window) driver round trips; under the ceiling the whole
    * loop runs on the collected edge array with the identical
    * round/convergence semantics. */
  private val GraphDriverMaxEdges = 2000000L

  /** [[qKcore]] with the dispatch ceiling exposed (tests force the
    * distributed peel with ceiling 0 and assert both arms agree). */
  private[graft] def kcore(spark: SparkSession, sfDir: String,
      driverMaxEdges: Long): DataFrame = {
    import spark.implicits._
    val k = 3
    val edges0 = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("ps"))
      .select(explode(call_function("graft_pairs", $"ps", lit(false))).as("e"))
      .groupBy($"e.x".as("x"), $"e.y".as("y"))
      .agg(count(lit(1)).as("c"))
      .where($"c" >= 2).select($"x", $"y")
    Dist.sizeDispatch(edges0, driverMaxEdges) { (edges, _) =>
      var alive = edges.as[(Long, Long)].collect()
      var n = alive.length
      var round = 0
      var converged = false
      // identical round semantics to the distributed peel below: cap at
      // KcorePeelRounds (the oracle's unroll depth), stop early when an
      // entire round removes nothing (peeling is monotone, so further
      // rounds are no-ops — same result as the fixed unroll)
      while (round < KcorePeelRounds && !converged) {
        val deg = scala.collection.mutable.LongMap.empty[Long]
        alive.foreach { case (x, y) =>
          deg(x) = deg.getOrElse(x, 0L) + 1L
          deg(y) = deg.getOrElse(y, 0L) + 1L
        }
        val next = alive.filter { case (x, y) => deg(x) >= k && deg(y) >= k }
        converged = next.length == n
        n = next.length
        alive = next
        round += 1
      }
      val cnt = scala.collection.mutable.LongMap.empty[Long]
      alive.foreach { case (x, y) =>
        cnt(x) = cnt.getOrElse(x, 0L) + 1L
        cnt(y) = cnt.getOrElse(y, 0L) + 1L
      }
      spark.createDataset(cnt.toSeq)
        .toDF("p_partkey", "core_deg").orderBy($"p_partkey")
    } { (edgesCk, nE) =>
      var edges = edgesCk
      var nEdges = nE
      var round = 0
      var converged = false
      while (round < KcorePeelRounds && !converged) {
        val alive = edges.select($"x".as("n")).unionAll(edges.select($"y".as("n")))
          .groupBy($"n").agg(count(lit(1)).as("d"))
          .where($"d" >= k).select($"n")
        edges = edges
          .join(alive, edges("x") === alive("n"), "left_semi")
          .join(alive, edges("y") === alive("n"), "left_semi")
          .localCheckpoint(true)
        val m = edges.count()
        converged = m == nEdges
        nEdges = m
        round += 1
      }
      edges.select($"x".as("n")).unionAll(edges.select($"y".as("n")))
        .groupBy($"n".as("p_partkey")).agg(count(lit(1)).as("core_deg"))
        .orderBy($"p_partkey")
    }
  }

  /** Unrolled [[KcorePeelRounds]]-round peel, mechanically generated so
    * the oracle is round-for-round the same computation. Every CTE that a
    * later round references more than once is `AS MATERIALIZED`: each
    * `e_i` feeds round i+1's FROM plus two IN subqueries, so without
    * materialization DuckDB inlines the chain combinatorially (~5^12
    * re-scans of lineitem — round 7's oracle died with "Too many open
    * files" before producing a row). Materialized, each round is computed
    * exactly once, mirroring the Spark side's per-round checkpoint. */
  val kcoreSql: String = {
    val rounds = (1 to KcorePeelRounds).map { i =>
      s""",d$i AS MATERIALIZED (
         |  SELECT n, count(*) AS d
         |  FROM (SELECT x AS n FROM e${i - 1} UNION ALL SELECT y FROM e${i - 1})
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT n FROM d$i WHERE d >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT x, y FROM e${i - 1}
         |  WHERE x IN (SELECT n FROM a$i) AND y IN (SELECT n FROM a$i))""".stripMargin
    }.mkString("\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.l_partkey AS x, b.l_partkey AS y
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |$rounds
       |SELECT n AS p_partkey, count(*) AS core_deg
       |FROM (SELECT x AS n FROM e$KcorePeelRounds
       |      UNION ALL SELECT y FROM e$KcorePeelRounds)
       |GROUP BY 1 ORDER BY p_partkey""".stripMargin
  }

  /** 2-hop neighborhood reach over the thresholded co-purchase graph
    * ([[qTriangleCount]]'s edge set): for every supplier in the graph, the
    * count of distinct suppliers reachable in one or two hops (self
    * excluded) — the "influence radius" primitive under k-hop feature
    * engineering and graph sampling.
    *
    * Scale shape: the 2-hop expansion is ONE self-equi-join of the
    * checkpointed symmetric edge list keyed on the mid node — per-node
    * fan-out is bounded by degree², and the affinity threshold bounds
    * degree, so no wedge explosion. The union+distinct shuffles on
    * (src, reach) fixed-width long pairs. No broadcast hints: the edge
    * relation is data-derived, so AQE must stay free to pick the join
    * strategy at real scale. */
  def qKhopReach(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_suppkey")).as("ss"))
      .select(explode(call_function("graft_pairs", $"ss", lit(false))).as("e"))
      .groupBy($"e.x".as("x"), $"e.y".as("y"))
      .agg(count(lit(1)).as("c"))
      .where($"c" >= 6)
    val edges = pairs
      .select(explode(array(
        struct($"x".as("src"), $"y".as("dst")),
        struct($"y".as("src"), $"x".as("dst")))).as("p"))
      .select($"p.src", $"p.dst")
      .localCheckpoint(true)
    val hop2 = edges.as("e1")
      .join(edges.as("e2"), $"e1.dst" === $"e2.src")
      .select($"e1.src".as("src"), $"e2.dst".as("reach"))
      .where($"src" =!= $"reach")
    edges.select($"src", $"dst".as("reach"))
      .union(hop2)
      .distinct()
      .groupBy($"src")
      .agg(count(lit(1)).as("n_reach2"))
      .select($"src".as("suppkey"), $"n_reach2")
      .orderBy($"suppkey")
  }

  val khopReachSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |p AS (
      |  SELECT a.l_suppkey AS x, b.l_suppkey AS y
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2 HAVING count(*) >= 6),
      |e AS (SELECT x AS src, y AS dst FROM p
      |      UNION ALL SELECT y AS src, x AS dst FROM p),
      |r AS (
      |  SELECT src, dst AS reach FROM e
      |  UNION
      |  SELECT e1.src, e2.dst AS reach
      |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
      |  WHERE e1.src <> e2.dst)
      |SELECT src AS suppkey, count(*) AS n_reach2
      |FROM r GROUP BY 1 ORDER BY suppkey""".stripMargin

  /** Single-source shortest path (BFS distance, horizon 4 hops) over the
    * thresholded co-purchase graph ([[qTriangleCount]]'s edge set), from
    * the smallest node in the edge set — the distance-bounded BFS
    * primitive under graph feature engineering and reachability audits.
    * The oracle is DuckDB's `WITH RECURSIVE` walk with the same horizon,
    * so this row also gates the engine's answer to recursive-CTE-shaped
    * queries (Spark has no recursive CTE; the idiomatic spelling is
    * unrolled min-distance relaxation).
    *
    * Correctness: after k relaxation rounds, dist(v) is exact for every
    * node whose true BFS distance ≤ k — so 4 rounds ≡ min(dist) of all
    * recursive walks of length ≤ 4. Pure integer distances, node-id
    * tie-breaks nowhere needed (min is total).
    *
    * Scale shape: the edge relation is localCheckpointed ONCE and reused
    * by all rounds (same discipline as [[qPagerank]]), then SIZE
    * DISPATCHED like Dedup's connectedComponents — |E| ≤ 1M: exact
    * driver BFS (hops rounds of micro-shuffles cost more than the whole
    * answer); above: distributed min-relaxation, one equi-join frontier
    * expansion + min aggregation per round over node-cardinality
    * fixed-width rows, the 1-row source anchor the only broadcast, and a
    * per-round localCheckpoint so lineage never compounds. */
  def qShortestPath(spark: SparkSession, sfDir: String): DataFrame =
    shortestPathImpl(spark, sfDir, driverMaxEdges = 1000000L)

  /** [[qShortestPath]] with the dispatch threshold exposed: the test
    * suite forces `driverMaxEdges = 0` to exercise the distributed
    * relaxation arm at test scale. */
  private[graft] def shortestPathImpl(spark: SparkSession, sfDir: String,
      driverMaxEdges: Long): DataFrame = {
    import spark.implicits._
    val hops = 4
    val pairs = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_suppkey")).as("ss"))
      .select(explode(call_function("graft_pairs", $"ss", lit(false))).as("e"))
      .groupBy($"e.x".as("x"), $"e.y".as("y"))
      .agg(count(lit(1)).as("c"))
      .where($"c" >= 6)
    val edges = pairs
      .select(explode(array(
        struct($"x".as("src"), $"y".as("dst")),
        struct($"y".as("src"), $"x".as("dst")))).as("p"))
      .select($"p.src", $"p.dst")
      .localCheckpoint(true)
    // Size-aware dispatch, the SAME discipline as Dedup's
    // connectedComponents: a single-source BFS's working state is the
    // edge set — under the threshold a driver BFS is exact, O(|E|·hops),
    // and avoids `hops` rounds of micro-shuffles; above it, distributed
    // iterative min-relaxation with a per-round localCheckpoint.
    if (edges.count() <= driverMaxEdges) {
      val adj = edges.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      // empty graph (degenerate corpus): no source exists, the BFS
      // result is the empty relation — not an empty.min throw
      if (adj.isEmpty)
        return Seq.empty[(Long, Long)].toDF("suppkey", "dist")
      val src = adj.keysIterator.min
      var dist = Map(src -> 0L)
      var frontier = Seq(src)
      for (d <- 1L to hops.toLong) {
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
        dist ++= frontier.iterator.map(_ -> d)
      }
      dist.toSeq.sorted.toDF("suppkey", "dist").orderBy($"suppkey")
    } else {
      val source = edges.agg(min($"src").as("s"))
      var dist = edges.select($"src".as("node"))
        .union(edges.select($"dst".as("node")))
        .distinct()
        .crossJoin(broadcast(source))
        .select($"node", when($"node" === $"s", 0L).as("dist"))
      for (_ <- 1 to hops) {
        val relaxed = dist.where($"dist".isNotNull).as("d")
          .join(edges.as("e"), col("d.node") === col("e.src"))
          .select($"e.dst".as("node"), (col("d.dist") + 1L).as("nd"))
          .groupBy($"node").agg(min($"nd").as("nd"))
        // per-round checkpoint: the distance relation is node-cardinality
        // (tiny next to the edge set), and cutting the lineage keeps each
        // round ONE short job instead of re-planning the whole chain —
        // the iteration discipline every Spark BFS/PageRank needs
        dist = dist.join(relaxed, Seq("node"), "left")
          .select($"node", least($"dist", $"nd").as("dist"))
          .localCheckpoint(true)
      }
      dist.where($"dist".isNotNull)
        .select($"node".as("suppkey"), $"dist")
        .orderBy($"suppkey")
    }
  }

  val shortestPathSql: String =
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |p AS (
      |  SELECT a.l_suppkey AS x, b.l_suppkey AS y
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2 HAVING count(*) >= 6),
      |e AS (SELECT x AS src, y AS dst FROM p
      |      UNION ALL SELECT y AS src, x AS dst FROM p),
      |walk(node, dist) AS (
      |  SELECT (SELECT min(src) FROM e), 0
      |  UNION ALL
      |  SELECT e.dst, w.dist + 1
      |  FROM walk w JOIN e ON e.src = w.node
      |  WHERE w.dist < 4)
      |SELECT node AS suppkey, CAST(min(dist) AS BIGINT) AS dist
      |FROM walk GROUP BY 1 ORDER BY suppkey""".stripMargin

  /** Per-order sorted brand SETS — the basket relation both market-basket
    * queries ([[qPartAffinity]], [[qPairChisq]]) hang their subtrees off
    * (pair counts, per-brand counts, order total). Catalyst does NOT
    * reuse the exchange across those subtrees (plan read under Probe:
    * the lineitem⋈part + distinct ran FOUR times), so materialize it
    * once. ~|orders| rows with ≤|brands|-element arrays, never
    * fact-sized.
    *
    * Round-20 restructure (optimization round; guide §2.4, the
    * [[qPagerankHalfEdges]] discipline): the previous spelling kept
    * flat DISTINCT (l_orderkey, p_brand) rows pre-`repartition`ed on the
    * self-join key, claiming the LogicalRDD keeps the hash partitioning.
    * The captured plan (plans/r20/q_pair_chisq_before.txt) disproves
    * that: under AQE the eager localCheckpoint surfaces as
    * `Scan ExistingRDD ... UnknownPartitioning(0)`, so the basket
    * self-join re-shuffled BOTH sides anyway (2 Exchanges + 2 Sorts +
    * SortMergeJoin) and the pre-checkpoint repartition was a third,
    * wasted fact-sized exchange. Aggregating to one sorted brand set per
    * order instead (one map-side-combinable orderkey exchange) lets the
    * pair relation come out of a compiled in-order pair expansion over
    * the array — no self-join, no exchange — and the order total become
    * count(1) over the checkpoint instead of a two-exchange
    * count(DISTINCT l_orderkey) over the flat rows. 3 fact-sized
    * exchanges + SMJ + distinct-count expand → 1 fact-sized exchange.
    * NULL note: collect_set drops NULL brands where the old DISTINCT
    * kept them; p_brand is non-nullable in the schema (and TPC-H), and
    * the oracle's inner join sees the identical domain, so results are
    * unchanged (282/282 parity re-proven on the changed tree). */
  private def orderBrands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"p_brand")).as("bs"))
      .select($"bs")
      .localCheckpoint(true)
  }

  /** In-order brand pairs per basket, counted — `bs` is a sorted set, so
    * pairing each element with every LATER element yields exactly the
    * `brand_a < brand_b` pairs the old self-join produced, without any
    * join or exchange (both generators are codegen'd; the per-basket
    * fan-out is bounded by the brand count). */
  private[graft] def brandPairCounts(ob: DataFrame): DataFrame = {
    val spark = ob.sparkSession
    import spark.implicits._
    ob.select(posexplode($"bs").as(Seq("i", "brand_a")), $"bs")
      .select($"brand_a",
        explode(slice($"bs", $"i" + lit(2), size($"bs"))).as("brand_b"))
      .groupBy($"brand_a", $"brand_b")
      .agg(count(lit(1)).as("c_ab"))
  }

  /** Market-basket affinity: lift = P(a,b) / (P(a)·P(b)) for every brand
    * pair over the order baskets — association mining at the brand grain,
    * where the pair space is dimension-bounded (≤ brands², never
    * rows²).
    *
    * Determinism: lift = (c_ab·N) / (c_a·c_b) is ONE double division of
    * two exact BIGINT products (counts ≤ |orders|, brands ≤ 25 → products
    * < 2^52), rounded to 6 dp. Scale shape: brands ride a broadcast dim
    * join onto the fact table; the basket self-join keys on l_orderkey
    * with per-order fan-out bounded by the brand count; per-brand counts
    * and the 1-row order total are broadcast back onto the
    * dimension-bounded pair relation. */
  def qPartAffinity(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ob = orderBrands(spark, sfDir)
    val pairCounts = brandPairCounts(ob)
    val brandCounts = ob.select(explode($"bs").as("p_brand"))
      .groupBy($"p_brand").agg(count(lit(1)).as("c"))
    // one basket row per order, so the order total is a plain count —
    // the old spelling's two-exchange count(DISTINCT l_orderkey) expand
    val total = ob.agg(count(lit(1)).as("n_orders"))
    pairCounts
      .join(broadcast(brandCounts)
        .withColumnsRenamed(Map("p_brand" -> "brand_a", "c" -> "c_a")), "brand_a")
      .join(broadcast(brandCounts)
        .withColumnsRenamed(Map("p_brand" -> "brand_b", "c" -> "c_b")), "brand_b")
      .crossJoin(broadcast(total))
      .select($"brand_a", $"brand_b", $"c_ab",
        round(($"c_ab" * $"n_orders").cast("double")
          / ($"c_a" * $"c_b").cast("double"), 6).as("lift"))
      .orderBy($"lift".desc, $"brand_a", $"brand_b")
  }

  val partAffinitySql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |pc AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS c_ab
      |  FROM ob a JOIN ob b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2),
      |bc AS (SELECT p_brand, count(*) AS c FROM ob GROUP BY 1),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob)
      |SELECT brand_a, brand_b, c_ab,
      |  round(CAST(c_ab * n_orders AS DOUBLE) / CAST(x.c * y.c AS DOUBLE), 6) AS lift
      |FROM pc JOIN bc x ON brand_a = x.p_brand
      |        JOIN bc y ON brand_b = y.p_brand, n
      |ORDER BY lift DESC, brand_a, brand_b""".stripMargin

  /** Revenue concentration: the Gini coefficient of per-supplier revenue —
    * the one-number inequality/skew summary behind "do a few suppliers
    * own the volume".
    *
    * Determinism: G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) with x ascending
    * cents and i the 1-based rank. The rank-weighted sum Σ(i·xᵢ) and the
    * (n+1)·Σx / n·Σx assembly are widened to DECIMAL(38,0)/HUGEINT —
    * Σ(i·xᵢ) ≤ n·Σx grows as suppliers × corpus cents and passes 2^63
    * around 1e6 suppliers at ~$10¹¹ total (Spark's long sum wraps
    * silently, DuckDB errors on the BIGINT product → divergence either
    * way); numerator and denominator are each exact before their single
    * double cast, so the division is bit-identical. Ranking uses the two-phase
    * sorted `zipWithIndex` (the [[graft.ops.Text.qWordIdEncode]]
    * discipline) — never an unpartitioned corpus window. */
  def qRevenueGini(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long"))
        .as("cents"))
    val ranked = spark.createDataFrame(
      rev.orderBy($"cents", $"l_suppkey").rdd.zipWithIndex.map {
        case (r, i) => (i + 1, r.getLong(1))
      }).toDF("rank", "cents")
    ranked.agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        sum($"rank".cast("decimal(38,0)") * $"cents").as("s1"))
      .select($"n".as("n_suppliers"), $"s".as("total_cents"),
        round((lit(2L) * $"s1" - ($"n" + 1).cast("decimal(38,0)") * $"s")
          .cast("double")
          / ($"n".cast("decimal(38,0)") * $"s").cast("double"), 6).as("gini"))
  }

  val revenueGiniSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT cents,
      |    row_number() OVER (ORDER BY cents, l_suppkey) AS rank
      |  FROM rev),
      |a AS (
      |  SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
      |    sum(CAST(rank AS HUGEINT) * cents) AS s1
      |  FROM r)
      |SELECT n AS n_suppliers, s AS total_cents,
      |  round(CAST(2 * s1 - CAST(n + 1 AS HUGEINT) * s AS DOUBLE)
      |    / CAST(CAST(n AS HUGEINT) * s AS DOUBLE), 6) AS gini
      |FROM a""".stripMargin

  /** Association significance: the χ² statistic for each brand pair's
    * 2×2 basket contingency table — [[qPartAffinity]]'s lift says how
    * strong, χ² says how SURE (a lift of 2 on 5 baskets is noise; on
    * 5 000 it's signal). Top-20 pairs by χ².
    *
    * Determinism: a/b/c/d and every marginal are exact BIGINTs; the
    * statistic N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is computed in the SAME
    * left-associated double op order on both engines (inputs ≤ 2^45 are
    * exactly representable, so identical input bits → identical IEEE
    * results), and the top-20 cut orders by the statistic with a pair
    * tie-break. */
  def qPairChisq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ob = orderBrands(spark, sfDir)
    val pairCounts = brandPairCounts(ob).withColumnRenamed("c_ab", "ca")
    val brandCounts = ob.select(explode($"bs").as("p_brand"))
      .groupBy($"p_brand").agg(count(lit(1)).as("c"))
    // one basket row per order — see qPartAffinity's total note
    val total = ob.agg(count(lit(1)).as("n"))
    pairCounts
      .join(broadcast(brandCounts)
        .withColumnsRenamed(Map("p_brand" -> "brand_a", "c" -> "c_a")), "brand_a")
      .join(broadcast(brandCounts)
        .withColumnsRenamed(Map("p_brand" -> "brand_b", "c" -> "c_b")), "brand_b")
      .crossJoin(broadcast(total))
      .select($"brand_a", $"brand_b", $"ca".as("c_ab"),
        ($"ca").as("a"), ($"c_a" - $"ca").as("b"),
        ($"c_b" - $"ca").as("cc"),
        ($"n" - $"c_a" - $"c_b" + $"ca").as("d"), $"n")
      .select($"brand_a", $"brand_b", $"c_ab",
        round($"n".cast("double")
          * ($"a" * $"d" - $"b" * $"cc").cast("double")
          * ($"a" * $"d" - $"b" * $"cc").cast("double")
          / (($"a" + $"b").cast("double") * ($"cc" + $"d").cast("double")
            * ($"a" + $"cc").cast("double") * ($"b" + $"d").cast("double")),
          4).as("chisq"))
      .orderBy($"chisq".desc, $"brand_a", $"brand_b")
      .limit(20)
  }

  val pairChisqSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey, p_brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |pc AS (
      |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS ca
      |  FROM ob a JOIN ob b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      |  GROUP BY 1, 2),
      |bc AS (SELECT p_brand, count(*) AS c FROM ob GROUP BY 1),
      |nn AS (SELECT count(DISTINCT l_orderkey) AS n FROM ob),
      |t AS (
      |  SELECT brand_a, brand_b, ca AS c_ab,
      |    ca AS a, x.c - ca AS b, y.c - ca AS cc,
      |    n - x.c - y.c + ca AS d, n
      |  FROM pc JOIN bc x ON brand_a = x.p_brand
      |          JOIN bc y ON brand_b = y.p_brand, nn)
      |SELECT brand_a, brand_b, c_ab,
      |  round(CAST(n AS DOUBLE)
      |    * CAST(a * d - b * cc AS DOUBLE)
      |    * CAST(a * d - b * cc AS DOUBLE)
      |    / (CAST(a + b AS DOUBLE) * CAST(cc + d AS DOUBLE)
      |      * CAST(a + cc AS DOUBLE) * CAST(b + d AS DOUBLE)), 4) AS chisq
      |FROM t
      |ORDER BY chisq DESC, brand_a, brand_b LIMIT 20""".stripMargin

  /** Benford's-law audit of order prices: observed first-significant-digit
    * shares vs the Benford expectation log₁₀(1+1/d) — the classic
    * fabricated-numbers / data-quality alarm (and on THIS corpus it fires
    * loudly: synthetic uniform prices are nothing like Benford, which is
    * exactly what the audit is for).
    *
    * Determinism: the first digit comes from floor(cents/10^⌊log₁₀ cents⌋)
    * — one libm log10 on identical integer-cent bits; shares are integer
    * ppm; the expectation is one more libm log10 on identical constants.
    * One aggregation, 9 output rows. */
  def qBenfordPrices(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wAll = Window.partitionBy(lit(1))
    Tables.orders(spark, sfDir)
      .select(($"o_totalprice".cast("decimal(12,2)") * 100).cast("long")
        .as("cents"))
      .where($"cents" > 0)
      .select(floor($"cents" / pow(lit(10.0), floor(log10($"cents"))))
        .cast("int").as("first_digit"))
      .groupBy($"first_digit").agg(count(lit(1)).as("n"))
      .select($"first_digit", $"n",
        expr("n * 1000000 DIV (CAST(sum(n) OVER (PARTITION BY 1) AS BIGINT))")
          .as("share_ppm"),
        round(log10(lit(1.0) + lit(1.0) / $"first_digit".cast("double")) * 1e6)
          .cast("long").as("benford_ppm"))
      .withColumn("dev_ppm", $"share_ppm" - $"benford_ppm")
      .orderBy($"first_digit")
  }

  val benfordPricesSql: String =
    """WITH c AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |    AS cents
      |  FROM orders WHERE o_totalprice > 0),
      |d AS (
      |  SELECT CAST(floor(cents / pow(10, floor(log10(cents)))) AS INTEGER)
      |    AS first_digit
      |  FROM c),
      |g AS (SELECT first_digit, count(*) AS n FROM d GROUP BY 1),
      |s AS (
      |  SELECT first_digit, n,
      |    n * 1000000 // CAST(sum(n) OVER () AS BIGINT) AS share_ppm,
      |    CAST(round(log10(1.0 + 1.0 / CAST(first_digit AS DOUBLE)) * 1e6)
      |      AS BIGINT) AS benford_ppm
      |  FROM g)
      |SELECT first_digit, n, share_ppm, benford_ppm,
      |  share_ppm - benford_ppm AS dev_ppm
      |FROM s ORDER BY first_digit""".stripMargin

  /** Month-of-year revenue seasonality over the multi-year order history:
    * each calendar month's share of total revenue × 12 (1 000 000 ppm =
    * perfectly flat year) — the month-grain sibling of the events-side
    * day-of-week profile. `month()` agrees across engines (unlike
    * week-of-year origins); money stays exact cents; one aggregation,
    * 12 output rows with a constant-bounded total window. */
  def qMonthlySeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .select(month(to_date($"o_orderdate")).cast("long").as("month"),
        ($"o_totalprice".cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .groupBy($"month")
      .agg(count(lit(1)).as("n_orders"), sum($"cents").as("cents"))
      .withColumn("index_ppm",
        // double spelling, not cents*12e6 DIV total: the integer product
        // overflows 2^63 once monthly cents pass ~7.6e11; both operands
        // stay exactly representable doubles far beyond that
        round($"cents".cast("double")
          / sum($"cents").over(Window.partitionBy(lit(1))).cast("double")
          * 12000000).cast("long"))
      .orderBy($"month")
  }

  val monthlySeasonalitySql: String =
    """WITH m AS (
      |  SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS month,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |g AS (
      |  SELECT month, count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS cents
      |  FROM m GROUP BY 1)
      |SELECT month, n_orders, cents,
      |  CAST(round(CAST(cents AS DOUBLE)
      |    / CAST(CAST(sum(cents) OVER () AS BIGINT) AS DOUBLE)
      |    * 12000000) AS BIGINT) AS index_ppm
      |FROM g ORDER BY month""".stripMargin

  /** Column-pair profiling: Pearson correlation of quantity vs
    * whole-dollar price per return flag — the feature-correlation staple
    * of any dataset profile, spelled engine-exact: the five sums are
    * exact integers with the second moments widened to
    * DECIMAL(38,0)/HUGEINT (Σy² of ~10⁵-dollar prices passes 2^63 near
    * 1e9 rows per flag — Spark's long sum overflows where DuckDB's
    * HUGEINT stays exact, so the engines would diverge), then the r
    * formula runs entirely in doubles CAST from those identical integers
    * in the same op order on both engines, `+ 0.0`-normalized (the
    * columns are independent by design, so r sits near 0 and a tiny
    * negative rounds to -0.0 on DuckDB vs +0.0 on Spark). One
    * aggregation, 3 rows. */
  def qQtyPriceCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .select($"l_returnflag",
        $"l_quantity".cast("long").as("x"),
        // explicit floor: DuckDB ROUNDS on decimal→int casts, Spark
        // truncates — floor-then-cast agrees everywhere
        expr("CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))) AS BIGINT)")
          .as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        // operand-widened second moments: Σy² of ~1e5-dollar prices
        // passes 2^63 near 1e9 rows per flag — Spark's long sum wraps
        // silently where the oracle's HUGEINT stays exact
        sum($"x".cast("decimal(38,0)") * $"x").as("sxx"),
        sum($"y".cast("decimal(38,0)") * $"y").as("syy"),
        sum($"x".cast("decimal(38,0)") * $"y").as("sxy"))
      .select($"l_returnflag", $"n",
        // + 0.0: quantity and price are independent by design, so r sits
        // near 0 and a tiny negative rounds to -0.0 on DuckDB vs +0.0 on
        // Spark in the string-compared parity gate
        (round(($"n".cast("double") * $"sxy".cast("double")
          - $"sx".cast("double") * $"sy".cast("double"))
          / (sqrt($"n".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double"))
            * sqrt($"n".cast("double") * $"syy".cast("double")
              - $"sy".cast("double") * $"sy".cast("double"))), 6) + 0.0)
          .as("r"))
      .orderBy($"l_returnflag")
  }

  val qtyPriceCorrSql: String =
    """WITH t AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2))) AS BIGINT) AS y
      |  FROM lineitem),
      |s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy
      |  FROM t GROUP BY 1)
      |SELECT l_returnflag, n,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0 AS r
      |FROM s ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skyline" -> (qSkyline _),
    "q_qty_price_corr" -> (qQtyPriceCorr _),
    "q_monthly_seasonality" -> (qMonthlySeasonality _),
    "q_benford_prices" -> (qBenfordPrices _),
    "q_pair_chisq" -> (qPairChisq _),
    "q_revenue_gini" -> (qRevenueGini _),
    "q_part_affinity" -> (qPartAffinity _),
    "q_label_prop" -> (qLabelProp _),
    "q_kcore" -> (qKcore _),
    "q_khop_reach" -> (qKhopReach _),
    "q_shortest_path" -> (qShortestPath _),
    "q_triangle_count" -> (qTriangleCount _),
    "q_degree_distribution" -> (qDegreeDistribution _),
    "q_link_predict" -> (qLinkPredict _),
    "q_assortativity" -> (qAssortativity _),
    "q_hhi" -> (qHhi _),
    "q_mode" -> (qMode _),
    "q_pareto_share" -> (qParetoShare _),
    "q_pagerank" -> (qPagerank _),
    "q_skew_report" -> (qSkewReport _),
    "q_outlier_filter" -> (qOutlierFilter _),
    "q_winsorize" -> (qWinsorize _),
    "q_priority_waiting" -> (qPriorityWaiting _),
    "q_shipmode_priority" -> (qShipmodePriority _),
    "q_product_profit" -> (qProductProfit _),
    "q_min_cost_supplier" -> (qMinCostSupplier _),
    "q_important_parts" -> (qImportantParts _),
    "q_supplier_variety" -> (qSupplierVariety _),
    "q_excess_stock_suppliers" -> (qExcessStockSuppliers _),
    "q_pivot_revenue" -> (qPivotRevenue _),
    "q_volume_shipping" -> (qVolumeShipping _),
    "q_market_share" -> (qMarketShare _),
    "q_waiting_suppliers" -> (qWaitingSuppliers _),
    "q_quantiles" -> (qQuantiles _),
    "q_exists_subquery" -> (qExistsSubquery _),
    "q_string_agg" -> (qStringAgg _),
    "q_conditional_agg" -> (qConditionalAgg _),
    "q_shipping_priority" -> (qShippingPriority _),
    "q_local_supplier_volume" -> (qLocalSupplierVolume _),
    "q_discounted_revenue" -> (qDiscountedRevenue _),
    "q_forecast_revenue" -> (qForecastRevenue _),
    "q_returned_items" -> (qReturnedItems _),
    "q_cust_order_distribution" -> (qCustOrderDistribution _),
    "q_promo_revenue" -> (qPromoRevenue _),
    "q_top_supplier" -> (qTopSupplier _),
    "q_small_qty_revenue" -> (qSmallQtyRevenue _),
    "q_large_orders" -> (qLargeOrders _),
    "q_sales_opportunity" -> (qSalesOpportunity _))

  val oracle: Map[String, String] = Map(
    "q_skyline" -> skylineSql,
    "q_degree_distribution" -> degreeDistributionSql,
    "q_link_predict" -> linkPredictSql,
    "q_assortativity" -> assortativitySql,
    "q_hhi" -> hhiSql,
    "q_mode" -> modeSql,
    "q_pareto_share" -> paretoShareSql,
    "q_pagerank" -> pagerankSql,
    "q_triangle_count" -> triangleCountSql,
    "q_label_prop" -> labelPropSql,
    "q_kcore" -> kcoreSql,
    "q_khop_reach" -> khopReachSql,
    "q_shortest_path" -> shortestPathSql,
    "q_part_affinity" -> partAffinitySql,
    "q_revenue_gini" -> revenueGiniSql,
    "q_pair_chisq" -> pairChisqSql,
    "q_benford_prices" -> benfordPricesSql,
    "q_monthly_seasonality" -> monthlySeasonalitySql,
    "q_qty_price_corr" -> qtyPriceCorrSql,
    "q_skew_report" -> skewReportSql,
    "q_outlier_filter" -> outlierFilterSql,
    "q_winsorize" -> winsorizeSql,
    "q_priority_waiting" -> priorityWaitingSql,
    "q_shipmode_priority" -> shipmodePrioritySql,
    "q_product_profit" -> productProfitSql,
    "q_min_cost_supplier" -> minCostSupplierSql,
    "q_important_parts" -> importantPartsSql,
    "q_supplier_variety" -> supplierVarietySql,
    "q_excess_stock_suppliers" -> excessStockSuppliersSql,
    "q_pivot_revenue" -> pivotRevenueSql,
    "q_volume_shipping" -> volumeShippingSql,
    "q_market_share" -> marketShareSql,
    "q_waiting_suppliers" -> waitingSuppliersSql,
    "q_quantiles" -> quantilesSql,
    "q_exists_subquery" -> existsSubquerySql,
    "q_string_agg" -> stringAggSql,
    "q_conditional_agg" -> conditionalAggSql,
    "q_shipping_priority" -> shippingPrioritySql,
    "q_local_supplier_volume" -> localSupplierVolumeSql,
    "q_discounted_revenue" -> discountedRevenueSql,
    "q_forecast_revenue" -> forecastRevenueSql,
    "q_returned_items" -> returnedItemsSql,
    "q_cust_order_distribution" -> custOrderDistributionSql,
    "q_promo_revenue" -> promoRevenueSql,
    "q_top_supplier" -> topSupplierSql,
    "q_small_qty_revenue" -> smallQtyRevenueSql,
    "q_large_orders" -> largeOrdersSql,
    "q_sales_opportunity" -> salesOpportunitySql)
}
