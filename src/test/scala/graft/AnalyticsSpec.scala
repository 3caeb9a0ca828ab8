package graft

import org.apache.spark.sql.functions._
import graft.ops.Analytics

/** Analytic extensions: pivot, quantiles, EXISTS subqueries, string agg,
  * conditional agg. */
class AnalyticsSpec extends GraftSuite {

  test("q_pivot_revenue cells reconcile with the unpivoted totals") {
    val pivoted = Analytics.qPivotRevenue(spark, sf)
    val total = pivoted.agg(sum(col("rev_f") + col("rev_o"))).head.getDouble(0)
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double"), 4))
      .head.getDouble(0)
    assert(math.abs(total - direct) < 0.1,
      s"pivot must partition total revenue: $total vs $direct")
  }

  test("q_quantiles are ordered and bracketed by min/max") {
    val q = Analytics.qQuantiles(spark, sf)
    assert(q.where(col("median_price") > col("p90_price")).count() == 0)
    val bounds = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx")).head()
    val rows = q.collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("median_price") >= bounds.getAs[Double]("mn"))
      assert(r.getAs[Double]("p90_price") <= bounds.getAs[Double]("mx"))
    }
  }

  test("q_exists_subquery bulk counts never exceed order counts") {
    val r = Analytics.qExistsSubquery(spark, sf)
    assert(r.where(col("n_with_bulk") > col("n_orders")).count() == 0)
    assert(r.agg(sum("n_orders")).head.getLong(0) == 1500)
  }

  test("q_string_agg name lists agree with their counts") {
    val r = Analytics.qStringAgg(spark, sf).collect()
    r.foreach { row =>
      val names = row.getAs[String]("names").split(",")
      assert(names.length == row.getAs[Long]("n"))
      assert(names.toSeq == names.toSeq.sorted, "listagg must be ordered")
    }
  }

  test("q_conditional_agg filtered counts partition correctly") {
    val r = Analytics.qConditionalAgg(spark, sf)
    assert(r.where(col("n_big") > col("n_orders")).count() == 0)
    assert(r.where(col("n_urgent") > col("n_orders")).count() == 0)
    assert(r.where(col("n_big") > 0 && col("big_revenue") <= 0).count() == 0)
  }

  test("q_forecast_revenue matches an independently-computed double sum") {
    import spark.implicits._
    val r = Analytics.qForecastRevenue(spark, sf).head()
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01" &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
    assert(r.getAs[Long]("n_lines") == li.count())
    val approx = li.agg(sum($"l_extendedprice" * $"l_discount")).head.getDouble(0)
    assert(math.abs(r.getAs[Double]("revenue") - approx) < 1.0,
      s"decimal vs double revenue: ${r.getAs[Double]("revenue")} vs $approx")
  }

  test("q_cust_order_distribution partitions customers and orders exactly") {
    import spark.implicits._
    val r = Analytics.qCustOrderDistribution(spark, sf)
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    val nUrgent = spark.read.parquet(s"$sf/orders.parquet")
      .where($"o_orderpriority" === "1-URGENT").count()
    assert(r.agg(sum("custdist")).head.getLong(0) == nCust,
      "every customer lands in exactly one count bucket")
    assert(r.agg(sum($"c_count" * $"custdist")).head.getLong(0) == nUrgent,
      "count-weighted buckets must reproduce the urgent-order total")
  }

  test("q_promo_revenue share is a percentage of the month's revenue") {
    val r = Analytics.qPromoRevenue(spark, sf).head()
    val share = r.getAs[Double]("promo_share")
    assert(share >= 0.0 && share <= 100.0, s"share=$share")
    assert(r.getAs[Long]("n_lines") > 0)
  }

  test("q_top_supplier returns exactly the argmax of per-supplier revenue") {
    import spark.implicits._
    val r = rows(Analytics.qTopSupplier(spark, sf))
    assert(r.nonEmpty)
    val perSupp = spark.read.parquet(s"$sf/lineitem.parquet")
      .where($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1996-04-01")
      .groupBy($"l_suppkey")
      .agg(sum($"l_extendedprice".cast("decimal(12,2)") *
        (lit(1).cast("decimal(12,2)") - $"l_discount".cast("decimal(12,2)"))).as("rev"))
    val mx = perSupp.agg(max($"rev")).head.getDecimal(0)
    val winners = perSupp.where($"rev" === mx).select("l_suppkey")
      .collect().map(_.getLong(0)).toSet
    assert(r.map(_.getAs[Long]("s_suppkey")).toSet == winners)
  }

  test("q_small_qty_revenue equals the decorrelated aggregate-join spelling") {
    import spark.implicits._
    val r = Analytics.qSmallQtyRevenue(spark, sf).head()
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val partAvg = li.groupBy($"l_partkey".as("pk")).agg(avg($"l_quantity").as("avg_qty"))
    val manual = li
      .join(spark.read.parquet(s"$sf/part.parquet").where($"p_brand" === "Brand#3"),
        $"l_partkey" === $"p_partkey")
      .join(partAvg, $"l_partkey" === $"pk")
      .where($"l_quantity" < lit(0.2) * $"avg_qty")
    assert(r.getAs[Long]("n_lines") == manual.count(),
      "correlated subquery must match the manual decorrelation")
  }

  test("q_large_orders rows all clear the quantity threshold, sorted by value") {
    val r = rows(Analytics.qLargeOrders(spark, sf))
    assert(r.nonEmpty && r.size <= 20)
    r.foreach(x => assert(x.getAs[Double]("sum_qty") > 250))
    val prices = r.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q_sales_opportunity counts dormant above-average-balance customers") {
    import spark.implicits._
    val r = Analytics.qSalesOpportunity(spark, sf)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val thr = {
      val row = cust.where($"c_acctbal" > 0)
        .agg(sum($"c_acctbal".cast("decimal(12,2)")).as("s"), count(lit(1)).as("n")).head()
      BigDecimal(row.getDecimal(0)).toDouble / row.getLong(1)
    }
    val expected = cust
      .where($"c_acctbal" > math.rint(thr * 100) / 100)
      .join(spark.read.parquet(s"$sf/orders.parquet")
          .where($"o_orderdate" >= "1999-01-01").select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .count()
    assert(r.agg(sum("numcust")).head.getLong(0) == expected)
    rows(r).foreach(x => assert(x.getAs[Long]("numcust") > 0))
  }

  test("q_skew_report shares are a sane distribution summary") {
    import spark.implicits._
    val r = rows(Analytics.qSkewReport(spark, sf))
    assert(r.size <= 20 && r.nonEmpty)
    val cnts = r.map(_.getAs[Long]("cnt"))
    assert(cnts == cnts.sortBy(-_), "hottest keys first")
    r.foreach { row =>
      assert(row.getAs[Double]("share") > 0 && row.getAs[Double]("share") < 1)
      assert(row.getAs[Double]("skew_factor") >= 1.0 - 1e-9,
        "a top-20 key is at least as hot as uniform")
    }
  }

  test("q_outlier_filter outliers really sit beyond 2 MADs of their median") {
    import spark.implicits._
    val r = rows(Analytics.qOutlierFilter(spark, sf))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    r.foreach { row =>
      val flag = row.getAs[String]("l_returnflag")
      val prices = li.where($"l_returnflag" === flag)
        .select(round($"l_extendedprice" * 100))
        .collect().map(_.getDouble(0)).sorted
      def med(xs: Array[Double]): Double =
        if (xs.length % 2 == 1) xs(xs.length / 2)
        else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2
      val m = med(prices)
      val madV = med(prices.map(p => math.abs(p - m)).sorted)
      val expected = prices.count(p => math.abs(p - m) > 2 * madV)
      assert(row.getAs[Long]("n_outliers") == expected,
        s"$flag: ${row.getAs[Long]("n_outliers")} vs independent $expected")
    }
    // both dispatch arms produce identical rows: the kill switch forces
    // the distributed rank-selection arm the default (driver) arm replaced
    val dist = forcedDistributed(rows(Analytics.qOutlierFilter(spark, sf)))
    assert(dist == r, s"distributed arm $dist != driver arm $r")
  }

  test("outlierOfCounts arms agree on adversarial value grids") {
    import spark.implicits._
    // tie/parity layouts the fixture can't produce: a lone value (MAD 0
    // means any distinct value is an outlier... but there is none — the
    // flag must be ABSENT from both arms), even counts with both middle
    // ranks inside one group, a flag with zero outliers next to one
    // with many, negative values
    val cases: Seq[Seq[(String, Double, Long)]] = Seq(
      Seq(("A", 1.0, 3L), ("A", 2.0, 1L), ("A", 100.0, 1L)),
      Seq(("A", 5.0, 4L)),
      Seq(("A", 1.0, 1L), ("A", 2.0, 1L), ("A", 3.0, 1L), ("A", 4.0, 1L)),
      Seq(("A", -10.0, 2L), ("A", 0.0, 2L), ("B", 7.0, 1L), ("B", 1000.0, 3L)),
      Seq(("A", 0.0, 1L), ("A", 1.0, 1L), ("A", 2.0, 1L), ("A", 50.0, 2L)))
    cases.foreach { vs =>
      val a = rows(Analytics.outlierOfCounts(vs.toDF("flag", "price_c", "__c")))
      val b = forcedDistributed(
        rows(Analytics.outlierOfCounts(vs.toDF("flag", "price_c", "__c"))))
      assert(a == b, s"arms disagree on $vs: $a vs $b")
    }
  }

  test("q_shipmode_priority high+low partitions the window's joined lines") {
    import spark.implicits._
    val r = Analytics.qShipmodePriority(spark, sf)
    val total = r.agg(sum($"high_count" + $"low_count")).head.getLong(0)
    val lines = spark.read.parquet(s"$sf/lineitem.parquet")
      .where($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1997-01-01")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        $"l_orderkey" === $"o_orderkey")
      .count()
    assert(total == lines, s"case split must partition: $total vs $lines")
  }

  test("q_important_parts rows all clear the group-total threshold") {
    import spark.implicits._
    val r = rows(Analytics.qImportantParts(spark, sf))
    assert(r.nonEmpty)
    // values sorted descending, every value positive
    val vals = r.map(_.getAs[Double]("value"))
    assert(vals == vals.sortBy(-_), "must be value-descending")
    assert(vals.forall(_ > 0))
  }

  test("q_min_cost_supplier rows really are their part's regional minimum") {
    import spark.implicits._
    val r = rows(Analytics.qMinCostSupplier(spark, sf))
    assert(r.nonEmpty && r.size <= 10) // sf0.001 yields fewer than the cap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val eu = spark.read.parquet(s"$sf/supplier.parquet")
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        $"s_nationkey" === $"n_nationkey")
      .join(spark.read.parquet(s"$sf/region.parquet")
          .where($"r_name" === "EUROPE"),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey")
    val minByPart = li.join(eu, $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey").agg(min($"l_extendedprice").as("mn"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.foreach { row =>
      val pk = row.getAs[Long]("p_partkey")
      val cost = row.getAs[Double]("cost")
      assert(math.abs(cost - math.rint(minByPart(pk) * 100) / 100) < 1e-9,
        s"part $pk cost $cost != regional min ${minByPart(pk)}")
    }
  }

  test("q_winsorize clamps into the band and clips ~10% by construction") {
    val r = rows(Analytics.qWinsorize(spark, sf))
    assert(r.size == 3)
    r.foreach { row =>
      val p05 = row.getAs[Double]("p05")
      val p95 = row.getAs[Double]("p95")
      val m = row.getAs[Double]("mean_winsorized")
      assert(p05 < p95)
      assert(m >= p05 && m <= p95, s"winsorized mean $m outside [$p05, $p95]")
      // p05/p95 clamping clips at most ~10% of rows (interpolation can
      // leave it slightly under, ties slightly over)
      val frac = row.getAs[Long]("n_clipped").toDouble / row.getAs[Long]("n")
      assert(frac > 0.05 && frac < 0.15, s"clip fraction $frac")
    }
    // both dispatch arms produce identical rows: the kill switch forces
    // the distributed quantile/clamp arm the driver replay replaced
    val dist = forcedDistributed(rows(Analytics.qWinsorize(spark, sf)))
    assert(dist == r, s"winsorize arms disagree: $dist vs $r")
  }

  test("q_pagerank: one row per supplier, ranks bounded, mass conserved") {
    import spark.implicits._
    val r = Analytics.qPagerank(spark, sf)
    val nSupp = spark.read.parquet(s"$sf/supplier.parquet").count()
    assert(r.count() == nSupp, "every supplier node is ranked")
    // every rank >= the base 0.15; no rank can exceed total mass
    assert(r.where($"rank_ppm" < 150000L).count() == 0)
    // total rank stays within [0.15 N, N] ppm-mass: integer floor only
    // loses mass, never creates it
    val total = r.agg(sum($"rank_ppm")).head.getLong(0)
    assert(total >= 150000L * nSupp && total <= 1000000L * nSupp,
      s"rank mass $total outside [0.15N, N] for N=$nSupp")
    // a connected co-purchase graph must rank someone above the base
    assert(r.agg(max($"rank_ppm")).head.getLong(0) > 150000L)
    // both dispatch arms produce identical ranks whatever the edge row
    // order, on a small graph with unequal degrees, isolated nodes (the
    // no-inbound-edges base case) and an endpoint outside the node table
    import org.apache.spark.sql.functions.col
    val nodes = spark.range(6).select(col("id").as("node"))
    val half = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 9L))
      .toDF("x", "y")
    val a = rows(Analytics.pagerankHalf(nodes, half).orderBy($"node"))
    val b = forcedDistributed(rows(
      Analytics.pagerankHalf(nodes, half.orderBy($"y".desc)).orderBy($"node")))
    assert(a == b, s"arms disagree: $a vs $b")
  }

  /** The reference for [[Analytics.pagerankHalf]]: its three synchronous
    * ppm-integer iterations replayed in plain Scala over the MIRRORED
    * (src, dst, od) edge list, od = src's distinct-neighbor count. A src
    * outside the node table contributes nothing, and a dst outside it
    * receives nothing; `r * 85 DIV (100 * od)` on positive longs is
    * Scala's truncating division. Returns (node, rank_ppm) by node. */
  private def pagerankReplay(nodes: Seq[Long],
      half: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val mirrored = half.flatMap { case (x, y) => Seq((x, y), (y, x)) }
    val od = mirrored.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val cs = mirrored.collect { case (src, dst) if r.contains(src) =>
        dst -> r(src) * 85L / (100L * od(src))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      r = nodes.map(n => n -> (150000L + cs.getOrElse(n, 0L))).toMap
    }
    nodes.sorted.map(n => n -> r(n))
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    rows(df.orderBy("node"))
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))

  test("pagerankHalf: both arms match a scalar mirrored-edge replay") {
    import spark.implicits._
    // the round-21 half-edge dispatch: driver arm (local degree pass +
    // both-direction application) and distributed arm (mirror + outdeg
    // window over the checkpointed half set) must reproduce the replay
    // over the mirrored relation exactly — same integer algebra, so
    // bit-identical ranks, including a half edge touching a node outside
    // the node table (only the in-table endpoint receives contributions)
    val nodes = spark.range(5).select(col("id").as("node"))
    val literal = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 7L))
    val half = literal.toDF("x", "y") // 7 outside nodes: its rank is dropped, its degree still divides
    val expected = pagerankReplay(0L until 5L, literal)
    val viaDriver = ranksOf(Analytics.pagerankHalf(nodes, half))
    val viaDist = forcedDistributed(
      ranksOf(Analytics.pagerankHalf(nodes, half.orderBy($"y"))))
    assert(viaDriver == expected, s"driver arm vs replay: $viaDriver vs $expected")
    assert(viaDist == expected, s"distributed arm vs replay: $viaDist vs $expected")
    // production fixture: qPagerank's graph through the default dispatch
    val prodNodes = graft.tables.Tables.supplier(spark, sf)
      .select($"s_suppkey".cast("long").as("node"))
    val prodHalf = Analytics.qPagerankHalfEdges(spark, sf)
    val prodExpected = pagerankReplay(prodNodes.as[Long].collect().toSeq,
      prodHalf.select($"x", $"y").as[(Long, Long)].collect().toSeq)
    assert(ranksOf(Analytics.pagerankHalf(prodNodes, prodHalf)) == prodExpected,
      "production half-edge ranks drifted from the scalar replay")
  }

  test("graph dispatch arms agree on adversarial edge shapes") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // every graph size dispatch — the triangle closure, the shortest-path
    // BFS, PageRank and Dedup's connected components — runs as is and
    // under the kill switch on four undirected (x < y) edge sets; the rows
    // must be equal, and every non-empty shape must take the driver arm
    // by default (an empty edge set routes distributed either way)
    def edges(ps: Seq[(Long, Long)]) = ps.toDF("x", "y")
    val shapes = Seq(
      "empty" -> edges(Seq.empty),
      "one edge" -> edges(Seq((3L, 7L))),
      "star" -> edges((1L to 50L).map(0L -> _)),
      "two components" -> edges(Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L),
        (10L, 11L), (11L, 12L), (10L, 12L))))
    val nodes = spark.range(60).select($"id".as("node"))
    def plan(df: DataFrame) = df.queryExecution.optimizedPlan.toString
    // the triangle closure reads the checkpointed pair set on both arms:
    // its driver arm is the closure's one extra broadcast hint. The other
    // driver arms build their result on the driver, so only their
    // distributed arms read the checkpoint (a LogicalRDD)
    def hints(df: DataFrame) = plan(df).sliding(9).count(_ == "broadcast")
    def checkpointOnlyForced(d: DataFrame, f: DataFrame) =
      !plan(d).contains("LogicalRDD") && plan(f).contains("LogicalRDD")
    val sites = Seq[(String, DataFrame => DataFrame,
        (DataFrame, DataFrame) => Boolean)](
      ("trianglesOfPairs", Analytics.trianglesOfPairs(_),
        (d, f) => hints(d) == hints(f) + 1),
      ("shortestPathOfPairs", Analytics.shortestPathOfPairs(_),
        checkpointOnlyForced),
      ("pagerankHalf", Analytics.pagerankHalf(nodes, _), checkpointOnlyForced),
      ("connectedComponents",
        graft.ml.Dedup.connectedComponents(_, "x", "y"), checkpointOnlyForced))
    for ((shape, e) <- shapes; (site, f, armsDiffer) <- sites) {
      val byDefault = f(e)
      val forced = forcedDistributed(f(e))
      assert(armsDiffer(byDefault, forced) == (shape != "empty"),
        s"$site on the $shape edge set: wrong arm taken by default")
      val (d, x) = (rows(byDefault).map(_.toString).sorted,
        rows(forced).map(_.toString).sorted)
      assert(d == x, s"$site arms disagree on the $shape edge set: $d vs $x")
    }
  }

  test("brandPairCounts pins the posexplode/slice pair expansion on literal baskets") {
    import spark.implicits._
    // advisor (round 20): the in-order pair expansion relies on
    // slice(bs, i+2, size(bs)) returning an EMPTY array at the last
    // element (start past length) and on bs arriving sorted+deduped —
    // pin the off-by-one on literal baskets independent of the fixture:
    // a 3-set (all C(3,2) in-order pairs), a singleton and an empty set
    // (no pairs), and a repeated pair across baskets (counted)
    val ob = Seq(
      Seq("A", "B", "C"), Seq("X"), Seq.empty[String], Seq("A", "B")
    ).toDF("bs")
    val got = Analytics.brandPairCounts(ob)
      .orderBy($"brand_a", $"brand_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("A", "B", 2L), ("A", "C", 1L), ("B", "C", 1L)))
  }

  test("q_triangle_count total equals the naive id-ordered 3-join count") {
    import spark.implicits._
    val got = Analytics.qTriangleCount(spark, sf)
    val total = got.agg(sum($"triangles")).head.getLong(0)
    // naive reference: same thresholded pair relation, closed by three
    // id-ordered edges x<y<z — no degree orientation involved, so an
    // orientation/closure bug in the query cannot also hide here
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey").distinct()
    val p = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
      .groupBy($"a.l_suppkey".as("x"), $"b.l_suppkey".as("y"))
      .agg(count(lit(1)).as("c")).where($"c" >= 6).select($"x", $"y")
    val naive = p.as("e1")
      .join(p.as("e2"), $"e1.y" === $"e2.x")
      .join(p.as("e3"), $"e3.x" === $"e1.x" && $"e3.y" === $"e2.y")
      .count()
    assert(total == naive, s"oriented count $total != naive $naive")
    assert(got.where($"triangles" <= 0).count() == 0)
  }

  test("ranksOfCounts: bucketed refinement equals the one-window spelling") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    val vc = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_returnflag".as("k"), round($"l_extendedprice" * 100).as("v"))
      .groupBy($"k", $"v").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val ranks = Seq[(String, Column => Column)](
      "lo" -> (n => ((n + 1) / 2).cast("long")),
      "hi" -> (n => (n / 2).cast("long") + 1),
      "p90" -> (n => floor((n - 1).cast("double") * 0.9).cast("long") + 1),
      "last" -> (n => n),
      "past_end" -> (n => n + 1)) // NULL on both paths
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lo", "hi", "p90", "last", "past_end", "__n")
        .collect().map(_.toString).sorted.toSeq
    val viaWindow = canon(Analytics.ranksOfCounts(vc, "k", "v", ranks))
    val viaBuckets = canon(Analytics.ranksOfCountsBucketed(vc, "k", "v", ranks))
    assert(viaWindow == viaBuckets,
      "the two rank-selection plans must pick identical values")
    assert(viaWindow.nonEmpty && viaWindow.head.contains("null"),
      "rank n+1 must be NULL (coalesce contract)")
  }

  test("q_khop_reach: reach dominates degree and matches a naive BFS-2") {
    import spark.implicits._
    val r = Analytics.qKhopReach(spark, sf)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.nonEmpty, "the thresholded graph has edges at this sf")
    // naive reference: driver-side adjacency + 2-step BFS per node
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey").distinct()
    val edges = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
      .groupBy($"a.l_suppkey".as("x"), $"b.l_suppkey".as("y"))
      .agg(count(lit(1)).as("c")).where($"c" >= 6)
      .select($"x", $"y").collect().map(x => (x.getLong(0), x.getLong(1)))
    val adj = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val naive = adj.map { case (u, n1) =>
      u -> ((n1 ++ n1.flatMap(adj(_))) - u).size.toLong
    }
    assert(r == naive, "distributed 2-hop reach must equal driver BFS-2")
    // reach can never be below direct degree
    r.foreach { case (u, k) => assert(k >= adj(u).size.toLong) }
  }

  test("q_label_prop: total cover, labels are node ids, communities form") {
    import spark.implicits._
    val r = Analytics.qLabelProp(spark, sf)
    val nodes = spark.read.parquet(s"$sf/supplier.parquet")
      .select($"s_suppkey".as("community"))
    assert(r.count() == nodes.count(), "every supplier gets a label")
    // every community label is an existing node id
    assert(r.join(nodes, Seq("community"), "left_anti").count() == 0)
    // the thresholded graph has edges at this sf — propagation must have
    // merged some nodes into shared communities
    val distinctCommunities = r.select($"community").distinct().count()
    assert(distinctCommunities < nodes.count(),
      "at least one multi-node community must form")
    // both dispatch arms produce identical labels: the kill switch forces
    // the distributed broadcast/window arm the driver loop replaced
    val dist = forcedDistributed(rows(Analytics.qLabelProp(spark, sf)))
    assert(dist == rows(r), "label-prop arms disagree")
  }

  test("kcore arms agree: the distributed peel equals the driver peel") {
    val a = rows(Analytics.qKcore(spark, sf))
    val b = forcedDistributed(rows(Analytics.qKcore(spark, sf)))
    assert(a == b, s"kcore arms disagree: ${a.take(5)} vs ${b.take(5)}")
  }

  test("q_revenue_gini: bounded in [0, 1) and matches a direct computation") {
    import spark.implicits._
    val r = Analytics.qRevenueGini(spark, sf).head()
    val g = r.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0, s"gini $g out of range")
    // direct recomputation on the driver from sorted cents
    val cents = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long"))
        .as("cents"), min($"l_suppkey"))
      .orderBy($"cents", $"l_suppkey")
      .select($"cents").as[Long].collect()
    val n = cents.length.toLong
    val s = cents.sum
    val s1 = cents.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
    val expected = (2.0 * s1 - (n + 1) * s) / (n.toDouble * s)
    assert(math.abs(g - expected) < 1e-6, s"gini $g != direct $expected")
    assert(r.getAs[Long]("n_suppliers") == n)
  }

  test("q_qty_price_corr matches Spark's own corr() within rounding") {
    import spark.implicits._
    val r = Analytics.qQtyPriceCorr(spark, sf)
    assert(r.count() == 3)
    assert(r.where($"r" < -1.0 || $"r" > 1.0).count() == 0)
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_returnflag", $"l_quantity".cast("double").as("x"),
        floor($"l_extendedprice".cast("decimal(12,2)")).cast("double").as("y"))
      .groupBy($"l_returnflag").agg(corr($"x", $"y").as("expected"))
    val bad = r.join(direct, "l_returnflag")
      .where(abs($"r" - $"expected") > 1e-4).count()
    assert(bad == 0, "integer-sum r must agree with corr()")
  }

  test("q_monthly_seasonality: 12 months, ppm indexes average to flat") {
    import spark.implicits._
    val r = Analytics.qMonthlySeasonality(spark, sf).collect()
    assert(r.map(_.getAs[Long]("month")).sorted.toSeq == (1L to 12L))
    val orders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(r.map(_.getAs[Long]("n_orders")).sum == orders)
    val s = r.map(_.getAs[Long]("index_ppm")).sum
    assert(math.abs(s - 12000000L) <= 12, s"index ppm sum $s")
  }

  test("q_benford_prices: digits 1-9, shares partition the orders, law sums to 1") {
    import spark.implicits._
    val r = Analytics.qBenfordPrices(spark, sf).collect()
    assert(r.map(_.getAs[Int]("first_digit")).sorted.toSeq == (1 to 9))
    val orders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(r.map(_.getAs[Long]("n")).sum == orders)
    // Benford expectations themselves must sum to ~1e6 ppm
    val law = r.map(_.getAs[Long]("benford_ppm")).sum
    assert(math.abs(law - 1000000L) <= 9, s"Benford ppm sum $law")
    // share ppm sums to <= 1e6 with floor slack
    val share = r.map(_.getAs[Long]("share_ppm")).sum
    assert(share > 999900 && share <= 1000000)
  }

  test("q_pair_chisq: top-20 descending, non-negative, support-consistent") {
    import spark.implicits._
    val r = Analytics.qPairChisq(spark, sf).collect()
    assert(r.length <= 20 && r.nonEmpty)
    assert(r.forall(_.getAs[Double]("chisq") >= 0))
    val stats = r.map(_.getAs[Double]("chisq"))
    assert(stats.zip(stats.tail).forall { case (a, b) => a >= b },
      "rows must descend by significance")
    assert(r.forall(_.getAs[Long]("c_ab") > 0))
  }

  test("q_part_affinity: symmetric-support lift reconciles with raw counts") {
    import spark.implicits._
    val r = Analytics.qPartAffinity(spark, sf)
    assert(r.count() > 0)
    assert(r.where($"lift" <= 0).count() == 0)
    // spot-reconcile one pair against directly-computed basket counts
    val row = r.orderBy($"brand_a", $"brand_b").head()
    val (ba, bb) = (row.getAs[String]("brand_a"), row.getAs[String]("brand_b"))
    val ob = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/part.parquet"),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct()
    val cab = ob.where($"p_brand" === ba).select($"l_orderkey")
      .intersect(ob.where($"p_brand" === bb).select($"l_orderkey")).count()
    assert(row.getAs[Long]("c_ab") == cab,
      s"pair count for ($ba, $bb): got ${row.getAs[Long]("c_ab")}, expected $cab")
  }

  test("q_shortest_path matches a driver-side BFS truncated at 4 hops") {
    import spark.implicits._
    // force the DISTRIBUTED relaxation arm — the public query's
    // driver-BFS arm is the same algorithm as this test's reference, so
    // testing it against itself would be vacuous
    val r = forcedDistributed(Analytics.qShortestPath(spark, sf))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.nonEmpty, "the thresholded graph has edges at this sf")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_suppkey").distinct()
    val edges = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
      .groupBy($"a.l_suppkey".as("x"), $"b.l_suppkey".as("y"))
      .agg(count(lit(1)).as("c")).where($"c" >= 6)
      .select($"x", $"y").collect().map(x => (x.getLong(0), x.getLong(1)))
    val adj = edges.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val src = adj.keySet.min
    // driver BFS, frontier by frontier, horizon 4
    var dist = Map(src -> 0L)
    var frontier = Set(src)
    for (d <- 1L to 4L) {
      frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
      dist ++= frontier.iterator.map(_ -> d)
    }
    assert(r == dist, "distributed relaxation must equal driver BFS")
    assert(r(src) == 0L)
    // the two dispatch arms agree (public query takes the driver arm here)
    val pub = Analytics.qShortestPath(spark, sf)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(pub == r, "driver-BFS arm must equal the distributed arm")
    // every edge relaxes: |d(u) - d(v)| <= 1 when both ends are reached
    edges.foreach { case (x, y) =>
      (r.get(x), r.get(y)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) <= 1L, s"($x,$y)")
        case _ =>
      }
    }
  }

  test("q_skyline is exactly the undominated set (naive O(n^2) check)") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100), r.getInt(2)))
    def dominated(a: (Long, Long, Int)): Boolean = parts.exists { b =>
      b._1 != a._1 && b._2 <= a._2 && b._3 >= a._3 &&
        (b._2 < a._2 || b._3 > a._3)
    }
    val expect = parts.filterNot(dominated).map(_._1).toSet
    val got = rows(Analytics.qSkyline(spark, sf)).map(_.getLong(0)).toSet
    assert(got == expect,
      s"extra=${got -- expect} missing=${expect -- got}")
    assert(got.nonEmpty && got.size < parts.length,
      "skyline must be a proper non-empty subset at this sf")
  }

  test("q_degree_distribution matches a driver-side co-occurrence replay") {
    val li = graft.tables.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val co = li.groupBy(_._1).values.flatMap { xs =>
      val ss = xs.map(_._2).distinct.sorted
      for (i <- ss.indices; j <- (i + 1) until ss.size) yield (ss(i), ss(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val edges = co.filter(_._2 >= 20).keys.toSeq
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val suppKeys = graft.tables.Tables.supplier(spark, sf)
      .select("s_suppkey").collect().map(_.getLong(0)).toSeq
    val expected = suppKeys.map(s => deg.getOrElse(s, 0L))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = rows(Analytics.qDegreeDistribution(spark, sf))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.values.sum == suppKeys.size.toLong,
      "every supplier appears exactly once")
  }

  test("q_link_predict matches a common-neighbors replay; none adjacent") {
    val li = graft.tables.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = li.groupBy(_._1).values.flatMap { xs =>
      val ss = xs.map(_._2).distinct.sorted
      for (i <- ss.indices; j <- (i + 1) until ss.size) yield (ss(i), ss(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
      .filter(_._2 >= 20).keySet
    val nbrs = (edges.toSeq.flatMap { case (x, y) => Seq(x -> y, y -> x) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = nbrs.keys.toSeq.sorted
    val expected = (for {
      a <- nodes; c <- nodes if a < c && !edges.contains((a, c))
      cn = (nbrs(a) & nbrs(c)).size if cn > 0
    } yield (a, c, cn.toLong))
      .sortBy { case (a, c, cn) => (-cn, a, c) }.take(20)
    val got = rows(Analytics.qLinkPredict(spark, sf))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got == expected)
    assert(got.forall { case (a, c, _) => !edges.contains((a, c)) })
  }

  test("q_assortativity matches an exact degree-moment replay; in [-1, 1]") {
    val li = graft.tables.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = li.groupBy(_._1).values.flatMap { xs =>
      val ss = xs.map(_._2).distinct.sorted
      for (i <- ss.indices; j <- (i + 1) until ss.size) yield (ss(i), ss(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
      .filter(_._2 >= 20).keys.toSeq
    val row = rows(Analytics.qAssortativity(spark, sf)).head
    assert(row.getLong(0) == edges.size.toLong)
    val directed = edges.flatMap { case (x, y) => Seq((x, y), (y, x)) }
    val deg = directed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val pts = directed.map { case (s, d) => (deg(s), deg(d)) }
    val m = pts.size.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sy = pts.map(_._2).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val syy = pts.map(p => p._2 * p._2).sum.toDouble
    val den = math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    if (edges.isEmpty || den == 0.0) {
      // sf0.001's affinity graph is a complete K10 — every degree equal,
      // zero variance: the correlation is undefined and must surface as
      // null, not an ANSI 0/0 crash (the sf0.01 oracle pins the rest)
      assert(row.isNullAt(1), s"degenerate graph must yield null: $row")
    } else {
      val expected = BigDecimal((m * sxy - sx * sy) / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(row.getDouble(1) == expected)
      assert(expected >= -1.0 && expected <= 1.0)
    }
  }

  test("q_hhi matches an exact-cents replay; bounded by (1/n, 1]") {
    val li = graft.tables.Tables.lineitem(spark, sf)
      .selectExpr("year(l_shipdate) AS yr", "l_suppkey",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = li.groupBy(_._1).toSeq.sortBy(_._1).map { case (yr, xs) =>
      val bySupp = xs.groupBy(_._2).values.map(_.map(_._3).sum).toSeq
      val tot = bySupp.sum.toDouble
      (yr.toLong, bySupp.size.toLong,
        r6(bySupp.map(v => BigInt(v) * v).sum.toDouble / (tot * tot)))
    }
    val got = rows(Analytics.qHhi(spark, sf))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got == expected)
    got.foreach { case (_, n, h) =>
      assert(h >= 1.0 / n - 1e-9 && h <= 1.0 + 1e-9,
        s"HHI must sit in [1/n, 1]: $n $h")
    }
  }

  test("q_mode is exactly each flag's most frequent quantity (min tie-break)") {
    val li = graft.tables.Tables.lineitem(spark, sf)
      .selectExpr("l_returnflag", "CAST(l_quantity AS LONG) AS q")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = li.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val (q, c) = xs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
        .minBy { case (v, cnt) => (-cnt, v) }
      (f, q, c)
    }
    val got = rows(Analytics.qMode(spark, sf))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got == expected)
  }

  test("q_pareto_share matches an exact top-k replay; share dominates 20%") {
    val perCust = graft.tables.Tables.orders(spark, sf)
      .selectExpr("o_custkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).toSeq.map { case (k, xs) => (k, xs.map(_._2).sum) }
    val sorted = perCust.sortBy { case (k, r) => (-r, k) }
    val n = sorted.size.toLong
    val k = n / 5
    val tot = sorted.map(_._2).sum
    val top = sorted.take(k.toInt).map(_._2).sum
    val r = rows(Analytics.qParetoShare(spark, sf)).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((n, k, top * 1000000L / tot)))
    // the top 20% must carry at least 20% (equality only if uniform)
    assert(r.getLong(2) >= 200000L)
  }
}
