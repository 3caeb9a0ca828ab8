package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

/** Plan-shape regression tests: the physical plans the 100 TB story
  * depends on, asserted so a refactor can't silently regress them
  * (SURVEY §4 "free from Catalyst" claims, made checkable). */
class PlanShapeSpec extends GraftSuite {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count() // materialize AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("q_scan_filter_project pushes predicates into the parquet scan") {
    val plan = planOf("q_scan_filter_project")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual") || plan.contains("LessThan"),
      s"range predicates must reach the reader:\n$plan")
  }

  test("scans read only the projected columns (column pruning)") {
    val plan = planOf("q_scan_filter_project")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      s"unused columns must be pruned from the scan:\n$readSchema")
  }

  test("q_local_supplier_volume pushes the orderdate range into the orders scan") {
    // the filter is written as a half-open raw-column range precisely so it
    // reaches the reader; a year() wrapper here would full-scan orders
    val plan = planOf("q_local_supplier_volume")
    val ordersScan = plan.linesIterator
      .filter(l => l.contains("orders.parquet") && l.contains("PushedFilters"))
      .mkString("\n")
    assert(ordersScan.contains("GreaterThanOrEqual(o_orderdate") &&
      ordersScan.contains("LessThan(o_orderdate"),
      s"orderdate range must reach the orders scan:\n$plan")
  }

  test("q_join_broadcast keeps the dimension tables on the build side") {
    val plan = planOf("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_topk_orders compiles to TakeOrderedAndProject (no global sort)") {
    val plan = planOf("q_topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_embed_neardup joins candidates with a hash join, never nested-loop") {
    val plan = planOf("q_embed_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH candidates must equi-join:\n$plan")
  }

  test("q_bm25 cuts its top-50 with TakeOrderedAndProject (no global sort)") {
    val plan = planOf("q_bm25")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_shingle_cosine equi-joins its candidates (no nested-loop fan-out)") {
    val plan = planOf("q_shingle_cosine")
    assert(!plan.contains("CartesianProduct"), plan)
    // the dot-product join-back must key on (doc, sh) hash joins; the only
    // nested-loop allowed anywhere is the broadcast 1-row totals frame
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("q_pagerank's distributed arm broadcasts the rank table into every iteration") {
    // the default (driver) arm plans as a LocalTableScan — force the
    // DISTRIBUTED arm the size dispatch grades out to past the edge
    // ceiling; its iterations must be map-side joins over the
    // checkpointed edges plus keyed aggregations — a sort-merge join
    // would mean the node-sized rank table got shuffle-planned
    val plan = forcedDistributed(graft.ops.Analytics
      .pagerankHalf(
        graft.tables.Tables.supplier(spark, sf)
          .select(org.apache.spark.sql.functions.col("s_suppkey").as("node")),
        graft.ops.Analytics.qPagerankHalfEdges(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"rank joins must broadcast:\n$plan")
  }

  test("whole-surface plan guards: no CartesianProduct, no undocumented global window, no undocumented repeat scans") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // ONE construction pass over every registered query pays for BOTH
    // guards (constructing a handful of these DataFrames runs real setup
    // jobs — zipWithIndex, sketch collects, eager localCheckpoints — so
    // the sweep costs tens of seconds; do it once).
    //
    // Guard 1: a CartesianProduct in any plan is a scale bug —
    // cross-shaped queries must bound one side via broadcast (caught
    // q_isotonic_fit's stat-less grid joins in round 13).
    // Guard 2: an unpartitioned Window is legitimate ONLY over a
    // relation bounded by a fixed domain (a segment family, a vocabulary
    // cut — never corpus-sized). Round 13 derived this from the whole
    // registry (the old hand-maintained list had gone stale the same way
    // DeterminismSpec's had): the exception map below is the COMPLETE,
    // reviewable documentation — a new query acquiring a global window
    // fails here by default, and a stale exception fails too.
    // Guard 3 (round 18): per-query per-table STATIC parquet scan count
    // stays under a cap. The ReuseAudit campaign showed AQE exchange
    // reuse does NOT reliably dedupe repeated derivations of the same
    // bounded relation — queries that can pin their corpus-pass floor by
    // materializing a bounded grid now do; this guard keeps the class of
    // regression from silently returning. Static counts OVERCOUNT what
    // runs (AQE reuse collapses some at execution), so the cap is
    // generous (3) and the exception map documents each higher count's
    // runtime adjudication. A new query over the cap fails here by
    // default; a stale exception fails too.
    // BLIND SPOT (documented): an eager localCheckpoint replaces its
    // upstream scans with a LogicalRDD at DataFrame-construction time,
    // so scans feeding a checkpointed grid are INVISIBLE to this static
    // count — which now covers most of the round-18-rewritten queries.
    // RuntimeScanSpec complements this guard with a
    // QueryExecutionListener that observes the checkpoint-building
    // executions too and pins the adjudicated per-table runtime totals.
    val cartesian = scala.collection.mutable.ArrayBuffer.empty[String]
    val globalWin = scala.collection.mutable.ArrayBuffer.empty[String]
    val overCap = scala.collection.mutable.Map.empty[String, String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      val planStr = qe.executedPlan.toString
      if (planStr.contains("CartesianProduct"))
        cartesian += name
      if (qe.optimizedPlan.collectFirst {
        case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty)
        globalWin += name
      val perTable = RuntimeScans.scannedTables(planStr)
        .groupBy(identity).view.mapValues(_.size).filter(_._2 > 3)
      if (perTable.nonEmpty)
        overCap(name) = perTable.map { case (t, n) => s"$t x$n" }.mkString(", ")
    }
    assert(cartesian.isEmpty,
      s"these queries plan a CartesianProduct: ${cartesian.mkString(", ")}")
    // Complete, reviewable adjudications for every >3-static-scan query
    // (runtime counts from graft.ReuseAudit at sf0.01, round 18):
    val repeatScanExceptions = Map(
      "q_dup_rate_by_source" -> ("per-source dup families have no bounded " +
        "cover; r17 measured forced materialization SLOWER (2.07->2.82 s) " +
        "and reverted; r21 moved the total onto the cell rollup so both " +
        "consumers share the cell exchange — AQE reuse now collapses 10 " +
        "static to 3 runtime scans"),
      "q_lsh_quality" -> ("same r17 adjudication as q_dup_rate_by_source; " +
        "AQE collapses 8 static to 2 runtime scans"),
      "q_stupid_backoff_bigram" -> ("each n-gram ORDER is its own " +
        "corpus-sized explode+agg (no bounded cover below the gram tables " +
        "themselves); runtime partial-reused"),
      "q_stupid_backoff_trigram" -> ("three gram orders; runtime 3 scans " +
        "with 4 reused exchanges"),
      "q_stupid_backoff_4gram" -> ("four gram orders; same shape"),
      "q_shingle_cosine" -> ("posting-list core + idf/norm branches; the " +
        "shared shingle exchange reuses at runtime; r17 measured forced " +
        "materialization worse on this family"),
      "q_ann_recall" -> ("recall AUDIT: the exact-truth arm and the index " +
        "arm scan probe/base sets separately by design; sample-scale by " +
        "contract"),
      "q_ann_pq_recall" -> "same audit contract as q_ann_recall",
      "q_semdedup_recall" -> ("quadratic exact-truth arm, sample-scale by " +
        "contract (Scaladoc)"),
      "q_dedup_minhash" -> ("banded signatures + exact verification " +
        "re-read corpus-sized shingle arrays; materializing them is " +
        "corpus-scale state; runtime 3 scans, 2 reused"),
      "q_curation_pipeline" -> ("multi-stage funnel counts its stages " +
        "against corpus-sized intermediates; runtime 3 scans, 2 reused"),
      "q_vocab_overlap" -> ("per-language token sets are corpus-sized " +
        "explodes (no bounded cover)"),
      "q_lang_pmi" -> "same per-language token-table shape as q_vocab_overlap",
      "q_incremental_dedup" -> ("old/new slices each feed the semi-join " +
        "and their own counts; slices are corpus-sized"),
      "q_fdr_bh" -> ("segment-family z branches; AQE reuses the shared " +
        "exchange at runtime (not in the runtime >=3 list)"),
      "q_embed_neardup" -> ("SRP banding + exact cosine verification need " +
        "vector rows twice; vectors are corpus-sized; runtime 3 scans, " +
        "1 reused"),
      "q_repetition_score" -> ("bi/tri-gram and unigram stats are three " +
        "genuinely different corpus passes plus the doc spine"))
    val undocumentedScans = overCap.keySet -- repeatScanExceptions.keySet
    val staleScans = repeatScanExceptions.keySet -- overCap.keySet
    assert(undocumentedScans.isEmpty,
      "undocumented repeat-scan quer(ies): " + undocumentedScans.toSeq.sorted
        .map(n => s"$n (${overCap(n)})").mkString("; "))
    assert(staleScans.isEmpty,
      s"stale repeat-scan exceptions: ${staleScans.mkString(", ")}")
    val boundedFamilyExceptions = Map(
      "q_fdr_bh" -> ("BH rank + suffix-min windows over the sources x " +
        "languages segment-family relation (bounded by fixed domains, " +
        "never corpus-sized)"),
      // the next two spell share-of-total as Window.partitionBy(lit(1))
      // over POST-AGGREGATION relations; the constant partition key
      // constant-folds to an empty spec (which is how the old
      // list-based guard missed them — found by deriving this sweep)
      "q_benford_prices" -> ("share-of-total window over the 9-row " +
        "first-significant-digit domain"),
      "q_monthly_seasonality" -> ("share-of-total window over the 12-row " +
        "calendar-month domain"))
    val undocumented = globalWin.toSet -- boundedFamilyExceptions.keySet
    val stale = boundedFamilyExceptions.keySet -- globalWin.toSet
    assert(undocumented.isEmpty,
      s"undocumented global window(s): ${undocumented.mkString(", ")}")
    assert(stale.isEmpty,
      s"stale global-window exceptions: ${stale.mkString(", ")}")
  }

  test("identical self-join sides reuse one exchange (EquivalentNodeMerge is free)") {
    // broadcast off so both sides plan the SAME shuffle exchange (with it
    // on, one side becomes a BroadcastExchange and reuse can't apply);
    // collect() (not count(), which builds a different plan) finalizes the
    // DataFrame's own adaptive plan.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val counts = spark.read.parquet(s"$sf/lineitem.parquet")
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val joined = counts.as("a").join(counts.as("b"), "l_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
        || plan.contains("reuses operator id"),
        s"Catalyst must dedupe the identical agg subtree:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_dedup_shingle_jaccard materializes the corpus aggregation once") {
    // the pair-count exchange feeds three branches (pairs + both size
    // joins); AQE must reuse the materialized stage instead of re-running
    // the corpus-wide shingle explode per branch. This is the query's
    // no-cache design: exchange reuse, not persist, carries the diamond.
    val df = SparkEntry.queries("q_dedup_shingle_jaccard")(spark, sf)
    df.collect() // finalize THIS QueryExecution's adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
      || plan.contains("reuses operator id"),
      s"shared counts exchange must be reused, not recomputed:\n$plan")
  }

  test("q_market_share pushes the order-date range into the orders scan") {
    val plan = planOf("q_market_share")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate") &&
      plan.contains("LessThan(o_orderdate"),
      s"order-date range must reach PushedFilters:\n$plan")
    assert(plan.contains("EqualTo(p_type,ECONOMY)"),
      s"part-type filter must reach the part scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_volume_shipping broadcasts the nation dims") {
    val plan = planOf("q_volume_shipping")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_waiting_suppliers scans the fact table exactly once (one-pass Q21)") {
    // the one-pass Q21 spelling: lineitem⋈orders feeds ONE (order, supplier)
    // aggregation; order-level counts come from a window partitioned by
    // orderkey over that relation — the exists/not-exists spelling this
    // replaced consumed the fact join three times.
    val df = SparkEntry.queries("q_waiting_suppliers")(spark, sf)
    df.collect() // finalize THIS QueryExecution's adaptive plan
    // count scans only in the final physical plan, not AQE's initial one
    val plan = RuntimeScans.finalPlan(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all joins stay on equi-keys:\n$plan")
    val factScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem.parquet"))
    assert(factScans == 1, s"lineitem must be scanned once, saw $factScans:\n$plan")
  }

  test("q_forecast_revenue pushes every predicate into the lineitem scan") {
    // the pure scan-side query: if any of the three predicates misses
    // PushedFilters, 100 TB of lineitem is read instead of a slice
    // the scan line truncates its metadata at 100 chars by default, which
    // would hide the later filters in the pushed list
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    val plan = try {
      spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
      planOf("q_forecast_revenue")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    val scan = plan.linesIterator
      .filter(l => l.contains("lineitem.parquet") && l.contains("PushedFilters"))
      .mkString("\n")
    assert(scan.contains("GreaterThanOrEqual(l_shipdate") &&
      scan.contains("LessThan(l_shipdate") &&
      scan.contains("GreaterThanOrEqual(l_discount") &&
      scan.contains("LessThan(l_quantity"),
      s"all Q6 predicates must reach the reader:\n$plan")
  }

  test("q_small_qty_revenue decorrelates the scalar subquery (no per-row rescan)") {
    val plan = planOf("q_small_qty_revenue")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"Q17's correlated avg must become an aggregate + equi-join:\n$plan")
  }

  test("q_returned_items and q_large_orders compile top-k to TakeOrderedAndProject") {
    Seq("q_returned_items", "q_large_orders").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$name must not globally sort for a LIMIT:\n$plan")
    }
  }

  test("q_dedup_minhash and q_ann_ivf stay on equi-joins (no cartesian anywhere)") {
    Seq("q_dedup_minhash", "q_ann_ivf").foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must block via equi-keys:\n$plan")
    }
  }

  test("q_ann_ivf broadcasts the probe side into the inverted-list join") {
    val plan = planOf("q_ann_ivf")
    assert(plan.contains("BroadcastHashJoin"),
      s"the bounded probe set is the broadcast side:\n$plan")
  }

  test("new TPC-H shapes keep their signature join strategies") {
    // Q4: EXISTS -> one LeftSemi hash join; Q16: NOT IN -> LeftAnti;
    // Q20: nested IN -> LeftSemi; none may degrade to nested-loop.
    val semi = planOf("q_priority_waiting")
    assert(semi.contains("LeftSemi"), s"Q4 EXISTS must be a semi join:\n$semi")
    val anti = planOf("q_supplier_variety")
    assert(anti.contains("LeftAnti"), s"Q16 NOT IN must be an anti join:\n$anti")
    val nested = planOf("q_excess_stock_suppliers")
    assert(nested.contains("LeftSemi"), s"Q20 IN must be a semi join:\n$nested")
    Seq(semi, anti, nested, planOf("q_product_profit"),
        planOf("q_min_cost_supplier")).foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"TPC-H shape degraded to nested-loop:\n$p")
    }
    // q_important_parts' global threshold is a broadcast 1-row cross (the
    // engine's standard global-threshold pattern) — assert only that no
    // unbroadcast cartesian sneaks in.
    assert(!planOf("q_important_parts").contains("CartesianProduct"))
  }

  test("event analytics prune the fat props column and push the purchase filter") {
    // events.props is the widest column of the table — a funnel that reads
    // it drags the whole JSON payload through the shuffle for nothing
    val funnel = planOf("q_funnel")
    val funnelScan = funnel.linesIterator
      .filter(l => l.contains("events.parquet") && l.contains("ReadSchema"))
      .mkString("\n")
    assert(!funnelScan.contains("props") && !funnelScan.contains("value"),
      s"funnel must not read props/value:\n$funnelScan")
    val cohort = planOf("q_cohort_retention")
    assert(cohort.contains("EqualTo(event_type,purchase)"),
      s"the purchase filter must reach the events scan:\n$cohort")
    val skew = planOf("q_skew_report")
    val skewScan = skew.linesIterator
      .filter(l => l.contains("lineitem.parquet") && l.contains("ReadSchema"))
      .mkString("\n")
    assert(skewScan.contains("struct<l_orderkey:bigint>"),
      s"the skew report reads exactly its key column:\n$skewScan")
  }

  test("q_triangle_count: equi-joins only, closure broadcast is size-dispatched") {
    val dflt = SparkEntry.queries("q_triangle_count")(spark, sf)
    dflt.count()
    val plan = dflt.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle wedges/closure must stay on equi-joins:\n$plan")
    // the test-sf edge set sits under the dispatch threshold, so the
    // closure join broadcasts here
    assert(plan.contains("BroadcastHashJoin"),
      s"under-threshold edge set should broadcast into the closure:\n$plan")
    // force the over-threshold branch (the kill switch): the closure must
    // drop its broadcast hint — only the two node-cardinality degree
    // joins keep one — and the shuffle plan must agree exactly with the
    // broadcast plan's results. No hard broadcast of a data-derived edge
    // set survives at scale.
    def hintCount(df: org.apache.spark.sql.DataFrame): Int = {
      val s = df.queryExecution.optimizedPlan.toString
      s.sliding("broadcast".length).count(_ == "broadcast")
    }
    val shuffled =
      forcedDistributed(SparkEntry.queries("q_triangle_count")(spark, sf))
    assert(hintCount(shuffled) < hintCount(dflt),
      "the over-threshold plan must carry strictly fewer broadcast hints")
    assert(!shuffled.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    assert(shuffled.collect().map(_.toString).sorted
      .sameElements(dflt.collect().map(_.toString).sorted),
      "broadcast and shuffle closure paths must produce identical triangles")
  }

  test("q_bloom_semijoin: bitmap filter prunes the probe BEFORE the semi-join") {
    val df = SparkEntry.queries("q_bloom_semijoin")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"exact semi-join must remain:\n$plan")
    // the membership test (shiftright over the literal bitmap) must sit in
    // a Filter on the probe side, not after the join
    val lines = plan.linesIterator.toSeq
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("shiftright"))
    val joinIdx = lines.indexWhere(_.contains("LeftSemi"))
    assert(filterIdx > joinIdx && joinIdx >= 0,
      s"bloom filter must be below (after in plan text) the semi-join:\n$plan")
  }

  test("q_join_interval_binned: the band join compiles to a hash join on the bucket") {
    val plan = planOf("q_join_interval_binned")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the binned interval join must never nested-loop:\n$plan")
    assert(plan.contains("hashjoin") || plan.contains("HashJoin") ||
      plan.contains("SortMergeJoin"),
      s"bucket equi-key must drive a hash/SMJ join:\n$plan")
  }

  test("q_bucketed_join: the co-located join plans with NO exchange on the key") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
    df.count() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"the merge-hinted bucketed join must stay an SMJ:\n$plan")
    // the whole point of the bucket layout: neither side may shuffle on
    // the join key — the only exchange allowed is the post-join rollup's
    val badExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("o_custkey") || l.contains("c_custkey")))
    assert(!badExchange,
      s"bucketed sides must scan shuffle-free on the join key:\n$plan")
  }

  // (the old list-based "no unpartitioned window" test was folded into
  // the derived whole-surface guard above in round 13 — every query that
  // EVER carried a global window is now re-checked on every run, plus
  // every query that never did)

  test("q_decontam_ngram restricts train shingles with a LEFT SEMI join") {
    val plan = planOf("q_decontam_ngram")
    assert(plan.contains("LeftSemi"),
      s"the eval-digest restriction must be a semi-join, not a full join:\n$plan")
  }

  test("q_simhash_neardup blocks with equi-joins only") {
    val plan = planOf("q_simhash_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band blocking must equi-join on (band, code):\n$plan")
  }

  test("q_ann_ivfpq builds the cell-tagged index in one embeddings scan") {
    val plan = planOf("q_ann_ivfpq")
    val scans = plan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("embeddings"))
    // one scan feeds the compressed index, one the bounded probe side —
    // the old scan+scan+self-join spelling planned three
    assert(scans <= 2, s"expected <= 2 embeddings scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_session_window plans the native session-window operator") {
    val plan = planOf("q_session_window")
    assert(plan.contains("Sessions") || plan.contains("session_window"),
      s"the native session-window aggregation must appear:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the OTHER half of the skew story beside q_join_skew_salted's manual
    // salting: at 100 TB the first line of defense is AQE's runtime
    // re-plan, which detects a post-shuffle partition dwarfing the median
    // and splits it. Build a join where one key holds ~all probe rows and
    // assert the final sort-merge join is marked skew-handled.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption.flatMap(Option(_))).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      // half the probe rows land on ONE key → one post-shuffle partition
      // dwarfs the median by far more than the factor-2 trigger
      val skewed = spark.range(400000)
        .select(when($"id" % 2 === 0, lit(0L)).otherwise($"id").as("k"),
          $"id".as("payload"))
      val dim = spark.range(50000).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = skewed.join(dim, "k")
      // execute THIS df's own plan (count() would build a different
      // QueryExecution and leave this one's AQE plan unfinalized)
      assert(joined.queryExecution.toRdd.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE must mark the skewed partition split:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q_fuzzy_join stays a blocked equi-join, never nested-loop/cartesian") {
    val plan = planOf("q_fuzzy_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the blocking key must drive an equi-join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-20 cut must never be a global sort:\n$plan")
  }

  test("q_stream_enrich broadcasts the dimension side of the enrich join") {
    val plan = planOf("q_stream_enrich")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"the fact side must not shuffle for a dimension enrich:\n$plan")
  }

  test("LevenshteinBandRule rewrites bounded edit distance to the banded DP") {
    // the fuzzy join spells the natural levenshtein(a,b) BETWEEN 1 AND 6;
    // the injected optimizer rule must run it as the thresholded form
    val opt = SparkEntry.queries("q_fuzzy_join")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("Some(6)) >= 0"),
      s"expected the thresholded levenshtein guard in:\n$opt")
    val opt2 = SparkEntry.queries("q_edit_distance")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(opt2.contains("Some(4)) >= 0"),
      s"expected the thresholded levenshtein guard in:\n$opt2")
  }

  test("LevenshteinBandRule preserves semantics on crafted edge cases") {
    import spark.implicits._
    val pairs = Seq(
      ("abc", "abc"), ("abc", "abd"), ("abc", "xyz"), ("", "abc"),
      ("kitten", "sitting"), ("aaaa", "aaaaaaaaaa"), ("x", ""),
      (null, "abc"), ("abc", null)).toDF("a", "b")
    def lev(a: String, b: String): Int = {
      if (a == null || b == null) return Int.MinValue // row must vanish
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val raw = pairs.collect().map(r => (r.getString(0), r.getString(1)))
    def check(f: org.apache.spark.sql.Column, p: Int => Boolean): Unit = {
      val got = pairs.where(f).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val want = raw.filter { case (a, b) =>
        val d = lev(a, b); d != Int.MinValue && p(d)
      }.toSet
      assert(got == want, s"filter $f: got $got want $want")
    }
    check(levenshtein($"a", $"b") <= 2, _ <= 2)
    check(levenshtein($"a", $"b") < 3, _ < 3)
    check(levenshtein($"a", $"b").between(1, 3), d => d >= 1 && d <= 3)
    check(levenshtein($"a", $"b") === 3, _ == 3)
    check(levenshtein($"a", $"b") >= 2, _ >= 2)           // no cap: untouched
    check(levenshtein($"a", $"b") <= 0, _ <= 0)           // zero cap
    check(levenshtein($"a", $"b") <= 2 || $"a" === "x", d => d <= 2) // OR: no rewrite
  }

  test("LevenshteinBandRule: seeded fuzz over random pairs and thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    def word(): String = {
      val n = rnd.nextInt(13)
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString // small alphabet -> rich tie/threshold structure
    }
    val pairsSeq = Seq.fill(200)((word(), word()))
    val pairs = pairsSeq.toDF("a", "b")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def run(f: org.apache.spark.sql.Column, p: Int => Boolean): Unit = {
      val got = pairs.where(f).collect().map(r => (r.getString(0), r.getString(1)))
      val want = pairsSeq.filter { case (a, b) => p(lev(a, b)) }
      assert(got.toSeq.sorted == want.sorted, s"filter $f diverged")
    }
    for (k <- Seq(0, 1, 2, 3, 5, 9)) {
      run(levenshtein($"a", $"b") <= k, _ <= k)
      run(levenshtein($"a", $"b") === k, _ == k)
      if (k >= 1) run(levenshtein($"a", $"b").between(1, k), d => d >= 1 && d <= k)
    }
    run(levenshtein($"a", $"b") < 4 && levenshtein($"a", $"b") > 1,
      d => d < 4 && d > 1)
  }

  test("LevenshteinBandRule must NOT fire on OR-guarded edit distance") {
    import spark.implicits._
    // non-local source so ConvertToLocalRelation can't fold the filter away
    val d = graft.tables.Tables.documents(spark, sf)
      .select($"text".as("a"), $"source".as("b"), $"lang".as("c"))
    // the soundness argument's edge: under an OR the conjunction-level
    // 3-valued equivalence doesn't hold, so the rule must leave the
    // predicate alone
    val orGuarded = d.where(levenshtein($"a", $"b") <= 2 || $"c" === "xx")
    val p1 = orGuarded.queryExecution.optimizedPlan.toString
    assert(!p1.contains("Some(2)"),
      s"rule fired under an OR guard:\n$p1")
    // a capped conjunct whose lev ALSO appears inside an un-rewritable OR
    // arm: the group must abort whole (substituting levT only in the
    // capped conjunct would diverge when lev > cap)
    val mixed = d.where(levenshtein($"a", $"b") <= 2 &&
      (levenshtein($"a", $"b") === 1 || $"c" === "xx"))
    val p2 = mixed.queryExecution.optimizedPlan.toString
    assert(!p2.contains("Some(2)"),
      s"rule fired on a lev that escapes into an OR arm:\n$p2")
  }

  test("LevenshteinBandRule A/B: disabled rule gives identical results on the declared queries") {
    def results(s: org.apache.spark.sql.SparkSession, name: String) =
      SparkEntry.queries(name)(s, sf).collect().map(_.toString).sorted.toSeq
    val withRule = Seq("q_edit_distance", "q_fuzzy_join").map(results(spark, _))
    // the disabled arm runs in a FORKED session: same SparkContext,
    // same injected rules and builder conf (initialSessionOptions),
    // private SQL conf — the shared session is never mutated, so this
    // stays safe if suites ever run in parallel
    val off = spark.newSession()
    off.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.LevenshteinBandRule")
    val opt = SparkEntry.queries("q_edit_distance")(off, sf)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("Some(4)"),
      s"exclusion did not disable the rule:\n$opt")
    val withoutRule = Seq("q_edit_distance", "q_fuzzy_join").map(results(off, _))
    assert(withRule == withoutRule,
      "banded rewrite changed query results")
  }
}
