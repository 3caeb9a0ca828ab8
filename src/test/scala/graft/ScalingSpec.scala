package graft

/** Scale-slope canaries for the heavy query family: run each at sf0.01 AND
  * sf0.1 and assert the 10× data ratio costs < 15× wall time. An
  * accidentally quadratic shape (unblocked self-join, uncapped posting
  * list, per-row rescan) costs ~100× at 10× data — this cheap slope check
  * catches it even though the absolute sf0.1 time alone would still look
  * "fast" on a big machine.
  *
  * Methodology: one un-timed warm-up run at sf0.01 first (whole-stage
  * codegen compilation and session JIT are per-plan one-time costs shared
  * by both scales); the sf0.01 time is floored at 0.3 s so scheduling
  * noise on a near-instant small run can't manufacture a phantom slope.
  * `q_image_convolve`/`q_image_*` are excluded: their input is
  * fixed-count synthetic images, so they have no data slope by
  * construction — `q_image_fisher_vector` (embeddings-table-driven)
  * covers the descriptor-aggregation family instead. */
class ScalingSpec extends GraftSuite {

  private val sfSmall = "/root/testdata/sf0.01"
  private val sfBig = "/root/testdata/sf0.1"
  private val MaxSlope = 15.0
  private val FloorSec = 0.3

  private def time(name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  // q_pagerank and q_triangle_count are absent from the SF-driven sweep:
  // the supplier co-purchase graph is near-complete on this synthetic
  // data, so the EDGE count grows ~|V|² with SF by data shape (100 → 1000
  // suppliers ⇒ ~100× edges at 10× rows) — an SF slope gate would measure
  // the generator, not the plan. Their plans get a REAL canary below via
  // a fixed-density circulant graph (degree constant, edges ∝ nodes).
  Seq("q_dedup_shingle_jaccard", "q_dedup_minhash", "q_ann_ivf",
      "q_embed_neardup", "q_image_fisher_vector", "q_shingle_cosine",
      "q_bm25", "q_token_entropy", "q_rolling_anomaly",
      "q_bloom_semijoin", "q_cm_heavy_hitters", "q_lsh_quality",
      "q_part_affinity", "q_join_interval_binned", "q_ann_pq",
      "q_chunk_dedup", "q_simhash_neardup", "q_dedup_keep_best",
      "q_ann_ivfpq", "q_decontam_ngram",
      // round 9: the blocked fuzzy join (block cap must bound pair
      // fan-out), TWAP (per-user window), and Kaplan-Meier (day-grid
      // prefix passes) all need linear-ish slopes
      "q_fuzzy_join", "q_twap", "q_kaplan_meier",
      // calendar-bounded grids (pair joins, prefix lookups) and the
      // vocab-join OOV audit: all must stay ~flat-to-linear in corpus size
      "q_theil_sen", "q_seasonal_decompose", "q_lead_lag", "q_psi",
      "q_oov_rate").foreach { name =>
    test(s"$name: 10x data costs < ${MaxSlope.toInt}x wall time") {
      time(name, sfSmall) // warm-up: codegen + JIT out of both timings
      val tSmall = math.max(time(name, sfSmall), FloorSec)
      // min-of-2 on the big run: one GC pause or noisy neighbor must not
      // fail the quadratic-shape canary
      val tBig = math.min(time(name, sfBig), time(name, sfBig))
      val slope = tBig / tSmall
      info(f"$name: sf0.01=$tSmall%.2fs sf0.1=$tBig%.2fs slope=$slope%.1fx")
      assert(slope < MaxSlope,
        f"$name slope $slope%.1fx >= $MaxSlope%.0fx — a 10x data step " +
          "should never cost this much; check for an unblocked join or " +
          "uncapped candidate set")
    }
  }

  // ---- graph plans: fixed-density canaries (circulant graph C_n(1..d):
  // node i joins i±1..i±d mod n, so degree is CONSTANT and edges/wedges/
  // triangles all grow linearly in n — a true plan-slope measurement)

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Undirected circulant edge set as (x, y), x < y, one row per edge. */
  private def ringPairs(n: Long, d: Int): DataFrame = {
    spark.range(n)
      .select(col("id"), explode(sequence(lit(1), lit(d))).as("k"))
      .select(least(col("id"), (col("id") + col("k")) % n).as("x"),
        greatest(col("id"), (col("id") + col("k")) % n).as("y"))
      .distinct() // wrap edges can duplicate when n <= 2d; harmless otherwise
  }

  private def slopeOf(run: Long => Double, small: Long, big: Long): Double = {
    run(small) // warm-up: codegen + JIT out of both timings
    val tSmall = math.max(run(small), FloorSec)
    val tBig = math.min(run(big), run(big))
    tBig / tSmall
  }

  test("trianglesOfPairs: 10x fixed-density edges cost < 15x wall time") {
    val d = 4
    def run(n: Long): Double = {
      val t0 = System.nanoTime()
      // force the shuffle closure path — the branch that runs at real
      // scale is the one whose slope matters
      val out = forcedDistributed(
        graft.ops.Analytics.trianglesOfPairs(ringPairs(n, d)))
      // circulant triangle count: d(d-1)/2 per apex × n (wrap-exact for
      // n > 3d) — asserts the algorithm, not just the slope
      val total = out.agg(sum(col("triangles"))).head().getLong(0)
      assert(total == n * d * (d - 1) / 2,
        s"C_$n(1..$d) must have ${n * d * (d - 1) / 2} triangles, got $total")
      (System.nanoTime() - t0) / 1e9
    }
    val slope = slopeOf(run, 3000, 30000)
    info(f"trianglesOfPairs: slope=$slope%.1fx on 10x fixed-density edges")
    assert(slope < MaxSlope)
  }

  test("ranksOfCountsBucketed: 10x unbounded-cardinality values cost < 15x") {
    import org.apache.spark.sql.Column
    // every row a DISTINCT value — the regime the bucketed path exists
    // for (the one-window spelling would sort each key's whole value set
    // in one task); correctness asserted against the analytic median of
    // the arithmetic progression k, k+5, ..., k+5(m-1)
    def run(n: Long): Double = {
      val t0 = System.nanoTime()
      val vc = spark.range(n).select((col("id") % 5).as("k"),
        col("id").cast("double").as("v"), lit(1L).as("__c"))
      val r = graft.ops.Analytics.ranksOfCountsBucketed(vc, "k", "v",
        Seq[(String, Column => Column)](
          "lo" -> (c => ((c + 1) / 2).cast("long")),
          "hi" -> (c => (c / 2).cast("long") + 1)))
        .select(col("k"), ((col("lo") + col("hi")) / 2.0).as("med"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val m = n / 5
      (0L until 5L).foreach { k =>
        val med = if (m % 2 == 1) k + 5.0 * ((m - 1) / 2)
                  else k + 5.0 * (m / 2 - 1) + 2.5
        assert(math.abs(r(k) - med) < 1e-9,
          s"median wrong for key $k: ${r(k)} vs $med")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val slope = slopeOf(run, 200000, 2000000)
    info(f"ranksOfCountsBucketed: slope=$slope%.1fx on 10x distinct values")
    assert(slope < MaxSlope)
  }

  // q_image_sift itself reads a FIXED-COUNT synthetic image set (no data
  // slope by construction, like the other excluded image queries), so the
  // heaviest descriptor path gets its real canary here: 10x the IMAGE
  // COUNT must cost < 15x — per-image descriptor cost is constant, so a
  // super-linear slope means the per-partition extractor or its
  // explode/aggregation downstream regressed to cross-image work.
  test("ImageOps.sift: 10x images cost < 15x wall time") {
    import graft.images.ImageOps
    import spark.implicits._
    def run(n: Long): Double = {
      val t0 = System.nanoTime()
      val imgs = ImageOps.syntheticImages(spark, n = n.toInt, x = 16, y = 16,
        c = 1).as[ImageOps.Img]
      val out = ImageOps.sift(imgs, patch = 16, step = 16, cells = 4, bins = 8)
        .toDF()
      // one 128-dim descriptor row per image at patch=step=image size —
      // asserts the extractor's shape, not just the slope
      assert(out.count() == n)
      (System.nanoTime() - t0) / 1e9
    }
    val slope = slopeOf(run, 200, 2000)
    info(f"ImageOps.sift: slope=$slope%.1fx on 10x images")
    assert(slope < MaxSlope)
  }

  test("pagerankHalf: 10x fixed-density half edges cost < 15x wall time") {
    val d = 4
    def run(n: Long): Double = {
      val t0 = System.nanoTime()
      val nodes = spark.range(n).select(col("id").as("node"))
      // half edges (x, x + k mod n) for k = 1..d: each undirected ring
      // edge once, every node of degree 2d
      val half = spark.range(n)
        .select(col("id").as("x"), explode(sequence(lit(1), lit(d))).as("k"))
        .select(col("x"), ((col("x") + col("k")) % n).as("y"))
      // the kill switch forces the DISTRIBUTED arm — the slope canary
      // exists to watch the distributed plan, which the size dispatch
      // would otherwise bypass at canary-sized graphs
      val ranks = forcedDistributed(graft.ops.Analytics.pagerankHalf(nodes, half))
      // a 2d-regular graph is rank-uniform: every node ends at the same
      // ppm value — asserts the algorithm, not just the slope
      assert(ranks.select(col("rank_ppm")).distinct().count() == 1)
      (System.nanoTime() - t0) / 1e9
    }
    val slope = slopeOf(run, 3000, 30000)
    info(f"pagerankHalf: slope=$slope%.1fx on 10x fixed-density edges")
    assert(slope < MaxSlope)
  }
}
