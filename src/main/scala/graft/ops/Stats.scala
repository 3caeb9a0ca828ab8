package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Distribution-comparison statistics — the hypothesis-test toolkit a
  * curation pipeline runs to detect DRIFT: "has this source's length
  * distribution shifted?", "are these two slices drawn from the same
  * population?", "where did the metric change?". The reference has no
  * statistical-test nodes (its stats package is feature scaling —
  * SURVEY.md §2.A); these are north-star additions in the same spirit as
  * the KL/PMI family in [[Text]].
  *
  * Everything follows the family discipline: counts and rank sums are
  * exact INTEGER aggregates (shuffles carry longs, not floats), and
  * doubles appear only in the final projection, so results are
  * bit-identical on any engine and partitioning. Rank statistics use the
  * ×2 trick (twice the midrank is always an integer) to keep tied-rank
  * arithmetic exact.
  */
object Stats {

  // ------------------------------------------------------ two-sample KS

  /** Per-source two-sample Kolmogorov–Smirnov statistic vs the whole
    * corpus: D_s = sup_v |F_s(v) − F_corpus(v)| over document lengths —
    * the standard drift report ranking sources by how far their length
    * distribution sits from the corpus mix.
    *
    * Exactness: the sup is evaluated on the integer CROSS-MULTIPLIED
    * numerator |cum_s·n_g − cum_g·n_s| (both CDFs share the global value
    * grid, so the step functions are compared at every discontinuity);
    * one double division at the end. Scale shape: two hash aggregates
    * (per-(source,len) and per-len counts), then a grid join of two
    * DOMAIN-bounded relations — #sources × #distinct-lengths, independent
    * of corpus row count — and windows partitioned by source over that
    * bounded grid. The broadcast side is the source-totals dimension.
    * The cross-multiplied products cum·n grow as |docs|², which would
    * wrap int64 at only ~3e9 documents, so they are widened to
    * DECIMAL(38,0) on the Spark side and HUGEINT on the oracle side —
    * exact through ~10¹⁹ documents (the 100 TB scale path), with the
    * one double division unchanged. */
  def qKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir).select($"source", $"n_chars")
    // (source × length)-bounded count grid, MATERIALIZED — source totals,
    // the global length counts, and the corpus total are exact integer
    // re-sums of it (ReuseAudit: three runtime corpus scans without it)
    val perSrcVal = d.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val srcTot = perSrcVal.groupBy($"source").agg(sum($"c").as("ns"))
    // global CDF numerator on the distinct-length grid — a distributed
    // two-pass prefix sum, so nothing funnels one partition even if the
    // length domain grows
    val globalCum = Dist.withPrefix(
        perSrcVal.groupBy($"n_chars").agg(sum($"c").as("cg")),
        Seq($"n_chars"), Seq("cg" -> "pre"))
      .select($"n_chars", ($"pre" + $"cg").as("cumg"))
    // coalesce: empty corpus reads as 0 (count semantics), not NULL
    val nTot = perSrcVal.agg(coalesce(sum($"c"), lit(0L)).as("ng"))
    val ws = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    globalCum
      .crossJoin(broadcast(srcTot))             // bounded grid: lens × sources
      .join(perSrcVal, Seq("source", "n_chars"), "left")
      .withColumn("cums", sum(coalesce($"c", lit(0L))).over(ws))
      .crossJoin(broadcast(nTot))               // 1-row corpus total
      .groupBy($"source", $"ns", $"ng")
      .agg(max(abs($"cums".cast("decimal(38,0)") * $"ng"
        - $"cumg".cast("decimal(38,0)") * $"ns")).as("dnum"))
      .select($"source", $"ns".as("n_docs"),
        round($"dnum".cast("double")
          / ($"ns".cast("decimal(38,0)") * $"ng").cast("double"), 6)
          .as("d_stat"))
      .orderBy($"source")
  }

  val ksTestSql: String =
    """WITH d AS (SELECT source, n_chars FROM documents),
      |sv AS (SELECT source, n_chars, count(*) AS c FROM d GROUP BY 1, 2),
      |g AS (
      |  SELECT n_chars, sum(count(*)) OVER (ORDER BY n_chars
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumg
      |  FROM d GROUP BY n_chars),
      |st AS (SELECT source, count(*) AS ns FROM d GROUP BY 1),
      |tot AS (SELECT count(*) AS ng FROM d),
      |cum AS (
      |  SELECT st.source, g.n_chars, g.cumg, st.ns,
      |    sum(coalesce(sv.c, 0)) OVER (PARTITION BY st.source ORDER BY g.n_chars
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cums
      |  FROM g CROSS JOIN st
      |  LEFT JOIN sv ON sv.source = st.source AND sv.n_chars = g.n_chars)
      |SELECT source, CAST(ns AS BIGINT) AS n_docs,
      |  round(CAST(max(abs(CAST(cums AS HUGEINT) * ng
      |      - CAST(cumg AS HUGEINT) * ns)) AS DOUBLE)
      |    / (CAST(ns AS DOUBLE) * ng), 6) AS d_stat
      |FROM cum CROSS JOIN tot
      |GROUP BY source, ns, ng ORDER BY source""".stripMargin

  // ------------------------------------------------- Mann–Whitney U test

  /** Mann–Whitney rank-sum test between two named sources' document
    * lengths — the nonparametric "are these two slices the same
    * population?" check (no normality assumption, robust to outliers),
    * with exact midrank tie handling and the standard tie-corrected
    * normal approximation for z.
    *
    * Exactness: ranks come from value-grouped counts — for each distinct
    * length, twice the shared midrank is `2·cum_before + cnt + 1`, an
    * integer — so the rank sum 2R_a, the U statistic 2U, and the tie term
    * Σ(t³−t) are exact integer aggregates, WIDENED to DECIMAL(38,0) /
    * HUGEINT: the bounded length domain makes tie-group sizes grow
    * linearly with the corpus, so t³ alone wraps int64 at ~2M docs
    * sharing one length (the [[qSpearman]] overflow discipline — Spark's
    * long sum overflows while DuckDB errors, so the
    * engines would diverge instead of both staying exact), and 2R_a ~ 2n²
    * wraps at ~2e9 rows. z is assembled in one final double projection,
    * normalized through `+ 0.0` on both engines so a rounded-to-zero
    * statistic can't diverge as -0.0 vs 0.0 in the string-compared
    * parity gate. Scale shape: one hash aggregate to the
    * distinct-length relation (domain-bounded), one window over it, one
    * 1-row result — corpus size only enters through the first aggregate's
    * map-side combine. */
  def qMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
      .where($"source".isin("src1", "src2"))
      .select(($"source" === "src1").as("isa"), $"n_chars")
    val byVal = d.groupBy($"n_chars").agg(
      sum(when($"isa", 1L).otherwise(0L)).as("ca"),
      count(lit(1)).as("cnt"))
    // exclusive prefix count in value order — [[Dist.withPrefix]], no
    // unpartitioned window
    Dist.withPrefix(byVal, Seq($"n_chars"), Seq("cnt" -> "cumb"))
      .agg(
        sum($"ca").as("na"),
        sum($"cnt" - $"ca").as("nb"),
        sum($"ca".cast("decimal(38,0)") * (lit(2L) * $"cumb" + $"cnt" + 1L))
          .as("r2a"),
        sum($"cnt".cast("decimal(38,0)") * $"cnt" * $"cnt" - $"cnt")
          .as("ties"))
      .select($"na", $"nb",
        // 2U = 2R_a − n_a(n_a+1); halve in double (U can be *.5 under ties)
        (($"r2a" - $"na".cast("decimal(38,0)") * ($"na" + 1L)).cast("double")
          / 2.0).as("u"),
        $"ties", ($"na" + $"nb").as("n"))
      .select($"na", $"nb", round($"u", 1).as("u_stat"),
        (round(
          ($"u" - $"na".cast("double") * $"nb" / 2.0) /
            sqrt($"na".cast("double") * $"nb" / 12.0 *
              (($"n" + 1L).cast("double") -
                $"ties".cast("double")
                  / ($"n".cast("decimal(38,0)") * ($"n" - 1L)).cast("double"))),
          4) + 0.0).as("z_score"))
  }

  val mannWhitneySql: String =
    """WITH d AS (
      |  SELECT source = 'src1' AS isa, n_chars FROM documents
      |  WHERE source IN ('src1', 'src2')),
      |bv AS (
      |  SELECT n_chars, sum(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
      |    count(*) AS cnt
      |  FROM d GROUP BY 1),
      |c AS (
      |  SELECT ca, cnt, coalesce(sum(cnt) OVER (ORDER BY n_chars
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM bv),
      |s AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS na,
      |    CAST(sum(cnt - ca) AS BIGINT) AS nb,
      |    sum(CAST(ca AS HUGEINT) * (2 * cumb + cnt + 1)) AS r2a,
      |    sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
      |  FROM c)
      |SELECT na, nb,
      |  round(CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2.0, 1)
      |    AS u_stat,
      |  round((CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2.0
      |      - CAST(na AS DOUBLE) * nb / 2.0)
      |    / sqrt(CAST(na AS DOUBLE) * nb / 12.0
      |      * ((na + nb + 1) - CAST(ties AS DOUBLE)
      |         / CAST(CAST(na + nb AS HUGEINT) * (na + nb - 1) AS DOUBLE))), 4)
      |    + 0.0 AS z_score
      |FROM s""".stripMargin

  // --------------------------------------------- Spearman rank correlation

  /** Spearman rank correlation between quantity and price per return
    * flag — the monotone-association measure (Pearson on midranks) that
    * catches nonlinear but ordered relationships Pearson's r misses
    * (companion to [[Analytics.qQtyPriceCorr]]'s Pearson).
    *
    * Exactness: midranks are doubled to integers (2·cum_before+cnt+1 per
    * tied value group, partitioned by flag), joined back to rows, and the
    * five Pearson moments are exact DECIMAL(38,0) sums — ρ is invariant
    * under the ×2 scaling so one final double projection yields it. The
    * moments MUST be decimal, not long: Σ(ax²) with doubled ranks grows
    * ~4n³/3, which passes int64 at only ~2M rows per flag (≈ SF1). THE
    * OVERFLOW DISCIPLINE (the anchor every widened site cites): a long
    * spelling cannot survive 2^63 on either engine — these sessions run
    * Spark 4's ANSI default, where the overflow THROWS at scale (a
    * legacy/non-ANSI session would instead wrap silently to a wrong
    * value), and DuckDB errors on a BIGINT product while its plain
    * BIGINT sum silently widens to an exact HUGEINT — so depending on
    * mode and shape the unwidened query either dies at scale or
    * silently diverges from the oracle. Widening the OPERAND to
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) is the one spelling that
    * stays exact AND running on both engines; the cast must sit on the
    * factor, never the finished product, which has already overflowed
    * by the time a cast sees it. OverflowDisciplineSpec pins all three
    * underlying behaviors in CI. DECIMAL(38,0)
    * is exact through 4n³/3 < 10³⁸ ≈ 4×10¹² rows per flag. Scale shape:
    * two domain-bounded rank relations (distinct quantities / distinct
    * price cents per flag; the rank windows partition by flag, which is
    * acceptable because the grids are domain-bounded) then BROADCAST
    * back to the fact rows — the fact relation is never shuffled (the
    * broadcast is justified by domain size, not measured size: ~50
    * quantities and ~10⁵ floored dollar prices per flag regardless of
    * corpus rows), one hash aggregate.
    *
    * Clean-band adjudication (round 20 ABBA probe, anchor 0.32/0.20 s):
    * 2.30/1.84 s — the committed sweep's 2.81 s (retried from a 4.49 s
    * wobble) sits at this structural level plus sweep block pressure;
    * the level is the two rank-grid builds + the broadcast join-back.
    * Structural; no revert. */
  def qSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rowsDf = Tables.lineitem(spark, sfDir)
      .select($"l_returnflag".as("flag"),
        $"l_quantity".cast("long").as("x"),
        expr("CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))) AS BIGINT)")
          .as("y"))
    // the joint (flag, x, y) count grid is domain-bounded (quantities ×
    // floored dollar prices, ≤ ~5e6 cells/flag at ANY corpus size) and
    // supplies BOTH rank grids and the weighted Pearson moments —
    // ReuseAudit measured the old spelling at THREE fact scans (two
    // grid builds + the moment join over raw rows); materialized, the
    // fact table is read once and every row-level sum becomes the exact
    // cnt-weighted cell sum (identical integers, same DECIMAL widening)
    val vc = rowsDf.groupBy($"flag", $"x", $"y").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    def rank2(col: String): DataFrame = {
      val c = org.apache.spark.sql.functions.col(col)
      // per-flag prefix window over the DISTINCT-value grid: the grid is
      // domain-bounded (~50 quantities / ~10⁵ floored dollar prices per
      // flag regardless of corpus rows), so the |flags|-partition window
      // sorts a bounded relation — probed FASTER than the
      // Dist.withPrefix respelling at this grid size (the RDD
      // round-trips cost more than the bounded sort saves)
      val wb = Window.partitionBy($"flag").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, -1)
      vc.groupBy($"flag", c)
        .agg(sum($"cnt").as("cnt"))
        .withColumn("ar2",
          lit(2L) * coalesce(sum($"cnt").over(wb), lit(0L)) + $"cnt" + 1L)
        .select($"flag", c, $"ar2")
    }
    val rx = rank2("x").withColumnRenamed("ar2", "ax")
    val ry = rank2("y").withColumnRenamed("ar2", "ay")
    vc.join(broadcast(rx), Seq("flag", "x"))
      .join(broadcast(ry), Seq("flag", "y"))
      .groupBy($"flag")
      .agg(sum($"cnt").as("n"),
        sum($"cnt".cast("decimal(38,0)") * $"ax").as("sx"),
        sum($"cnt".cast("decimal(38,0)") * $"ay").as("sy"),
        sum($"cnt".cast("decimal(38,0)") * $"ax" * $"ax").as("sxx"),
        sum($"cnt".cast("decimal(38,0)") * $"ay" * $"ay").as("syy"),
        sum($"cnt".cast("decimal(38,0)") * $"ax" * $"ay").as("sxy"))
      .select($"flag".as("l_returnflag"), $"n",
        // + 0.0 normalizes a rounded-to-zero correlation: a vanishingly
        // small negative rho rounds to -0.0 on DuckDB but +0.0 through
        // Spark's BigDecimal HALF_UP, and the parity gate compares
        // strings ("-0.0" != "0.0") — same idiom as qWelchTtest's t_stat
        (round(($"n".cast("double") * $"sxy".cast("double")
          - $"sx".cast("double") * $"sy".cast("double"))
          / (sqrt($"n".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double"))
            * sqrt($"n".cast("double") * $"syy".cast("double")
              - $"sy".cast("double") * $"sy".cast("double"))), 6) + 0.0)
          .as("rho"))
      .orderBy($"l_returnflag")
  }

  val spearmanSql: String =
    """WITH t AS (
      |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2))) AS BIGINT) AS y
      |  FROM lineitem),
      |rx AS (
      |  SELECT flag, x,
      |    2 * coalesce(sum(cnt) OVER (PARTITION BY flag ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cnt + 1 AS ax
      |  FROM (SELECT flag, x, count(*) AS cnt FROM t GROUP BY 1, 2)),
      |ry AS (
      |  SELECT flag, y,
      |    2 * coalesce(sum(cnt) OVER (PARTITION BY flag ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + cnt + 1 AS ay
      |  FROM (SELECT flag, y, count(*) AS cnt FROM t GROUP BY 1, 2)),
      |m AS (
      |  SELECT flag, count(*) AS n,
      |    CAST(sum(ax) AS DECIMAL(38,0)) AS sx,
      |    CAST(sum(ay) AS DECIMAL(38,0)) AS sy,
      |    CAST(sum(ax * ax) AS DECIMAL(38,0)) AS sxx,
      |    CAST(sum(ay * ay) AS DECIMAL(38,0)) AS syy,
      |    CAST(sum(ax * ay) AS DECIMAL(38,0)) AS sxy
      |  FROM t JOIN rx USING (flag, x) JOIN ry USING (flag, y)
      |  GROUP BY 1)
      |SELECT flag AS l_returnflag, n,
      |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |      * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
      |    6) + 0.0 AS rho
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------- CUSUM changepoint

  /** CUSUM changepoint detection over the daily revenue series: the day t
    * maximizing |S_t| where S_t = Σ_{i≤t}(x_i − x̄) — the classic
    * level-shift locator (Page 1954), complementing
    * [[Analytics.qRollingAnomaly]]'s local z-spikes with a GLOBAL
    * break-in-mean answer.
    *
    * Exactness: with revenue in integer cents, n·S_t = n·cum_t − t·total
    * is an exact long (argmax is invariant under the ×n scaling); the
    * reported statistic divides back out in one double step. Magnitudes:
    * n_days·total-cents is WIDENED to DECIMAL(38,0)/HUGEINT — a long
    * spelling overflows on Spark (and errors on DuckDB's BIGINT
    * multiply) once corpus revenue passes ~$38T over a ~2400-day
    * calendar, which a 100 TB corpus exceeds. Scale shape:
    * one hash aggregate to the per-day relation (days are domain-bounded),
    * one window cumsum over it, one top-1 — fact rows only touch the
    * first aggregate. */
  def qCusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(sum(expr(
        "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)"))
        .as("cents"))
    val tot = daily.agg(sum($"cents").as("total"), count(lit(1)).as("nd"))
    // running revenue + day index via the distributed two-pass prefix
    // sum — no unpartitioned window even if the day grid grows
    Dist.withPrefix(daily, Seq($"day"), Seq("cents" -> "pre"), Some("t"))
      .withColumn("cum", $"pre" + $"cents")
      .crossJoin(broadcast(tot))                 // 1-row totals
      .select($"day", $"nd",
        abs($"nd".cast("decimal(38,0)") * $"cum"
          - $"t".cast("decimal(38,0)") * $"total").as("ns_abs"))
      .orderBy($"ns_abs".desc, $"day")
      .limit(1)
      .select($"day".as("changepoint"), $"nd".as("n_days"),
        round($"ns_abs".cast("double") / ($"nd".cast("double") * 100.0), 2)
          .as("cusum_stat"))
  }

  val cusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(floor(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total,
      |               count(*) AS nd FROM daily),
      |c AS (
      |  SELECT day, nd,
      |    abs(CAST(nd AS HUGEINT) * sum(cents) OVER (ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - CAST(row_number() OVER (ORDER BY day) AS HUGEINT) * total)
      |      AS ns_abs
      |  FROM daily CROSS JOIN tot)
      |SELECT day AS changepoint, CAST(nd AS BIGINT) AS n_days,
      |  round(CAST(ns_abs AS DOUBLE) / (CAST(nd AS DOUBLE) * 100.0), 2)
      |    AS cusum_stat
      |FROM c ORDER BY ns_abs DESC, day LIMIT 1""".stripMargin

  // ------------------------------------------------------ Welch's t-test

  /** Per-source Welch's t-test of document length vs the REST of the
    * corpus — the parametric drift companion to [[qKsTest]]'s
    * distribution-free sup statistic: KS says the distributions differ,
    * Welch says whether the MEAN shifted and by how many standard
    * errors, without assuming equal variances (the unequal-variance
    * t-test is the right default when one source is 100× another's
    * size). Reports t and the Welch–Satterthwaite degrees of freedom.
    *
    * Exactness: one hash aggregation collects per-source (n, Σx, Σx²) as
    * exact BIGINTs; the complement slice (n₂, s₂, q₂) is INTEGER
    * SUBTRACTION from the broadcast corpus totals — the "rest" sample
    * costs no second scan. All post-aggregate arithmetic runs in DOUBLE
    * with the identical operand order on both engines (same discipline
    * as the autocorrelation query), so results are bit-identical;
    * integer sums avoid the n·q overflow a cross-multiplied spelling
    * would hit, and Σx² is widened to DECIMAL(38,0)/HUGEINT — the
    * long sum only stays under 2^63 while max_chars·total_chars does,
    * which a corpus of long documents breaks well before 10¹² docs
    * (Spark overflows, DuckDB stays exact → divergence).
    * Scale shape: one aggregation + a 1-row broadcast — fact rows touch
    * exactly one shuffle. */
  def qWelchTtest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
      .select($"source", $"n_chars".cast("long").as("x"))
    val per = d.groupBy($"source").agg(count(lit(1)).as("n1"),
      sum($"x").as("s1"),
      sum($"x".cast("decimal(38,0)") * $"x").as("q1"))
    val tot = d.agg(count(lit(1)).as("ng"),
      sum($"x").as("sg"),
      sum($"x".cast("decimal(38,0)") * $"x").as("qg"))
    val j = per.crossJoin(broadcast(tot))
      .select($"source", $"n1", $"s1", $"q1",
        ($"ng" - $"n1").as("n2"), ($"sg" - $"s1").as("s2"),
        ($"qg" - $"q1").as("q2"))
    def m(s: Column, n: Column) = s.cast("double") / n.cast("double")
    def v(q: Column, s: Column, n: Column) =
      (q.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) /
        (n.cast("double") - 1.0)
    val se1 = v($"q1", $"s1", $"n1") / $"n1".cast("double")
    val se2 = v($"q2", $"s2", $"n2") / $"n2".cast("double")
    // degenerate-sample guard: a 1-doc source gives 0/0 variance and a
    // pair of zero-variance samples a 0 standard error — either would
    // emit NaN/Inf rows; such sources are excluded rather than reported
    // with non-numbers. The guard is on se1+se2 — the ACTUAL sqrt
    // argument, spelled identically on both engines: guarding on the
    // differently-weighted v1+v2 left a gap where a catastrophic-
    // cancellation negative variance on the larger sample could pass
    // one engine's predicate and fail the other's (Spark would emit
    // sqrt(negative)=NaN while DuckDB hard-errors on it)
    j.where($"n1" >= 2 && $"n2" >= 2)
      .where(se1 + se2 > 0.0)
      .select($"source", $"n1".as("n_src"),
        round(m($"s1", $"n1"), 4).as("mean_src"),
        round(m($"s2", $"n2"), 4).as("mean_rest"),
        (round((m($"s1", $"n1") - m($"s2", $"n2")) / sqrt(se1 + se2), 4)
          + 0.0).as("t_stat"),
        round((se1 + se2) * (se1 + se2) /
          (se1 * se1 / ($"n1".cast("double") - 1.0) +
           se2 * se2 / ($"n2".cast("double") - 1.0)), 2).as("df"))
      .orderBy($"source")
  }

  val welchTtestSql: String =
    """WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
      |per AS (
      |  SELECT source, count(*) AS n1, CAST(sum(x) AS BIGINT) AS s1,
      |    sum(CAST(x AS HUGEINT) * x) AS q1
      |  FROM d GROUP BY 1),
      |tot AS (
      |  SELECT count(*) AS ng, CAST(sum(x) AS BIGINT) AS sg,
      |    sum(CAST(x AS HUGEINT) * x) AS qg
      |  FROM d),
      |j AS (
      |  SELECT source, n1, s1, q1, ng - n1 AS n2, sg - s1 AS s2, qg - q1 AS q2
      |  FROM per CROSS JOIN tot),
      |c AS (
      |  SELECT source, n1, s1, n2, s2,
      |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |       / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
      |      / CAST(n1 AS DOUBLE) AS se1,
      |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |       / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)
      |      / CAST(n2 AS DOUBLE) AS se2
      |  FROM j)
      |SELECT source, n1 AS n_src,
      |  round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 4) AS mean_src,
      |  round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 4) AS mean_rest,
      |  round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |       - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(se1 + se2), 4)
      |    + 0.0 AS t_stat,
      |  round((se1 + se2) * (se1 + se2)
      |    / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
      |     + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)), 2) AS df
      |FROM c
      |WHERE n1 >= 2 AND n2 >= 2 AND se1 + se2 > 0
      |ORDER BY source""".stripMargin

  // ---------------------------------------- Benjamini–Hochberg FDR family

  /** Benjamini–Hochberg FDR control over the per-(source, language)
    * mean-length drift family — the multiple-testing layer a monitoring
    * pipeline needs on top of [[qWelchTtest]]'s single comparison: with
    * ~100 segments tested every run, an uncorrected α = 0.05 alarms on
    * ~5 segments by chance alone; BH's step-up keeps the expected FALSE
    * share of reported discoveries at α. Each segment's mean `n_chars`
    * is Welch-z-tested against the rest of the corpus, converted to a
    * two-sided p-value, then ranked: reject p₍ᵢ₎ while the adjusted
    * q-value (the monotone suffix-min of m·p₍ⱼ₎/j) stays ≤ α.
    *
    * Exactness: moments are exact BIGINTs (the Welch discipline; the
    * rest-of-corpus slice is integer subtraction from the broadcast
    * totals). z and the two-sided p via the Abramowitz–Stegun 7.1.25
    * erfc polynomial (|ε| ≤ 5e−5 two-sided; a rational+exp formula BOTH
    * engines evaluate in the identical operand order — no engine's
    * erfc/Φ built-in is portable) are doubles whose only cross-engine
    * hazard is the final libm `exp` ulp; quantizing p to 1e−9 BEFORE the
    * BH ranking absorbs it, so rank order, q-values, and the rejection
    * frontier are engine-identical. Scale shape: one corpus-pass hash
    * aggregation + a 1-row broadcast; the BH rank and suffix-min windows
    * run over the segment-family relation (sources × languages —
    * bounded, never corpus-sized: the vocabulary-bounded-window
    * precedent). */
  def qFdrBh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val alpha = 0.05
    val d = Tables.documents(spark, sfDir)
      .select($"source", $"lang", $"n_chars".cast("long").as("x"))
    val per = d.groupBy($"source", $"lang").agg(count(lit(1)).as("n1"),
      sum($"x").as("s1"),
      sum($"x".cast("decimal(38,0)") * $"x").as("q1"))
    val tot = d.agg(count(lit(1)).as("ng"),
      sum($"x").as("sg"),
      sum($"x".cast("decimal(38,0)") * $"x").as("qg"))
    val j = per.crossJoin(broadcast(tot))
      .select($"source", $"lang", $"n1", $"s1", $"q1",
        ($"ng" - $"n1").as("n2"), ($"sg" - $"s1").as("s2"),
        ($"qg" - $"q1").as("q2"))
    def vr(q: Column, s: Column, n: Column) =
      (q.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) /
        (n.cast("double") - 1.0)
    val md = $"s1".cast("double") / $"n1".cast("double") -
      $"s2".cast("double") / $"n2".cast("double")
    val v1 = vr($"q1", $"s1", $"n1")
    val v2 = vr($"q2", $"s2", $"n2")
    val zt = j.where($"n1" >= 2 && $"n2" >= 2)
      .withColumn("v1", v1).withColumn("v2", v2)
      // guard on the ACTUAL sqrt argument (the n-weighted se sum), not
      // the unweighted v1+v2 — the latter can be positive while the
      // weighted sum is negative under catastrophic cancellation, which
      // would flow NaN into the BH ranking here and hard-error the
      // oracle's sqrt (same discipline as qWelchTtest's guard)
      .where($"v1" / $"n1".cast("double") + $"v2" / $"n2".cast("double") > 0.0)
      .withColumn("z",
        md / sqrt($"v1" / $"n1".cast("double") + $"v2" / $"n2".cast("double")))
    // two-sided normal p via the shared A&S 7.1.25 spelling ([[ASErfc]])
    val pt = zt.withColumn("p", round(ASErfc.pTwoSided($"z"), 9))
    val fam = pt.crossJoin(broadcast(pt.agg(count(lit(1)).as("m"))))
    val wRank = Window.orderBy($"p", $"source", $"lang")
    val wSuffix = Window.orderBy($"p".desc, $"source".desc, $"lang".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fam.withColumn("rank", row_number().over(wRank))
      .withColumn("q_raw", $"m".cast("double") * $"p" / $"rank".cast("double"))
      .withColumn("qv", least(min($"q_raw").over(wSuffix), lit(1.0)))
      .select($"source", $"lang", $"n1".as("n_seg"),
        (round($"z", 4) + 0.0).as("z"),
        round($"p", 6).as("p_value"),
        round($"qv", 6).as("q_value"),
        ($"qv" <= alpha).as("rejected"))
      .orderBy($"source", $"lang")
  }

  val fdrBhSql: String =
    """WITH d AS (SELECT source, lang, CAST(n_chars AS BIGINT) AS x FROM documents),
      |per AS (
      |  SELECT source, lang, count(*) AS n1, CAST(sum(x) AS BIGINT) AS s1,
      |    sum(CAST(x AS HUGEINT) * x) AS q1
      |  FROM d GROUP BY 1, 2),
      |tot AS (
      |  SELECT count(*) AS ng, CAST(sum(x) AS BIGINT) AS sg,
      |    sum(CAST(x AS HUGEINT) * x) AS qg
      |  FROM d),
      |j AS (
      |  SELECT source, lang, n1, s1, q1, ng - n1 AS n2, sg - s1 AS s2, qg - q1 AS q2
      |  FROM per CROSS JOIN tot),
      |c AS (
      |  SELECT source, lang, n1,
      |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |       / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
      |    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |       / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS md,
      |    CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
      |  FROM j WHERE n1 >= 2 AND n2 >= 2),
      |zt AS (
      |  SELECT source, lang, n1, md / sqrt(v1 / n1d + v2 / n2d) AS z
      |  FROM c WHERE v1 / n1d + v2 / n2d > 0),
      |pt AS (
      |  SELECT source, lang, n1, z,
      |    round(""".stripMargin + ASErfc.sqlPTwoSided("z") + """, 9) AS p
      |  FROM zt),
      |fam AS (SELECT pt.*, m FROM pt CROSS JOIN (SELECT count(*) AS m FROM pt)),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY p, source, lang) AS rank FROM fam),
      |qv AS (
      |  SELECT *, least(min(CAST(m AS DOUBLE) * p / rank)
      |    OVER (ORDER BY p DESC, source DESC, lang DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) AS q_value
      |  FROM r)
      |SELECT source, lang, CAST(n1 AS BIGINT) AS n_seg, round(z, 4) + 0.0 AS z,
      |  round(p, 6) AS p_value, round(q_value, 6) AS q_value,
      |  q_value <= 0.05 AS rejected
      |FROM qv ORDER BY source, lang""".stripMargin

  // ------------------------------------------------------- one-way ANOVA

  /** One-way ANOVA F statistic across ALL sources' document lengths — the
    * k-group generalization of [[qWelchTtest]]'s two-sample comparison:
    * "do any of these slices differ in mean?" before pairwise drill-down.
    *
    * Exactness: per-group (n, Σx, Σx²) are exact integer aggregates (Σx²
    * widened to DECIMAL(38,0) — DuckDB sums BIGINT into HUGEINT, Spark
    * would wrap, so the widening keeps both engines exact); the
    * between/within sums of squares need Σ_g S_g²/n_g, inherently
    * rational, so the final assembly runs in doubles over the
    * #groups-bounded grid — ~20 same-magnitude terms into a round(4), far
    * inside double headroom. Scale shape: ONE corpus hash aggregate to the
    * group grid, then a grid-sized aggregation — corpus size only enters
    * map-side. */
  def qAnova(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val grid = Tables.documents(spark, sfDir)
      .groupBy($"source")
      .agg(count(lit(1)).as("ng"), sum($"n_chars").as("sg"),
        sum(($"n_chars" * $"n_chars").cast("decimal(38,0)")).as("sq"))
    grid.agg(
      count(lit(1)).as("k"), sum($"ng").as("n"), sum($"sg").as("s"),
      sum($"sq").as("sqt"),
      sum($"sg".cast("double") * $"sg".cast("double") / $"ng".cast("double"))
        .as("ssb_raw"))
      .select($"k", $"n",
        round(
          (($"ssb_raw" - $"s".cast("double") * $"s".cast("double") / $"n".cast("double"))
            / ($"k" - 1).cast("double"))
          / (($"sqt".cast("double") - $"ssb_raw") / ($"n" - $"k").cast("double")),
          4).as("f_stat"))
  }

  val anovaSql: String =
    """WITH grid AS (
      |  SELECT source, count(*) AS ng, sum(n_chars) AS sg,
      |    sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS sq
      |  FROM documents GROUP BY source),
      |t AS (
      |  SELECT count(*) AS k, sum(ng) AS n, sum(sg) AS s, sum(sq) AS sqt,
      |    sum(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
      |      AS ssb_raw
      |  FROM grid)
      |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      |  round(
      |    ((ssb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(k - 1 AS DOUBLE))
      |    / ((CAST(sqt AS DOUBLE) - ssb_raw) / CAST(n - k AS DOUBLE)),
      |  4) AS f_stat
      |FROM t""".stripMargin

  // ------------------------------------------- Kaplan-Meier survival curve

  /** Kaplan–Meier estimate of customer time-to-repeat-purchase — the
    * right-censored survival curve behind every churn/retention report:
    * duration = days from a customer's first to second order date; a
    * customer with no second order is CENSORED at the study end (the
    * latest order date), which a plain "average days to reorder" silently
    * discards.
    *
    * Exactness: the day grid, event/censor counts and at-risk counts are
    * exact integers ([[Dist.withPrefix]] supplies the risk-set prefix
    * without an unpartitioned window); each event time's ln(1 − d/n) is
    * micro-nat quantized to an INTEGER before the cumulative sum (the
    * family's micro-nat idiom), so the running product's log is an exact
    * long prefix and one exp ends it. A time where EVERYONE at risk dies
    * sends ln→−∞ — clamped to −100 nats (exp ⇒ 0 at round 6) instead of a
    * NaN/overflow divergence. Scale shape: per-customer first/second
    * dates from a customer-partitioned rank window (bounded by orders per
    * customer), then everything runs on the DAY-domain-bounded duration
    * grid — corpus size never reaches a window. */
  def qKaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, sfDir)
      .select($"o_custkey".as("cust"),
        Epoch.day($"o_orderdate").as("day"))
      .distinct()
    val firstTwo = o
      .withColumn("rn", row_number().over(Window.partitionBy($"cust").orderBy($"day")))
      .where($"rn" <= 2)
    // the 1-row study-end aggregate and the DAY-domain-bounded duration
    // grid are both materialized: the round-19 listener audit
    // (graft.RuntimeScans) measured 4 runtime orders scans — subj was
    // re-derived for the separate ntot count, and each derivation
    // carried its own dend subtree. ntot re-derives from the grid as an
    // exact integer re-sum (every subject lands in exactly one duration
    // bucket, so Σ(d+c) IS the subject count); the checkpoints pin the
    // query at its 2-pass floor: one orders scan for the per-customer
    // first/second days, one for the global study end
    // (RuntimeScanSpec: orders=2).
    val dend = o.agg(max($"day").as("dend")).localCheckpoint(true)
    val subj = firstTwo.groupBy($"cust")
      .agg(min(when($"rn" === 1, $"day")).as("d0"),
        min(when($"rn" === 2, $"day")).as("d1"))
      .crossJoin(broadcast(dend))
      .select(
        when($"d1".isNotNull, $"d1" - $"d0").otherwise($"dend" - $"d0").as("dur"),
        when($"d1".isNotNull, 1L).otherwise(0L).as("ev"))
    val grid = subj.groupBy($"dur")
      .agg(sum($"ev").as("d"), sum(lit(1L) - $"ev").as("c"))
      .withColumn("tot", $"d" + $"c")
      .localCheckpoint(true)
    // coalesce: empty corpus reads as 0 (count semantics), not NULL
    val ntot = grid.agg(coalesce(sum($"tot"), lit(0L)).as("ntot"))
    val terms = Dist.withPrefix(grid, Seq($"dur"), Seq("tot" -> "cumb"))
      .crossJoin(broadcast(ntot))
      .withColumn("n_risk", $"ntot" - $"cumb")
      .withColumn("lt",
        when($"d" > 0 && $"d" < $"n_risk",
          round(log(lit(1.0) - $"d".cast("double") / $"n_risk".cast("double"))
            * 1000000.0).cast("long"))
          .when($"d" > 0, lit(-100000000L))
          .otherwise(0L))
    Dist.withPrefix(terms, Seq($"dur"), Seq("lt" -> "cumln"))
      .where($"d" > 0)
      .select($"dur".as("dur_days"), $"n_risk", $"d".as("d_events"),
        round(exp(($"cumln" + $"lt").cast("double") / 1000000.0), 6).as("survival"))
      .orderBy($"dur_days")
  }

  val kaplanMeierSql: String =
    """WITH o AS (
      |  SELECT DISTINCT o_custkey AS cust,
      |    datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders),
      |r AS (SELECT cust, day,
      |        row_number() OVER (PARTITION BY cust ORDER BY day) AS rn FROM o),
      |p AS (SELECT cust, min(CASE WHEN rn = 1 THEN day END) AS d0,
      |        min(CASE WHEN rn = 2 THEN day END) AS d1
      |      FROM r WHERE rn <= 2 GROUP BY cust),
      |e AS (SELECT max(day) AS dend FROM o),
      |s AS (SELECT CASE WHEN d1 IS NOT NULL THEN d1 - d0 ELSE dend - d0 END AS dur,
      |        CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      |      FROM p CROSS JOIN e),
      |g AS (SELECT dur, sum(ev) AS d, sum(1 - ev) AS c FROM s GROUP BY dur),
      |t AS (SELECT g.*,
      |        coalesce(sum(d + c) OVER (ORDER BY dur
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
      |        (SELECT count(*) FROM s) AS ntot
      |      FROM g),
      |m AS (SELECT dur, d, ntot - cumb AS n_risk,
      |        CASE WHEN d > 0 AND d < ntot - cumb THEN
      |          CAST(round(ln(1.0 - CAST(d AS DOUBLE) / (ntot - cumb)) * 1000000) AS BIGINT)
      |        WHEN d > 0 THEN -100000000 ELSE 0 END AS lt
      |      FROM t),
      |f AS (SELECT dur, d, n_risk,
      |        sum(lt) OVER (ORDER BY dur
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM m)
      |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d AS BIGINT) AS d_events,
      |  round(exp(CAST(cum AS DOUBLE) / 1000000), 6) AS survival
      |FROM f WHERE d > 0 ORDER BY dur_days""".stripMargin

  // --------------------------------------------- hash-seeded bootstrap SE

  /** Standard error of the corpus mean document length by a DETERMINISTIC
    * Poisson bootstrap — the one-pass distributed resampling trick (the
    * spirit of AMPLab's Bag of Little Bootstraps: resample WEIGHTS, not
    * rows): each of B=20 replicates assigns every document a
    * Poisson(1)-distributed integer weight by inverting the CDF on the
    * shared 60-bit md5 uniform seeded with (doc_id, replicate) — so the
    * "resampling" is a pure projection any engine replays bit-identically,
    * no RNG state, no shuffled sample materialized.
    *
    * Exactness: weights and weighted sums are exact integers per
    * replicate; each replicate mean is one double division, and the SE
    * over the B-bounded replicate grid is assembled in doubles (same
    * grid-sized-double budget as [[qAnova]], round 4/6). Scale shape: a
    * B-fold expansion of (doc_id, n_chars) PAIRS only (text never rides
    * the explode), one (replicate)-keyed hash aggregate with map-side
    * combine, then a 20-row reduction. */
  def qBootstrapSe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Poisson(1) CDF cutpoints scaled to the 60-bit uniform's 2^60 range
    val cut = Seq(424136118829305344L, 848272237658610688L,
      1060340297073263360L, 1131029650211480960L, 1148701988496035328L)
    val u = Similarity.digest60(
      concat($"doc_id".cast("string"), lit(":"), $"r".cast("string")))
    val w = cut.zipWithIndex.foldRight(lit(5L): Column) {
      case ((c, i), rest) => when(u < c, i.toLong).otherwise(rest)
    }
    val reps = Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars")
      .withColumn("r", explode(sequence(lit(0), lit(19))))
      .groupBy($"r")
      .agg(sum(w).as("sw"), sum(w * $"n_chars").as("swx"))
      .select(($"swx".cast("double") / $"sw").as("m"))
    val corpus = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sx"))
    reps.agg(count(lit(1)).as("b"), sum($"m").as("sm"), sum($"m" * $"m").as("sm2"))
      .crossJoin(broadcast(corpus))
      .select($"n_docs", $"b",
        round($"sx".cast("double") / $"n_docs", 4).as("corpus_mean"),
        round(sqrt(($"sm2" - $"sm" * $"sm" / $"b") / ($"b" - 1)), 4).as("boot_se"))
  }

  val bootstrapSeSql: String =
    """WITH d AS (SELECT doc_id, n_chars FROM documents),
      |x AS (
      |  SELECT doc_id, n_chars, r.r,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |      CAST(r.r AS VARCHAR)), 1, 15) AS BIGINT) AS u
      |  FROM d CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS r) r),
      |wts AS (
      |  SELECT r, n_chars,
      |    CASE WHEN u < 424136118829305344 THEN 0
      |         WHEN u < 848272237658610688 THEN 1
      |         WHEN u < 1060340297073263360 THEN 2
      |         WHEN u < 1131029650211480960 THEN 3
      |         WHEN u < 1148701988496035328 THEN 4
      |         ELSE 5 END AS w
      |  FROM x),
      |reps AS (
      |  SELECT r, CAST(sum(w * n_chars) AS DOUBLE) / sum(w) AS m
      |  FROM wts GROUP BY r),
      |agg AS (
      |  SELECT count(*) AS b, sum(m) AS sm, sum(m * m) AS sm2 FROM reps),
      |corpus AS (SELECT count(*) AS n_docs, sum(n_chars) AS sx FROM d)
      |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(b AS BIGINT) AS b,
      |  round(CAST(sx AS DOUBLE) / n_docs, 4) AS corpus_mean,
      |  round(sqrt((sm2 - sm * sm / b) / (b - 1)), 4) AS boot_se
      |FROM agg CROSS JOIN corpus""".stripMargin

  // ------------------------------------------------- Theil-Sen robust slope

  /** Theil–Sen estimator of the daily-revenue trend — the robust
    * companion to `q_trend_slope`'s OLS: the MEDIAN of all pairwise
    * slopes, insensitive to ~29% outlier contamination where one wild
    * day drags least squares arbitrarily far.
    *
    * Exactness: each pairwise slope is floor(Δrev·1e6/Δday) — the float
    * product Δrev·1e6 stays ≤ 2^53 so the double math is exact and the
    * floor lands identically on both engines (explicit floor instead of
    * integer division, whose negative-operand rounding differs between
    * engines); the median comes from the value-count relation by exact
    * rank selection over [[Dist.withPrefix]]'s distributed cumulative
    * count (the ×2 trick averages the two middles without leaving
    * integers). Scale shape: the day grid is CALENDAR-bounded, so the
    * O(days²) pair self-join is bounded at any corpus size (~3M pairs
    * for 7 years) — corpus rows only enter the one fact aggregate.
    *
    * Size-dispatched (the triangle-count discipline): the slope
    * MULTISET is pairs-bounded, so under [[TheilSenDriverMaxPairs]] the
    * slopes collect to the driver as one primitive array — sort, take
    * the middle two — skipping the value-count shuffle, its checkpoint,
    * and the two prefix scans (measured 2× on the suite fixture:
    * ~1.3-1.7 s vs ~3.0-3.3 s same-session). Past the
    * cap (a multi-decade calendar) the SAME query runs the distributed
    * rank-selection arm; both arms share the one pair expression and a
    * both-arms agreement test pins them to the same row.
    *
    * Clean-band adjudication (round 20 ABBA probe, anchor 0.37/0.28 s):
    * 2.00/1.69 s — the r19 clean-sweep 3.86 s does not reproduce under
    * probe conditions and the r20 full sweep read 1.86 s; the suite-max
    * entries are full-sweep block pressure on the bounded driver sort,
    * not fixture overhead. Structural; no revert. */
  def qTheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    theilSenOfDaily(
      Tables.orders(spark, sfDir)
        .select(
          Epoch.day($"o_orderdate").as("day"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("rev_c"))
        .groupBy($"day").agg(sum($"rev_c").as("rev_c")))
  }

  /** Pair-count ceiling for the driver-median arm: 8M slopes × 8 B ≈
    * 64 MB of primitive longs — comfortably inside a default driver
    * budget (the TPC-H calendar yields ~2.9M; 8M covers ~11 years of
    * days before grading out to the distributed arm). */
  private val TheilSenDriverMaxPairs = 8000000L

  /** [[qTheilSen]]'s algorithm core over a prepared (day, rev_c) daily
    * relation — extracted so synthetic both-arms tests can drive it with
    * adversarial parity/tie cases (even/odd pair counts, tied slopes at
    * the median) the fixture calendar never hits. */
  private[graft] def theilSenOfDaily(daily0: DataFrame): DataFrame = {
    val spark = daily0.sparkSession
    import spark.implicits._
    def pairSlopes(a: DataFrame, b: DataFrame) =
      a.as("a").join(b.as("b"), col("a.day") < col("b.day"))
        .select(floor((col("b.rev_c") - col("a.rev_c")).cast("double") * 1000000.0
          / (col("b.day") - col("a.day")).cast("double")).cast("long").as("s"))
    // ceiling space is PAIRS, not days (the driver arm collects the
    // O(days²) slope multiset), hence the measure function
    Dist.sizeDispatch(daily0, TheilSenDriverMaxPairs,
        measure = (_, nDays) => nDays * (nDays - 1L) / 2L) { (daily, _) =>
      val slopes = pairSlopes(daily, daily).as[Long].collect()
      java.util.Arrays.sort(slopes)
      val n = slopes.length
      val m2 = slopes((n - 1) / 2) + slopes(n / 2)
      var nv = 1
      var i = 1
      while (i < n) { if (slopes(i) != slopes(i - 1)) nv += 1; i += 1 }
      // the final projection routes m2 through the SAME Spark round the
      // distributed arm uses, so the two arms (and the oracle) agree on
      // HALF_UP ties at the 6th decimal bit-for-bit; + 0.0 normalizes a
      // barely-negative median slope that rounds to signed zero (DuckDB
      // round yields -0.0 where Spark yields +0.0 — a string-compare
      // parity fail), identically in all three spellings
      spark.range(1).select(
        lit(n.toLong).as("n_pairs"), lit(nv.toLong).as("n_distinct_slopes"),
        (round(lit(m2.toDouble) / 2.0e6 / 100.0, 6) + 0.0)
          .as("ts_slope_per_day"))
    } { (daily, _) =>
      // the O(days²) pair generation feeds THREE evaluations (the totals
      // agg + the prefix pass's two scans) — checkpoint the ~|pairs|-
      // bounded value-count relation so the BNLJ runs exactly once.
      // (A ranksOfCountsBucketed spelling was measured SLOWER here — 8.5 s
      // vs ~3 s — its multi-pass bucket refinement only pays off when the
      // distinct grid can't be checkpointed whole; this one is 23 MB.)
      val vc = pairSlopes(daily, daily)
        .groupBy($"s").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val tot = vc.agg(sum($"cnt").as("n"), count(lit(1)).as("nv"))
      Dist.withPrefix(vc, Seq($"s"), Seq("cnt" -> "cumb"))
        .crossJoin(broadcast(tot))
        .withColumn("lo", expr("(n + 1) DIV 2"))
        .withColumn("hi", expr("(n + 2) DIV 2"))
        .agg(
          max($"n").as("n_pairs"), max($"nv").as("n_distinct_slopes"),
          (sum(when($"cumb" < $"lo" && $"lo" <= $"cumb" + $"cnt", $"s")) +
            sum(when($"cumb" < $"hi" && $"hi" <= $"cumb" + $"cnt", $"s"))).as("m2"))
        .select($"n_pairs", $"n_distinct_slopes",
          (round($"m2".cast("double") / 2.0e6 / 100.0, 6) + 0.0)
            .as("ts_slope_per_day"))
    }
  }

  val theilSenSql: String =
    """WITH daily AS (
      |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day,
      |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev_c
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT CAST(floor(CAST(b.rev_c - a.rev_c AS DOUBLE) * 1000000.0
      |    / (b.day - a.day)) AS BIGINT) AS s
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |vc AS (SELECT s, count(*) AS cnt FROM p GROUP BY s),
      |c AS (
      |  SELECT s, cnt,
      |    coalesce(sum(cnt) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM vc),
      |t AS (SELECT sum(cnt) AS n, count(*) AS nv FROM vc),
      |m AS (
      |  SELECT max(n) AS n_pairs, max(nv) AS nv,
      |    sum(CASE WHEN cumb < (n + 1) // 2 AND (n + 1) // 2 <= cumb + cnt
      |        THEN s ELSE 0 END) +
      |    sum(CASE WHEN cumb < (n + 2) // 2 AND (n + 2) // 2 <= cumb + cnt
      |        THEN s ELSE 0 END) AS m2
      |  FROM c CROSS JOIN t)
      |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(nv AS BIGINT) AS n_distinct_slopes,
      |  round(CAST(m2 AS DOUBLE) / 2.0e6 / 100.0, 6) + 0.0 AS ts_slope_per_day
      |FROM m""".stripMargin

  // ------------------------------------- Population Stability Index (PSI)

  /** Population Stability Index of document length between the md5 80%
    * train split and the held-out 20% — THE model-ops drift score
    * (PSI < 0.1 stable / 0.1–0.25 moderate / > 0.25 shifted): the
    * held-out distribution is binned by the TRAIN split's exact deciles
    * and Σ (p−q)·ln(p/q) accumulated per bin.
    *
    * Exactness: decile cuts come from exact count-based rank selection
    * over the train value-count relation ([[Dist.withPrefix]] — the
    * family's no-unpartitioned-window quantile spelling); bin counts are
    * exact integers with +1 smoothing on BOTH engines (an empty held-out
    * bin would send ln to ∞); the ln terms are assembled in the final
    * projection over the 10-row bin grid. Scale shape: one value-count
    * aggregate, a 9-row broadcast cut table, one 10-key aggregate. */
  def qPsi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
      .select($"n_chars".as("v"),
        (graft.ops.Similarity.digest60($"doc_id".cast("string")) % 10L < 8L).as("is_train"))
    // (length-value × train-flag)-bounded count grid — the train value
    // counts, the binning pass, and both totals are exact cnt-weighted
    // re-aggregations of it (ReuseAudit: three runtime corpus scans
    // without the materialization); one corpus pass at any scale. Round
    // 21: the grid rides the shared sizeDispatch seam — under the
    // ceiling the decile cuts, binning, and PSI terms replay locally in
    // the identical op order (integer DIV rank cuts, +1 smoothing,
    // HALF_UP micro rounding); the distributed Dist.withPrefix +
    // broadcast-grid fan below is unchanged above it.
    val vc20 = d.groupBy($"v", $"is_train").agg(count(lit(1)).as("cnt"))
    Dist.sizeDispatch(vc20, PsiDriverMaxValues) { (vc2d, _) =>
      val rows = vc2d.as[(Long, Boolean, Long)].collect()
      // train value counts in ascending value order (the withPrefix sort)
      val train = rows.iterator.filter(_._2).map(t => (t._1, t._3)).toArray
      train.sortInPlaceBy(_._1)
      val n = train.iterator.map(_._2).sum
      // decile cuts: value whose cumulative span [cumb, cumb+cnt] covers
      // rank (k·n) DIV 10 — same integer arithmetic as the exists() SQL
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cumb = 0L
      train.foreach { case (v, cnt) =>
        if ((1 to 9).exists { k =>
          val r = k * n / 10; cumb < r && r <= cumb + cnt
        }) cuts += v
        cumb += cnt
      }
      // bin = #cuts strictly below v; accumulate per (bin, is_train)
      val tn = scala.collection.mutable.LongMap.empty[Long]
      val en = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach { case (v, isTrain, cnt) =>
        var bin = 0L
        cuts.foreach { c => if (v > c) bin += 1L }
        if (isTrain) tn(bin) = tn.getOrElse(bin, 0L) + cnt
        else en(bin) = en.getOrElse(bin, 0L) + cnt
      }
      val bins = (tn.keySet ++ en.keySet).toSeq.sorted
      val tt = tn.values.sum + 10L
      val et = en.values.sum + 10L
      val out = bins.map { b =>
        val t = tn.getOrElse(b, 0L)
        val e = en.getOrElse(b, 0L)
        val term = Dist.rnd6(((t + 1L).toDouble / tt - (e + 1L).toDouble / et) *
          (Math.log((t + 1L).toDouble / tt) - Math.log((e + 1L).toDouble / et)))
        (b, t, e, term)
      }
      spark.createDataset(out).toDF("bin", "tn", "en", "psi_term")
        .orderBy($"bin")
    } { (vc2, _) => psiDistributed(vc2) }
  }

  /** Value-row ceiling for [[qPsi]]'s driver arm: the (length value ×
    * train flag) grid is length-domain-bounded (≤ 2·|distinct n_chars|),
    * never corpus-sized — the same boundedness class as the
    * outlier/winsorize cents grids, same 2M ceiling. */
  private val PsiDriverMaxValues = 2000000L

  private def psiDistributed(vc2: DataFrame): DataFrame = {
    val spark = vc2.sparkSession
    import spark.implicits._
    val vc = vc2.where($"is_train").select($"v", $"cnt")
    val cuts = Dist.withPrefix(vc, Seq($"v"), Seq("cnt" -> "cumb"))
      .crossJoin(broadcast(vc.agg(sum($"cnt").as("n"))))
      .select($"v", $"cumb", $"cnt", $"n")
      .where(expr(
        "exists(sequence(1, 9), k -> cumb < (k * n) DIV 10 AND (k * n) DIV 10 <= cumb + cnt)"))
      .select($"v".as("cut"))
    val binned = vc2.crossJoin(broadcast(cuts.agg(
        sort_array(collect_list($"cut")).as("cs"))))
      .select($"is_train", $"cnt",
        aggregate($"cs", lit(0L), (acc, c) => acc + when($"v" > c, 1L).otherwise(0L))
          .as("bin"))
    binned.groupBy($"bin")
      .agg(sum(when($"is_train", $"cnt").otherwise(0L)).as("tn"),
        sum(when(!$"is_train", $"cnt").otherwise(0L)).as("en"))
      .crossJoin(broadcast(binned.agg(
        (sum(when($"is_train", $"cnt").otherwise(0L)) + 10L).as("tt"),
        (sum(when(!$"is_train", $"cnt").otherwise(0L)) + 10L).as("et"))))
      .select($"bin", $"tn", $"en",
        round((($"tn" + 1L).cast("double") / $"tt" - ($"en" + 1L).cast("double") / $"et")
          * (log(($"tn" + 1L).cast("double") / $"tt")
            - log(($"en" + 1L).cast("double") / $"et")), 6).as("psi_term"))
      .orderBy($"bin")
  }

  val psiSql: String =
    """WITH d AS (
      |  SELECT n_chars AS v,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 10 < 8 AS is_train
      |  FROM documents),
      |vc AS (SELECT v, count(*) AS cnt FROM d WHERE is_train GROUP BY v),
      |c AS (
      |  SELECT v, cnt,
      |    coalesce(sum(cnt) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
      |    (SELECT sum(cnt) FROM vc) AS n
      |  FROM vc),
      |cuts AS (
      |  SELECT v AS cut FROM c
      |  WHERE EXISTS (SELECT 1 FROM (SELECT unnest(generate_series(1, 9)) AS k)
      |    WHERE cumb < (k * n) // 10 AND (k * n) // 10 <= cumb + cnt)),
      |b AS (
      |  SELECT is_train,
      |    (SELECT count(*) FROM cuts WHERE d.v > cuts.cut) AS bin
      |  FROM d),
      |g AS (
      |  SELECT bin, sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS tn,
      |    sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS en
      |  FROM b GROUP BY bin),
      |t AS (SELECT sum(tn) + 10 AS tt, sum(en) + 10 AS et FROM g)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(tn AS BIGINT) AS tn,
      |  CAST(en AS BIGINT) AS en,
      |  round((CAST(tn + 1 AS DOUBLE) / tt - CAST(en + 1 AS DOUBLE) / et)
      |    * (ln(CAST(tn + 1 AS DOUBLE) / tt) - ln(CAST(en + 1 AS DOUBLE) / et)),
      |  6) AS psi_term
      |FROM g CROSS JOIN t ORDER BY bin""".stripMargin

  // ------------------------------------------------- Wald-Wolfowitz runs

  /** Wald–Wolfowitz runs test on the sign of day-over-day revenue moves —
    * "is the daily series random, or does it trend/oscillate?": too FEW
    * runs of consecutive ups/downs reads momentum, too many reads
    * mean-reversion; z is the standard normal approximation from the
    * exact up/down/run counts.
    *
    * Exactness: signs, the lag-based run starts, and (n₊, n₋, R) are
    * exact integers on the day grid. Ties — equal consecutive revenues,
    * essentially impossible in summed-cents data but reachable on
    * regenerated fixtures or real deployments — are DROPPED on both
    * engines (the Wald–Wolfowitz convention), and the retained sign
    * sequence is RE-INDEXED contiguously before the run-boundary
    * comparison: without the re-index a dropped tie would leave an index
    * gap that fabricates a spurious run start. The mean/variance
    * assembly is one double projection, `+ 0.0`-normalized on both
    * engines (a z that rounds to signed zero must not diverge as -0.0
    * vs 0.0 in the string-compared parity gate). Scale shape: one fact
    * aggregate to the calendar-bounded day grid, [[Dist.withPrefix]]
    * supplies the ordered previous-day value as an index self-join (no
    * unpartitioned lag window), one 1-row result.
    *
    * Clean-band adjudication (round 20 ABBA probe, post-tie-fix):
    * 1.01/1.15 s in both positions vs the 0.88 s pre-fix baseline — the
    * ~+0.2 s is the tie-drop's second day-grid prefix pass (calendar-
    * bounded at any corpus scale). Structural; correctness-motivated;
    * no revert. */
  def qRunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runsTestOfDaily(
      Tables.orders(spark, sfDir)
        .select(
          Epoch.day($"o_orderdate").as("day"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("rev_c"))
        .groupBy($"day").agg(sum($"rev_c").as("rev_c")))
  }

  /** [[qRunsTest]]'s algorithm core over a prepared (day, rev_c) daily
    * relation — extracted so synthetic tests can drive the TIE path
    * (equal consecutive revenues) the fixture calendar never produces:
    * a dropped tie must neither count as a move nor fabricate a run
    * boundary across the gap it leaves. */
  private[graft] def runsTestOfDaily(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    val g = Dist.withPrefix(daily, Seq($"day"), Seq("rev_c" -> "pre"), Some("idx"))
      .localCheckpoint(true)
    val prev = g.select(($"idx" + 1L).as("idx"), $"rev_c".as("prev_rev"))
    val signs0 = g.join(prev, Seq("idx"))                // drops the first row
      .where($"rev_c" =!= $"prev_rev")                   // ties dropped
      .select($"idx".as("day_idx"), ($"rev_c" > $"prev_rev").as("up"))
    // contiguous re-index of the tie-free sign sequence (day-grid
    // bounded), so each retained sign compares to the PREVIOUS RETAINED
    // sign even across a dropped-tie gap
    val signs = Dist.withPrefix(signs0, Seq($"day_idx"), Seq.empty, Some("sidx"))
    val prevSign = signs.select(($"sidx" + 1L).as("sidx"), $"up".as("prev_up"))
    signs.join(prevSign, Seq("sidx"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when($"up", 1L).otherwise(0L)).as("n_up"),
        sum(when($"prev_up".isNull || $"up" =!= $"prev_up", 1L).otherwise(0L))
          .as("runs"))
      .select($"n", $"n_up", ($"n" - $"n_up").as("n_down"), $"runs",
        (round(($"runs".cast("double")
          - (lit(2.0) * $"n_up" * ($"n" - $"n_up") / $"n" + 1.0))
          / sqrt((lit(2.0) * $"n_up" * ($"n" - $"n_up")
              * (lit(2.0) * $"n_up" * ($"n" - $"n_up") - $"n"))
            / ($"n".cast("double") * $"n" * ($"n" - 1L))), 4) + 0.0)
          .as("z_score"))
  }

  val runsTestSql: String =
    """WITH daily AS (
      |  SELECT datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day,
      |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev_c
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT day, rev_c, rev_c > lag(rev_c) OVER (ORDER BY day) AS up,
      |    lag(rev_c) OVER (ORDER BY day) AS prev_rev
      |  FROM daily),
      |s2 AS (
      |  SELECT up, lag(up) OVER (ORDER BY day) AS prev_up
      |  FROM s WHERE prev_rev IS NOT NULL AND rev_c <> prev_rev),
      |m AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN up THEN 1 ELSE 0 END) AS n_up,
      |    sum(CASE WHEN prev_up IS NULL OR up <> prev_up THEN 1 ELSE 0 END)
      |      AS runs
      |  FROM s2)
      |SELECT CAST(n AS BIGINT) AS n, CAST(n_up AS BIGINT) AS n_up,
      |  CAST(n - n_up AS BIGINT) AS n_down, CAST(runs AS BIGINT) AS runs,
      |  round((CAST(runs AS DOUBLE)
      |    - (2.0 * n_up * (n - n_up) / n + 1.0))
      |    / sqrt((2.0 * n_up * (n - n_up) * (2.0 * n_up * (n - n_up) - n))
      |      / (CAST(n AS DOUBLE) * n * (n - 1))), 4) + 0.0 AS z_score
      |FROM m""".stripMargin

  // ------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ks_test" -> (qKsTest _),
    "q_mann_whitney" -> (qMannWhitney _),
    "q_spearman" -> (qSpearman _),
    "q_welch_ttest" -> (qWelchTtest _),
    "q_fdr_bh" -> (qFdrBh _),
    "q_cusum_changepoint" -> (qCusumChangepoint _),
    "q_anova" -> (qAnova _),
    "q_kaplan_meier" -> (qKaplanMeier _),
    "q_bootstrap_se" -> (qBootstrapSe _),
    "q_theil_sen" -> (qTheilSen _),
    "q_psi" -> (qPsi _),
    "q_runs_test" -> (qRunsTest _))

  val oracle: Map[String, String] = Map(
    "q_ks_test" -> ksTestSql,
    "q_mann_whitney" -> mannWhitneySql,
    "q_spearman" -> spearmanSql,
    "q_welch_ttest" -> welchTtestSql,
    "q_fdr_bh" -> fdrBhSql,
    "q_cusum_changepoint" -> cusumChangepointSql,
    "q_anova" -> anovaSql,
    "q_kaplan_meier" -> kaplanMeierSql,
    "q_bootstrap_se" -> bootstrapSeSql,
    "q_theil_sen" -> theilSenSql,
    "q_psi" -> psiSql,
    "q_runs_test" -> runsTestSql)
}
