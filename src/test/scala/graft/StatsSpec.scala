package graft

import graft.ops.Stats
import graft.tables.Tables

/** Independent driver-side replays of the [[Stats]] hypothesis-test
  * family — each test recomputes the statistic from raw rows in plain
  * Scala (no Spark ops) and demands exact agreement. */
class StatsSpec extends GraftSuite {

  private lazy val docs: Seq[(String, Long)] =
    Tables.documents(spark, sf).select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  test("q_ks_test matches an exact CDF replay per source") {
    val got = rows(Stats.qKsTest(spark, sf))
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ng = docs.size
    val values = docs.map(_._2).distinct.sorted
    val globalCum = values.map(v => v -> docs.count(_._2 <= v)).toMap
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val ns = ds.size
      val dnum = values.map { v =>
        math.abs(ds.count(_._2 <= v).toLong * ng - globalCum(v).toLong * ns)
      }.max
      src -> (ns.toLong,
        BigDecimal(dnum.toDouble / (ns.toLong * ng))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == expected)
    // D is a probability distance: in (0, 1], and someone must drift
    assert(got.values.forall { case (_, d) => d > 0.0 && d <= 1.0 })
  }

  /** Midrank of value v within sample `all` (1-based, ties averaged). */
  private def midranks(all: Seq[Long]): Map[Long, Double] = {
    val sorted = all.sorted
    sorted.zipWithIndex.groupBy(_._1).view
      .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.size).toMap
  }

  test("q_mann_whitney matches an exact midrank replay") {
    val a = docs.filter(_._1 == "src1").map(_._2)
    val b = docs.filter(_._1 == "src2").map(_._2)
    assert(a.nonEmpty && b.nonEmpty)
    val mr = midranks(a ++ b)
    val ra = a.map(mr).sum
    val (na, nb) = (a.size.toLong, b.size.toLong)
    val u = ra - na * (na + 1) / 2.0
    val n = na + nb
    val ties = (a ++ b).groupBy(identity).values
      .map(g => g.size.toLong).map(t => t * t * t - t).sum
    val z = (u - na.toDouble * nb / 2.0) /
      math.sqrt(na.toDouble * nb / 12.0 *
        ((n + 1).toDouble - ties.toDouble / (n * (n - 1))))
    val r = rows(Stats.qMannWhitney(spark, sf)).head
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    assert(r.getDouble(2) == BigDecimal(u).setScale(1,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(3) == BigDecimal(z).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("q_spearman matches an exact midrank Pearson replay") {
    val li = Tables.lineitem(spark, sf)
      .selectExpr("l_returnflag", "CAST(l_quantity AS LONG)",
        "CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(12,2))) AS LONG)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = li.groupBy(_._1).map { case (flag, rs) =>
      val rx = midranks(rs.map(_._2))
      val ry = midranks(rs.map(_._3))
      val pts = rs.map(t => (rx(t._2), ry(t._3)))
      val n = pts.size.toDouble
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val rho = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      flag -> (rs.size.toLong,
        BigDecimal(rho).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = rows(Stats.qSpearman(spark, sf))
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // replay ranks are exact halves, moments exact in double well below 2^53
    assert(got.keySet == expected.keySet)
    got.foreach { case (flag, (n, rho)) =>
      assert(n == expected(flag)._1)
      assert(math.abs(rho - expected(flag)._2) <= 1e-6, s"flag $flag")
    }
    assert(got.values.forall { case (_, r) => r >= -1.0 && r <= 1.0 })
  }

  test("q_cusum_changepoint matches an exact argmax replay") {
    val daily = Tables.orders(spark, sf)
      .selectExpr("CAST(o_orderdate AS DATE) AS day",
        "CAST(FLOOR(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS LONG) AS c")
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1))).toSeq
    val byDay = daily.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1.toEpochDay)
    val nd = byDay.size.toLong
    val total = byDay.map(_._2).sum
    var cum = 0L
    val series = byDay.zipWithIndex.map { case ((day, c), i) =>
      cum += c
      (day, math.abs(nd * cum - (i + 1).toLong * total))
    }
    val best = series.maxBy(s => (s._2, -s._1.toEpochDay))
    val r = rows(Stats.qCusumChangepoint(spark, sf)).head
    assert(r.getDate(0).toLocalDate == best._1)
    assert(r.getLong(1) == nd)
    assert(r.getDouble(2) == BigDecimal(best._2.toDouble / (nd * 100.0))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a genuine interior changepoint, not a boundary artifact
    assert(best._1 != byDay.head._1 && best._1 != byDay.last._1)
  }

  test("q_welch_ttest matches an exact two-sample replay") {
    val docs = Tables.documents(spark, sf)
      .selectExpr("source", "CAST(n_chars AS LONG) AS x")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def stats(xs: Seq[Long]): (Long, Double, Double) = {
      val n = xs.size.toLong
      val s = xs.sum
      val q = xs.map(x => x * x).sum
      val m = s.toDouble / n
      val v = (q.toDouble - s.toDouble * s.toDouble / n) / (n - 1.0)
      (n, m, v)
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = rows(Stats.qWelchTtest(spark, sf)).map(x =>
      x.getString(0) -> x).toMap
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, xs) =>
      val rest = docs.filter(_._1 != src).map(_._2)
      val (n1, m1, v1) = stats(xs)
      val (_, m2, v2) = stats(rest)
      val se = v1 / xs.size + v2 / rest.size
      val t = (m1 - m2) / math.sqrt(se)
      val df = se * se /
        (v1 / xs.size * (v1 / xs.size) / (xs.size - 1.0) +
         v2 / rest.size * (v2 / rest.size) / (rest.size - 1.0))
      val row = got(src)
      assert(row.getAs[Long]("n_src") == n1)
      assert(math.abs(row.getAs[Double]("mean_src") - r4(m1)) <= 1e-9)
      assert(math.abs(row.getAs[Double]("t_stat") - r4(t)) <= 1e-4, s"$src")
      assert(math.abs(row.getAs[Double]("df") - df) <= 0.5, s"$src df")
      // Welch df is bounded by min(n1, n2) - 1 below… sanity: positive
      assert(row.getAs[Double]("df") > 1.0)
    }
    // the t statistics should straddle zero across sources (drift both ways)
    val ts = got.values.map(_.getAs[Double]("t_stat"))
    assert(ts.exists(_ > 0) && ts.exists(_ < 0))
  }

  test("q_anova matches the exact-sums F replay; F positive") {
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = bySrc.size
    val n = docs.size
    val s = docs.map(_._2).sum
    val sq = docs.map(x => BigInt(x._2) * x._2).sum
    val ssbRaw = bySrc.values.map { xs =>
      val sg = xs.sum.toDouble; sg * sg / xs.size
    }.sum
    val between = (ssbRaw - s.toDouble * s.toDouble / n) / (k - 1.0)
    val within = (sq.toDouble - ssbRaw) / (n - k).toDouble
    val f = BigDecimal(between / within)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = rows(Stats.qAnova(spark, sf)).head
    assert(r.getLong(0) == k.toLong && r.getLong(1) == n.toLong)
    assert(math.abs(r.getDouble(2) - f) <= 1e-4)
    assert(r.getDouble(2) > 0.0)
  }

  test("q_kaplan_meier matches the exact micro-nat replay; curve monotone") {
    val byCust = Tables.orders(spark, sf)
      .selectExpr("o_custkey", "datediff(o_orderdate, DATE'1995-01-01') AS day")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val dend = byCust.values.flatten.max
    val subj = byCust.values.map { days =>
      if (days.size >= 2) (days(1) - days(0), 1L) else (dend - days(0), 0L)
    }.toSeq
    val ntot = subj.size.toLong
    val grid = subj.groupBy(_._1).toSeq.sortBy(_._1).map { case (dur, xs) =>
      (dur, xs.count(_._2 == 1L).toLong, xs.count(_._2 == 0L).toLong)
    }
    var cum = 0L     // subjects leaving the risk set before this time
    var cumLn = 0L   // running micro-nat log-survival
    val expected = grid.flatMap { case (dur, d, c) =>
      val nRisk = ntot - cum
      cum += d + c
      val lt =
        if (d > 0 && d < nRisk)
          BigDecimal(math.log(1.0 - d.toDouble / nRisk) * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        else if (d > 0) -100000000L
        else 0L
      cumLn += lt
      if (d > 0)
        Some((dur, nRisk, d, BigDecimal(math.exp(cumLn.toDouble / 1000000.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }
    val got = rows(Stats.qKaplanMeier(spark, sf))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // survival is a proper curve: in (0, 1], non-increasing in time
    assert(got.forall { case (_, _, _, sv) => sv >= 0.0 && sv <= 1.0 })
    assert(got.map(_._4) == got.map(_._4).sorted.reverse)
    assert(got.map(_._2) == got.map(_._2).sorted.reverse, "risk set shrinks")
  }

  test("q_bootstrap_se matches the deterministic Poisson-weight replay") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cut = Seq(424136118829305344L, 848272237658610688L,
      1060340297073263360L, 1131029650211480960L, 1148701988496035328L)
    val md = java.security.MessageDigest.getInstance("MD5")
    def u60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val means = (0 until 20).map { r =>
      var sw = 0L; var swx = 0L
      docs.foreach { case (id, x) =>
        val u = u60(s"$id:$r")
        val w = cut.indexWhere(u < _) match { case -1 => 5L; case i => i.toLong }
        sw += w; swx += w * x
      }
      swx.toDouble / sw
    }
    val b = means.size
    val sm = means.sum
    val sm2 = means.map(m => m * m).sum
    val se = math.sqrt((sm2 - sm * sm / b) / (b - 1))
    val row = rows(Stats.qBootstrapSe(spark, sf)).head
    assert(row.getLong(0) == docs.size.toLong && row.getLong(1) == 20L)
    assert(math.abs(row.getDouble(3) - se) <= 2e-4, s"se ${row.getDouble(3)} vs $se")
    // the bootstrap SE must approximate sd/sqrt(n) within a loose factor
    val mean = docs.map(_._2).sum.toDouble / docs.size
    val sd = math.sqrt(docs.map(d => (d._2 - mean) * (d._2 - mean)).sum / (docs.size - 1))
    val classical = sd / math.sqrt(docs.size.toDouble)
    assert(row.getDouble(3) > classical / 3 && row.getDouble(3) < classical * 3,
      s"bootstrap SE ${row.getDouble(3)} should be near sd/sqrt(n)=$classical")
  }

  test("q_theil_sen matches an exact pairwise-median replay") {
    val daily = Tables.orders(spark, sf)
      .selectExpr("datediff(o_orderdate, DATE'1995-01-01') AS day",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1))).toSeq
      .groupBy(_._1).toSeq.map { case (d, xs) => (d, xs.map(_._2).sum) }
      .sortBy(_._1)
    val slopes = (for {
      i <- daily.indices; j <- (i + 1) until daily.size
    } yield math.floor((daily(j)._2 - daily(i)._2).toDouble * 1000000.0
      / (daily(j)._1 - daily(i)._1)).toLong).sorted
    val n = slopes.size
    val m2 = slopes((n + 1) / 2 - 1) + slopes((n + 2) / 2 - 1)
    val expected = BigDecimal(m2.toDouble / 2.0e6 / 100.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = rows(Stats.qTheilSen(spark, sf)).head
    assert(r.getLong(0) == n.toLong)
    assert(r.getLong(1) == slopes.distinct.size.toLong)
    assert(r.getDouble(2) == expected)
    // both dispatch arms produce the identical row: the kill switch
    // forces the distributed rank-selection arm the default
    // (driver-median) arm replaced on the suite fixture
    val dist = forcedDistributed(rows(Stats.qTheilSen(spark, sf))).head
    assert(dist == r, s"distributed arm $dist != driver arm $r")
  }

  test("theilSen arms agree on adversarial parity/tie grids") {
    import spark.implicits._
    // cases the fixture calendar never hits: a single pair, odd/even
    // pair counts straddling the two-middle average, all-tied slopes,
    // negative slopes around the median
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      Seq((0L, 10L), (1L, 20L)),
      Seq((0L, 10L), (1L, 20L), (3L, 5L)),
      Seq((0L, 0L), (2L, 0L), (5L, 0L), (9L, 0L)),
      Seq((0L, 100L), (1L, -50L), (2L, 75L), (4L, -100L)),
      (0L until 9L).map(d => (d, d * d * 7L - 30L * d)))
    cases.foreach { ds =>
      val a = rows(Stats.theilSenOfDaily(ds.toDF("day", "rev_c")))
      val b = forcedDistributed(rows(Stats.theilSenOfDaily(ds.toDF("day", "rev_c"))))
      assert(a == b, s"arms disagree on $ds: $a vs $b")
    }
  }

  test("sizeDispatch kill switch forces the distributed arm at any ceiling") {
    import spark.implicits._
    val ds = Seq((0L, 10L), (1L, 20L), (3L, 5L), (4L, 40L))
    def daily() = Stats.theilSenOfDaily(ds.toDF("day", "rev_c"))
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // default: the driver arm — a pure local projection, no join anywhere
    val driverPlan = planOf(daily())
    assert(!driverPlan.contains("Join"),
      s"expected the driver-median arm (no joins):\n$driverPlan")
    // switch on: the SAME call routes the distributed rank-selection
    // arm (its pair self-join shows in the plan), and the result row
    // is identical — the operational escape hatch changes the plan,
    // never the answer
    val distPlan = forcedDistributed(planOf(daily()))
    assert(distPlan.contains("Join"),
      s"kill switch must route the distributed arm:\n$distPlan")
    val dist = forcedDistributed(rows(daily()))
    // switch off again: back on the driver arm
    val drv = rows(daily())
    assert(!planOf(daily()).contains("Join"),
      "the switch must not outlive forcedDistributed's scope")
    assert(dist == drv, s"arms disagree under the switch: $dist vs $drv")
  }

  test("q_psi dispatch arms agree on the fixture") {
    // round 21: the (value x train-flag) grid rides the sizeDispatch
    // seam; the kill switch forces the distributed withPrefix fan —
    // results must be bit-identical to the local decile/bin replay
    val driverSide = rows(Stats.qPsi(spark, sf))
    assert(forcedDistributed(rows(Stats.qPsi(spark, sf))) == driverSide,
      "psi arms disagree")
  }

  test("q_psi matches the exact decile-bin replay; PSI small on a random split") {
    val ds = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def train(id: Long): Boolean = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 10 < 8
    }
    val tr = ds.filter(d => train(d._1)).map(_._2)
    val vc = tr.groupBy(identity).toSeq.map { case (v, xs) => (v, xs.size.toLong) }
      .sortBy(_._1)
    val n = tr.size.toLong
    var cum = 0L
    val cuts = vc.flatMap { case (v, c) =>
      val hit = (1 to 9).exists { k =>
        val r = k * n / 10; cum < r && r <= cum + c
      }
      cum += c
      if (hit) Some(v) else None
    }
    def bin(v: Long): Int = cuts.count(v > _)
    val binsT = tr.groupBy(bin).view.mapValues(_.size.toLong).toMap
    val ev = ds.filterNot(d => train(d._1)).map(_._2)
    val binsE = ev.groupBy(bin).view.mapValues(_.size.toLong).toMap
    val (tt, et) = (tr.size.toLong + 10L, ev.size.toLong + 10L)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (binsT.keySet ++ binsE.keySet).toSeq.sorted.map { b =>
      val tn = binsT.getOrElse(b, 0L); val en = binsE.getOrElse(b, 0L)
      val p = (tn + 1).toDouble / tt; val q = (en + 1).toDouble / et
      (b.toLong, tn, en, r6((p - q) * (math.log(p) - math.log(q))))
    }
    val got = rows(Stats.qPsi(spark, sf))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got == expected)
    // a random split of one population must read as stable
    assert(got.map(_._4).sum < 0.1, s"PSI ${got.map(_._4).sum} should be < 0.1")
  }

  test("q_runs_test matches an exact sign-runs replay") {
    val byDay = Tables.orders(spark, sf)
      .selectExpr("datediff(o_orderdate, DATE'1995-01-01') AS day",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
      .collect().map(r => (r.getInt(0).toLong, r.getLong(1))).toSeq
      .groupBy(_._1).toSeq.map { case (d, xs) => (d, xs.map(_._2).sum) }
      .sortBy(_._1).map(_._2)
    val ups = byDay.sliding(2).collect { case Seq(a, b) => b > a }.toSeq
    val n = ups.size.toLong
    val nUp = ups.count(identity).toLong
    val runs = 1L + ups.sliding(2).count {
      case Seq(a, b) => a != b; case _ => false
    }
    val nd = (n - nUp).toDouble
    val mu = 2.0 * nUp * nd / n + 1.0
    val vr = (2.0 * nUp * nd * (2.0 * nUp * nd - n)) /
      (n.toDouble * n * (n - 1))
    val z = BigDecimal((runs - mu) / math.sqrt(vr))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = rows(Stats.qRunsTest(spark, sf)).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((n, nUp, n - nUp, runs)))
    assert(r.getDouble(4) == z)
  }

  test("runsTestOfDaily drops ties per Wald-Wolfowitz, runs stay contiguous") {
    import spark.implicits._
    // revenues 10,20,20,15,18,18,25 → moves U,tie,D,U,tie,U → retained
    // signs U D U U: n=4, n_up=3, runs=3. The final U sits across a
    // dropped-tie gap from the previous U and must CONTINUE its run —
    // a spelling that joins prev-sign on the raw day index would find
    // nothing at the gap and fabricate a 4th run start. z = (3 − (2·3·1/4
    // + 1)) / sqrt(2·3·1·(2·3·1 − 4) / (4²·3)) = 0.5 / 0.5 = 1.0 exactly.
    val daily = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 15L),
      (5L, 18L), (6L, 18L), (7L, 25L)).toDF("day", "rev_c")
    val r = rows(Stats.runsTestOfDaily(daily)).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 3L, 1L, 3L)),
      s"tie handling drifted from the Wald-Wolfowitz convention: $r")
    assert(r.getDouble(4) == 1.0, s"z off the hand-computed 1.0: $r")
  }

  test("Epoch.day guards the nonnegative-day-index invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the current testdata vintage satisfies the invariant the calendar
    // queries' pmod-vs-% and DIV-vs-// oracle equivalences rely on
    val minDate = Tables.orders(spark, sf)
      .agg(min($"o_orderdate").cast("string")).as[String].head()
    assert(minDate >= graft.ops.Epoch.Origin,
      s"testdata vintage regressed: min(o_orderdate)=$minDate precedes " +
        graft.ops.Epoch.Origin)
    // on-or-after dates index cleanly; a pre-origin date must RAISE, not
    // silently produce a negative index
    val ok = Seq("1995-01-01", "1995-01-08").toDF("d")
      .select(graft.ops.Epoch.day($"d".cast("date")).as("day"))
      .as[Long].collect().toSeq
    assert(ok == Seq(0L, 7L))
    val thrown = intercept[Exception] {
      Seq("1994-12-31").toDF("d")
        .select(graft.ops.Epoch.day($"d".cast("date"))).collect()
    }
    val msgs = Iterator.iterate(thrown: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" ")
    assert(msgs.contains("epoch origin"))
  }

  test("q_fdr_bh: full driver-side replay of the Welch-z + BH pipeline") {
    import org.apache.spark.sql.functions._
    import java.math.{BigDecimal => JBig, RoundingMode}
    def rnd(v: Double, scale: Int): Double =
      new JBig(v).setScale(scale, RoundingMode.HALF_UP).doubleValue()
    // independent recomputation from the raw parquet, sharing NOTHING
    // with the query's plan: exact integer moments, the identical double
    // operand order, A&S p-values quantized to 1e-9, BH step-up — then
    // every output row must match EXACTLY (the strong-gate style of the
    // HLL/GK driver-side recomputations)
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("lang"), col("n_chars").cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val per = raw.groupBy(t => (t._1, t._2)).map { case ((src, lg), rows) =>
      (src, lg, rows.length.toLong,
        rows.map(_._3).sum, rows.map(t => t._3 * t._3).sum)
    }.toSeq
    val ng = raw.length.toLong
    val sg = raw.map(_._3).sum
    val qg = raw.map(t => t._3 * t._3).sum
    val tests = per.flatMap { case (src, lg, n1, s1, q1) =>
      val (n2, s2, q2) = (ng - n1, sg - s1, qg - q1)
      if (n1 < 2 || n2 < 2) None
      else {
        def vr(q: Long, s: Long, n: Long) =
          (q.toDouble - s.toDouble * s.toDouble / n.toDouble) / (n.toDouble - 1.0)
        val (v1, v2) = (vr(q1, s1, n1), vr(q2, s2, n2))
        if (!(v1 + v2 > 0.0)) None
        else {
          val md = s1.toDouble / n1.toDouble - s2.toDouble / n2.toDouble
          val z = md / math.sqrt(v1 / n1.toDouble + v2 / n2.toDouble)
          val x = math.abs(z) / math.sqrt(2.0)
          val t = 1.0 / (1.0 + 0.47047 * x)
          val p = rnd(t * (0.3480242 + t * (-0.0958798 + t * 0.7478556))
            * math.exp(-x * x), 9)
          Some((src, lg, n1, z, p))
        }
      }
    }
    val m = tests.length
    val ranked = tests.sortBy(t => (t._5, t._1, t._2)).zipWithIndex
      .map { case ((src, lg, n1, z, p), i) => (src, lg, n1, z, p, i + 1) }
    // suffix min of m*p/rank over descending rank order
    var run = Double.MaxValue
    val withQ = ranked.reverse.map { case (src, lg, n1, z, p, rank) =>
      run = math.min(run, m.toDouble * p / rank.toDouble)
      (src, lg, n1, z, p, math.min(run, 1.0))
    }.reverse
    val want = withQ.map { case (src, lg, n1, z, p, qv) =>
      (src, lg, n1, rnd(z, 4) + 0.0, rnd(p, 6), rnd(qv, 6), qv <= 0.05)
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q_fdr_bh")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
      .toSeq
    assert(got.nonEmpty && got == want,
      s"BH replay mismatch: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    // the discovery set must be non-trivially smaller than naive α
    // thresholding whenever the family has marginal p-values
    val naive = want.count(_._5 <= 0.05)
    val bh = want.count(_._7)
    assert(bh <= naive, "BH can never reject more than uncorrected α")
  }
}
