package graft

/** Degenerate-corpus contract for the sum-over-materialized-grid
  * queries: the round-18 repeat-scan rewrites replaced count-over-rows
  * totals with re-sums of a materialized grid, and SQL `sum` over an
  * empty relation is NULL where `count` was 0 — the round-19 advisor
  * finding. Every such global total now wraps in coalesce(sum, 0L);
  * this spec drives the rewritten queries against a fully EMPTY corpus
  * (same schemas, zero rows — written once from the sf0.001 schemas)
  * and pins the restored count semantics: construction + collect
  * succeeds, and every surviving global-count column reads 0, never
  * NULL. Ratio/statistic columns MAY be NULL on an empty corpus (0/0
  * has no defined value and both engines agree); the contract is about
  * the counts.
  */
class EmptyCorpusSpec extends GraftSuite {

  private lazy val emptyDir: String = {
    val dir = "/tmp/graft-empty-sf"
    Harness.TableNames.foreach { t =>
      val schema = spark.read.parquet(s"$sf/$t.parquet").schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  /** (query, global-count columns that must be 0 on any surviving row —
    * for 1-row aggregates that row always survives). */
  private val cases: Seq[(String, Seq[String])] = Seq(
    "q_cohens_kappa" -> Seq("n", "n_agree"),
    "q_ks_test" -> Seq(),            // grid join leaves no rows — the
                                     // contract is "no NULL count, no throw"
    "q_naive_bayes_score" -> Seq(),
    "q_t_closeness" -> Seq(),
    "q_source_kl" -> Seq(),
    "q_mutual_information" -> Seq(),
    "q_cramers_v" -> Seq(),
    "q_jensen_shannon" -> Seq(),
    "q_length_drift" -> Seq(),
    "q_kaplan_meier" -> Seq())

  cases.foreach { case (name, zeroCols) =>
    test(s"$name survives an empty corpus with count semantics") {
      val df = SparkEntry.queries(name)(spark, emptyDir)
      // zeroCols staleness (verdict-19 wrong #3): every pinned count
      // column must still EXIST in the query's schema — a renamed or
      // dropped column would otherwise silently fall outside the pin
      // whenever no rows survive (fieldIndex only throws on live rows)
      val fields = df.schema.fieldNames.toSet
      zeroCols.foreach { c =>
        assert(fields.contains(c), s"$name zeroCols pin is STALE: column " +
          s"'$c' no longer in schema ${fields.toSeq.sorted} — update the pin")
      }
      val rows = df.collect()
      zeroCols.foreach { c =>
        rows.foreach { r =>
          val v = r.get(r.fieldIndex(c))
          assert(v != null, s"$name.$c is NULL on an empty corpus — the " +
            "grid re-sum lost its coalesce (count semantics require 0)")
          assert(v == 0L, s"$name.$c = $v on an empty corpus, expected 0")
        }
      }
    }
  }

  // Whole-registry degenerate-input smoke (verdict-19 #3): the ten pins
  // above are the STRONG form (count semantics); this sweep is the weak
  // form over EVERYTHING ELSE — every declared query must construct and
  // collect on the fully empty corpus without throwing. Catches the next
  // NULL-vs-0 class (head() on an empty aggregate, an array index into
  // an empty quantile result, a fit that divides by n) before an advisor
  // does. Queries that CANNOT be defined on zero rows get an adjudicated
  // entry with the reason, and the test asserts they still throw — a
  // stale exemption (the query later made total) fails loudly.
  private val adjudicatedThrows: Map[String, String] = Map.empty

  private val strong = cases.map(_._1).toSet
  SparkEntry.queries.keys.toSeq.sorted
    .filterNot(strong.contains).foreach { name =>
      adjudicatedThrows.get(name) match {
        case None =>
          test(s"$name survives an empty corpus (whole-registry smoke)") {
            SparkEntry.queries(name)(spark, emptyDir).collect()
          }
        case Some(reason) =>
          test(s"$name is adjudicated partial on an empty corpus") {
            val threw =
              try { SparkEntry.queries(name)(spark, emptyDir).collect(); false }
              catch { case _: Throwable => true }
            assert(threw, s"$name no longer throws on an empty corpus — " +
              s"its exemption ('$reason') is stale; promote it to the smoke")
          }
      }
    }
}
