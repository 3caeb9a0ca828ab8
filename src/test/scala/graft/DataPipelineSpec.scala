package graft

import org.apache.spark.sql.functions._
import graft.ml.{Dedup, workflow}
import graft.ml.workflow._

/** Capstone: the end-to-end LLM training-data pipeline the engine exists
  * for — dedup → near-dup removal → quality filter → language filter →
  * tokenize → dense-id encode — composed from library pieces over the
  * documents table, with row accounting asserted at every stage. */
class DataPipelineSpec extends GraftSuite {

  import spark.implicits._

  test("corpus curation pipeline composes and conserves rows at each stage") {
    // corpus with injected exact duplicates and one near-duplicate
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"n_chars")
    val dup = base.where($"doc_id" < 20)
      .withColumn("doc_id", $"doc_id" + 100000)
    val near = base.where($"doc_id" === 0)
      .withColumn("doc_id", lit(200000L))
      .withColumn("text", concat($"text", lit(" extra trailing token")))
    val corpus = base.unionByName(dup).unionByName(near)
    val n0 = corpus.count()
    assert(n0 == 521)

    // stage 1: exact dedup — 20 injected copies collapse
    val survivors = Dedup.exact(corpus, "doc_id", Seq("text"))
    assert(survivors.count() == 501, "500 distinct texts + 1 near-dup variant")
    assert(survivors.where($"n_copies" === 2).count() == 20)
    val afterExact = corpus.join(
      survivors.select($"keep_id".as("doc_id")), "doc_id")
    assert(afterExact.count() == 501)

    // stage 2: near-dup removal via MinHash (keep the smaller doc_id)
    val nearPairs = Dedup.minhashNearDup(afterExact, "doc_id", "text",
      threshold = 0.7)
    val nearIds = nearPairs.select($"id_b".as("doc_id")).distinct()
    val afterNear = afterExact.join(nearIds, Seq("doc_id"), "left_anti")
    assert(nearPairs.where($"id_a" === 0 && $"id_b" === 200000L).count() == 1,
      "the planted near-duplicate must be caught")
    assert(afterNear.count() < 501)
    assert(afterNear.where($"doc_id" === 200000L).count() == 0)

    // stage 3: quality + language filter (expression-only, same metrics as
    // q_text_quality)
    val toks = filter(split($"text", " "), t => t =!= "")
    val scored = afterNear
      .withColumn("n_tokens", size(toks))
      .withColumn("uniq_ratio",
        size(array_distinct(toks)).cast("double") / size(toks))
    val curated = scored.where($"n_tokens" >= 40 && $"uniq_ratio" > 0.2)
    assert(curated.count() > 100, "filter must keep a usable corpus")
    assert(curated.count() < afterNear.count(), "filter must drop something")

    // stage 4: SimHash fingerprints as a cheap audit trail — the planted
    // near-dup (if it had survived) would sit within a few bits of doc 0;
    // unrelated docs must not collide wholesale
    val fps = curated.select($"doc_id",
      Dedup.simhash($"text").as("fp"))
    assert(fps.count() == curated.count())
    assert(fps.select($"fp").distinct().count() > curated.count() / 2,
      "fingerprints must separate a distinct-text corpus")

    // stage 5: tokenize + frequency-ordered dense ids (workflow nodes +
    // the scalable zipWithIndex ranking)
    val featurize = Tokenize("text", "tokens")
      .andThen(CommonSparseFeatures("tokens", "features", 50), curated)
    val encoded = featurize(curated)
    assert(encoded.count() == curated.count(), "featurization is row-preserving")
    val vocabSize = curated.select(explode(toks).as("t"))
      .select("t").distinct().count().toInt
    assert(encoded.select(size($"features")).distinct().head().getInt(0) ==
      math.min(50, vocabSize),
      "feature dim = min(K, |vocab|) — this corpus has a tiny vocabulary")
    // every document has at least one in-vocabulary token
    val empty = encoded.where(
      aggregate($"features", lit(0.0), (a, x) => a + x) === 0.0).count()
    assert(empty == 0, "top-50 vocab must cover every curated doc")

    // stage 6: n-gram LM over the curated corpus (Stupid-Backoff at
    // order 3) — every scored trigram of the top-3 tokens must get a
    // positive probability-like score
    val scoredLm = graft.ml.StupidBackoff.topGrid(curated.select(toks.as("t")), "t", 3, 3)
    assert(scoredLm.where($"score" <= 0 || $"score".isNull).count() == 0,
      "every candidate trigram must score positive")
    assert(scoredLm.count() == 27)
  }

  test("stratified split is deterministic, complete, and near the 80/10/10 target") {
    import spark.implicits._
    val r1 = rows(graft.ops.Similarity.qStratifiedSplit(spark, sf))
    val r2 = rows(graft.ops.Similarity.qStratifiedSplit(spark, sf))
    assert(r1 == r2, "hash split must be run-to-run identical")
    val total = r1.map(_.getAs[Long]("docs")).sum
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count(),
      "every doc lands in exactly one split")
    // per-lang shares sum to ~1
    r1.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val s = rows.map(_.getAs[Double]("lang_share")).sum
      assert(math.abs(s - 1.0) < 0.01, s"$lang shares sum to $s")
    }
    val trainFrac = r1.filter(_.getString(1) == "train")
      .map(_.getAs[Long]("docs")).sum.toDouble / total
    assert(math.abs(trainFrac - 0.8) < 0.1,
      s"train fraction $trainFrac should be near 0.8")
  }

  test("sequence packing fills chunks to capacity without big overflow") {
    import spark.implicits._
    val r = rows(graft.ops.Similarity.qSequencePack(spark, sf))
    val cap = graft.ops.Similarity.PackCapacity
    val maxDoc = spark.read.parquet(s"$sf/documents.parquet")
      .select(max(size(filter(split($"text", " "), x => x =!= ""))))
      .head.getInt(0)
    r.groupBy(_.getString(0)).foreach { case (lang, chunks) =>
      val ids = chunks.map(_.getAs[Long]("chunk")).sorted
      assert(ids == (0L until ids.size), s"$lang chunks must be contiguous: $ids")
      // streaming rule: every chunk except the last is filled past
      // capacity only by its final doc
      chunks.sortBy(_.getAs[Long]("chunk")).dropRight(1).foreach { c =>
        val t = c.getAs[Long]("tokens")
        assert(t >= cap - maxDoc && t <= cap + maxDoc,
          s"$lang chunk ${c.getAs[Long]("chunk")}: $t tokens vs capacity $cap")
      }
    }
    val total = r.map(_.getAs[Long]("tokens")).sum
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select(sum(size(filter(split($"text", " "), x => x =!= "")).cast("long")))
      .head.getLong(0)
    assert(total == expected, "packing must conserve every token")
  }

  test("source mix keeps within bounds and realizes the target rate") {
    import spark.implicits._
    val r = rows(graft.ops.Similarity.qSourceMix(spark, sf))
    assert(r.nonEmpty)
    r.foreach { row =>
      val in = row.getAs[Long]("docs_in")
      val kept = row.getAs[Long]("docs_kept")
      val target = row.getAs[Long]("target_pct").toDouble / 100
      val realized = row.getAs[Double]("realized_rate")
      assert(kept >= 0 && kept <= in)
      assert(target == 1.0 && realized == 1.0 ||
        math.abs(realized - target) < 0.35,
        s"${row.getString(0)}: realized $realized vs target $target")
      if (target == 1.0) assert(kept == in, "100% sources keep everything")
    }
  }

  test("temperature mixing normalizes and flattens the source distribution") {
    val r = rows(graft.ops.Similarity.qSourceTemperature(spark, sf))
    assert(r.nonEmpty)
    val rawSum = r.map(_.getAs[Double]("raw_share")).sum
    val tempSum = r.map(_.getAs[Double]("temp_share")).sum
    assert(math.abs(rawSum - 1.0) < 1e-3 && math.abs(tempSum - 1.0) < 1e-3)
    // α < 1 flattens: the smallest source gains sampling mass, the
    // largest loses it (strictly, unless the corpus is perfectly uniform)
    val bySize = r.sortBy(_.getAs[Long]("n_tokens"))
    if (bySize.head.getAs[Long]("n_tokens") < bySize.last.getAs[Long]("n_tokens")) {
      assert(bySize.head.getAs[Double]("epoch_mult") > 1.0)
      assert(bySize.last.getAs[Double]("epoch_mult") < 1.0)
    }
    // epoch multiplier is internally consistent with the two shares
    r.foreach { row =>
      val m = row.getAs[Double]("temp_share") / row.getAs[Double]("raw_share")
      assert(math.abs(m - row.getAs[Double]("epoch_mult")) < 1e-3)
    }
  }
}
