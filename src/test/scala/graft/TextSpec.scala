package graft

import org.apache.spark.sql.functions._
import graft.ops.Text

/** Text/NLP operator checks on sf0.001 (goldens pinned with DuckDB). */
class TextSpec extends GraftSuite {

  test("q_tokenize_wordcount top tokens match pinned goldens") {
    val r = rows(Text.qTokenizeWordcount(spark, sf))
    val top3 = r.take(3).map(x => (x.getString(0), x.getAs[Long]("cnt")))
    assert(top3.toSeq == Seq(("scan", 984L), ("column", 978L), ("window", 976L)))
  }

  test("word counts sum to total token count") {
    val fromCounts = Text.qTokenizeWordcount(spark, sf)
      .agg(sum("cnt")).head.getLong(0)
    val fromDocs = Text.qTokenCount(spark, sf)
      .agg(sum("ws_tokens")).head.getLong(0)
    assert(fromCounts == fromDocs)
  }

  test("q_common_terms_topk ranks are dense, unique, frequency-ordered") {
    val r = rows(Text.qCommonTermsTopk(spark, sf))
    val ranks = r.map(_.getAs[Long]("rank"))
    assert(ranks == (1L to ranks.size).toSeq, "ranks must be dense 1..K")
    val cnts = r.map(_.getAs[Long]("cnt"))
    assert(cnts == cnts.sortBy(-_), "counts must be non-increasing by rank")
    assert(r.head.getAs[String]("token") == "scan")
  }

  test("q_word_id_encode assigns dense frequency-ordered ids") {
    val enc = Text.qWordIdEncode(spark, sf)
    // token id 0 must be the corpus-most-frequent token's id: every doc
    // containing "scan" gets id 0 at those positions.
    val nIds = enc.select("token_id").distinct().count()
    val maxId = enc.agg(max("token_id")).head.getLong(0)
    assert(maxId == nIds - 1, "ids must be dense 0..V-1")
    // encoding preserves sequence length
    val encLen = enc.groupBy("doc_id").count()
    val docLen = Text.qTokenCount(spark, sf).select(col("doc_id"), col("ws_tokens"))
    val mismatch = encLen.join(docLen, "doc_id")
      .where(col("count") =!= col("ws_tokens")).count()
    assert(mismatch == 0, "every token occurrence must be encoded")
  }

  test("q_tfidf_top_terms gives each doc at most 3 ranked terms") {
    val r = Text.qTfidfTopTerms(spark, sf)
    assert(r.groupBy("doc_id").count().agg(max("count")).head.getLong(0) <= 3)
    val badRank = r.where(col("rank") < 1 || col("rank") > 3).count()
    assert(badRank == 0)
  }

  test("q_naive_bayes_score predicts the dominant class more than uniformly") {
    val pred = Text.qNaiveBayesScore(spark, sf)
    assert(pred.count() == 500)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val acc = pred.join(docs, "doc_id")
      .where(col("pred_lang") === col("lang")).count().toDouble / 500.0
    // 5 classes; anything materially above chance shows the arithmetic is
    // wired correctly (texts here are near-uniform vocab, so the ceiling
    // is low — the parity gate pins exact values).
    assert(acc > 0.25, s"NB accuracy $acc should beat 1/5 chance")
  }

  test("q_lang_id emits one prediction per doc with valid labels") {
    val r = Text.qLangId(spark, sf)
    assert(r.count() == 500)
    val langs = r.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("de", "en", "es", "fr", "zh")))
  }

  test("q_doc_fingerprint is deterministic across runs") {
    val a = rows(Text.qDocFingerprint(spark, sf)).map(r => (r.getLong(0), r.getLong(1)))
    val b = rows(Text.qDocFingerprint(spark, sf)).map(r => (r.getLong(0), r.getLong(1)))
    assert(a == b)
  }

  test("q_text_clean output tokens match q_token_count") {
    val clean = Text.qTextClean(spark, sf).select(col("doc_id"), col("n_tokens"))
    val cnt = Text.qTokenCount(spark, sf).select(col("doc_id"), col("ws_tokens"))
    val mismatch = clean.join(cnt, "doc_id")
      .where(col("n_tokens") =!= col("ws_tokens")).count()
    assert(mismatch == 0, "cleaning already-clean text must be a no-op on token counts")
  }

  test("q_stupid_backoff_trigram backoff branches are consistent") {
    val r = rows(Text.qStupidBackoffTrigram(spark, sf))
    assert(r.size == 125)
    assert(r.forall(_.getAs[Double]("score") > 0.0))
    // a seen trigram implies its (w2,w3) continuation bigram was seen
    val broken = r.filter(x =>
      x.getAs[Boolean]("seen_trigram") && !x.getAs[Boolean]("seen_bigram"))
    assert(broken.isEmpty, "trigram observed but its suffix bigram not")
    assert(r.exists(_.getAs[Boolean]("seen_trigram")),
      "top-5 tokens must produce at least one observed trigram")
  }

  test("StupidBackoff recursion matches hand-computed scores at n=4") {
    import graft.ml.StupidBackoff
    import spark.implicits._
    // corpus "a b c d a b c e a b":
    // uni a:3 b:3 c:2 d:1 e:1 (total 10); bi ab:3 bc:2 cd:1 da:1 ce:1 ea:1;
    // tri abc:2 bcd:1 cda:1 dab:1 bce:1 cea:1 eab:1; every 4-gram count 1.
    // top = 5 keeps every token, so the 625-row grid holds every case
    val docs = Seq(Tuple1("a b c d a b c e a b".split(" ").toSeq)).toDF("toks")
    val grid = StupidBackoff.topGrid(docs, "toks", 4, 5)
    assert(grid.count() == 625)
    val cases = Seq(
      // (w1 w2 w3 w4, expected, why)
      ("abcd", 0.5, "abcd seen once / abc seen twice"),
      ("bcda", 1.0, "bcda once / bcd once"),
      ("bbcd", 0.4 * (1.0 / 2.0), "4gram unseen -> bcd/bc"),
      ("aacd", 0.4 * 0.4 * (1.0 / 2.0), "tri acd unseen -> cd/c"),
      ("aaad", 0.4 * 0.4 * 0.4 * (1.0 / 10.0), "unigram base d/total"))
    val scored = grid.collect().map(r =>
      (1 to 4).map(j => r.getAs[String](s"w$j")).mkString -> r.getAs[Double]("score")).toMap
    cases.foreach { case (ws, expected, why) =>
      assert(math.abs(scored(ws) - expected) < 1e-12, s"$ws ($why): ${scored(ws)}")
    }
  }

  test("q_stupid_backoff_4gram scores every top-4 tuple and backs off consistently") {
    val r = rows(Text.qStupidBackoff4gram(spark, sf))
    assert(r.size == 256)
    assert(r.forall(_.getAs[Double]("score") > 0.0))
    // a seen 4-gram implies its suffix trigram, which implies its suffix bigram
    val broken = r.filter(x =>
      (x.getAs[Boolean]("seen_4gram") && !x.getAs[Boolean]("seen_trigram")) ||
        (x.getAs[Boolean]("seen_trigram") && !x.getAs[Boolean]("seen_bigram")))
    assert(broken.isEmpty, "an observed gram's suffix gram must be observed")
  }

  test("q_stupid_backoff_bigram scores are positive and observed pairs dominate") {
    val r = rows(Text.qStupidBackoffBigram(spark, sf))
    assert(r.size == 100)
    assert(r.forall(_.getAs[Double]("score") > 0.0))
    val obs = r.filter(_.getAs[Boolean]("observed"))
    assert(obs.nonEmpty, "top-10 x top-10 token pairs must include observed bigrams")
  }

  test("q_length_histogram shares sum to 1 per lang and buckets cover all docs") {
    val h = Text.qLengthHistogram(spark, sf)
    val total = h.agg(sum("n_docs")).head.getLong(0)
    assert(total == 500, "every doc lands in exactly one bucket")
    val shareSums = h.groupBy("lang").agg(sum("share").as("s")).collect()
    shareSums.foreach { r =>
      assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-4,
        s"lang ${r.getString(0)} shares sum to ${r.getAs[Double]("s")}")
    }
  }

  test("q_type_token_ratio is bounded and consistent with token totals") {
    val t = Text.qTypeTokenRatio(spark, sf)
    assert(t.where(col("ttr") <= 0 || col("ttr") > 1).count() == 0)
    assert(t.where(col("distinct_tokens") > col("total_tokens")).count() == 0)
    val totalToks = t.agg(sum("total_tokens")).head.getLong(0)
    val fromCounts = Text.qTokenizeWordcount(spark, sf).agg(sum("cnt")).head.getLong(0)
    assert(totalToks == fromCounts, "group totals must partition the corpus tokens")
  }

  test("q_vocab_overlap emits each unordered source pair once with sane Jaccard") {
    val v = Text.qVocabOverlap(spark, sf)
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count()
    assert(v.count() == nSources * (nSources - 1) / 2, "one row per unordered pair")
    assert(v.where(col("source_a") >= col("source_b")).count() == 0)
    assert(v.where(col("inter") > col("uni") || col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
  }

  test("q_token_spread counts reconcile with the global word counts") {
    val sp = Text.qTokenSpread(spark, sf).collect()
    val wc = rows(Text.qTokenizeWordcount(spark, sf))
      .map(r => r.getString(0) -> r.getAs[Long]("cnt")).toMap
    assert(sp.length == wc.size, "one row per vocabulary token")
    sp.foreach { r =>
      assert(r.getAs[Long]("cnt") == wc(r.getAs[String]("tok")))
      assert(r.getAs[Long]("n_sources") >= 1 && r.getAs[Long]("n_langs") >= 1)
    }
  }

  test("q_lm_doc_score is bounded and consistent in ppm space") {
    val r = Text.qLmDocScore(spark, sf)
    assert(r.count() == 500, "every doc has >= 2 tokens in this corpus")
    // a mean of conditional probabilities lives in (0, 1]
    assert(r.where(col("avg_score_ppm") <= 0 || col("avg_score_ppm") > 1000000).count() == 0)
    // the double column is exactly the ppm column scaled
    val bad = r.where(col("avg_score") =!= col("avg_score_ppm").cast("double") / 1e6).count()
    assert(bad == 0)
  }

  test("q_repetition_score bounds and a hand-built repeated doc") {
    import spark.implicits._
    val r = rows(Text.qRepetitionScore(spark, sf))
    assert(r.size == spark.read.parquet(s"$sf/documents.parquet").count())
    r.foreach { row =>
      val dupBi = row.getAs[Double]("dup_bigram_frac")
      val topBi = row.getAs[Double]("top_bigram_frac")
      val simp = row.getAs[Double]("simpson_diversity")
      assert(dupBi >= 0.0 && dupBi < 1.0)
      assert(topBi >= 0.0 && topBi <= 1.0)
      assert(simp >= 0.0 && simp < 1.0)
      if (row.getAs[Long]("n_bigrams") > 0)
        assert(topBi > 0.0, "a nonempty doc has a most-frequent bigram")
    }
    // hand-built: "a b a b a b" -> 5 bigrams, 2 distinct ("a b" x3, "b a" x2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-rep").toString
    Seq((0L, "a b a b a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val h = Text.qRepetitionScore(spark, tmp).head()
    assert(h.getAs[Long]("n_bigrams") == 5)
    assert(math.abs(h.getAs[Double]("dup_bigram_frac") - (1.0 - 2.0 / 5)) < 1e-9)
    assert(math.abs(h.getAs[Double]("top_bigram_frac") - 3.0 / 5) < 1e-9)
    // unigrams: a x3, b x3, N=6 -> simpson = 1 - 18/36 = 0.5
    assert(math.abs(h.getAs[Double]("simpson_diversity") - 0.5) < 1e-9)
  }

  test("q_bm25: scores positive, sorted, and dominated by tf saturation") {
    val r = rows(Text.qBm25(spark, sf))
    assert(r.nonEmpty && r.size <= 50)
    val scores = r.map(_.getAs[Long]("score_micro"))
    assert(scores == scores.sorted.reverse, "descending by score")
    r.foreach { row =>
      assert(row.getAs[Long]("score_micro") > 0L)
      val nt = row.getAs[Long]("n_terms")
      assert(nt >= 1L && nt <= 4L, "at most the 4 query terms")
      // k1=1.2 saturates each term's tf factor below k1+1; idf here is
      // ln(1 + ...) <= ln(1 + 2N) — loose cap catches unit blowups
      assert(row.getAs[Double]("score") < 4 * 2.2 * 12.0)
    }
  }

  test("q_lang_confidence margins agree with the argmax lang-id") {
    val conf = rows(Text.qLangConfidence(spark, sf))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_lang"), r.getAs[Long]("hits_top1"),
          r.getAs[Long]("margin"), r.getAs[Boolean]("keep"))).toMap
    val argmax = rows(Text.qLangId(spark, sf))
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_lang"), r.getAs[Long]("hits"))).toMap
    assert(conf.keySet == argmax.keySet)
    conf.foreach { case (id, (pred, top1, margin, keep)) =>
      assert((pred, top1) == argmax(id), s"doc $id disagrees with q_lang_id")
      assert(margin >= 0L)
      assert(keep == (margin >= 2L))
    }
    // the threshold must actually split the corpus (both sides non-empty)
    assert(conf.values.exists(_._4) && conf.values.exists(!_._4))
  }

  test("q_chunk_dedup repeats span >= 2 docs and cover the exact duplicates") {
    val r = rows(Text.qChunkDedup(spark, sf))
    r.foreach { row =>
      assert(row.getAs[Long]("n_docs") >= 2L)
      assert(row.getAs[Long]("n_occurrences") >= row.getAs[Long]("n_docs"))
    }
    // exact duplicate docs exist in this corpus (SimilaritySpec pins
    // them), and two identical docs share their every chunk
    assert(r.nonEmpty, "exact dup docs must surface repeated chunks")
  }

  test("q_doc_chunk windows tile every doc with stride 24 / width 32") {
    val r = Text.qDocChunk(spark, sf)
    import spark.implicits._
    // start positions follow the stride exactly
    assert(r.where($"start_pos" =!= $"chunk_idx" * 24 + 1).count() == 0)
    assert(r.where($"n_tokens" < 1 || $"n_tokens" > 32).count() == 0)
    // the last chunk of each doc ends exactly at the doc's token count
    val last = r.groupBy($"doc_id")
      .agg(max($"start_pos" + $"n_tokens" - 1).as("covered"))
    val n = Text.qTokenCount(spark, sf).select($"doc_id", $"ws_tokens")
    val bad = last.join(n, "doc_id")
      .where($"covered" =!= $"ws_tokens").count()
    assert(bad == 0, "chunks cover each doc to its final token")
    // overlap: any non-final chunk spans the full 32-token window
    val short = r.join(last.withColumnRenamed("covered", "cv"), "doc_id")
      .where($"start_pos" + $"n_tokens" - 1 =!= $"cv" && $"n_tokens" =!= 32)
    assert(short.count() == 0)
  }

  test("Scrub PII patterns redact emails, phones, IPs, SSNs — and only those") {
    import spark.implicits._
    import graft.ml.Scrub
    val df = Seq(
      ("contact john.doe+x@example.com today", 1),
      ("call +1 (415) 555-2671 or 415.555.2671", 2),
      ("host 192.168.0.1 answered", 1),
      ("ssn 123-45-6789 leaked", 1),
      ("clean text, no pii at all", 0)).toDF("text", "expected")
    val out = Scrub.redact(df, $"text", Scrub.PiiPattern).collect()
    out.foreach { r =>
      assert(r.getAs[Int]("n_matches") == r.getAs[Int]("expected"),
        s"wrong match count for: ${r.getAs[String]("text")}")
      val red = r.getAs[String]("redacted")
      if (r.getAs[Int]("expected") > 0) {
        assert(red.contains(Scrub.Redacted))
        assert(!red.contains("@") && !red.contains("555") &&
          !red.contains("192.168") && !red.contains("123-45"))
      } else assert(red == r.getAs[String]("text"))
    }
  }

  test("q_token_entropy: zero for one-token docs, <= ln(n), exact on a uniform doc") {
    import spark.implicits._
    val r = Text.qTokenEntropy(spark, sf)
    // entropy is bounded by ln(n_tokens) (+ micro-rounding slack)
    assert(r.where($"entropy_nats" < 0 ||
      $"entropy_nats" > log($"n_tokens".cast("double")) + lit(1e-4)).count() == 0)
    assert(r.count() ==
      spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("q_blocklist_scrub reconciles with a direct recount") {
    import spark.implicits._
    val r = Text.qBlocklistScrub(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val direct = docs.select($"source",
        regexp_count($"text", lit(graft.ml.Scrub.BlockPattern)).as("m"))
      .groupBy($"source").agg(sum($"m").as("redactions"))
    val bad = r.join(direct.withColumnRenamed("redactions", "expected"), "source")
      .where($"redactions" =!= $"expected").count()
    assert(bad == 0)
    // the blocklist terms do occur in the synthetic corpus — the gate is
    // exercising real matches, not vacuous zeros
    assert(r.agg(sum($"redactions")).head.getLong(0) > 0)
    // chars_delta: each redaction replaces a >=5-char term with 1 char
    assert(r.where($"chars_delta" < $"redactions" * 4).count() == 0)
  }

  test("q_source_kl is non-negative (up to micro-rounding) with one row per source") {
    import spark.implicits._
    val r = Text.qSourceKl(spark, sf)
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source").distinct().count()
    assert(r.count() == nSources)
    // Gibbs: KL >= 0; micro-nat quantization can dip a hair below zero
    assert(r.where($"kl_nats" < -1e-4).count() == 0)
  }

  test("q_jensen_shannon matches an exact driver replay; bounded by ln 2") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", length($"text").cast("long").as("len"))
      .collect().map(r => (r.getString(0), math.min(r.getLong(1) / 200L, 9L)))
    val cells = docs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case ((s, b), c) => (s, b, c) }
    val cS = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val cB = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val ct = docs.length.toLong
    def quant(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = cS.keys.toSeq.sorted.map { s =>
      val micro = cB.keys.toSeq.sorted.map { b =>
        val csb = cells.find(c => c._1 == s && c._2 == b).map(_._3).getOrElse(0L)
        val p = csb.toDouble / cS(s)
        val q = cB(b).toDouble / ct
        val pTerm = if (csb > 0) 0.5 * p * math.log(2.0 * p / (p + q)) else 0.0
        quant(pTerm + 0.5 * q * math.log(2.0 * q / (p + q)))
      }.sum
      s -> micro.toDouble / 1e6
    }
    val got = Text.qJensenShannon(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(got == expected, s"JS replay mismatch: $got vs $expected")
    // symmetric divergence of distributions is bounded by ln 2, and the
    // quantization can only dip a hair below 0
    got.foreach { case (s, js) =>
      assert(js >= -1e-4 && js <= math.log(2.0) + 1e-4, s"$s: $js")
    }
  }

  test("q_mutual_information matches an exact driver replay; MI <= min entropy") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"lang")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cS = docs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cL = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ct = docs.length.toLong
    def quant(x: Double): Long =
      BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val miNano = cells.toSeq.map { case ((s, l), c) =>
      quant((c.toDouble / ct) *
        math.log((c * ct).toDouble / (cS(s) * cL(l)).toDouble))
    }.sum
    val hsNano = cS.values.toSeq
      .map(c => quant(-(c.toDouble / ct) * math.log(c.toDouble / ct))).sum
    val hlNano = cL.values.toSeq
      .map(c => quant(-(c.toDouble / ct) * math.log(c.toDouble / ct))).sum
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Text.qMutualInformation(spark, sf).head()
    assert(row.getDouble(0) == miNano.toDouble / 1e9)
    assert(row.getDouble(1) == hsNano.toDouble / 1e9)
    assert(row.getDouble(2) == hlNano.toDouble / 1e9)
    assert(row.getDouble(3) == r6(miNano.toDouble / math.min(hsNano, hlNano)))
    // information-theory sanity: 0 <= MI <= min(H_source, H_lang)
    assert(miNano >= -100 && miNano <= math.min(hsNano, hlNano) + 100)
  }

  test("q_cramers_v matches an exact driver replay over the FULL grid") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"lang")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cS = docs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cL = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ct = docs.length.toLong
    def quant(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    // the grid INCLUDES empty cells — their expected counts still carry χ²
    // (NB: iterate Seqs, not key Sets — a Set comprehension dedupes equal
    // χ² terms before the sum)
    val chiMicro = (for (s <- cS.keys.toSeq; l <- cL.keys.toSeq) yield {
      val o = cells.getOrElse((s, l), 0L).toDouble
      val e = (cS(s) * cL(l)).toDouble / ct
      quant((o - e) * (o - e) / e)
    }).sum
    val r = cS.size.min(cL.size)
    val dof = (cS.size.min(cL.size) - 1L) * (cS.size.max(cL.size) - 1L)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Text.qCramersV(spark, sf).head()
    assert(row.getLong(0) == ct)
    assert(row.getDouble(1) == chiMicro.toDouble / 1e6)
    assert(row.getLong(2) == dof)
    assert(row.getDouble(3) ==
      r6(math.sqrt(chiMicro.toDouble / 1e6 / (ct * (r - 1)).toDouble)))
    assert(row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0)
  }

  test("MI and Cramér's V degrade to 0 on single-category corpora (no ANSI error)") {
    import spark.implicits._
    // one source: H_source = 0, so NMI's denominator is exactly zero
    val oneSource = Seq(("s0", "en"), ("s0", "de"), ("s0", "en"))
      .toDF("source", "lang")
    val mi = Text.mutualInformationFromPairs(oneSource).head()
    assert(mi.getDouble(0) == 0.0, "MI against a constant is 0")
    assert(mi.getDouble(3) == 0.0, "NMI must degrade to 0, not divide by 0")
    // one language: min(r, c) = 1, so V's denominator is exactly zero
    val oneLang = Seq(("s0", "en"), ("s1", "en"), ("s2", "en"))
      .toDF("source", "lang")
    val cv = Text.cramersVFromPairs(oneLang).head()
    assert(cv.getDouble(1) == 0.0, "chi2 of a 1-dim table is 0")
    assert(cv.getLong(2) == 0L)
    assert(cv.getDouble(3) == 0.0, "V must degrade to 0, not divide by 0")
  }

  test("MI and Cramér's V dispatch arms agree (fixture and degenerate frames)") {
    import spark.implicits._
    // the contingency kernel's driver arm replays the distributed fan's
    // exact op order (ANSI-mirrored long products, HALF_UP rounds) — the
    // kill switch forces the distributed arm; results must be
    // bit-identical on the fixture and on adversarial shapes, and every
    // non-empty shape must really take the driver arm by default (an
    // empty table routes distributed either way)
    def frame(ps: Seq[(String, String)]) = ps.toDF("source", "lang")
    val shapes = Seq(
      "fixture" -> graft.tables.Tables.documents(spark, sf)
        .select($"source", $"lang"),
      "single source" -> frame(Seq(("s0", "en"), ("s0", "de"), ("s0", "en"))),
      "empty" -> frame(Seq.empty),
      "single cell" -> frame(Seq(("s0", "en"))),
      "sparse diagonal" -> frame(
        (0 until 40).flatMap(i => Seq.fill(1 + i % 3)((s"s$i", s"l$i")))),
      // 2000 of 2015 rows (99.3%) in one cell
      "skewed" -> frame(Seq.fill(2000)(("s0", "en")) ++
        (1 to 15).map(i => (s"s${i % 4}", s"l${i % 5}"))))
    def arm(df: org.apache.spark.sql.DataFrame): String =
      if (df.queryExecution.executedPlan.toString.contains("Join")) "distributed"
      else "driver"
    for ((shape, pairs) <- shapes;
         (stat, f) <- Seq[(String, org.apache.spark.sql.DataFrame =>
             org.apache.spark.sql.DataFrame)](
           "MI" -> (Text.mutualInformationFromPairs(_)),
           "Cramér's V" -> (Text.cramersVFromPairs(_)))) {
      val byDefault = f(pairs)
      val forced = forcedDistributed(f(pairs))
      assert(arm(byDefault) == (if (shape == "empty") "distributed" else "driver"),
        s"$stat on the $shape frame took the wrong arm by default")
      assert(arm(forced) == "distributed",
        s"$stat on the $shape frame: the kill switch must force the distributed arm")
      val (d, x) = (rows(byDefault), rows(forced))
      assert(d == x, s"$stat arms disagree on the $shape frame: $d vs $x")
    }
  }

  test("Cramér's V dispatches on the dense grid, not the present cells") {
    import spark.implicits._
    // at the production 2M-cell ceiling: an n-cell diagonal table is an
    // n × n dense grid. n = 1414 is 1,999,396 dense cells (<= 2M) and
    // takes the driver arm; n = 1415 is 2,002,225 (> 2M) with only 1415
    // present cells and must grade out to the distributed arm
    def diagonal(n: Int) = spark.range(n).select(
      concat(lit("s"), $"id").as("source"), concat(lit("l"), $"id").as("lang"))
    def jobs(pairs: org.apache.spark.sql.DataFrame): Int =
      RuntimeScans.countJobs(spark)(Text.cramersVFromPairs(pairs))
    val under = diagonal(1414)
    assert(jobs(under) != forcedDistributed(jobs(under)),
      "the 1414-cell diagonal must take the driver arm")
    assert(rows(Text.cramersVFromPairs(under)) ==
      forcedDistributed(rows(Text.cramersVFromPairs(under))))
    val over = diagonal(1415)
    assert(jobs(over) == forcedDistributed(jobs(over)),
      "the 1415-cell diagonal must not take the driver arm")
    // the fixture's small source × lang grid takes the driver arm
    val fixture = graft.tables.Tables.documents(spark, sf)
      .select($"source", $"lang")
    assert(jobs(fixture) != forcedDistributed(jobs(fixture)),
      "the fixture must take the driver arm at the default ceiling")
  }

  test("q_source_kl / q_jensen_shannon dispatch arms agree on the fixture") {
    // both ride the contingency kernel; the kill switch forces the
    // distributed fan — results must be bit-identical
    val driverSide =
      (rows(Text.qSourceKl(spark, sf)), rows(Text.qJensenShannon(spark, sf)))
    assert(forcedDistributed(rows(Text.qSourceKl(spark, sf))) == driverSide._1,
      "source_kl arms disagree")
    assert(forcedDistributed(rows(Text.qJensenShannon(spark, sf))) == driverSide._2,
      "jensen_shannon arms disagree")
  }

  test("q_vocab_growth: monotone curve ending at the full bigram vocabulary") {
    import spark.implicits._
    val r = Text.qVocabGrowth(spark, sf).collect()
    assert(r.length >= 2, "curve needs multiple checkpoints")
    val sizes = r.map(_.getAs[Long]("vocab_size"))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a < b },
      "vocab size must strictly grow at every emitted checkpoint")
    assert(sizes.last == Text.qBigramCounts(spark, sf).count(),
      "final checkpoint equals the full distinct-bigram vocabulary")
    assert(r.map(_.getAs[Long]("new_bigrams")).sum == sizes.last)
  }

  test("q_hash_sample: ~10% rate, recount matches the digest predicate") {
    import spark.implicits._
    val r = Text.qHashSample(spark, sf)
    assert(r.where($"n_sampled" > $"n_docs").count() == 0)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()
    val sampled = r.agg(sum($"n_sampled")).head.getLong(0)
    // binomial(500, 0.1): far outside [0.04, 0.18] would flag digest drift
    val rate = sampled.toDouble / total
    assert(rate > 0.04 && rate < 0.18, s"sample rate $rate off 10%")
    val direct = docs.where(
      conv(substring(md5($"doc_id".cast("string")), 1, 15), 16, 10)
        .cast("long") % 10 === 0).count()
    assert(sampled == direct)
  }

  test("q_quality_funnel: stages monotone non-increasing from the full corpus") {
    import spark.implicits._
    val r = Text.qQualityFunnel(spark, sf).collect()
    assert(r.map(_.getAs[String]("stage")).toSeq ==
      Seq("1_all", "2_length", "3_tokens", "4_diversity", "5_unique"))
    val counts = r.map(_.getAs[Long]("n_surviving"))
    assert(counts.head == spark.read.parquet(s"$sf/documents.parquet").count())
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"funnel must shrink monotonically: ${counts.mkString(",")}")
    assert(counts.last > 0, "some documents survive the whole funnel")
    assert(counts.last < counts.head, "the funnel must actually filter")
  }

  test("q_ngram_novelty: first doc is fully novel, fractions consistent") {
    import spark.implicits._
    val r = Text.qNgramNovelty(spark, sf)
    assert(r.where($"n_new" > $"n_bigrams").count() == 0)
    // the earliest doc with bigrams introduces everything it contains
    val first = r.orderBy($"doc_id").limit(1).head()
    assert(first.getAs[Long]("n_new") == first.getAs[Long]("n_bigrams"))
    // total novelty mass equals the distinct bigram vocabulary
    assert(r.agg(sum($"n_new")).head.getLong(0) ==
      Text.qBigramCounts(spark, sf).count())
  }

  test("CountMin: estimates never under-count and bound the error") {
    import spark.implicits._
    import graft.ml.CountMin
    val stream = Text.qTokenizeWordcount(spark, sf)
      .select($"token".as("tok"), $"cnt")
    val occurrences = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(filter(split($"text", " "), t => t =!= "")).as("tok"))
    val sketch = CountMin.build(occurrences, $"tok", width = 512)
    val total = sketch(0).sum
    assert(total == occurrences.count(), "each occurrence increments each row once")
    val est = stream.withColumn("e", CountMin.estimate($"tok", sketch)).collect()
    est.foreach { r =>
      val (t, c, e) = (r.getAs[String]("tok"), r.getAs[Long]("cnt"), r.getAs[Long]("e"))
      assert(e >= c, s"CM must never under-count: $t est $e < true $c")
      // ε = e/w ≈ 0.0053 → slack bound with the 4-row min is far below εN
      assert(e <= c + (3 * total) / 512, s"$t est $e too far above true $c")
    }
  }

  test("q_cm_heavy_hitters equals the exact 2% threshold query") {
    import spark.implicits._
    val r = Text.qCmHeavyHitters(spark, sf)
    assert(r.count() > 0)
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(filter(split($"text", " "), t => t =!= "")).as("tok"))
    val total = direct.count()
    val expected = direct.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .where($"cnt" * 50 >= total)
    assert(r.count() == expected.count())
    assert(r.join(expected, Seq("tok", "cnt"), "left_anti").count() == 0)
  }

  test("q_bottomk_sample: 2 per language, stable under recomputation") {
    import spark.implicits._
    val r = Text.qBottomkSample(spark, sf).collect()
    val langs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"lang").distinct().count()
    assert(r.length == 2 * langs)
    r.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq == Seq(1, 2))
    }
    // deterministic: a second run picks the identical sample
    val again = Text.qBottomkSample(spark, sf).collect()
    assert(r.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_weighted_sample: 3 per language, matches driver A-ES recomputation") {
    import spark.implicits._
    val r = Text.qWeightedSample(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id".cast("string").as("id"), $"lang", length($"text").as("len"))
      .collect()
      .map(x => (x.getString(0), x.getString(1), x.getInt(2)))
    val langs = docs.map(_._2).distinct.length
    assert(r.length == 3 * langs)
    // driver-side replay of the exact A-ES key
    def key(id: String, len: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val d = java.lang.Long.parseLong(md.take(15), 16)
      math.log((d + 1).toDouble / math.pow(2, 60)) / len
    }
    val expect = docs.groupBy(_._2).view.mapValues { xs =>
      xs.sortBy { case (id, _, len) => (-key(id, len), id) }
        .take(3).map(_._1).toSeq
    }.toMap
    r.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val got = rows.sortBy(_.getAs[Int]("rn")).map(_.getLong(2).toString).toSeq
      assert(got == expect(lang), s"A-ES sample mismatch for $lang")
    }
    // the weighting is real: sampled docs skew long vs the corpus mean
    val sampledIds = r.map(_.getLong(2).toString).toSet
    val meanAll = docs.map(_._3.toDouble).sum / docs.length
    val meanSampled = docs.filter(d => sampledIds(d._1))
      .map(_._3.toDouble).sum / sampledIds.size
    assert(meanSampled > meanAll,
      s"length-weighted sample must skew long: $meanSampled <= $meanAll")
  }

  test("q_length_drift: ppm gaps bounded, zero only for a mirror-image source") {
    import spark.implicits._
    val r = Text.qLengthDrift(spark, sf)
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source").distinct().count()
    assert(r.count() == nSources)
    assert(r.where($"ks_ppm" < 0 || $"ks_ppm" > 1000000).count() == 0)
    // KS of a source against a corpus INCLUDING it shrinks with source
    // share but stays positive unless the CDFs coincide on every bucket —
    // at least one source must show measurable drift on the fixture
    assert(r.agg(max($"ks_ppm")).head.getLong(0) > 0)
  }

  test("q_mix_rebalance: rates move every language toward the uniform target") {
    import spark.implicits._
    val r = Text.qMixRebalance(spark, sf).collect()
    val total = r.map(_.getAs[Long]("c_l")).sum
    val target = total / r.length
    r.foreach { row =>
      val (cl, rate, kept) = (row.getAs[Long]("c_l"),
        row.getAs[Long]("rate_ppm"), row.getAs[Long]("docs_kept"))
      assert(rate > 0 && rate <= 1000000)
      assert(kept <= cl)
      // over-represented langs are cut to ~target; under-represented kept whole
      if (cl > target) assert(math.abs(kept - target) <= target / 100 + 1,
        s"${row.getString(0)}: kept $kept vs target $target")
      else assert(rate == 1000000, "under-target languages are never downsampled")
    }
  }

  test("q_entropy_outliers really sit 2 sigma below their source mean") {
    import spark.implicits._
    val flagged = Text.qEntropyOutliers(spark, sf)
    assert(flagged.count() > 0, "fixture has low-entropy outliers")
    // recompute per-source mean/std from the entropy query in doubles
    val ent = Text.qTokenEntropy(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"source"), "doc_id")
    val stats = ent.groupBy($"source")
      .agg(avg($"entropy_nats").as("mu"), stddev_pop($"entropy_nats").as("sd"))
    val joined = flagged.join(ent.select($"doc_id", $"entropy_nats".as("e2")),
      "doc_id").join(stats, "source")
    val bad = joined.where($"e2" > $"mu" - lit(2.0) * $"sd" + lit(1e-6)).count()
    assert(bad == 0, "every flagged doc is at least 2 sigma below the mean")
  }

  test("q_lang_pmi: exactly top-5 per language, ranked by descending PMI") {
    import spark.implicits._
    val r = Text.qLangPmi(spark, sf).collect()
    val byLang = r.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      assert(rows.length <= 5, s"$lang has ${rows.length} rows")
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rows.length), s"$lang ranks not contiguous")
      val pmis = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("pmi_nats"))
      assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b },
        s"$lang PMI not descending: ${pmis.mkString(",")}")
    }
    assert(r.forall(_.getAs[Long]("c_tl") >= 5), "support floor")
  }

  test("q_html_extract strips scripts/styles/tags and recovers the title") {
    val rows = graft.ops.Text.qHtmlExtract(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("title").startsWith(s"Doc $id ("))
      // extracted = source tokens + title/h1/nav overhead, never script
      // payload; overhead is bounded (title 3-4 + h1 2 + nav 2 ≈ 8-10)
      val ext = r.getAs[Long]("n_tokens_extracted")
      val src = r.getAs[Long]("n_tokens_source")
      assert(ext > src && ext <= src + 12,
        s"doc $id: extracted $ext vs source $src — markup must not leak")
    }
  }

  test("q_lm_quality_filter: terciles ordered, all buckets populated, backoff fires") {
    val rows = graft.ops.Text.qLmQualityFilter(spark, sf).collect()
    assert(rows.nonEmpty)
    val byBucket = rows.groupBy(_.getAs[String]("lm_bucket"))
      .view.mapValues(_.map(_.getAs[Long]("avg_logp_micro"))).toMap
    assert(byBucket.keySet == Set("tail", "middle", "head"))
    // the tercile cuts must actually order the buckets
    assert(byBucket("tail").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("head").min)
    // held-out docs only (train bucket < 80 is excluded)
    assert(rows.length < 500 && rows.length > 50)
  }

  test("q_url_normalize: ports, utm params, case and fragments normalize") {
    val norm = graft.ops.Text.qUrlNormalize(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("url_norm")).toMap
    // doc 0: http + :80 (default, dropped) + utm-wrapped query
    assert(norm(0L) == "http://w0.example.com/P/0?q=0", norm(0L))
    // doc 1: HTTPS lowercased, :8080 is non-default and KEPT, no utm
    assert(norm(1L) == "https://w1.example.com:8080/P/1?q=1", norm(1L))
    // doc 2: http, no port, utm params stripped from both ends
    assert(norm(2L) == "http://w2.example.com/P/2?q=2", norm(2L))
    // no fragment survives anywhere
    assert(norm.values.forall(u => !u.contains("#")))
  }

  test("q_span_dedup matches a driver-side gram-coverage recompute") {
    val r = rows(Text.qSpanDedup(spark, sf))
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r.nonEmpty)
    // naive reference: tokenize on the driver, hash 8-gram strings,
    // cover positions of grams seen in >= 2 distinct docs
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1).split(" ").filter(_.nonEmpty))
      .filter(_._2.length >= 8)
    val gramDocs = scala.collection.mutable.Map.empty[String, Set[Long]]
    for ((id, t) <- docs; i <- 0 to t.length - 8) {
      val g = t.slice(i, i + 8).mkString(" ")
      gramDocs(g) = gramDocs.getOrElse(g, Set.empty) + id
    }
    val dup = gramDocs.filter(_._2.size >= 2).keySet
    val naive = docs.map { case (id, t) =>
      val cov = (for (i <- 0 to t.length - 8
        if dup(t.slice(i, i + 8).mkString(" ")); p <- i until i + 8) yield p).toSet
      id -> ((t.length.toLong, cov.size.toLong))
    }.toMap
    assert(r.keySet == naive.keySet)
    naive.foreach { case (id, (n, nCov)) =>
      val (rn, rCov, frac) = r(id)
      assert(rn == n && rCov == nCov, s"doc $id: got $rCov want $nCov")
      assert(math.abs(frac - nCov.toDouble / n) < 5e-5)
    }
    // the signal is non-trivial at this sf: somebody shares a span
    assert(naive.valuesIterator.exists(_._2 > 0L),
      "sf0.001 corpus carries cross-doc duplicated spans")
    // whole-file duplicates (when present) must be fully covered
    docs.groupBy(_._2.mkString(" ")).filter(_._2.length >= 2)
      .values.flatten.foreach { case (id, _) =>
        assert(r(id)._3 == 1.0, s"exact-dup doc $id must have dup_frac 1.0")
      }
  }

  test("q_bpe_merges matches a driver-side pair-frequency recompute") {
    val r = rows(Text.qBpeMerges(spark, sf))
      .map(x => (x.getString(0), x.getLong(1)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val freq = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    docs.iterator.flatMap(_.toLowerCase.split(" ").iterator)
      .filter(w => w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z'))
      .foreach(w => freq(w) += 1L)
    val pc = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    freq.foreach { case (w, f) =>
      if (w.length >= 2) w.sliding(2).foreach(p => pc(p) += f)
    }
    val expect = pc.toSeq.sortBy { case (p, c) => (-c, p) }.take(30)
    assert(r == expect, s"got ${r.take(5)}… want ${expect.take(5)}…")
    assert(r.size == 30 && r.head._2 >= r.last._2)
  }

  test("q_bpe_apply matches a driver-side canonical merge replay") {
    val r = rows(Text.qBpeApply(spark, sf)).map(x => (x.getString(0), x.getLong(1)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val freq = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    docs.iterator.flatMap(_.toLowerCase.split(" ").iterator)
      .filter(w => w.nonEmpty && w.forall(c => c >= 'a' && c <= 'z'))
      .foreach(w => freq(w) += 1L)
    // canonical per-rule fixpoint: merge leftmost adjacent (a, b) until
    // none remains, rules in table order
    def encode(w: String): Seq[String] = {
      var syms = w.map(_.toString) :+ "</w>"
      for ((a, b) <- Text.BpeApplyMerges) {
        var changed = true
        while (changed) {
          val i = syms.indices.dropRight(1)
            .find(i => syms(i) == a && syms(i + 1) == b)
          changed = i.isDefined
          i.foreach(i => syms = syms.patch(i, Seq(a + b), 2))
        }
      }
      syms.filterNot(_ == "</w>")
    }
    val cnt = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    freq.foreach { case (w, f) => encode(w).foreach(t => cnt(t) += f) }
    val expect = cnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(30)
    assert(r == expect, s"got ${r.take(5)}… want ${expect.take(5)}…")
    // merges actually fired: at least one multi-char subword in the top 30
    assert(r.exists(_._1.length > 1))
  }

  test("bpe oracle replace-chain agrees with the graft_bpe kernel on the real vocab") {
    import spark.implicits._
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), " ")).as("w"))
      .where($"w".rlike("^[a-z]+$")).distinct()
    val spaced = concat(lit(" "), regexp_replace($"w", "(.)", "$1 "), lit("</w> "))
    val once = Text.bpeApplyChain(spaced)
    // the oracle's 4-pass chain is at its fixpoint…
    assert(words.where(once =!= Text.bpeApplyChain(once)).count() == 0,
      "a second full chain application must change nothing")
    // …and that fixpoint equals the kernel's canonical merge, token for token
    val chainToks = filter(split(trim(once), " "), t => t =!= "" && t =!= "</w>")
    val kernelToks = call_function("graft_bpe", $"w", Text.bpeRulesLit)
    assert(words.where(chainToks =!= kernelToks).count() == 0,
      "oracle chain and graft_bpe kernel must segment identically")
  }

  test("tokenizer lifecycle capstone: merges learned from corpus counts drive graft_bpe") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // the full tokenizer-training loop at vocabulary level: segment the
    // vocab under the current merge table (graft_bpe with k rules),
    // count adjacent symbol pairs weighted by word frequency, adopt the
    // top pair as rule k+1 — the exact loop q_bpe_merges is the first
    // iteration of, closed end-to-end through the apply kernel
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower($"text"), " ")).as("w"))
      .where($"w".rlike("^[a-z]+$"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    def topPair(rulesStr: String): (String, Long) = {
      val enc = call_function("graft_bpe", $"w", lit(rulesStr))
      val r = words.select($"freq", enc.as("enc"))
        .where(size($"enc") >= 2)
        .select($"freq", explode(transform(sequence(lit(1), size($"enc") - 1),
          i => concat(element_at($"enc", i), lit(" "),
            element_at($"enc", i + 1)))).as("pair"))
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"pair").limit(1).head()
      (r.getString(0), r.getLong(1))
    }
    var rules = Vector.empty[String]
    var counts = Vector.empty[Long]
    for (_ <- 1 to 6) {
      val (p, c) = topPair(rules.mkString(";"))
      rules :+= p; counts :+= c
    }
    // round 1 must agree with the gated trainer statistics query
    val firstFromQuery = rows(Text.qBpeMerges(spark, sf)).head
    assert(rules.head.replace(" ", "") ==
      firstFromQuery.getString(0) && counts.head == firstFromQuery.getLong(1),
      s"round-1 merge ${rules.head} must be q_bpe_merges' top pair")
    // the max adjacent-pair count is non-increasing: a merge can create
    // new pairs but never more frequent ones than the pair it consumed
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"pair counts must be monotone non-increasing: $counts")
    // segmentation under the learned table is lossless and at fixpoint
    val encFinal = call_function("graft_bpe", $"w", lit(rules.mkString(";")))
    assert(words.where(array_join(encFinal, "") =!= $"w").count() == 0,
      "subword concatenation must reconstruct every word")
    rules.foreach { rule =>
      val Array(a, b) = rule.split(" ", 2)
      val adj = words.select(encFinal.as("enc")).where(size($"enc") >= 2)
        .select(explode(transform(sequence(lit(1), size($"enc") - 1),
          i => struct(element_at($"enc", i).as("x"),
            element_at($"enc", i + 1).as("y")))).as("p"))
        .where($"p.x" === a && $"p.y" === b)
      assert(adj.count() == 0, s"learned rule ($a, $b) must be exhausted")
    }
  }

  test("graft_bpe rejects non-literal or NULL rules at analysis time") {
    import spark.implicits._
    val df = Seq(("the", "t h")).toDF("w", "r")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_bpe", $"w", $"r")).collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_bpe", $"w",
        lit(null).cast("string"))).collect()
    }
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
  }

  test("q_pretokenize matches a driver-side regex replay, GPT-2 conventions hold") {
    val r = rows(Text.qPretokenize(spark, sf)).map(x => (x.getString(0), x.getLong(1)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val pat = java.util.regex.Pattern.compile(Text.Gpt2PretokenRegex)
    val cnt = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    docs.foreach { t =>
      val m = pat.matcher(t)
      while (m.find()) cnt(m.group()) += 1L
    }
    val expect = cnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(30)
    assert(r == expect, s"got ${r.take(5)}… want ${expect.take(5)}…")
    // the GPT-2 signature: space-prefixed vocabulary entries dominate
    assert(r.exists(_._1.startsWith(" ")),
      "leading-space pretokens must appear in the top 30")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(
      s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q_group_sample matches a driver-side md5-rank replay") {
    val got = rows(Text.qGroupSample(spark, sf))
      .map(r => (r.getString(1), r.getString(2), r.getInt(3), r.getLong(0)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = docs.groupBy(d => (d._2, d._3)).toSeq.flatMap {
      case ((lang, src), ds) =>
        ds.sortBy(d => md5hex(d._1.toString)).take(2).zipWithIndex
          .map { case (d, i) => (lang, src, i + 1, d._1) }
    }.sortBy(t => (t._1, t._2, t._3))
    assert(got == expect)
    // exact bound: every group contributes min(2, |group|) rows
    val sizes = docs.groupBy(d => (d._2, d._3)).view.mapValues(_.length)
    assert(got.size == sizes.values.map(n => math.min(2, n)).sum)
  }

  test("q_quantile_normalize matches an exact ntile replay") {
    val got = rows(Text.qQuantileNormalize(spark, sf))
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // SQL-standard ntile(k): first (n mod k) buckets get ceil(n/k) rows
    def ntileOf(rn: Int, n: Int, k: Int): Int = {
      val q = n / k; val rem = n % k
      if (rn <= (q + 1) * rem) (rn - 1) / (q + 1) + 1
      else rem + (rn - (q + 1) * rem - 1) / math.max(q, 1) + 1
    }
    val bucketOf = docs.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      val ordered = ds.sortBy(d => (d._3, d._1))
      ordered.zipWithIndex.map { case (d, i) =>
        d._1 -> ntileOf(i + 1, ordered.length, 100)
      }
    }.toMap
    // Spark's round(double, 4) is BigDecimal HALF_UP — replicate exactly
    val means = docs.groupBy(d => bucketOf(d._1)).view.mapValues { ds =>
      BigDecimal(ds.map(_._3).sum.toDouble / ds.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, _, nc) =>
      val (gotChars, gotNorm) = got(id)
      assert(gotChars == nc)
      assert(gotNorm == means(bucketOf(id)), s"doc $id")
    }
  }

  test("q_sentence_split matches a driver-side segmentation replay") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perDoc = docs.map { case (src, text) =>
      val segs = text.replace(" sort ", ". ").split("[.!?]+")
        .filter(_.trim.nonEmpty)
      (src, segs.length.toLong, segs.map(_.trim.length.toLong).sum)
    }
    val expected = perDoc.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val nDocs = xs.size.toLong
      val nSent = xs.map(_._2).sum
      val chars = xs.map(_._3).sum
      (src, nDocs, nSent, r4(nSent.toDouble / nDocs), r4(chars.toDouble / nSent))
    }
    val got = rows(Text.qSentenceSplit(spark, sf)).map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got == expected)
    // the injected terminals must actually split: > 1 sentence per doc on avg
    assert(got.forall(_._4 > 1.0), "terminal injection must create sentences")
  }

  test("q_readability matches the integer-sums Flesch replay") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val sent = xs.map { case (_, t) =>
        t.replace(" sort ", ". ").split("[.!?]+").count(_.trim.nonEmpty).toLong
      }.sum
      val words = xs.map { case (_, t) => t.split(" ", -1).length.toLong }.sum
      val syl = xs.map { case (_, t) =>
        (t.split("[aeiou]+", -1).length - 1).toLong
      }.sum
      val flesch = BigDecimal(206.835
        - 1.015 * words.toDouble / sent - 84.6 * syl.toDouble / words)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (src, sent, words, syl, flesch)
    }
    val got = rows(Text.qReadability(spark, sf)).map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got == expected)
    // every word has at least some vowels in this corpus: ratio sane
    got.foreach { case (src, s, w, y, _) =>
      assert(s > 0 && w > 0 && y > 0, src)
      assert(y <= 4 * w, s"$src syllable/word ratio out of range")
    }
  }

  test("q_length_buckets: ladder replay exact; docs and tokens conserved") {
    val toks = graft.tables.Tables.documents(spark, sf)
      .selectExpr("CAST(size(split(text, ' ')) AS LONG) AS t").collect()
      .map(_.getLong(0)).toSeq
    def ladder(t: Long): Long =
      if (t <= 64) 64 else if (t <= 128) 128 else if (t <= 256) 256
      else if (t <= 512) 512 else 1024
    val expected = toks.groupBy(ladder).toSeq.sortBy(_._1).map { case (b, xs) =>
      val n = xs.size.toLong
      val kept = xs.map(math.min(_, 1024L)).sum
      (b, n, kept, xs.count(_ > 1024L).toLong,
        (n * b - kept) * 1000000L / (n * b))
    }
    val got = rows(Text.qLengthBuckets(spark, sf)).map(r =>
      (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got == expected)
    assert(got.map(_._2).sum == toks.size.toLong)
  }

  test("q_unicode_normalize: decomposed docs compose, composed stay put") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = docs.groupBy(_._2).toSeq.sortBy(_._1).map { case (src, xs) =>
      val even = xs.count(_._1 % 2 == 0).toLong
      // each decomposed prefix carries two combining marks -> 2 saved
      (src, xs.size.toLong, even, 2L * even)
    }
    val got = rows(Text.qUnicodeNormalize(spark, sf))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == expected)
    assert(got.map(_._3).sum > 0, "some docs must actually change")
  }

  test("q_oov_rate matches the frozen-vocab replay; splits conserved") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def train(id: Long): Boolean = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 10 < 8
    }
    def tk(t: String) = t.split(' ').filter(_.nonEmpty)
    val vocab = docs.filter(d => train(d._1)).flatMap(d => tk(d._3))
      .groupBy(identity).collect { case (t, xs) if xs.size >= 5 => t }.toSet
    val expected = docs.filterNot(d => train(d._1))
      .flatMap(d => tk(d._3).map(t => (d._2, t)))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ts) =>
        val n = ts.size.toLong
        val oov = ts.count(t => !vocab.contains(t._2)).toLong
        (src, n, oov, oov * 1000000L / n)
      }
    val got = rows(Text.qOovRate(spark, sf))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got == expected)
    assert(got.map(_._2).sum > 0)
  }

  test("q_autocomplete: every prefix's completions are its frequency top-3") {
    val toks = graft.tables.Tables.documents(spark, sf)
      .select("text").collect().flatMap(_.getString(0).split(' '))
      .filter(t => t.nonEmpty && t.length >= 2).toSeq
    val counts = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = counts.keys.toSeq.groupBy(_.take(2)).toSeq.sortBy(_._1)
      .flatMap { case (p, ts) =>
        ts.map(t => (t, counts(t))).sortBy { case (t, c) => (-c, t) }
          .take(3).zipWithIndex
          .map { case ((t, c), i) => (p, (i + 1).toLong, t, c) }
      }
    val got = rows(Text.qAutocomplete(spark, sf)).map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got == expected)
  }
}
