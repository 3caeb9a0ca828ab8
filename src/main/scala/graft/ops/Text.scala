package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.StupidBackoff
import graft.tables.Tables

/** Text / NLP operator surface over `documents`.
  *
  * Capability parity with the reference's nlp package (SURVEY.md §2.A:
  * Tokenizer, NGramsFeaturizer, NGramsCounts, TermFrequency,
  * CommonSparseFeatures, WordFrequencyEncoder, StupidBackoff) plus the
  * north-star text-analysis ops (language-ID heuristic, quality scoring,
  * token counting, document fingerprinting).
  *
  * All tokenization is `split(text, ' ')` + drop empties — verified safe for
  * this corpus and byte-identical to DuckDB `string_split` (FIXTURES.md).
  * Everything is higher-order array functions + explode + hash aggregation:
  * no UDFs, fully whole-stage-codegen'd, and every shuffle keys on
  * token/doc_id which hash-partitions evenly at 100 TB (vocabulary and
  * doc-id spaces are high-cardinality).
  *
  * Global-ranking discipline (no `Window.orderBy` without partitionBy
  * anywhere in this file): bounded top-K cuts go through `orderBy.limit`
  * (TakeOrderedAndProject — per-partition heap + driver merge of K rows),
  * and the one full-vocabulary dense ranking (`q_word_id_encode`) uses a
  * range-partitioned sort + zipWithIndex (per-partition counts + offsets),
  * so no stage ever funnels the vocabulary through a single task.
  */
object Text {

  /** Filtered token array: split on single space, drop empty tokens. */
  private def toks(c: Column): Column =
    call_function("graft_tokens", c)

  private val duckToks = "list_filter(string_split(text, ' '), x -> x <> '')"

  // --------------------------------------------------------- word counting

  /** Tokenize + global word count (ref: Tokenizer + NGramsCounts n=1). */
  def qTokenizeWordcount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(toks($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token")
  }

  val tokenizeWordcountSql: String =
    s"""SELECT token, count(*) AS cnt
       |FROM (SELECT unnest($duckToks) AS token FROM documents)
       |GROUP BY token ORDER BY cnt DESC, token""".stripMargin

  /** Bigram extraction + count (ref: NGramsFeaturizer n=2 + NGramsCounts).
    * Bigrams are built positionally inside one compiled `graft_shingles`
    * call per doc (no self-join). */
  def qBigramCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(call_function("graft_shingles", $"text", lit(2))).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"bigram")
  }

  val bigramCountsSql: String =
    s"""WITH t AS (SELECT $duckToks AS toks FROM documents)
       |SELECT toks[i] || ' ' || toks[i + 1] AS bigram, count(*) AS cnt
       |FROM t, UNNEST(range(1, len(toks))) AS u(i)
       |GROUP BY bigram ORDER BY cnt DESC, bigram""".stripMargin

  /** BPE tokenizer-training pair statistics: the frequency-weighted count
    * of adjacent character pairs over the word-frequency table — the
    * inner-loop aggregation of byte-pair-encoding training (Sennrich et
    * al. 2016), the step that actually touches corpus-scale data when a
    * tokenizer is trained on a 100 TB crawl (ref capability: ABSENT;
    * north-star tokenizer support).
    *
    * Scale shape — the decisive move is aggregating the corpus to its
    * WORD-FREQUENCY TABLE first: one corpus-linear tokenize + hash
    * aggregation shrinks the working set from corpus tokens to vocabulary
    * entries (sublinear in corpus size, Heaps' law), and the character
    * -pair explode then runs over the vocab only, weighted by word
    * frequency — exactly how production BPE trainers structure the scan.
    * A merge ROUND would re-run the same vocab-sized aggregation after
    * string surgery on the merged pair; the corpus is never re-read. */
  def qBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val words = wordFreqs(spark, sfDir)
    words.where(length($"w") >= 2)
      .select($"freq", explode(transform(sequence(lit(1), length($"w") - 1),
        i => $"w".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(sum($"freq").as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(30)
  }

  /** The corpus word-frequency table both BPE queries start from: lowered
    * [a-z]+ tokens and their counts (w, freq). */
  private def wordFreqs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(toks(lower(col("text")))).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  val bpeMergesSql: String =
    """WITH t AS (
      |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      |  FROM documents),
      |w AS (
      |  SELECT w, count(*) AS freq FROM t
      |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY 1),
      |p AS (
      |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
      |  FROM w, UNNEST(range(1, len(w))) AS u(i)
      |  WHERE len(w) >= 2)
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
      |FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30""".stripMargin

  /** Fixed merge table for [[qBpeApply]] — 16 high-frequency English
    * merges in priority order (the first rules a real English BPE
    * training run learns). A LITERAL table on purpose: tokenizer
    * vocabularies are versioned artifacts shipped WITH a model, not
    * re-derived per corpus — applying a fixed published merge list is
    * exactly the production decode path. */
  val BpeApplyMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r", "an" -> "d",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r", "e" -> "s",
    "s" -> "t", "a" -> "r", "o" -> "u", "in" -> "g")

  /** Passes of leftmost non-overlapping `replace` per merge rule in the
    * ORACLE's expression-chain spelling. ONE pass diverges from
    * canonical BPE on runs (" a a a a " merges once, not twice, because
    * the shared boundary space is consumed); each extra pass at least
    * halves the remaining adjacent occurrences, so pass count bounds the
    * handled run length at 2^passes — 4 passes covers runs to 16
    * symbols, beyond any [a-z]+ word the vocab filter admits. TextSpec
    * asserts the fixpoint: a 5th pass changes nothing over the real
    * vocabulary, so the chain agrees with the canonical
    * `graft_bpe` kernel the engine side uses. (The engine does NOT run
    * this chain: 64 nested `replace` nodes generated pathological
    * codegen/JIT load — 10-30 s compile stalls landing on whichever
    * query ran nearby. The kernel is one compiled call; the chain
    * survives only as the DuckDB oracle, where it measured fine.) */
  private val BpePasses = 4

  private[graft] def bpeApplyChain(c: Column): Column =
    BpeApplyMerges.foldLeft(c) { case (acc, (a, b)) =>
      (1 to BpePasses).foldLeft(acc)((s, _) =>
        replace(s, lit(s" $a $b "), lit(s" $a$b ")))
    }

  /** The merge table as `graft_bpe`'s rule-literal argument. */
  private[graft] val bpeRulesLit: Column =
    lit(BpeApplyMerges.map { case (a, b) => s"$a $b" }.mkString(";"))

  private def bpeApplySqlChain(expr0: String): String =
    BpeApplyMerges.foldLeft(expr0) { case (acc, (a, b)) =>
      (1 to BpePasses).foldLeft(acc)((s, _) => s"replace($s, ' $a $b ', ' $a$b ')")
    }

  /** BPE tokenizer APPLICATION (the decode-side complement of
    * [[qBpeMerges]]' training statistics): segment the corpus vocabulary
    * into subword units under the fixed [[BpeApplyMerges]] table and
    * report the top-30 subword tokens by corpus frequency — the
    * "tokenize 100 TB with a shipped tokenizer" operator every training
    * pipeline runs exactly once per corpus.
    *
    * Shape: same vocabulary-level discipline as the trainer — the
    * encode runs once per DISTINCT word (Heaps-sublinear), never per
    * occurrence; occurrences only weight the final count. The encode is
    * the compiled `graft_bpe` kernel ([[graft.functions.TextKernels.bpe]]:
    * canonical leftmost-until-fixpoint merging per rule, rules in table
    * order) — one codegen'd call, no shuffle until the final token
    * aggregation. The oracle spells the identical fixpoint as a
    * boundary-delimited 4-pass `replace` chain over " c h a r s </w> "
    * (see [[BpePasses]] for why the two spellings agree).
    *
    * Bench-attribution note (round 20, probed three ways): first-run
    * 2.31 s isolated / 1.30-1.51 s after a generic prefix, steady-state
    * 0.26-0.49 s — a query-specific first-run cost (own stage compile +
    * corpus-shaped JIT) amortized only when a BPE-family predecessor
    * happens to run first in the seeded sweep order. A synthetic
    * graft_bpe session warm was tried and measured ineffective
    * (negative result in Bench.scala's warm block). Direct-band sweep
    * entries wobble 0.3-1.3 s accordingly; adjudicated
    * order-attribution, no action. */
  def qBpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val words = wordFreqs(spark, sfDir)
    words
      .select($"freq",
        explode(call_function("graft_bpe", $"w", bpeRulesLit)).as("token"))
      .groupBy($"token").agg(sum($"freq").as("cnt"))
      .orderBy($"cnt".desc, $"token")
      .limit(30)
  }

  val bpeApplySql: String = {
    val chain = bpeApplySqlChain(
      "' ' || regexp_replace(w, '(.)', '\\1 ', 'g') || '</w> '")
    s"""WITH t AS (
      |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      |  FROM documents),
      |w AS (
      |  SELECT w, count(*) AS freq FROM t
      |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
      |enc AS (SELECT freq, $chain AS enc FROM w),
      |tok AS (
      |  SELECT freq, unnest(list_filter(string_split(trim(enc), ' '),
      |    x -> x <> '' AND x <> '</w>')) AS token
      |  FROM enc)
      |SELECT token, CAST(sum(freq) AS BIGINT) AS cnt
      |FROM tok GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30""".stripMargin
  }

  /** Per-language corpus stats (ref capability: grouped summary stats). */
  def qLangStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        round(sum($"n_chars").cast("double") / count(lit(1)), 4).as("avg_chars"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"))
      .orderBy($"lang")
  }

  val langStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------- vocab / tf-idf

  /** Top-K vocabulary by frequency (ref: CommonSparseFeatures(K)).
    * The top-100 cut is `orderBy.limit` (TakeOrderedAndProject: per-partition
    * heaps, driver merges only K rows — no global sort, no single-partition
    * window over the vocabulary). Ranks are then assigned among the K
    * surviving rows via a broadcast "count of better rows" self-join, which
    * is O(K²) on K=100 rows — constant work at any corpus scale. */
  def qCommonTermsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val top = Tables.documents(spark, sfDir)
      .select(explode(toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token").limit(100)
    val better = top.select($"token".as("t2"), $"cnt".as("c2"))
    top.join(broadcast(better),
        $"c2" > $"cnt" || ($"c2" === $"cnt" && $"t2" < $"token"), "left")
      .groupBy($"token", $"cnt")
      .agg((count($"t2") + 1).cast("long").as("rank"))
      .orderBy($"rank")
  }

  val commonTermsTopkSql: String =
    s"""SELECT token, cnt, rank FROM (
       |  SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
       |  FROM (SELECT token, count(*) AS cnt
       |        FROM (SELECT unnest($duckToks) AS token FROM documents)
       |        GROUP BY token))
       |WHERE rank <= 100 ORDER BY rank""".stripMargin

  /** Frequency-ordered word-id encoding (ref: WordFrequencyEncoder): each
    * token occurrence mapped to a dense id ordered by corpus frequency,
    * emitted as one row per (doc_id, pos) — the scalar serialization of the
    * encoded sequence.
    *
    * The dense id assignment is the scalable two-phase ranking: a
    * range-partitioned sort of the count table by (cnt desc, token) followed
    * by zipWithIndex (counts each partition, then offsets — two passes, no
    * single-partition stage), instead of an unpartitioned row_number
    * window that would funnel a web-scale vocabulary through one task. */
  def qWordIdEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select($"doc_id", posexplode(toks($"text")).as(Seq("pos", "token")))
    val sortedVocab = tokens.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token").select($"token")
    val vocab = spark.createDataFrame(
      sortedVocab.rdd.zipWithIndex.map { case (r, i) => (r.getString(0), i) })
      .toDF("token", "token_id")
    tokens.join(vocab, "token")
      .select($"doc_id", $"pos".cast("long").as("pos"), $"token_id")
      .orderBy($"doc_id", $"pos")
  }

  val wordIdEncodeSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS token,
       |        unnest(range(1, len(toks) + 1)) - 1 AS pos FROM t),
       |vocab AS (
       |  SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS token_id
       |  FROM (SELECT token, count(*) AS cnt FROM p GROUP BY token))
       |SELECT doc_id, CAST(pos AS BIGINT) AS pos, token_id
       |FROM p JOIN vocab USING (token)
       |ORDER BY doc_id, pos""".stripMargin

  /** TF-IDF with top-3 terms per document (ref: TermFrequency + IDF
    * weighting). idf = ln(N/df); ranking tie-broken on token. */
  def qTfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // tf feeds BOTH the df aggregation and the scoring join — ReuseAudit
    // measured the explode+groupBy running twice; LAZY checkpoint (the
    // corpus-sized-relation discipline, see qBoilerplateFrac) shares it
    // within the action without an eager materialization job
    val tf = docs.select($"doc_id", explode(toks($"text")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", $"tf" * log($"n_docs".cast("double") / $"df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= 3)
      .select($"doc_id", $"rank", $"token", round($"tfidf", 4).as("tfidf"))
      .orderBy($"doc_id", $"rank")
  }

  val tfidfTopTermsSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, unnest($duckToks) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM p GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, token, tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
       |  FROM tf JOIN df USING (token) CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, token, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, token, round(tfidf, 4) AS tfidf
       |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // --------------------------------------------------- language modelling

  /** Stupid-Backoff scores of every n-tuple of the `top` most frequent
    * tokens: [[graft.ml.StupidBackoff.topGrid]] plus the query's own column
    * names. `seen` names the seen_n..seen_2 flags in output order. */
  private def stupidBackoff(spark: SparkSession, sfDir: String, n: Int, top: Int,
      seen: String*): DataFrame = {
    val ws = (1 to n).map(j => col(s"w$j"))
    StupidBackoff.topGrid(
        Tables.documents(spark, sfDir).select(toks(col("text")).as("t")), "t", n, top)
      .select(ws ++ (round(col("score"), 6).as("score") +: (n to 2 by -1).zip(seen)
        .map { case (k, name) => col(s"seen_$k").as(name) }): _*)
      .orderBy(ws: _*)
  }

  /** Stupid-Backoff bigram LM scores (ref: StupidBackoffEstimator/Model):
    * scores all pairs from the top-10 unigrams; unseen pairs take the 0.4 *
    * unigram-relative-frequency backoff branch. Pure count arithmetic. */
  def qStupidBackoffBigram(spark: SparkSession, sfDir: String): DataFrame =
    stupidBackoff(spark, sfDir, 2, 10, "observed")

  val stupidBackoffBigramSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |uni AS (SELECT token, count(*) AS uc
       |        FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
       |bi AS (SELECT w1, w2, count(*) AS bc FROM (
       |         SELECT toks[i] AS w1, toks[i + 1] AS w2
       |         FROM t, UNNEST(range(1, len(toks))) AS u(i))
       |       GROUP BY w1, w2),
       |top AS (SELECT token, uc FROM (
       |          SELECT token, uc, row_number() OVER (ORDER BY uc DESC, token) AS r FROM uni)
       |        WHERE r <= 10),
       |total AS (SELECT CAST(sum(uc) AS BIGINT) AS total_tokens FROM uni)
       |SELECT a.token AS w1, b.token AS w2,
       |  round(CASE WHEN bc IS NOT NULL THEN CAST(bc AS DOUBLE) / a.uc
       |        ELSE 0.4 * CAST(b.uc AS DOUBLE) / total_tokens END, 6) AS score,
       |  bc IS NOT NULL AS observed
       |FROM top a CROSS JOIN top b
       |LEFT JOIN bi ON bi.w1 = a.token AND bi.w2 = b.token
       |CROSS JOIN total
       |ORDER BY w1, w2""".stripMargin

  /** Trigram Stupid-Backoff scores (ref: StupidBackoffEstimator's general
    * n-gram recursion at n = 3):
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)                   if trigram seen
    *              = 0.4 · c(w2w3)/c(w2)                 else if bigram seen
    *              = 0.4 · 0.4 · c(w3)/total             otherwise.
    * Scores every (w1,w2,w3) from the top-5 unigrams (125 rows). Pure
    * count arithmetic — n-gram count tables joined on their prefixes; all
    * shuffles key on token tuples. */
  def qStupidBackoffTrigram(spark: SparkSession, sfDir: String): DataFrame =
    stupidBackoff(spark, sfDir, 3, 5, "seen_trigram", "seen_bigram")

  val stupidBackoffTrigramSql: String =
    s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
       |uni AS (SELECT token, count(*) AS uc
       |        FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
       |bi AS (SELECT w1, w2, count(*) AS bc FROM (
       |         SELECT toks[i] AS w1, toks[i + 1] AS w2
       |         FROM t, UNNEST(range(1, len(toks))) AS u(i))
       |       GROUP BY w1, w2),
       |tri AS (SELECT w1, w2, w3, count(*) AS tc FROM (
       |          SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |          FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i))
       |        GROUP BY w1, w2, w3),
       |top AS (SELECT token, uc FROM (
       |          SELECT token, uc, row_number() OVER (ORDER BY uc DESC, token) AS r
       |          FROM uni) WHERE r <= 5),
       |total AS (SELECT CAST(sum(uc) AS BIGINT) AS total_tokens FROM uni)
       |SELECT a.token AS w1, b.token AS w2, c.token AS w3,
       |  round(CASE
       |    WHEN tri.tc IS NOT NULL AND b12.bc IS NOT NULL
       |      THEN CAST(tri.tc AS DOUBLE) / b12.bc
       |    WHEN b23.bc IS NOT NULL
       |      THEN 0.4 * CAST(b23.bc AS DOUBLE) / b.uc
       |    ELSE 0.16 * CAST(c.uc AS DOUBLE) / total_tokens END, 6) AS score,
       |  tri.tc IS NOT NULL AS seen_trigram,
       |  b23.bc IS NOT NULL AS seen_bigram
       |FROM top a CROSS JOIN top b CROSS JOIN top c
       |LEFT JOIN tri ON tri.w1 = a.token AND tri.w2 = b.token AND tri.w3 = c.token
       |LEFT JOIN bi b12 ON b12.w1 = a.token AND b12.w2 = b.token
       |LEFT JOIN bi b23 ON b23.w1 = b.token AND b23.w2 = c.token
       |CROSS JOIN total
       |ORDER BY w1, w2, w3""".stripMargin

  /** 4-gram Stupid-Backoff scores (ref: StupidBackoffEstimator's general
    * recursion at n = 4): every (w1..w4) from the top-4 unigrams (256
    * rows). */
  def qStupidBackoff4gram(spark: SparkSession, sfDir: String): DataFrame =
    stupidBackoff(spark, sfDir, 4, 4, "seen_4gram", "seen_trigram", "seen_bigram")

  /** Oracle: the same cascade over string n-gram keys. Each branch keeps
    * the (count/denominator) division FIRST, then the multiplier, in the
    * builder's order. The alpha powers are not the builder's bits: DuckDB
    * types `0.4 * 0.4` as DECIMAL(4,2), the exact 0.16, where
    * [[graft.ml.StupidBackoff.alphaMult]] gives 0.16000000000000003. The
    * engines agree because both round the score to 6 decimals. */
  val stupidBackoff4gramSql: String =
    s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
       |uni AS (SELECT token, count(*) AS uc
       |        FROM (SELECT unnest(toks) AS token FROM t) GROUP BY token),
       |bi AS (SELECT w1, w2, count(*) AS bc FROM (
       |         SELECT toks[i] AS w1, toks[i + 1] AS w2
       |         FROM t, UNNEST(range(1, len(toks))) AS u(i))
       |       GROUP BY w1, w2),
       |tri AS (SELECT w1, w2, w3, count(*) AS tc FROM (
       |          SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |          FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i))
       |        GROUP BY w1, w2, w3),
       |quad AS (SELECT w1, w2, w3, w4, count(*) AS qc FROM (
       |           SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3,
       |                  toks[i + 3] AS w4
       |           FROM t, UNNEST(range(1, len(toks) - 2)) AS u(i))
       |         GROUP BY w1, w2, w3, w4),
       |top AS (SELECT token, uc FROM (
       |          SELECT token, uc, row_number() OVER (ORDER BY uc DESC, token) AS r
       |          FROM uni) WHERE r <= 4),
       |total AS (SELECT CAST(sum(uc) AS BIGINT) AS total_tokens FROM uni)
       |SELECT a.token AS w1, b.token AS w2, c.token AS w3, d.token AS w4,
       |  round(CASE
       |    WHEN quad.qc IS NOT NULL AND t123.tc IS NOT NULL
       |      THEN (CAST(quad.qc AS DOUBLE) / t123.tc) * 1.0
       |    WHEN t234.tc IS NOT NULL AND b23.bc IS NOT NULL
       |      THEN (CAST(t234.tc AS DOUBLE) / b23.bc) * (0.4)
       |    WHEN b34.bc IS NOT NULL AND u3.uc IS NOT NULL
       |      THEN (CAST(b34.bc AS DOUBLE) / u3.uc) * (0.4 * 0.4)
       |    ELSE (CAST(coalesce(d.uc, 0) AS DOUBLE) / total_tokens) * (0.4 * 0.4 * 0.4)
       |    END, 6) AS score,
       |  quad.qc IS NOT NULL AS seen_4gram,
       |  t234.tc IS NOT NULL AS seen_trigram,
       |  b34.bc IS NOT NULL AS seen_bigram
       |FROM top a CROSS JOIN top b CROSS JOIN top c CROSS JOIN top d
       |LEFT JOIN quad ON quad.w1 = a.token AND quad.w2 = b.token
       |              AND quad.w3 = c.token AND quad.w4 = d.token
       |LEFT JOIN tri t123 ON t123.w1 = a.token AND t123.w2 = b.token
       |                  AND t123.w3 = c.token
       |LEFT JOIN tri t234 ON t234.w1 = b.token AND t234.w2 = c.token
       |                  AND t234.w3 = d.token
       |LEFT JOIN bi b23 ON b23.w1 = b.token AND b23.w2 = c.token
       |LEFT JOIN bi b34 ON b34.w1 = c.token AND b34.w2 = d.token
       |LEFT JOIN uni u3 ON u3.token = c.token
       |CROSS JOIN total
       |ORDER BY w1, w2, w3, w4""".stripMargin

  /** Trim + LowerCase + whitespace-collapse composite (ref: Trim andThen
    * LowerCase — the head of the AmazonReviews/Newsgroups pipelines). Pure
    * per-row string expressions inside whole-stage codegen. */
  def qTextClean(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cleaned = trim(lower(regexp_replace($"text", " +", " ")))
    Tables.documents(spark, sfDir)
      .select($"doc_id", cleaned.as("clean_text"),
        length(cleaned).cast("long").as("clean_len"),
        size(call_function("graft_tokens", cleaned)).cast("long").as("n_tokens"))
      .orderBy($"doc_id")
  }

  val textCleanSql: String =
    """SELECT doc_id,
      |  trim(lower(regexp_replace(text, ' +', ' ', 'g'))) AS clean_text,
      |  length(trim(lower(regexp_replace(text, ' +', ' ', 'g')))) AS clean_len,
      |  CAST(len(list_filter(string_split(trim(lower(regexp_replace(text, ' +', ' ', 'g'))), ' '),
      |    x -> x <> '')) AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Multinomial Naive Bayes scoring with add-one smoothing (ref:
    * NaiveBayesEstimator — SURVEY §2.A flags the *scoring* as pure count
    * arithmetic and therefore oracle-able; training wrappers live in
    * graft.ml). Classes = `lang`; the model counts and the scored documents
    * come from the same corpus.
    *
    * score(d, c) = ln(n_c/N) + Σ_tokens ln((count(tok,c)+1)/(tokens_c+V));
    * the argmax per doc wins, ties broken on lang. Every model table is
    * vocabulary- or class-sized; the only data-sized shuffles key on
    * token / (doc_id, lang) — even at 100 TB. The per-doc argmax window is
    * partitioned by doc_id.
    *
    * Determinism: each log term is quantized to integer MICRO-units
    * (round(ln·1e6) as BIGINT) before summation, so the per-doc score is
    * exact integer arithmetic — order-independent and bit-identical across
    * engines. Summing raw doubles instead drifts past any output rounding
    * once documents are long enough (observed at sf0.1). */
  def qNaiveBayesScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val tokens = docs.select($"doc_id", $"lang", explode(toks($"text")).as("token"))
    // #classes rows, MATERIALIZED: priors also supplies n_docs (the sum
    // of per-class counts IS the doc count — exact integers), saving the
    // separate corpus-count pass
    val priors = docs.groupBy($"lang").agg(count(lit(1)).as("nc"))
      .localCheckpoint(true)
    // 1 row; coalesce: empty corpus reads as 0 docs (count semantics)
    val nDocs = priors.agg(coalesce(sum($"nc"), lit(0L)).as("n_docs"))
    // Every other model frame derives from tokClass (vocab × #classes
    // rows — TOKEN-TYPE-bounded, never corpus-sized), MATERIALIZED:
    // the round-17 comment here trusted AQE ReuseExchange to dedupe the
    // three tokClass diamonds, but the round-18 runtime audit
    // (graft.ReuseAudit) measured SIX corpus scans in the final adaptive
    // plan — the consumers canonicalize differently, so the reuse never
    // fired. The eager checkpoint pins the corpus-pass count at its
    // floor of three (priors, this count aggregation, the per-doc
    // scoring join below) at any corpus size.
    val tokClass = tokens.groupBy($"token", $"lang").agg(count(lit(1)).as("tc"))
      .localCheckpoint(true)
    val classTotals = tokClass.groupBy($"lang").agg(sum($"tc").as("tt"))  // #classes rows
    val vocabTokens = tokClass.select($"token").distinct()
    val vocabSize = vocabTokens.agg(count(lit(1)).as("v"))
    // Laplace-smoothed log-likelihood for every (token, class) pair in
    // integer micro-units: the grid is vocab × #classes — the explicit
    // left join supplies the tc=0 rows.
    val grid = vocabTokens
      .crossJoin(broadcast(priors.select($"lang")))
      .join(tokClass, Seq("token", "lang"), "left")
      .join(broadcast(classTotals), "lang")
      .crossJoin(broadcast(vocabSize))
      .select($"token", $"lang".as("cand"),
        round(log((coalesce($"tc", lit(0L)) + 1).cast("double") / ($"tt" + $"v"))
          * 1e6).cast("long").as("ll_micro"))
    val w = Window.partitionBy($"doc_id").orderBy($"score_micro".desc, $"cand")
    tokens.select($"doc_id", $"token")
      .join(grid, "token")
      .groupBy($"doc_id", $"cand")
      .agg(sum($"ll_micro").as("ll"))
      .join(broadcast(priors), $"cand" === priors("lang"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_micro",
        $"ll" + round(log($"nc".cast("double") / $"n_docs") * 1e6).cast("long"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      // emit the exact integer micro-score: converting back to a rounded
      // double re-introduces decimal-vs-binary rounding skew (Spark rounds
      // the shortest decimal repr, DuckDB the raw binary double)
      .select($"doc_id", $"cand".as("pred_lang"), $"score_micro")
      .orderBy($"doc_id")
  }

  val naiveBayesScoreSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest($duckToks) AS token FROM documents),
       |priors AS (SELECT lang, count(*) AS nc FROM documents GROUP BY lang),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |tc AS (SELECT token, lang, count(*) AS tc FROM tok GROUP BY 1, 2),
       |tt AS (SELECT lang, count(*) AS tt FROM tok GROUP BY 1),
       |v AS (SELECT count(DISTINCT token) AS v FROM tok),
       |grid AS (
       |  SELECT d.token, c.lang AS cand,
       |    CAST(round(ln(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE) / (tt.tt + v.v))
       |      * 1e6) AS BIGINT) AS ll_micro
       |  FROM (SELECT DISTINCT token FROM tok) d
       |  CROSS JOIN (SELECT lang FROM priors) c
       |  LEFT JOIN tc ON tc.token = d.token AND tc.lang = c.lang
       |  JOIN tt ON tt.lang = c.lang
       |  CROSS JOIN v),
       |scored AS (
       |  SELECT t.doc_id, g.cand,
       |    sum(g.ll_micro) +
       |      CAST(round(ln(CAST(p.nc AS DOUBLE) / n.n_docs) * 1e6) AS BIGINT) AS score_micro
       |  FROM (SELECT doc_id, token FROM tok) t
       |  JOIN grid g ON g.token = t.token
       |  JOIN priors p ON p.lang = g.cand
       |  CROSS JOIN n
       |  GROUP BY t.doc_id, g.cand, p.nc, n.n_docs),
       |ranked AS (
       |  SELECT doc_id, cand, score_micro,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, cand) AS rn
       |  FROM scored)
       |SELECT doc_id, cand AS pred_lang,
       |  CAST(score_micro AS BIGINT) AS score_micro
       |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- north-star analysis

  private val langWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "los", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "le", "zai", "wo"))

  /** One (−stopword hits, lang) struct per candidate language of token
    * array `t`; its min is the argmax language with alphabetical tie-break. */
  private def langCandidates(t: Column): Column =
    array(langWords.map { case (lang, words) =>
      struct(
        (-size(filter(t, tok => tok.isin(words.map(lit): _*)))).cast("long").as("neg"),
        lit(lang).as("lang"))
    }: _*)

  /** Heuristic language ID (north-star): stopword-hit scoring per language,
    * argmax with alphabetical tie-break. Expressed as an array-of-structs min
    * over (-score, lang) — single pass, no shuffle, no UDF. */
  def qLangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // token array + best-candidate struct each materialized once per row
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", toks($"text").as("t"))
      .withColumn("best", array_min(langCandidates(col("t"))))
      .select($"doc_id", $"lang",
        $"best.lang".as("pred_lang"),
        (-$"best.neg").cast("long").as("hits"))
      .withColumn("match", $"lang" === $"pred_lang")
      .orderBy($"doc_id")
  }

  val langIdSql: String = {
    val scores = langWords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"SELECT doc_id, '$lang' AS cand, len(list_filter($duckToks, x -> list_contains([$lst], x))) AS hits FROM documents"
    }.mkString("\n  UNION ALL ")
    s"""WITH scores AS (
       |  $scores),
       |ranked AS (
       |  SELECT doc_id, cand, CAST(hits AS BIGINT) AS hits,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand) AS rn
       |  FROM scores)
       |SELECT d.doc_id, d.lang, r.cand AS pred_lang, r.hits,
       |  d.lang = r.cand AS "match"
       |FROM documents d JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Text-quality scoring (north-star): token count, mean token length,
    * stopword ratio, distinct-token ratio, and a bounded composite score. */
  def qTextQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = col("t") // materialized token array (projected below)
    val en = Seq("the", "and", "of", "to", "a")
    val nTok = size(t).cast("long")
    val sumLen = aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x)
    val stops = size(filter(t, tok => tok.isin(en.map(lit): _*)))
    val uniq = size(array_distinct(t))
    Tables.documents(spark, sfDir)
      .select($"doc_id", toks($"text").as("t"))
      .select($"doc_id", nTok.as("n_tokens"),
        round(sumLen.cast("double") / nTok, 4).as("avg_token_len"),
        round(stops.cast("double") / nTok, 4).as("stopword_ratio"),
        round(uniq.cast("double") / nTok, 4).as("uniq_ratio"),
        round(least(lit(1.0), nTok.cast("double") / 50.0) *
          (uniq.cast("double") / nTok), 4).as("quality_score"))
      .orderBy($"doc_id")
  }

  val textQualitySql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 4) AS avg_token_len,
       |  round(CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) AS DOUBLE) / len(toks), 4) AS stopword_ratio,
       |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS uniq_ratio,
       |  round(least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) *
       |    (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 4) AS quality_score
       |FROM t ORDER BY doc_id""".stripMargin

  /** Token counting, whitespace vs regex tokenizer (north-star). */
  def qTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(toks($"text")).cast("long").as("ws_tokens"),
        size(regexp_extract_all($"text", lit("[a-z0-9]+"), lit(0))).cast("long").as("re_tokens"),
        length($"text").cast("long").as("text_len"))
      .orderBy($"doc_id")
  }

  val tokenCountSql: String =
    s"""SELECT doc_id,
       |  CAST(len($duckToks) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
       |  length(text) AS text_len
       |FROM documents ORDER BY doc_id""".stripMargin

  /** GPT-2-style pretokenization pattern: contraction suffixes, then
    * space-prefixed letter / digit / punctuation runs — the leading-space
    * convention is the GPT-2 signature (" the" and "the" are DISTINCT
    * vocabulary entries). Alternation is ordered; both Java regex (Spark)
    * and RE2 (DuckDB) resolve alternatives leftmost-first, so the two
    * engines segment identically. `\s+` runs are simply skipped between
    * matches, so no whitespace-only arm is needed. */
  val Gpt2PretokenRegex: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Corpus pretoken vocabulary under the GPT-2 pretokenizer (north-star
    * tokenizer support — the segmentation stage that FEEDS
    * [[qBpeMerges]]' pair statistics and [[qBpeApply]]'s encode; a real
    * BPE trainer consumes exactly these pretoken counts). Top-30
    * pretokens by corpus frequency, case preserved, leading spaces
    * significant. Scale shape: one regexp scan + a token-keyed hash
    * aggregation + a TakeOrdered top-30 cut — no global sort. */
  def qPretokenize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(regexp_extract_all($"text",
        lit(Gpt2PretokenRegex), lit(0))).as("pretoken"))
      .groupBy($"pretoken").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pretoken")
      .limit(30)
  }

  val pretokenizeSql: String =
    """SELECT pretoken, count(*) AS cnt FROM (
      |  SELECT unnest(regexp_extract_all(text,
      |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS pretoken
      |  FROM documents)
      |GROUP BY 1 ORDER BY cnt DESC, pretoken LIMIT 30""".stripMargin

  /** Position-weighted rolling-hash document fingerprint (north-star):
    * deterministic integer arithmetic shared with the oracle — the cheap
    * first stage of any shingle/minhash pipeline. */
  def qDocFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = toks($"text")
    val tokHash = transform(t, (tok, i) =>
      ((i % 64) + 1) *
        (length(tok) * 131 + ascii(tok) * 7 +
          ascii(tok.substr(length(tok), lit(1)))))
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        (coalesce(aggregate(tokHash, lit(0L), (a, x) => a + x), lit(0L)) % 2147483647L)
          .cast("long").as("fingerprint"))
      .orderBy($"doc_id")
  }

  val docFingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS tok,
       |        unnest(range(1, len(toks) + 1)) AS pos FROM t)
       |SELECT doc_id,
       |  CAST(coalesce(sum(((pos - 1) % 64 + 1) *
       |    (length(tok) * 131 + ascii(tok) * 7 +
       |     ascii(substring(tok, CAST(length(tok) AS INT), 1)))), 0) % 2147483647 AS BIGINT) AS fingerprint
       |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Per-document repetition scoring (north-star quality heuristic — the
    * duplicate-n-gram family of corpus-curation filters from the public
    * large-LM data literature): duplicate-bigram fraction, most-frequent-
    * bigram share, duplicate-trigram fraction, and unigram Gini-Simpson
    * diversity. Simpson (1 − Σc²/N²) replaces Shannon entropy on purpose:
    * it is EXACT integer arithmetic until one final division, so the score
    * is bit-identical across engines — a ln()-based entropy would hang the
    * hash-match on libm ulp agreement. Shape: one `graft_shingles` explode
    * per n + two-level hash aggregation, all keyed (doc_id, gram) — even
    * at 100 TB the keys are high-cardinality and skew-free, and the
    * per-doc second phase is map-side combinable. */
  def qRepetitionScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    def gramStats(n: Int) = docs
      .select($"doc_id",
        explode(call_function("graft_shingles", $"text", lit(n))).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"), count(lit(1)).as("d"), max($"c").as("m"))
    val bi = gramStats(2)
      .select($"doc_id", $"n".as("n_bi"), $"d".as("d_bi"), $"m".as("m_bi"))
    val tri = gramStats(3)
      .select($"doc_id", $"n".as("n_tri"), $"d".as("d_tri"))
    val uni = docs.select($"doc_id", explode(toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(sum($"c").as("n_u"), sum($"c" * $"c").as("ss_u"))
    docs.select($"doc_id")
      .join(bi, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .join(uni, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bi", lit(0L)).as("n_bigrams"),
        round(when(coalesce($"n_bi", lit(0L)) === 0, 0.0)
          .otherwise(lit(1.0) - $"d_bi".cast("double") / $"n_bi".cast("double")),
          6).as("dup_bigram_frac"),
        round(when(coalesce($"n_bi", lit(0L)) === 0, 0.0)
          .otherwise($"m_bi".cast("double") / $"n_bi".cast("double")),
          6).as("top_bigram_frac"),
        round(when(coalesce($"n_tri", lit(0L)) === 0, 0.0)
          .otherwise(lit(1.0) - $"d_tri".cast("double") / $"n_tri".cast("double")),
          6).as("dup_trigram_frac"),
        round(when(coalesce($"n_u", lit(0L)) === 0, 0.0)
          .otherwise(lit(1.0) - $"ss_u".cast("double") /
            ($"n_u".cast("double") * $"n_u".cast("double"))),
          6).as("simpson_diversity"))
      .orderBy($"doc_id")
  }

  val repetitionScoreSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |bi1 AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g, count(*) AS c
       |  FROM t, UNNEST(range(1, len(toks))) u(i) GROUP BY 1, 2),
       |bi AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m FROM bi1 GROUP BY 1),
       |tri1 AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g, count(*) AS c
       |  FROM t, UNNEST(range(1, len(toks) - 1)) u(i) GROUP BY 1, 2),
       |tri AS (SELECT doc_id, sum(c) AS n, count(*) AS d FROM tri1 GROUP BY 1),
       |uni1 AS (
       |  SELECT doc_id, u.tok AS tok, count(*) AS c
       |  FROM t, UNNEST(toks) u(tok) GROUP BY 1, 2),
       |uni AS (SELECT doc_id, sum(c) AS n, sum(c*c) AS ss FROM uni1 GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(coalesce(bi.n, 0) AS BIGINT) AS n_bigrams,
       |  round(CASE WHEN coalesce(bi.n, 0) = 0 THEN 0.0
       |    ELSE 1.0 - CAST(bi.d AS DOUBLE) / CAST(bi.n AS DOUBLE) END, 6) AS dup_bigram_frac,
       |  round(CASE WHEN coalesce(bi.n, 0) = 0 THEN 0.0
       |    ELSE CAST(bi.m AS DOUBLE) / CAST(bi.n AS DOUBLE) END, 6) AS top_bigram_frac,
       |  round(CASE WHEN coalesce(tri.n, 0) = 0 THEN 0.0
       |    ELSE 1.0 - CAST(tri.d AS DOUBLE) / CAST(tri.n AS DOUBLE) END, 6) AS dup_trigram_frac,
       |  round(CASE WHEN coalesce(uni.n, 0) = 0 THEN 0.0
       |    ELSE 1.0 - CAST(uni.ss AS DOUBLE) / (CAST(uni.n AS DOUBLE) * CAST(uni.n AS DOUBLE)) END, 6) AS simpson_diversity
       |FROM t LEFT JOIN bi USING (doc_id) LEFT JOIN tri USING (doc_id) LEFT JOIN uni USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Per-document language-model quality score — the LM-filter stage of
    * public LLM-data curation pipelines: train a bigram LM on the corpus,
    * score each document by its mean per-bigram conditional probability
    * c(w1 w2)/c(w1). Trained on the scored corpus itself, every doc bigram
    * is observed by construction, so the Stupid-Backoff unseen branch (see
    * [[qStupidBackoffBigram]]) cannot fire and the inner join is exact.
    * Determinism: scores live in floored parts-per-million — per-bigram
    * `bc·10⁶ DIV uc`, per-doc mean `sum DIV n` — ALL integer arithmetic
    * until one final exact long→double conversion, because a round(double)
    * spelling measurably diverges between engines at the half-way ulp on
    * this corpus (observed at sf0.1: 4 docs off by 1e-6). Scale shape: the
    * doc-bigram relation feeds both the count aggregation and the scoring
    * join (token-keyed, high-cardinality, skew-free); the per-doc rollup
    * shuffles on doc_id. */
  def qLmDocScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docsT = Tables.documents(spark, sfDir)
      .select($"doc_id", toks($"text").as("t"))
    val docBi = docsT.select($"doc_id", explode(StupidBackoff.grams($"t", 2)).as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
    val uni = docsT.select(explode($"t").as("w1"))
      .groupBy($"w1").agg(count(lit(1)).as("uc"))
    val bi = docBi.groupBy($"w1", $"w2").agg(count(lit(1)).as("bc"))
    docBi
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("bc * 1000000L DIV uc")).as("s"))
      .select($"doc_id", $"n_bigrams",
        expr("s DIV n_bigrams").as("avg_score_ppm"),
        (expr("s DIV n_bigrams").cast("double") / 1e6).as("avg_score"))
      .orderBy($"doc_id")
  }

  val lmDocScoreSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |db AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |       FROM t, UNNEST(range(1, len(toks))) AS u(i)),
       |uni AS (SELECT w1, count(*) AS uc
       |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
       |bi AS (SELECT w1, w2, count(*) AS bc FROM db GROUP BY 1, 2),
       |d AS (
       |  SELECT doc_id, count(*) AS n_bigrams, sum(bc * 1000000 // uc) AS s
       |  FROM db JOIN bi USING (w1, w2) JOIN uni USING (w1)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, CAST(s // n_bigrams AS BIGINT) AS avg_score_ppm,
       |  CAST(s // n_bigrams AS DOUBLE) / 1000000 AS avg_score
       |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus profiling

  /** Per-language document-length histogram in fixed 50-char buckets, each
    * bucket carrying its share of the language's docs (corpus-profiling
    * staple before setting curation length cutoffs). Integer bucket math +
    * one final division; the share window is partitioned by `lang` so no
    * stage funnels the corpus through a single task. */
  def qLengthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wLang = Window.partitionBy($"lang")
    Tables.documents(spark, sfDir)
      .groupBy($"lang", (floor($"n_chars" / 50) * 50).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        round($"n_docs".cast("double") / sum($"n_docs").over(wLang), 6))
      .orderBy($"lang", $"bucket_lo")
  }

  val lengthHistogramSql: String =
    """WITH b AS (
      |  SELECT lang, CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket_lo,
      |    count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2)
      |SELECT lang, bucket_lo, n_docs,
      |  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang), 6) AS share
      |FROM b ORDER BY lang, bucket_lo""".stripMargin

  /** Lexical diversity per (lang, source): type-token ratio = distinct
    * tokens / total tokens. Exact integers until one final division. The
    * count-distinct expands to Spark's standard two-phase distinct
    * aggregation keyed on (lang, source, tok) — high-cardinality,
    * skew-free at scale. */
  def qTypeTokenRatio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"lang", $"source", explode(toks($"text")).as("tok"))
      .groupBy($"lang", $"source")
      .agg(countDistinct($"tok").as("distinct_tokens"),
        count(lit(1)).as("total_tokens"))
      .withColumn("ttr",
        round($"distinct_tokens".cast("double") / $"total_tokens", 6))
      .orderBy($"lang", $"source")
  }

  val typeTokenRatioSql: String =
    s"""WITH t AS (
       |  SELECT lang, source, unnest($duckToks) AS tok FROM documents)
       |SELECT lang, source, count(DISTINCT tok) AS distinct_tokens,
       |  count(*) AS total_tokens,
       |  round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6) AS ttr
       |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Pairwise source-vocabulary Jaccard overlap: for every source pair,
    * |V_a ∩ V_b| / |V_a ∪ V_b| over distinct token sets. The intersection
    * comes from a token-keyed equi-join of the per-source vocabulary
    * relation with itself (never an all-pairs cross join): at 100 TB the
    * join fans out by tokens' source lists, which is bounded by the number
    * of sources, and the pair aggregation keys on (source_a, source_b) —
    * quadratic only in the source count, not the corpus. Integer set sizes
    * until one final division keep the score bit-identical across engines. */
  def qVocabOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, sfDir)
      .select($"source", explode(toks($"text")).as("tok"))
      .distinct()
    val sizes = vocab.groupBy($"source").agg(count(lit(1)).as("v"))
    val inter = vocab.join(
        vocab.select($"source".as("source_b"), $"tok"), Seq("tok"))
      .where($"source" < $"source_b")
      .groupBy($"source".as("source_a"), $"source_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes).withColumnsRenamed(Map("source" -> "source_a", "v" -> "va")), Seq("source_a"))
      .join(broadcast(sizes).withColumnsRenamed(Map("source" -> "source_b", "v" -> "vb")), Seq("source_b"))
      .select($"source_a", $"source_b", $"inter",
        ($"va" + $"vb" - $"inter").as("uni"),
        round($"inter".cast("double") / ($"va" + $"vb" - $"inter"), 6).as("jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  val vocabOverlapSql: String =
    s"""WITH v AS (
       |  SELECT DISTINCT source, tok
       |  FROM (SELECT source, unnest($duckToks) AS tok FROM documents)),
       |s AS (SELECT source, count(*) AS v FROM v GROUP BY 1),
       |i AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
       |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, inter,
       |  CAST(sa.v + sb.v - inter AS BIGINT) AS uni,
       |  round(CAST(inter AS DOUBLE) / (sa.v + sb.v - inter), 6) AS jaccard
       |FROM i JOIN s sa ON i.source_a = sa.source
       |       JOIN s sb ON i.source_b = sb.source
       |ORDER BY source_a, source_b""".stripMargin

  /** Token spread: how widely each token travels across sources and
    * languages, plus its corpus count — the cheap signal behind
    * boilerplate/stopword lists. Multiple count-distincts over one
    * token-keyed aggregation (Spark plans the standard Expand). */
  def qTokenSpread(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"lang", $"source", explode(toks($"text")).as("tok"))
      .groupBy($"tok")
      .agg(countDistinct($"source").as("n_sources"),
        countDistinct($"lang").as("n_langs"),
        count(lit(1)).as("cnt"))
      .orderBy($"n_sources".desc, $"cnt".desc, $"tok")
  }

  val tokenSpreadSql: String =
    s"""WITH t AS (
       |  SELECT lang, source, unnest($duckToks) AS tok FROM documents)
       |SELECT tok, count(DISTINCT source) AS n_sources,
       |  count(DISTINCT lang) AS n_langs, count(*) AS cnt
       |FROM t GROUP BY tok ORDER BY n_sources DESC, cnt DESC, tok""".stripMargin

  /** Per-document Shannon entropy of the unigram token distribution —
    * low-entropy docs are repetitive boilerplate, a standard curation
    * filter signal next to [[qRepetitionScore]].
    *
    * Determinism: each term's contribution (c/n)·ln(n/c) is computed in
    * the same IEEE op order on both engines and quantized to integer
    * micro-nats before the per-doc sum (order-independent long adds).
    * Scale shape: one token-keyed aggregation; the doc-total window is
    * partitioned by doc_id, so partition size is bounded by a document's
    * vocabulary, never the corpus. */
  def qTokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", explode(toks($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .withColumn("n", sum($"c").over(Window.partitionBy($"doc_id")))
      .select($"doc_id", $"n",
        round($"c".cast("double") / $"n" * log($"n".cast("double") / $"c") * 1e6)
          .cast("long").as("h_micro"))
      .groupBy($"doc_id")
      .agg(max($"n").as("n_tokens"),
        (sum($"h_micro").cast("double") / 1e6).as("entropy_nats"))
      .orderBy($"doc_id")
  }

  val tokenEntropySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest($duckToks) AS tok FROM documents),
       |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
       |w AS (
       |  SELECT doc_id, c,
       |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
       |  FROM c),
       |h AS (
       |  SELECT doc_id, n,
       |    CAST(round(CAST(c AS DOUBLE) / n * ln(CAST(n AS DOUBLE) / c) * 1e6)
       |      AS BIGINT) AS h_micro
       |  FROM w)
       |SELECT doc_id, max(n) AS n_tokens,
       |  CAST(CAST(sum(h_micro) AS BIGINT) AS DOUBLE) / 1e6 AS entropy_nats
       |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Term-blocklist scrubbing: redact a fixed blocklist from every
    * document and account for the damage per source — the shape of a PII /
    * banned-term scrub pass (the real PII regexes live in
    * [[graft.ml.Scrub]]; this gate exercises the identical machinery on
    * terms that actually occur in the synthetic corpus).
    *
    * Scale shape: embarrassingly parallel map over docs (two codegen'd
    * regexp ops), then a tiny per-source aggregation. No shuffle carries
    * document text. */
  def qBlocklistScrub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.ml.Scrub.redact(
        Tables.documents(spark, sfDir), $"text", graft.ml.Scrub.BlockPattern)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_matches" > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum($"n_matches").as("redactions"),
        sum((length($"text") - length($"redacted")).cast("long")).as("chars_delta"))
      .orderBy($"source")
  }

  val blocklistScrubSql: String =
    s"""WITH s AS (
       |  SELECT source,
       |    len(regexp_extract_all(text, '${graft.ml.Scrub.BlockPattern}')) AS n_matches,
       |    length(text) - length(regexp_replace(text, '${graft.ml.Scrub.BlockPattern}',
       |      '${graft.ml.Scrub.Redacted}', 'g')) AS delta
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
       |  CAST(sum(n_matches) AS BIGINT) AS redactions,
       |  CAST(sum(delta) AS BIGINT) AS chars_delta
       |FROM s GROUP BY source ORDER BY source""".stripMargin

  /** Per-source language-mix drift: KL(source's lang distribution ‖ corpus
    * lang distribution) — the curation dashboard number that flags a
    * source whose language mix wandered from the corpus profile.
    *
    * Determinism: with c_sl = docs in (source, lang), c_s = source total,
    * c_l = lang total, C = corpus total, each term
    *   (c_sl/c_s) · ln((c_sl·C)/(c_s·c_l))
    * is two double ops on exact BIGINT products (all ≤ |docs|² < 2^46),
    * quantized to micro-nats before the per-source sum. Scale shape: one
    * (source, lang) aggregation; the three total relations are
    * source/lang-cardinality broadcasts. */
  def qSourceKl(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // (source × lang)-bounded grid — one corpus pass at any scale (the
    // dispatch checkpoint is the grid materialization; ReuseAudit had
    // measured four runtime scans with no checkpoint)
    Contingency.dispatch[String, String](
        Tables.documents(spark, sfDir).select($"source", $"lang"),
        "c_sl", "c_s", "c_l") { g =>
      val klMicro = g.cells.groupMapReduce(_._1) { case (s, l, cSl) =>
        Dist.rnd0(cSl.toDouble / g.rows(s) *
          Math.log(Math.multiplyExact(cSl, g.total).toDouble /
            Math.multiplyExact(g.rows(s), g.cols(l)).toDouble) * 1e6)
      }(_ + _)
      spark.createDataset(klMicro.toSeq.map { case (s, k) =>
        (s, k.toDouble / 1e6) })
        .toDF("source", "kl_nats")
        .orderBy($"source")
    } { d =>
      d.joined
        .select($"source",
          round($"c_sl".cast("double") / $"c_s"
            * log(($"c_sl" * $"ct").cast("double") / ($"c_s" * $"c_l").cast("double"))
            * 1e6).cast("long").as("kl_micro"))
        .groupBy($"source")
        .agg((sum($"kl_micro").cast("double") / 1e6).as("kl_nats"))
        .orderBy($"source")
    }
  }

  val sourceKlSql: String =
    """WITH cells AS (
      |  SELECT source, lang, count(*) AS c_sl FROM documents GROUP BY 1, 2),
      |s AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS c_s FROM cells GROUP BY 1),
      |l AS (SELECT lang, CAST(sum(c_sl) AS BIGINT) AS c_l FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(c_sl) AS BIGINT) AS ct FROM cells),
      |k AS (
      |  SELECT cells.source,
      |    CAST(round(CAST(c_sl AS DOUBLE) / c_s
      |      * ln(CAST(c_sl * ct AS DOUBLE) / CAST(c_s * c_l AS DOUBLE))
      |      * 1e6) AS BIGINT) AS kl_micro
      |  FROM cells JOIN s ON cells.source = s.source
      |             JOIN l ON cells.lang = l.lang, t)
      |SELECT source, CAST(CAST(sum(kl_micro) AS BIGINT) AS DOUBLE) / 1e6 AS kl_nats
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** Per-source Jensen–Shannon divergence between the source's document-
    * length distribution and the corpus's — the SYMMETRIC, bounded
    * ([0, ln 2]) companion to [[qSourceKl]] that production drift
    * monitors prefer because it never blows up on bins one side lacks.
    * Lengths land in 10 fixed 200-char buckets (capped), so the
    * distribution grid is constant-bounded.
    *
    * Determinism: all probabilities are exact-integer ratios; each JS
    * term — ½p·ln(2p/(p+q)) (only when p>0) + ½q·ln(2q/(p+q)) — is a
    * handful of double ops quantized to micro-nats before the
    * per-source sum. Scale shape: one (source, bucket) aggregation,
    * then sources×buckets grid joins over broadcast-sized relations. */
  def qJensenShannon(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // (source × 10-bin)-bounded grid — one corpus pass at any scale (the
    // dispatch checkpoint is the grid materialization; ReuseAudit had
    // measured two residual corpus scans under AQE reuse without it).
    // Both arms walk the FULL sources × bins grid (absent cells as 0);
    // the dispatch counts the present cells, at most 10× fewer.
    Contingency.dispatch[String, Long](
        Tables.documents(spark, sfDir).select($"source",
          expr("least(CAST(length(text) AS BIGINT) DIV 200, 9L)").as("bin")),
        "c_sb", "c_s", "c_b") { g =>
      val out = g.rows.toSeq.map { case (s, cS) =>
        var jsMicro = 0L
        g.cols.foreach { case (b, cB) =>
          val cSb = g(s, b)
          val p = cSb.toDouble / cS
          val q = cB.toDouble / g.total
          val term =
            (if (cSb > 0) 0.5 * p * Math.log(2.0 * p / (p + q)) else 0.0) +
              0.5 * q * Math.log(2.0 * q / (p + q))
          jsMicro += Dist.rnd0(term * 1e6)
        }
        (s, jsMicro.toDouble / 1e6)
      }
      spark.createDataset(out).toDF("source", "js_nats").orderBy($"source")
    } { d =>
      val p = $"c_sb".cast("double") / $"c_s"
      val q = $"c_b".cast("double") / $"ct"
      val term =
        when($"c_sb" > 0, lit(0.5) * p * log(lit(2.0) * p / (p + q)))
          .otherwise(lit(0.0)) +
          lit(0.5) * q * log(lit(2.0) * q / (p + q))
      d.dense
        .select($"source", round(term * 1e6).cast("long").as("js_micro"))
        .groupBy($"source")
        .agg((sum($"js_micro").cast("double") / 1e6).as("js_nats"))
        .orderBy($"source")
    }
  }

  val jensenShannonSql: String =
    """WITH cells AS (
      |  SELECT source, least(CAST(length(text) AS BIGINT) // 200, 9) AS bin,
      |    count(*) AS c_sb
      |  FROM documents GROUP BY 1, 2),
      |srcs AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS c_s FROM cells GROUP BY 1),
      |bins AS (SELECT bin, CAST(sum(c_sb) AS BIGINT) AS c_b FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(c_sb) AS BIGINT) AS ct FROM cells),
      |grid AS (
      |  SELECT srcs.source, srcs.c_s, bins.bin, bins.c_b,
      |    coalesce(cells.c_sb, 0) AS c_sb
      |  FROM srcs CROSS JOIN bins
      |  LEFT JOIN cells ON cells.source = srcs.source AND cells.bin = bins.bin),
      |terms AS (
      |  SELECT source,
      |    CAST(round((CASE WHEN c_sb > 0 THEN
      |        0.5 * (CAST(c_sb AS DOUBLE) / c_s)
      |          * ln((2.0 * CAST(c_sb AS DOUBLE) / c_s)
      |               / (CAST(c_sb AS DOUBLE) / c_s + CAST(c_b AS DOUBLE) / ct))
      |      ELSE 0.0 END
      |      + 0.5 * (CAST(c_b AS DOUBLE) / ct)
      |        * ln((2.0 * CAST(c_b AS DOUBLE) / ct)
      |             / (CAST(c_sb AS DOUBLE) / c_s + CAST(c_b AS DOUBLE) / ct))) * 1e6)
      |      AS BIGINT) AS js_micro
      |  FROM grid, t)
      |SELECT source, CAST(CAST(sum(js_micro) AS BIGINT) AS DOUBLE) / 1e6 AS js_nats
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** Mutual information between a document's language and its source —
    * ONE number for "how much does knowing the source tell you about the
    * language" (the corpus-composition coupling a mixing plan must know),
    * with both marginal entropies and the normalized MI
    * (mi / min(H_source, H_lang)) alongside.
    *
    * Determinism: exact-integer cell/marginal counts; each plogp term is
    * quantized to NANO-nats (1e9 — the sums are single digits, so nano
    * keeps 9 significant digits without overflow: |cells| ≤ 200 terms
    * ≤ ln(C)·1e9 each, far inside BIGINT). Scale shape: identical to
    * [[qSourceKl]] — one (source, lang) aggregation plus broadcast
    * marginals. */
  def qMutualInformation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mutualInformationFromPairs(
      Tables.documents(spark, sfDir).select($"source", $"lang"))
  }

  /** MI core over a (source, lang) frame — factored out so the degenerate
    * single-category corpus (min marginal entropy exactly 0 → NMI must
    * degrade to 0, not divide by zero) is unit-testable.
    *
    * Round 21 (guide §1.2): the post-grid computation fans six tiny
    * aggregations over a ≤(r·c)-row relation through broadcast glue —
    * 17 Spark jobs of pure scheduling overhead at the fixture (floor
    * profile, plans/r21/floor_profile.txt). The grid now rides the
    * [[Contingency]] kernel: under its cell ceiling the entropies and MI
    * replay in local math with the IDENTICAL op order
    * (`Math.multiplyExact` mirrors ANSI's throwing long product;
    * [[Dist.rnd0]] mirrors Spark's round), above it the distributed fan
    * runs. Still one corpus pass (the dispatch checkpoint IS the grid
    * materialization — RuntimeScanSpec's documents=1 pin). */
  private[graft] def mutualInformationFromPairs(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    Contingency.dispatch[String, String](pairs.select($"source", $"lang"),
        "c_sl", "c_s", "c_l") { g =>
      var miNano = 0L
      g.cells.foreach { case (s, l, cSl) =>
        miNano += Dist.rnd0((cSl.toDouble / g.total) *
          Math.log(Math.multiplyExact(cSl, g.total).toDouble /
            Math.multiplyExact(g.rows(s), g.cols(l)).toDouble) * 1e9)
      }
      def entNano(marginals: Iterable[Long]): Long =
        marginals.iterator.map { c =>
          Dist.rnd0(-(c.toDouble / g.total) * Math.log(c.toDouble / g.total) * 1e9)
        }.sum
      val hs = entNano(g.rows.values)
      val hl = entNano(g.cols.values)
      val nmi =
        if (math.min(hs, hl) > 0) Dist.rnd6(miNano.toDouble / math.min(hs, hl))
        else 0.0
      Seq((miNano.toDouble / 1e9, hs.toDouble / 1e9, hl.toDouble / 1e9, nmi))
        .toDF("mi_nats", "h_source", "h_lang", "nmi")
    } { d =>
      val mi = d.joined
        .select(round(($"c_sl".cast("double") / $"ct")
          * log(($"c_sl" * $"ct").cast("double") / ($"c_s" * $"c_l").cast("double"))
          * 1e9).cast("long").as("mi_nano"))
        .agg(sum($"mi_nano").as("mi_nano"))
      val hS = d.rows.crossJoin(broadcast(d.total))
        .select(round(-($"c_s".cast("double") / $"ct")
          * log($"c_s".cast("double") / $"ct") * 1e9).cast("long").as("h"))
        .agg(sum($"h").as("hs_nano"))
      val hL = d.cols.crossJoin(broadcast(d.total))
        .select(round(-($"c_l".cast("double") / $"ct")
          * log($"c_l".cast("double") / $"ct") * 1e9).cast("long").as("h"))
        .agg(sum($"h").as("hl_nano"))
      mi.crossJoin(broadcast(hS)).crossJoin(broadcast(hL))
        .select(
          ($"mi_nano".cast("double") / 1e9).as("mi_nats"),
          ($"hs_nano".cast("double") / 1e9).as("h_source"),
          ($"hl_nano".cast("double") / 1e9).as("h_lang"),
          // a single-source (or single-language) corpus has zero min
          // marginal entropy — NMI degrades to 0 by convention instead of
          // tripping Spark 4's ANSI DIVIDE_BY_ZERO
          when(least($"hs_nano", $"hl_nano") > 0,
            round($"mi_nano".cast("double") / least($"hs_nano", $"hl_nano"), 6))
            .otherwise(lit(0.0)).as("nmi"))
    }
  }

  val mutualInformationSql: String =
    """WITH cells AS (
      |  SELECT source, lang, count(*) AS c_sl FROM documents GROUP BY 1, 2),
      |s AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS c_s FROM cells GROUP BY 1),
      |l AS (SELECT lang, CAST(sum(c_sl) AS BIGINT) AS c_l FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(c_sl) AS BIGINT) AS ct FROM cells),
      |mi AS (
      |  SELECT CAST(sum(CAST(round((CAST(c_sl AS DOUBLE) / ct)
      |    * ln(CAST(c_sl * ct AS DOUBLE) / CAST(c_s * c_l AS DOUBLE)) * 1e9) AS BIGINT))
      |    AS BIGINT) AS mi_nano
      |  FROM cells JOIN s ON cells.source = s.source
      |             JOIN l ON cells.lang = l.lang, t),
      |hs AS (
      |  SELECT CAST(sum(CAST(round(-(CAST(c_s AS DOUBLE) / ct)
      |    * ln(CAST(c_s AS DOUBLE) / ct) * 1e9) AS BIGINT)) AS BIGINT) AS hs_nano
      |  FROM s, t),
      |hl AS (
      |  SELECT CAST(sum(CAST(round(-(CAST(c_l AS DOUBLE) / ct)
      |    * ln(CAST(c_l AS DOUBLE) / ct) * 1e9) AS BIGINT)) AS BIGINT) AS hl_nano
      |  FROM l, t)
      |SELECT CAST(mi.mi_nano AS DOUBLE) / 1e9 AS mi_nats,
      |  CAST(hs.hs_nano AS DOUBLE) / 1e9 AS h_source,
      |  CAST(hl.hl_nano AS DOUBLE) / 1e9 AS h_lang,
      |  CASE WHEN least(hs.hs_nano, hl.hl_nano) > 0
      |    THEN round(CAST(mi.mi_nano AS DOUBLE) / least(hs.hs_nano, hl.hl_nano), 6)
      |    ELSE 0.0 END AS nmi
      |FROM mi, hs, hl""".stripMargin

  /** Cramér's V — the EFFECT-SIZE companion to [[qMutualInformation]]:
    * the χ² statistic over the full lang×source grid (INCLUDING empty
    * cells, whose expected counts still contribute) normalized to [0,1]
    * by n·(min(r,c)−1), with its degrees of freedom. MI says how many
    * nats the coupling carries; V says how strong the association is on
    * a scale a reviewer can read.
    *
    * Determinism: expected counts are exact-integer products over one
    * double division; per-cell χ² terms are quantized to micro before
    * the ≤(r·c)-term sum. Scale shape: one (source, lang) aggregation
    * plus a marginals-grid left join — every relation after the first
    * aggregate is bounded by the category cardinalities. */
  def qCramersV(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    cramersVFromPairs(
      Tables.documents(spark, sfDir).select($"source", $"lang"))
  }

  /** Cramér's V core over a (source, lang) frame — factored out so the
    * degenerate 1×c table (min dimension 1 → V must degrade to 0, not
    * divide by zero) is unit-testable.
    *
    * Round 21 (guide §1.2): same [[Contingency]] dispatch as
    * [[mutualInformationFromPairs]] — the full-grid χ² over a
    * category-bounded table was the worst overhead case in the family
    * (the r×c crossJoin grid, marginals, dims and total each materialize
    * broadcast stages; 2.6 s committed for a ≤200-cell grid). Identical
    * op order in the local replay (`Math.multiplyExact` for the ANSI
    * long products, [[Dist.rnd0]]/[[Dist.rnd6]] rounds); still one
    * corpus pass. The local χ² walks the DENSE r×c grid (absent cells
    * still carry expected counts), so it dispatches on the dense size
    * (`dense = true`): the present-cell count alone let a sparse
    * diagonal table of n cells through to n² driver iterations. */
  private[graft] def cramersVFromPairs(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    Contingency.dispatch[String, String](pairs.select($"source", $"lang"),
        "c_sl", "c_s", "c_l", dense = true) { g =>
      var chiMicro = 0L
      g.rows.foreach { case (s, cS) =>
        g.cols.foreach { case (l, cL) =>
          val cSl = g(s, l)
          val exp = Math.multiplyExact(cS, cL).toDouble / g.total
          chiMicro += Dist.rnd0(
            (cSl.toDouble - exp) * (cSl.toDouble - exp) / exp * 1e6)
        }
      }
      val r = g.rows.size.toLong
      val c = g.cols.size.toLong
      val dof = (math.min(r, c) - 1) * (math.max(r, c) - 1)
      val v =
        if (math.min(r, c) > 1)
          Dist.rnd6(Math.sqrt((chiMicro.toDouble / 1e6) /
            Math.multiplyExact(g.total, math.min(r, c) - 1).toDouble))
        else 0.0
      Seq((g.total, chiMicro.toDouble / 1e6, dof, v))
        .toDF("n", "chi2", "dof", "cramers_v")
    } { d =>
      val dims = d.rows.agg(count(lit(1)).as("r"))
        .crossJoin(broadcast(d.cols.agg(count(lit(1)).as("c"))))
      val expCnt = ($"c_s" * $"c_l").cast("double") / $"ct"
      d.dense
        .select($"ct",
          round(($"c_sl".cast("double") - expCnt)
            * ($"c_sl".cast("double") - expCnt) / expCnt * 1e6)
            .cast("long").as("chi_micro"))
        .groupBy($"ct".as("n"))
        .agg(sum($"chi_micro").as("chi_micro"))
        .crossJoin(broadcast(dims))
        .select($"n",
          ($"chi_micro".cast("double") / 1e6).as("chi2"),
          ((least($"r", $"c") - 1) * (greatest($"r", $"c") - 1)).as("dof"),
          // a 1×c table has no association dimensions — V degrades to 0 by
          // convention instead of tripping Spark 4's ANSI DIVIDE_BY_ZERO
          when(least($"r", $"c") > 1,
            round(sqrt(($"chi_micro".cast("double") / 1e6)
              / ($"n" * (least($"r", $"c") - 1)).cast("double")), 6))
            .otherwise(lit(0.0)).as("cramers_v"))
    }
  }

  val cramersVSql: String =
    """WITH cells AS (
      |  SELECT source, lang, count(*) AS c_sl FROM documents GROUP BY 1, 2),
      |s AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS c_s FROM cells GROUP BY 1),
      |l AS (SELECT lang, CAST(sum(c_sl) AS BIGINT) AS c_l FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(c_sl) AS BIGINT) AS ct FROM cells),
      |grid AS (
      |  SELECT s.source, s.c_s, l.lang, l.c_l, coalesce(cells.c_sl, 0) AS c_sl
      |  FROM s CROSS JOIN l
      |  LEFT JOIN cells ON cells.source = s.source AND cells.lang = l.lang),
      |chi AS (
      |  SELECT ct, CAST(sum(CAST(round(
      |      (CAST(c_sl AS DOUBLE) - CAST(c_s * c_l AS DOUBLE) / ct)
      |      * (CAST(c_sl AS DOUBLE) - CAST(c_s * c_l AS DOUBLE) / ct)
      |      / (CAST(c_s * c_l AS DOUBLE) / ct) * 1e6) AS BIGINT)) AS BIGINT)
      |    AS chi_micro
      |  FROM grid, t GROUP BY ct),
      |dims AS (SELECT (SELECT count(*) FROM s) AS r, (SELECT count(*) FROM l) AS c)
      |SELECT ct AS n,
      |  CAST(chi_micro AS DOUBLE) / 1e6 AS chi2,
      |  CAST((least(r, c) - 1) * (greatest(r, c) - 1) AS BIGINT) AS dof,
      |  CASE WHEN least(r, c) > 1
      |    THEN round(sqrt((CAST(chi_micro AS DOUBLE) / 1e6)
      |      / (ct * (least(r, c) - 1))), 6)
      |    ELSE 0.0 END AS cramers_v
      |FROM chi, dims""".stripMargin

  /** Vocabulary-growth (Heaps' law) curve over the BIGRAM vocabulary:
    * distinct bigrams seen after ingesting each 1%-of-corpus prefix in
    * doc_id order — the curve that sizes tokenizer vocabularies and
    * estimates how much new text still grows the vocab (bigrams, because
    * the synthetic corpus's unigram vocabulary saturates in the first few
    * documents — the n-gram space is what actually keeps growing).
    *
    * Scale shape: "first doc that introduced each bigram" is one
    * bigram-keyed MIN aggregation (map-side combinable); checkpoints are
    * percentile buckets (`first_doc·100 DIV n_docs`), so the curve
    * relation is AT MOST 100 rows at any corpus size and the running sum's
    * unpartitioned window is constant-bounded — it never scales with the
    * data. */
  def qVocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.documents(spark, sfDir)
      .agg((max($"doc_id") + 1).as("n_docs"))
    val curve = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(call_function("graft_shingles", $"text", lit(2))).as("bg"))
      .groupBy($"bg").agg(min($"doc_id").as("first_doc"))
      .crossJoin(broadcast(n))
      .groupBy((expr("first_doc * 100 DIV n_docs") + 1).as("prefix_pct"))
      .agg(count(lit(1)).as("new_bigrams"))
    graft.ops.Dist.withPrefix(curve, Seq($"prefix_pct"),
        Seq("new_bigrams" -> "pre"))
      .select($"prefix_pct", $"new_bigrams",
        ($"pre" + $"new_bigrams").as("vocab_size"))
      .orderBy($"prefix_pct")
  }

  val vocabGrowthSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
       |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
       |f AS (SELECT bg, min(doc_id) AS first_doc FROM g GROUP BY 1),
       |n AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
       |b AS (
       |  SELECT first_doc * 100 // n_docs + 1 AS prefix_pct,
       |    count(*) AS new_bigrams
       |  FROM f, n GROUP BY 1)
       |SELECT prefix_pct, new_bigrams,
       |  CAST(sum(new_bigrams) OVER (ORDER BY prefix_pct
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
       |FROM b ORDER BY prefix_pct""".stripMargin

  /** Zipf-law fit of the token frequency distribution: OLS slope of
    * ln(freq) on ln(rank) over the top-500 terms — the one-number
    * "does this corpus look like natural language?" check (natural text
    * slopes ≈ −1; templated/synthetic corpora flatten, boilerplate-heavy
    * ones steepen). Rank ties break on the token string so both engines
    * order identically.
    *
    * Exactness: counts and ranks are integers; ln/OLS moments are doubles
    * over a CONSTANT 500-row relation, so the summation-order wobble is
    * bounded far below the rounded 4 decimals. Scale shape: one corpus
    * hash aggregate to the term relation, a TakeOrdered top-500 cut over
    * it (vocabulary grows with corpus — Heaps' law, its own
    * [[qVocabGrowth]] — so the cut must NOT be an unpartitioned
    * row_number window), then ranks assigned on the bounded 500-row
    * result and a 500-row OLS aggregate — corpus size only enters the
    * first aggregate's map-side combine. */
  def qZipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val top = Tables.documents(spark, sfDir)
      .select(explode(toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token").limit(500)
    // rank the bounded result via sorted zipWithIndex (the
    // q_word_id_encode discipline) — no global window anywhere
    spark.createDataFrame(
        top.orderBy($"cnt".desc, $"token").rdd.zipWithIndex.map {
          case (r, i) => (i + 1L, r.getLong(1))
        }).toDF("rank", "cnt")
      .select(log($"rank".cast("double")).as("lx"),
        log($"cnt".cast("double")).as("ly"))
      .agg(count(lit(1)).as("n_terms"),
        sum($"lx").as("sx"), sum($"ly").as("sy"),
        sum($"lx" * $"lx").as("sxx"), sum($"lx" * $"ly").as("sxy"))
      .select($"n_terms",
        // + 0.0 normalizes the degenerate flat-frequency corpus: the OLS
        // numerator is analytically 0 there but carries ±1e-13 of double
        // summation residue, and round(-1e-13, 4) prints -0.0 on DuckDB
        // vs 0.0 on Spark — a hard fail in the string-compared parity
        // gate (same idiom as q_trend_slope / the Stats z-scores)
        (round(($"n_terms" * $"sxy" - $"sx" * $"sy")
          / ($"n_terms" * $"sxx" - $"sx" * $"sx"), 4) + 0.0).as("zipf_slope"),
        (round(($"sy" - ($"n_terms" * $"sxy" - $"sx" * $"sy")
          / ($"n_terms" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n_terms", 4)
          + 0.0).as("intercept"))
  }

  val zipfSlopeSql: String =
    s"""WITH tc AS (
       |  SELECT token, count(*) AS cnt
       |  FROM (SELECT unnest($duckToks) AS token FROM documents)
       |  GROUP BY token),
       |r AS (
       |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token)
       |      AS DOUBLE)) AS lx,
       |    ln(CAST(cnt AS DOUBLE)) AS ly
       |  FROM tc QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 500),
       |m AS (
       |  SELECT count(*) AS n_terms, sum(lx) AS sx, sum(ly) AS sy,
       |    sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
       |  FROM r)
       |SELECT n_terms,
       |  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 4)
       |    + 0.0 AS zipf_slope,
       |  round((sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)
       |    * sx) / n_terms, 4) + 0.0 AS intercept
       |FROM m""".stripMargin

  /** Deterministic hash sampling: the stable ~10% corpus sample every
    * pipeline needs for eval splits and quick iteration — membership
    * depends only on the doc_id's md5 digest, so the same doc lands in
    * the same split on any engine, any partitioning, any day. Emits
    * per-language accounting so sampling skew is visible.
    *
    * Scale shape: embarrassingly parallel predicate + one tiny
    * aggregation; no shuffle carries text. */
  def qHashSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sampled = graft.ops.Similarity.digest60($"doc_id".cast("string")) % 10 === 0
    Tables.documents(spark, sfDir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("rate", round($"n_sampled".cast("double") / $"n_docs", 4))
      .orderBy($"lang")
  }

  val hashSampleSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |    AS BIGINT) % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  round(CAST(sum(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |    AS BIGINT) % 10 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS rate
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic per-group sampling: exactly min(n, |group|) documents
    * from every (lang, source) cell, chosen by md5(doc_id) rank — the
    * "show me 2 examples from every stratum" debugging/eval-set query
    * (ref capability: nodes/util ColumnSampler samples GLOBALLY at a rate;
    * per-stratum exact-count sampling is the curation upgrade). Unlike
    * rate-based [[qHashSample]], the output size is exactly bounded
    * (#groups × n) regardless of group skew, and unlike `ORDER BY random()`
    * the choice is REPRODUCIBLE across engines, runs, and partitionings —
    * the property an eval-set draw must have to be auditable.
    *
    * Scale shape: one shuffle on the group key into a rank window with the
    * `rk <= n` filter fused right above it (Spark's WindowExec short-
    * circuits nothing, but the filter bounds what survives to the output);
    * group count is the only driver of result size. Skewed strata cost
    * their sort — for pathological single-group skew the salted two-phase
    * local/global spelling of [[qWeightedSample]] applies verbatim. */
  def qGroupSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang", $"source")
      .orderBy(md5($"doc_id".cast("string")))
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"source")
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 2)
      .orderBy($"lang", $"source", $"rk")
  }

  val groupSampleSql: String =
    """SELECT doc_id, lang, source, rk FROM (
      |  SELECT doc_id, lang, source,
      |    CAST(row_number() OVER (PARTITION BY lang, source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS INT) AS rk
      |  FROM documents) t
      |WHERE rk <= 2 ORDER BY lang, source, rk""".stripMargin

  /** Quantile normalization of document lengths across sources — the
    * distribution-alignment transform (Bolstad 2003, microarray lineage)
    * that forces every source's length distribution onto a common shape
    * before mixing, so no source's verbosity skews a length-balanced
    * curriculum (ref capability: ABSENT; stats nodes scale per-COLUMN,
    * not per-GROUP-distribution). Each document maps to the corpus-wide
    * mean length of its own within-source percentile bucket: rank within
    * source → ntile(100) → bucket mean across ALL sources → join back.
    *
    * Determinism: the ntile order key is (n_chars, doc_id) — unique — so
    * bucket assignment is total-ordered and engine-portable. Scale shape:
    * one window shuffle on source (rank), one 100-row aggregate, and a
    * broadcast join-back of the bucket means; the bucket table is
    * constant-size however large the corpus. */
  def qQuantileNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
    val bucketed = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("bucket", ntile(100).over(w))
    val means = bucketed.groupBy($"bucket")
      .agg(round(avg($"n_chars"), 4).as("qnorm_chars"))
    bucketed.join(broadcast(means), Seq("bucket"))
      .select($"doc_id", $"source", $"n_chars", $"qnorm_chars")
      .orderBy($"doc_id")
  }

  val quantileNormalizeSql: String =
    """WITH b AS (
      |  SELECT doc_id, source, n_chars,
      |    ntile(100) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS bucket
      |  FROM documents),
      |m AS (SELECT bucket, round(avg(n_chars), 4) AS qnorm_chars
      |      FROM b GROUP BY bucket)
      |SELECT doc_id, source, n_chars, qnorm_chars
      |FROM b JOIN m USING (bucket) ORDER BY doc_id""".stripMargin

  /** Curation-funnel accounting: how many documents survive each
    * successive quality gate — the observability table every filtering
    * pipeline publishes before a training run. Stages (cumulative ANDs):
    * all → length band [100, 450] chars → ≥ 30 tokens → type-token
    * diversity ≥ 0.45 → exact-dup survivor (min-doc_id keep rule, same as
    * [[graft.ops.Similarity.qDedupExact]]).
    *
    * Determinism: every gate is integer arithmetic (the diversity test is
    * cleared of division: 100·distinct ≥ 45·total). Scale shape: one pass
    * computes all flags; the dup-keep flag rides a text-hash-partitioned
    * MIN window (partition = a duplicate group); the funnel itself is one
    * 5-condition aggregation unpivoted to stage rows. */
  def qQualityFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wDup = Window.partitionBy($"h")
    val flags = Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars", md5($"text").as("h"),
        size(toks($"text")).as("nt"),
        size(array_distinct(toks($"text"))).as("nd"))
      .withColumn("keep", $"doc_id" === min($"doc_id").over(wDup))
      .select(
        ($"n_chars" >= 100 && $"n_chars" <= 450).as("f_len"),
        ($"nt" >= 30).as("f_tok"),
        ($"nd" * 100 >= $"nt" * 45).as("f_ttr"),
        $"keep".as("f_dup"))
    val agg = flags.agg(
      count(lit(1)).as("s1"),
      sum(when($"f_len", 1L).otherwise(0L)).as("s2"),
      sum(when($"f_len" && $"f_tok", 1L).otherwise(0L)).as("s3"),
      sum(when($"f_len" && $"f_tok" && $"f_ttr", 1L).otherwise(0L)).as("s4"),
      sum(when($"f_len" && $"f_tok" && $"f_ttr" && $"f_dup", 1L).otherwise(0L))
        .as("s5"))
    agg.select(explode(array(
        struct(lit("1_all").as("stage"), $"s1".as("n_surviving")),
        struct(lit("2_length").as("stage"), $"s2".as("n_surviving")),
        struct(lit("3_tokens").as("stage"), $"s3".as("n_surviving")),
        struct(lit("4_diversity").as("stage"), $"s4".as("n_surviving")),
        struct(lit("5_unique").as("stage"), $"s5".as("n_surviving")))).as("r"))
      .select($"r.stage", $"r.n_surviving")
      .orderBy($"stage")
  }

  val qualityFunnelSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, md5(text) AS h,
       |    len($duckToks) AS nt,
       |    len(list_distinct($duckToks)) AS nd
       |  FROM documents),
       |k AS (
       |  SELECT d.*, doc_id = min(doc_id) OVER (PARTITION BY h) AS keep
       |  FROM d),
       |f AS (
       |  SELECT n_chars BETWEEN 100 AND 450 AS f_len, nt >= 30 AS f_tok,
       |    nd * 100 >= nt * 45 AS f_ttr, keep AS f_dup
       |  FROM k),
       |a AS (
       |  SELECT count(*) AS s1,
       |    CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN f_len AND f_tok THEN 1 ELSE 0 END) AS BIGINT) AS s3,
       |    CAST(sum(CASE WHEN f_len AND f_tok AND f_ttr THEN 1 ELSE 0 END) AS BIGINT) AS s4,
       |    CAST(sum(CASE WHEN f_len AND f_tok AND f_ttr AND f_dup THEN 1 ELSE 0 END) AS BIGINT) AS s5
       |  FROM f)
       |SELECT '1_all' AS stage, s1 AS n_surviving FROM a
       |UNION ALL SELECT '2_length', s2 FROM a
       |UNION ALL SELECT '3_tokens', s3 FROM a
       |UNION ALL SELECT '4_diversity', s4 FROM a
       |UNION ALL SELECT '5_unique', s5 FROM a
       |ORDER BY stage""".stripMargin

  /** Per-document n-gram novelty: the fraction of a doc's distinct
    * bigrams it introduced to the corpus (first_doc == doc_id in the
    * ingestion order) — high-novelty docs genuinely grow the model's
    * phrase inventory; near-zero novelty marks recycled text. The
    * doc-granular companion of [[qVocabGrowth]].
    *
    * Scale shape: per-doc-distinct bigram explode, one bigram-keyed MIN
    * aggregation joined back on the bigram key (groupBy+join, not a
    * posting-list window — a boilerplate bigram's posting list can be
    * corpus-sized and would skew a window partition), then a doc-keyed
    * aggregation. Docs with < 2 tokens have no bigrams and no row. */
  def qNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docBg = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(call_function("graft_shingles", $"text", lit(2))).as("bg"))
      .distinct()
    val first = docBg.groupBy($"bg").agg(min($"doc_id").as("first_doc"))
    docBg.join(first, "bg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_new"))
      .withColumn("novelty",
        round($"n_new".cast("double") / $"n_bigrams", 4))
      .orderBy($"doc_id")
  }

  val ngramNoveltySql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
       |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
       |f AS (SELECT bg, min(doc_id) AS first_doc FROM g GROUP BY 1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 4) AS novelty
       |FROM g JOIN f USING (bg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Most language-indicative tokens by pointwise mutual information:
    * PMI(t, l) = ln(c_tl·C / (c_t·c_l)) over token occurrences, top-5 per
    * language (support ≥ 5) — the classic feature-selection signal behind
    * dictionary-based language ID.
    *
    * Determinism: the PMI argument is a ratio of two exact BIGINT
    * products (≤ corpus-token-count², far below 2^53 so the doubles are
    * exact), one libm `ln` on identical bits, quantized to micro-nats;
    * ranking orders by the INTEGER micro value with a token tie-break, so
    * the top-5 cut is total-ordered on any engine. Scale shape: one
    * (token, lang) aggregation; token and language totals are broadcast;
    * the rank window partitions by language over the vocab-sized
    * relation. */
  def qLangPmi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tl = Tables.documents(spark, sfDir)
      .select($"lang", explode(toks($"text")).as("tok"))
      .groupBy($"tok", $"lang").agg(count(lit(1)).as("c_tl"))
    val byTok = tl.groupBy($"tok").agg(sum($"c_tl").as("c_t"))
    val byLang = tl.groupBy($"lang").agg(sum($"c_tl").as("c_l"))
    val total = tl.agg(sum($"c_tl").as("ct"))
    val wRank = Window.partitionBy($"lang")
      .orderBy($"pmi_micro".desc, $"tok")
    tl.where($"c_tl" >= 5)
      .join(broadcast(byTok), "tok")
      .join(broadcast(byLang), "lang")
      .crossJoin(broadcast(total))
      .select($"lang", $"tok", $"c_tl",
        round(log(($"c_tl" * $"ct").cast("double")
          / ($"c_t" * $"c_l").cast("double")) * 1e6).cast("long")
          .as("pmi_micro"))
      .withColumn("rank", row_number().over(wRank))
      .where($"rank" <= 5)
      .select($"lang", $"rank", $"tok", $"c_tl",
        ($"pmi_micro".cast("double") / 1e6).as("pmi_nats"))
      .orderBy($"lang", $"rank")
  }

  val langPmiSql: String =
    s"""WITH t AS (
       |  SELECT lang, unnest($duckToks) AS tok FROM documents),
       |tl AS (SELECT tok, lang, count(*) AS c_tl FROM t GROUP BY 1, 2),
       |tt AS (SELECT tok, CAST(sum(c_tl) AS BIGINT) AS c_t FROM tl GROUP BY 1),
       |ll AS (SELECT lang, CAST(sum(c_tl) AS BIGINT) AS c_l FROM tl GROUP BY 1),
       |n AS (SELECT CAST(sum(c_tl) AS BIGINT) AS ct FROM tl),
       |p AS (
       |  SELECT tl.lang, tl.tok, c_tl,
       |    CAST(round(ln(CAST(c_tl * ct AS DOUBLE) / CAST(c_t * c_l AS DOUBLE))
       |      * 1e6) AS BIGINT) AS pmi_micro
       |  FROM tl JOIN tt USING (tok) JOIN ll USING (lang), n
       |  WHERE c_tl >= 5),
       |r AS (
       |  SELECT lang, tok, c_tl, pmi_micro,
       |    row_number() OVER (PARTITION BY lang ORDER BY pmi_micro DESC, tok)
       |      AS rank
       |  FROM p)
       |SELECT lang, rank, tok, c_tl,
       |  CAST(pmi_micro AS DOUBLE) / 1e6 AS pmi_nats
       |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin

  /** Heavy hitters via Count-Min prefilter + exact verify: tokens holding
    * ≥ 2% of the token stream. The sketch ([[graft.ml.CountMin]], 4×512
    * cells, a few KB at ANY corpus size) over-estimates only, so
    * filtering candidates by the sketch can never drop a true heavy
    * hitter; the exact recount behind it removes the false positives —
    * the same sketch-narrows/exact-decides contract as the Bloom
    * semi-join, which is why the oracle is the PLAIN `HAVING` query. The
    * stream total is read off the sketch itself (every occurrence
    * increments each row once), so no extra pass.
    *
    * Scale shape: one distributed sketch aggregation, then the exact
    * count runs only over candidate tokens (broadcast candidate set). */
  def qCmHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stream = Tables.documents(spark, sfDir)
      .select(explode(toks($"text")).as("tok"))
    val sketch = graft.ml.CountMin.build(stream, $"tok", width = 512)
    val total = sketch(0).sum
    // the estimate filter runs per-occurrence inside codegen BEFORE the
    // count shuffle — at scale only heavy-hitter occurrences reach the
    // aggregation; the exact HAVING then drops the sketch's false
    // positives. The digest is projected ONCE per occurrence and shared
    // by all d sketch rows (one xxhash64, not d cryptographic hashes).
    stream
      .withColumn("dig", graft.ml.CountMin.digest31($"tok"))
      .where(graft.ml.CountMin.estimateFromDigest($"dig", sketch) * 50
        >= lit(total))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .where($"cnt" * 50 >= lit(total))
      .orderBy($"cnt".desc, $"tok")
  }

  val cmHeavyHittersSql: String =
    s"""WITH t AS (SELECT unnest($duckToks) AS tok FROM documents),
       |n AS (SELECT count(*) AS total FROM t)
       |SELECT tok, count(*) AS cnt
       |FROM t, n GROUP BY tok, total
       |HAVING count(*) * 50 >= total
       |ORDER BY cnt DESC, tok""".stripMargin

  /** Bottom-k stratified sampling: per language, the 2 docs with the
    * smallest md5(doc_id) digests — the mergeable exact-size counterpart
    * of [[qHashSample]]'s fixed-rate split. Bottom-k by a uniform hash is
    * a uniform sample, and "k smallest" merges associatively across
    * partitions — and the plan SPELLS that out: a salted local bottom-2
    * per (lang, salt-of-doc) first, then the global bottom-2 over the
    * ≤ 32·2 salted survivors per language, so no window ever sorts a
    * language's whole corpus slice in one task (same two-phase
    * discipline as [[qWeightedSample]]). */
  def qBottomkSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wLocal = Window.partitionBy($"lang", $"salt").orderBy($"d", $"doc_id")
    val wGlobal = Window.partitionBy($"lang").orderBy($"d", $"doc_id")
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        graft.ops.Similarity.digest60($"doc_id".cast("string")).as("d"),
        pmod(hash($"doc_id"), lit(32)).as("salt"))
      .withColumn("lrn", row_number().over(wLocal))
      .where($"lrn" <= 2) // global bottom-2 ⊆ union of per-salt bottom-2s
      .withColumn("rn", row_number().over(wGlobal))
      .where($"rn" <= 2)
      .select($"lang", $"rn", $"doc_id")
      .orderBy($"lang", $"rn")
  }

  val bottomkSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      AS d
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY d, doc_id) AS rn
      |  FROM d)
      |SELECT lang, rn, doc_id FROM r WHERE rn <= 2
      |ORDER BY lang, rn""".stripMargin

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    * a.k.a. weighted bottom-k): per language, the 3 docs drawn with
    * probability proportional to text length — the "sample long documents
    * preferentially" primitive behind quality-weighted corpus subsetting.
    * Each doc gets the A-ES key u^(1/w) compared in log space,
    * ln(u)/w, with u = (md5-digest + 1)/2^60 ∈ (0,1] and w = char length;
    * the 3 LARGEST keys per language win (u^(1/w) → 1 as w grows, so
    * heavy docs race exponentially faster — the classical result makes
    * inclusion probability exactly proportional to w under top-k).
    *
    * Determinism: u is the same 60-bit md5 uniform both engines already
    * share ([[qHashSample]]); w is exact integer length; ln/division are
    * one double op each on identical inputs, and ties (impossible except
    * by digest collision) break on doc_id. Scale shape: top-k by a
    * pointwise key is associative, and the plan SPELLS that out — a
    * salted local top-3 per (lang, salt-of-doc) first, then the global
    * top-3 over the ≤ 32·3 salted survivors per language. No window ever
    * sees more than one salt slice; the final rank runs on a
    * salt-count-bounded relation however large the corpus (the same
    * two-phase discipline as [[graft.sources.Skew.saltedSumCount]]). */
  def qWeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = graft.ops.Similarity.digest60($"doc_id".cast("string"))
    val u = (d + lit(1L)).cast("double") / lit(math.pow(2, 60))
    val wLocal = Window.partitionBy($"lang", $"salt")
      .orderBy($"key".desc, $"doc_id")
    val wGlobal = Window.partitionBy($"lang").orderBy($"key".desc, $"doc_id")
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        length($"text").cast("long").as("weight"),
        (log(u) / length($"text").cast("double")).as("key"),
        pmod(hash($"doc_id"), lit(32)).as("salt"))
      .withColumn("lrn", row_number().over(wLocal))
      .where($"lrn" <= 3) // global top-3 ⊆ union of per-salt top-3s
      .withColumn("rn", row_number().over(wGlobal))
      .where($"rn" <= 3)
      .select($"lang", $"rn", $"doc_id", $"weight")
      .orderBy($"lang", $"rn")
  }

  val weightedSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, length(text) AS weight,
      |    ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      |          AS BIGINT) + 1) / power(2, 60)) /
      |      CAST(length(text) AS DOUBLE) AS key
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id, weight,
      |    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id)
      |      AS rn
      |  FROM d)
      |SELECT lang, rn, doc_id, weight FROM r WHERE rn <= 3
      |ORDER BY lang, rn""".stripMargin

  /** Length-distribution drift per source: a Kolmogorov–Smirnov-style
    * statistic — the max gap between a source's doc-length CDF and the
    * corpus CDF, evaluated on 50-char buckets — the drift alarm that
    * catches a source whose crawl changed shape.
    *
    * Determinism: the CDF gap is cleared of divisions —
    *   |cum_s/n_s − cum_c/n| = |cum_s·n − cum_c·n_s| / (n_s·n)
    * so the max runs over exact integers, WIDENED to DECIMAL(38,0)/
    * HUGEINT (cum·n grows as |docs|² and passes 2^63 at ~3e9 docs —
    * the q_ks_test discipline: Spark's long product overflows
    * where DuckDB errors, so the engines would diverge), and only the
    * final ppm value divides. Scale shape: the (source × bucket) grid is
    * dimension-bounded (buckets ≤ max-doc-length/50); CDFs are
    * constant-bounded windows over that grid, never over rows. */
  def qLengthDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"source", (floor($"n_chars" / 50) * 50).cast("long").as("bucket"))
    // the (source × bucket) count grid is dimension-bounded and supplies
    // EVERY downstream relation as exact integer re-aggregations — the
    // round-18 runtime reuse audit (graft.ReuseAudit) measured the old
    // spelling at FIVE corpus scans (grid ×2, cums, corpus CDF, n_s, n
    // each re-derived; AQE reuse never fired); materializing the grid
    // pins the query at ONE corpus pass at any scale
    val sb = docs.groupBy($"source", $"bucket").agg(count(lit(1)).as("c_sb"))
      .localCheckpoint(true)
    val grid = sb.select($"source").distinct()
      .crossJoin(broadcast(sb.select($"bucket").distinct()))
    val wS = Window.partitionBy($"source").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = grid.join(sb, Seq("source", "bucket"), "left")
      .select($"source", $"bucket", coalesce($"c_sb", lit(0L)).as("c_sb"))
      .withColumn("cum_s", sum($"c_sb").over(wS))
    val corpus = graft.ops.Dist.withPrefix(
        sb.groupBy($"bucket").agg(sum($"c_sb").as("c_b")),
        Seq($"bucket"), Seq("c_b" -> "pre"))
      .select($"bucket", ($"pre" + $"c_b").as("cum_c"))
    val nS = sb.groupBy($"source").agg(sum($"c_sb").as("n_s"))
    // coalesce: empty corpus reads as 0 (count semantics), not NULL
    val n = sb.agg(coalesce(sum($"c_sb"), lit(0L)).as("n"))
    cums.join(corpus, "bucket")
      .join(broadcast(nS), "source")
      .crossJoin(broadcast(n))
      .groupBy($"source")
      .agg(max(abs($"cum_s".cast("decimal(38,0)") * $"n"
          - $"cum_c".cast("decimal(38,0)") * $"n_s")).as("d"),
        max($"n_s".cast("decimal(38,0)") * $"n").as("den"))
      .select($"source",
        expr("CAST(d * 1000000 DIV den AS BIGINT)").as("ks_ppm"))
      .orderBy($"source")
  }

  val lengthDriftSql: String =
    """WITH d AS (
      |  SELECT source, CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket
      |  FROM documents),
      |sb AS (SELECT source, bucket, count(*) AS c_sb FROM d GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, b.bucket
      |  FROM (SELECT DISTINCT source FROM sb) s,
      |       (SELECT DISTINCT bucket FROM sb) b),
      |cums AS (
      |  SELECT g.source, g.bucket,
      |    CAST(sum(coalesce(sb.c_sb, 0)) OVER (PARTITION BY g.source
      |      ORDER BY g.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_s
      |  FROM grid g LEFT JOIN sb ON g.source = sb.source AND g.bucket = sb.bucket),
      |corpus AS (
      |  SELECT bucket,
      |    CAST(sum(c_b) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
      |  FROM (SELECT bucket, count(*) AS c_b FROM d GROUP BY 1)),
      |ns AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM d)
      |SELECT c.source,
      |  CAST(max(abs(CAST(c.cum_s AS HUGEINT) * n.n
      |      - CAST(co.cum_c AS HUGEINT) * ns.n_s)) * 1000000
      |    // max(CAST(ns.n_s AS HUGEINT) * n.n) AS BIGINT) AS ks_ppm
      |FROM cums c JOIN corpus co ON c.bucket = co.bucket
      |JOIN ns ON c.source = ns.source, n
      |GROUP BY c.source ORDER BY c.source""".stripMargin

  /** Target-mix rebalancing plan: the per-language downsampling rate that
    * moves the corpus toward a uniform language mix — rate_ppm =
    * min(1, N / (n_langs · c_l)) — plus the resulting kept-doc counts.
    * The planning half of [[qSourceMix]]'s realized-rate report: all
    * integer ppm arithmetic, one aggregation plus a 1-row broadcast. */
  def qMixRebalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byLang = Tables.documents(spark, sfDir)
      .groupBy($"lang").agg(count(lit(1)).as("c_l"))
    val tot = byLang.agg(sum($"c_l").as("n"), count(lit(1)).as("n_langs"))
    byLang.crossJoin(broadcast(tot))
      .select($"lang", $"c_l",
        expr("c_l * 1000000 DIV n").as("share_ppm"),
        least(lit(1000000L), expr("n * 1000000 DIV (n_langs * c_l)"))
          .as("rate_ppm"))
      .withColumn("docs_kept", expr("c_l * rate_ppm DIV 1000000"))
      .orderBy($"lang")
  }

  val mixRebalanceSql: String =
    """WITH l AS (SELECT lang, count(*) AS c_l FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(c_l) AS BIGINT) AS n, count(*) AS n_langs FROM l),
      |r AS (
      |  SELECT lang, c_l,
      |    c_l * 1000000 // n AS share_ppm,
      |    least(1000000, n * 1000000 // (n_langs * c_l)) AS rate_ppm
      |  FROM l, t)
      |SELECT lang, c_l, share_ppm, CAST(rate_ppm AS BIGINT) AS rate_ppm,
      |  CAST(c_l * rate_ppm // 1000000 AS BIGINT) AS docs_kept
      |FROM r ORDER BY lang""".stripMargin

  /** Entropy outliers: documents whose token entropy sits ≥ 2σ BELOW
    * their source's mean — the composed anomaly pass over a derived
    * curation metric ([[qTokenEntropy]] feeding the one-sided σ-test),
    * flagging repetitive/degenerate docs relative to their own source.
    *
    * Determinism: per-doc entropy is the micro-nat BIGINT; per-source
    * Σx/Σx² are exact integers with Σx² and the n·x / n·Σx² guard
    * products widened to DECIMAL(38,0)/HUGEINT (micro-nat entropies ~2e7
    * put n·x past 2^63 near 1e12 docs and Σx² far earlier — Spark's
    * long arithmetic overflows where DuckDB stays exact,
    * so the engines would diverge on the flag set); the 2σ test runs in
    * doubles CAST FROM those identical integers in the same op order on
    * both engines ((s−n·x)² > 4·(n·Σx²−s²), one-sided), so the flag set
    * is bit-identical. Scale shape: one token aggregation, one
    * source-keyed stats aggregation broadcast back. */
  def qEntropyOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ent = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", explode(toks($"text")).as("tok"))
      .groupBy($"doc_id", $"source", $"tok").agg(count(lit(1)).as("c"))
      .withColumn("n", sum($"c").over(Window.partitionBy($"doc_id")))
      .select($"doc_id", $"source",
        round($"c".cast("double") / $"n" * log($"n".cast("double") / $"c") * 1e6)
          .cast("long").as("h_micro"))
      .groupBy($"doc_id", $"source")
      .agg(sum($"h_micro").as("x"))
    val stats = ent.groupBy($"source")
      .agg(count(lit(1)).as("ns"), sum($"x").as("s"),
        sum($"x".cast("decimal(38,0)") * $"x").as("ss"))
    ent.join(broadcast(stats), "source")
      .where($"s" > $"ns".cast("decimal(38,0)") * $"x" &&
        ($"s" - $"ns".cast("decimal(38,0)") * $"x").cast("double")
          * ($"s" - $"ns".cast("decimal(38,0)") * $"x").cast("double")
          > lit(4.0) * ($"ns".cast("double") * $"ss".cast("double")
            - $"s".cast("double") * $"s".cast("double")))
      .select($"doc_id", $"source", ($"x".cast("double") / 1e6).as("entropy_nats"))
      .orderBy($"doc_id")
  }

  val entropyOutliersSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, unnest($duckToks) AS tok FROM documents),
       |c AS (SELECT doc_id, source, tok, count(*) AS c FROM t GROUP BY 1, 2, 3),
       |w AS (
       |  SELECT doc_id, source, c,
       |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
       |  FROM c),
       |e AS (
       |  SELECT doc_id, source,
       |    CAST(sum(CAST(round(CAST(c AS DOUBLE) / n * ln(CAST(n AS DOUBLE) / c)
       |      * 1e6) AS BIGINT)) AS BIGINT) AS x
       |  FROM w GROUP BY 1, 2),
       |st AS (
       |  SELECT source, count(*) AS ns, CAST(sum(x) AS BIGINT) AS s,
       |    sum(CAST(x AS HUGEINT) * x) AS ss
       |  FROM e GROUP BY 1)
       |SELECT doc_id, e.source, CAST(x AS DOUBLE) / 1e6 AS entropy_nats
       |FROM e JOIN st ON e.source = st.source
       |WHERE s > CAST(ns AS HUGEINT) * x
       |  AND CAST(s - CAST(ns AS HUGEINT) * x AS DOUBLE)
       |    * CAST(s - CAST(ns AS HUGEINT) * x AS DOUBLE)
       |    > 4.0 * (CAST(ns AS DOUBLE) * CAST(ss AS DOUBLE)
       |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ retrieval

  /** BM25 ad-hoc retrieval (k1 = 1.2, b = 0.75, Lucene's +1 idf floor):
    * rank documents against a fixed 4-term query, top-50 with doc_id
    * tie-break. The classic IR ranking function one notch beyond
    * [[qTfidfTopTerms]]'s tf·idf.
    *
    * Determinism across engines: the tf-saturation ratio is rearranged to
    * clear every fraction — with avgdl = SL/N (SL = corpus token count,
    * N = doc count),
    *   tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)) = 22·tf·SL / (10·tf·SL + 3·SL + 9·dl·N)
    * so both operands are exact BIGINTs and the one double division is
    * bit-identical on both engines; idf = ln(1 + (N-df+0.5)/(df+0.5)) is a
    * single libm call on identical input bits (same argument as tf-idf),
    * always positive, and each per-term score is quantized to integer
    * micro-units before the per-doc sum (order-independent long adds).
    *
    * Scale shape: the token explode is pre-filtered to the 4 query terms
    * (predicate inside the generator input, so the shuffle carries only
    * matching postings); df and the (N, SL) totals are 1-to-4-row
    * broadcasts; the final cut is orderBy.limit → TakeOrderedAndProject. */
  def qBm25(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("spark", "table", "hash", "window")
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", toks($"text").as("t"))
      .select($"doc_id", $"t", size($"t").cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sl"))
    val tf = docs
      .select($"doc_id", $"dl",
        explode(filter($"t", tok => tok.isin(terms.map(lit): _*))).as("term"))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ($"n_docs".cast("double") - $"df" + 0.5) / ($"df" + 0.5)))
      .withColumn("num", lit(22L) * $"tf" * $"sl")
      .withColumn("den", lit(10L) * $"tf" * $"sl" + lit(3L) * $"sl" + lit(9L) * $"dl" * $"n_docs")
      .withColumn("term_micro",
        round($"idf" * ($"num".cast("double") / $"den".cast("double")) * 1e6)
          .cast("long"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), sum($"term_micro").as("score_micro"))
      .select($"doc_id", $"n_terms", $"score_micro",
        ($"score_micro".cast("double") / 1e6).as("score"))
      .orderBy($"score_micro".desc, $"doc_id")
      .limit(50)
  }

  val bm25Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS toks FROM documents),
       |d AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sl FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl,
       |          unnest(list_filter(toks, x -> list_contains(['spark','table','hash','window'], x))) AS term
       |        FROM d)
       |  GROUP BY 1, 2, 3),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
       |      (CAST(22 * tf * sl AS DOUBLE) / CAST(10 * tf * sl + 3 * sl + 9 * dl * n_docs AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS term_micro
       |  FROM tf JOIN df USING (term) CROSS JOIN stats)
       |SELECT doc_id, count(*) AS n_terms,
       |  CAST(sum(term_micro) AS BIGINT) AS score_micro,
       |  CAST(CAST(sum(term_micro) AS BIGINT) AS DOUBLE) / 1e6 AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin

  /** Overlapping fixed-window chunking — the sequence-windowing stage of an
    * LLM training-data pipeline (window 32 tokens, stride 24, so adjacent
    * chunks share 8 tokens; complements [[q_sequence_pack]]'s greedy
    * budget packer). Chunk starts are pure integer arithmetic
    * (1 + ⌈max(0, n-32)/24⌉ chunks per doc), the window slice is
    * positional (`slice` on the materialized token array — no re-split per
    * chunk), and every output column is an integer or a token string, so
    * the row set is bit-exact on any engine. Scale shape: one generator
    * explode per doc (fan-out n/24 — linear in corpus size), no shuffle at
    * all until the final presentation sort. */
  def qDocChunk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val win = 32
    val stride = 24
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", toks($"text").as("t"))
      .select($"doc_id", $"t", size($"t").cast("long").as("n"))
      .where($"n" > 0)
    docs
      .select($"doc_id", $"t", $"n",
        explode(sequence(lit(0L),
          expr(s"(greatest(n - $win, 0L) + ${stride - 1}) div $stride"))).as("ci"))
      .select($"doc_id", $"ci".as("chunk_idx"), ($"ci" * stride + 1).as("start_pos"),
        least(lit(win.toLong), $"n" - $"ci" * stride).as("n_tokens"),
        slice($"t", ($"ci" * stride + 1).cast("int"), lit(win)).as("c"))
      .select($"doc_id", $"chunk_idx", $"start_pos", $"n_tokens",
        aggregate(transform($"c", x => length(x).cast("long")), lit(0L), _ + _)
          .as("chunk_chars"),
        element_at($"c", 1).as("head_tok"),
        element_at($"c", -1).as("tail_tok"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val docChunkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS toks FROM documents),
       |d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
       |c AS (
       |  SELECT doc_id, n, unnest(range(0, 1 + (greatest(n - 32, 0) + 23) // 24)) AS ci,
       |    toks
       |  FROM d),
       |s AS (
       |  SELECT doc_id, ci AS chunk_idx, ci * 24 + 1 AS start_pos,
       |    least(32, n - ci * 24) AS n_tokens,
       |    toks[ci * 24 + 1 : least(ci * 24 + 32, n)] AS c
       |  FROM c)
       |SELECT doc_id, chunk_idx, start_pos, n_tokens,
       |  CAST(coalesce(list_sum(list_transform(c, x -> length(x))), 0) AS BIGINT) AS chunk_chars,
       |  c[1] AS head_tok, c[len(c)] AS tail_tok
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  /** Language-ID with classifier confidence — the abstain/threshold stage
    * of a curation pipeline: rank all candidate languages per doc, report
    * the top-2 and their hit margin, and keep only docs whose margin
    * clears the threshold (≥ 2 stopword hits). The candidate array sorts
    * as (−hits, lang) structs — the same single-pass, shuffle-free shape
    * as [[qLangId]] — so the margin is exact integer arithmetic and the
    * keep decision can never flip on a ulp. */
  def qLangConfidence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", toks($"text").as("t"))
      .withColumn("ranked", array_sort(langCandidates(col("t"))))
      .select($"doc_id", $"lang",
        $"ranked"(0).getField("lang").as("pred_lang"),
        (-$"ranked"(0).getField("neg")).cast("long").as("hits_top1"),
        (-$"ranked"(1).getField("neg")).cast("long").as("hits_top2"))
      .withColumn("margin", $"hits_top1" - $"hits_top2")
      .withColumn("keep", $"margin" >= 2)
      .orderBy($"doc_id")
  }

  val langConfidenceSql: String = {
    val scores = langWords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"SELECT doc_id, '$lang' AS cand, len(list_filter($duckToks, x -> list_contains([$lst], x))) AS hits FROM documents"
    }.mkString("\n  UNION ALL ")
    s"""WITH scores AS (
       |  $scores),
       |ranked AS (
       |  SELECT doc_id, cand, CAST(hits AS BIGINT) AS hits,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand) AS rn
       |  FROM scores)
       |SELECT d.doc_id, d.lang, r1.cand AS pred_lang,
       |  r1.hits AS hits_top1, r2.hits AS hits_top2,
       |  r1.hits - r2.hits AS margin,
       |  r1.hits - r2.hits >= 2 AS keep
       |FROM documents d
       |JOIN ranked r1 ON r1.doc_id = d.doc_id AND r1.rn = 1
       |JOIN ranked r2 ON r2.doc_id = d.doc_id AND r2.rn = 2
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Cross-document chunk dedup — repeated 32-token windows (stride 24,
    * [[qDocChunk]]'s grid) appearing in ≥ 2 distinct docs: the
    * chunk-granularity boilerplate/copy detector between exact-doc dedup
    * and shingle near-dup. Chunks digest to 120-bit keys (two md5-prefix
    * longs — the [[Similarity.digestLo]]/[[Similarity.digestHi]] convention, collision-safe past
    * 10¹⁷ distinct chunks) so the shuffle carries 16-byte fixed-width
    * keys; the aggregation is digest-keyed and the output is
    * repeat-bounded. */
  def qChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val win = 32
    val stride = 24
    Tables.documents(spark, sfDir)
      .select($"doc_id", toks($"text").as("t"))
      .select($"doc_id", $"t", size($"t").cast("long").as("n"))
      .where($"n" > 0)
      .select($"doc_id",
        explode(sequence(lit(0L),
          expr(s"(greatest(n - $win, 0L) + ${stride - 1}) div $stride"))).as("ci"),
        $"t")
      .select($"doc_id",
        md5(array_join(
          slice($"t", ($"ci" * stride + 1).cast("int"), lit(win)), " ")).as("ck"))
      .select($"doc_id",
        conv(substring($"ck", 1, 15), 16, 10).cast("long").as("chunk_key1"),
        conv(substring($"ck", 17, 15), 16, 10).cast("long").as("chunk_key2"))
      .groupBy($"chunk_key1", $"chunk_key2")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min($"doc_id").as("first_doc"))
      .where($"n_docs" >= 2)
      .orderBy($"chunk_key1", $"chunk_key2")
  }

  val chunkDedupSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $duckToks AS toks FROM documents),
       |d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
       |c AS (
       |  SELECT doc_id, n, toks,
       |    unnest(range(0, 1 + (greatest(n - 32, 0) + 23) // 24)) AS ci
       |  FROM d),
       |k0 AS (
       |  SELECT doc_id, md5(array_to_string(
       |      toks[ci * 24 + 1 : least(ci * 24 + 32, n)], ' ')) AS ck
       |  FROM c),
       |k AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(ck, 1, 15) AS BIGINT) AS chunk_key1,
       |    CAST('0x' || substr(ck, 17, 15) AS BIGINT) AS chunk_key2
       |  FROM k0)
       |SELECT chunk_key1, chunk_key2, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occurrences, min(doc_id) AS first_doc
       |FROM k GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY chunk_key1, chunk_key2""".stripMargin

  /** HTML → text extraction (north-star curation operator — the first
    * step of every web-corpus pipeline, trafilatura's job): strip
    * script/style blocks, pull the title, drop all tags, collapse
    * whitespace. The HTML is built deterministically AROUND the real
    * documents (formula markup: head with title/script/style, body with
    * h1 + the doc text + a nav div), so both engines run the identical
    * RE2-safe regex chain on identical strings and the gate verifies the
    * extraction rules themselves. Expression-only: no shuffle until the
    * presentation sort, embarrassingly parallel at any scale. */
  def qHtmlExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val html = concat(
      lit("<html><head><title>Doc "), $"doc_id", lit(" ("), $"lang",
      lit(")</title><script>var id=\""), $"doc_id",
      lit("\";</script><style>p{margin:0}</style></head><body><h1>Doc "),
      $"doc_id", lit("</h1><p>"), $"text",
      lit("</p><div class=\"nav\"><a href=\"/home\">home</a> <a href=\"/next\">next</a></div></body></html>"))
    val noBlocks = regexp_replace(
      regexp_replace(html, lit("(?s)<script[^>]*>.*?</script>"), lit("")),
      lit("(?s)<style[^>]*>.*?</style>"), lit(""))
    val title = regexp_extract(noBlocks, "<title>([^<]*)</title>", 1)
    val body = trim(regexp_replace(
      regexp_replace(noBlocks, lit("<[^>]+>"), lit(" ")),
      lit("\\s+"), lit(" ")))
    Tables.documents(spark, sfDir)
      .select($"doc_id", title.as("title"),
        size(toks(body)).cast("long").as("n_tokens_extracted"),
        size(toks($"text")).cast("long").as("n_tokens_source"))
      .orderBy($"doc_id")
  }

  val htmlExtractSql: String =
    """WITH h AS (
      |  SELECT doc_id, text,
      |    '<html><head><title>Doc ' || doc_id || ' (' || lang ||
      |    ')</title><script>var id="' || doc_id ||
      |    '";</script><style>p{margin:0}</style></head><body><h1>Doc ' ||
      |    doc_id || '</h1><p>' || text ||
      |    '</p><div class="nav"><a href="/home">home</a> <a href="/next">next</a></div></body></html>'
      |      AS html
      |  FROM documents),
      |nb AS (
      |  SELECT doc_id, text,
      |    regexp_replace(regexp_replace(html,
      |      '(?s)<script[^>]*>.*?</script>', '', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', '', 'g') AS nob
      |  FROM h),
      |x AS (
      |  SELECT doc_id,
      |    regexp_extract(nob, '<title>([^<]*)</title>', 1) AS title,
      |    trim(regexp_replace(regexp_replace(nob, '<[^>]+>', ' ', 'g'),
      |      '\s+', ' ', 'g')) AS body,
      |    text
      |  FROM nb)
      |SELECT doc_id, title,
      |  CAST(len(list_filter(string_split(body, ' '), t -> t <> '')) AS BIGINT)
      |    AS n_tokens_extracted,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
      |    AS n_tokens_source
      |FROM x ORDER BY doc_id""".stripMargin

  /** URL normalization (north-star curation operator — the canonical-URL
    * dedup key every crawl pipeline derives): lowercase scheme and host,
    * drop the default port (http:80 / https:443, others kept), strip
    * utm_* tracking params (rebuilding the query string by filtering
    * split parts — no replacement backrefs, so the chain is RE2-portable),
    * drop the fragment, keep path case. URLs are formula-generated per
    * doc so every branch (ports, utm-only queries, fragments, mixed case)
    * is exercised and both engines normalize identical inputs.
    * Expression-only. */
  def qUrlNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val url = concat(
      when($"doc_id" % 2 === 0, "http").otherwise("HTTPS"),
      lit("://W"), $"doc_id" % 7, lit(".Example.COM"),
      when($"doc_id" % 3 === 0, ":80")
        .when($"doc_id" % 3 === 1, ":8080").otherwise(""),
      lit("/P/"), $"doc_id",
      when($"doc_id" % 2 === 0,
        concat(lit("?utm_source=feed&q="), $"doc_id" % 5, lit("&utm_campaign=x")))
        .otherwise(concat(lit("?q="), $"doc_id" % 5)),
      lit("#sec"), $"doc_id" % 3)
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)
    val host = lower(regexp_extract(hostport, "^([^:]+)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val path = regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val fq = array_join(
      filter(split(query, "&"), p => !p.startsWith("utm_")), "&")
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val norm = concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(""),
      path,
      when(fq =!= "", concat(lit("?"), fq)).otherwise(""))
    Tables.documents(spark, sfDir)
      .select($"doc_id", norm.as("url_norm"))
      .orderBy($"doc_id")
  }

  val urlNormalizeSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END) ||
      |    '://W' || (doc_id % 7) || '.Example.COM' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN ':80'
      |          WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) ||
      |    '/P/' || doc_id ||
      |    (CASE WHEN doc_id % 2 = 0
      |          THEN '?utm_source=feed&q=' || (doc_id % 5) || '&utm_campaign=x'
      |          ELSE '?q=' || (doc_id % 5) END) ||
      |    '#sec' || (doc_id % 3) AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    lower(regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
      |      '^([^:]+)', 1)) AS host,
      |    regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
      |      ':([0-9]+)$', 1) AS port,
      |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
      |    array_to_string(list_filter(
      |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |      q -> NOT starts_with(q, 'utm_')), '&') AS fq
      |  FROM u)
      |SELECT doc_id,
      |  scheme || '://' || host ||
      |  (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
      |             AND NOT (scheme = 'https' AND port = '443')
      |        THEN ':' || port ELSE '' END) ||
      |  path ||
      |  (CASE WHEN fq <> '' THEN '?' || fq ELSE '' END) AS url_norm
      |FROM p ORDER BY doc_id""".stripMargin

  /** LM-based quality filtering (north-star curation operator — the CCNet
    * recipe: a language model trained on trusted data scores the crawl,
    * low-likelihood docs drop): a Stupid-Backoff bigram LM counted over
    * the TRAIN hash-split (the same md5(doc_id) mod 100 < 80 split as
    * [[Similarity.qStratifiedSplit]]) scores every HELD-OUT doc's mean
    * bigram log-likelihood. Held-out docs genuinely exercise the backoff:
    * unseen bigrams fall to α·unigram and OOV words to an add-one floor.
    *
    * Docs then split into CCNet's head/middle/tail TERCILES by the global
    * order statistics of the score (t1 = max of the ⌈n/3⌉ lowest scores,
    * t2 = max of the ⌈2n/3⌉ lowest — well-defined under ties, computed
    * via orderBy.limit + max, never an unpartitioned window).
    *
    * Determinism discipline: each bigram's ln-score quantizes to integer
    * micro-nats BEFORE the per-doc sum (order-independent long adds, same
    * fixed-point pattern as the Fisher/BM25 queries); the per-doc mean is
    * an integer DIV. Scale shape: count tables shuffle once on token
    * keys; scoring is two string-keyed equi-joins plus a broadcast 1-row
    * total; the per-doc score relation (4 narrow columns per held doc —
    * what any production run persists anyway) checkpoints once and feeds
    * the two order-statistic cuts and the final bucketing. */
  def qLmQualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id",
        (graft.ops.Similarity.digest60($"doc_id".cast("string")) % 100).as("bucket"),
        toks($"text").as("t"))
    val train = docs.where($"bucket" < 80)
    val held = docs.where($"bucket" >= 80)
    val uni = train.select(explode($"t").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cw"))
    val total = uni.agg(sum($"cw").as("n_tok"))
    val bi = train.select(explode(StupidBackoff.grams($"t", 2)).as("b"))
      .groupBy($"b.w1".as("w1"), $"b.w2".as("w2"))
      .agg(count(lit(1)).as("c2"))
    val cand = held.select($"doc_id", explode(StupidBackoff.grams($"t", 2)).as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
    val s = cand
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select($"w".as("w1"), $"cw".as("cw1")), Seq("w1"), "left")
      .join(uni.select($"w".as("w2"), $"cw".as("cw2")), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      // observed: c2/c(w1); unseen bigram: α·c(w2)/N; OOV w2: add-one floor
      .withColumn("p",
        when($"c2".isNotNull && $"cw1".isNotNull,
          $"c2".cast("double") / $"cw1")
          .otherwise(lit(StupidBackoff.Alpha) *
            (coalesce($"cw2", lit(0L)) + 1).cast("double") / ($"n_tok" + 1)))
      .withColumn("lp_micro", round(log($"p") * 1e6).cast("long"))
    val scored = s.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"lp_micro").as("sum_micro"))
      .select($"doc_id", $"n_bigrams",
        expr("sum_micro DIV n_bigrams").as("avg_logp_micro"))
      .localCheckpoint(true)
    val n = scored.count()
    def cutAt(k: Long): DataFrame = scored
      .orderBy($"avg_logp_micro").limit(k.toInt)
      .agg(max($"avg_logp_micro"))
    val cuts = cutAt((n + 2) / 3).toDF("t1")
      .crossJoin(cutAt((2 * n + 2) / 3).toDF("t2"))
    scored.crossJoin(broadcast(cuts))
      .select($"doc_id", $"n_bigrams", $"avg_logp_micro",
        when($"avg_logp_micro" <= $"t1", "tail")
          .when($"avg_logp_micro" <= $"t2", "middle")
          .otherwise("head").as("lm_bucket"))
      .orderBy($"doc_id")
  }

  val lmQualityFilterSql: String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket,
      |    $duckToks AS t
      |  FROM documents),
      |tr AS (SELECT * FROM d WHERE bucket < 80),
      |he AS (SELECT * FROM d WHERE bucket >= 80),
      |uni AS (
      |  SELECT w, count(*) AS cw
      |  FROM (SELECT unnest(t) AS w FROM tr) GROUP BY 1),
      |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tok FROM uni),
      |bi AS (
      |  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c2
      |  FROM tr, UNNEST(range(1, len(t))) u(i)
      |  WHERE len(t) >= 2 GROUP BY 1, 2),
      |cand AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM he, UNNEST(range(1, len(t))) u(i)
      |  WHERE len(t) >= 2),
      |sc AS (
      |  SELECT c.doc_id,
      |    CAST(round(ln(
      |      CASE WHEN bi.c2 IS NOT NULL AND u1.cw IS NOT NULL
      |           THEN CAST(bi.c2 AS DOUBLE) / u1.cw
      |           ELSE 0.4 * CAST(coalesce(u2.cw, 0) + 1 AS DOUBLE) / (tot.n_tok + 1)
      |      END) * 1e6) AS BIGINT) AS lp_micro
      |  FROM cand c
      |  LEFT JOIN bi ON c.w1 = bi.w1 AND c.w2 = bi.w2
      |  LEFT JOIN uni u1 ON c.w1 = u1.w
      |  LEFT JOIN uni u2 ON c.w2 = u2.w
      |  CROSS JOIN tot),
      |q AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(lp_micro) AS BIGINT) // count(*) AS avg_logp_micro
      |  FROM sc GROUP BY doc_id),
      |nn AS (SELECT count(*) AS n FROM q),
      |r AS (
      |  SELECT avg_logp_micro AS a,
      |    row_number() OVER (ORDER BY avg_logp_micro, doc_id) AS rn
      |  FROM q),
      |cuts AS (
      |  SELECT
      |    max(CASE WHEN rn <= (SELECT (n + 2) // 3 FROM nn) THEN a END) AS t1,
      |    max(CASE WHEN rn <= (SELECT (2 * n + 2) // 3 FROM nn) THEN a END) AS t2
      |  FROM r)
      |SELECT doc_id, n_bigrams, avg_logp_micro,
      |  CASE WHEN avg_logp_micro <= t1 THEN 'tail'
      |       WHEN avg_logp_micro <= t2 THEN 'middle'
      |       ELSE 'head' END AS lm_bucket
      |FROM q CROSS JOIN cuts ORDER BY doc_id""".stripMargin

  /** Duplicated-span detector — substring-grain dedup signal (ref
    * capability: ABSENT in keystone; the "dedup training data at the
    * substring level" metric from the training-data-dedup literature):
    * every 8-token span occurring in 2+ DISTINCT documents marks its 8
    * token positions as duplicated, and each doc reports the fraction of
    * its token positions covered by any such span. Complements
    * [[Similarity.qDedupExact]] (whole-file copies) and shingle-Jaccard
    * (near-identical pairs) by finding boilerplate/quotation SPANS inside
    * otherwise-unique documents.
    *
    * Determinism: spans compare by the same 120-bit md5-prefix digest
    * pair as the shingle family ([[Similarity.digestLo]]), byte-identical
    * on both engines; coverage is a distinct-position count — pure
    * integers.
    *
    * Scale shape: the gram explode is linear in corpus tokens and is
    * digested/shuffled exactly ONCE — the duplicated-gram test is a
    * gram-keyed window `min(doc) != max(doc)` (⟺ distinct docs ≥ 2), so
    * no aggregate-plus-join-back recomputing the explode. Position
    * coverage explodes a constant 8 rows per duplicated occurrence, then
    * distincts on fixed-width (doc, pos) long pairs; skew-free because
    * df ≥ 2 is a property of grams, not docs. */
  def qSpanDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val win = 8
    val d = Tables.documents(spark, sfDir)
      .select($"doc_id", toks($"text").as("t"))
      .select($"doc_id", $"t", size($"t").cast("long").as("n"))
      .where($"n" >= win)
    val grams = d
      .select($"doc_id",
        explode(transform(sequence(lit(1L), $"n" - (win - 1)),
          i => struct(i.as("pos"),
            call_function("graft_md5_split",
              concat_ws(" ", slice($"t", i.cast("int"), lit(win)))).as("dg"))))
          .as("g"))
      .select($"doc_id", $"g.pos".as("pos"),
        $"g.dg"(0).as("g1"), $"g.dg"(1).as("g2"))
    // distinct-doc-count >= 2 ⟺ min(doc) != max(doc): ONE gram-keyed
    // window replaces the aggregate + join-back (which would digest and
    // shuffle the 8-gram explode twice)
    val wg = Window.partitionBy($"g1", $"g2")
    val occ = grams
      .withColumn("multi",
        min($"doc_id").over(wg) =!= max($"doc_id").over(wg))
      .where($"multi")
      .select($"doc_id", $"pos")
    // coverage by interval merging, NOT an 8x position explode+distinct:
    // duplicated spans [pos, pos+7] chain into runs (next start within
    // prev running-max end + 1), and each run covers max_end-min_start+1
    // positions — the same run-length discipline as the interval-merge op
    val wd = Window.partitionBy($"doc_id").orderBy($"pos")
    val wPrev = wd.rowsBetween(Window.unboundedPreceding, -1)
    val wCum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cov = occ
      .withColumn("prev_end",
        max($"pos" + (win - 1)).over(wPrev))
      .withColumn("nr",
        when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1L).otherwise(0L))
      .withColumn("run_id", sum($"nr").over(wCum))
      .groupBy($"doc_id", $"run_id")
      .agg((max($"pos") + (win - 1) - min($"pos") + 1).as("len"))
      .groupBy($"doc_id").agg(sum($"len").as("n_dup_pos"))
    d.join(cov, Seq("doc_id"), "left")
      .select($"doc_id", $"n".as("n_tokens"),
        coalesce($"n_dup_pos", lit(0L)).as("n_dup_pos"),
        round(coalesce($"n_dup_pos", lit(0L)).cast("double") / $"n", 4)
          .as("dup_frac"))
      .orderBy($"doc_id")
  }

  val spanDedupSql: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |d AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    CAST('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15) AS BIGINT) AS g1,
       |    CAST('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 17, 15) AS BIGINT) AS g2
       |  FROM d, UNNEST(range(1, n - 6)) AS u(i)),
       |g2 AS (
       |  SELECT doc_id, pos,
       |    min(doc_id) OVER wg <> max(doc_id) OVER wg AS multi
       |  FROM g WINDOW wg AS (PARTITION BY g1, g2)),
       |o AS (SELECT doc_id, pos FROM g2 WHERE multi),
       |r AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos > coalesce(max(pos + 7) OVER
       |        (PARTITION BY doc_id ORDER BY pos
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
       |      THEN 1 ELSE 0 END AS nr
       |  FROM o),
       |s AS (
       |  SELECT doc_id, pos,
       |    CAST(sum(nr) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
       |  FROM r),
       |rl AS (
       |  SELECT doc_id, run_id, max(pos) + 7 - min(pos) + 1 AS len
       |  FROM s GROUP BY 1, 2),
       |c AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_dup_pos FROM rl GROUP BY 1)
       |SELECT d.doc_id, n AS n_tokens,
       |  CAST(coalesce(n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
       |  round(CAST(coalesce(n_dup_pos, 0) AS DOUBLE) / n, 4) AS dup_frac
       |FROM d LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Sentence segmentation + per-source sentence statistics — the
    * paragraph/sentence-level profiling step between document stats
    * (`q_text_quality`) and token stats (`q_token_count`). The synthetic
    * corpus carries no punctuation, so — the `q_html_extract`
    * formula-wrapping precedent — deterministic sentence terminals are
    * first injected with a plain string replace (every ` sort ` becomes
    * `. `, identical non-overlapping left-to-right semantics on both
    * engines), then text is split on terminal-punctuation runs `[.!?]+`
    * and empty segments dropped. Reported per source: documents, total
    * sentences, sentences per doc, mean sentence length.
    *
    * Exactness: segment counts and character sums are exact integers via
    * array HOFs; two final divisions. Scale shape: expression-only per
    * row (no explode — the per-doc reduction happens inside the array
    * aggregate), one source-bounded hash aggregate. */
  def qSentenceSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val segs = filter(split(expr("replace(text, ' sort ', '. ')"), "[.!?]+"),
      x => length(trim(x)) > 0)
    Tables.documents(spark, sfDir)
      .select($"source", size(segs).cast("long").as("n_sent"),
        aggregate(segs, lit(0L), (a, x) => a + length(trim(x)).cast("long"))
          .as("sent_chars"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_sent").as("n_sentences"),
        round(sum($"n_sent").cast("double") / count(lit(1)), 4).as("sent_per_doc"),
        round(sum($"sent_chars").cast("double") / sum($"n_sent"), 4).as("chars_per_sent"))
      .orderBy($"source")
  }

  val sentenceSplitSql: String =
    """WITH d AS (
      |  SELECT source,
      |    list_filter(regexp_split_to_array(replace(text, ' sort ', '. '), '[.!?]+'),
      |      x -> length(trim(x)) > 0) AS segs
      |  FROM documents),
      |pd AS (
      |  SELECT source, CAST(length(segs) AS BIGINT) AS n_sent,
      |    CAST(coalesce(list_sum(list_transform(segs, x -> length(trim(x)))), 0)
      |      AS BIGINT) AS sent_chars
      |  FROM d)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_sent) AS BIGINT) AS n_sentences,
      |  round(CAST(sum(n_sent) AS DOUBLE) / count(*), 4) AS sent_per_doc,
      |  round(CAST(sum(sent_chars) AS DOUBLE) / sum(n_sent), 4) AS chars_per_sent
      |FROM pd GROUP BY source ORDER BY source""".stripMargin

  /** Flesch-style readability score per source — the classic
    * words-per-sentence × syllables-per-word composite
    * (206.835 − 1.015·W/S − 84.6·Syl/W) that curation recipes use as a
    * cheap fluency prior. Sentences use [[qSentenceSplit]]'s injected-
    * terminal scheme (counted on the marked text); words and syllables
    * come from the ORIGINAL text — words as space-delimited tokens,
    * syllables approximated as vowel runs (the standard heuristic;
    * consonant-only tokens contribute 0, deterministic on both engines
    * because spaces break every run identically).
    *
    * Exactness: three exact integer sums per source; the two ratios and
    * the affine combination are four doubles in one final projection,
    * round 4. Scale shape: expression-only per row, one source-bounded
    * hash aggregate. */
  def qReadability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sentSegs = filter(split(expr("replace(text, ' sort ', '. ')"), "[.!?]+"),
      x => length(trim(x)) > 0)
    Tables.documents(spark, sfDir)
      .select($"source",
        size(sentSegs).cast("long").as("n_sent"),
        size(split($"text", " ")).cast("long").as("n_words"),
        (size(split($"text", "[aeiou]+")) - 1).cast("long").as("n_syl"))
      .groupBy($"source")
      .agg(sum($"n_sent").as("sentences"), sum($"n_words").as("words"),
        sum($"n_syl").as("syllables"))
      .select($"source", $"sentences", $"words", $"syllables",
        round(lit(206.835)
          - lit(1.015) * $"words".cast("double") / $"sentences"
          - lit(84.6) * $"syllables".cast("double") / $"words", 4).as("flesch"))
      .orderBy($"source")
  }

  val readabilitySql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(length(list_filter(
      |      regexp_split_to_array(replace(text, ' sort ', '. '), '[.!?]+'),
      |      x -> length(trim(x)) > 0)) AS BIGINT) AS n_sent,
      |    CAST(length(string_split(text, ' ')) AS BIGINT) AS n_words,
      |    CAST(length(regexp_split_to_array(text, '[aeiou]+')) - 1 AS BIGINT) AS n_syl
      |  FROM documents),
      |g AS (
      |  SELECT source, sum(n_sent) AS sentences, sum(n_words) AS words,
      |    sum(n_syl) AS syllables
      |  FROM d GROUP BY source)
      |SELECT source, CAST(sentences AS BIGINT) AS sentences,
      |  CAST(words AS BIGINT) AS words, CAST(syllables AS BIGINT) AS syllables,
      |  round(206.835
      |    - 1.015 * CAST(words AS DOUBLE) / sentences
      |    - 84.6 * CAST(syllables AS DOUBLE) / words, 4) AS flesch
      |FROM g ORDER BY source""".stripMargin

  /** Context-length bucketing + padding-waste audit — the batching
    * decision a training pipeline makes before [[qSequencePack]] packs
    * anything: each document lands in the smallest fixed context length
    * (64/128/256/512/1024 whitespace tokens, the power-of-two ladder real
    * trainers use) that holds it, documents over the cap are marked
    * truncated, and each bucket reports its padding waste — the fraction
    * of the batch matrix that would be pad tokens if batches were drawn
    * from that bucket unpacked.
    *
    * Exactness: token counts, bucket capacities and the waste ppm are all
    * integers (cross-multiplied `DIV`); no doubles anywhere. The bucket
    * ladder is a literal CASE — identical on both engines, no float log2.
    * Scale shape: expression-only per row, one ≤6-key hash aggregate. */
  def qLengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(size(split($"text", " ")).cast("long").as("toks"))
      .select($"toks",
        expr("""CASE WHEN toks <= 64 THEN 64 WHEN toks <= 128 THEN 128
                WHEN toks <= 256 THEN 256 WHEN toks <= 512 THEN 512
                WHEN toks <= 1024 THEN 1024 ELSE 1024 END""").as("bucket"),
        when($"toks" > 1024, 1L).otherwise(0L).as("trunc"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(least($"toks", lit(1024L))).as("kept_tokens"),
        sum($"trunc").as("n_truncated"))
      .withColumn("padding_waste_ppm",
        // widened: n_docs*bucket is corpus tokens (~1e16 at 100 TB), so
        // *1e6 overflows the long on Spark and errors DuckDB's BIGINT multiply
        expr("CAST((CAST(n_docs AS DECIMAL(38,0)) * bucket - kept_tokens)" +
          " * 1000000 DIV (CAST(n_docs AS DECIMAL(38,0)) * bucket) AS BIGINT)"))
      .orderBy($"bucket")
  }

  val lengthBucketsSql: String =
    """WITH d AS (
      |  SELECT CAST(length(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents),
      |b AS (
      |  SELECT toks,
      |    CASE WHEN toks <= 64 THEN 64 WHEN toks <= 128 THEN 128
      |         WHEN toks <= 256 THEN 256 WHEN toks <= 512 THEN 512
      |         ELSE 1024 END AS bucket,
      |    CASE WHEN toks > 1024 THEN 1 ELSE 0 END AS trunc
      |  FROM d),
      |g AS (
      |  SELECT bucket, count(*) AS n_docs,
      |    sum(least(toks, 1024)) AS kept_tokens, sum(trunc) AS n_truncated
      |  FROM b GROUP BY 1)
      |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(kept_tokens AS BIGINT) AS kept_tokens,
      |  CAST(n_truncated AS BIGINT) AS n_truncated,
      |  CAST((CAST(n_docs AS HUGEINT) * bucket - kept_tokens) * 1000000
      |    // (CAST(n_docs AS HUGEINT) * bucket) AS BIGINT) AS padding_waste_ppm
      |FROM g ORDER BY bucket""".stripMargin

  /** Unicode NFC normalization audit — the ingest step that makes
    * composed ("café") and decomposed ("cafe" + COMBINING ACUTE) spellings
    * of the same text hash together before any dedup/fingerprint runs.
    * The synthetic corpus is pure ASCII, so — the formula-wrapping
    * precedent — every even doc gets a DECOMPOSED prefix and every odd
    * doc a COMPOSED one, built from identical codepoints on both engines;
    * the compiled `graft_nfc` kernel (ASCII fast path, JDK Normalizer
    * behind it) then composes, and the audit reports how many documents
    * changed and how many codepoints the composition saved per source.
    *
    * Scale shape: expression-only per row (one compiled static call, the
    * stage stays in whole-stage codegen), one source-bounded aggregate. */
  def qUnicodeNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // even docs get the DECOMPOSED prefix (e + U+0301), odd the COMPOSED
    // one (U+00E9) — explicit escapes so no editor/encoding pass can
    // silently re-compose the source file
    val mark = when(pmod($"doc_id", lit(2)) === 0,
        concat(lit("re\u0301sume\u0301 "), $"text"))
      .otherwise(concat(lit("caf\u00e9 "), $"text"))
    Tables.documents(spark, sfDir)
      .select($"source", mark.as("mark"))
      .withColumn("norm", call_function("graft_nfc", $"mark"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"norm" =!= $"mark", 1L).otherwise(0L)).as("n_changed"),
        sum((length($"mark") - length($"norm")).cast("long")).as("chars_saved"))
      .orderBy($"source")
  }

  val unicodeNormalizeSql: String =
    """WITH m AS (
      |  SELECT source,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN 'r' || chr(101) || chr(769) || 'sum' || chr(101) || chr(769)
      |        || ' ' || text
      |      ELSE 'caf' || chr(233) || ' ' || text END AS mark
      |  FROM documents),
      |n AS (SELECT source, mark, nfc_normalize(mark) AS norm FROM m)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN norm <> mark THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(sum(length(mark) - length(norm)) AS BIGINT) AS chars_saved
      |FROM n GROUP BY source ORDER BY source""".stripMargin

  /** Out-of-vocabulary rate per source — the tokenizer-coverage audit: a
    * vocabulary is frozen from the TRAIN split (the md5 80% split,
    * min-count 5 — the classic `min_count` floor, which unlike a top-K
    * cut needs no global ranking), then the held-out split's tokens are
    * scored against it. High OOV per source flags domains the tokenizer
    * will shred into bytes — the report run before committing a vocab.
    *
    * Exactness: counts and the ppm are integers throughout (`DIV`).
    * Scale shape: one train-side token aggregate (map-side combinable),
    * one token-keyed LEFT join of the held-out stream against the vocab
    * (no broadcast hint — the vocab is data-derived), one source-bounded
    * aggregate. */
  def qOovRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val isTrain = graft.ops.Similarity.digest60($"doc_id".cast("string")) % 10L < 8L
    val tokens = Tables.documents(spark, sfDir)
      .select($"source", isTrain.as("is_train"), explode(toks($"text")).as("token"))
    val vocab = tokens.where($"is_train")
      .groupBy($"token").agg(count(lit(1)).as("c"))
      .where($"c" >= 5L)
      .select($"token", lit(1L).as("in_v"))
    tokens.where(!$"is_train")
      .join(vocab, Seq("token"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_v".isNull, 1L).otherwise(0L)).as("n_oov"))
      // widened: n_oov can approach corpus token count (~1e14), so *1e6
      // overflows the long on Spark while the oracle's HUGEINT stays exact
      .withColumn("oov_ppm",
        expr("CAST(CAST(n_oov AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)"))
      .orderBy($"source")
  }

  val oovRateSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       |      % 10 < 8 AS is_train,
       |    unnest($duckToks) AS token
       |  FROM documents),
       |vocab AS (
       |  SELECT token, 1 AS in_v FROM d WHERE is_train
       |  GROUP BY token HAVING count(*) >= 5)
       |SELECT source, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN in_v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(CAST(sum(CASE WHEN in_v IS NULL THEN 1 ELSE 0 END) AS HUGEINT)
       |    * 1000000 // count(*) AS BIGINT) AS oov_ppm
       |FROM d LEFT JOIN vocab USING (token)
       |WHERE NOT is_train
       |GROUP BY source ORDER BY source""".stripMargin

  /** Autocomplete index: the top-3 completions for every 2-character
    * token prefix, ranked by corpus frequency with a lexical tie-break —
    * the search-suggest / query-completion table, built batch-side.
    *
    * Scale shape: one token-count aggregate (map-side combinable), then
    * a rank window PARTITIONED BY PREFIX — bounded by the vocabulary
    * under one prefix (Heaps-sublinear in the corpus), never
    * corpus-global. */
  def qAutocomplete(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, sfDir)
      .select(explode(toks($"text")).as("token"))
      .where(length($"token") >= 2)
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .withColumn("prefix", substring($"token", 1, 2))
    counts
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"prefix").orderBy($"cnt".desc, $"token")))
      .where($"rnk" <= 3)
      .select($"prefix", $"rnk".cast("long").as("rnk"), $"token", $"cnt")
      .orderBy($"prefix", $"rnk")
  }

  val autocompleteSql: String =
    s"""WITH t AS (
       |  SELECT unnest($duckToks) AS token FROM documents),
       |c AS (
       |  SELECT token, count(*) AS cnt FROM t
       |  WHERE length(token) >= 2 GROUP BY token),
       |r AS (
       |  SELECT substr(token, 1, 2) AS prefix, token, cnt,
       |    row_number() OVER (PARTITION BY substr(token, 1, 2)
       |      ORDER BY cnt DESC, token) AS rnk
       |  FROM c)
       |SELECT prefix, CAST(rnk AS BIGINT) AS rnk, token, cnt
       |FROM r WHERE rnk <= 3 ORDER BY prefix, rnk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_autocomplete" -> (qAutocomplete _),
    "q_oov_rate" -> (qOovRate _),
    "q_unicode_normalize" -> (qUnicodeNormalize _),
    "q_length_buckets" -> (qLengthBuckets _),
    "q_readability" -> (qReadability _),
    "q_sentence_split" -> (qSentenceSplit _),
    "q_span_dedup" -> (qSpanDedup _),
    "q_html_extract" -> (qHtmlExtract _),
    "q_url_normalize" -> (qUrlNormalize _),
    "q_lm_quality_filter" -> (qLmQualityFilter _),
    "q_lang_confidence" -> (qLangConfidence _),
    "q_token_entropy" -> (qTokenEntropy _),
    "q_blocklist_scrub" -> (qBlocklistScrub _),
    "q_source_kl" -> (qSourceKl _),
    "q_jensen_shannon" -> (qJensenShannon _),
    "q_mutual_information" -> (qMutualInformation _),
    "q_cramers_v" -> (qCramersV _),
    "q_vocab_growth" -> (qVocabGrowth _),
    "q_zipf_slope" -> (qZipfSlope _),
    "q_hash_sample" -> (qHashSample _),
    "q_group_sample" -> (qGroupSample _),
    "q_quantile_normalize" -> (qQuantileNormalize _),
    "q_quality_funnel" -> (qQualityFunnel _),
    "q_ngram_novelty" -> (qNgramNovelty _),
    "q_lang_pmi" -> (qLangPmi _),
    "q_cm_heavy_hitters" -> (qCmHeavyHitters _),
    "q_bottomk_sample" -> (qBottomkSample _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_length_drift" -> (qLengthDrift _),
    "q_mix_rebalance" -> (qMixRebalance _),
    "q_entropy_outliers" -> (qEntropyOutliers _),
    "q_chunk_dedup" -> (qChunkDedup _),
    "q_bm25" -> (qBm25 _),
    "q_doc_chunk" -> (qDocChunk _),
    "q_lm_doc_score" -> (qLmDocScore _),
    "q_length_histogram" -> (qLengthHistogram _),
    "q_type_token_ratio" -> (qTypeTokenRatio _),
    "q_vocab_overlap" -> (qVocabOverlap _),
    "q_token_spread" -> (qTokenSpread _),
    "q_repetition_score" -> (qRepetitionScore _),
    "q_tokenize_wordcount" -> (qTokenizeWordcount _),
    "q_bigram_counts" -> (qBigramCounts _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_bpe_apply" -> (qBpeApply _),
    "q_pretokenize" -> (qPretokenize _),
    "q_lang_stats" -> (qLangStats _),
    "q_common_terms_topk" -> (qCommonTermsTopk _),
    "q_word_id_encode" -> (qWordIdEncode _),
    "q_tfidf_top_terms" -> (qTfidfTopTerms _),
    "q_stupid_backoff_bigram" -> (qStupidBackoffBigram _),
    "q_stupid_backoff_trigram" -> (qStupidBackoffTrigram _),
    "q_stupid_backoff_4gram" -> (qStupidBackoff4gram _),
    "q_text_clean" -> (qTextClean _),
    "q_naive_bayes_score" -> (qNaiveBayesScore _),
    "q_lang_id" -> (qLangId _),
    "q_text_quality" -> (qTextQuality _),
    "q_token_count" -> (qTokenCount _),
    "q_doc_fingerprint" -> (qDocFingerprint _))

  val oracle: Map[String, String] = Map(
    "q_bpe_merges" -> bpeMergesSql,
    "q_bpe_apply" -> bpeApplySql,
    "q_pretokenize" -> pretokenizeSql,
    "q_autocomplete" -> autocompleteSql,
    "q_oov_rate" -> oovRateSql,
    "q_unicode_normalize" -> unicodeNormalizeSql,
    "q_length_buckets" -> lengthBucketsSql,
    "q_readability" -> readabilitySql,
    "q_sentence_split" -> sentenceSplitSql,
    "q_span_dedup" -> spanDedupSql,
    "q_html_extract" -> htmlExtractSql,
    "q_url_normalize" -> urlNormalizeSql,
    "q_lm_quality_filter" -> lmQualityFilterSql,
    "q_lang_confidence" -> langConfidenceSql,
    "q_token_entropy" -> tokenEntropySql,
    "q_blocklist_scrub" -> blocklistScrubSql,
    "q_source_kl" -> sourceKlSql,
    "q_jensen_shannon" -> jensenShannonSql,
    "q_mutual_information" -> mutualInformationSql,
    "q_cramers_v" -> cramersVSql,
    "q_vocab_growth" -> vocabGrowthSql,
    "q_zipf_slope" -> zipfSlopeSql,
    "q_hash_sample" -> hashSampleSql,
    "q_group_sample" -> groupSampleSql,
    "q_quantile_normalize" -> quantileNormalizeSql,
    "q_quality_funnel" -> qualityFunnelSql,
    "q_ngram_novelty" -> ngramNoveltySql,
    "q_lang_pmi" -> langPmiSql,
    "q_cm_heavy_hitters" -> cmHeavyHittersSql,
    "q_bottomk_sample" -> bottomkSampleSql,
    "q_weighted_sample" -> weightedSampleSql,
    "q_length_drift" -> lengthDriftSql,
    "q_mix_rebalance" -> mixRebalanceSql,
    "q_entropy_outliers" -> entropyOutliersSql,
    "q_chunk_dedup" -> chunkDedupSql,
    "q_bm25" -> bm25Sql,
    "q_doc_chunk" -> docChunkSql,
    "q_lm_doc_score" -> lmDocScoreSql,
    "q_length_histogram" -> lengthHistogramSql,
    "q_type_token_ratio" -> typeTokenRatioSql,
    "q_vocab_overlap" -> vocabOverlapSql,
    "q_token_spread" -> tokenSpreadSql,
    "q_repetition_score" -> repetitionScoreSql,
    "q_tokenize_wordcount" -> tokenizeWordcountSql,
    "q_bigram_counts" -> bigramCountsSql,
    "q_lang_stats" -> langStatsSql,
    "q_common_terms_topk" -> commonTermsTopkSql,
    "q_word_id_encode" -> wordIdEncodeSql,
    "q_tfidf_top_terms" -> tfidfTopTermsSql,
    "q_stupid_backoff_bigram" -> stupidBackoffBigramSql,
    "q_stupid_backoff_trigram" -> stupidBackoffTrigramSql,
    "q_stupid_backoff_4gram" -> stupidBackoff4gramSql,
    "q_text_clean" -> textCleanSql,
    "q_naive_bayes_score" -> naiveBayesScoreSql,
    "q_lang_id" -> langIdSql,
    "q_text_quality" -> textQualitySql,
    "q_token_count" -> tokenCountSql,
    "q_doc_fingerprint" -> docFingerprintSql)
}
