package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stupid-Backoff n-gram language model (Brants et al. 2007, "Large
  * Language Models in Machine Translation"; ref: StupidBackoffEstimator/
  * Model — SURVEY §2.A nlp table), one recursion over any order n:
  *
  *   S(w_n | w_1..w_{n-1}) = c(w_1..w_n) / c(w_1..w_{n-1})   if observed
  *                         = α · S(w_n | w_2..w_{n-1})        otherwise,
  *   bottoming out at S(w) = α^{n-1} · c(w) / N.
  *
  * Every count table keys on the gram's own token strings (w1..wk), so a
  * backoff step is a join on a different slice of the candidate's token
  * columns — no vocabulary re-encoding pass before the counts.
  */
object StupidBackoff {

  /** Backoff discount (the paper's α). */
  val Alpha = 0.4

  /** Left-associated α^p (math.pow may differ in the last ulp). Not the
    * oracles' bits: DuckDB types `0.4 * 0.4` as DECIMAL(4,2), so the
    * oracle SQL multiplies by the double nearest 0.16 while this gives
    * 0.16000000000000003. Parity holds because both sides round the score
    * to 6 decimals. */
  def alphaMult(p: Int): Double = (1 to p).foldLeft(1.0)((a, _) => a * Alpha)

  /** Order-k windows of a token array `t`: one struct<w1..wk> per run of k
    * consecutive tokens, an empty array when `t` holds fewer than k. */
  def grams(t: Column, k: Int): Column = {
    when(size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)), i =>
        struct((0 until k).map(j =>
          element_at(t, if (j == 0) i else i + j).as(s"w${j + 1}")): _*)))
      .otherwise(array().cast((1 to k).map(j => s"w$j:string")
        .mkString("array<struct<", ",", ">>")))
  }

  /** Scores every n-tuple of the corpus's `top` most frequent tokens (ties
    * broken on the token) with the cascade. `tokens` holds one token array
    * per row in `tokensCol`. Returns w1..wn, the unrounded `score`, and
    * seen_2..seen_n, where seen_k says the order-k suffix gram
    * w_{n-k+1}..w_n was observed.
    *
    * The grid LEFT-joins each order's count table, and a left join cannot
    * broadcast its tiny left side: unfiltered, a corpus-scale gram table
    * would shuffle to answer at most top^n probes. Every gram the grid can
    * probe (suffix grams and their prefixes) holds top tokens in every
    * position, so each order-k table is cut by broadcast semi-joins against
    * the top tokens BEFORE its count shuffle. Counts of surviving grams are
    * untouched (a count per key never depends on other keys); N still sums
    * the unfiltered unigram table. */
  def topGrid(tokens: DataFrame, tokensCol: String, n: Int, top: Int): DataFrame = {
    require(n >= 2, "Stupid-Backoff needs order >= 2")
    def w(j: Int): String = s"w$j"
    val uni = tokens.select(explode(col(tokensCol)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val topT = uni.orderBy(col("c").desc, col("tok")).limit(top)
    val total = uni.agg(sum(col("c")).as("__total"))
    def counts(k: Int): DataFrame =
      (1 to k).foldLeft(tokens.select(explode(grams(col(tokensCol), k)).as("__g"))
          .select((1 to k).map(j => col(s"__g.${w(j)}")): _*)) { (acc, j) =>
        acc.join(broadcast(topT.select(col("tok").as(w(j)))), Seq(w(j)), "left_semi")
      }.groupBy((1 to k).map(j => col(w(j))): _*).agg(count(lit(1)).as("c"))
    // the grid carries each position's unigram count (__u$j): the order-1
    // lookups of the cascade never need a join
    val grid = (1 to n)
      .map(j => topT.select(col("tok").as(w(j)), col("c").as(s"__u$j")))
      .reduceLeft((a, b) => a.crossJoin(broadcast(b)))
    // order k's suffix gram sits at positions n-k+1..n and its prefix
    // (the denominator) at n-k+1..n-1
    def at(k: Int, from: Int): Seq[String] = (from until from + k).map(w)
    val joined = (n to 2 by -1).foldLeft(grid) { (acc, k) =>
      val withGram = acc.join(counts(k).toDF(at(k, n - k + 1) :+ s"__c$k": _*),
        at(k, n - k + 1), "left")
      if (k == 2) withGram
      else withGram.join(counts(k - 1).toDF(at(k - 1, n - k + 1) :+ s"__p$k": _*),
        at(k - 1, n - k + 1), "left")
    }.crossJoin(broadcast(total))
    def prefix(k: Int): Column = if (k == 2) col(s"__u${n - 1}") else col(s"__p$k")
    val base = col(s"__u$n").cast("double") / col("__total") * lit(alphaMult(n - 1))
    val score = (2 to n).foldLeft(base) { (lower, k) =>
      when(col(s"__c$k").isNotNull && prefix(k).isNotNull,
        col(s"__c$k").cast("double") / prefix(k) * lit(alphaMult(n - k)))
        .otherwise(lower)
    }
    joined.select((1 to n).map(j => col(w(j))) ++ (score.as("score") +:
      (2 to n).map(k => col(s"__c$k").isNotNull.as(s"seen_$k"))): _*)
  }
}
