package graft

import org.apache.spark.sql.functions._
import graft.ml.Dedup

/** graft.ml.Dedup — the non-oracle, trillion-row-shaped dedup paths
  * (MinHash LSH, SimHash, SRP embedding blocking). */
class DedupLibSpec extends GraftSuite {

  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3L, "completely different content about database query optimization and join ordering plans"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (5L, "spark structured streaming processes unbounded event data with watermarks and state"))

  test("the compiled dedup kernels are bit-identical to the HOF spellings they replaced") {
    // real corpus texts + edge strings; each kernel vs the exact HOF
    // chain the library used before (interpreted, Project-evicting)
    // the None row pins the NULL contracts: null text must shingle to
    // EMPTY, sign as null slots, and fingerprint as 0L — the old HOF
    // spellings' semantics, preserved by the coalesce in each wrapper
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").unionAll(
        Seq(Some(""), Some(" "), Some("one"), Some("a b c"),
          Some("a a a a"), None).toDF("text"))
    val w = 3
    val t = call_function("graft_tokens", $"text")
    val hofShingles = when(size(t) >= w,
      array_distinct(transform(sequence(lit(1), size(t) - (w - 1)), i =>
        xxhash64(concat_ws(" ", (0 until w).map(k => element_at(t, i + k)): _*)))))
      .otherwise(array().cast("array<bigint>"))
    val cmpSh = docs.select(
      Dedup.shingleHashes($"text", w).as("kernel"), hofShingles.as("hof"))
    assert(cmpSh.where(not($"kernel" <=> $"hof")).count() == 0,
      "shingle hashes must match the HOF spelling")
    val p = lit(2147483647L)
    val hofSig = transform(sequence(lit(0), lit(7)), j =>
      array_min(transform(Dedup.shingleHashes($"text", w), h =>
        pmod((h % p) * (j * 2654435761L % p + 1) + j * 40503L + 1, p))))
    val cmpSig = docs.select(
      Dedup.minhashSignature(Dedup.shingleHashes($"text", w), 8).as("kernel"),
      hofSig.as("hof"))
    assert(cmpSig.where(not($"kernel" <=> $"hof")).count() == 0,
      "minhash signatures must match the HOF spelling (incl. null slots)")
    val hs = transform(t, tok => xxhash64(tok))
    val hofSim = (0 until 64).map { b =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, x) => a.bitwiseOR(x))
    val cmpSim = docs.select(
      Dedup.simhash($"text").as("kernel"), hofSim.as("hof"))
    assert(cmpSim.where(not($"kernel" <=> $"hof")).count() == 0,
      "simhash fingerprints must match the 64-vote HOF spelling")
    // srp band codes vs the aggregate-projection spelling on real
    // embeddings (dim = full width, the library default geometry)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"embedding".cast("array<double>").as("v"))
      .unionAll(Seq(Option.empty[Array[Double]]).toDF("v"))
    def hofProj(j: Int) =
      aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
        acc + element_at($"v", i) *
          (((i * 13 + j * 7919) % 97).cast("double") / 97.0 - 0.5))
    val hofSrp = array((0 until 4).map { b =>
      (0 until 4).map { k =>
        when(hofProj(b * 4 + k) >= 0, lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val cmpSrp = vecs.select(
      Dedup.srpBands($"v", 64, 4, 4).as("kernel"), hofSrp.as("hof"))
    assert(cmpSrp.where(not($"kernel" <=> $"hof")).count() == 0,
      "srp band codes must match the aggregate-projection spelling")
  }

  test("Dedup.exact collapses identical content to the min id") {
    val df = base.toDF("id", "text")
    val r = Dedup.exact(df, "id", Seq("text")).collect()
      .map(x => x.getAs[Long]("keep_id") -> x.getAs[Long]("n_copies")).toMap
    assert(r(1L) == 2L, "docs 1 and 4 are identical")
    assert(r.values.sum == 5L)
    assert(!r.contains(4L))
  }

  test("minhashNearDup finds the near-identical pair and skips unrelated docs") {
    val df = base.toDF("id", "text")
    val pairs = Dedup.minhashNearDup(df, "id", "text", threshold = 0.5)
      .collect().map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 4L)), "exact copies must always collide")
    assert(pairs.forall { case (a, b) => Set(1L, 2L, 4L).contains(a) && Set(1L, 2L, 4L).contains(b) },
      s"only the fox-sentence family may pair up, got $pairs")
  }

  test("minhash jaccard estimates the true shingle jaccard for exact copies") {
    val df = base.toDF("id", "text")
    val r = Dedup.minhashNearDup(df, "id", "text", threshold = 0.9)
      .where(col("id_a") === 1 && col("id_b") === 4).head()
    assert(r.getAs[Double]("jaccard") == 1.0)
  }

  test("simhash: identical texts share fingerprints; edits flip few bits") {
    val df = base.toDF("id", "text")
      .withColumn("fp", Dedup.simhash(col("text")))
    val fps = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("fp")).toMap
    assert(fps(1L) == fps(4L), "identical text => identical simhash")
    val nearDist = java.lang.Long.bitCount(fps(1L) ^ fps(2L))
    val farDist = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(nearDist < farDist,
      s"one-word edit ($nearDist bits) must be closer than unrelated text ($farDist bits)")
  }

  test("hammingDistance column matches JVM bitCount") {
    val df = Seq((0x0FL, 0x00L), (0xFFL, 0xF0L), (-1L, 0L)).toDF("a", "b")
      .withColumn("d", Dedup.hammingDistance(col("a"), col("b")))
    val got = df.collect().map(_.getAs[Int]("d")).toSeq
    assert(got == Seq(4, 4, 64))
  }

  test("embedNearDup on real embeddings is a subset of exact cosine pairs") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val lsh = Dedup.embedNearDup(e, "vec_id", "embedding", dim = 64, threshold = 0.4)
      .collect().map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"))).toSet
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b) => assert(a < b) }
    // higher-recall config must find at least as many pairs
    val moreBands = Dedup.embedNearDup(e, "vec_id", "embedding", dim = 64,
      threshold = 0.4, bands = 8, bitsPerBand = 2).count()
    assert(moreBands >= lsh.size,
      "more, shorter bands can only increase candidate recall")
  }

  test("connectedComponents resolves chains, cycles, and disjoint pairs") {
    import spark.implicits._
    // chain 1-2-3-4, cycle 10-11-12-10, isolated pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L),
      s"chain must collapse to min id: $comp")
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 9)
    // a long path stresses the diameter bound: 0-1-2-...-9 — and the
    // kill switch forces the DISTRIBUTED label-propagation path, which
    // must agree with the driver union-find exactly
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val pcLocal = Dedup.connectedComponents(path, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pcDist = forcedDistributed(
      Dedup.connectedComponents(path, "doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 9L).forall(pcLocal(_) == 0L), s"path must collapse: $pcLocal")
    assert(pcLocal == pcDist, "both dispatch paths must produce one labeling")
    val distChain = forcedDistributed(Dedup.connectedComponents(
      Seq((2L, 1L), (2L, 3L), (3L, 4L), (20L, 21L)).toDF("doc_a", "doc_b"),
      "doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(distChain(_) == 1L) &&
      distChain(20L) == 20L && distChain(21L) == 20L)
  }

  test("library entry points self-register kernels on a session without GraftExtensions") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // newSession() inherits the extension object, so simulate an
    // extension-free session by dropping every graft_* entry from its
    // (session-scoped) registry — the advisor's scenario: a user session
    // built without spark.sql.extensions=graft.functions.GraftExtensions
    val s2 = spark.newSession()
    val reg = s2.sessionState.functionRegistry
    reg.listFunction().filter(_.funcName.startsWith("graft_"))
      .foreach(reg.dropFunction)
    // sanity: the kernels are genuinely unresolvable on s2 now
    import s2.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("id", "text")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_simhash64", $"text")).collect()
    }
    // DataFrame entry point: registers via df.sparkSession
    val toks = graft.ml.workflow.Tokenize("text", "toks")(df)
      .select($"toks").head().getSeq[String](0)
    assert(toks == Seq("a", "b", "c", "d"))
    // Column entry points: register via the ACTIVE session
    val prevActive = SparkSession.getActiveSession
    try {
      SparkSession.setActiveSession(s2)
      reg.listFunction().filter(_.funcName.startsWith("graft_"))
        .foreach(reg.dropFunction)
      val fps = df.select(Dedup.simhash($"text").as("fp"))
        .collect().map(_.getLong(0))
      assert(fps(0) == fps(1) && fps(0) != fps(2))
      val sig = df.select(Dedup.minhashSignature(
        Dedup.shingleHashes($"text", 2), 4).as("sig")).head().getSeq[Long](0)
      assert(sig.length == 4)
    } finally prevActive.foreach(SparkSession.setActiveSession)
  }

  test("degenerate kernel parameters fail at analysis by name") {
    val df = Seq(("a b c", 2)).toDF("text", "n")
    def analysisMsg(c: org.apache.spark.sql.Column): String =
      intercept[org.apache.spark.sql.AnalysisException] {
        df.select(c).collect()
      }.getMessage
    // zero/negative values of the documented positive-int parameters
    assert(analysisMsg(call_function("graft_shingles", col("text"), lit(0)))
      .contains("graft_shingles n must be in [1,"))
    assert(analysisMsg(call_function("graft_shingle_xxhashes", col("text"), lit(0)))
      .contains("graft_shingle_xxhashes w must be in [1,"))
    assert(analysisMsg(call_function("graft_minhash_sig",
        array().cast("array<bigint>"), lit(-1)))
      .contains("graft_minhash_sig numHashes must be in [1,"))
    // a 64th sign bit would shift into a signed long's sign
    assert(analysisMsg(call_function("graft_srp_bands",
        array(lit(1.0)), lit(1), lit(1), lit(64)))
      .contains("graft_srp_bands bitsPerBand must be in [1, 63]"))
    // non-foldable and NULL parameters fail by name too
    assert(analysisMsg(call_function("graft_shingle_xxhashes", col("text"), col("n")))
      .contains("graft_shingle_xxhashes expects w to be a foldable int literal"))
    assert(analysisMsg(call_function("graft_shingles", col("text"),
        lit(null).cast("int")))
      .contains("graft_shingles n must not be NULL"))
  }
}
