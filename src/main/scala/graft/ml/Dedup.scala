package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalable deduplication / similarity library — the trillion-row paths
  * behind the declared oracle queries in [[graft.ops.Similarity]].
  *
  * Every method is a pure DataFrame program: hash-partitioned shuffles on
  * high-cardinality keys, bounded state per key, no driver-side collection
  * of corpus-sized data, no nested-loop joins. Engine-specific hashing
  * (xxhash64, MinHashLSH) makes these non-oracle by design (SURVEY §2.B);
  * the unit suites carry their correctness argument.
  *
  * The hot paths ride compiled `graft_*` kernels. Sessions built without
  * `spark.sql.extensions=graft.functions.GraftExtensions` still work:
  * every entry point self-registers the kernels into the session at hand
  * (DataFrame methods) or the active session (Column helpers) via
  * [[graft.functions.GraftExtensions.ensureRegistered]].
  */
object Dedup {
  private def kernels(): Unit =
    graft.functions.GraftExtensions.ensureActiveRegistered()

  /** Exact content dedup: one survivor (min id) per distinct value of
    * `contentCols`. The shuffle key is the 64-bit content hash — never the
    * raw text — so shuffle width is constant per row at any scale. */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val h = xxhash64(contentCols.map(col): _*)
    df.withColumn("__h", h)
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h")
  }

  /** Tokenize + w-shingle a text column into an array of shingle hashes
    * (64-bit), distinct per doc. Hashing shingles to longs up front keeps
    * every downstream shuffle narrow. */
  def shingleHashes(text: Column, w: Int): Column = {
    kernels()
    // one compiled call — bit-identical to the HOF spelling
    // `array_distinct(transform(sequence(1, size(t)-(w-1)), i =>
    // xxhash64(concat_ws(" ", t[i..i+w-1]))))` with the size>=w guard
    // (DedupLibSpec pins the equality); the HOF chain evaluated
    // interpreted per shingle and evicted its Project from whole-stage
    // codegen. The coalesce preserves the old spelling's NULL-text
    // contract (when(size(null)>=w) fell to the otherwise arm): a null
    // doc has an EMPTY shingle set, it does not null out downstream
    // set algebra
    coalesce(call_function("graft_shingle_xxhashes", text, lit(w)),
      array().cast("array<bigint>"))
  }

  /** MinHash signature of a hashed-shingle array: for each of `numHashes`
    * seeded permutations, the minimum of (a_j * h + b_j mod p). Pure
    * column arithmetic — one pass per row, no shuffle. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    kernels()
    // one compiled call — the exact integer algebra of the HOF spelling
    // `transform(sequence(0, n-1), j => array_min(transform(shingles,
    // h => pmod((h % p)·a_j + b_j, p))))` with p = 2^31−1 and the
    // array_min-of-empty ⇒ null-slot contract (DedupLibSpec pins it).
    // The coalesce preserves the old spelling's NULL-array contract
    // (the outer transform ran over the sequence regardless): a null
    // shingle set signs as numHashes null slots, not a null signature
    coalesce(call_function("graft_minhash_sig", shingles, lit(numHashes)),
      array((0 until numHashes).map(_ => lit(null).cast("long")): _*))
  }

  /** Banded MinHash-LSH near-dup candidates: docs sharing at least one
    * band of their signature. Returns (id_a, id_b) candidate pairs with
    * their banded-signature agreement count. The band key is
    * (band_index, hash(band slice)) — an equi-join key, so candidate
    * generation is groupBy + bounded pair explosion, mirroring the capped
    * inverted-index shape of the oracle query.
    *
    * @param maxBucket safety valve: buckets larger than this are dropped
    *                  (degenerate content — e.g. empty docs — would
    *                  otherwise explode quadratically). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = 64): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
    val rows = bands
    val rowsPerBand = numHashes / bands
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val sig = df.select(col(idCol).as("__id"),
      minhashSignature(shingleHashes(col(textCol), shingleWidth), numHashes).as("__sig"))
    val banded = sig.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(rows - 1)), b =>
        xxhash64(slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand))))
      ).as(Seq("band", "bucket")))
    val lists = banded.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("__id"))).as("ds"))
      .where(size(col("ds")).between(2, maxBucket))
    lists.select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + 2, greatest(size(col("ds")) - i - 1, lit(0))),
          b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_bands_shared"))
  }

  /** MinHash near-dup with exact verification: candidates from
    * [[minhashCandidates]], then the TRUE shingle-Jaccard computed only for
    * candidate pairs (join back the shingle arrays, intersect per pair).
    * Output: (id_a, id_b, jaccard) with jaccard >= threshold. */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleWidth: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    val cand = minhashCandidates(df, idCol, textCol, shingleWidth, numHashes, bands)
    val sh = df.select(col(idCol).as("__id"),
      shingleHashes(col(textCol), shingleWidth).as("__sh"))
    cand
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 64-bit SimHash fingerprint of a text's whitespace tokens: per-bit
    * majority vote of xxhash64(token). Near-identical docs differ in few
    * bits (compare with [[hammingDistance]]). */
  def simhash(text: Column): Column = {
    kernels()
    // one compiled pass — bit-identical to the spelling that unrolled
    // to 64 interpreted `aggregate` traversals of the token-hash array
    // (per-bit ±1 vote of xxhash64(token), every occurrence votes;
    // DedupLibSpec pins the equality). The coalesce preserves the old
    // spelling's NULL-text contract (null votes fell through every
    // when(...) to 0): a null doc fingerprints as 0L and still
    // participates in hammingDistance comparisons
    coalesce(call_function("graft_simhash64", text), lit(0L))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Sign-random-projection LSH bucketing of an array<double> embedding —
    * the parameterized form of the declared q_embed_neardup geometry.
    * Returns (band, code) rows per input row for equi-join blocking. */
  def srpBands(vec: Column, dim: Int, bands: Int, bitsPerBand: Int): Column = {
    kernels()
    // one compiled call — the exact float algebra of the HOF spelling
    // (bands·bitsPerBand interpreted `aggregate` projections per row;
    // DedupLibSpec pins the equality). The coalesce preserves the old
    // spelling's NULL-vector contract (every projection nulled, every
    // when(...) fell to 0): a null embedding lands in band code 0
    coalesce(
      call_function("graft_srp_bands", vec, lit(dim), lit(bands),
        lit(bitsPerBand)),
      array((0 until bands).map(_ => lit(0L)): _*))
  }

  /** Embedding near-dup pairs above a cosine threshold via SRP-LSH
    * blocking + exact cosine verification — the library form of
    * q_embed_neardup with tunable recall/cost. */
  def embedNearDup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, bands: Int = 4, bitsPerBand: Int = 4): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
    val v = col(vecCol).cast("array<double>")
    val e = df.select(col(idCol).as("__id"), v.as("__v"))
      // graft_norm is bit-identical to sqrt(aggregate(transform(x·x)))
      // (VectorExprsSpec) — and codegen'd where the HOF was interpreted
      .withColumn("__nrm", call_function("graft_norm", col("__v")))
    val sig = e.select(col("__id"),
      posexplode(srpBands(col("__v"), dim, bands, bitsPerBand)).as(Seq("band", "code")))
    val pairs = sig.as("a").join(sig.as("b"), Seq("band", "code"))
      .where(col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    // bit-identical to aggregate(zip_with(·), 0.0, +) per VectorExprsSpec
    val dot = call_function("graft_dot", col("va"), col("vb"))
    pairs
      .join(e.select(col("__id").as("id_a"), col("__v").as("va"), col("__nrm").as("na")), "id_a")
      .join(e.select(col("__id").as("id_b"), col("__v").as("vb"), col("__nrm").as("nb")), "id_b")
      .withColumn("cos", dot / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Connected components over a near-dup pair set by iterative min-label
    * propagation — the production FINAL step of a dedup pipeline: pairs
    * alone over- or under-delete (drop-the-higher-id-of-each-pair removes
    * both b and c of a chain a–b, b–c when only two deletions of three
    * docs are wanted, and keeps nothing canonical); resolving pairs to
    * components and keeping min-id per component is the correct rule.
    *
    * Algorithm: every node starts labeled with itself; each round, every
    * node takes the min of its own label and its neighbors' labels; stop
    * when a round changes nothing. Rounds needed = max component DIAMETER
    * (near-dup clusters are near-cliques, so 2–3 in practice); `maxIter`
    * bounds the loop and the method throws if not converged — silent
    * wrong answers are worse than a loud bound. Each round is one
    * edge⋈label hash join + a min aggregation, `localCheckpoint`ed to cut
    * the iterative lineage (the same discipline as the KMeans/GMM loops
    * in [[LearningOps]]). At 100 TB the edge set (pair output) is orders
    * smaller than the corpus, and every round shuffles only on node id.
    *
    * Returns (node, component) with component = min node id reachable.
    *
    * Size-aware dispatch via the shared [[graft.ops.Dist.sizeDispatch]]
    * seam: the raw pair set is checkpointed and counted; when it fits
    * comfortably on the driver ([[LocalMaxEdges]] edges — bounded by
    * construction, NOT corpus-sized) the components are solved with
    * driver union-find in O(E·α) and zero further Spark jobs, because
    * label propagation's per-round scheduling overhead dwarfs the actual
    * work on a small graph. Above the threshold (or under
    * SPARK_GRAFT_FORCE_DISTRIBUTED=1) the distributed iterative path
    * runs — both paths produce the identical min-id labeling.
    *
    * r18-drift adjudication (round 19, q_dedup_clusters 2.58→3.60 s):
    * the sizeDispatch refactor is acquitted — the r18 pre-audit clean
    * sweep (182.0 s tree, refactor already in) had the query at 2.30 s,
    * BELOW its r17 level, and fresh probes (3.41/3.20 s against a
    * ~1.25× elevated same-run reference) normalize to ≈2.6 s. Host
    * band; no revert. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // the shared size-dispatch seam checkpoints the RAW pair set first:
    // the (possibly expensive) pair producer materializes exactly once;
    // symmetrization below reads the checkpoint twice instead of
    // recomputing the upstream twice
    graft.ops.Dist.sizeDispatch(
      pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")),
      LocalMaxEdges)((p, _) => ccLocal(p)) { (p, _) =>
      val edges = p
        .union(p.select(col("v").as("u"), col("u").as("v")))
        .distinct()
        .localCheckpoint(true)
      // round 1 fused into initialization: label = min(self, direct
      // neighbors) via one aggregation — cheaper than the loop's join+agg,
      // and every node appears as a u (edges are symmetrized), so the
      // label table is complete from the start.
      var labels = edges.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u").as("node"), least(col("u"), col("mn")).as("label"))
        .localCheckpoint(true)
      var iter = 1
      var converged = false
      while (!converged && iter < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("node").as("v"), col("label").as("vlabel")), "v")
          .groupBy(col("u")).agg(min(col("vlabel")).as("nlabel"))
        // carry the previous label alongside the new one so convergence is
        // a LOCAL scan of the checkpointed frame, not another join
        val next = labels
          .join(nbrMin, col("node") === col("u"))
          .select(col("node"), col("label").as("old"),
            least(col("label"), col("nlabel")).as("label"))
          .localCheckpoint(true)
        converged = next.where(col("label") < col("old")).isEmpty
        labels = next.select(col("node"), col("label"))
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      labels.select(col("node"), col("label").as("component"))
    }
  }

  /** [[connectedComponents]]' ceiling for the driver union-find, in raw
    * pairs. */
  private val LocalMaxEdges = 1000000L

  /** Driver union-find (union-by-min + path compression) for edge sets
    * under the dispatch threshold; takes the RAW (unsymmetrized) pairs —
    * union-find needs neither direction nor dedup. Roots are always the
    * component's min id, so find(x) after full compression IS the
    * canonical label. */
  private def ccLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    val nodes = scala.collection.mutable.HashSet.empty[Long]
    edges.select($"u", $"v").collect().foreach { row =>
      val (u, v) = (row.getLong(0), row.getLong(1))
      nodes += u += v
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    nodes.toSeq.sorted.map(n => (n, find(n)))
      .toDF("node", "component")
  }
}
