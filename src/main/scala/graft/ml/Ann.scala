package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.array_to_vector

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path for similarity search (brief: "an IVF or LSH-bucketed
  * variant as the scale path"; the SRP-LSH variant lives in [[Dedup]]).
  *
  * Index = a k-means coarse quantizer: every vector is assigned to its
  * nearest of `nlist` centroids (one codegen'd graft_sqdist per centroid —
  * centroids are model-sized literals). A query probes its `nprobe`
  * nearest centroids and scans ONLY those inverted lists: the candidate
  * equi-join keys on the centroid id, so a 100 TB corpus shards by
  * centroid and a query touches nprobe/nlist of it. nprobe = nlist
  * degrades gracefully to exact brute force.
  */
object Ann {

  /** Fitted coarse quantizer: centroid matrix (nlist × dim). */
  final case class IvfIndex(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
  }

  /** Fit the coarse quantizer with MLlib k-means (seeded). */
  def fitIvf(data: DataFrame, vecCol: String, nlist: Int,
      seed: Long = 42L): IvfIndex = {
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed)
      .setFeaturesCol("__features").setPredictionCol("__c")
      .fit(data.withColumn("__features",
        array_to_vector(transform(col(vecCol), _.cast("double")))))
    IvfIndex(model.clusterCenters.map(_.toArray))
  }

  /** The centroid matrix as ONE foldable literal (array<array<double>>). */
  private def centroidsLit(index: IvfIndex): Column =
    array(index.centroids.toIndexedSeq.map(c => lit(c)): _*)

  /** Nearest-centroid assignment expression — the codegen'd
    * `graft_top_cells` kernel at nprobe=1. The struct-per-centroid
    * spelling it replaces (`array_min(array(struct(graft_sqdist(v,c_i),
    * i)...))`) grows the fused whole-stage-codegen method linearly in
    * nlist and passes HotSpot's huge-method JIT limit at production
    * centroid counts — the generated code then runs INTERPRETED (~90×
    * slower). The kernel's
    * generated code is constant-size whatever nlist is; distances and
    * (distance, id) tie-breaks are bit-identical to the old spelling. */
  private def assignExpr(v: Column, index: IvfIndex): Column =
    element_at(
      call_function("graft_top_cells", v, centroidsLit(index), lit(1)), 1)

  /** The `nprobe` nearest centroid ids for a probe vector — same kernel,
    * same ordering contract as [[assignExpr]] (ascending (distance, id),
    * NaN greatest). */
  private def probeClustersExpr(v: Column, index: IvfIndex, nprobe: Int): Column =
    call_function("graft_top_cells", v, centroidsLit(index), lit(nprobe))

  /** Product-quantization index: per-subspace codebooks (m × ksub × dsub).
    * PQ is the COMPRESSION path of similarity search: each corpus vector
    * stores M small code ids (M bytes at ksub ≤ 256) instead of dim
    * floats, and a query ranks candidates with M table lookups instead of
    * a dim-wide dot product. Composes with the IVF coarse quantizer
    * (shard by cell, PQ within the cell = IVF-PQ, the standard
    * billion-scale layout). */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def dsub: Int = codebooks(0)(0).length
  }

  /** Fit per-subspace codebooks with MLlib k-means (seeded): one small
    * k-means per subspace over the sliced corpus. */
  def fitPq(data: DataFrame, vecCol: String, m: Int, ksub: Int,
      seed: Long = 42L): PqIndex = {
    val dim = data.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val dsub = dim / m
    val books = (0 until m).map { mi =>
      val model = new org.apache.spark.ml.clustering.KMeans()
        .setK(ksub).setSeed(seed + mi)
        .setFeaturesCol("__features").setPredictionCol("__c")
        .fit(data.withColumn("__features", array_to_vector(
          transform(slice(col(vecCol), mi * dsub + 1, dsub), _.cast("double")))))
      model.clusterCenters.map(_.toArray)
    }.toArray
    PqIndex(books)
  }

  /** The whole m × ksub × dsub codebook as ONE Literal node. Plan size —
    * and therefore optimizer + Janino cost — stays CONSTANT in the
    * codebook geometry: round 7's per-codeword `array(lit…)` spelling put
    * ~2 000 literal nodes in the plan and measured ~20 s of pure
    * planning/codegen on a 2 k-row corpus under the driver's cold
    * sequential bench. Codeword lookups are `element_at` into this
    * literal; the subspace loops below are higher-order functions over
    * `sequence(0, ksub−1)`, so they add O(1) plan nodes however wide the
    * codebook gets (256-codeword production geometry included). */
  private def cbLit(index: PqIndex): Column =
    typedlit(index.codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** PQ encode: array of the M nearest sub-codeword ids (argmin of
    * graft_sqdist per subspace, ties to lower id — array_min's struct
    * ordering). Two stages: the M sub-slices materialize as plain
    * attributes first, so each subspace slices its vector once, not ksub
    * times. `extra` columns (computed from the raw `__v` vector, e.g. an
    * IVF cell assignment) project out of the SAME scan — the single
    * implementation both the plain ADC path and the IVF-PQ composition
    * share, so the tie-break/slicing subtleties the oracles pin exist
    * exactly once. */
  private def pqEncode(data: DataFrame, idCol: String, dv: Column,
      index: PqIndex, extra: Seq[(String, Column)] = Nil): DataFrame = {
    val cb = cbLit(index)
    val sliced = data.withColumn("__v", dv)
      .select(col(idCol).as("cand_id") +:
        (extra.map { case (n, c) => c.as(n) } ++
         (0 until index.m).map(mi =>
           slice(col("__v"), mi * index.dsub + 1, index.dsub).as(s"__s$mi"))): _*)
    sliced.select(col("cand_id") +: (extra.map(e => col(e._1)) :+
      array((0 until index.m).map { mi =>
        array_min(transform(sequence(lit(0), lit(index.ksub - 1)), ci =>
          struct(
            call_function("graft_sqdist", col(s"__s$mi"),
              element_at(element_at(cb, mi + 1), ci + 1)).as("d"),
            ci.as("c"))))
          .getField("c")
      }: _*).as("codes")): _*)
  }

  /** Asymmetric-distance (ADC) top-k: each probe precomputes its M × ksub
    * subspace-distance lookup table (micro-quantized to BIGINT so the
    * per-candidate sum is an ORDER-INDEPENDENT integer add — the same
    * determinism discipline as the idf/BM25 quantizations), then every
    * candidate's approximate L2² is M `element_at` lookups — unrolled
    * integer adds, no dim-wide arithmetic, no interpreted lambdas.
    * `probes` must be a BOUNDED frame (it broadcasts); the corpus side
    * streams its (id, M-byte code) rows. Returns
    * (probe_id, rank, cand_id, adist) with adist in micro-units. */
  def pqAdcTopK(index: PqIndex, data: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val dv = transform(col(vecCol), _.cast("double"))
    // both sides reference the codebook through the ONE-node literal of
    // [[cbLit]], so the combined join plan stays small and needs no
    // checkpoint barrier (round 7's per-codeword literal spelling needed
    // two eager localCheckpoints just to cap re-planning cost — and still
    // measured 21 s under the driver's cold bench; this spelling plans in
    // milliseconds and pins zero blocks)
    val cb = cbLit(index)
    val coded = pqEncode(data, idCol, dv, index)
    val lutExpr = array((0 until index.m).map { mi =>
      val sub = slice(col("__v"), mi * index.dsub + 1, index.dsub)
      transform(sequence(lit(0), lit(index.ksub - 1)), ci =>
        round(call_function("graft_sqdist", sub,
          element_at(element_at(cb, mi + 1), ci + 1)) * 1e6)
          .cast("long"))
    }: _*)
    val probed = probes
      .withColumn("__v", dv)
      .select(col(idCol).as("probe_id"), lutExpr.as("lut"))
    val adist = (0 until index.m).map { mi =>
      element_at(element_at(col("lut"), mi + 1),
        (element_at(col("codes"), mi + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist"), col("cand_id"))
    coded.crossJoin(broadcast(probed))
      .where(col("cand_id") =!= col("probe_id"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("adist"))
  }

  /** IVF-PQ: the billion-scale composition — the IVF coarse quantizer
    * prunes WHICH vectors are scanned (a probe touches nprobe/nlist of
    * the corpus, equi-joined on cell id), and PQ-ADC compresses HOW each
    * survivor is scored (M lookup adds instead of a dim-wide dot
    * product). Candidate set = union of the probe's nprobe cells, ranked
    * by ADC distance; exact re-rank of the shortlist is the caller's
    * (cheap, shortlist-bounded) step. Returns
    * (probe_id, rank, cand_id, adist). */
  def ivfPqTopK(coarse: IvfIndex, pq: PqIndex, data: DataFrame,
      probes: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    val dv = transform(col(vecCol), _.cast("double"))
    // cell-tagged compressed index: (cell, cand_id, codes) built in ONE
    // corpus scan — the coarse assignment projects out of pqEncode's own
    // scan as an extra column (no second scan, no index self-join); the
    // PQ codebook rides the one-node [[cbLit]] literal (same rationale
    // as pqAdcTopK, no checkpoint barrier needed)
    val cb = cbLit(pq)
    val coded = pqEncode(data, idCol, dv, pq,
      extra = Seq("cell" -> assignExpr(col("__v"), coarse)))
    val lutExpr = array((0 until pq.m).map { mi =>
      val sub = slice(col("__v"), mi * pq.dsub + 1, pq.dsub)
      transform(sequence(lit(0), lit(pq.ksub - 1)), ci =>
        round(call_function("graft_sqdist", sub,
          element_at(element_at(cb, mi + 1), ci + 1)) * 1e6)
          .cast("long"))
    }: _*)
    val probed = probes
      .withColumn("__v", dv)
      .select(col(idCol).as("probe_id"), lutExpr.as("lut"),
        explode(probeClustersExpr(col("__v"), coarse, nprobe)).as("cell"))
    val adist = (0 until pq.m).map { mi =>
      element_at(element_at(col("lut"), mi + 1),
        (element_at(col("codes"), mi + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist"), col("cand_id"))
    coded.join(broadcast(probed), "cell") // equi-join on the coarse cell
      .where(col("cand_id") =!= col("probe_id"))
      .withColumn("adist", adist)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("adist"))
  }

  /** Top-k cosine neighbors for each probe row, scanning only the nprobe
    * nearest inverted lists per probe. `probes` must be a BOUNDED frame
    * (it broadcasts). Returns (probe id, rank, candidate id, cos). */
  def ivfCosineTopK(index: IvfIndex, data: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val dv = transform(col(vecCol), _.cast("double"))
    val nrm = call_function("graft_norm", col("__v"))
    val indexed = data
      .withColumn("__v", dv)
      .withColumn("cluster", assignExpr(col("__v"), index))
      .select(col(idCol).as("cand_id"), col("__v").as("cv"),
        nrm.as("cn"), col("cluster"))
    val probed = probes
      .withColumn("__v", dv)
      .select(col(idCol).as("probe_id"), col("__v").as("pv"),
        nrm.as("pn"),
        explode(probeClustersExpr(col("__v"), index, nprobe)).as("cluster"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    indexed.join(broadcast(probed), "cluster")
      .where(col("cand_id") =!= col("probe_id"))
      .withColumn("cos",
        call_function("graft_dot", col("pv"), col("cv")) / (col("pn") * col("cn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("cand_id"),
        round(col("cos"), 6).as("cos"))
  }
}
