package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cost-based persist insertion — the reference's headline optimizer idea
  * (AutoCacheRule, SURVEY §4): profile an intermediate's size, and cache it
  * only when (a) it is consumed by more than one downstream action/branch
  * and (b) it fits the memory budget. Catalyst never auto-persists
  * (ReuseExchange only dedupes identical exchanges within one plan), so
  * cross-branch reuse is the one place a planner outside Catalyst earns
  * its keep.
  *
  * Kept deliberately small: the decision input is Catalyst's own optimized
  * plan statistics (`sizeInBytes` propagates from parquet footers through
  * filters/projections), so no sampling pass is needed for the common case.
  */
object AutoCache {

  /** The possibly-persisted frame plus a release hook: whoever takes the
    * cache decision owns the unpersist. `release()` is a no-op when the
    * planner declined, so callers always call it (try/finally) without
    * re-checking the decision. */
  final case class CacheHandle(df: DataFrame, cached: Boolean) {
    def release(): Unit = if (cached) df.unpersist()
  }

  /** Decide-and-persist: cache `df` iff it will be consumed `uses` times
    * and its estimated size fits `memBudgetBytes`. Returns a
    * [[CacheHandle]] — the caller releases it when the consuming scope
    * ends (eager `fit()` bodies bracket with [[withCached]]; lazily
    * returned query frames must NOT persist at all and should rely on
    * exchange reuse instead, which is why the declared dedup query no
    * longer calls this).
    *
    * Plans with trustworthy Catalyst stats decide for free. Plans whose
    * stats are sentinel-derived (see [[planStats]]) are profiled WITHOUT
    * persisting (one distributed pass — [[profiledSize]]); the persist
    * happens only after an accept. Join-product estimates over honest
    * leaves routinely land in sentinel territory too (size-visitors
    * multiply child sizes when row counts are absent), so the profiling
    * path must never be allowed to write a genuinely over-budget frame
    * to storage just to learn it does not fit — declining is free now,
    * and the accept path pays one extra pass over a frame it is about
    * to cache anyway. */
  def cacheIfWorthIt(df: DataFrame, uses: Int,
      memBudgetBytes: Long = 2L << 30): CacheHandle = {
    if (uses <= 1) return CacheHandle(df, cached = false)
    if (estimatedSize(df) <= BigInt(memBudgetBytes))
      CacheHandle(df.persist(StorageLevel.MEMORY_AND_DISK), cached = true)
    else CacheHandle(df, cached = false)
  }

  /** Bracketed form for eager multi-pass consumers: persist if worthwhile,
    * run `body` against the (possibly cached) frame, always release. */
  def withCached[T](df: DataFrame, uses: Int,
      memBudgetBytes: Long = 2L << 30)(body: DataFrame => T): T = {
    val h = cacheIfWorthIt(df, uses, memBudgetBytes)
    try body(h.df) finally h.release()
  }

  /** A frame competing for cache budget in [[selectCacheSet]]: the frame,
    * how many times the consuming scope will read it, and a label for
    * diagnostics/tests. */
  final case class Candidate(df: DataFrame, uses: Int, label: String = "")

  /** [[selectCacheSet]]'s full decision record — handles aligned with the
    * input order plus the evidence behind the knapsack: per-candidate
    * sizes and benefit-seconds (keyed by label, or the candidate index
    * when unlabeled). */
  final case class CacheSelection(handles: Seq[CacheHandle],
      sizes: Map[String, BigInt], benefitSeconds: Map[String, Double])

  /** Set-selection under ONE shared budget — the reference AutoCacheRule's
    * actual shape (it picks a cache SET across the whole pipeline DAG
    * under a single memory budget via a greedy knapsack, not a per-frame
    * accept/decline; SURVEY §4). Benefit of caching a frame =
    * (uses − 1) · ESTIMATED RECOMPUTE SECONDS — the paper's runtime
    * semantics (AutoCacheRule minimizes estimated pipeline time under a
    * memory budget off sampled compute profiles), not a size proxy: an
    * expensive-to-recompute small frame must beat a cheap-to-rescan
    * giant one. Weight = size; candidates are taken in (benefit/size
    * density desc, benefit desc) order while they still fit the
    * remaining budget — a frame that does not fit is skipped rather
    * than blocking smaller frames behind it.
    *
    * The recompute-seconds estimate rides the sizing machinery for
    * free: a frame whose Catalyst stats are trustworthy is (by
    * construction — parquet footers propagated through narrow ops) a
    * scan-shaped recompute, priced at size / a scan-bandwidth constant;
    * a stat-less frame already pays the one-pass profiling sweep
    * ([[profiledSize]]), whose measured wall time IS its sampled
    * recompute cost.
    *
    * Returns handles ALIGNED WITH THE INPUT ORDER; only selected frames
    * are persisted, and every handle's `release()` is unconditionally
    * safe (no-op for declined frames). */
  def selectCacheSet(candidates: Seq[Candidate],
      memBudgetBytes: Long = 2L << 30,
      profiler: DataFrame => (BigInt, Double) = estimatedSizeAndCost)
      : Seq[CacheHandle] =
    selectCore(candidates, memBudgetBytes, profiler)._1

  /** [[selectCacheSet]] with the full [[CacheSelection]] decision record.
    * `profiler` is injectable (default: [[estimatedSizeAndCost]]) so the
    * knapsack ordering is testable with deterministic (size, seconds)
    * pairs instead of wall-clock sleeps. */
  def selectCacheSetReported(candidates: Seq[Candidate],
      memBudgetBytes: Long = 2L << 30,
      profiler: DataFrame => (BigInt, Double) = estimatedSizeAndCost)
      : CacheSelection = {
    val (handles, profiles) = selectCore(candidates, memBudgetBytes, profiler)
    // collision-proof report keys: labels verbatim while globally unique
    // against every OTHER key (generated or not); unlabeled candidates
    // get "#<index>"; any clash — repeated labels, or a literal label
    // that equals another candidate's generated key — appends "@<index>"
    // until free ("@i" is unique per candidate, so this terminates)
    val keys: Map[Int, String] = {
      val bases = candidates.indices.map { i =>
        if (candidates(i).label.nonEmpty) candidates(i).label else s"#$i"
      }
      val used = scala.collection.mutable.Set.empty[String]
      candidates.indices.map { i =>
        var k = bases(i)
        // a base repeated later would steal this one's verbatim claim —
        // only the FIRST holder of a base keeps it bare
        if (bases.indexOf(k) != i) k = s"$k@$i"
        while (!used.add(k)) k = s"$k@$i"
        i -> k
      }.toMap
    }
    CacheSelection(handles,
      sizes = profiles.map { case (i, (s, _)) => keys(i) -> s },
      benefitSeconds = profiles.map { case (i, (_, sec)) =>
        keys(i) -> (candidates(i).uses - 1).toDouble * sec
      })
  }

  private def selectCore(candidates: Seq[Candidate], memBudgetBytes: Long,
      profiler: DataFrame => (BigInt, Double))
      : (Seq[CacheHandle], Map[Int, (BigInt, Double)]) = {
    // profile ONLY the uses > 1 candidates: the rest are filtered out of
    // the greedy order and can never be selected, and profiling a
    // stat-less frame is a full distributed pass — paid for nothing on a
    // never-cacheable candidate
    val profiles: Map[Int, (BigInt, Double)] = candidates.indices
      .filter(i => candidates(i).uses > 1)
      .map(i => i -> profiler(candidates(i).df)).toMap
    val order = candidates.indices
      .filter(i => candidates(i).uses > 1)
      .sortBy { i =>
        val (size, seconds) = profiles(i)
        val benefit = (candidates(i).uses - 1).toDouble * seconds
        val density = benefit / size.toDouble.max(1.0)
        (-density, -benefit)
      }
    var remaining = BigInt(memBudgetBytes)
    val chosen = scala.collection.mutable.BitSet.empty
    order.foreach { i =>
      if (profiles(i)._1 <= remaining) { chosen += i; remaining -= profiles(i)._1 }
    }
    val handles = candidates.indices.map { i =>
      if (chosen(i))
        CacheHandle(candidates(i).df.persist(StorageLevel.MEMORY_AND_DISK),
          cached = true)
      else CacheHandle(candidates(i).df, cached = false)
    }
    (handles, profiles)
  }

  /** Bracketed form of [[selectCacheSet]]: select under the shared budget,
    * run `body` against the (selectively cached) frames in input order,
    * always release all handles. */
  def withCachedSet[T](candidates: Seq[Candidate],
      memBudgetBytes: Long = 2L << 30)(body: Seq[DataFrame] => T): T = {
    val hs = selectCacheSet(candidates, memBudgetBytes)
    try body(hs.map(_.df)) finally hs.foreach(_.release())
  }

  /** Catalyst's optimized-plan size estimate, or None when it is
    * sentinel-derived and therefore meaningless.
    *
    * An RDD-backed scan (the CIFAR binary loader, any `rdd.toDF`) reports
    * `defaultSizeInBytes` (Long.MaxValue by default); visitors then SCALE
    * that sentinel — a column-narrowing projection multiplies it by the
    * row-width ratio, a join by the other side — so the poisoned value
    * can land anywhere huge, not only at or above the sentinel itself.
    * Both screens are needed: `>= defaultSizeInBytes` catches
    * sentinel-preserving plans even when the conf is tuned low (a common
    * broadcast-join knob), and the absolute [[SaneStatsCeiling]] catches
    * scaled-down sentinel descendants — no honest single-frame estimate
    * reaches a pebibyte. */
  private[graft] def planStats(df: DataFrame): Option[BigInt] = {
    val stats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sentinelDerived =
      stats >= BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes) ||
        stats >= SaneStatsCeiling
    if (sentinelDerived) None else Some(stats)
  }

  private val SaneStatsCeiling = BigInt(1L << 50) // 1 PiB

  /** Estimated size (bytes) — exposed for tests and for pipeline authors
    * deciding block sizes: Catalyst's estimate when trustworthy, else the
    * reference's profiling behavior ([[profiledSize]]). */
  def estimatedSize(df: DataFrame): BigInt =
    planStats(df).getOrElse(profiledSizeAndTime(df)._1)

  /** Modeled re-scan bandwidth for a frame whose recompute is
    * scan-shaped (trustworthy Catalyst stats = parquet + narrow ops):
    * local-disk parquet at ~1 GB/s. Only the RATIO against measured
    * profile seconds matters for the knapsack ordering; a declared
    * constant keeps the selection the same run to run on a loaded box. */
  private[graft] val ScanBwBytesPerSec = 1e9

  /** Does the optimized plan carry compute Catalyst cannot price — a
    * Scala UDF/UDAF or an object-mapping operator (mapPartitions etc.)?
    * Trusted stats on such a plan still describe BYTES honestly, but the
    * scan-priced recompute model does not: an expensive narrow UDF over
    * a parquet scan yields trusted stats AND an arbitrarily costly
    * recompute, the exact inversion the runtime-benefit knapsack exists
    * to fix — so [[estimatedSizeAndCost]] falls through to measured
    * profiling for these plans. */
  private[graft] def hasOpaqueCompute(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.exists {
      case _: ObjectProducer | _: ObjectConsumer => true
      case node => node.expressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.ScalaUDF => true
        case _: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] => true
        case _ => false
      })
    }
  }

  /** (size bytes, estimated recompute seconds) — the knapsack's two
    * inputs off ONE sizing decision: stats-backed frames price a
    * re-scan at [[ScanBwBytesPerSec]]; stat-less frames — AND
    * stats-backed frames carrying opaque compute ([[hasOpaqueCompute]]),
    * whose recompute cost a scan model cannot see — return the measured
    * wall time of the profiling pass (the reference's sampled per-node
    * compute profile), which no bandwidth constant touches. */
  private[graft] def estimatedSizeAndCost(df: DataFrame): (BigInt, Double) =
    planStats(df) match {
      case Some(size) if !hasOpaqueCompute(df) =>
        (size, size.toDouble / ScanBwBytesPerSec)
      case _ => profiledSizeAndTime(df)
    }

  private val SamplePerPartition = 8

  /** Profile a frame's size in ONE distributed pass, persisting nothing:
    * exact row count plus the first few row widths of EVERY partition.
    * Sampling every partition matters — a width-skewed layout (data
    * sorted by document/array length) makes a driver-side `head(100)`
    * sample, which only ever sees the first partition, lie badly in
    * either direction. The width average is computed in Double (no
    * integer truncation) before scaling by the count.
    *
    * Also returns the pass's wall seconds: the pass executes the
    * frame's full plan, so its duration is a direct sample of the
    * recompute cost a cache hit saves. */
  private def profiledSizeAndTime(df: DataFrame): (BigInt, Double) = {
    val t0 = System.nanoTime()
    val size = profiledSize(df)
    (size, (System.nanoTime() - t0) / 1e9)
  }

  private def profiledSize(df: DataFrame): BigInt = {
    val (n, widthSum, widthCnt) = df.rdd
      .mapPartitions { it =>
        var rows = 0L; var ws = 0.0; var wc = 0L
        it.foreach { r =>
          rows += 1L
          if (wc < SamplePerPartition) { ws += rowBytes(r).toDouble; wc += 1L }
        }
        Iterator.single((rows, ws, wc))
      }
      .fold((0L, 0.0, 0L)) { case ((an, aw, ac), (bn, bw, bc)) =>
        (an + bn, aw + bw, ac + bc)
      }
    if (n == 0L || widthCnt == 0L) BigInt(0)
    else BigDecimal(widthSum / widthCnt * n.toDouble).toBigInt
  }

  /** Crude per-row heap footprint — a cost-model input, not an exact
    * accounting. */
  private def rowBytes(r: org.apache.spark.sql.Row): Long =
    16L + r.toSeq.iterator.map {
      case null => 1L
      case _: Boolean | _: Byte => 1L
      case _: Short => 2L
      case _: Int | _: Float => 4L
      case _: Long | _: Double => 8L
      case s: String => 8L + s.length
      case a: Array[Byte] => 8L + a.length
      case xs: scala.collection.Seq[_] => 8L + xs.length * 8L
      case m: scala.collection.Map[_, _] => 8L + m.size * 16L
      case nested: org.apache.spark.sql.Row => rowBytes(nested)
      case d: java.math.BigDecimal => 16L + d.precision()
      case _ => 16L
    }.sum
}
