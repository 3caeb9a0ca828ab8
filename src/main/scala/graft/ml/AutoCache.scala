package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
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

  /** Bracketed one-candidate form of [[withCachedSet]] for eager
    * multi-pass consumers: cache `df` iff it will be consumed `uses` times
    * and its estimated size fits `memBudgetBytes`, run `body` against the
    * (possibly cached) frame, always release. Lazily returned query frames
    * must NOT persist at all and should rely on exchange reuse instead,
    * which is why the declared dedup query does not call this. */
  def withCached[T](df: DataFrame, uses: Int,
      memBudgetBytes: Long = 2L << 30)(body: DataFrame => T): T =
    withCachedSet(Seq(Candidate(df, uses)), memBudgetBytes)(cached => body(cached.head))

  /** A frame competing for cache budget in [[selectCacheSet]]: the frame
    * and how many times the consuming scope will read it. */
  final case class Candidate(df: DataFrame, uses: Int)

  /** [[selectCacheSet]]'s decision: handles plus the evidence behind the
    * knapsack, all indexed like the input candidates. A candidate with
    * uses <= 1 is never profiled, so its size and benefit are None; a
    * lone multi-use candidate over opaque compute has a size but no
    * benefit (its recompute cost would take a pass of its own). */
  final case class CacheSelection(handles: Seq[CacheHandle],
      sizes: Seq[Option[BigInt]], benefitSeconds: Seq[Option[Double]])

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
    * recompute cost. Profiling persists nothing: a frame is written to
    * storage only after it is selected, so learning that a frame does not
    * fit never costs a spill.
    *
    * Recompute cost only orders two or more competing candidates. A LONE
    * multi-use candidate (the [[withCached]] form) is decided by size
    * alone, off [[sizeAndKnownCost]]: plan stats, or the one profiling
    * pass when they are sentinel-derived; it is never profiled only to
    * price its recompute.
    *
    * Returns a [[CacheSelection]] ALIGNED WITH THE INPUT ORDER; only
    * selected frames are persisted, and every handle's `release()` is
    * unconditionally safe (no-op for declined frames). `profiler`
    * (default: [[estimatedSizeAndCost]]) gives each competing frame's
    * (size, recompute seconds). */
  def selectCacheSet(candidates: Seq[Candidate],
      memBudgetBytes: Long = 2L << 30,
      profiler: DataFrame => (BigInt, Double) = estimatedSizeAndCost)
      : CacheSelection = {
    // profile ONLY the uses > 1 candidates: the rest are filtered out of
    // the greedy order and can never be selected, and profiling a
    // stat-less frame is a full distributed pass — paid for nothing on a
    // never-cacheable candidate
    val competing = candidates.count(_.uses > 1) > 1
    val profiles = candidates.map { c =>
      if (c.uses <= 1) None
      else if (!competing) Some(sizeAndKnownCost(c.df))
      else Some(profiler(c.df) match { case (size, sec) => (size, Some(sec)) })
    }.toIndexedSeq
    val sizes = profiles.map(_.map(_._1))
    val benefits = candidates.indices.map(i =>
      profiles(i).flatMap(_._2).map((candidates(i).uses - 1).toDouble * _))
    val order = candidates.indices.filter(profiles(_).isDefined).sortBy { i =>
      val benefit = benefits(i).getOrElse(0.0)
      (-benefit / sizes(i).get.toDouble.max(1.0), -benefit)
    }
    var remaining = BigInt(memBudgetBytes)
    val chosen = scala.collection.mutable.BitSet.empty
    order.foreach { i =>
      if (sizes(i).get <= remaining) { chosen += i; remaining -= sizes(i).get }
    }
    val handles = candidates.indices.map { i =>
      if (chosen(i))
        CacheHandle(candidates(i).df.persist(StorageLevel.MEMORY_AND_DISK),
          cached = true)
      else CacheHandle(candidates(i).df, cached = false)
    }
    CacheSelection(handles, sizes, benefits)
  }

  /** Bracketed form of [[selectCacheSet]]: select under the shared budget,
    * run `body` against the (selectively cached) frames in input order,
    * always release all handles. */
  def withCachedSet[T](candidates: Seq[Candidate],
      memBudgetBytes: Long = 2L << 30)(body: Seq[DataFrame] => T): T = {
    val hs = selectCacheSet(candidates, memBudgetBytes).handles
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

  /** (size bytes, recompute seconds when known without a pass of their
    * own): stats-backed frames price a re-scan at [[ScanBwBytesPerSec]],
    * unless they carry opaque compute ([[hasOpaqueCompute]]), whose
    * recompute cost a scan model cannot see (None); stat-less frames pay
    * the profiling pass, whose measured wall time is the cost. */
  private def sizeAndKnownCost(df: DataFrame): (BigInt, Option[Double]) =
    planStats(df) match {
      case Some(size) =>
        (size, Option.when(!hasOpaqueCompute(df))(size.toDouble / ScanBwBytesPerSec))
      case None =>
        val (size, sec) = profiledSizeAndTime(df)
        (size, Some(sec))
    }

  /** (size bytes, estimated recompute seconds) — the knapsack's two
    * inputs off ONE sizing decision: [[sizeAndKnownCost]], with the
    * stats-backed opaque-compute frames profiled too, for the measured
    * wall time of the profiling pass (the reference's sampled per-node
    * compute profile), which no bandwidth constant touches. */
  private[graft] def estimatedSizeAndCost(df: DataFrame): (BigInt, Double) =
    sizeAndKnownCost(df) match {
      case (size, Some(sec)) => (size, sec)
      case _ => profiledSizeAndTime(df)
    }

  private val SamplePerPartition = 8

  /** Profile a frame's size in ONE distributed pass, persisting nothing:
    * exact row count plus the first few row widths of EVERY partition,
    * each the binary `UnsafeRow` size of a row of the plan's own output
    * (no external `Row` is decoded).
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
    val schema = df.schema
    val (n, widthSum, widthCnt) = df.queryExecution.toRdd
      .mapPartitions { it =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        var rows = 0L; var ws = 0.0; var wc = 0L
        it.foreach { r =>
          rows += 1L
          if (wc < SamplePerPartition) {
            val u = r match { case u: UnsafeRow => u; case _ => toUnsafe(r) }
            ws += u.getSizeInBytes.toDouble; wc += 1L
          }
        }
        Iterator.single((rows, ws, wc))
      }
      .fold((0L, 0.0, 0L)) { case ((an, aw, ac), (bn, bw, bc)) =>
        (an + bn, aw + bw, ac + bc)
      }
    if (n == 0L || widthCnt == 0L) BigInt(0)
    else BigDecimal(widthSum / widthCnt * n.toDouble).toBigInt
  }
}
