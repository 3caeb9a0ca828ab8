package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Distributed exact prefix aggregates — the scale-safe replacement for
  * unpartitioned running-sum/rank windows. `Window.orderBy` with no
  * partitionBy funnels its whole input through ONE task; that's
  * acceptable only while the relation is provably domain-bounded, and
  * every such use needs that boundedness argument re-made whenever the
  * data model changes. This helper costs the same two passes but never
  * materializes a single-partition stage, so nothing has to argue
  * boundedness at all.
  *
  * Shape: one range-partitioned sort whose shuffle output BOTH passes
  * reuse (they hang off the same RDD lineage, so the DAGScheduler skips
  * the recomputation); pass 1 collects one subtotal array per partition
  * (driver state = numPartitions × (k+1) longs — bounded); pass 2
  * streams each sorted partition with its scanLeft offset. Used by
  * q_eval_auc, q_ks_test, q_mann_whitney, q_cusum_changepoint,
  * q_vocab_growth, q_length_drift, q_hybrid_rrf. */
object Dist {

  /** Kill switch for the driver arms: set SPARK_GRAFT_FORCE_DISTRIBUTED=1
    * (or the `graft.force.distributed` system property, the in-process
    * spelling tests use) and every [[sizeDispatch]] routes distributed
    * regardless of size — the operational escape hatch if a driver arm
    * ever misbehaves on a real deployment (the distributed arms are the
    * 100 TB path and are correct at every size; the driver arms only
    * save scheduling overhead under the ceilings). Read per dispatch, so
    * the property flips without a JVM restart. */
  private def forceDistributed: Boolean =
    sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED")
      .orElse(sys.props.get("graft.force.distributed"))
      .exists(_ == "1")

  /** Spark's `round(double)` then `cast("long")`, replicated exactly for
    * driver arms (BigDecimal HALF_UP at scale 0 — the winsorize idiom);
    * and `round(x, 6)` at scale 6. Every driver-arm replay that mirrors a
    * distributed `round` must route through these. */
  private[graft] def rnd0(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
  private[graft] def rnd6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** The shared size-dispatch seam (the discipline six round-17 driver
    * arms repeated by convention: checkpoint → count → ceiling test →
    * collect+local-core | distributed arm). Eagerly `localCheckpoint`s
    * the dispatch relation — its (possibly expensive) producer
    * materializes exactly once and the count below becomes a cheap local
    * job that drives ONLY the dispatch — then runs `driverArm` iff
    * 0 < measure(checkpoint, count) <= ceiling, else `distArm`. Both arms
    * receive the CHECKPOINTED relation and its row count.
    *
    * Contract: `ceiling` bounds a relation that is
    * CARDINALITY-BOUNDED BY CONSTRUCTION (value-count grids, calendar
    * pairs, thresholded edge sets) — never corpus-sized — so the
    * driver arm's collect is a bounded model-state pull, not a corpus
    * collect. A driver arm may also broadcast the bounded relation
    * instead of collecting it (the triangle closure's does): the ceiling
    * then bounds what ships to every executor. `measure` maps the row count into ceiling space when the
    * driver arm's footprint is super-linear in rows (Theil–Sen tests
    * pairs = n(n−1)/2), or reads the driver arm's real work off the
    * checkpoint when the row count does not bound it (Cramér's V walks
    * the DENSE distinct-rows × distinct-columns grid, so a sparse
    * diagonal table of n cells costs n², not n). Each site reads its
    * own ceiling constant; tests FORCE the distributed arm through the
    * kill switch above (the test suites' `forcedDistributed` helper), the
    * one seam the arms-agree tests and the plan guards drive their
    * invariants through; `distArm` must therefore be correct at EVERY
    * size, with `driverArm` a pure scheduling-overhead optimization under
    * the ceiling. Empty relations (n = 0) always route distributed:
    * several driver cores index into the collected array. */
  def sizeDispatch(rel: DataFrame, ceiling: Long,
      measure: (DataFrame, Long) => Long = (_, n) => n)(
      driverArm: (DataFrame, Long) => DataFrame)(
      distArm: (DataFrame, Long) => DataFrame): DataFrame = {
    val d = rel.localCheckpoint(true)
    val n = d.count()
    val m = measure(d, n)
    if (!forceDistributed && m > 0 && m <= ceiling) driverArm(d, n)
    else distArm(d, n)
  }

  /** Append to each row of `df`, in `sort` order (must be a total
    * order): for every `(valueCol, outCol)` in `sums`, the EXCLUSIVE
    * prefix sum of valueCol (over rows strictly before this one — add
    * the row's own value for the inclusive form), and, when `indexCol`
    * is set, the 1-based row index. Value columns must be non-null
    * integral types. */
  def withPrefix(df: DataFrame, sort: Seq[Column],
      sums: Seq[(String, String)],
      indexCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(sort: _*)
    val idxs = sums.map { case (v, _) => sorted.schema.fieldIndex(v) }.toArray
    val rdd = sorted.rdd
    val k = idxs.length
    val partTotals = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val acc = new Array[Long](k + 1)
      it.foreach { r =>
        var j = 0
        while (j < k) { acc(j) += r.getAs[Number](idxs(j)).longValue; j += 1 }
        acc(k) += 1L
      }
      Iterator.single((pi, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(new Array[Long](k + 1)) { (a, b) =>
      Array.tabulate(k + 1)(j => a(j) + b(j))
    }
    val bcOff = spark.sparkContext.broadcast(offsets)
    val withIdx = indexCol.isDefined
    val out = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val run = bcOff.value(pi).clone()
      it.map { r =>
        val extra = new Array[Any](k + (if (withIdx) 1 else 0))
        var j = 0
        while (j < k) {
          extra(j) = run(j)
          run(j) += r.getAs[Number](idxs(j)).longValue
          j += 1
        }
        if (withIdx) extra(k) = run(k) + 1L
        run(k) += 1L
        Row.fromSeq(r.toSeq ++ extra)
      }
    }
    var schema = sorted.schema
    sums.foreach { case (_, o) => schema = schema.add(o, LongType, nullable = false) }
    indexCol.foreach(o => schema = schema.add(o, LongType, nullable = false))
    spark.createDataFrame(out, schema)
  }

  /** Like [[withPrefix]] but a running MINIMUM: appends, per
    * `(valueCol, outCol)`, the EXCLUSIVE prefix min of valueCol in
    * `sort` order — null when no row precedes (mirroring a
    * `min().over(rowsBetween(unboundedPreceding, -1))` frame). Same
    * two-pass shuffle-reusing shape as [[withPrefix]]. */
  def withPrefixMin(df: DataFrame, sort: Seq[Column],
      mins: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(sort: _*)
    val idxs = mins.map { case (v, _) => sorted.schema.fieldIndex(v) }.toArray
    val rdd = sorted.rdd
    val k = idxs.length
    def merge(a: Array[java.lang.Long], b: Array[java.lang.Long]) =
      Array.tabulate[java.lang.Long](k) { j =>
        (Option(a(j)), Option(b(j))) match {
          case (Some(x), Some(y)) => math.min(x, y)
          case (x, y)             => x.orElse(y).orNull
        }
      }
    val partMins = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val acc = Array.fill[java.lang.Long](k)(null)
      it.foreach { r =>
        var j = 0
        while (j < k) {
          val v = r.getAs[Number](idxs(j)).longValue
          if (acc(j) == null || v < acc(j)) acc(j) = v
          j += 1
        }
      }
      Iterator.single((pi, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partMins.scanLeft(Array.fill[java.lang.Long](k)(null))(merge)
    val bcOff = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val run = bcOff.value(pi).clone()
      it.map { r =>
        val extra = new Array[Any](k)
        var j = 0
        while (j < k) {
          extra(j) = run(j)
          val v = r.getAs[Number](idxs(j)).longValue
          if (run(j) == null || v < run(j)) run(j) = v
          j += 1
        }
        Row.fromSeq(r.toSeq ++ extra)
      }
    }
    var schema = sorted.schema
    mins.foreach { case (_, o) => schema = schema.add(o, LongType, nullable = true) }
    spark.createDataFrame(out, schema)
  }
}
