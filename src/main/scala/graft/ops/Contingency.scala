package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two-way contingency grid behind the count statistics (mutual
  * information, Cramér's V, source KL, Jensen–Shannon): ONE kernel
  * groups a two-column (row key, column key) frame into (row, col,
  * count) cells and dispatches them through [[Dist.sizeDispatch]], so
  * each statistic keeps only its per-cell formula and output
  * projection.
  *
  * The grid is category-bounded by construction (|row keys| ×
  * |column keys|), the seam's eligibility contract — a vocabulary-sized
  * grid (q_lang_pmi) is not. Both arms see the same marginals: the
  * driver arm as local maps replayed in Spark's exact operation order
  * (long marginal adds; callers mirror ANSI long products with
  * `Math.multiplyExact` and Spark's round with [[Dist.rnd0]] /
  * [[Dist.rnd6]]), the distributed arm as broadcast-sized relations.
  * Still one pass over the input: the dispatch checkpoint is the grid
  * materialization. */
object Contingency {

  /** Cell ceiling for the driver arm: 2M (row, col, count) cells, never
    * corpus-sized; past it the same statistic grades out to the
    * distributed arm. */
  private val DriverMaxCells = 2000000L

  /** What the driver arm walks: the collected cells (in partition
    * order), the row and column marginals in first-appearance order,
    * the total and a cell lookup that reads 0 for absent cells. */
  final class Local[R, C](val cells: Array[(R, C, Long)]) {
    val rows: scala.collection.mutable.LinkedHashMap[R, Long] =
      scala.collection.mutable.LinkedHashMap.empty
    val cols: scala.collection.mutable.LinkedHashMap[C, Long] =
      scala.collection.mutable.LinkedHashMap.empty
    val total: Long = cells.foldLeft(0L) { case (t, (r, c, n)) =>
      rows(r) = rows.getOrElse(r, 0L) + n
      cols(c) = cols.getOrElse(c, 0L) + n
      t + n
    }
    private lazy val present: Map[(R, C), Long] =
      cells.iterator.map(t => (t._1, t._2) -> t._3).toMap
    def apply(r: R, c: C): Long = present.getOrElse((r, c), 0L)
  }

  /** What the distributed arm joins, built off the checkpointed cells:
    * the row and column marginals (named `rowTotal` / `colTotal`), the
    * one-row total `ct`, the cells joined to their marginals and the
    * total, and the dense grid with absent cells filled as 0. Each
    * relation is built on first use. */
  final class Distributed(cells: DataFrame, rowKey: String, colKey: String,
      cell: String, rowTotal: String, colTotal: String) {
    lazy val rows: DataFrame =
      cells.groupBy(col(rowKey)).agg(sum(col(cell)).as(rowTotal))
    lazy val cols: DataFrame =
      cells.groupBy(col(colKey)).agg(sum(col(cell)).as(colTotal))
    // coalesce: an empty table reads as 0 (count semantics), not NULL
    lazy val total: DataFrame =
      cells.agg(coalesce(sum(col(cell)), lit(0L)).as("ct"))
    lazy val joined: DataFrame = cells
      .join(broadcast(rows), rowKey)
      .join(broadcast(cols), colKey)
      .crossJoin(broadcast(total))
    lazy val dense: DataFrame = rows.crossJoin(broadcast(cols))
      .join(cells, Seq(rowKey, colKey), "left")
      .na.fill(0L, Seq(cell))
      .crossJoin(broadcast(total))
  }

  /** Group `pairs` (exactly two columns: row key, column key) into cells
    * counted as `cell` and run `driverArm` or `distArm` on them.
    *
    * The ceiling bounds the driver arm's real work. An arm that walks
    * only the present cells dispatches on their count; `dense = true`
    * dispatches on the dense grid, read as distinct row keys × distinct
    * column keys off the checkpointed cells (one more small job), for
    * an arm that walks every (row, col) pair: a sparse diagonal table of
    * n cells is an n² walk, which the present-cell count would let
    * through. */
  def dispatch[R, C](pairs: DataFrame, cell: String, rowTotal: String,
      colTotal: String, dense: Boolean = false)(
      driverArm: Local[R, C] => DataFrame)(
      distArm: Distributed => DataFrame): DataFrame = {
    val Array(rowKey, colKey) = pairs.columns
    val cells0 = pairs.groupBy(col(rowKey), col(colKey))
      .agg(count(lit(1)).as(cell))
    val denseSize = (cells: DataFrame, _: Long) => {
      val rc = cells.agg(countDistinct(col(rowKey)), countDistinct(col(colKey)))
        .head()
      rc.getLong(0) * rc.getLong(1)
    }
    Dist.sizeDispatch(cells0, DriverMaxCells,
        if (dense) denseSize else (_, n) => n) { (cells, _) =>
      driverArm(new Local(cells.collect().map(r =>
        (r.get(0).asInstanceOf[R], r.get(1).asInstanceOf[C], r.getLong(2)))))
    } { (cells, _) =>
      distArm(new Distributed(cells, rowKey, colKey, cell, rowTotal, colTotal))
    }
  }
}
