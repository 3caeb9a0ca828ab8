package graft.ml

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
  NamedExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.types.StructType

import graft.ml.workflow.Transformer

/** Compiled single-datum serving (ref: workflow/Transformer.apply(in: A)
  * — the reference serves one datum through the fitted function at
  * sub-millisecond cost), and graft's only per-datum path. Analyzing a
  * chain per call costs ~200 ms on a wide featurize chain; this binds
  * the chain to a fixed input schema ONCE and compiles it to a single
  * codegen'd [[UnsafeProjection]], so each datum costs only the
  * projection evaluation and launches zero Spark jobs — the reference's
  * per-datum envelope, built from Catalyst's own pieces rather than a
  * second interpreter:
  *
  *  1. analyze the chain against an EMPTY LocalRelation of the schema
  *     (full resolution, function registry, timezone binding — the same
  *     analyzer the distributed path uses);
  *  2. fold the resulting pure-Project chain into one expression list
  *     over the leaf (the CollapseProject substitution, applied
  *     manually because running the real optimizer on a LocalRelation
  *     would bake the — empty — data into the plan and discard the
  *     program);
  *  3. compile with `UnsafeProjection.create` (whole-expression Janino
  *     codegen, automatic interpreted fallback) and wrap with the row
  *     encoders for external Row ↔ InternalRow conversion.
  *
  * Chains that are not pure column programs (an RDD seam, an aggregate,
  * a join) fail at `compile` time with the offending node named; such a
  * chain serves a datum only as a distributed frame, `t(oneRowFrame)`. A
  * `Cacher`/persist stage compiles fine: persistence is an execution
  * hint invisible to the analyzed logical program, and per-datum serving
  * correctly ignores it. */
final class LocalServer private[ml] (
    serveOne: Row => Row, val outputSchema: StructType) {
  def apply(row: Row): Row = serveOne(row)
  def apply(rows: Seq[Row]): Seq[Row] = rows.map(serveOne)
}

object LocalServer {

  def compile(t: Transformer, spark: SparkSession,
      schema: StructType): LocalServer = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    val out = t(empty)
    val analyzed = out.queryExecution.analyzed

    def fold(plan: LogicalPlan): (Seq[NamedExpression], LocalRelation) =
      plan match {
        case lr: LocalRelation => (lr.output, lr)
        case Project(list, child) =>
          val (childExprs, leaf) = fold(child)
          val byId = AttributeMap(child.output.zip(childExprs))
          val substituted = list.map { ne =>
            ne.transformUp {
              case a: Attribute => byId.getOrElse(a, a)
            }.asInstanceOf[NamedExpression]
          }
          (substituted, leaf)
        case other => throw new IllegalArgumentException(
          "LocalServer: the chain is not a pure column program — " +
            s"${other.nodeName} defeats compiled local serving (apply " +
            "the chain to a one-row DataFrame to serve it distributed)")
      }

    val (exprs, leaf) = fold(analyzed)
    val projection = UnsafeProjection.create(exprs, leaf.output)
    // initialize the PROJECTION, not the source expression tree: codegen
    // compiles stateful expressions into its own state fields that only
    // the projection's initialize seeds (a chain containing rand() would
    // otherwise compile and then NPE on the first serve); the call also
    // covers the interpreted fallback path
    projection.initialize(0)
    val toInternal = ExpressionEncoder(RowEncoder.encoderFor(schema))
      .createSerializer()
    val fromInternal = ExpressionEncoder(RowEncoder.encoderFor(out.schema))
      .resolveAndBind().createDeserializer()
    new LocalServer(
      row => fromInternal(projection(toInternal(row)).copy()), out.schema)
  }
}
