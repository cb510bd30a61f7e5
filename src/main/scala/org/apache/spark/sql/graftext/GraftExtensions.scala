package org.apache.spark.sql.graftext

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of the graft custom expressions as SQL functions, both
  * paths Spark supports:
  *
  *  - `spark.sql.extensions=org.apache.spark.sql.graftext.GraftExtensions`
  *    at session build (the standard extension-library wiring), or
  *  - `GraftFunctions.register(spark)` on a live session (used by tests and
  *    by hosts that cannot control session construction).
  *
  * After either, `quantized_dot(a, b)` and `float_dot(a, b)` resolve in
  * SQL text exactly like built-ins — including inside views and
  * spark.sql-based pipelines.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    // Row-level SQL DML (DELETE / UPDATE / MERGE INTO) over graft tables —
    // the post-hoc resolution hook, same wiring the lakehouse formats use.
    ext.injectPostHocResolutionRule(session => new GraftDmlRule(session))
    // Reads of graft snapshot tables (SQL, format("graft")) plan through
    // SnapshotStore.readAt — after the DML rule, which keeps its target.
    ext.injectPostHocResolutionRule(session => new GraftReadRule(session))
    // Maintenance statements (OPTIMIZE / VACUUM) — a delegating parser
    // that recognizes exactly those two shapes (GraftSqlParser).
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

object GraftFunctions {
  type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def info(name: String, usage: String) =
    // the non-deprecated builder-style ctor: (class, db, name, usage,
    // arguments, examples, note, group, since, deprecated, source)
    new ExpressionInfo(classOf[QuantizedDot].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  val descriptors: Seq[Descriptor] = Seq(
    (FunctionIdentifier("quantized_dot"),
      info("quantized_dot", "quantized_dot(a, b) - codegen'd dot product of two bigint arrays"),
      (args: Seq[Expression]) => QuantizedDot(args(0), args(1))),
    (FunctionIdentifier("float_dot"),
      info("float_dot", "float_dot(a, b) - codegen'd dot product of two float arrays in double"),
      (args: Seq[Expression]) => FloatDot(args(0), args(1))))

  /** Idempotent registration into a live session's function registry. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (ident, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, inf, builder)
    }
}
