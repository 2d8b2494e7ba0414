package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.exprs

/** Session-extensions installer: enables the engine's SQL functions via
  * `spark.sql.extensions=graft.GraftExtensions` (the idiomatic cluster
  * deployment path — no imperative call needed). Draws from the SAME
  * registry ([[org.apache.spark.sql.graft.exprs.functionBuilders]]) as the
  * imperative `exprs.register`, so the two surfaces cannot drift.
  *
  * One advisory optimizer rule is injected —
  * [[org.apache.spark.sql.graft.StreamLakePrune]], which carries a streaming query's
  * `WHERE` to the lake micro-batch source for object-level pruning
  * (Spark's own pushdown rule never visits streaming relations). It
  * changes no plan shape; every other operator in this engine is either
  * a Spark built-in plan or a scalar expression (SURVEY.md §4.2).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    exprs.functionBuilders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(exprs.getClass.getName, null, name, usage, ""),
        builder))
    }
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.StreamLakePrune)
    // Injected operator rules run BEFORE V2Writes builds
    // AppendData.write, so on this path ZOrderWriteLayout matches the
    // lake relation's raw options instead of the built LakeWrite (the
    // rule reads both faces — see its scaladoc). GraftExtensionsSpec
    // proves the z-layout lands through this registration, the one
    // Sessions.builder installs.
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.ZOrderWriteLayout)
  }
}
