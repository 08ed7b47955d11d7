package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft._

/** SparkSessionExtensions entry point: registers the engine's native
  * expression tier as SQL functions so the whole pipeline is
  * SQL-expressible, e.g.
  * `SELECT graft_minhash_sketch(graft_shingle_hashes(text, 3)) ...`.
  * Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (see
  * graft.Harness) — the DataFrame API path does not require it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator tier: logical AsOfJoinNode → AsOfJoinExec
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // optimizer-rule tier: declarative |Δt| <= w joins → bucketed form
    ext.injectOptimizerRule(_ => RangeJoinRule)
    Bridge.sqlFunctions.foreach { case (name, build) =>
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(name, name), build))
    }
  }
}
