package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions

/** Registration of graft's native Catalyst expressions.
  *
  * [[Registry.functions]] is the one list. [[GraftExtensions]] injects
  * it whenever a session state is built, and `graft.Engine.builder`
  * installs it, so every engine session, each of its `newSession()`s
  * and each Thrift JDBC connection resolves the `graft_*` functions.
  * A session built elsewhere opts in with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (which also
  * covers its new sessions) or with one [[Registry.ensure]] call.
  */
object Registry {

  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dotq", "graft.functions.LongDotProduct",
      exprs => LongDotProduct(exprs(0), exprs(1))),
    ("graft_count_in", "graft.functions.CountInSet",
      exprs => CountInSet.fromExprs(exprs)),
    ("graft_lang_best", "graft.functions.LangBest",
      exprs => LangBest.fromExprs(exprs)),
    ("graft_regexp_groups", "graft.functions.RegexpGroups",
      exprs => RegexpGroups.fromExprs(exprs)),
    ("graft_pii_scan", "graft.functions.PiiScan",
      exprs => PiiScan.fromExprs(exprs)),
    ("graft_nfc", "graft.functions.NfcNormalize",
      exprs => NfcNormalize.fromExprs(exprs)),
    ("graft_sqd2", "graft.functions.VecSqDist",
      exprs => VecSqDist.fromExprs(exprs)),
    ("graft_nearest_code", "graft.functions.NearestCode",
      exprs => NearestCode.fromExprs(exprs)),
    ("graft_quantize", "graft.functions.QuantizeVec",
      exprs => QuantizeVec.fromExprs(exprs)),
    ("graft_vec_sub", "graft.functions.VecSubtract",
      exprs => VecSubtract.fromExprs(exprs)),
    ("graft_rolling_fp", "graft.functions.RollingFingerprints",
      exprs => RollingFingerprints.fromExprs(exprs)))

  /** Register the functions in a live session built without
    * [[GraftExtensions]]; only that session, not its `newSession()`s.
    * Skips names already present, so a repeated call is silent (a
    * re-registration logs a "function replaced" warning).
    */
  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** Injects [[Registry.functions]] into every session state built
  * from a session that carries it (`withExtensions` or
  * `spark.sql.extensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Registry.functions.foreach { case (name, className, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        builder))
    }
}
