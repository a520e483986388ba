package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSim, LshBucket, NfcNormalize, RollingHash, VectorKernels}

/** SparkSessionExtensions entry point: builds a session with the engine's
  * custom pieces pre-registered —
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * }}}
  * Registers the custom codegen SQL functions: `rolling_hash`,
  * `cosine_sim`, `lsh_bucket`, `nfc_normalize`. Not listed here:
  * `MatView.Rewrite`, the one rule that routes queries to materialized
  * join and aggregate views (dialect, DataFrame and SQL queries alike). It
  * reads the per-session view registry, and `MatView` installs it through
  * experimental.extraOptimizations when the session registers its first
  * view, so a session without views never runs it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => VectorKernels.sqlCosineSim(exprs)))
    e.injectFunction((
      new FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "lsh_bucket"),
      (exprs: Seq[Expression]) => VectorKernels.sqlLshBucket(exprs)))
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize.sqlExpr(exprs)))
  }
}
