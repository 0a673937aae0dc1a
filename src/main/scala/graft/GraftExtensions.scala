package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.expressions.{DotProduct, PolyHash}

/** Engine extensions, injected via the public SparkSessionExtensions API:
  * custom expressions registered as SQL-callable functions so they work
  * from both the DataFrame API (call_function) and spark.sql, and the
  * optimizer rule that prunes a snapshot key lookup to its bucket
  * ([[graft.operators.BucketPruning]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      DotProduct.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_polyhash"),
      PolyHash.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PolyHash(children(0), children(1), children(2))))
    ext.injectOptimizerRule(_ => graft.operators.BucketPruning)
  }
}
