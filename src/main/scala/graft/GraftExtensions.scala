package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-builder extension point (SURVEY.md §2.E5): registers graft's
  * native Catalyst expressions so any `spark.sql` text can call
  * cosine_sim / dot_f / simhash64 / doc_fingerprint — the same wiring the
  * reference gets by registering scalar UDFs with DataFusion's context
  * (/root/reference/src/core/execution.rs:1).
  *
  * Use: `spark.sql.extensions=graft.GraftExtensions` on the session's
  * builder (`LocalSpark.session` sets it; cluster-wide via
  * spark-defaults) or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.descriptors.foreach(ext.injectFunction)
}
