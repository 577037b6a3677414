package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-builder extension point (SURVEY.md §2.E5): registers graft's
  * native Catalyst expressions so any `spark.sql` text can call
  * cosine_sim / dot_f / simhash64 / doc_fingerprint — the same wiring the
  * reference gets by registering scalar UDFs with DataFusion's context
  * (/root/reference/src/core/execution.rs:1).
  *
  * It also installs `ReferenceFilterLiterals`, the physical rule that
  * keeps filter constants out of generated code, so statements that
  * differ only in a constant share one compiled class.
  *
  * Use: `spark.sql.extensions=graft.GraftExtensions` on the session's
  * builder (`LocalSpark.session` sets it; cluster-wide via
  * spark-defaults) or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.descriptors.foreach(ext.injectFunction)
    // the columnar slot runs on every finished physical plan and
    // adaptive stage; the stage-preparation slot also rewrites the
    // adaptive plan's initial form, so its nodes stay the ones the final
    // plan shows (EXPLAIN numbers the two plans' operators by identity)
    ext.injectColumnar(_ => org.apache.spark.sql.graft.ReferenceFilterLiteralsRule)
    ext.injectQueryStagePrepRule(_ => org.apache.spark.sql.graft.ReferenceFilterLiterals)
  }
}
