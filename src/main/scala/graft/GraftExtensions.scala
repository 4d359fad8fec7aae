package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point:
  * `--conf spark.sql.extensions=graft.GraftExtensions` injects the engine's
  * native functions, the matview-rewrite and [[plans.LocalSort]] optimizer
  * rules and the [[plans.SingleTaskSort]] AQE runtime rule into every
  * session built on the cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.descriptions.foreach(e.injectFunction)
    // aggregate navigation: rewrite covered aggregates onto registered
    // materialized views (no-op until a view is registered)
    e.injectOptimizerRule(_ => plans.MatviewRewrite)
    // small global sorts run as one local sort (no range sampling/shuffle)
    e.injectRuntimeOptimizerRule(plans.SingleTaskSort)
    // global sorts over driver-local rows sort on the driver (no job)
    e.injectOptimizerRule(plans.LocalSort)
    // syntax extension: the DEDUP statement, desugar-and-delegate — every
    // other statement parses through the stock parser verbatim
    e.injectParser((_, delegate) => new plans.GraftSqlParser(delegate))
  }
}
