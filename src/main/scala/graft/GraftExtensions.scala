package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Everything graft adds to Spark, in one list: the engine's native SQL
  * functions, its optimizer rules, its planner strategy and its SQL parser
  * extension. [[GraftSession.builder]] applies it, and so can a cluster
  * with `--conf spark.sql.extensions=graft.GraftExtensions`. Extensions
  * bind when a session is constructed, so every session of the context
  * carries them from its first query: `spark.newSession()`, the cloned
  * session of each streaming run, and the session the builder returns. No
  * gate registers anything at run time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.descriptions.foreach(e.injectFunction)
    // aggregate navigation: rewrite covered aggregates onto registered
    // materialized views (no-op until a view is registered); pre-CBO runs
    // once, after operator optimization has pruned columns
    e.injectPreCBORule(_ => plans.MatviewRewrite)
    // small global sorts run as one local sort (no range sampling/shuffle)
    e.injectRuntimeOptimizerRule(plans.SingleTaskSort)
    // global sorts over driver-local rows sort on the driver (no job)
    e.injectOptimizerRule(plans.LocalSort)
    // the native as-of merge join behind plans.AsOfJoin
    e.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    // syntax extension: the DEDUP statement, desugar-and-delegate — every
    // other statement parses through the stock parser verbatim
    e.injectParser((_, delegate) => new plans.GraftSqlParser(delegate))
  }
}
