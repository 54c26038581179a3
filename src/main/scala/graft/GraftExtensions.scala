package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProduct
import graft.ops.{NormDiff, NormDiffCodegen, ShingleGenerator}
import graft.plans.{AsOfJoinStrategy, PhysicalRules, RewritePowAsMultiply, RewriteWindowTopK, TopKPerGroupStrategy}

/** The library's one-line installation point (SparkSessionExtensions — the
  * public extension hook):
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Installs, session-scoped (no global registry mutation, safe under
  * concurrent sessions sharing one SparkContext):
  *  - SQL functions: `dot_product` (codegen'd embedding inner loop),
  *    `norm_diff` / `norm_diff_cg` (band-math expression in its
  *    RuntimeReplaceable and hand-codegen forms), `shingles` (native
  *    word-n-gram Generator, planned through GenerateExec like explode)
  *  - the as-of join planner strategy (AsOfJoinPlan → AsOfJoinExec)
  *  - the pow(x,2) → x*x optimizer rewrite
  *  - [[graft.plans.HoistLiterals]], which reads the primitive literals of
  *    filters and projections from the generated class instead of its
  *    source, so a query shape compiles once for all its parameters
  *  - [[graft.plans.DriverRead]], which reads a single-split store scan
  *    on the driver when it is `collect()`ed, so the read runs no job
  *
  * It also sizes the JVM's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`) to
  * [[GraftSession.CodegenCacheEntries]] unless the context's conf sets
  * the key; the user's value wins. Spark builds that cache once per JVM,
  * at the first codegen, so this takes effect only if this session is
  * the first to reach codegen: if an earlier session already
  * initialized `CodeGenerator`, it is a no-op and the earlier size stays.
  *
  * The per-query registrations inside graft.ops queries exist so each
  * query stays self-contained for the Verify/Bench driver harness; a user
  * installing this class needs none of them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, clazz: Class[_],
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    fn("dot_product", classOf[DotProduct], es => DotProduct(es(0), es(1)))
    fn("norm_diff", classOf[NormDiff], es => NormDiff(es(0), es(1)))
    fn("norm_diff_cg", classOf[NormDiffCodegen],
      es => NormDiffCodegen(es(0), es(1)))
    fn("shingles", classOf[ShingleGenerator], es => {
      require(es.length == 2,
        s"shingles(text, n) takes exactly 2 arguments, got ${es.length}")
      require(es(1).foldable,
        "shingles(text, n): n must be a literal (foldable) integer")
      ShingleGenerator(es(0), es(1).eval(null) match {
        case n: Number => n.intValue
        case other => throw new IllegalArgumentException(
          s"shingles(text, n): n must be an integer literal, got $other")
      })
    })
    // the parser is built with the session's state, before any query of
    // the session is parsed or run, so before its first codegen
    ext.injectParser { (session, parser) =>
      GraftSession.sizeCodegenCache(session.sparkContext.getConf)
      parser
    }
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    // V2 views over GraftCatalog: must run in the HINTS batch — the only
    // injection point that precedes ResolveSessionCatalog's
    // MISSING_CATALOG_ABILITY.VIEWS refusal for non-session catalogs
    ext.injectHintResolutionRule(s => graft.plans.GraftViewRules(s))
    // `table_changes('cat.t', from[, to])` — the change feed's pure-SQL
    // door; same batch as views (it splices a relation pre-resolution)
    ext.injectHintResolutionRule(s => graft.plans.GraftTableChangesRule(s))
    ext.injectOptimizerRule(_ => RewritePowAsMultiply)
    // runs inside the operator-optimization fixpoint: once it fires the
    // Window is gone, so the pattern can't re-match and the batch stays
    // convergent
    ext.injectOptimizerRule(_ => RewriteWindowTopK)
    PhysicalRules.install(ext)
  }
}
