package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.SQLConf

/** The session configuration every harness main (Bench, Verify, PlanDump,
  * ControlAB) and the test `SparkSuite` run under, so a spec exercises
  * the configuration the bench times and the oracle dump checks. Callers
  * add what only they need (Verify's parquet timestamp type, the suite's
  * task-retry master) on the returned builder. */
object GraftSession {
  /** Spark's static conf sizing the JVM-wide generated-class cache. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Entries of that cache under graft. Spark's default of 100 (a Guava
    * cache in 4 segments of 25) is smaller than the five `llm_curate`
    * queries alone (78 distinct classes), so every repetition of a query
    * recompiled its stages. One pass over the whole registry at sf0.01
    * compiles about 3,900 distinct classes; 8192 holds that with slack
    * for the uneven segment split while staying bounded. The cache key is
    * the class loader and the source, and every session gets its own
    * executor class loader. The query builders therefore make their
    * sessions through `graft.ops.Util.child`, one child per conf set,
    * reused across calls, so a second pass at sf0.01 adds about 70
    * entries: classes whose source changes per call, and the stages of
    * streaming queries, which Spark runs in a fresh clone of their
    * session on every start. */
  val CodegenCacheEntries = 8192

  /** The cache size a context with `conf` gets: an explicit setting of
    * the key wins over [[CodegenCacheEntries]]. */
  def codegenCacheEntries(conf: SparkConf): Int =
    conf.getInt(CodegenCacheKey, CodegenCacheEntries)

  private val codegenCacheSized = new AtomicBoolean(false)

  /** Builds Spark's generated-class cache at [[codegenCacheEntries]] of
    * `conf`. Spark reads the size once per JVM, from `SQLConf.get` in
    * `CodeGenerator`'s static initializer, so this initializes
    * `CodeGenerator` under a conf that holds the size. Runs once per
    * JVM, and is a no-op if an earlier session already initialized
    * `CodeGenerator` (its first codegen fixed the size). */
  def sizeCodegenCache(conf: SparkConf): Unit =
    if (codegenCacheSized.compareAndSet(false, true)) {
      val sized = new SQLConf
      sized.setConfString(CodegenCacheKey, codegenCacheEntries(conf).toString)
      SQLConf.withExistingConf(sized)(CodeGenerator.compileTime)
    }

  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // Kryo for RDD shuffles (round 19): DataFrame exchanges use
      // UnsafeRow and are unaffected, but the graph/CC fixpoint family
      // shuffles Scala tuples through spark.serializer every superstep —
      // Java serialization there measured ~8% of pagerank's superstep
      // time and ~0.3 s on q_dedup_connected's delta iteration. Scale-
      // independent (standard production setting), value-neutral.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      // the status stores retain per-job/stage/execution state (incl.
      // full plan graphs) even with the UI off — across a 290-query run
      // that is hundreds of MB of old-gen churn that shows up as 2-3x
      // slowdowns on late queries vs the same query isolated. Keep just
      // enough for post-mortem of the last few queries.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "0")
      // a static conf: the first session's context fixes it for the JVM
      .config(CodegenCacheKey, CodegenCacheEntries.toLong)
      // the harness runs under the same physical rules GraftExtensions
      // installs, so specs and the oracle dump check what users run
      .withExtensions(graft.plans.PhysicalRules.install)
}
