package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache is JVM-wide and sized once, at the first
  * codegen; graft sizes it to [[GraftSession.CodegenCacheEntries]] so a
  * repeated query reuses its compiled classes instead of recompiling
  * them. At Spark's default of 100 entries (4 segments of 25) the
  * second pass below recompiles most of the first pass's classes. */
class CodegenCacheSpec extends SparkSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("repeated single-stage queries hit the codegen cache: the second of two passes compiles nothing") {
    // each k inlines a different substring position into the stage's
    // source (graft.plans.HoistLiterals leaves it there: substring needs
    // it foldable), so each query is a distinct generated class; one
    // task each keeps it cheap
    val ks = 1 to 150
    def pass(): Unit = ks.foreach { k =>
      val got = spark.range(0, 8, 1, 1)
        .selectExpr(s"substring(cast(id * 100 AS string), $k) AS v")
        .collect().map(_.getString(0)).toSeq
      assert(got == (0L until 8L).map(i => (i * 100).toString.drop(k - 1)))
    }
    val c0 = compiles
    pass()
    val c1 = compiles
    assert(c1 - c0 > ks.size / 2, s"first pass compiled ${c1 - c0} classes")
    pass()
    assert(compiles == c1,
      s"second pass recompiled ${compiles - c1} of the first pass's ${c1 - c0} classes")
  }

  test("the session carries graft's cache size; an explicit setting of the key wins") {
    assert(spark.sparkContext.getConf.get(GraftSession.CodegenCacheKey) ==
      GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.codegenCacheEntries(new SparkConf(false)) ==
      GraftSession.CodegenCacheEntries)
    assert(GraftSession.codegenCacheEntries(
      new SparkConf(false).set(GraftSession.CodegenCacheKey, "42")) == 42)
  }
}
