package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.ops.Util

/** Query builders run their catalogs, confs and rules in children of the
  * caller's session made by [[graft.ops.Util.child]]: one child per conf
  * set, reused by every later call, so a repeated query reuses its
  * executor class loader, and with it its compiled classes. */
class ChildSessionSpec extends SparkSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("one child per conf set: equal sets share it, different sets do not") {
    val confs = Map("spark.sql.shuffle.partitions" -> "3")
    val a = Util.child(spark, confs = confs)
    assert(a ne spark)
    assert(Util.child(spark, confs = Map("spark.sql.shuffle.partitions" -> "3")) eq a)
    assert(a.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "3",
      "the parent's conf must stay untouched")
    assert(Util.child(spark, confs = Map("spark.sql.shuffle.partitions" -> "5")) ne a)

    // a catalog's root is made with the child and fixed for its life
    val c = Util.child(spark, Map("gchild" -> "graft_child_"))
    val root = Util.catalogRoot(c, "gchild")
    assert(new java.io.File(root).getName.startsWith("graft_child_"))
    assert(Util.child(spark, Map("gchild" -> "graft_child_")) eq c)
    assert(Util.catalogRoot(Util.child(spark, Map("gchild" -> "graft_child_")), "gchild") == root)
    // an explicit root is used as given, and is part of the conf set
    val at = Util.managedTempDir("graft_child_at_")
    val d = Util.child(spark, Map("gchild" -> at))
    assert(d ne c)
    assert(Util.catalogRoot(d, "gchild") == at)

    import graft.plans.RewriteAggToMv
    val r = Util.child(spark, rules = Seq(RewriteAggToMv))
    assert(r.experimental.extraOptimizations.contains(RewriteAggToMv))
    assert(r ne a)
    assert(Util.child(spark, rules = Seq(RewriteAggToMv)) eq r)
    assert(Util.child(spark, extensions = true) ne Util.child(spark))
    assert(Util.child(spark, extensions = true) eq Util.child(spark, extensions = true))

    // children are per parent
    val other = spark.newSession()
    assert(Util.child(other, confs = confs) ne a)
  }

  test("a repeated cloning query compiles nothing on its second call") {
    Seq("q_store_merge", "q_stream_upsert", "q_join_bloom").foreach { name =>
      val q = SparkEntry.queries(name)
      val first = q(spark, sfDir).collect().toSeq
      val c0 = compiles
      val second = q(spark, sfDir).collect().toSeq
      assert(compiles == c0, s"$name recompiled ${compiles - c0} classes on its second call")
      assert(first.nonEmpty && second == first, s"$name rows differ between calls")
    }
  }

  test("a query that rebuilds its table per call returns the same rows on every call") {
    val q = SparkEntry.queries("q_etl_delete")
    val runs = (1 to 3).map(_ => q(spark, sfDir).collect().toSeq)
    assert(runs.head.nonEmpty)
    assert(runs.forall(_ == runs.head), s"rows differ across calls: $runs")
  }
}
