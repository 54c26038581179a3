package graft

import org.apache.spark.sql.functions._

/** Filesystem-level invariants of q_layout_compact that the DuckDB oracle
  * cannot see (it only proves content equality): the fragmented input
  * really is many small files, the compacted output really is few
  * target-bounded files, and no rows were lost or duplicated in between. */
class LayoutCompactionSpec extends SparkSuite {

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  test("compaction bin-packs 64 fragments into few bounded files, losslessly") {
    import spark.implicits._
    // run the query once — materializes frag + compacted dirs
    val agg = SparkEntry.queries("q_layout_compact")(spark, sfDir).collect()
    val (frag, comp) = graft.ops.Layout.compactedDirs(spark, sfDir)

    val fragFiles = parquetFiles(frag)
    val compFiles = parquetFiles(comp)
    assert(fragFiles.size == 64, s"expected 64 fragments, got ${fragFiles.size}")
    // sf0.1 documents ≈ a few MB — 4 MB bins must reduce the file count
    // by at least 8× (sf0.01 collapses to 1-2 files)
    assert(compFiles.size <= 8,
      s"compaction left ${compFiles.size} files (> 8)")
    assert(compFiles.nonEmpty, "compaction produced no files")
    // each output file stays within the 4 MB target (+ parquet overhead)
    val tooBig = compFiles.filter(_.length > (5L << 20))
    assert(tooBig.isEmpty,
      s"files exceed target size: ${tooBig.map(f => f.getName -> f.length)}")

    // lossless: compacted row count and doc_id sum equal the source's
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(count(lit(1)), sum($"doc_id")).head()
    val out = spark.read.parquet(comp)
      .agg(count(lit(1)), sum($"doc_id")).head()
    assert(out.getLong(0) == src.getLong(0), "row count changed")
    assert(out.getLong(1) == src.getLong(1), "doc_id mass changed")
    // and the aggregate the oracle checks is non-degenerate
    assert(agg.nonEmpty && agg.map(_.getLong(1)).sum == src.getLong(0))
  }

  test("the compaction rewrite plan is narrow (no shuffle)") {
    // materializes the dirs if this test runs first
    val (frag, _) = graft.ops.Layout.compactedDirs(spark, sfDir)
    // the rewrite is scan→write: re-planning the same read shows no
    // Exchange anywhere (the bin-packing lives in the scan's partitioning)
    val plan = spark.read.parquet(frag).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction read plans a shuffle:\n$plan")
  }
}
