package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.{GraftStore, GraftStoreScan}

/** Partition-spec evolution, pinned at the protocol level: the spec swap
  * is metadata-only, pre-evolution files are never rewritten, pruning on
  * the new key is per-file stats skipping (exact on post-evolution files,
  * conservative on pre-evolution ones), key-grouped reporting degrades on
  * the mixed table instead of lying, and the change feed stays silent. */
class PartitionEvolutionSpec extends SparkSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_pevo_spec_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gpe", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gpe.root", root)
    // slice 1 under PARTITIONED BY (pri): one rolled file per pri value
    s2.range(0, 400).select(
      col("id"), (col("id") % 5).as("pri"), (col("id") % 8).as("bkt"))
      .createOrReplaceTempView("pevo_src")
    s2.sql(
      """CREATE TABLE gpe.t PARTITIONED BY (pri) AS
        |SELECT id, pri, bkt FROM pevo_src WHERE id < 200""".stripMargin)
    s"$root/t"
  }

  private def entries(path: String) = GraftStore.readManifest(path).get._2

  test("evolve is metadata-only and appends adopt the new spec") {
    import spark.implicits._
    val path = freshTable()
    val before = entries(path)
    assert(before.size == 5, "one rolled file per pri value")
    assert(before.forall(e => e.stats("pri").min == e.stats("pri").max))
    val mtimes = before.map(e => new File(path, e.file).lastModified()).toSet

    val vBefore = GraftStore.readVersion(path)
    GraftStore.evolvePartitionBy(path, Some("bkt"))
    assert(GraftStore.readPartitionBy(path).contains("bkt"))
    assert(GraftStore.readVersion(path) == vBefore + 1,
      "the spec swap must be a versioned commit")
    // same files, same bytes (metadata-only: nothing rewritten)
    val after = entries(path)
    assert(after.map(_.file).toSet == before.map(_.file).toSet)
    assert(after.map(e => new File(path, e.file).lastModified()).toSet == mtimes)

    // slice 2 lands clustered + rolled per bkt value under the NEW spec
    spark.range(0, 400).select(
      $"id", ($"id" % 5).as("pri"), ($"id" % 8).as("bkt"))
      .filter($"id" >= 200)
      .write.format("graft.sources.GraftStore").option("path", path)
      .mode("append").save()
    val newFiles = entries(path).filterNot(e => before.exists(_.file == e.file))
    assert(newFiles.size == 8, "one rolled file per bkt value")
    assert(newFiles.forall(e => e.stats("bkt").min == e.stats("bkt").max),
      "post-evolution files must be single-valued on the new key")
  }

  test("pruning on the new key: exact on new files, conservative on old") {
    import spark.implicits._
    val path = freshTable()
    GraftStore.evolvePartitionBy(path, Some("bkt"))
    spark.range(0, 400).select(
      $"id", ($"id" % 5).as("pri"), ($"id" % 8).as("bkt"))
      .filter($"id" >= 200)
      .write.format("graft.sources.GraftStore").option("path", path)
      .mode("append").save()
    val df = spark.read.format("graft.sources.GraftStore")
      .option("path", path).load().filter($"bkt" === 3)
    // 5 old files (bkt straddles: cannot disprove) + exactly 1 of the
    // 8 new files (single-valued stats disprove the other 7)
    df.count() // materialize so the scan plans
    val planned = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(planned)
    assert(m.isDefined, s"scan description missing file counts:\n$planned")
    assert(m.get.group(1).toInt == 6 && m.get.group(2).toInt == 13,
      s"expected 6/13 files planned (5 old + 1 new), got ${m.get.group(0)}")
    // and results are exact: ids ≡ 3 (mod 8), both parities
    val expect = (0L until 400L).filter(_ % 8 == 3)
    assert(df.select($"id").collect().map(_.getLong(0)).sorted.toSeq == expect)
  }

  test("key-grouped reporting degrades on the mixed-spec table, returns after rewrite") {
    import spark.implicits._
    val path = freshTable()
    GraftStore.evolvePartitionBy(path, Some("bkt"))
    spark.range(0, 400).select(
      $"id", ($"id" % 5).as("pri"), ($"id" % 8).as("bkt"))
      .filter($"id" >= 200)
      .write.format("graft.sources.GraftStore").option("path", path)
      .mode("append").save()
    import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
    def partitioning(p: String) = {
      val scan = new GraftStoreScan(p)
      scan.planInputPartitions()
      scan.outputPartitioning()
    }
    assert(!partitioning(path).isInstanceOf[KeyGroupedPartitioning],
      "old files are not single-valued on bkt — the mixed table must not claim KGP")
    // rewrite the whole table under the current spec (CTAS-style clone
    // via overwrite from its own content): all files single-valued again
    val all = spark.read.format("graft.sources.GraftStore")
      .option("path", path).load().collect()
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(all: _*)),
        spark.read.format("graft.sources.GraftStore").option("path", path).load().schema)
      .write.format("graft.sources.GraftStore").option("path", path)
      .mode("overwrite").save()
    assert(partitioning(path).isInstanceOf[KeyGroupedPartitioning],
      "a rewrite under the current spec restores key-grouped reporting")
  }

  test("multi-column spec: per-cell rolling, pruning on either column, " +
    "metadata delete of a cell, grouped metaagg on the leading column") {
    import spark.implicits._
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_pmulti_spec_")
    s2.conf.set("spark.sql.catalog.gpm", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gpm.root", root)
    s2.range(0, 600).selectExpr("id", "id % 3 AS a", "id % 2 AS b")
      .createOrReplaceTempView("pm_src")
    s2.sql("CREATE TABLE gpm.t PARTITIONED BY (a, b) AS SELECT * FROM pm_src")
    val path = s"$root/t"
    // one file per live (a, b) cell, single-valued on BOTH columns
    val es = entries(path)
    assert(es.size == 6, s"expected 6 cells, got ${es.size}")
    assert(es.forall(e => e.stats("a").min == e.stats("a").max &&
      e.stats("b").min == e.stats("b").max))
    // pruning on either column alone
    def planned(f: org.apache.spark.sql.DataFrame): (Int, Int) = {
      f.count()
      val m = "files=(\\d+)/(\\d+)".r
        .findFirstMatchIn(f.queryExecution.executedPlan.toString).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    val t = spark.read.format("graft.sources.GraftStore").option("path", path).load()
    assert(planned(t.filter($"a" === 1)) == (2, 6), "a=1 selects its 2 cells")
    assert(planned(t.filter($"b" === 0)) == (3, 6), "b=0 selects its 3 cells")
    assert(planned(t.filter($"a" === 1 && $"b" === 0)) == (1, 6), "one cell")
    // dropping a cell is a metadata-only DELETE (whole files match)
    s2.sql("DELETE FROM gpm.t WHERE a = 2 AND b = 1")
    assert(entries(path).size == 5)
    assert(t.count() == 500)
    // grouped metadata aggregate on the LEADING column still answers
    // from manifest lines (files remain single-valued on a)
    Option(new File(path, "data").listFiles()).get.foreach(_.delete())
    val g = spark.read.format("graft.sources.GraftStore").option("path", path).load()
      .groupBy($"a").agg(count(lit(1)).as("n"), sum($"id").as("s")).orderBy($"a")
    assert(g.queryExecution.executedPlan.toString.contains("metadata-only aggregate"))
    val ids = (0L until 600L)
    assert(g.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(
        (0L, 200L, ids.filter(_ % 3 == 0).sum),
        (1L, 200L, ids.filter(_ % 3 == 1).sum),
        (2L, 100L, ids.filter(i => i % 3 == 2 && i % 2 == 0).sum)))
  }

  test("the evolve commit is CDF-silent and history-visible") {
    import spark.implicits._
    val path = freshTable()
    val v1 = GraftStore.readVersion(path)
    GraftStore.evolvePartitionBy(path, Some("bkt"))
    val v2 = GraftStore.readVersion(path)
    val feed = spark.read.format("graft.sources.GraftStore")
      .option("path", path)
      .option("changesFrom", v1.toString).option("changesTo", v2.toString)
      .load()
    assert(feed.count() == 0, "a pure spec swap must emit no row changes")
    assert(GraftStore.snapshot(new File(path, s"_manifest.v$v2")).get.op == "evolve-partition")
  }

  test("evolve validates transforms like create, and a conflict leaves the spec untouched") {
    val path = freshTable()
    // the create-path type checks apply to evolve too: days over a long
    // would otherwise throw at WRITE time, far from the spec change
    val e1 = intercept[IllegalArgumentException] {
      GraftStore.evolvePartitionBy(path, Some("days(id)"))
    }
    assert(e1.getMessage.contains("timestamp"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      GraftStore.evolvePartitionBy(path, Some("trunc(0,id)"))
    }
    assert(e2.getMessage.contains("positive"), e2.getMessage)
    assert(GraftStore.readPartitionBy(path).contains("pri"),
      "a refused evolve must not have swapped the spec")
    // hours over a timestampless table column: same create-path refusal
    val e3 = intercept[IllegalArgumentException] {
      GraftStore.evolvePartitionBy(path, Some("hours(bkt)"))
    }
    assert(e3.getMessage.contains("timestamp"), e3.getMessage)
    assert(GraftStore.readPartitionBy(path).contains("pri"),
      "every refused evolve must leave the partition spec unchanged " +
        "(the swap happens only after the commit succeeds)")
  }
}
