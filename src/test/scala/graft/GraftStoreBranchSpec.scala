package graft

import java.io.File

import graft.sources.GraftStore

/** Named writable branches (round 13): `branchCreate` forks a
  * hard-linked, lineage-continuing clone under `_branches/<name>/`;
  * reads/writes route via `.option("branch", name)`; `fastForward`
  * publishes the branch tip to main in one atomic commit under the
  * Iceberg ancestor contract. The squash of post-fork addedv/eq-seq
  * stamps at publish — and its one documented refusal shape — is what
  * keeps equality-delete semantics exact across the graft. */
class GraftStoreBranchSpec extends SparkSuite {

  private def fresh(tag: String, rows: Long = 100): String = {
    val root = graft.ops.Util.managedTempDir(s"graft_br_${tag}_")
    val t = s"$root/t"
    spark.range(0, rows, 1, 2).selectExpr("id AS k", "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    t
  }

  private def readT(path: String, branch: Option[String] = None) = {
    val r = spark.read.format("graft.sources.GraftStore").option("path", path)
    branch.foreach(b => r.option("branch", b))
    r.load()
  }

  test("branch writes are invisible to main until fast-forward; publish makes main content-identical") {
    import spark.implicits._
    val t = fresh("iso")
    GraftStore.branchCreate(t, "audit")
    spark.range(100, 150).selectExpr("id AS k", "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .option("branch", "audit").mode("append").save()
    assert(readT(t).count() == 100, "main must not see staged writes")
    assert(readT(t, Some("audit")).count() == 150)
    val v = GraftStore.fastForward(t, "audit")
    assert(readT(t).count() == 150)
    // hash-level identity, not just counts
    assert(readT(t).agg(org.apache.spark.sql.functions.sum($"v"))
      .collect()(0).getLong(0) == (0L until 150L).map(_ * 10).sum)
    // publish is in the history as its own op
    assert(GraftStore.snapshot(new File(t, s"_manifest.v$v")).get.op
      .startsWith("fastForward("))
  }

  test("diverged main refuses fast-forward; a fresh branch from the new head succeeds") {
    val t = fresh("div")
    GraftStore.branchCreate(t, "audit")
    spark.range(100, 110).selectExpr("id AS k", "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .option("branch", "audit").mode("append").save()
    // main commits AFTER the fork — no longer an ancestor
    spark.range(500, 505).selectExpr("id AS k", "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save()
    val e = intercept[IllegalArgumentException] {
      GraftStore.fastForward(t, "audit")
    }
    assert(e.getMessage.contains("no longer an ancestor"))
    // re-branch from the current head and the cycle completes
    GraftStore.branchDelete(t, "audit")
    GraftStore.branchCreate(t, "audit")
    spark.range(100, 110).selectExpr("id AS k", "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .option("branch", "audit").mode("append").save()
    GraftStore.fastForward(t, "audit")
    assert(readT(t).count() == 115)
  }

  test("one long-lived branch serves repeated cycles: fork marker advances at publish") {
    val t = fresh("cycle")
    GraftStore.branchCreate(t, "audit")
    (1 to 3).foreach { i =>
      spark.range(100L * i, 100L * i + 10)
        .selectExpr("id AS k", "id * 10 AS v")
        .write.format("graft.sources.GraftStore").option("path", t)
        .option("branch", "audit").mode("append").save()
      GraftStore.fastForward(t, "audit")
      assert(readT(t).count() == 100 + 10L * i)
    }
    assert(GraftStore.branchList(t) == Seq("audit"))
  }

  test("a typo'd branch name refuses on read and write instead of creating a table") {
    val t = fresh("typo")
    GraftStore.branchCreate(t, "audit")
    val e = intercept[Exception] {
      readT(t, Some("audti")).count()
    }
    assert(e.getMessage.contains("no branch 'audti'"))
    val e2 = intercept[Exception] {
      spark.range(0, 1).selectExpr("id AS k", "id AS v")
        .write.format("graft.sources.GraftStore").option("path", t)
        .option("branch", "audti").mode("append").save()
    }
    assert(e2.getMessage.contains("no branch 'audti'"))
    // and the typo left no debris behind
    assert(GraftStore.branchList(t) == Seq("audit"))
  }

  test("branch-side DML: MOR delete on the branch stays on the branch; publish carries the DV") {
    import spark.implicits._
    val t = fresh("dml")
    GraftStore.branchCreate(t, "wap")
    GraftStore.deleteWhereDV(spark, GraftStore.branchPath(t, "wap"),
      $"k" < 10)
    assert(readT(t).count() == 100)
    assert(readT(t, Some("wap")).count() == 90)
    GraftStore.fastForward(t, "wap")
    assert(readT(t).count() == 90)
  }

  test("equality deletes across the fork: pre-fork delete publishes exactly; post-fork upsert stays exempt after squash") {
    import spark.implicits._
    val t = fresh("eq")
    // pre-fork eq delete on MAIN, carried into the branch at fork
    GraftStore.deleteByKey(spark, t, Seq(1L, 2L).toDF("k"))
    GraftStore.branchCreate(t, "b")
    // post-fork upsert ON THE BRANCH: deletes k=5..9's old rows and
    // appends replacements exempt from their own delete
    GraftStore.upsertByKey(spark, GraftStore.branchPath(t, "b"), Seq("k"),
      spark.range(5, 10).selectExpr("id AS k", "id * 10 + 7 AS v"))
    assert(readT(t, Some("b")).count() == 98)
    GraftStore.fastForward(t, "b")
    assert(readT(t).count() == 98, "squash must keep upsert rows exempt")
    assert(readT(t).filter($"k" === 5L).select($"v")
      .collect()(0).getLong(0) == 57L)
    assert(readT(t).filter($"k" < 3 && $"k" > 0).count() == 0,
      "pre-fork deletes stay applied after publish")
  }

  test("the unsound squash shape refuses: post-fork file predating a post-fork eq-delete; purgeDeletes is the remedy") {
    import spark.implicits._
    val t = fresh("hazard")
    GraftStore.branchCreate(t, "b")
    val bp = GraftStore.branchPath(t, "b")
    // addedv stamping only happens while a delete is live, so the hazard
    // needs: delete → append (stamped addedv) → LATER delete hitting the
    // appended rows. Squashing all three into one publish version would
    // leave addedv == seq and the strict `<` would exempt (resurrect)
    // the appended rows the second delete killed on the branch.
    GraftStore.deleteByKey(spark, bp, Seq(0L).toDF("k"))
    spark.range(200, 210).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", bp)
      .mode("append").save()
    GraftStore.deleteByKey(spark, bp, Seq(205L).toDF("k"))
    assert(readT(t, Some("b")).count() == 108)
    val e = intercept[IllegalArgumentException] {
      GraftStore.fastForward(t, "b")
    }
    assert(e.getMessage.contains("purgeDeletes"))
    GraftStore.purgeDeletes(spark, bp)
    GraftStore.fastForward(t, "b")
    assert(readT(t).count() == 108)
    assert(readT(t).filter($"k" === 205L || $"k" === 0L).count() == 0)
  }

  test("SQL surface: CALL branch_create / fast_forward / branch_drop + the $branches metadata table") {
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_br_sql_")
    s2.conf.set("spark.sql.catalog.gbr", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gbr.root", root)
    s2.range(0, 100).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("br_src")
    s2.sql("CREATE TABLE gbr.t AS SELECT * FROM br_src")
    val forkV = s2.sql("CALL gbr.system.branch_create('t', 'audit')")
      .head.getLong(0)
    assert(forkV == 1L) // staged CTAS publishes atomically as v1
    // stage rows on the branch, inspect $branches, publish, drop
    spark.range(100, 120).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", s"$root/t")
      .option("branch", "audit").mode("append").save()
    val row = s2.sql("SELECT * FROM gbr.`t$branches`").collect()
    assert(row.length == 1 && row(0).getString(0) == "audit" &&
      row(0).getLong(1) == 1L && row(0).getLong(2) == 2L &&
      row(0).getLong(3) == 120L, row.mkString(","))
    val v = s2.sql("CALL gbr.system.fast_forward('t', 'audit')")
      .head.getLong(0)
    assert(v == 2L)
    assert(s2.sql("SELECT count(*) FROM gbr.t").head.getLong(0) == 120)
    s2.sql("CALL gbr.system.branch_drop('t', 'audit')")
    assert(s2.sql("SELECT * FROM gbr.`t$branches`").collect().isEmpty)
    assert(s2.sql("SELECT count(*) FROM gbr.t").head.getLong(0) == 120,
      "dropping a branch never touches main")
  }

  test("branch retention: expireBranches drops by last-commit age, retain_for overrides the default, 0 = never") {
    val t = fresh("ret")
    GraftStore.branchCreate(t, "old-default")
    GraftStore.branchCreate(t, "old-pinned")
    GraftStore.branchCreate(t, "old-never")
    GraftStore.branchCreate(t, "young")
    GraftStore.branchSetRetain(t, "old-pinned", 1000L * 3600) // 1 h
    GraftStore.branchSetRetain(t, "old-never", 0L) // clears => default...
    // retain 0 CLEARS an override; "never expire" = a huge retain value
    GraftStore.branchSetRetain(t, "old-never", Long.MaxValue / 2)
    val now = System.currentTimeMillis()
    // 1: nothing is old yet at a 1-day default
    assert(GraftStore.expireBranches(t, 86400000L, now).isEmpty)
    // 2: pretend 2 hours pass — only the 1 h-pinned branch ages out
    val in2h = now + 2L * 3600 * 1000
    assert(GraftStore.expireBranches(t, 86400000L, in2h) == Seq("old-pinned"))
    // 3: pretend 2 days pass — default-retention branches age out, the
    // effectively-never one survives
    val in2d = now + 2L * 86400000
    assert(GraftStore.expireBranches(t, 86400000L, in2d).sorted ==
      Seq("old-default", "young"))
    assert(GraftStore.branchList(t) == Seq("old-never"))
    // a fresh commit resets the clock: last_commit_at is the age basis
    GraftStore.branchCreate(t, "active")
    assert(GraftStore.branchLastCommitAt(t, "active") >= now - 60000,
      "manifest mtime must track the latest branch commit")
    // main is untouched throughout
    assert(readT(t).count() == 100)
  }

  test("retention SQL surface: branch_retain / expire_branches / branch_expire_snapshots + $branches columns") {
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_br_ret_sql_")
    s2.conf.set("spark.sql.catalog.gbrr", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gbrr.root", root)
    s2.range(0, 50).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("brr_src")
    s2.sql("CREATE TABLE gbrr.t AS SELECT * FROM brr_src")
    s2.sql("CALL gbrr.system.branch_create('t', 'audit')")
    assert(s2.sql("CALL gbrr.system.branch_retain('t', 'audit', 3600000)")
      .head.getLong(0) == 3600000L)
    // $branches carries the retention columns
    val r = s2.sql("SELECT branch, retain_for_ms, created_at, last_commit_at " +
      "FROM gbrr.`t$branches`").collect()
    assert(r.length == 1 && r(0).getString(0) == "audit" &&
      r(0).getLong(1) == 3600000L, r.mkString(","))
    assert(!r(0).isNullAt(2) && !r(0).isNullAt(3))
    // a branch inside its retention survives expire_branches
    assert(s2.sql("CALL gbrr.system.expire_branches('t', 86400000)")
      .head.getLong(0) == 0L)
    // branch history expires independently of main: three branch commits,
    // keep the last 2
    for (i <- 1 to 3)
      spark.range(50L * i, 50L * i + 10).selectExpr("id AS k", "id AS v")
        .write.format("graft.sources.GraftStore").option("path", s"$root/t")
        .option("branch", "audit").mode("append").save()
    assert(s2.sql("CALL gbrr.system.branch_expire_snapshots('t', 'audit', 2)")
      .head.getLong(0) == 2L)
    assert(GraftStore.snapshotFiles(s"$root/t").size >= 1,
      "main history untouched by branch expiry")
    // clearing retention makes the default apply again
    s2.sql("CALL gbrr.system.branch_retain('t', 'audit', 0)")
    assert(s2.sql("SELECT retain_for_ms FROM gbrr.`t$branches`")
      .head.isNullAt(0))
  }

  test("branch is GC-independent: expiring main snapshots never breaks the branch (hard links)") {
    val t = fresh("gc")
    GraftStore.branchCreate(t, "keep")
    // main: overwrite (drops old files from the current snapshot), then
    // expire history so main's old data files are GC'd
    spark.range(0, 5).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    GraftStore.expireSnapshots(t, keepLast = 1, graceMs = 0L)
    assert(readT(t).count() == 5)
    assert(readT(t, Some("keep")).count() == 100,
      "branch reads its own hard links regardless of main GC")
  }
}
