package graft

import java.io.File

import graft.sources.GraftStore

/** Stored procedures (round 12): Spark 4's native ProcedureCatalog —
  * `CALL cat.system.<proc>(…)`, `SHOW PROCEDURES`, `DESCRIBE PROCEDURE`
  * — wired to the audited maintenance primitives. */
class GraftProcedureSpec extends SparkSuite {

  private lazy val (s2, root) = {
    val r = graft.ops.Util.managedTempDir("graft_proc_")
    val sx = spark.newSession()
    sx.conf.set("spark.sql.catalog.gproc", "graft.sources.GraftCatalog")
    sx.conf.set("spark.sql.catalog.gproc.root", r)
    (sx, r)
  }

  private def freshTable(name: String): String = {
    s2.range(0, 300, 1, 3).selectExpr("id AS k", "id * 10 AS v")
      .createOrReplaceTempView(s"src_$name")
    s2.sql(s"""CREATE TABLE gproc.$name
      |TBLPROPERTIES('write.mode'='merge-on-read') AS
      |SELECT * FROM src_$name""".stripMargin)
    s"$root/$name"
  }

  test("CALL purge_deletes folds DVs and equality deletes; result row carries the new version") {
    val path = freshTable("p")
    s2.sql("DELETE FROM gproc.p WHERE k % 7 = 3") // DV commit
    GraftStore.deleteByKey(s2, path, {
      import s2.implicits._; Seq(5L, 6L).toDF("k")
    }) // eq commit
    val res = s2.sql("CALL gproc.system.purge_deletes('p')").collect()
    assert(res.length == 1 && res(0).getLong(0) == GraftStore.readVersion(path))
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.dv.isEmpty))
    assert(GraftStore.snapshot(
      new File(path, s"_manifest.v${GraftStore.readVersion(path)}")).get.eqDels.isEmpty)
    val keep = (0L until 300L).filter(k => k % 7 != 3 && k != 5 && k != 6)
    assert(s2.sql("SELECT count(*), sum(v) FROM gproc.p").collect()(0)
      .getLong(0) == keep.size)
  }

  test("CALL restore rolls back as a new commit; CALL compact bin-packs; CALL expire_snapshots prunes") {
    val path = freshTable("r")
    val v0 = GraftStore.readVersion(path)
    s2.sql("DELETE FROM gproc.r WHERE k < 100")
    assert(s2.sql("SELECT count(*) FROM gproc.r").collect()(0).getLong(0) == 200)
    val rv = s2.sql(s"CALL gproc.system.restore('r', $v0)").collect()(0).getLong(0)
    assert(rv == GraftStore.readVersion(path) && rv > v0)
    assert(s2.sql("SELECT count(*) FROM gproc.r").collect()(0).getLong(0) == 300)
    // purge first (restore revived, but the DV snapshot's vectors are
    // gone from the CURRENT manifest already) — compact the 3 files
    val cv = s2.sql("CALL gproc.system.compact('r', 1000000000)").collect()(0).getLong(0)
    assert(cv == GraftStore.readVersion(path))
    assert(Option(new File(path, "data").listFiles()).get
      .count(_.getName.startsWith("compact-")) >= 1)
    assert(s2.sql("SELECT count(*) FROM gproc.r").collect()(0).getLong(0) == 300)
    val kept = s2.sql("CALL gproc.system.expire_snapshots('r', 2)").collect()(0).getLong(0)
    assert(kept == 2L)
    // expired snapshots are gone; current content intact
    assert(GraftStore.snapshotFiles(path).size == 2)
    assert(s2.sql("SELECT count(*) FROM gproc.r").collect()(0).getLong(0) == 300)
  }

  test("$deletes metadata table surfaces both delete flavors; empty after CALL purge_deletes") {
    val path = freshTable("d")
    s2.sql("DELETE FROM gproc.d WHERE k % 7 = 3") // position vectors
    GraftStore.deleteByKey(s2, path, {
      import s2.implicits._; Seq(1L, 2L, 3L).toDF("k")
    }) // one equality delete per written sidecar partition
    val rows = s2.sql("SELECT kind, detail, n FROM gproc.`d$deletes`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val (pos, eq) = rows.partition(_._1 == "position")
    assert(pos.nonEmpty && pos.map(_._3).sum ==
      (0L until 300L).count(_ % 7 == 3))
    assert(eq.nonEmpty && eq.forall(_._2 == "k") && eq.map(_._3).sum == 3)
    s2.sql("CALL gproc.system.purge_deletes('d')")
    assert(s2.sql("SELECT * FROM gproc.`d$deletes`").collect().isEmpty)
  }

  test("CALL expire_snapshots_older_than: age-based retention with tag pins and a newest floor") {
    val path = freshTable("age")
    s2.sql("INSERT INTO gproc.age VALUES (1000, 1)") // v2
    s2.sql("INSERT INTO gproc.age VALUES (1001, 2)") // v3
    s2.sql("INSERT INTO gproc.age VALUES (1002, 3)") // v4
    val snaps = GraftStore.snapshotFiles(path)
    assert(snaps.size == 4, snaps.map(_.getName).toString)
    // age the first three snapshots artificially: v1 3 days, v2 2 days,
    // v3 1 day old; v4 just now (the manifest mtime IS the commit time)
    val now = System.currentTimeMillis()
    val day = 86400000L
    snaps.dropRight(1).zipWithIndex.foreach { case (f, i) =>
      assert(f.setLastModified(now - (3 - i) * day))
    }
    // pin v2 (2 days old) with a tag: it must survive any age policy
    GraftStore.tagCreate(path, "audit",
      snaps(1).getName.stripPrefix("_manifest.v").toLong)
    // policy: expire anything older than 1.5 days, keep at least 1 —
    // v1 (3d) expires; v2 (2d) is past cutoff but TAGGED -> survives;
    // v3 (1d) and v4 (now) are young -> survive
    val kept = s2.sql(
      s"CALL gproc.system.expire_snapshots_older_than('age', ${(1.5 * day).toLong}, 1)")
      .collect()(0).getLong(0)
    assert(kept == 3L, s"retained $kept")
    val left = GraftStore.snapshotFiles(path).map(_.getName)
    assert(!left.contains(snaps(0).getName), left.toString)
    assert(left.contains(snaps(1).getName), "tagged snapshot expired")
    // the floor wins over age: expire 'older than 0ms' with floor 2 —
    // only the tagged v2 and the newest 2 remain
    val kept2 = s2.sql(
      "CALL gproc.system.expire_snapshots_older_than('age', 0, 2)")
      .collect()(0).getLong(0)
    assert(kept2 == 3L, s"retained $kept2")
    val left2 = GraftStore.snapshotFiles(path).map(_.getName)
    assert(left2.contains(snaps(1).getName) &&
      left2.contains(snaps(2).getName) && left2.contains(snaps(3).getName),
      left2.toString)
    // time travel to the tagged snapshot still reads (its files survived GC)
    assert(s2.sql("SELECT count(*) FROM gproc.age VERSION AS OF 'audit'")
      .collect()(0).getLong(0) == 301)
    // current content intact
    assert(s2.sql("SELECT count(*) FROM gproc.age").collect()(0).getLong(0) == 303)
    // refusals: floor 0, negative age
    intercept[Exception](s2.sql(
      "CALL gproc.system.expire_snapshots_older_than('age', 1000, 0)").collect())
    intercept[Exception](s2.sql(
      "CALL gproc.system.expire_snapshots_older_than('age', -5, 1)").collect())
  }

  test("CALL zorder: files get tight envelopes in BOTH dimensions, 2-D filters prune, content invariant, CDF silent") {
    import org.apache.spark.sql.functions.col
    s2.range(0, 4096).selectExpr(
      "id % 64 AS x", "CAST(id DIV 64 AS BIGINT) AS y", "id AS v")
      .createOrReplaceTempView("src_z")
    s2.sql("CREATE TABLE gproc.z AS SELECT * FROM src_z")
    val path = s"$root/z"
    val preV = GraftStore.readVersion(path)
    val before = s2.sql("SELECT sum(v) FROM gproc.z").collect()(0).getLong(0)
    val v = s2.sql("CALL gproc.system.zorder('z', 'x,y', 16)")
      .collect()(0).getLong(0)
    assert(v > preV)
    val es = GraftStore.readManifest(path).get._2
    assert(es.size == 16, s"${es.size} files")
    // tight envelopes in BOTH dims: each file's x and y spans are far
    // below the full 64-value range (a 1-D sort leaves the second
    // dimension spanning everything)
    es.foreach { e =>
      val sx = e.stats("x"); val sy = e.stats("y")
      assert(sx.max.toLong - sx.min.toLong <= 32,
        s"${e.file} x-span ${sx.min}..${sx.max}")
      assert(sy.max.toLong - sy.min.toLong <= 32,
        s"${e.file} y-span ${sy.min}..${sy.max}")
    }
    // a filter on EITHER dimension prunes whole files
    def kept(c: org.apache.spark.sql.Column): Int = {
      val df = s2.read.format("graft.sources.GraftStore")
        .option("path", path).load().filter(c)
      df.count()
      val m = "files=(\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
      assert(m.isDefined); m.get.group(1).toInt
    }
    assert(kept(col("x") < 8) <= 8, "x filter must prune z-ordered files")
    assert(kept(col("y") < 8) <= 8, "y filter must prune z-ordered files")
    // content invariant; maintenance commit is CDF-silent
    assert(s2.sql("SELECT sum(v) FROM gproc.z").collect()(0).getLong(0) == before)
    assert(s2.read.format("graft.sources.GraftStore").option("path", path)
      .option("changesFrom", preV.toString).load().count() == 0)
    // refusals: one column, non-numeric column
    intercept[Exception](
      s2.sql("CALL gproc.system.zorder('z', 'x', 16)").collect())
    intercept[Exception](
      s2.sql("CALL gproc.system.zorder('z', 'x,nope', 16)").collect())
  }

  test("CALL zorder lays out identical tables identically, whatever ran in between") {
    // one 20k-row input file: more rows than a range sample takes from a
    // partition, so a sample seeded per RDD would pick different bounds
    s2.range(0, 20000, 1, 1).selectExpr(
      "id % 128 AS x", "CAST(id DIV 128 AS BIGINT) AS y", "id AS v")
      .createOrReplaceTempView("src_zd")
    def envelopes(name: String): Seq[(String, String, String, String)] = {
      s2.sql(s"CREATE TABLE gproc.$name AS SELECT * FROM src_zd")
      s2.sql(s"CALL gproc.system.zorder('$name', 'x,y', 16)").collect()
      GraftStore.readManifest(s"$root/$name").get._2.map { e =>
        (e.stats("x").min, e.stats("x").max, e.stats("y").min, e.stats("y").max)
      }.sorted
    }
    val first = envelopes("zd1")
    // unrelated jobs: each makes RDDs, which moves Spark's RDD ids on
    (1 to 3).foreach(i => s2.range(0, 1000, 1, 4).selectExpr(s"id % $i AS m")
      .distinct().collect())
    val second = envelopes("zd2")
    assert(first.size > 1, s"${first.size} files")
    assert(first == second, s"layouts differ:\n$first\n$second")
  }

  test("CALL zorder round 16: timestamp dimension and 3 columns — either-dimension pruning, content invariant, refusals") {
    import org.apache.spark.sql.functions.col
    // time×key: 64 hourly buckets × 64 keys, written row-hashed so every
    // file spans both dimensions
    s2.range(0, 4096).selectExpr(
      "timestampadd(HOUR, CAST(id % 64 AS INT), TIMESTAMP'2024-01-01 00:00:00') AS ts",
      "CAST(id DIV 64 AS BIGINT) AS k", "id AS v")
      .createOrReplaceTempView("src_zt")
    s2.sql("CREATE TABLE gproc.zt AS SELECT * FROM src_zt")
    val path = s"$root/zt"
    val before = s2.sql("SELECT sum(v) FROM gproc.zt").collect()(0).getLong(0)
    s2.sql("CALL gproc.system.zorder('zt', 'ts,k', 16)").collect()
    val es = GraftStore.readManifest(path).get._2
    assert(es.size == 16, s"${es.size} files")
    // tight envelopes in BOTH dims: micros span ≤ half the 64h range,
    // key span ≤ half of 64
    val hourUs = 3600L * 1000000L
    es.foreach { e =>
      val st = e.stats("ts"); val sk = e.stats("k")
      assert(st.max.toLong - st.min.toLong <= 32 * hourUs,
        s"${e.file} ts-span ${st.min}..${st.max}")
      assert(sk.max.toLong - sk.min.toLong <= 32,
        s"${e.file} k-span ${sk.min}..${sk.max}")
    }
    def kept(c: org.apache.spark.sql.Column): Int = {
      val df = s2.read.format("graft.sources.GraftStore")
        .option("path", path).load().filter(c)
      df.count()
      val m = "files=(\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
      assert(m.isDefined); m.get.group(1).toInt
    }
    assert(kept(col("ts") < org.apache.spark.sql.functions.lit("2024-01-01 08:00:00").cast("timestamp")) <= 8,
      "ts filter must prune z-ordered files")
    assert(kept(col("k") < 8) <= 8, "k filter must prune z-ordered files")
    assert(s2.sql("SELECT sum(v) FROM gproc.zt").collect()(0).getLong(0) == before)
    // three dimensions: every lane gets a bounded envelope
    s2.range(0, 4096).selectExpr("id % 16 AS a",
      "CAST(id DIV 16 AS BIGINT) % 16 AS b", "CAST(id DIV 256 AS BIGINT) AS c",
      "id AS v")
      .createOrReplaceTempView("src_z3")
    s2.sql("CREATE TABLE gproc.z3 AS SELECT * FROM src_z3")
    val before3 = s2.sql("SELECT sum(v) FROM gproc.z3").collect()(0).getLong(0)
    s2.sql("CALL gproc.system.zorder('z3', 'a,b,c', 8)").collect()
    val es3 = GraftStore.readManifest(s"$root/z3").get._2
    assert(es3.size == 8, s"${es3.size} files")
    // joint locality, pinned as an AGGREGATE (range-boundary SAMPLING
    // wobbles individual files): the 8 files' bounding boxes must sum
    // to at most half the unclustered total — perfectly clustered is
    // 8 octants = 4096 cells, sampling wobble roughly doubles that,
    // while an unclustered layout has every file spanning the whole
    // 16^3 cube for a sum of 32768
    val vols = es3.map { e =>
      Seq("a", "b", "c").map { d =>
        val sd = e.stats(d); sd.max.toLong - sd.min.toLong + 1
      }.product
    }
    assert(vols.sum <= 16384,
      s"bounding boxes sum to ${vols.sum} (> half the unclustered 32768): $vols")
    assert(s2.sql("SELECT sum(v) FROM gproc.z3").collect()(0).getLong(0) == before3)
    // refusals: five columns, string column
    intercept[Exception](
      s2.sql("CALL gproc.system.zorder('z3', 'a,b,c,a,b', 8)").collect())
    s2.sql("CREATE TABLE gproc.zs AS SELECT 'x' AS s, 1 AS i, 2 AS j")
    intercept[Exception](
      s2.sql("CALL gproc.system.zorder('zs', 's,i', 2)").collect())
  }

  test("CALL compact_where: only the stats-provable slice packs, out-of-scope bytes untouched, undecidable skipped, refusals") {
    val path = s"$root/cw"
    s2.sql("CREATE TABLE gproc.cw (id BIGINT, pri BIGINT)")
    (0 to 2).foreach { p =>
      s2.range(p * 1000, p * 1000 + 300)
        .selectExpr("id", s"CAST($p AS BIGINT) AS pri")
        .repartition(2).write.format("graft.sources.GraftStore")
        .option("path", path).mode("append").save()
    }
    val before = Option(new File(path, "data").listFiles()).get
      .map(f => f.getName -> (f.lastModified(), f.length())).toMap
    assert(before.size == 6)
    val sumBefore = s2.sql("SELECT sum(id) FROM gproc.cw").collect()(0).getLong(0)
    val preV = GraftStore.readVersion(path)
    s2.sql("CALL gproc.system.compact_where('cw', 1000000000, 'pri = 1')")
      .collect()
    val es = GraftStore.readManifest(path).get._2
    assert(es.size == 5, s"${es.size} files (expected 2+1+2)")
    // the packed file covers exactly the pri-1 slice; every other file
    // is byte-identical in place
    val packed = es.filter(_.file.contains("compact-"))
    assert(packed.size == 1 &&
      packed.head.stats("pri").min.toLong == 1L &&
      packed.head.stats("pri").max.toLong == 1L, packed.toString)
    es.filterNot(_.file.contains("compact-")).foreach { e =>
      val f = new File(path, e.file)
      assert(before.get(f.getName).contains((f.lastModified(), f.length())),
        s"${e.file} touched by an out-of-scope compaction")
    }
    assert(s2.sql("SELECT sum(id) FROM gproc.cw").collect()(0).getLong(0)
      == sumBefore)
    // maintenance commit: CDF-silent
    assert(s2.read.format("graft.sources.GraftStore").option("path", path)
      .option("changesFrom", preV.toString).load().count() == 0)
    // a scope the stats cannot PROVE for any file is a no-op: id < 150
    // cuts inside both pri-0 files (ids 0..299 row-hashed across them),
    // misses pri-1/2 entirely — nothing packs, bytes do not move
    s2.sql("CALL gproc.system.compact_where('cw', 1000000000, 'id < 150')")
      .collect()
    val after2 = GraftStore.readManifest(path).get._2
    assert(after2.count(_.file.contains("compact-")) == 1,
      "undecidable slice must not pack anything new")
    // refusal: non-stats-evaluable predicate
    intercept[Exception](s2.sql(
      "CALL gproc.system.compact_where('cw', 1000000000, 'length(CAST(pri AS STRING)) = 1')")
      .collect())
  }

  test("CALL restore_to_timestamp: latest at-or-before resolution through the commit index; pre-history refuses") {
    val path = freshTable("rts")                       // v1
    s2.sql("INSERT INTO gproc.rts VALUES (9000, 1)")   // v2
    def utc(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val commits = GraftStore.commitTimestamps(path).toMap
    val rv = s2.sql(
      s"CALL gproc.system.restore_to_timestamp('rts', '${utc(commits(1L))}')")
      .collect()(0).getLong(0)
    assert(rv == GraftStore.readVersion(path) && rv > 2)
    assert(s2.sql("SELECT count(*) FROM gproc.rts").collect()(0).getLong(0) == 300,
      "restore-to-ts must roll back to v1's content")
    // pre-history timestamp refuses loudly; garbage refuses loudly
    val e = intercept[Exception](s2.sql(
      "CALL gproc.system.restore_to_timestamp('rts', '1990-01-01 00:00:00')")
      .collect())
    assert(e.getMessage.contains("at or before") ||
      (e.getCause != null && e.getCause.getMessage.contains("at or before")),
      e.getMessage)
    intercept[Exception](s2.sql(
      "CALL gproc.system.restore_to_timestamp('rts', 'not-a-time')").collect())
  }

  test("CALL remove_orphan_files: unreferenced old files swept, young orphans and live files kept, refusals") {
    val path = freshTable("orph")
    s2.sql("INSERT INTO gproc.orph VALUES (9000, 1)") // second snapshot
    val live = Option(new File(path, "data").listFiles()).get.map(_.getName).toSet
    // plant one OLD orphan (a failed write's residue) and one YOUNG one
    // (an in-flight writer's uncommitted output)
    val oldOrphan = new File(path, "data/orphan-old.bin")
    java.nio.file.Files.write(oldOrphan.toPath, Array[Byte](1, 2, 3))
    assert(oldOrphan.setLastModified(System.currentTimeMillis() - 86400000L))
    val youngOrphan = new File(path, "data/orphan-young.bin")
    java.nio.file.Files.write(youngOrphan.toPath, Array[Byte](4, 5))
    val removed = s2.sql(
      "CALL gproc.system.remove_orphan_files('orph', 3600000)")
      .collect()(0).getLong(0)
    assert(removed == 1L, s"removed $removed")
    assert(!oldOrphan.exists(), "old orphan must be swept")
    assert(youngOrphan.exists(), "young orphan must survive the age guard")
    // every snapshot-referenced file survives; content intact
    val after = Option(new File(path, "data").listFiles()).get.map(_.getName).toSet
    assert(live.subsetOf(after), (live -- after).toString)
    assert(s2.sql("SELECT count(*) FROM gproc.orph").collect()(0).getLong(0) == 301)
    // time travel to the first snapshot still reads (its files retained)
    assert(s2.sql("SELECT count(*) FROM gproc.orph VERSION AS OF 1")
      .collect()(0).getLong(0) == 300)
    // refusals: zero/negative age, unknown table
    intercept[Exception](s2.sql(
      "CALL gproc.system.remove_orphan_files('orph', 0)").collect())
    intercept[Exception](s2.sql(
      "CALL gproc.system.remove_orphan_files('nope', 1000)").collect())
    youngOrphan.delete()
  }

  test("remove_orphan_files sweeps crash-leftover metadata staging tmps, keeps young ones") {
    // a writer SIGKILLed between staging a dot-tmp and the ATOMIC_MOVE
    // leaves the tmp in the table root forever: readers never open it
    // (all lookups are exact names), so only scheduled maintenance can
    // reclaim it — same age guard as data orphans (a YOUNG tmp may be a
    // live writer mid-move)
    val path = freshTable("orphtmp")
    val day = 86400000L
    val stale = Seq(".manifest.tmp.deadbeef", ".mchild.tmp.deadbeef",
      ".partition.tmp.deadbeef").map { n =>
      val f = new File(path, n)
      java.nio.file.Files.write(f.toPath, Array[Byte](1))
      assert(f.setLastModified(System.currentTimeMillis() - day))
      f
    }
    val young = new File(path, ".manifest.tmp.cafebabe")
    java.nio.file.Files.write(young.toPath, Array[Byte](2))
    val removed = s2.sql(
      "CALL gproc.system.remove_orphan_files('orphtmp', 3600000)")
      .collect()(0).getLong(0)
    assert(removed == 0L, // tmps are metadata: not counted as DATA files
      s"data-file count must be 0, got $removed")
    stale.foreach(f =>
      assert(!f.exists(), s"stale staging tmp ${f.getName} must be swept"))
    assert(young.exists(), "young staging tmp may be a live writer mid-move")
    // the table itself is untouched
    assert(s2.sql("SELECT count(*) FROM gproc.orphtmp")
      .collect()(0).getLong(0) == 300)
    young.delete()
  }

  test("SHOW PROCEDURES lists the surface; DESCRIBE PROCEDURE works; unknown procedure fails loudly") {
    val shown = s2.sql("SHOW PROCEDURES IN gproc.system").collect()
      .map(_.toString).mkString("\n")
    assert(Seq("purge_deletes", "restore", "compact", "expire_snapshots")
      .forall(shown.contains))
    val desc = s2.sql("DESCRIBE PROCEDURE gproc.system.restore").collect()
      .map(_.toString).mkString
    assert(desc.contains("restore"))
    val e = intercept[Exception] {
      s2.sql("CALL gproc.system.no_such_proc('x')").collect()
    }
    assert(e.getMessage.contains("no_such_proc") ||
      e.getMessage.contains("available"))
  }
}
