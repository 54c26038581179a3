package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.GraftStore

/** Merge-on-read DML (round 12): `write.mode=merge-on-read` routes
  * DELETE/UPDATE/MERGE through the delta (deletion-vector) write path.
  * The core claim — write amplification ∝ matched ROWS, not files — is
  * pinned physically: matched data files' bytes are UNTOUCHED (mtime +
  * length proof), only position sidecars and insert files land.
  */
class GraftStoreMorSpec extends SparkSuite {

  private def freshMor(tag: String): (org.apache.spark.sql.SparkSession, String, String) = {
    val root = graft.ops.Util.managedTempDir(s"graft_mor_${tag}_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gmor", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmor.root", root)
    s2.range(0, 300, 1, 3).selectExpr("id AS k", "id * 10 AS v")
      .createOrReplaceTempView("mor_src")
    s2.sql(
      """CREATE TABLE gmor.t (k BIGINT, v BIGINT)
        |TBLPROPERTIES('write.mode'='merge-on-read')""".stripMargin)
    s2.sql("INSERT INTO gmor.t SELECT * FROM mor_src")
    (s2, root, s"$root/t")
  }

  private def dataFiles(path: String): Map[String, (Long, Long)] =
    Option(new File(path, "data").listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.contains(".dv."))
      .map(f => f.getName -> (f.lastModified(), f.length())).toMap

  test("MOR DELETE: matched files' bytes untouched, only DV sidecars land; results exact") {
    val (s2, _, path) = freshMor("del")
    val before = dataFiles(path)
    assert(before.size == 3)
    s2.sql("DELETE FROM gmor.t WHERE k % 7 = 3")
    val after = dataFiles(path)
    assert(after == before,
      "merge-on-read DELETE must not rewrite, touch or add data files " +
        s"(before=$before after=$after)")
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.dv.nonEmpty), "every touched file carries a DV")
    assert(entries.map(_.rows).sum == (0L until 300L).count(_ % 7 != 3))
    // read-back applies vectors as a frame skip
    val got = s2.sql("SELECT count(*) AS n, sum(v) AS s FROM gmor.t").collect()(0)
    val keep = (0L until 300L).filter(_ % 7 != 3)
    assert(got.getLong(0) == keep.size && got.getLong(1) == keep.map(_ * 10).sum)
    // a SECOND delete composes: cumulative sidecars, data files still byte-identical
    s2.sql("DELETE FROM gmor.t WHERE k % 5 = 0")
    assert(dataFiles(path) == before, "second MOR DELETE touched data files")
    val keep2 = keep.filterNot(_ % 5 == 0)
    assert(s2.sql("SELECT count(*) FROM gmor.t").collect()(0).getLong(0) == keep2.size)
    assert(GraftStore.readOpOf(new File(path,
      s"_manifest.v${GraftStore.readVersion(path)}")) == "delete")
  }

  test("MOR UPDATE: delete+insert — old files untouched, one insert file, rows exact") {
    val (s2, _, path) = freshMor("upd")
    val before = dataFiles(path)
    s2.sql("UPDATE gmor.t SET v = v + 1000000 WHERE k % 10 = 4")
    val after = dataFiles(path)
    assert(before.forall { case (f, sig) => after.get(f).contains(sig) },
      "MOR UPDATE rewrote a matched data file")
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.startsWith("mor-")),
      s"updated rows must land in fresh insert files, got $added")
    val rows = s2.sql("SELECT k, v FROM gmor.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == (0L until 300L).map(k =>
      (k, if (k % 10 == 4) k * 10 + 1000000 else k * 10)))
  }

  test("MOR MERGE: all three arms in one commit; write amplification ∝ matched rows") {
    val (s2, _, path) = freshMor("mrg")
    val before = dataFiles(path)
    val vBefore = GraftStore.readVersion(path)
    s2.sql(
      """CREATE OR REPLACE TEMPORARY VIEW mor_batch AS
        |SELECT id AS k, id * 100 AS v FROM range(250, 350)""".stripMargin)
    s2.sql(
      """MERGE INTO gmor.t t USING mor_batch s ON t.k = s.k
        |WHEN MATCHED AND s.k % 2 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    // ONE commit (delete vectors + update-reinserts + inserts together)
    assert(GraftStore.readVersion(path) == vBefore + 1,
      "a MOR MERGE must be one atomic commit")
    val after = dataFiles(path)
    assert(before.forall { case (f, sig) => after.get(f).contains(sig) },
      "MOR MERGE rewrote a pre-existing data file")
    // expected state replayed relationally
    val expected =
      (0L until 250L).map(k => (k, k * 10)) ++ // untouched
        (250L until 300L).filter(_ % 2 != 0).map(k => (k, k * 100)) ++ // updated
        (300L until 350L).map(k => (k, k * 100)) // inserted
    val rows = s2.sql("SELECT k, v FROM gmor.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == expected.sortBy(_._1))
    // write amplification: sidecars address exactly the 50 matched rows
    // (25 deleted + 25 update-deletes); the bytes written are sidecars +
    // one insert file, never the 3 base files
    val dvBytes = Option(new File(path, "data").listFiles()).get
      .filter(_.getName.contains(".dv.")).map(_.length()).sum
    assert(dvBytes < 4096, s"DV sidecars should be tiny, got $dvBytes bytes")
  }

  test("MOR change feed: dv-delta deletes + inserted files; purge restores clean files") {
    val (s2, _, path) = freshMor("cdf")
    val v1 = GraftStore.readVersion(path)
    s2.sql("DELETE FROM gmor.t WHERE k >= 0 AND k < 10")
    val v2 = GraftStore.readVersion(path)
    val feed = s2.read.format("graft.sources.GraftStore").option("path", path)
      .option("changesFrom", v1.toString).option("changesTo", v2.toString).load()
    val changes = feed.select(col("k"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(changes == (0L until 10L).map(k => (k, "delete")),
      s"feed must emit exactly the newly-deleted rows, got $changes")
    // purge folds vectors into clean files; results unchanged, DVs gone
    GraftStore.purgeDeletes(s2, path)
    assert(GraftStore.readManifest(path).get._2.forall(_.dv.isEmpty))
    assert(s2.sql("SELECT count(*) FROM gmor.t").collect()(0).getLong(0) == 290)
  }

  test("MOR conflict: a touched file changed under the delta write fails loudly") {
    val (s2, _, path) = freshMor("cfl")
    val file0 = GraftStore.readManifest(path).get._2.head.file
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    // delta write planned against the CURRENT state (no DVs yet)…
    val bw = new graft.sources.GraftStoreDeltaBatchWrite(path,
      GraftStore.readManifest(path).get._1, Command.DELETE, 0, 1)
    // …then another DML delete-vectors the same file underneath it
    s2.sql("DELETE FROM gmor.t WHERE k % 13 = 0")
    assert(GraftStore.readManifest(path).get._2
      .find(_.file == file0).exists(_.dv.nonEmpty))
    val msg = graft.sources.GraftStoreDeltaMessage(
      Seq(graft.sources.GraftStoreDvSummary(file0, s"$file0.dv.test", 1L)),
      Seq.empty)
    val e = intercept[GraftStore.ConflictException] {
      bw.commit(Array(msg))
    }
    assert(e.getMessage.contains("changed under it"), e.getMessage)
  }

  test("MOR on a PARTITIONED table: inserts roll per value, partition delete stays metadata-only") {
    val root = graft.ops.Util.managedTempDir("graft_mor_part_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gmp", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmp.root", root)
    s2.sql(
      """CREATE TABLE gmp.t (k BIGINT, g BIGINT, v BIGINT)
        |PARTITIONED BY (g)
        |TBLPROPERTIES('write.mode'='merge-on-read')""".stripMargin)
    s2.sql("INSERT INTO gmp.t SELECT id, id % 3, id * 10 FROM range(0, 300)")
    val path = s"$root/t"
    assert(GraftStore.readManifest(path).get._2.size == 3)
    // MERGE inserts rows in all three partitions + deletes some existing
    s2.sql(
      """MERGE INTO gmp.t t
        |USING (SELECT id AS k, id % 3 AS g, id * 100 AS v
        |       FROM range(250, 400)) s
        |ON t.k = s.k
        |WHEN MATCHED AND s.k % 2 = 0 THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)""".stripMargin)
    val entries = GraftStore.readManifest(path).get._2
    // every entry — pre-existing AND MOR-inserted — stays single-valued
    // on g (the rolling insert writer preserved the layout invariant)
    entries.foreach { e =>
      val st = e.stats("g")
      assert(st.min == st.max,
        s"${e.file} spans g=[${st.min},${st.max}] — MOR insert broke the layout")
    }
    assert(entries.exists(e => e.file.startsWith("data/mor-")))
    // rows exact
    // matched evens in 250..299 deleted (25); every 300..399 inserted
    val expected = (0L until 300L).count(k => !(k >= 250 && k % 2 == 0)) + 100
    assert(s2.sql("SELECT count(*) FROM gmp.t").collect()(0).getLong(0) == expected)
    // partition delete after MOR history: metadata-decidable for g=2 only
    // if its files are whole-entry decidable — DV'd entries have unknown
    // null counts but EqualTo-AllRows needs nulls==0… so purge first (the
    // documented maintenance valve), then the partition drop is pure metadata
    GraftStore.purgeDeletes(s2, path)
    val mtimes = Option(new java.io.File(path, "data").listFiles()).get
      .map(f => f.getName -> f.lastModified()).toMap
    s2.sql("DELETE FROM gmp.t WHERE g = 2")
    assert(GraftStore.readOpOf(new java.io.File(path,
      s"_manifest.v${GraftStore.readVersion(path)}")) == "delete")
    val after = Option(new java.io.File(path, "data").listFiles()).get
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after.forall { case (f, m) => mtimes.get(f).contains(m) },
      "partition delete must be metadata-only (no file writes)")
    assert(s2.sql("SELECT count(*) FROM gmp.t WHERE g = 2").collect()(0).getLong(0) == 0)
  }

  test("sequential MERGEs compose DVs: epoch N merges into already-vectored files") {
    // the q_stream_upsert_mor shape in miniature: an apply loop of
    // guarded MERGEs against one MOR target. Each epoch touches a
    // DISJOINT key stride spread across every original file, so epoch
    // 2's matches hit files already carrying epoch 1's vector — its
    // positions must UNION with the existing vector (physical
    // pre-deletion ordinals), and the final read must see exactly the
    // per-epoch last-writer state.
    val (s2, _, path) = freshMor("seq")
    val before = dataFiles(path)
    for (epoch <- 1 to 3) {
      s2.range(0, 300).filter(col("id") % 7 === epoch)
        .selectExpr("id AS k", s"id + ${epoch * 1000000} AS v")
        .createOrReplaceTempView("seq_batch")
      s2.sql(
        """MERGE INTO gmor.t t USING seq_batch s ON t.k = s.k
          |WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    }
    // k % 7 ∈ {1,2,3} carries its epoch's value; everything else original
    val got = s2.sql(
      "SELECT count(*) AS n, sum(v) AS s FROM gmor.t").collect().head
    val expect = (0L until 300L).map { k =>
      val e = k % 7
      if (e >= 1 && e <= 3) k + e * 1000000L else k * 10L
    }.sum
    assert(got.getLong(0) == 300L && got.getLong(1) == expect, got)
    // the original files are byte-untouched after three merges (updated
    // rows land in fresh mor-* insert files), and each original carries
    // ONE composed vector (never dropped, never rewritten)
    val after = dataFiles(path)
    assert(before.forall { case (f, sig) => after.get(f).contains(sig) },
      s"sequential MOR MERGEs rewrote an original data file ($before -> $after)")
    val entries = GraftStore.readManifest(path).get._2
    val originals = entries.filterNot(_.file.contains("mor-"))
    assert(originals.size == 3 && originals.forall(_.dv.nonEmpty),
      s"every original file must carry a composed DV, got $entries")
    // live-row accounting composed too: 3 epochs × ~43 deletes each
    val deletedPerEpoch = (1 to 3).map(e => (0L until 300L).count(_ % 7 == e))
    assert(originals.map(_.rows).sum == 300L - deletedPerEpoch.sum)
  }

  test("copy-on-write stays the default: same MERGE without the property rewrites files") {
    val root = graft.ops.Util.managedTempDir("graft_mor_cow_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gcw", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gcw.root", root)
    s2.sql("CREATE TABLE gcw.t AS SELECT id AS k, id * 10 AS v FROM range(0, 100)")
    val path = s"$root/t"
    s2.sql("DELETE FROM gcw.t WHERE k % 7 = 3")
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.dv.isEmpty),
      "without write.mode=merge-on-read, DML must stay copy-on-write")
    assert(entries.map(_.rows).sum == (0L until 100L).count(_ % 7 != 3))
  }

  test("MERGE WITH SCHEMA EVOLUTION: COW and MOR both auto-ADD the source's new column metadata-only and take their own write path") {
    // source carries `w`, which the target lacks: evens update (get w),
    // key 1000 inserts (carries w natively), odds keep NULL-padded w
    def runEvolved(s2: org.apache.spark.sql.SparkSession): Unit = {
      s2.range(0, 100).selectExpr("id AS k", "id * 10 AS v")
        .union(s2.range(1000, 1001).selectExpr("id AS k", "id * 10 AS v"))
        .selectExpr("k", "v", "k * 7 AS w")
        .filter("k % 2 = 0 OR k = 1000").createOrReplaceTempView("ev_src")
      s2.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO gmse.t t
          |USING ev_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    def checkContent(s2: org.apache.spark.sql.SparkSession, path: String): Unit = {
      val (schema, _) = GraftStore.readManifest(path).get
      assert(schema.fieldNames.toSeq == Seq("k", "v", "w"),
        s"evolved schema: ${schema.fieldNames.mkString(",")}")
      val rows = s2.sql(
        "SELECT count(*) AS n, count(w) AS nw, sum(w) AS sw FROM gmse.t")
        .collect()(0)
      assert(rows.getLong(0) == 101, s"rows ${rows.getLong(0)}")
      // 50 evens + the insert carry w; 50 odds are NULL-padded
      assert(rows.getLong(1) == 51, s"w-carrying ${rows.getLong(1)}")
      assert(rows.getLong(2) ==
        ((0L until 100L by 2).sum + 1000L) * 7L, s"sum(w) ${rows.getLong(2)}")
    }
    // copy-on-write: the matched files rewrite (no DVs anywhere)
    locally {
      val root = graft.ops.Util.managedTempDir("graft_mse_cow_")
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.gmse", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gmse.root", root)
      s2.sql("CREATE TABLE gmse.t AS SELECT id AS k, id * 10 AS v FROM range(0, 100)")
      runEvolved(s2)
      checkContent(s2, s"$root/t")
      assert(GraftStore.readManifest(s"$root/t").get._2.forall(_.dv.isEmpty),
        "COW evolved merge must not produce DVs")
    }
    // merge-on-read: matched files' bytes untouched, DVs + insert files
    locally {
      val root = graft.ops.Util.managedTempDir("graft_mse_mor_")
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.gmse", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.gmse.root", root)
      s2.sql("""CREATE TABLE gmse.t (k BIGINT, v BIGINT)
        |TBLPROPERTIES('write.mode'='merge-on-read')""".stripMargin)
      s2.sql("INSERT INTO gmse.t SELECT id AS k, id * 10 AS v FROM range(0, 100)")
      val path = s"$root/t"
      val before = dataFiles(path)
      runEvolved(s2)
      checkContent(s2, path)
      val after = dataFiles(path)
      assert(before.forall { case (f, sig) => after.get(f).contains(sig) },
        s"MOR evolved merge must leave pre-merge data files' bytes untouched (before=$before after=$after)")
      assert(GraftStore.readManifest(path).get._2.exists(_.dv.nonEmpty),
        "MOR evolved merge must route matches through DVs")
    }
  }

  test("restore across MOR deletes: the change feed emits resurrection INSERTs and the fold reconstructs") {
    // found by CdfFuzzSpec (MoR + restore): restore re-commits the old
    // entries verbatim, so a deletion vector can SHRINK (to none) and an
    // equality delete can DISAPPEAR across one commit — the planner's
    // grow-only dv-delta crashed on the empty dv path and emitted no
    // resurrection images. Pinned here deterministically for both
    // mechanisms at once.
    import spark.implicits._
    val (s2, _, path) = freshMor("restorecdf")          // v1 create, v2: 0..299
    s2.sql("DELETE FROM gmor.t WHERE k < 10")           // v3: DV delete
    GraftStore.deleteByKey(s2, path,
      s2.range(290, 300).selectExpr("id AS k"))         // v4: eq delete
    assert(s2.sql("SELECT count(*) FROM gmor.t").collect()(0).getLong(0)
      == 280)
    s2.sql("CALL gmor.system.restore('t', 2)").collect() // v5: revive all
    assert(s2.sql("SELECT count(*) FROM gmor.t").collect()(0).getLong(0)
      == 300, "restore must revive both delete mechanisms' rows")
    val feed = s2.read.format("graft.sources.GraftStore")
      .option("path", path).option("changesFrom", "0").load()
    // the restore commit's slice is pure resurrection: the 10
    // dv-deleted and 10 eq-deleted keys return as INSERTs, no deletes
    val atRestore = feed.filter($"_commit_version" === 5)
    assert(atRestore.filter($"_change_type" === "delete").count() == 0,
      "a pure restore-revival must emit no deletes")
    val revived = atRestore.filter($"_change_type" === "insert")
      .select($"k").collect().map(_.getLong(0)).sorted.toSeq
    assert(revived == ((0L until 10L) ++ (290L until 300L)),
      s"expected exactly the 20 revived keys, got $revived")
    // and the full fold reconstructs the final table
    val folded = feed.filter($"_change_type" === "insert").select($"k", $"v")
      .exceptAll(feed.filter($"_change_type" === "delete").select($"k", $"v"))
      .collect().map(_.toString).sorted.toSeq
    val current = s2.table("gmor.t").select($"k", $"v")
      .collect().map(_.toString).sorted.toSeq
    assert(folded == current, "fold across the restore diverges")
  }

  test("signed incremental MV refresh stays exact across a restore (rollback-safe IVM)") {
    // the nightly warehouse loop (q_store_mv's +insert/-delete fold)
    // composed with an ops rollback: the resurrection INSERTs the
    // restore commit now emits are exactly what keeps the rollup in
    // lockstep without a rescan
    import spark.implicits._
    val (s2, _, path) = freshMor("ivmrestore")
    val v1 = GraftStore.readVersion(path)
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(($"k" % 10).as("b"))
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
    val mv0 = rollup(s2.table("gmor.t")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    s2.sql("DELETE FROM gmor.t WHERE k % 7 = 0")          // DV delete
    GraftStore.deleteByKey(s2, path,
      s2.range(250, 260).selectExpr("id AS k"))           // eq delete
    s2.sql("INSERT INTO gmor.t SELECT id AS k, id AS v FROM range(500, 550)")
    s2.sql(s"CALL gmor.system.restore('t', $v1)").collect() // rollback
    val v2 = GraftStore.readVersion(path)
    val sgn = when($"_change_type" === "insert", 1L).otherwise(-1L)
    val delta = s2.read.format("graft.sources.GraftStore")
      .option("path", path).option("changesFrom", v1.toString)
      .option("changesTo", v2.toString).load()
      .groupBy(($"k" % 10).as("b"))
      .agg(sum($"v" * sgn).as("s"), sum(sgn).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val refreshed = (mv0.keySet ++ delta.keySet).map { b =>
      val (s0, n0) = mv0.getOrElse(b, (0L, 0L))
      val (ds, dn) = delta.getOrElse(b, (0L, 0L))
      b -> (s0 + ds, n0 + dn)
    }.filter(_._2._2 > 0).toMap
    val recomputed = rollup(s2.table("gmor.t")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(refreshed == recomputed,
      s"incremental refresh diverged from recompute across the restore: " +
        s"refreshed=$refreshed recomputed=$recomputed")
  }

  /** The store scan under `df`'s plan, before adaptive execution. */
  private def storeScan(df: org.apache.spark.sql.DataFrame): graft.sources.GraftStoreScan = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val pre = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = pre.collect { case b: BatchScanExec => b.scan }
      .collect { case g: graft.sources.GraftStoreScan => g }
    assert(scans.size == 1, s"expected one store scan:\n$pre")
    scans.head
  }

  private def assertSingleValued(path: String, col: String): Unit =
    GraftStore.readManifest(path).get._2.foreach { e =>
      val st = e.stats(col)
      assert(st.nulls == 0 && st.min.nonEmpty && st.min == st.max,
        s"${e.file} is not provably single-valued on $col: $st")
    }

  test("MOR DELETE on a PARTITIONED BY table: exact rows, files stay single-valued on the partition column") {
    val root = graft.ops.Util.managedTempDir("graft_mor_pdel_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gpd", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gpd.root", root)
    s2.sql(
      """CREATE TABLE gpd.t (k BIGINT, g BIGINT, v BIGINT)
        |PARTITIONED BY (g)
        |TBLPROPERTIES('write.mode'='merge-on-read')""".stripMargin)
    s2.sql("INSERT INTO gpd.t SELECT id, id % 3, id * 10 FROM range(0, 300)")
    val path = s"$root/t"
    // a row-level DELETE by a non-partition predicate: the delta input
    // carries only row ids, never the partition column
    s2.sql("DELETE FROM gpd.t WHERE k % 7 = 3")
    val rows = s2.sql("SELECT k, g, v FROM gpd.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == (0L until 300L).filter(_ % 7 != 3).map(k => (k, k % 3, k * 10)))
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.size == 3 && entries.forall(_.dv.nonEmpty),
      entries.map(e => (e.file, e.dv)).mkString(", "))
    assertSingleValued(path, "g")
    assert(storeScan(s2.table("gpd.t")).outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
  }

  test("a deletion-vector commit keeps an exact zero null count and demotes a non-zero one") {
    val (s2, _, path) = freshMor("dvnulls")
    s2.sql("INSERT INTO gmor.t SELECT id, IF(id % 5 = 0, NULL, id) FROM range(300, 400)")
    val vNulls = GraftStore.readManifest(path).get._2.map(e => e.file -> e.stats("v").nulls).toMap
    assert(vNulls.values.exists(_ == 0L) && vNulls.values.exists(_ > 0L), vNulls.toString)
    // SQL DELETE (the delta write) and the deleteWhereDV API share the rule
    s2.sql("DELETE FROM gmor.t WHERE k % 7 = 3")
    GraftStore.deleteWhereDV(s2, path, col("k") % 11 === 1)
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.map(_.file).toSet == vNulls.keySet && entries.forall(_.dv.nonEmpty))
    entries.foreach { e =>
      assert(e.stats("k").nulls == 0L, s"${e.file}: ${e.stats("k")}")
      assert(e.stats("v").nulls == (if (vNulls(e.file) == 0L) 0L else -1L),
        s"${e.file}: ${e.stats("v")}")
    }
    val keep = (0L until 400L).filter(k => k % 7 != 3 && k % 11 != 1)
    assert(s2.sql("SELECT count(*), count(v) FROM gmor.t").collect()(0).toSeq ==
      Seq(keep.size.toLong, keep.count(k => k < 300 || k % 5 != 0).toLong))
  }

  test("partitioned MOR through INSERT, MERGE, UPDATE, compact, purge_deletes: keyed scans pack one split per value and equal a CoW twin") {
    import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
    val root = graft.ops.Util.managedTempDir("graft_mor_keyed_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gk", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gk.root", root)
    Seq("mor" -> "TBLPROPERTIES('write.mode'='merge-on-read')", "cow" -> "").foreach {
      case (t, props) =>
        s2.sql(s"CREATE TABLE gk.$t (k BIGINT, g BIGINT, v BIGINT) PARTITIONED BY (g) $props")
        s2.sql(s"INSERT INTO gk.$t SELECT id, id % 3, id * 10 FROM range(0, 300)")
        s2.sql(s"INSERT INTO gk.$t SELECT id, id % 3, id * 10 FROM range(300, 450)")
        s2.sql(
          s"""MERGE INTO gk.$t t
             |USING (SELECT id AS k, id % 3 AS g, id * 100 AS v FROM range(250, 500)) s
             |ON t.k = s.k
             |WHEN MATCHED AND s.k % 2 = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s2.sql(s"UPDATE gk.$t SET v = v + 1 WHERE k % 13 = 5")
        s2.sql(s"DELETE FROM gk.$t WHERE k % 17 = 4")
    }
    val path = s"$root/mor"
    def contents(t: String) = s2.sql(s"SELECT k, g, v FROM gk.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def checkKeyedScan(): Unit = {
      assertSingleValued(path, "g")
      val byValue = GraftStore.readManifest(path).get._2.groupBy(_.stats("g").min.toLong)
      Seq(s2.table("gk.mor"), s2.sql("SELECT * FROM gk.mor WHERE k = 310")).foreach { df =>
        val scan = storeScan(df)
        assert(scan.outputPartitioning().isInstanceOf[KeyGroupedPartitioning],
          scan.outputPartitioning().toString)
        val splits = scan.planInputPartitions().toSeq.map {
          case s: graft.sources.GraftStoreKeyedSplit => s
          case p => fail(s"unkeyed input partition $p")
        }
        // one split per partition value, holding only that value's files
        assert(splits.map(_.keys).distinct.size == splits.size, splits.map(_.keys).toString)
        splits.foreach { s =>
          val g = s.keys.head.asInstanceOf[Long]
          assert(s.files.map(_.relPath).toSet.subsetOf(byValue(g).map(_.file).toSet),
            s"g=$g: ${s.files}")
        }
        assert(scan.description().contains(s"splits=${splits.size}"), scan.description())
      }
      // the full scan plans every file: each value's split holds all of them
      val full = storeScan(s2.table("gk.mor")).planInputPartitions().toSeq
        .map(_.asInstanceOf[graft.sources.GraftStoreKeyedSplit])
      assert(full.map(s => s.keys.head -> s.files.map(_.relPath).toSet).toMap ==
        byValue.map { case (g, es) => (g: Any) -> es.map(_.file).toSet })
      assert(contents("mor") == contents("cow"))
    }
    checkKeyedScan()
    val packed = storeScan(s2.table("gk.mor")).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftStoreKeyedSplit])
    assert(packed.length == 3 && packed.map(_.files.size).sum > 3,
      s"expected several files packed into 3 splits: ${packed.toSeq}")
    val filesBefore = GraftStore.readManifest(path).get._2.size
    s2.sql("CALL gk.system.compact('mor', 1073741824)").collect()
    s2.sql("CALL gk.system.purge_deletes('mor')").collect()
    s2.sql("CALL gk.system.compact('cow', 1073741824)").collect()
    checkKeyedScan()
    assert(GraftStore.readManifest(path).get._2.size < filesBefore)
  }

  test("compact on a partitioned table packs within one partition value: every packed file single-valued, content unchanged") {
    val root = graft.ops.Util.managedTempDir("graft_mor_pcompact_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gpc", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gpc.root", root)
    s2.sql("CREATE TABLE gpc.t (k BIGINT, g BIGINT, v BIGINT) PARTITIONED BY (g)")
    (0 until 3).foreach(i => s2.sql(
      s"INSERT INTO gpc.t SELECT id, id % 4, id * 10 FROM range(${i * 100}, ${i * 100 + 100})"))
    val path = s"$root/t"
    assert(GraftStore.readManifest(path).get._2.size == 12)
    val before = s2.sql("SELECT * FROM gpc.t ORDER BY k").collect().toSeq
    assert(GraftStore.compact(s2, path, Long.MaxValue) > 0)
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.size == 4, entries.map(_.file).mkString(", "))
    assertSingleValued(path, "g")
    assert(entries.map(_.stats("g").min.toLong).sorted == Seq(0L, 1L, 2L, 3L))
    assert(entries.map(_.rows).sum == 300L)
    assert(s2.sql("SELECT * FROM gpc.t ORDER BY k").collect().toSeq == before)
  }

  test("purge_deletes links its rewrite under fresh names: files at the scratch job's part-<p>-<t> names stay untouched") {
    val (s2, _, path) = freshMor("plant")
    s2.sql("DELETE FROM gmor.t WHERE k % 7 = 3")
    // task ids restart at 0 in every JVM, so a table written in an earlier
    // session can hold live or orphaned files at exactly the
    // part-<p>-<t> names the purge's scratch write takes next: plant them
    val lastTask = s2.sparkContext.parallelize(0 until 4, 4)
      .map(_ => org.apache.spark.TaskContext.get().taskAttemptId()).collect().max
    val planted = for (p <- 0 until 8; t <- lastTask + 1 to lastTask + 32)
      yield new File(path, s"data/part-$p-$t.bin")
    planted.foreach(f => java.nio.file.Files.write(f.toPath, f.getName.getBytes("UTF-8")))
    GraftStore.purgeDeletes(s2, path)
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.dv.isEmpty))
    assert(entries.map(_.file).intersect(planted.map(f => s"data/${f.getName}")).isEmpty)
    planted.foreach(f => assert(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") == f.getName,
      s"purge_deletes overwrote ${f.getName}"))
    val keep = (0L until 300L).filter(_ % 7 != 3)
    val got = s2.sql("SELECT count(*), sum(v) FROM gmor.t").collect()(0)
    assert(got.getLong(0) == keep.size && got.getLong(1) == keep.map(_ * 10).sum)
  }
}
