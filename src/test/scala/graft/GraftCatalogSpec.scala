package graft

import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.Identifier

/** GraftCatalog (round 7): the SQL-DDL lifecycle over GraftStore tables.
  * The end-to-end CTAS→INSERT→SELECT value check is the driver's oracle
  * on q_catalog_sql; this suite covers the catalog CONTRACT — create /
  * duplicate-create / load-missing / list / rename / drop — and that the
  * manifest protocol's crash-safety claims hold at the catalog level
  * (empty manifest visible atomically, drop removes the manifest first).
  */
class GraftCatalogSpec extends SparkSuite {

  private lazy val session = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.g.root",
      graft.ops.Util.managedTempDir("graft_catalog_spec_"))
    s2
  }
  private def catalog = session.sessionState.catalogManager
    .catalog("g").asInstanceOf[graft.sources.GraftCatalog]

  test("create / list / load / duplicate-create / drop lifecycle") {
    session.sql("CREATE TABLE g.t1 (k INT, v STRING)")
    assert(catalog.listTables(Array.empty).map(_.name()).contains("t1"))
    val t = catalog.loadTable(Identifier.of(Array.empty, "t1"))
    assert(t.schema().fieldNames.sameElements(Array("k", "v")))
    intercept[TableAlreadyExistsException] {
      catalog.createTable(Identifier.of(Array.empty, "t1"),
        t.schema(), Array.empty, new java.util.HashMap[String, String]())
    }
    assert(catalog.dropTable(Identifier.of(Array.empty, "t1")))
    assert(!catalog.dropTable(Identifier.of(Array.empty, "t1")))
    intercept[NoSuchTableException] {
      catalog.loadTable(Identifier.of(Array.empty, "t1"))
    }
  }

  test("SQL end-to-end: CTAS + INSERT INTO + SELECT survive a catalog restart") {
    session.sql("DROP TABLE IF EXISTS g.agg")
    session.range(0, 100).createOrReplaceTempView("r")
    session.sql(
      "CREATE TABLE g.agg AS SELECT id % 5 AS k, count(*) AS n FROM r GROUP BY 1")
    session.sql(
      "INSERT INTO g.agg SELECT id % 5 + 100 AS k, count(*) AS n FROM r GROUP BY 1")
    val rows = session.sql("SELECT k, n FROM g.agg ORDER BY k").collect()
    assert(rows.length == 10 && rows.forall(_.getLong(1) == 20L))
    // a FRESH session over the same root sees the committed table: the
    // storage is the metadata, no session state involved
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.catalog.g2", "graft.sources.GraftCatalog")
    s3.conf.set("spark.sql.catalog.g2.root",
      session.conf.get("spark.sql.catalog.g.root"))
    assert(s3.sql("SELECT sum(n) FROM g2.agg").head.getLong(0) == 200L)
  }

  test("rename moves the table; old name gone, content intact") {
    session.sql("DROP TABLE IF EXISTS g.a")
    session.sql("DROP TABLE IF EXISTS g.b")
    session.sql("CREATE TABLE g.a AS SELECT 1 AS x")
    catalog.renameTable(Identifier.of(Array.empty, "a"),
      Identifier.of(Array.empty, "b"))
    intercept[NoSuchTableException] {
      catalog.loadTable(Identifier.of(Array.empty, "a"))
    }
    assert(session.sql("SELECT x FROM g.b").head.getInt(0) == 1)
  }

  test("VERSION AS OF reads a past snapshot through plain SQL") {
    session.sql("DROP TABLE IF EXISTS g.tt")
    // staged CTAS (round 13) publishes atomically as ONE snapshot: v1
    // already carries the SELECT's content (no empty-create version)
    session.sql("CREATE TABLE g.tt AS SELECT 1 AS x") // snapshot v1
    session.sql("INSERT INTO g.tt SELECT 2 AS x") // snapshot v2
    assert(session.sql("SELECT x FROM g.tt ORDER BY x")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(session.sql("SELECT x FROM g.tt VERSION AS OF 1 ORDER BY x")
      .collect().map(_.getInt(0)).toSeq == Seq(1),
      "VERSION AS OF did not read the pre-insert snapshot")
    intercept[Exception] {
      session.sql("SELECT x FROM g.tt VERSION AS OF 99").collect()
    }
  }

  test("TIMESTAMP AS OF resolves to the latest snapshot at or before the instant") {
    import graft.sources.GraftStore
    session.sql("DROP TABLE IF EXISTS g.ts")
    session.sql("CREATE TABLE g.ts AS SELECT 1 AS x") // v1 create, v2 write
    Thread.sleep(25) // millisecond commit-clock resolution
    session.sql("INSERT INTO g.ts SELECT 2 AS x") // v3
    val root = session.conf.get("spark.sql.catalog.g.root")
    val snaps = GraftStore.snapshotFiles(s"$root/ts")
    val Seq(ts2, ts3) = snaps.takeRight(2).map(GraftStore.snapshot(_).get.ts)
    assert(ts2 > 0 && ts3 > ts2, "commits must record increasing !ts headers")
    // an instant between the two commits reads the pre-insert snapshot;
    // session tz is UTC, so format the millis as a UTC timestamp literal
    def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    val between = (ts2 + ts3) / 2
    assert(session.sql(
      s"SELECT x FROM g.ts TIMESTAMP AS OF '${iso(between)}' ORDER BY x")
      .collect().map(_.getInt(0)).toSeq == Seq(1),
      "TIMESTAMP AS OF between commits must read the earlier snapshot")
    assert(session.sql(
      s"SELECT x FROM g.ts TIMESTAMP AS OF '${iso(ts3 + 1)}' ORDER BY x")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2),
      "TIMESTAMP AS OF after the last commit must read the current table")
    val e = intercept[Exception] {
      session.sql(s"SELECT x FROM g.ts TIMESTAMP AS OF '${iso(ts2 - 60000)}'")
        .collect()
    }
    assert(e.getMessage.contains("history starts later"),
      s"expected the pre-history refusal, got: ${e.getMessage}")
  }

  test("ADD COLUMN: metadata-only commit, null-padded old files, old schema via time travel") {
    import graft.sources.GraftStore
    session.sql("DROP TABLE IF EXISTS g.ev")
    session.sql("CREATE TABLE g.ev AS SELECT 1 AS a") // v1 (atomic staged CTAS)
    val root = session.conf.get("spark.sql.catalog.g.root")
    val path = s"$root/ev"
    val preFiles = GraftStore.readManifest(path).get._2
    session.sql("ALTER TABLE g.ev ADD COLUMN b BIGINT") // v2: schema-line commit
    // metadata-only: same data files, byte-identical entries, new version
    val postAlter = GraftStore.readManifest(path).get
    assert(postAlter._1.fieldNames.toSeq == Seq("a", "b"))
    assert(postAlter._2.map(_.file) == preFiles.map(_.file),
      "ALTER must not touch data files")
    assert(GraftStore.readVersion(path) == 2)
    session.sql("INSERT INTO g.ev SELECT 2 AS a, CAST(20 AS BIGINT) AS b") // v3
    assert(session.sql("SELECT a, b FROM g.ev ORDER BY a")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((1, -1L), (2, 20L)),
      "old rows must null-pad the appended column")
    // pre-ALTER snapshot still reads the OLD schema
    assert(session.sql("SELECT * FROM g.ev VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("a"))
    // arity recorded per file: the pre-ALTER file is narrower
    assert(GraftStore.readManifest(path).get._2.map(_.cols).sorted == Seq(1, 2))
    // only nullable end-appended ADD COLUMN is supported
    intercept[Exception] { session.sql("ALTER TABLE g.ev DROP COLUMN b") }
    intercept[Exception] {
      session.sql("ALTER TABLE g.ev ADD COLUMN c INT NOT NULL")
    }
    // mixed-arity files never share a compaction bin (frame widths differ)
    session.sql("INSERT INTO g.ev SELECT 3 AS a, CAST(30 AS BIGINT) AS b")
    GraftStore.compact(spark, path, 1L << 30)
    val packed = GraftStore.readManifest(path).get._2
    assert(packed.map(_.cols).sorted == Seq(1, 2),
      s"compaction spliced mixed-arity frames: $packed")
    assert(session.sql("SELECT a, b FROM g.ev ORDER BY a")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((1, -1L), (2, 20L), (3, 30L)))
  }

  test("$snapshots and $files metadata tables answer from manifest walks") {
    session.sql("CREATE TABLE g.meta (id BIGINT) USING graft")
    session.sql("INSERT INTO g.meta SELECT * FROM range(0, 30)")
    session.sql("INSERT INTO g.meta SELECT * FROM range(30, 100)")
    // v1 = empty create, v2 = +30, v3 = +100
    val snaps = session.sql(
      "SELECT version, n_rows FROM g.`meta$snapshots` ORDER BY version").collect()
    assert(snaps.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (2L, 30L), (3L, 100L)), snaps.mkString(","))
    val files = session.sql(
      "SELECT file, rows FROM g.`meta$files` ORDER BY file").collect()
    assert(files.map(_.getLong(1)).sum == 100, files.mkString(","))
    assert(files.forall(_.getString(0).startsWith("data/")), files.mkString(","))
    // a metadata table over a missing base refuses
    intercept[Exception] { session.sql("SELECT * FROM g.`nope$snapshots`").collect() }
  }

  test("$partitions metadata table: per-cell files/rows, NULL catch-all for unprovable files") {
    import org.apache.spark.sql.functions._
    import session.implicits._
    session.range(0, 300).select($"id", ($"id" % 3).as("g"))
      .createOrReplaceTempView("pmeta_src")
    session.sql("CREATE TABLE g.pmeta PARTITIONED BY (g) AS SELECT * FROM pmeta_src")
    val rows = session.sql(
      "SELECT `partition`, n_files, n_rows FROM g.`pmeta$partitions` ORDER BY `partition`")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("g=0", 1L, 100L), ("g=1", 1L, 100L), ("g=2", 1L, 100L)),
      rows.mkString(","))
    // a multi-cell file pins no single g value — it must land in the
    // NULL catch-all row, never a guessed cell. Compaction bins within
    // one partition value, so merge the cells while the table has no
    // spec; the restored spec leaves the old file's layout as it is
    val path = session.conf.get("spark.sql.catalog.g.root") + "/pmeta"
    graft.sources.GraftStore.evolvePartitionBy(path, None)
    graft.sources.GraftStore.compact(session, path, Long.MaxValue)
    graft.sources.GraftStore.evolvePartitionBy(path, Some("g"))
    val after = session.sql(
      "SELECT `partition`, n_files, n_rows FROM g.`pmeta$partitions`")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSeq
    assert(after == Seq((None, 1L, 300L)), after.mkString(","))
    // hour-grain cells render human-readable
    session.sql("SELECT timestamp_seconds(1704067200 + id * 600) AS ts, id AS v FROM range(0, 12)")
      .createOrReplaceTempView("pmeta_hr")
    session.sql("CREATE TABLE g.pmetah PARTITIONED BY (hours(ts)) AS SELECT * FROM pmeta_hr ORDER BY ts")
    val hr = session.sql(
      "SELECT `partition`, n_rows FROM g.`pmetah$partitions` ORDER BY `partition`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hr == Seq(("ts_hour=2024-01-01-00", 6L), ("ts_hour=2024-01-01-01", 6L)),
      hr.mkString(","))
  }

  test("identifier segments cannot escape the catalog root") {
    intercept[IllegalArgumentException] {
      catalog.loadTable(Identifier.of(Array.empty, ".."))
    }
    intercept[IllegalArgumentException] {
      catalog.loadTable(Identifier.of(Array("x/y"), "t"))
    }
  }

  test("integral stats pruning is exact beyond 2^53: a decided file answers without a residual") {
    // 2^53 and 2^53 + 1 are one double; compared through double, the
    // 2^53 + 1 partition's file (min = max) decides AllRows for
    // `k = 2^53`, and complete filter acceptance drops the residual
    session.sql("DROP TABLE IF EXISTS g.big")
    session.sql("CREATE TABLE g.big (k BIGINT, v STRING) PARTITIONED BY (k)")
    session.sql("INSERT INTO g.big VALUES (9007199254740993, 'big'), (5, 'small')")
    def ks(where: String): Seq[Long] =
      session.sql(s"SELECT k FROM g.big WHERE $where").collect().map(_.getLong(0)).toSeq.sorted
    val count = session.sql("SELECT count(*) FROM g.big WHERE k = 9007199254740992")
      .head.getLong(0)
    // every case is checked, so a failure names all the wrong answers
    val wrong = Seq(
      "k = 2^53" -> (ks("k = 9007199254740992"), Nil),
      "count(*) where k = 2^53" -> (Seq(count), Seq(0L)),
      "k IN (2^53)" -> (ks("k IN (9007199254740992)"), Nil),
      "k > 2^53" -> (ks("k > 9007199254740992"), Seq(9007199254740993L)))
      .filter { case (_, (got, want)) => got != want }
    assert(wrong.isEmpty, wrong.mkString("; "))
    assert(ks("k = 9007199254740993") == Seq(9007199254740993L))
  }
}
