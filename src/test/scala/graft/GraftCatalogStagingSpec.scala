package graft

import java.io.File

import graft.sources.GraftStore

/** StagingTableCatalog (round 13): atomic CTAS and REPLACE TABLE AS.
  * CTAS publishes by one atomic directory move; RTAS publishes as a NEW
  * VERSION of the existing lineage (op=replace), so the replace is in
  * the history and pre-replace snapshots stay time-travelable. */
class GraftCatalogStagingSpec extends SparkSuite {

  private def freshCat(tag: String): (org.apache.spark.sql.SparkSession, String) = {
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir(s"graft_stg_${tag}_")
    s2.conf.set(s"spark.sql.catalog.gst$tag", "graft.sources.GraftCatalog")
    s2.conf.set(s"spark.sql.catalog.gst$tag.root", root)
    (s2, root)
  }

  test("RTAS is a commit, not a swap: op=replace in history, pre-replace snapshot time-travels, schema changes") {
    val (s2, root) = freshCat("rtas")
    s2.range(0, 100).selectExpr("id", "id % 5 AS g")
      .createOrReplaceTempView("stg_src")
    s2.sql("CREATE TABLE gstrtas.t AS SELECT * FROM stg_src WHERE id < 40")
    assert(s2.sql("SELECT count(*) FROM gstrtas.t").head.getLong(0) == 40)
    val preV = GraftStore.readVersion(s"$root/t")
    // replace with DIFFERENT content and a DIFFERENT schema
    s2.sql(
      """REPLACE TABLE gstrtas.t AS
        |SELECT id AS k, id * 2 AS doubled FROM stg_src WHERE id >= 40""".stripMargin)
    assert(s2.sql("SELECT count(*) FROM gstrtas.t").head.getLong(0) == 60)
    assert(s2.table("gstrtas.t").schema.fieldNames.toSeq == Seq("k", "doubled"))
    // the replace is IN the history; the pre-replace snapshot still reads
    val v = GraftStore.readVersion(s"$root/t")
    assert(GraftStore.snapshot(new File(s"$root/t", s"_manifest.v$v")).get.op
      == "replace")
    val old = s2.sql(s"SELECT * FROM gstrtas.t VERSION AS OF $preV")
    assert(old.schema.fieldNames.toSeq == Seq("id", "g"))
    assert(old.count() == 40)
    // CREATE OR REPLACE over the result works too (replace path again)
    s2.sql("CREATE OR REPLACE TABLE gstrtas.t AS SELECT 1 AS one")
    assert(s2.sql("SELECT one FROM gstrtas.t").head.getInt(0) == 1)
  }

  test("a failing CTAS leaves NO table and no staging debris; CREATE OR REPLACE creates when missing") {
    val (s2, root) = freshCat("abort")
    intercept[Exception] {
      s2.sql(
        """CREATE TABLE gstabort.boom AS
          |SELECT raise_error('mid-write failure') AS x""".stripMargin)
    }
    assert(!new File(s"$root/boom/_manifest").exists(),
      "failed CTAS must not leave a table")
    val staging = new File(s"$root/.staging")
    assert(!staging.exists() ||
      staging.listFiles().forall(!_.isDirectory) ||
      staging.listFiles().isEmpty,
      "aborted staged write must clean its scratch")
    // CREATE OR REPLACE on a missing table simply creates
    s2.sql("CREATE OR REPLACE TABLE gstabort.t AS SELECT 42 AS v")
    assert(s2.sql("SELECT v FROM gstabort.t").head.getInt(0) == 42)
    // the hidden staging dir never lists as a table
    assert(!s2.sql("SHOW TABLES IN gstabort").collect()
      .map(_.getString(1)).contains(".staging"))
  }

  test("TRUNCATE TABLE commits an empty snapshot; history stays time-travelable") {
    val (s2, root) = freshCat("trunc")
    s2.sql("CREATE TABLE gsttrunc.t AS SELECT 1 AS a UNION ALL SELECT 2")
    val preV = GraftStore.readVersion(s"$root/t")
    s2.sql("TRUNCATE TABLE gsttrunc.t")
    assert(s2.sql("SELECT count(*) FROM gsttrunc.t").head.getLong(0) == 0)
    assert(s2.sql(s"SELECT count(*) FROM gsttrunc.t VERSION AS OF $preV")
      .head.getLong(0) == 2, "pre-truncate snapshot must survive")
    s2.sql("INSERT INTO gsttrunc.t SELECT 3")
    assert(s2.sql("SELECT a FROM gsttrunc.t").head.getInt(0) == 3)
  }

  test("staged CTAS keeps the partitioned-write contract (per-value files)") {
    val (s2, root) = freshCat("part")
    s2.range(0, 200).selectExpr("id", "id % 4 AS cell")
      .createOrReplaceTempView("stg_part_src")
    s2.sql(
      """CREATE TABLE gstpart.t PARTITIONED BY (cell) AS
        |SELECT * FROM stg_part_src""".stripMargin)
    val entries = GraftStore.readManifest(s"$root/t").get._2
    assert(entries.nonEmpty && entries.forall { e =>
      val st = e.stats("cell"); st.min == st.max
    }, "staged partitioned CTAS must roll per value")
    assert(GraftStore.readPartitionBy(s"$root/t").contains("cell"))
    // and RTAS can change the spec: replace unpartitioned
    s2.sql("REPLACE TABLE gstpart.t AS SELECT id FROM stg_part_src")
    assert(GraftStore.readPartitionBy(s"$root/t").isEmpty)
  }
}
