package graft

import java.io.File

import graft.sources.GraftStore

/** Column RENAME and int->long WIDENING (round 13) — the two schema
  * evolutions beyond add-nullable-at-end, both metadata-only:
  *
  * RENAME needs no field ids because data files are positional
  * (length-framed UnsafeRow bytes); what it must remap is every
  * NAME-KEYED metadata consumer — per-entry stats keys (pruning),
  * equality-delete key lists (the probe), the partition spec. WIDEN
  * rides UnsafeRow's layout: every fixed-width slot is 8 bytes, so a
  * physically-int lane is sign-extended IN PLACE by the reader on files
  * the manifest marks `narrow` — no wrapper row, no copy hazards.
  */
class GraftStoreEvolveSpec extends SparkSuite {

  private def readT(path: String, versionAsOf: Long = -1L) = {
    val r = spark.read.format("graft.sources.GraftStore").option("path", path)
    if (versionAsOf >= 0) r.option("versionAsOf", versionAsOf.toString)
    r.load()
  }

  private def dataBytes(path: String): Map[String, (Long, Long)] =
    Option(new File(path, "data").listFiles()).getOrElse(Array.empty)
      .map(f => f.getName -> (f.lastModified(), f.length())).toMap

  // ----------------------------------------------------------- rename

  test("rename: metadata-only, reads under the new name, stats keys remapped so pruning still fires") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_ren_")
    val t = s"$root/t"
    spark.range(0, 1000, 1, 4).selectExpr("id AS a", "id * 2 AS b")
      .repartitionByRange(4, $"a")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    val before = dataBytes(t)
    val v1 = GraftStore.readVersion(t)
    GraftStore.renameColumn(t, "a", "key")
    assert(dataBytes(t) == before, "rename must not touch data files")
    assert(readT(t).schema.fieldNames.toSeq == Seq("key", "b"))
    assert(readT(t).filter($"key" === 7L).count() == 1)
    // stats keys followed the rename: pruning fires on the NEW name
    import org.apache.spark.sql.sources.LessThan
    val pruned = new graft.sources.GraftStoreScan(t,
      Array(LessThan("key", 250L)))
    assert(pruned.planInputPartitions().length == 1,
      "renamed column's stats must keep pruning")
    // time travel to the pre-rename snapshot reads the OLD name
    assert(readT(t, versionAsOf = v1).schema.fieldNames.toSeq == Seq("a", "b"))
    // refusals
    intercept[IllegalArgumentException](GraftStore.renameColumn(t, "nope", "x"))
    intercept[IllegalArgumentException](GraftStore.renameColumn(t, "key", "b"))
    intercept[IllegalArgumentException](GraftStore.renameColumn(t, "key", "w=t"))
  }

  test("rename: live equality-delete key lists follow; partition spec sources follow") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_reneq_")
    val t = s"$root/t"
    spark.range(0, 100, 1, 2).selectExpr("id AS a", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    GraftStore.deleteByKey(spark, t, Seq(3L, 4L).toDF("a"))
    assert(readT(t).count() == 98)
    GraftStore.renameColumn(t, "a", "key")
    // the delete still applies, keyed through the renamed column
    assert(readT(t).count() == 98)
    assert(readT(t).filter($"key" === 3L).count() == 0)
    // partitioned table: the spec file follows the rename
    val s2 = spark.newSession()
    val root2 = graft.ops.Util.managedTempDir("graft_ev_renpart_")
    s2.conf.set("spark.sql.catalog.gevr", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gevr.root", root2)
    s2.range(0, 100).selectExpr("id", "id % 4 AS cell")
      .createOrReplaceTempView("ev_src")
    s2.sql("CREATE TABLE gevr.t PARTITIONED BY (cell) AS SELECT * FROM ev_src")
    s2.sql("ALTER TABLE gevr.t RENAME COLUMN cell TO shard")
    assert(GraftStore.readPartitionBy(s"$root2/t").contains("shard"))
    // appends keep rolling per value under the new name
    s2.sql("INSERT INTO gevr.t SELECT id + 100 AS id, id % 4 AS shard FROM ev_src")
    GraftStore.readManifest(s"$root2/t").get._2.foreach { e =>
      val st = e.stats("shard")
      assert(st.min == st.max, s"${e.file} spans shard")
    }
  }

  // ----------------------------------------------------------- widen

  test("widen int->long: metadata-only, old int lanes sign-extend, new files carry longs, time travel reads int") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_wid_")
    val t = s"$root/t"
    // negative values pin sign extension; nulls pin the null path
    spark.range(0, 100, 1, 2)
      .selectExpr("CAST(id - 50 AS INT) AS n",
        "CASE WHEN id % 10 = 0 THEN CAST(NULL AS INT) ELSE CAST(id AS INT) END AS m",
        "id AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    val before = dataBytes(t)
    val v1 = GraftStore.readVersion(t)
    GraftStore.widenColumn(t, "n")
    assert(dataBytes(t) == before, "widen must not touch data files")
    val sch = readT(t).schema
    assert(sch("n").dataType == org.apache.spark.sql.types.LongType)
    assert(sch("m").dataType == org.apache.spark.sql.types.IntegerType)
    // old files read correctly, negatives included
    assert(readT(t).agg(org.apache.spark.sql.functions.sum($"n"))
      .collect()(0).getLong(0) == (0L until 100L).map(_ - 50).sum)
    assert(readT(t).filter($"n" === -50L).count() == 1)
    // a post-widen append carries values beyond Int range
    spark.range(0, 3, 1, 1)
      .selectExpr("id + 3000000000 AS n", "CAST(1 AS INT) AS m", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save()
    assert(readT(t).filter($"n" > 2999999999L).count() == 3)
    assert(readT(t).count() == 103)
    // mixed old+new aggregate is exact
    assert(readT(t).agg(org.apache.spark.sql.functions.sum($"n"))
      .collect()(0).getLong(0) ==
      (0L until 100L).map(_ - 50).sum + (0L until 3L).map(_ + 3000000000L).sum)
    // time travel reads the pre-widen schema (int)
    assert(readT(t, versionAsOf = v1).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // stats survived: pruning on the widened column still fires
    import org.apache.spark.sql.sources.GreaterThan
    val pruned = new graft.sources.GraftStoreScan(t,
      Array(GreaterThan("n", 2000000000L)))
    assert(pruned.planInputPartitions().length == 1,
      "widened column's int-era stats must still prune")
    // refusals: long column, double column
    intercept[IllegalArgumentException](GraftStore.widenColumn(t, "n"))
    intercept[IllegalArgumentException](GraftStore.widenColumn(t, "v"))
  }

  test("widen: equality deletes keyed long hit old int files; OPTIMIZE never mixes lane signatures") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_wideq_")
    val t = s"$root/t"
    spark.range(0, 100, 1, 2).selectExpr("CAST(id AS INT) AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    GraftStore.widenColumn(t, "k")
    // the key frame is typed from the CURRENT schema (long); the probe
    // reads the widened lane, so old int files match
    GraftStore.deleteByKey(spark, t, Seq(7L, 8L).toDF("k"))
    assert(readT(t).count() == 98)
    assert(readT(t).filter($"k" === 7L).count() == 0)
    GraftStore.purgeDeletes(spark, t)
    assert(readT(t).count() == 98)
    // OPTIMIZE with mixed narrow signatures: old (narrow) and new
    // (native-long) small files must not share a bin
    spark.range(100, 200, 1, 2).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save()
    GraftStore.compact(spark, t, targetBytes = Long.MaxValue)
    val entries = GraftStore.readManifest(t).get._2
    assert(readT(t).count() == 198)
    assert(readT(t).agg(org.apache.spark.sql.functions.sum($"k"))
      .collect()(0).getLong(0) ==
      (0L until 100L).filterNot(k => k == 7 || k == 8).sum + (100L until 200L).sum)
    // every packed entry keeps one coherent lane signature
    entries.foreach { e =>
      assert(e.narrow.isEmpty || e.narrow == Seq(0),
        s"${e.file} carries a mixed narrow signature: ${e.narrow}")
    }
  }

  test("widen: metadata-only aggregates answer from int-era stats under the long schema") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widmeta_")
    val t = s"$root/t"
    spark.range(0, 100, 1, 2).selectExpr("CAST(id AS INT) AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    GraftStore.widenColumn(t, "k")
    spark.range(0, 4, 1, 1).selectExpr("id + 3000000000 AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save()
    // count/min/max/sum over mixed int-era and long-era files: the
    // manifest strings parse through the CURRENT (long) schema type
    val r = spark.read.format("graft.sources.GraftStore").option("path", t)
      .load().agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min($"k"),
        org.apache.spark.sql.functions.max($"k"),
        org.apache.spark.sql.functions.sum($"k")).collect()(0)
    assert(r.getLong(0) == 104 && r.getLong(1) == 0L &&
      r.getLong(2) == 3000000003L &&
      r.getLong(3) == (0L until 100L).sum + (0L until 4L).map(_ + 3000000000L).sum)
  }

  test("widen: change feeds cross the widening commit, emitting pre-widen images in the widened type") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widcdf_")
    val t = s"$root/t"
    spark.range(0, 10).selectExpr("CAST(id - 5 AS INT) AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save() // v1 (negative values pin sign-extension)
    GraftStore.widenColumn(t, "k") // v2
    spark.range(10, 20).selectExpr("id + 3000000000 AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save() // v3
    // round 14: the feed no longer refuses the widen boundary — it reads
    // everything under the schema at changesTo and upgrades pre-widen
    // units' narrow markers structurally, so v1's int images emit as
    // longs (sign-extended)
    val feed = spark.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "0").load()
    assert(feed.schema("k").dataType == org.apache.spark.sql.types.LongType)
    val rows = feed.select($"k", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.count(_._3 == 1L) == 10 && rows.count(_._3 == 3L) == 10 &&
      rows.length == 20)
    assert(rows.filter(_._3 == 1L).map(_._1).sorted.toSeq ==
      (-5L until 5L).toSeq) // pre-widen images, widened
    assert(rows.filter(_._3 == 3L).map(_._1).min == 3000000010L)
    assert(rows.forall(_._2 == "insert"))
    // a sub-range ending BEFORE the widen still reads the int schema
    val pre = spark.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "0").option("changesTo", "1").load()
    assert(pre.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    assert(pre.count() == 10)
    assert(spark.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "2").load().count() == 10)
  }

  test("SQL surface: ALTER TABLE RENAME COLUMN and ALTER COLUMN TYPE BIGINT route through the catalog") {
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_ev_sql_")
    s2.conf.set("spark.sql.catalog.gevo", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gevo.root", root)
    s2.range(0, 50).selectExpr("CAST(id AS INT) AS a", "id AS b")
      .createOrReplaceTempView("evo_src")
    s2.sql("CREATE TABLE gevo.t AS SELECT * FROM evo_src")
    s2.sql("ALTER TABLE gevo.t RENAME COLUMN a TO a2")
    s2.sql("ALTER TABLE gevo.t ALTER COLUMN a2 TYPE BIGINT")
    val out = s2.sql("SELECT sum(a2) AS s FROM gevo.t").collect()(0).getLong(0)
    assert(out == (0L until 50L).sum)
    val sch = s2.table("gevo.t").schema
    assert(sch("a2").dataType == org.apache.spark.sql.types.LongType)
    // round 14: long -> double is a supported widening now
    s2.sql("ALTER TABLE gevo.t ALTER COLUMN b TYPE DOUBLE")
    assert(s2.table("gevo.t").schema("b").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val sb = s2.sql("SELECT sum(b) AS s FROM gevo.t").collect()(0).getDouble(0)
    assert(sb == (0L until 50L).sum.toDouble)
    // narrowing still refuses loudly
    val e = intercept[Exception] {
      s2.sql("ALTER TABLE gevo.t ALTER COLUMN a2 TYPE INT")
    }
    assert(e.getMessage.contains("widening") || e.getMessage.contains("BIGINT"),
      e.getMessage)
  }

  // ------------------------------------------- round 14: widen to double

  test("widen long->double and float->double: metadata-only, old lanes promote in place, new files native") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widd_")
    val t = s"$root/t"
    spark.range(0, 100, 1, 2)
      .selectExpr("id AS a", "CAST(id / 2.0 AS FLOAT) AS f")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save() // v1
    val before = dataBytes(t)
    GraftStore.widenColumn(t, "a", org.apache.spark.sql.types.DoubleType) // v2
    GraftStore.widenColumn(t, "f", org.apache.spark.sql.types.DoubleType) // v3
    assert(dataBytes(t) == before, "widen must not touch data files")
    spark.range(100, 104, 1, 1)
      .selectExpr("CAST(id AS DOUBLE) AS a", "CAST(id AS DOUBLE) / 2 AS f")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save() // v4
    val df = readT(t)
    assert(df.schema("a").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.schema("f").dataType == org.apache.spark.sql.types.DoubleType)
    val r = df.agg(org.apache.spark.sql.functions.sum($"a"),
      org.apache.spark.sql.functions.sum($"f")).collect()(0)
    assert(r.getDouble(0) == (0 until 104).map(_.toDouble).sum)
    assert(r.getDouble(1) ==
      (0 until 100).map(i => (i.toFloat / 2).toDouble).sum +
        (100 until 104).map(_.toDouble / 2).sum)
    // time travel to the pre-widen snapshot reads the narrow schema
    assert(readT(t, versionAsOf = 1L).schema("a").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(readT(t, versionAsOf = 1L).schema("f").dataType ==
      org.apache.spark.sql.types.FloatType)
  }

  test("widen chain int->long->double: the narrow marker upgrades to one int->double fix-up") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widc_")
    val t = s"$root/t"
    spark.range(0, 10).selectExpr("CAST(id - 5 AS INT) AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save() // v1
    GraftStore.widenColumn(t, "k") // v2: int -> long
    GraftStore.widenColumn(t, "k", org.apache.spark.sql.types.DoubleType) // v3
    val df = readT(t)
    assert(df.schema("k").dataType == org.apache.spark.sql.types.DoubleType)
    assert(df.select($"k").collect().map(_.getDouble(0)).sorted.toSeq ==
      (-5 until 5).map(_.toDouble).toSeq)
    // the physical int lane carries ONE marker: int -> double
    val es = GraftStore.readManifest(t).get._2
    assert(es.forall(_.narrow.forall(m =>
      GraftStore.narrowKind(m) == GraftStore.NarrowIntToDouble)),
      es.map(_.narrow).toString)
  }

  test("widen refusal matrix: narrowing and representation changes refuse; double widen preconditions enforced") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widr_")
    val t = s"$root/t"
    spark.range(0, 10).selectExpr("CAST(id AS INT) AS i", "id AS l",
      "CAST(id AS DOUBLE) AS d", "CAST(id AS STRING) AS s")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    import org.apache.spark.sql.types._
    // lossy / representation changes: every direction refused
    for ((col, to) <- Seq(("l", IntegerType), ("d", FloatType),
        ("d", LongType), ("l", FloatType), ("i", FloatType),
        ("s", IntegerType), ("i", StringType), ("i", IntegerType))) {
      val e = intercept[IllegalArgumentException](
        GraftStore.widenColumn(t, col, to))
      assert(e.getMessage.contains("widening"), s"$col -> $to: ${e.getMessage}")
    }
    // a bucket partition source cannot widen to double (the transform
    // needs int/long); int->long stays allowed
    val tb = s"$root/tb"
    spark.range(0, 20).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", tb)
      .mode("overwrite").save()
    GraftStore.evolvePartitionBy(tb, Some("bucket(4,k)"))
    val eb = intercept[IllegalArgumentException](
      GraftStore.widenColumn(tb, "k", DoubleType))
    assert(eb.getMessage.contains("partition source"), eb.getMessage)
    // a live equality-delete key cannot widen to double (rendered probes
    // would stop matching)
    val te = s"$root/te"
    spark.range(0, 20).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", te)
      .mode("overwrite").save()
    GraftStore.deleteByKey(spark, te,
      spark.range(0, 2).selectExpr("id AS k"))
    val ee = intercept[IllegalArgumentException](
      GraftStore.widenColumn(te, "k", DoubleType))
    assert(ee.getMessage.contains("equality deletes"), ee.getMessage)
  }

  test("change feed crosses a widen smuggled in by fastForward (structural detection, not op-string)") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widff_")
    val t = s"$root/t"
    spark.range(0, 10).selectExpr("CAST(id - 5 AS INT) AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save() // main v1
    GraftStore.branchCreate(t, "dev")
    // widen ON THE BRANCH, then publish: main's v2 op is
    // "fastForward(dev)" — an op-string widen check never sees it
    GraftStore.widenColumn(GraftStore.branchPath(t, "dev"), "k")
    GraftStore.fastForward(t, "dev") // main v2
    assert(GraftStore.snapshot(new File(t,
      s"${GraftStore.ManifestName}.v2")).get.op.startsWith("fastForward"))
    spark.range(10, 14).selectExpr("id + 3000000000 AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save() // main v3
    val feed = spark.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "0").load()
    assert(feed.schema("k").dataType == org.apache.spark.sql.types.LongType)
    val ks = feed.select($"k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks == ((-5L until 5L) ++ (10 until 14).map(_ + 3000000000L)).sorted,
      ks.toString) // pre-publish int images sign-extend, not low-half reads
  }

  test("a running stream refuses to cross a widen structurally; a restarted stream adopts the widened schema") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widstream_")
    val t = s"$root/t"
    spark.range(0, 10).selectExpr("CAST(id AS INT) AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save() // v1
    val sink = s"wid_stream_${java.lang.Long.toHexString(System.nanoTime())}"
    val q = spark.readStream.format("graft.sources.GraftStore")
      .option("path", t).load()
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation",
        graft.ops.Util.managedTempDir("graft_ev_widstream_ckpt_"))
      .start()
    q.processAllAvailable()
    assert(spark.table(sink).count() == 10)
    // widen mid-stream (via a branch fastForward, so the op string says
    // nothing about widening — the structural check must catch it)
    GraftStore.branchCreate(t, "dev")
    GraftStore.widenColumn(GraftStore.branchPath(t, "dev"), "k")
    GraftStore.fastForward(t, "dev") // v2, op=fastForward(dev)
    spark.range(10, 20).selectExpr("id AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("append").save() // v3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("schema-evolving") ||
      Option(e.getCause).exists(_.getMessage.contains("schema-evolving")),
      e.getMessage)
    q.stop()
    // a fresh stream adopts the widened schema and replays everything
    val sink2 = s"${sink}_b"
    val q2 = spark.readStream.format("graft.sources.GraftStore")
      .option("path", t).load()
      .writeStream.format("memory").queryName(sink2).outputMode("append")
      .option("checkpointLocation",
        graft.ops.Util.managedTempDir("graft_ev_widstream_ckpt2_"))
      .start()
    q2.processAllAvailable()
    q2.stop()
    val got = spark.table(sink2)
    assert(got.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == (0L until 20L))
  }

  test("change feed across a widen: DELETE old-images and removed files emit in the widened type") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_widdel_")
    val t = s"$root/t"
    spark.range(0, 20).selectExpr("CAST(id - 10 AS INT) AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save() // v1 (int, negatives pin sign-extension)
    GraftStore.widenColumn(t, "k") // v2
    // v3: MOR delete AFTER the widen — the dv-delta units reference
    // files whose physical lane is still int (narrow-marked)
    GraftStore.deleteWhereDV(spark, t, $"k" < -5L)
    val feed = spark.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "0").load()
    assert(feed.schema("k").dataType == org.apache.spark.sql.types.LongType)
    val rows = feed.select($"k", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.filter(_._2 == "insert").map(_._1).sorted.toSeq ==
      (-10L until 10L).toSeq)
    // the deleted rows' OLD IMAGES arrive sign-extended, not low-half reads
    assert(rows.filter(_._2 == "delete").map(_._1).sorted.toSeq ==
      (-10L until -5L).toSeq, rows.filter(_._2 == "delete").mkString(","))
    // v4: overwrite (removes the v1 file) — removed-file old images also
    // cross the widen boundary in the widened type
    spark.range(100, 103).selectExpr("id AS k")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    val feed2 = spark.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "3").load()
      .select($"k", $"_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // removed old images = the 15 rows still live at v3 (sign-extended),
    // inserts = the new overwrite content
    assert(feed2.filter(_._2 == "delete").map(_._1).sorted.toSeq ==
      (-5L until 10L).toSeq, feed2.mkString(","))
    assert(feed2.filter(_._2 == "insert").map(_._1).sorted.toSeq ==
      (100L until 103L).toSeq)
  }

  test("decimal precision growth: metadata-only within the compact range; scale growth and p>18 refuse") {
    import spark.implicits._
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_ev_widdec_")
    s2.conf.set("spark.sql.catalog.gdec", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gdec.root", root)
    s2.range(0, 100).selectExpr(
        "CAST(id AS DECIMAL(9,2)) + CAST(0.25 AS DECIMAL(9,2)) AS d", "id AS v")
      .createOrReplaceTempView("dec_src")
    s2.sql("CREATE TABLE gdec.t AS SELECT * FROM dec_src")
    val before = Option(new java.io.File(s"$root/t/data").listFiles())
      .getOrElse(Array.empty).map(f => f.getName -> f.lastModified()).toMap
    s2.sql("ALTER TABLE gdec.t ALTER COLUMN d TYPE DECIMAL(15,2)")
    assert(Option(new java.io.File(s"$root/t/data").listFiles())
      .getOrElse(Array.empty).map(f => f.getName -> f.lastModified()).toMap
      == before, "decimal precision growth must not touch data files")
    // no narrow markers: the unscaled lane is identical under both
    assert(GraftStore.readManifest(s"$root/t").get._2.forall(_.narrow.isEmpty))
    assert(s2.table("gdec.t").schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(15, 2))
    // old rows read exactly; a post-widen insert exceeds the old precision
    s2.sql("INSERT INTO gdec.t SELECT CAST(1234567890123.75 AS DECIMAL(15,2)), 0")
    val r = s2.sql(
      "SELECT CAST(sum(d) AS DOUBLE) AS sd, count(*) AS n FROM gdec.t").head
    assert(r.getLong(1) == 101)
    assert(r.getDouble(0) ==
      (0 until 100).map(_ + 0.25).sum + 1234567890123.75)
    // the change feed crosses the precision-growth commit (no fix-up)
    val feed = spark.read.format("graft.sources.GraftStore")
      .option("path", s"$root/t").option("changesFrom", "0").load()
    assert(feed.schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(15, 2))
    assert(feed.count() == 101)
    // refusal matrix: scale growth, crossing 18, narrowing
    for (bad <- Seq("DECIMAL(15,4)", "DECIMAL(20,2)", "DECIMAL(9,2)",
        "DECIMAL(6,2)")) {
      val e = intercept[Exception](
        s2.sql(s"ALTER TABLE gdec.t ALTER COLUMN d TYPE $bad"))
      assert(e.getMessage.contains("widening") ||
        e.getMessage.contains("DECIMAL"), s"$bad: ${e.getMessage}")
    }
  }

  test("rename precision: renaming `id` leaves __bucket stats of `user_id` untouched") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_ev_renb_")
    // bucket writes resolve the V2 bucket function — catalog path
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.grnb", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.grnb.root", root)
    s2.range(0, 100).selectExpr("id AS id", "id % 10 AS user_id")
      .createOrReplaceTempView("renb_src")
    s2.sql("""CREATE TABLE grnb.t PARTITIONED BY (bucket(4, user_id)) AS
      SELECT * FROM renb_src""")
    val t = s"$root/t"
    val keysBefore = GraftStore.readManifest(t).get._2
      .flatMap(_.stats.keys).filter(_.startsWith("__bucket_")).toSet
    assert(keysBefore == Set("__bucket_4_user_id"), keysBefore.toString)
    GraftStore.renameColumn(t, "id", "row_id")
    val after = GraftStore.readManifest(t).get._2
    val keysAfter = after.flatMap(_.stats.keys)
      .filter(_.startsWith("__bucket_")).toSet
    assert(keysAfter == Set("__bucket_4_user_id"),
      s"renaming an unrelated column corrupted bucket pseudo-stats: $keysAfter")
    // and renaming the SOURCE still remaps exactly
    GraftStore.renameColumn(t, "user_id", "uid")
    val keys2 = GraftStore.readManifest(t).get._2
      .flatMap(_.stats.keys).filter(_.startsWith("__bucket_")).toSet
    assert(keys2 == Set("__bucket_4_uid"), keys2.toString)
    assert(GraftStore.readPartitionBy(t).contains("bucket(4,uid)"))
  }

  // ------------------------- round 15: nested-field evolution (structs)

  test("nested ADD/RENAME: metadata-only, old files null-pad the new subfield, compaction never mixes arities") {
    val root = graft.ops.Util.managedTempDir("graft_ev_nest_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gnev", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gnev.root", root)
    s2.range(0, 50).selectExpr("id",
      "named_struct('a', id, 'b', CAST(id * 2 AS DOUBLE)) AS meta")
      .createOrReplaceTempView("nest_src")
    s2.sql("CREATE TABLE gnev.t AS SELECT * FROM nest_src WHERE id < 30") // v1
    val t = s"$root/t"
    val before = dataBytes(t)
    s2.sql("ALTER TABLE gnev.t ADD COLUMN meta.tag STRING") // v2
    assert(dataBytes(t) == before, "nested ADD must not touch data files")
    // every carried file records the OLD struct arity
    val es = GraftStore.readManifest(t).get._2
    assert(es.nonEmpty && es.forall(_.nested.nonEmpty), es.map(_.nested))
    assert(es.forall(e => e.nested.forall(m =>
      GraftStore.nestedOrd(m) == 1 && GraftStore.nestedArity(m) == 2)))
    // old rows answer null for the new subfield; existing fields intact
    val r1 = s2.sql(
      "SELECT count(*) AS n, sum(meta.a) AS sa, count(meta.tag) AS nt FROM gnev.t")
      .collect()(0)
    assert(r1.getLong(0) == 30 && r1.getLong(1) == (0L until 30L).sum &&
      r1.getLong(2) == 0)
    // post-evolve appends carry the full struct natively
    s2.sql("""INSERT INTO gnev.t
      |SELECT id, named_struct('a', id, 'b', CAST(id * 2 AS DOUBLE),
      |                        'tag', concat('t', id)) AS meta
      |FROM range(30, 50)""".stripMargin) // v3
    val mixed = s2.sql(
      """SELECT meta.tag IS NULL AS pad, count(*) AS n, sum(meta.a) AS sa
        |FROM gnev.t GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2)))
    assert(mixed.toSeq == Seq(
      (false, 20L, (30L until 50L).sum), (true, 30L, (0L until 30L).sum)),
      mixed.mkString(", "))
    // filters reach inside padded structs on old files
    assert(s2.sql("SELECT count(*) FROM gnev.t WHERE meta.a < 10")
      .collect()(0).getLong(0) == 10)
    // nested RENAME: pure metadata; reads under the new name
    s2.sql("ALTER TABLE gnev.t RENAME COLUMN meta.a TO key") // v4
    assert(dataBytes(t) == before ||
      dataBytes(t).keySet != before.keySet, "rename is metadata-only")
    assert(s2.sql("SELECT sum(meta.key) FROM gnev.t").collect()(0).getLong(0)
      == (0L until 50L).sum)
    // compaction never splices pre/post-evolve frames into one file
    GraftStore.compact(s2, t, Long.MaxValue)
    val packed = GraftStore.readManifest(t).get._2
    assert(packed.forall(e =>
      e.nested.isEmpty || e.nested.forall(m => GraftStore.nestedArity(m) == 2)))
    val padded = s2.sql(
      "SELECT count(*) FROM gnev.t WHERE meta.tag IS NULL").collect()(0).getLong(0)
    assert(padded == 30, s"post-compaction pad count $padded")
    // time travel to the pre-evolve snapshot reads the OLD struct
    assert(readT(t, versionAsOf = 1L).schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      == Seq("a", "b"))
    // refusal matrix
    intercept[Exception](
      s2.sql("ALTER TABLE gnev.t ADD COLUMN meta.key STRING")) // dup
    intercept[Exception](
      s2.sql("ALTER TABLE gnev.t ADD COLUMN id.sub STRING")) // non-struct
    intercept[Exception](
      s2.sql("ALTER TABLE gnev.t RENAME COLUMN meta.key TO b")) // dup target
    // repeated adds compose: each marker records its OWN file's bytes
    // arity — the pre-first-add file stays at 2, the file written
    // between the adds (3-field structs) gets 3
    s2.sql("ALTER TABLE gnev.t ADD COLUMN meta.extra BIGINT")
    val es2 = GraftStore.readManifest(t).get._2
    assert(es2.flatMap(_.nested).map(GraftStore.nestedArity).toSet
      == Set(2, 3), es2.map(_.nested))
    assert(s2.sql(
      "SELECT count(*) FROM gnev.t WHERE meta.extra IS NULL")
      .collect()(0).getLong(0) == 50)
  }

  test("change feed crosses a nested evolve: pre-evolve images emit with the subfield null-padded") {
    val root = graft.ops.Util.managedTempDir("graft_ev_nestcdf_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gncf", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gncf.root", root)
    s2.range(0, 20).selectExpr("id",
      "named_struct('a', id, 'b', CAST(id AS DOUBLE)) AS meta")
      .createOrReplaceTempView("ncdf_src")
    s2.sql("CREATE TABLE gncf.t AS SELECT * FROM ncdf_src WHERE id < 10") // v1
    s2.sql("ALTER TABLE gncf.t ADD COLUMN meta.tag STRING") // v2 (silent)
    s2.sql("""INSERT INTO gncf.t
      |SELECT id, named_struct('a', id, 'b', CAST(id AS DOUBLE),
      |                        'tag', concat('t', id)) AS meta
      |FROM range(10, 20)""".stripMargin) // v3
    s2.sql("DELETE FROM gncf.t WHERE id < 10") // v4: deletes PRE-evolve file
    val t = s"$root/t"
    val feed = s2.read.format("graft.sources.GraftStore")
      .option("path", t).option("changesFrom", "0").load()
      .selectExpr("_commit_version AS v", "_change_type AS ct",
        "id", "meta.a AS a", "meta.tag AS tag")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) null else r.getString(4)))
    // v1 inserts: pre-evolve rows read under the evolved schema, tag null
    val v1i = feed.filter(x => x._1 == 1L && x._2 == "insert")
    assert(v1i.length == 10 && v1i.forall(_._5 == null), v1i.mkString(", "))
    // v3 inserts carry real tags
    val v3i = feed.filter(x => x._1 == 3L && x._2 == "insert")
    assert(v3i.length == 10 && v3i.forall(x => x._5 == s"t${x._3}"),
      v3i.mkString(", "))
    // v4 delete images of the PRE-EVOLVE file: padded tag, exact ids
    val v4d = feed.filter(x => x._1 == 4L && x._2 == "delete")
    assert(v4d.map(_._3).sorted.toSeq == (0L until 10L),
      v4d.mkString(", "))
    assert(v4d.forall(_._5 == null), v4d.mkString(", "))
    // the evolve commit itself emitted nothing
    assert(!feed.exists(_._1 == 2L), feed.filter(_._1 == 2L).mkString(", "))
    // a sub-range entirely BEFORE the evolve reads the OLD schema (no
    // tag column at all)
    val pre = s2.read.format("graft.sources.GraftStore")
      .option("path", t).option("changesFrom", "0")
      .option("changesTo", "1").load()
    assert(!pre.schema.fieldNames.contains("_change_type") ||
      pre.schema("meta").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq == Seq("a", "b"), pre.schema.catalogString)
  }

  // --------------------- round 15: long->double is stats-gated at ±2^53

  test("widen long->double: refused unless every long-lane file's stats prove |v| <= 2^53") {
    import org.apache.spark.sql.types.DoubleType
    val safe = 1L << 53
    // values past 2^53 would ROUND under the reader's toDouble fix-up —
    // the commit itself must refuse (Iceberg/Delta exclude the direction
    // outright; we admit only the stats-proven subset)
    val root = graft.ops.Util.managedTempDir("graft_ev_wid53_")
    val t = s"$root/t"
    spark.range(0, 10).selectExpr(s"id + ${safe - 5L} AS a", "id AS b")
      .write.format("graft.sources.GraftStore").option("path", t)
      .mode("overwrite").save()
    val e = intercept[IllegalArgumentException](
      GraftStore.widenColumn(t, "a", DoubleType))
    assert(e.getMessage.contains("2^53"), e.getMessage)
    // the in-range column on the same table still widens fine
    GraftStore.widenColumn(t, "b", DoubleType)
    assert(readT(t).schema("b").dataType == DoubleType)
    // boundary: max exactly 2^53 is representable -> allowed
    val t2 = s"$root/t2"
    spark.range(0, 4).selectExpr(s"id + ${safe - 3L} AS a")
      .write.format("graft.sources.GraftStore").option("path", t2)
      .mode("overwrite").save()
    GraftStore.widenColumn(t2, "a", DoubleType)
    import spark.implicits._
    assert(readT(t2).select($"a").collect().map(_.getDouble(0)).sorted.toSeq
      == (0L until 4L).map(i => (i + safe - 3L).toDouble).toSeq)
    // negative overflow refuses too
    val t3 = s"$root/t3"
    spark.range(0, 4).selectExpr(s"-id - ${safe} AS a")
      .write.format("graft.sources.GraftStore").option("path", t3)
      .mode("overwrite").save()
    intercept[IllegalArgumentException](
      GraftStore.widenColumn(t3, "a", DoubleType))
    // files whose physical lane is INT (narrow-marked from an earlier
    // int->long widen) are always exact — no stats proof demanded
    val t4 = s"$root/t4"
    spark.range(0, 10).selectExpr("CAST(id AS INT) AS k")
      .write.format("graft.sources.GraftStore").option("path", t4)
      .mode("overwrite").save()
    GraftStore.widenColumn(t4, "k") // int -> long
    GraftStore.widenColumn(t4, "k", DoubleType) // marker chain, no stats gate
    assert(readT(t4).schema("k").dataType == DoubleType)
  }

  test("nested DROP + WIDEN long->double: metadata-only skips/converts at read, composes with ADD, CDF crosses, refusals") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
    val root = graft.ops.Util.managedTempDir("graft_ev_nest2_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gnd2", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gnd2.root", root)
    s2.sql("""CREATE TABLE gnd2.t AS
      |SELECT id, named_struct('a', id * 10, 'b', id * 2, 'c', concat('c', id)) AS meta
      |FROM range(0, 20)""".stripMargin) // v1: a bigint, b bigint, c string
    val t = s"$root/t"
    val before = dataBytes(t)
    // WIDEN b long->double: metadata-only, old long bytes convert at read
    s2.sql("ALTER TABLE gnd2.t ALTER COLUMN meta.b TYPE DOUBLE") // v2
    assert(dataBytes(t) == before, "nested widen must not touch data files")
    assert(readT(t).schema("meta").dataType.asInstanceOf[StructType]("b")
      .dataType == DoubleType)
    assert(s2.sql("SELECT sum(meta.b) FROM gnd2.t").collect()(0).getDouble(0)
      == (0L until 20L).map(_ * 2).sum.toDouble)
    // post-widen appends carry native doubles
    s2.sql("""INSERT INTO gnd2.t
      |SELECT id, named_struct('a', id * 10, 'b', CAST(id AS DOUBLE) * 2.5,
      |                        'c', concat('c', id)) AS meta
      |FROM range(20, 30)""".stripMargin) // v3
    // DROP the leading subfield: positional skip, bytes untouched
    val preDrop = dataBytes(t)
    s2.sql("ALTER TABLE gnd2.t DROP COLUMN meta.a") // v4
    assert(dataBytes(t) == preDrop, "nested drop must not touch data files")
    assert(readT(t).schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("b", "c"))
    // reads map past the dropped bytes: b still converts, c still reads
    val r1 = s2.sql(
      "SELECT count(*) AS n, sum(meta.b) AS sb, count(meta.c) AS nc FROM gnd2.t")
      .collect()(0)
    assert(r1.getLong(0) == 30 && r1.getLong(2) == 30)
    assert(r1.getDouble(1) ==
      (0L until 20L).map(_ * 2.0).sum + (20L until 30L).map(_ * 2.5).sum)
    // ADD after DROP: pad arity records the BYTES' count (incl. dropped)
    s2.sql("ALTER TABLE gnd2.t ADD COLUMN meta.d STRING") // v5
    val es = GraftStore.readManifest(t).get._2
    assert(es.forall(e => e.nested.exists(m =>
      GraftStore.nestedIsPad(m) && GraftStore.nestedArity(m) == 3)),
      es.map(_.nested).toString)
    s2.sql("""INSERT INTO gnd2.t
      |SELECT id, named_struct('b', CAST(id AS DOUBLE) * 2.5,
      |                        'c', concat('c', id), 'd', concat('d', id)) AS meta
      |FROM range(30, 40)""".stripMargin) // v6: native (b, c, d)
    val mixed = s2.sql(
      """SELECT meta.d IS NULL AS pad, count(*) AS n, sum(meta.b) AS sb
        |FROM gnd2.t GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => (r.getBoolean(0), r.getLong(1), r.getDouble(2)))
    assert(mixed.toSeq == Seq(
      (false, 10L, (30L until 40L).map(_ * 2.5).sum),
      (true, 30L, (0L until 20L).map(_ * 2.0).sum + (20L until 30L).map(_ * 2.5).sum)),
      mixed.mkString(", "))
    // filters reach inside the evolved struct on every file generation
    // (v1 rows: b = 2*id < 20 for id < 10; v3/v6 ids start at 20, none)
    assert(s2.sql("SELECT count(*) FROM gnd2.t WHERE meta.b < 20")
      .collect()(0).getLong(0) == 10)
    // CDF from 0 crosses widen+drop+add: every old image emits under the
    // FINAL struct (a gone, b double, d null)
    val feed = s2.read.format("graft.sources.GraftStore").option("path", t)
      .option("changesFrom", "0").load()
      .selectExpr("_commit_version AS v", "meta.b AS b", "meta.d AS d")
    val byV = feed.groupBy("v").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byV == Map(1L -> 20L, 3L -> 10L, 6L -> 10L), byV.toString)
    assert(feed.selectExpr("sum(b)").collect()(0).getDouble(0) ==
      (0L until 20L).map(_ * 2.0).sum + (20L until 40L).map(_ * 2.5).sum)
    assert(feed.filter("d IS NOT NULL").count() == 10)
    // compaction preserves marker groups; content invariant
    GraftStore.compact(s2, t, Long.MaxValue)
    assert(s2.sql("SELECT count(*), sum(meta.b) FROM gnd2.t").collect()(0)
      .getDouble(1) == (0L until 20L).map(_ * 2.0).sum +
        (20L until 40L).map(_ * 2.5).sum)
    // time travel: pre-evolve snapshot reads the ORIGINAL struct
    val v1s = readT(t, versionAsOf = 1L).schema("meta").dataType
      .asInstanceOf[StructType]
    assert(v1s.fieldNames.toSeq == Seq("a", "b", "c") &&
      v1s("b").dataType == LongType)
    // refusal matrix: widen a non-long field, narrow back, drop the
    // struct's only field, drop a top-level column
    intercept[Exception](
      s2.sql("ALTER TABLE gnd2.t ALTER COLUMN meta.c TYPE DOUBLE"))
    intercept[Exception](
      s2.sql("ALTER TABLE gnd2.t ALTER COLUMN meta.b TYPE BIGINT"))
    s2.sql("CREATE TABLE gnd2.one AS SELECT named_struct('x', 1) AS m")
    intercept[Exception](s2.sql("ALTER TABLE gnd2.one DROP COLUMN m.x"))
    intercept[Exception](s2.sql("ALTER TABLE gnd2.t DROP COLUMN id"))
  }
}
