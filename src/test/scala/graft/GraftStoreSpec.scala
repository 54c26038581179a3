package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{GraftStore, GraftStoreFileReader}

/** The DSv2 write path's commit protocol, beyond the q_sink_roundtrip
  * oracle (which proves content fidelity but cannot kill tasks):
  * exactly-once under a real failed-then-retried task, the atomic
  * abort path (a failed overwrite must leave the old table intact),
  * orphan GC, and the sink-demanded clustering layout. */
class GraftStoreSpec extends SparkSuite {

  private def tempTable(): String =
    graft.ops.Util.managedTempDir("graft_store_spec_")

  private def writeDf(df: DataFrame, path: String,
      extra: Map[String, String] = Map.empty, mode: String = "overwrite"): Unit = {
    val w = df.write.format("graft.sources.GraftStore").option("path", path)
    extra.foreach { case (k, v) => w.option(k, v) }
    w.mode(mode).save()
  }

  private def readBack(path: String): DataFrame =
    spark.read.format("graft.sources.GraftStore").option("path", path).load()

  private def dataFiles(path: String): Seq[String] =
    Option(new File(path, "data").listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSeq.sorted

  test("round trip preserves arbitrary-schema content exactly") {
    import spark.implicits._
    val path = tempTable()
    val df = spark.range(0, 1000, 1, 4)
      .select($"id", ($"id" % 7).cast("int").as("k"),
        concat(lit("v"), $"id").as("s"),
        ($"id" * 0.5).as("d"),
        array($"id", $"id" + 1).as("arr"))
    writeDf(df, path)
    val back = readBack(path)
    assert(back.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
    assert(back.orderBy($"id").collect().map(_.toString).toSeq ==
      df.orderBy($"id").collect().map(_.toString).toSeq)
  }

  test("kill-one-task: a real failed-then-retried attempt is exactly-once") {
    import spark.implicits._
    val path = tempTable()
    val df = spark.range(0, 400, 1, 4).select($"id", ($"id" % 5).as("k"))
    // partition 0's FIRST attempt dies mid-file (after 2 rows); the
    // local[4, 2] master retries it once and the retry succeeds
    writeDf(df, path, Map("failFirstAttemptOf" -> "0"))
    val back = readBack(path).orderBy($"id").collect()
    assert(back.length == 400, s"expected 400 rows, got ${back.length} " +
      "(duplicate or lost rows after retry)")
    assert(back.map(_.getLong(0)).toSeq == (0L until 400L),
      "retried write lost or duplicated specific rows")
    // the dead attempt's half-written file is not referenced and was GC'd
    val manifest = GraftStore.readManifest(path).get._2.map(_.file.stripPrefix("data/"))
    assert(dataFiles(path).toSet == manifest.toSet,
      s"orphan attempt files survived: ${dataFiles(path).toSet -- manifest.toSet}")
    assert(manifest.size == 4, "one committed file per partition")
  }

  test("abort path: a failed overwrite leaves the previous table intact") {
    import spark.implicits._
    val path = tempTable()
    val v1 = spark.range(0, 100, 1, 2).select($"id", lit("v1").as("tag"))
    writeDf(v1, path)
    val v1Rows = readBack(path).orderBy($"id").collect().map(_.toString).toSeq
    // partition 1 fails on EVERY attempt -> the job fails -> driver abort
    val v2 = spark.range(0, 100, 1, 2).select($"id", lit("v2").as("tag"))
    intercept[Exception] {
      writeDf(v2, path, Map("failAllAttemptsOf" -> "1"))
    }
    // manifest swap never happened: old table readable, bit-identical
    assert(readBack(path).orderBy($"id").collect().map(_.toString).toSeq == v1Rows,
      "failed overwrite corrupted the committed table")
    // abort deleted the successful-task files of the failed job; only
    // v1's committed files remain
    val manifest = GraftStore.readManifest(path).get._2.map(_.file.stripPrefix("data/"))
    assert(dataFiles(path).toSet == manifest.toSet,
      "failed job left unreferenced data files behind")
  }

  test("protocol level: an abandoned attempt (simulated JVM kill) is invisible and GC'd") {
    import spark.implicits._
    val path = tempTable()
    val df = spark.range(0, 50, 1, 2).select($"id", ($"id" * 2).as("v"))
    writeDf(df, path)
    // simulate an attempt that died without abort(): drop a stray file
    // into data/ that no manifest references
    val stray = new File(path, "data/part-9-999.bin")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    assert(readBack(path).count() == 50, "stray unreferenced file became visible")
    // a YOUNG unreferenced file survives the sweep — it could be a
    // concurrent writer's not-yet-committed output (the multi-writer
    // grace); an AGED one is a crash orphan and the next commit sweeps it
    writeDf(df, path)
    assert(stray.exists(), "sweep must spare files younger than the GC grace")
    stray.setLastModified(System.currentTimeMillis() - 2 * GraftStore.GcGraceMs)
    writeDf(df, path)
    assert(!stray.exists(), "commit did not GC the aged orphan")
  }

  test("append mode accumulates; overwrite truncates") {
    import spark.implicits._
    val path = tempTable()
    val df = spark.range(0, 10, 1, 2).toDF("id")
    writeDf(df, path)
    writeDf(df, path, mode = "append")
    assert(readBack(path).count() == 20, "append did not accumulate")
    writeDf(df, path)
    assert(readBack(path).count() == 10, "overwrite did not truncate")
  }

  test("appends name files per write: files at the next append's part-<p>-<t> names stay untouched") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 4).toDF("id"), path)
    val root = graft.ops.Util.managedTempDir("graft_store_spec_plant_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gplant", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gplant.root", root)
    s2.sql("CREATE TABLE gplant.t (id BIGINT, k BIGINT) PARTITIONED BY (k)")
    s2.sql("INSERT INTO gplant.t SELECT id, id % 3 FROM range(0, 30, 1, 4)")
    val ppath = s"$root/t"
    // task ids restart at 0 in every Spark context, so a table written in
    // an earlier session can hold live files at exactly the part-<p>-<t>
    // names (plain writer) and part-<p>-<t>-p<i> names (partition-rolling
    // writer) the next append's tasks take: plant them
    val lastTask = spark.sparkContext.parallelize(0 until 4, 4)
      .map(_ => org.apache.spark.TaskContext.get().taskAttemptId()).collect().max
    val planted = for (p <- 0 until 4; t <- lastTask + 1 to lastTask + 32)
      yield new File(path, s"data/part-$p-$t.bin")
    val plantedP = for (p <- 0 until 4; t <- lastTask + 1 to lastTask + 32; i <- 0 until 3)
      yield new File(ppath, s"data/part-$p-$t-p$i.bin")
    (planted ++ plantedP).foreach(f =>
      java.nio.file.Files.write(f.toPath, f.getName.getBytes("UTF-8")))
    writeDf(spark.range(1000, 1100, 1, 4).toDF("id"), path, mode = "append")
    s2.sql("INSERT INTO gplant.t SELECT id, id % 3 FROM range(1000, 1030, 1, 4)")
    (planted ++ plantedP).foreach(f => assert(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") == f.getName,
      s"append overwrote ${f.getName}"))
    // every row of both writes reads back (a full scan, not the stats)
    assert(readBack(path).select($"id").as[Long].collect().sorted.toSeq ==
      (0L until 100L) ++ (1000L until 1100L))
    assert(s2.sql("SELECT id, k FROM gplant.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      ((0L until 30L) ++ (1000L until 1030L)).map(i => (i, i % 3)))
  }

  test("manifest stats skip disproved files at planning time") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{LessThan, EqualTo}
    val path = tempTable()
    writeDf(spark.range(0, 800, 1, 1)
      .select($"id", ($"id" * 0.5).as("v"))
      .repartitionByRange(8, $"id"), path)
    // protocol level: the scan's own planning drops disproved files
    val all = new graft.sources.GraftStoreScan(path)
    assert(all.planInputPartitions().length == 8)
    val pruned = new graft.sources.GraftStoreScan(path, Array(LessThan("id", 100L)))
    assert(pruned.planInputPartitions().length == 1,
      s"expected 1 surviving file, got ${pruned.description()}")
    // double stats prune too
    val prunedD = new graft.sources.GraftStoreScan(path, Array(EqualTo("v", 10.25)))
    assert(prunedD.planInputPartitions().length == 1, prunedD.description())
    // end to end: Spark pushes the query filter into the scan builder and
    // the result is identical to the unskipped read
    val filtered = readBack(path).filter($"id" < 100)
    assert(filtered.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L),
      "file skipping changed query results")
    val desc = filtered.queryExecution.executedPlan.toString
    assert(desc.contains("files=1/8"),
      s"planned scan did not skip disproved files:\n$desc")
  }

  test("string-column bloom stats skip files on equality lookups") {
    import spark.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val path = tempTable()
    // sink-demanded clustering on the string key -> per-file disjoint keys
    val df = spark.range(0, 800, 1, 8)
      .select(concat(lit("user_"), $"id" % 8).as("k"), $"id".as("v"))
    writeDf(df, path, Map("clusterBy" -> "k"))
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.filter(_.rows > 0).forall(_.stats("k").bloom.nonEmpty),
      "string column must carry a bloom in the manifest")
    val all = new graft.sources.GraftStoreScan(path).planInputPartitions().length
    // a present key reads only its own file (plus ~0.4% false positives)
    val hit = new graft.sources.GraftStoreScan(path,
      Array(EqualTo("k", "user_3"))).planInputPartitions().length
    assert(hit >= 1 && hit <= 2, s"expected ~1 of $all files, got $hit")
    // an absent key is disproved everywhere from manifest lines alone
    val miss = new graft.sources.GraftStoreScan(path,
      Array(EqualTo("k", "no_such_user"))).planInputPartitions().length
    assert(miss == 0, s"absent key should skip every file, read $miss")
    // end to end through Spark's pushdown: same rows as an unskipped read
    val got = readBack(path).filter($"k" === "user_3")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(got == (0L until 800L).filter(_ % 8 == 3), "bloom skipping changed results")
  }

  test("manifest NDV sketches: write-time HLL, union across files, planner-visible stats") {
    import spark.implicits._
    val path = tempTable()
    // 4 files x 250 rows: id unique (1000 distinct), g 10 distinct
    // spread across every file, s a string column with 50 distinct
    writeDf(spark.range(0, 1000, 1, 4)
      .select($"id", ($"id" % 10).as("g"),
        concat(lit("u"), $"id" % 50).as("s")), path)
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(e => e.stats("id").ndv.nonEmpty &&
      e.stats("g").ndv.nonEmpty && e.stats("s").ndv.nonEmpty),
      "every stats-bearing column must carry an NDV sketch")
    def unionNdv(c: String): Long = {
      val merged = entries.map(_.stats(c).ndv).reduce(GraftStore.NdvHll.mergeHex)
      GraftStore.NdvHll.estimate(GraftStore.NdvHll.fromHex(merged))
    }
    // m=64 HLL has ~13% standard error — assert generous 3σ-ish windows
    val idN = unionNdv("id")
    assert(idN > 600 && idN < 1500, s"id NDV estimate $idN vs true 1000")
    val gN = unionNdv("g")
    assert(gN >= 8 && gN <= 13, s"g NDV estimate $gN vs true 10")
    val sN = unionNdv("s")
    assert(sN > 35 && sN < 70, s"s NDV estimate $sN vs true 50")
    // the estimates reach Spark's planner as attributeStats on the scan
    // relation, alongside the exact live row count and min/max bounds
    val leaf = readBack(path).queryExecution.optimizedPlan.collectLeaves().head
    assert(leaf.stats.rowCount.contains(BigInt(1000)),
      s"manifest row count missing from plan stats: ${leaf.stats}")
    val byName = leaf.stats.attributeStats.map { case (a, cs) => a.name -> cs }
    assert(byName.get("g").exists(_.distinctCount.exists(n => n >= 8 && n <= 13)),
      s"NDV estimate did not reach attributeStats: ${leaf.stats.attributeStats}")
    assert(byName.get("id").exists(c => c.min.contains(0L) && c.max.contains(999L)),
      s"min/max bounds wrong in attributeStats: ${leaf.stats.attributeStats}")
    // compaction merges sketches per-register — the union estimate is
    // IDENTICAL after OPTIMIZE (not merely close: same registers)
    GraftStore.compact(spark, path, 1L << 30)
    val after = GraftStore.readManifest(path).get._2
    assert(after.length == 1, "compaction should bin-pack to one file")
    assert(GraftStore.NdvHll.estimate(
      GraftStore.NdvHll.fromHex(after.head.stats("g").ndv)) == gN,
      "compacted NDV sketch must equal the union of its inputs")
  }

  test("writer-verified sortedness: mono flags, reported ordering, graceful degradation") {
    import spark.implicits._
    val path = tempTable()
    // a single sorted write: id arrives nondecreasing in every partition
    writeDf(spark.range(0, 800, 1, 4).toDF("id")
      .withColumn("v", ($"id" % 7).cast("double")), path)
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.stats("id").mono),
      "range partitions arrive sorted on id — the writer must prove it")
    assert(entries.forall(!_.stats("v").mono),
      "v cycles 0..6 — must NOT be flagged sorted")
    // the scan advertises exactly the proven columns
    val ord = new graft.sources.GraftStoreScan(path).outputOrdering()
    assert(ord.map(_.toString).exists(_.contains("id")),
      s"proven-sorted id missing from reported ordering: ${ord.mkString(", ")}")
    assert(!ord.map(_.toString).exists(_.contains("v")),
      s"unsorted v must not be advertised: ${ord.mkString(", ")}")
    // an UNSORTED append degrades the advertisement (id no longer proven
    // in every selected file), never correctness
    writeDf(spark.range(0, 100, 1, 1).toDF("id")
      .select(($"id" * 37 % 100).as("id"), lit(0.0).as("v")), path,
      mode = "append")
    val ord2 = new graft.sources.GraftStoreScan(path).outputOrdering()
    assert(ord2.isEmpty,
      s"degraded layout must clear the advertisement: ${ord2.mkString(", ")}")
    // compaction: manifest-order byte concat of range-clustered sorted
    // files (ranges ordered, non-overlapping) PRESERVES the proof...
    val path2 = tempTable()
    writeDf(spark.range(0, 800, 1, 4).toDF("id"), path2)
    GraftStore.compact(spark, path2, 1L << 30)
    val after = GraftStore.readManifest(path2).get._2
    assert(after.length == 1 && after.head.stats("id").mono,
      "ordered non-overlapping sorted inputs stay provably sorted through concat")
    assert(new graft.sources.GraftStoreScan(path2).outputOrdering()
        .map(_.toString).exists(_.contains("id")),
      "compacted table should still advertise the proven order")
    // ...but OVERLAPPING sorted inputs (two appends covering the same
    // range) cannot prove concat order — flag must drop
    val path3 = tempTable()
    writeDf(spark.range(0, 400, 1, 1).toDF("id"), path3)
    writeDf(spark.range(100, 500, 1, 1).toDF("id"), path3, mode = "append")
    GraftStore.compact(spark, path3, 1L << 30)
    val after3 = GraftStore.readManifest(path3).get._2
    assert(after3.length == 1 && !after3.head.stats("id").mono,
      "overlapping ranges concatenated cannot be proven sorted")
  }

  test("manifest stats round-trip: ndv + mono + bloom + dv survive format/parse") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 500, 1, 2).toDF("id")
      .withColumn("s", concat(lit("k"), $"id" % 20)), path)
    // force a re-commit (append) so entries pass through fmtEntry/parseEntry
    writeDf(spark.range(500, 600, 1, 1).toDF("id")
      .withColumn("s", lit("k0")), path, mode = "append")
    val entries = GraftStore.readManifest(path).get._2
    entries.foreach { e =>
      val id = e.stats("id")
      assert(id.ndv.length == 128, s"ndv hex must round-trip: ${id.ndv.take(16)}…")
      assert(id.mono, "sorted range write must round-trip its mono flag")
      val sCol = e.stats("s")
      assert(sCol.bloom.nonEmpty && sCol.ndv.length == 128,
        "string column must round-trip bloom AND ndv")
    }
  }

  test("GROUPED metadata aggregate: answered from manifest lines when files " +
    "are single-valued on the key; declines on straddling files") {
    import spark.implicits._
    // single-valued layout: partitioned-table rolling via the catalog
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_magrp_spec_")
    s2.conf.set("spark.sql.catalog.gmg", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmg.root", root)
    s2.range(0, 900).selectExpr("id", "id % 3 AS g",
      "CASE WHEN id % 10 = 0 THEN CAST(NULL AS BIGINT) ELSE id END AS v")
      .createOrReplaceTempView("mg_src")
    s2.sql("CREATE TABLE gmg.t PARTITIONED BY (g) AS SELECT * FROM mg_src")
    val path = s"$root/t"
    // destroy the data files: a served answer provably came from metadata
    Option(new File(path, "data").listFiles()).get.foreach(_.delete())
    val agg = readBack(path).groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"v").as("nv"),
        min($"id").as("mn"), max($"id").as("mx"),
        sum($"id").as("sm"), sum($"v").as("sv"))
      .orderBy($"g")
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      s"grouped aggregate not answered from metadata:\n${agg.queryExecution.executedPlan}")
    val rows = agg.collect()
    assert(rows.length == 3)
    for (r <- rows) {
      val g = r.getLong(0)
      assert(r.getLong(1) == 300, s"group $g count wrong: $r")
      // ids ≡ 0 (mod 10) hit every mod-3 class exactly 30 times in [0,900)
      assert(r.getLong(2) == 270, s"group $g count(v) wrong: $r")
      // exact metadata SUMs: sum of the 300 ids ≡ g (mod 3), and the
      // same minus the 30 null-v ids (≡ residue r10(g) mod 30)
      val ids = (0L until 900L).filter(_ % 3 == g)
      assert(r.getLong(5) == ids.sum, s"group $g sum(id) wrong: $r")
      assert(r.getLong(6) == ids.filter(_ % 10 != 0).sum, s"group $g sum(v) wrong: $r")
    }
    // exact extremes: min per group is g itself; max is the largest id ≡ g (mod 3)
    assert(rows.map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq ==
      Seq((0L, 0L, 897L), (1L, 1L, 898L), (2L, 2L, 899L)))
    // straddling layout (plain append, no rolling) must DECLINE — and
    // with intact data files the ordinary scan returns the same answer
    val straddle = tempTable()
    writeDf(spark.range(0, 900, 1, 4).selectExpr("id", "id % 3 AS g").toDF(), straddle)
    val agg2 = readBack(straddle).groupBy($"g").agg(count(lit(1)).as("n")).orderBy($"g")
    assert(!agg2.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      "files straddling group values must decline the grouped metadata path")
    assert(agg2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 300L), (1L, 300L), (2L, 300L)))
    // compaction wrap-adds the exact per-file sums: the packed file's
    // UNGROUPED metadata sum still answers exactly, zero data I/O
    assert(GraftStore.compact(spark, straddle, 1L << 30) > 0)
    Option(new File(straddle, "data").listFiles()).get.foreach(_.delete())
    val sumAgg = readBack(straddle).agg(sum($"id").as("s"))
    assert(sumAgg.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      "post-compaction sum must still answer from merged metadata")
    assert(sumAgg.collect()(0).getLong(0) == (0L until 900L).sum)
  }

  test("ANSI mode: metadata SUM declines when stats cannot rule out overflow") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "suite assumes Spark 4's ANSI default")
    // near-Long.MaxValue values: Σ nonnull × max|value| exceeds int64, so
    // no accumulation-order-free overflow proof exists — a real ANSI scan
    // might throw ARITHMETIC_OVERFLOW, the wrap-fold must not answer
    val hot = tempTable()
    writeDf(spark.range(0, 8, 1, 2)
      .select(($"id" + Long.MaxValue / 4).as("v")), hot)
    val hotAgg = readBack(hot).agg(sum($"v").as("s"))
    assert(!hotAgg.queryExecution.executedPlan.toString.contains("metadata-only"),
      "overflow-capable ANSI sum must not claim the metadata answer")
    // bounded values still answer: the stats bound proves every partial
    // sum fits, so the fold equals the ANSI scan exactly
    val cool = tempTable()
    writeDf(spark.range(0, 1000, 1, 4).select($"id".as("v")), cool)
    Option(new File(cool, "data").listFiles()).get.foreach(_.delete())
    val coolAgg = readBack(cool).agg(sum($"v").as("s"))
    assert(coolAgg.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      "bounded ANSI sum must still answer from metadata")
    assert(coolAgg.collect()(0).getLong(0) == (0L until 1000L).sum)
  }

  test("FILTERED metadata aggregate: partition predicates every file decides answer from manifest lines") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_mafil_spec_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gmf", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmf.root", root)
    s2.range(0, 900).select($"id", ($"id" % 3).as("g"),
      when($"id" % 9 === 0, lit(null)).otherwise($"id" * 2).as("v"))
      .createOrReplaceTempView("mafil_src")
    s2.sql("CREATE TABLE gmf.t PARTITIONED BY (g) AS SELECT * FROM mafil_src")
    val path = s"$root/t"
    // zero-data-I/O proof: destroy every data file — only a manifest fold
    // can still answer
    Option(new File(path, "data").listFiles()).get.foreach(_.delete())
    def readT = spark.read.format("graft.sources.GraftStore")
      .option("path", path).load()
    val agg = readT.filter($"g" === 1)
      .agg(expr("count(*)").as("n"), count($"v").as("nv"),
        min($"id").as("mn"), max($"id").as("mx"), sum($"id").as("sm"))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      s"filtered aggregate not metadata-answered:\n${agg.queryExecution.executedPlan}")
    val r = agg.collect()(0)
    val ids = (0L until 900L).filter(_ % 3 == 1)
    assert(r.getLong(0) == ids.size && r.getLong(1) == ids.count(_ % 9 != 0))
    assert(r.getLong(2) == ids.min && r.getLong(3) == ids.max &&
      r.getLong(4) == ids.sum)
    // IN-list partition predicates decide the same way
    val in = readT.filter($"g".isin(0, 2)).agg(expr("count(*)").as("n"))
    assert(in.queryExecution.executedPlan.toString.contains("metadata-only aggregate"))
    assert(in.collect()(0).getLong(0) == (0L until 900L).count(_ % 3 != 1))
    // a predicate some file straddles (id ranges overlap the cut) must
    // DECLINE acceptance — the plan keeps the residual filter and reads
    // data (which we deleted, so only the plan shape is checked)
    val straddle = readT.filter($"id" >= 450)
      .agg(expr("count(*)").as("n"))
    assert(!straddle.queryExecution.executedPlan.toString.contains("metadata-only"),
      "straddling predicate must not claim the metadata answer")
    // GROUPED + FILTERED compose: the group fold runs over the accepted
    // filters' AllRows subset
    val gf = readT.filter($"g" =!= 1).groupBy($"g")
      .agg(expr("count(*)").as("n"), sum($"id").as("s"))
      .orderBy($"g")
    assert(gf.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      s"grouped+filtered aggregate not metadata-answered:\n${gf.queryExecution.executedPlan}")
    val gfRows = gf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val byG = (0L until 900L).groupBy(_ % 3)
    assert(gfRows == Seq(0L, 2L).map(g => (g, byG(g).size.toLong, byG(g).sum)),
      gfRows.mkString(","))
  }

  test("count/min/max answered from manifest metadata alone (zero data I/O)") {
    import spark.implicits._
    val path = tempTable()
    val df = spark.range(0, 1000, 1, 4).select($"id",
      when($"id" % 10 === 0, lit(null)).otherwise($"id" * 0.5).as("v"))
    writeDf(df, path)
    // destroy every data file: if the aggregate still answers, the scan
    // provably planned from manifest lines alone
    Option(new File(path, "data").listFiles()).get.foreach(_.delete())
    val agg = readBack(path).agg(expr("count(*)").as("n"),
      count($"v").as("nv"), min($"id").as("mn"), max($"v").as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      s"aggregate not answered from metadata:\n${agg.queryExecution.executedPlan}")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 1000 && r.getLong(1) == 900,
      s"count wrong: ${r.toString}")
    assert(r.getLong(2) == 0 && r.getDouble(3) == 499.5,
      s"min/max wrong: ${r.toString}")
    // a row filter disables the metadata path (per-file stats describe
    // ALL rows) — the plan must fall back to reading data files
    val filtered = readBack(path).filter($"id" > 10).agg(expr("count(*)"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("metadata-only"),
      "filtered aggregate must not claim the metadata answer")
  }

  test("metadata-only DELETE drops whole batches and never touches kept files") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_del_")
    val path = s"$root/t"
    // batch-aligned ingest: five appends, each single-valued on k
    (1 to 5).foreach { v =>
      writeDf(spark.range(0, 100, 1, 2).select($"id", lit(v).as("k")),
        path, mode = "append")
    }
    val before = dataFiles(path)
    assert(before.size == 10)
    val mtimes = before.map(f => f -> new File(path, s"data/$f").lastModified()).toMap
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gdel", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gdel.root", root)
    s2.sql("DELETE FROM gdel.t WHERE k = 2")
    // the manifest dropped batch 2's files, but the bytes stay on disk
    // while pre-delete snapshots can still reach them (time travel);
    // snapshot EXPIRY is what reclaims them
    val manifest = GraftStore.readManifest(path).get._2.map(_.file.stripPrefix("data/"))
    assert(manifest.size == 8, s"expected batch 2's two files dropped: $manifest")
    assert(dataFiles(path).size == 10,
      "deleted files must survive until their snapshots expire")
    GraftStore.expireSnapshots(path, 1, graceMs = 0) // vacuum(0): no writers in flight
    val after = dataFiles(path)
    assert(after.size == 8, s"expiry did not reclaim the deleted batch: $after")
    // kept data files are bit-for-bit untouched (metadata-only op)
    after.foreach(f => assert(
      new File(path, s"data/$f").lastModified() == mtimes(f),
      s"kept file $f was rewritten"))
    val back = readBack(path)
    assert(back.count() == 400)
    assert(back.filter($"k" === 2).count() == 0, "deleted rows still visible")
  }

  test("DELETE beyond stats decidability falls back to copy-on-write rewrite") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_del2_")
    val path = s"$root/t"
    // ONE file holding k = 0..4: k = 2 is undecidable from [0,4] stats,
    // so the metadata-only path refuses and Spark rewrites the file
    // copy-on-write through the row-level operation
    writeDf(spark.range(0, 500, 1, 1).select($"id", ($"id" % 5).as("k")), path)
    val vBefore = GraftStore.readVersion(path)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gdel2", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gdel2.root", root)
    s2.sql("DELETE FROM gdel2.t WHERE k = 2")
    val back = readBack(path)
    assert(back.count() == 400, "copy-on-write delete dropped wrong rows")
    assert(back.filter($"k" === 2).count() == 0, "deleted rows still visible")
    // the rewrite replaced the file (new name) and committed a snapshot;
    // the pre-delete content stays time-travelable
    val manifest = GraftStore.readManifest(path).get._2.map(_.file)
    assert(manifest.forall(_.startsWith("data/rw-")),
      s"expected a rewritten replacement file: $manifest")
    val old = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", vBefore.toString).load()
    assert(old.count() == 500, "pre-delete snapshot lost rows")
  }

  test("copy-on-write DELETE rewrites only the files the predicate touches") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_cow_")
    val path = s"$root/t"
    // five single-valued-on-k batches, two files each
    (1 to 5).foreach { v =>
      writeDf(spark.range(0, 100, 1, 2).select($"id", lit(v.toLong).as("k")),
        path, mode = "append")
    }
    val before = dataFiles(path)
    val mtimes = before.map(f => f -> new File(path, s"data/$f").lastModified()).toMap
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gcow", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gcow.root", root)
    // k = 2 is stats-pushable (prunes the other four batches); id % 2
    // has no v1 translation, so the whole predicate is NOT metadata-
    // decidable and the copy-on-write path must run — but only over
    // batch 2's two files
    s2.sql("DELETE FROM gcow.t WHERE k = 2 AND id % 2 = 0")
    val back = readBack(path)
    assert(back.count() == 450, s"expected 450 rows, got ${back.count()}")
    assert(back.filter($"k" === 2).count() == 50, "odd-id rows of batch 2 must survive")
    // batches 1,3,4,5 were provably untouched: same files, same bytes
    val manifest = GraftStore.readManifest(path).get._2.map(_.file.stripPrefix("data/"))
    val keptOriginals = manifest.filter(mtimes.contains)
    assert(keptOriginals.size == 8,
      s"exactly the four untouched batches keep their files: $manifest")
    keptOriginals.foreach(f => assert(
      new File(path, s"data/$f").lastModified() == mtimes(f),
      s"untouched file $f was rewritten"))
    assert(manifest.count(_.startsWith("rw-")) >= 1,
      s"batch 2 must have been rewritten: $manifest")
  }

  test("_file metadata column names each row's manifest-relative data file") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 4).toDF("id"), path)
    val files = readBack(path).select($"id", $"_file")
      .groupBy($"_file").count().collect()
    assert(files.length == 4, s"expected 4 files: ${files.mkString(",")}")
    files.foreach { r =>
      assert(r.getString(0).startsWith("data/"), s"not a relative path: $r")
      assert(r.getLong(1) == 25, s"uneven file attribution: $r")
    }
  }

  test("UPDATE and MERGE INTO run copy-on-write through the catalog") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_dml_")
    val path = s"$root/t"
    writeDf(spark.range(0, 200, 1, 2).select($"id", ($"id" % 4).as("k")), path)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gdml", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gdml.root", root)
    s2.sql("UPDATE gdml.t SET k = k + 100 WHERE id % 50 = 0")
    val afterUpdate = readBack(path)
    assert(afterUpdate.filter($"k" >= 100).count() == 4, "4 rows must be updated")
    assert(afterUpdate.count() == 200, "update must not change row count")
    // MERGE: source matches ids 150..249 — half update (ids 150..199,
    // setting k = -1), half insert (ids 200..249, k = -2)
    s2.range(150, 250).select($"id", lit(0L).as("k"))
      .createOrReplaceTempView("src")
    s2.sql(
      """MERGE INTO gdml.t t USING src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET k = -1
        |WHEN NOT MATCHED THEN INSERT (id, k) VALUES (s.id, -2)""".stripMargin)
    val merged = readBack(path)
    assert(merged.count() == 250, "merge must insert the unmatched 50 rows")
    assert(merged.filter($"k" === -1).count() == 50, "matched rows updated")
    assert(merged.filter($"k" === -2).count() == 50, "unmatched rows inserted")
    // ids 0, 50, 100 keep their updated k; 150 was re-matched by the merge
    assert(merged.filter($"id" < 150 && $"k" >= 100).count() == 3,
      "earlier UPDATE's rows must survive the merge")
  }

  test("LIMIT pushdown trims the planned file set to the row budget (preview shape)") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 800, 1, 1).select($"id", ($"id" % 7).as("k"))
      .repartitionByRange(8, $"id"), path)
    // protocol level: the builder records the limit, the scan plans a
    // file PREFIX covering it (8 × 100-row files; limit 150 → 2 files)
    val b = new graft.sources.GraftStoreScanBuilder(path)
    assert(!b.pushLimit(150), "limit push must be PARTIAL (Spark keeps its limit)")
    val scan = b.build().asInstanceOf[graft.sources.GraftStoreScan]
    assert(scan.planInputPartitions().length == 2,
      s"limit 150 over 100-row files must plan 2 files: ${scan.description()}")
    // end to end: Spark pushes df.limit through to the connector and
    // the answer is still exactly `limit` rows
    val got = readBack(path).limit(150).collect()
    assert(got.length == 150, s"limit returned ${got.length} rows")
    // soundness guards: a filter in between disables the trim (the trim
    // cannot know how many rows survive the residual)
    val bf = new graft.sources.GraftStoreScanBuilder(path)
    bf.pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("id", 100L)))
    bf.pushLimit(10)
    val fscan = bf.build().asInstanceOf[graft.sources.GraftStoreScan]
    assert(fscan.planInputPartitions().length == 7,
      "a filtered scan must not limit-trim (7 files survive the filter)")
    // an equality-delete on the table disables the trim too (hidden rows
    // make manifest counts over-estimates)
    GraftStore.deleteByKey(spark, path, spark.range(0, 60).toDF("id"))
    val bd = new graft.sources.GraftStoreScanBuilder(path)
    bd.pushLimit(150)
    val dscan = bd.build().asInstanceOf[graft.sources.GraftStoreScan]
    assert(dscan.planInputPartitions().length == 8,
      "live equality deletes must disable the limit trim")
    assert(readBack(path).limit(150).count() == 150)
  }

  test("streaming sink: epoch commits append atomically; a replayed epoch is a no-op") {
    // the sink checks constraints in the active session
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val path = tempTable()
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))

    def writeEpochFile(task: Long, epoch: Long, ids: Range): graft.sources.GraftStoreCommitMessage = {
      val w = new graft.sources.GraftStoreDataWriter(path, schema, 0, task,
        None, None, s"data/part-0-$task-e$epoch.bin")
      ids.foreach(i => w.write(InternalRow(i.toLong)))
      w.commit().asInstanceOf[graft.sources.GraftStoreCommitMessage]
    }

    val sw = new graft.sources.GraftStoreStreamingWrite(path, schema,
      truncateEachEpoch = false)
    sw.commit(0, Array(writeEpochFile(1, 0, 0 until 10)))
    assert(readBack(path).count() == 10)
    assert(GraftStore.latest(path).flatMap(_.epoch).contains(0L))
    // recovery replay of epoch 0: same data re-written by a new attempt —
    // the commit must not double-append, and must GC its redundant file
    val replay = writeEpochFile(2, 0, 0 until 10)
    sw.commit(0, Array(replay))
    assert(readBack(path).count() == 10, "replayed epoch duplicated rows")
    assert(!new File(path, replay.file).exists(), "replayed file not GC'd")
    // epoch 1 appends and advances the marker
    sw.commit(1, Array(writeEpochFile(3, 1, 10 until 25)))
    assert(readBack(path).count() == 25)
    assert(GraftStore.latest(path).flatMap(_.epoch).contains(1L))
    // stats flow through the streaming path too (same writer) — the live
    // tail's files are skippable exactly like the backfill's
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.stats.contains("id")), "streaming files missing stats")
  }

  // one streamed epoch's file, written and committed as a sink task would
  private def epochFile(path: String, task: Long, epoch: Long,
      ids: Range): graft.sources.GraftStoreCommitMessage = {
    val w = new graft.sources.GraftStoreDataWriter(path, epochSchema, 0, task,
      None, None, s"data/part-0-$task-e$epoch.bin")
    ids.foreach(i => w.write(org.apache.spark.sql.catalyst.InternalRow(i.toLong)))
    w.commit().asInstanceOf[graft.sources.GraftStoreCommitMessage]
  }

  private val epochSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = false)))

  test("streaming sink: a metadata-only DELETE keeps the epoch marker, so a replay stays a no-op") {
    // the sink checks constraints in the active session
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val path = tempTable()
    val sw = new graft.sources.GraftStoreStreamingWrite(path, epochSchema,
      truncateEachEpoch = false)
    sw.commit(0, Array(epochFile(path, 1, 0, 0 until 10)))
    sw.commit(1, Array(epochFile(path, 2, 1, 10 until 25)))
    // every file is decided by its stats, so this DELETE swaps manifests
    new graft.sources.GraftStoreTable(path, epochSchema, None, None, None, None)
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L)))
    assert(readBack(path).count() == 10)
    assert(GraftStore.snapshot(new File(path, "_manifest")).get.op == "delete")
    assert(GraftStore.latest(path).flatMap(_.epoch).contains(1L),
      "the DELETE dropped the sink's epoch marker")
    sw.commit(1, Array(epochFile(path, 3, 1, 10 until 25)))
    assert(readBack(path).count() == 10, "a replayed epoch re-appended its rows")
  }

  test("streaming sink: TRUNCATE, overwrite, restore, publish and fastForward keep the epoch marker") {
    // the sink checks constraints in the active session
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    import spark.implicits._
    // each reset runs on a table that committed sink epochs 0 (10 rows)
    // and 1 (15 rows); a replay of epoch 1 afterwards must commit nothing
    val resets = Seq[(String, String => Unit)](
      "TRUNCATE" -> (path => new graft.sources.GraftStoreTable(path, epochSchema,
        None, None, None, None).truncateTable()),
      "overwrite" -> (path => writeDf(spark.range(100, 103, 1, 1).toDF("id"), path)),
      "restore" -> (path => GraftStore.restore(path, 1L)),
      "publish" -> { path =>
        val branch = s"${path}_branch"
        GraftStore.cloneTable(path, branch)
        writeDf(spark.range(100, 103, 1, 1).toDF("id"), branch)
        GraftStore.publish(path, branch)
      },
      "fastForward" -> { path =>
        GraftStore.branchCreate(path, "b")
        writeDf(spark.range(100, 103, 1, 1).toDF("id"), path, Map("branch" -> "b"))
        GraftStore.fastForward(path, "b")
      })
    resets.foreach { case (name, reset) =>
      val path = tempTable()
      val sw = new graft.sources.GraftStoreStreamingWrite(path, epochSchema,
        truncateEachEpoch = false)
      sw.commit(0, Array(epochFile(path, 1, 0, 0 until 10)))
      sw.commit(1, Array(epochFile(path, 2, 1, 10 until 25)))
      reset(path)
      val after = readBack(path).as[Long].collect().sorted.toSeq
      val v = GraftStore.readVersion(path)
      assert(GraftStore.latest(path).flatMap(_.epoch).contains(1L),
        s"$name dropped the sink's epoch marker")
      sw.commit(1, Array(epochFile(path, 3, 1, 10 until 25)))
      assert(GraftStore.readVersion(path) == v, s"a replayed epoch committed after $name")
      assert(readBack(path).as[Long].collect().sorted.toSeq == after,
        s"a replayed epoch re-appended its rows after $name")
    }
  }

  test("streaming sink: commits take the epoch from the snapshot they swap against, not a lagging pointer") {
    // the sink checks constraints in the active session
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    import spark.implicits._
    val path = tempTable()
    val sw = new graft.sources.GraftStoreStreamingWrite(path, epochSchema,
      truncateEachEpoch = false)
    sw.commit(0, Array(epochFile(path, 1, 0, 0 until 10)))
    sw.commit(1, Array(epochFile(path, 2, 1, 10 until 25)))
    // the pointer lags the newest snapshot (the race repointIfBehind mends)
    java.nio.file.Files.copy(new File(path, "_manifest.v1").toPath,
      new File(path, "_manifest").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    writeDf(spark.range(100, 105, 1, 1).toDF("id"), path, mode = "append")
    assert(readBack(path).count() == 30)
    assert(GraftStore.latest(path).flatMap(_.epoch).contains(1L),
      "the append recorded the lagging pointer's epoch")
    sw.commit(1, Array(epochFile(path, 3, 1, 10 until 25)))
    assert(readBack(path).count() == 30, "a replayed epoch re-appended its rows")
  }

  test("streaming sink end-to-end: bounded replay lands exactly once across epochs") {
    import spark.implicits._
    val out = graft.ops.Util.managedTempDir("graft_stream_sink_e2e_")
    val ckpt = graft.ops.Util.managedTempDir("graft_stream_sink_ckpt_")
    val q = spark.readStream.format("graft.sources.SynthSource")
      .option("rows", "10000").option("slices", "4")
      .option("microBatchRows", "2048")
      .load()
      .writeStream.format("graft.sources.GraftStore")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // ≥4 epochs really committed (admission control engaged), content exact
    assert(GraftStore.latest(out).flatMap(_.epoch).exists(_ >= 3L),
      s"expected multi-epoch progress, got epoch ${GraftStore.latest(out).flatMap(_.epoch)}")
    val ids = readBack(out).select($"id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 10000L), "streamed table content not exactly-once")
  }

  test("streaming sink restart: a NEW query from the same checkpoint resumes; committed epochs skip cross-incarnation") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val out = graft.ops.Util.managedTempDir("graft_stream_restart_")
    val ckpt = graft.ops.Util.managedTempDir("graft_stream_restart_ckpt_")
    def start() = spark.readStream.format("graft.sources.SynthSource")
      .option("rows", "20000").option("slices", "4")
      .option("microBatchRows", "1024")
      .load()
      .writeStream.format("graft.sources.GraftStore")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // incarnation 1: stop MID-FEED (after ≥2 committed epochs, well
    // before the 20k range drains)
    val q1 = start()
    val deadline = System.currentTimeMillis() + 120000
    while (!GraftStore.latest(out).flatMap(_.epoch).exists(_ >= 2L) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    q1.stop()
    val epochAtStop = GraftStore.latest(out).flatMap(_.epoch)
    assert(epochAtStop.exists(_ >= 2L), "first incarnation made no progress")
    val rowsAtStop = readBack(out).count()
    assert(rowsAtStop < 20000L, "stream drained before the stop — not mid-feed")
    // incarnation 2: a NEW query object on the same checkpoint must
    // RESUME (epochs continue past the stop point; any replayed last
    // batch no-ops against the manifest's epoch marker) and the final
    // table must equal the uninterrupted run exactly
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(GraftStore.latest(out).flatMap(_.epoch).get > epochAtStop.get,
      "second incarnation did not advance the epoch marker")
    val ids = readBack(out).select($"id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 20000L),
      s"restart broke exactly-once: ${ids.length} rows, " +
        s"${ids.toSeq.distinct.length} distinct")

    // protocol level: the skip state lives in the MANIFEST, not writer
    // memory — a FRESH StreamingWrite instance (a restarted driver)
    // replaying an already-committed epoch is a no-op that GCs its
    // redundant file, then continues with the next epoch normally
    val p2 = tempTable()
    val sch = StructType(Seq(StructField("id", LongType, nullable = false)))
    def epochFile(task: Long, epoch: Long, ids2: Range) = {
      val w = new graft.sources.GraftStoreDataWriter(p2, sch, 0, task,
        None, None, s"data/part-0-$task-e$epoch.bin")
      ids2.foreach(i => w.write(InternalRow(i.toLong)))
      w.commit().asInstanceOf[graft.sources.GraftStoreCommitMessage]
    }
    val swA = new graft.sources.GraftStoreStreamingWrite(p2, sch,
      truncateEachEpoch = false)
    swA.commit(0, Array(epochFile(1, 0, 0 until 10)))
    val swB = new graft.sources.GraftStoreStreamingWrite(p2, sch,
      truncateEachEpoch = false) // new incarnation, no shared state
    val replay = epochFile(2, 0, 0 until 10)
    swB.commit(0, Array(replay))
    assert(readBack(p2).count() == 10,
      "cross-incarnation replayed epoch duplicated rows")
    assert(!new File(p2, replay.file).exists(),
      "cross-incarnation replayed file not GC'd")
    swB.commit(1, Array(epochFile(3, 1, 10 until 20)))
    assert(readBack(p2).count() == 20)
    assert(GraftStore.latest(p2).flatMap(_.epoch).contains(1L))
  }

  test("streaming sink to a PARTITIONED table: per-cell file grain, replay idempotent, pruning on the tail") {
    import spark.implicits._
    val out = graft.ops.Util.managedTempDir("graft_stream_part_")
    val ckpt = graft.ops.Util.managedTempDir("graft_stream_part_ckpt_")
    // declare the partition spec BEFORE the first commit, exactly like
    // catalog CREATE TABLE ... PARTITIONED BY does
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "_partition"), "cell".getBytes("UTF-8"))
    val q = spark.readStream.format("graft.sources.SynthSource")
      .option("rows", "10000").option("slices", "4")
      .option("microBatchRows", "2048")
      .load()
      .selectExpr("id", "id % 5 AS cell")
      .writeStream.format("graft.sources.GraftStore")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(GraftStore.latest(out).flatMap(_.epoch).exists(_ >= 3L),
      s"expected multi-epoch progress, got epoch ${GraftStore.latest(out).flatMap(_.epoch)}")
    // exactly-once content
    val got = readBack(out).select($"id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L until 10000L), "partitioned stream not exactly-once")
    // per-cell grain: every data file is single-valued on the partition
    // column (min == max in its stats) — what makes pruning and
    // metadata-only DELETE work on the streamed tail
    val entries = GraftStore.readManifest(out).get._2
    assert(entries.nonEmpty && entries.forall { e =>
      e.stats.get("cell").exists(s => s.min == s.max)
    }, "streamed partitioned files must be single-valued per cell")
    // stats-pruning actually engages: a cell-equality scan reads only
    // that cell's files
    val pruned = spark.read.format("graft.sources.GraftStore")
      .option("path", out).load().filter($"cell" === 3L)
    assert(pruned.count() == 2000)
    // a replayed epoch is a no-op on a partitioned table too: re-commit
    // the last epoch's message shape through the API
    val epoch = GraftStore.latest(out).flatMap(_.epoch).get
    val before = readBack(out).count()
    val sw = new graft.sources.GraftStoreStreamingWrite(out,
      readBack(out).schema, truncateEachEpoch = false,
      rollOn = Seq((1, GraftStore.PartIdentity("cell"))))
    val w = new graft.sources.GraftStorePartitionedWriter(out,
      readBack(out).schema, 0, 99L,
      Seq((1, GraftStore.PartIdentity("cell"))), s"data/part-0-99-e$epoch")
    w.write(org.apache.spark.sql.catalyst.InternalRow(0L, 0L))
    val msg = w.commit()
    sw.commit(epoch, Array(msg))
    assert(readBack(out).count() == before, "replayed epoch must not append")
  }

  // ------------------------------------------------ snapshots / history

  test("every commit retains a snapshot manifest and bumps the version") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path)
    assert(GraftStore.readVersion(path) == 1)
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path, mode = "append")
    assert(GraftStore.readVersion(path) == 2)
    assert(GraftStore.snapshotFiles(path).map(_.getName) ==
      Seq("_manifest.v1", "_manifest.v2"))
  }

  test("time travel: versionAsOf reads past snapshots; truncate keeps history readable") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path, mode = "append") // v2
    writeDf(spark.range(1000, 1010, 1, 2).toDF("id"), path) // v3: truncate
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(readBack(path)) == (1000L until 1010L))
    // the truncated-away files are still reachable through their snapshots
    val v1 = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "1").load()
    assert(ids(v1) == (0L until 100L), "snapshot v1 is not the pre-append table")
    val v2 = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "2").load()
    assert(ids(v2) == (0L until 200L), "snapshot v2 is not the pre-truncate table")
  }

  test("expireSnapshots reclaims old manifests and their exclusive data files") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path) // v2: truncate
    assert(dataFiles(path).size == 4, "v1's files must survive while v1 is retained")
    GraftStore.expireSnapshots(path, 1, graceMs = 0) // vacuum(0): no writers in flight
    assert(GraftStore.snapshotFiles(path).map(_.getName) == Seq("_manifest.v2"))
    assert(dataFiles(path).size == 2, "v1's exclusive files must be GC'd at expiry")
    assert(readBack(path).count() == 100, "current table must be untouched")
    intercept[Exception] {
      spark.read.format("graft.sources.GraftStore")
        .option("path", path).option("versionAsOf", "1").load().count()
    }
  }

  test("timestampAsOf resolves to the latest snapshot at-or-before the instant") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    Thread.sleep(10)
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path, mode = "append") // v2
    val Seq((1L, ts1), (2L, ts2)) = GraftStore.commitTimestamps(path)
    assert(ts1 < ts2, "commits must carry increasing wall clocks")
    def readAt(ts: Long) = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("timestampAsOf", ts.toString).load().count()
    assert(readAt(ts1) == 100, "AS OF v1's instant reads v1")
    assert(readAt(ts1 + (ts2 - ts1) / 2) == 100,
      "an instant BETWEEN commits reads the earlier snapshot")
    assert(readAt(ts2) == 200, "AS OF v2's instant reads v2")
    assert(readAt(System.currentTimeMillis() + 60000) == 200,
      "a future instant reads the current table")
    intercept[Exception] { readAt(ts1 - 60000) } // pre-history: refused
  }

  test("restore re-commits an old snapshot as a new version, metadata-only") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path,
      mode = "append") // v2: the commit to undo
    val before = dataFiles(path)
    val v = GraftStore.restore(path, 1)
    assert(v == 3, "restore must commit a NEW version, not rewind")
    assert(dataFiles(path) == before,
      "restore must not write, move, or delete any data file")
    assert(readBack(path).select($"id").as[Long].collect().sorted.toSeq ==
      (0L until 100L), "current read after restore must equal v1")
    // history keeps the undone v2 and tags the restore op
    val h = GraftStore.history(path)
    assert(h.map(_._1) == Seq(1L, 2L, 3L))
    assert(h.last._4 == "restore(v1)", s"op tag: ${h.last._4}")
    val v2 = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "2").load()
    assert(v2.count() == 200, "the rolled-back snapshot stays readable")
  }

  test("shallow clone: zero-copy manifest fork; sides diverge independently") {
    import spark.implicits._
    val src = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), src) // v1
    val dst = graft.ops.Util.managedTempDir("graft_store_spec_clone_")
    GraftStore.cloneTable(src, dst)
    // zero-copy: every clone data file is a hard link to the source's
    // (same inode ⇒ link count 2), not a byte copy
    dataFiles(dst).foreach { f =>
      val attrs = java.nio.file.Files.getAttribute(
        java.nio.file.Paths.get(dst, "data", f), "unix:nlink")
      assert(attrs.asInstanceOf[Int] >= 2, s"$f is a copy, not a link")
    }
    assert(readBack(dst).count() == 100)
    // divergence: append lands on the clone only; source unchanged
    writeDf(spark.range(100, 150, 1, 1).toDF("id"), dst, mode = "append")
    assert(readBack(dst).count() == 150)
    assert(readBack(src).count() == 100, "source must not see clone commits")
    // GC on the source after divergence must not break the clone: the
    // shared files just drop one link
    writeDf(spark.range(500, 600, 1, 2).toDF("id"), src) // src v2: truncate
    GraftStore.expireSnapshots(src, 1, graceMs = 0)
    assert(readBack(dst).select($"id").as[Long].collect().sorted.toSeq ==
      (0L until 150L), "clone must survive source truncate + vacuum")
  }

  test("cluster-key runtime pruning: a dim join drops unprobed cells' files at planning time") {
    import spark.implicits._
    // 10 cells via a PARTITIONED table (per-value file rolling) => label
    // single-valued per file, so the scan derives `label` as cluster-like
    // and advertises it for runtime filtering (no declaration anywhere —
    // the stats are the source of truth)
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_store_spec_ck_")
    s2.conf.set("spark.sql.catalog.gck", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gck.root", root)
    s2.range(0, 1000, 1, 4).toDF("id")
      .select($"id", ($"id" % 10).cast("int").as("label"))
      .createOrReplaceTempView("ck_src")
    s2.sql(
      """CREATE TABLE gck.t PARTITIONED BY (label) AS
        |SELECT id, label FROM ck_src""".stripMargin)
    val path = s"$root/t"
    assert(dataFiles(path).size == 10, "partitioned write should roll 10 files")
    val vecs = spark.read.format("graft.sources.GraftStore")
      .option("path", path).load()
    // the dim must carry a SELECTIVE predicate on a column OTHER than the
    // join key (a key predicate would be statically inferred through the
    // join and pruned by plain stats pushdown — this test is about the
    // RUNTIME path, where only executing the dim reveals the keys)
    val dim = spark.range(0, 10).toDF("k")
      .select($"k".cast("int").as("k"), ($"k" / 3).cast("int").as("grp"))
      .filter($"grp" === 0) // k in {0,1,2}: 3 of 10 cells survive
    val df = vecs.join(dim, vecs("label") === dim("k"))
      .groupBy($"label").agg(count(lit(1)).as("n"))
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val pre = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = pre.collect {
      case b: BatchScanExec if b.scan.description().startsWith("graft_store") => b.scan
    }
    assert(scans.size == 1, s"expected one store scan:\n$pre")
    assert(scans.head.toBatch.planInputPartitions().length == 10,
      "pre-execution scan should offer all 10 cell files")
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).sum == 300, "3 cells x 100 rows")
    assert(scans.head.toBatch.planInputPartitions().length == 3,
      "runtime cluster-key filter did not drop the 7 unprobed cells' files")
    // correctness guard: a file whose stats DON'T single-value the column
    // must not be advertised (mixed layout degrades pruning, never results)
    val mixed = tempTable()
    writeDf(spark.range(0, 1000, 1, 4).toDF("id")
      .select($"id", ($"id" % 10).cast("int").as("label")), mixed)
    val mv = spark.read.format("graft.sources.GraftStore")
      .option("path", mixed).load()
    val mdf = mv.join(dim, mv("label") === dim("k"))
      .groupBy($"label").agg(count(lit(1)).as("n"))
    assert(mdf.collect().map(_.getLong(1)).sum == 300,
      "mixed-layout table must still answer correctly (no pruning, same rows)")
  }

  test("abort does not create a snapshot or bump the version") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path)
    intercept[Exception] {
      writeDf(spark.range(100, 200, 1, 2).toDF("id"), path,
        Map("failAllAttemptsOf" -> "1"), mode = "append")
    }
    assert(GraftStore.readVersion(path) == 1, "failed job bumped the version")
    assert(GraftStore.snapshotFiles(path).map(_.getName) == Seq("_manifest.v1"))
  }

  test("OPTIMIZE byte-concat: shrinks files, preserves content, merges stats, keeps history") {
    import spark.implicits._
    val path = tempTable()
    // two 8-way writes with per-file key ranges -> 16 small files
    writeDf(spark.range(0, 800, 1, 1).select($"id", ($"id" * 0.5).as("v"))
      .repartitionByRange(8, $"id"), path)
    writeDf(spark.range(800, 1600, 1, 1).select($"id", ($"id" * 0.5).as("v"))
      .repartitionByRange(8, $"id"), path, mode = "append")
    assert(GraftStore.readManifest(path).get._2.size == 16)
    val pre = readBack(path).collect().map(_.toString).sorted.toSeq
    val v = GraftStore.compact(spark, path, 1L << 30)
    assert(v == 3, s"compaction should commit snapshot v3, got $v")
    val (_, entries) = GraftStore.readManifest(path).get
    assert(entries.size == 1, s"expected one packed file, got ${entries.map(_.file)}")
    assert(entries.head.rows == 1600)
    // merged stats span the union of the inputs -> file skipping intact
    val st = entries.head.stats("id")
    assert(st.min == "0" && st.max == "1599" && st.nulls == 0,
      s"merged stats wrong: $st")
    assert(readBack(path).collect().map(_.toString).sorted.toSeq == pre,
      "compaction changed table content")
    // pre-compaction snapshot still readable: OPTIMIZE is history-preserving
    val v2 = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "2").load()
    assert(v2.collect().map(_.toString).sorted.toSeq == pre)
    // nothing left to pack -> no-op, no version bump
    assert(GraftStore.compact(spark, path, 1L << 30) == -1L)
    assert(GraftStore.readVersion(path) == 3)
  }

  test("incremental read: fromVersion diffs file sets; non-append ranges refused") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path, mode = "append") // v2
    writeDf(spark.range(200, 300, 1, 2).toDF("id"), path, mode = "append") // v3
    def incr(from: Long) = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("fromVersion", from.toString).load()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(incr(1) == (100L until 300L), "fromVersion=1 must be batches 2+3 exactly")
    assert(incr(2) == (200L until 300L), "fromVersion=2 must be batch 3 exactly")
    assert(incr(3) == Seq.empty, "fromVersion=current must be empty")
    // snapshot metadata walk
    assert(GraftStore.history(path).map { case (v, _, r, op) => (v, r, op) } ==
      Seq((1L, 100L, "overwrite"), (2L, 200L, "append"), (3L, 300L, "append")))
    // a truncate makes the range non-append: the diff would be a lie
    writeDf(spark.range(0, 10, 1, 2).toDF("id"), path) // v4: truncate
    val e = intercept[Exception] { incr(1) }
    assert(e.getMessage.contains("non-append"),
      s"expected the non-append refusal, got: ${e.getMessage}")
  }

  test("streaming source: commits become micro-batches; fromVersion starts the tail mid-history") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    val sink = s"tail_spec_${java.lang.Long.toHexString(System.nanoTime())}"
    val q = spark.readStream.format("graft.sources.GraftStore")
      .option("path", path).load()
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation",
        graft.ops.Util.managedTempDir("graft_tail_spec_ckpt_"))
      .start()
    def ids() = spark.table(sink).collect().map(_.getLong(0)).sorted.toSeq
    q.processAllAvailable()
    assert(ids() == (0L until 100L), "first batch must replay snapshot v1")
    // a commit landing WHILE the stream runs arrives as its own batch
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path, mode = "append") // v2
    q.processAllAvailable()
    assert(ids() == (0L until 200L), "appended snapshot did not arrive as a batch")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "commits must arrive as separate micro-batches, not one replay")
    q.stop()
    // fromVersion=1: tail only what came after the first snapshot
    val sink2 = s"${sink}_b"
    val q2 = spark.readStream.format("graft.sources.GraftStore")
      .option("path", path).option("fromVersion", "1").load()
      .writeStream.format("memory").queryName(sink2).outputMode("append")
      .option("checkpointLocation",
        graft.ops.Util.managedTempDir("graft_tail_spec_ckpt2_"))
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table(sink2).collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 200L), "fromVersion tail must skip the base snapshot")
  }

  test("streaming source: a batch range an equality delete touches is refused, from v0 too") {
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    GraftStore.deleteByKey(spark, path, spark.range(0, 10).toDF("id")) // v2
    val stream = new graft.sources.GraftStoreMicroBatchStream(path,
      readBack(path).schema, 0L)
    def plan(s: Long, e: Long) = stream.planInputPartitions(
      graft.sources.GraftVersionOffset(s), graft.sources.GraftVersionOffset(e))
    assert(plan(0, 1).length == 2)
    Seq((0L, 2L), (1L, 2L)).foreach { case (s, e) =>
      val ex = intercept[IllegalArgumentException](plan(s, e))
      assert(ex.getMessage.contains("non-append"), ex.getMessage)
    }
  }

  test("sink-demanded clustering: each key lives in exactly one data file") {
    import spark.implicits._
    val path = tempTable()
    val df = spark.range(0, 1000, 1, 8)
      .select(($"id" % 10).as("k"), $"id".as("v"))
    writeDf(df, path, Map("clusterBy" -> "k", "sortBy" -> "v"))
    // read each committed file separately through the connector's own
    // reader; a key appearing in two files means Spark did not honor the
    // sink's RequiresDistributionAndOrdering clustering
    val (schema, files) = GraftStore.readManifest(path).get
    val keysByFile = files.map(_.file).map { f =>
      val r = new GraftStoreFileReader(new File(path, f).getAbsolutePath, schema.size)
      val keys = scala.collection.mutable.Set[Long]()
      var lastV = Long.MinValue
      var sorted = true
      while (r.next()) {
        val row = r.get()
        keys += row.getLong(0)
        val v = row.getLong(1)
        if (v < lastV) sorted = false
        lastV = v
      }
      r.close()
      assert(sorted, s"$f not sorted by the sink-demanded ordering")
      keys.toSet
    }
    val all = keysByFile.flatten
    assert(all.size == all.toSet.size,
      "a cluster key is split across data files — clustering not honored")
    assert(all.toSet == (0L until 10L).toSet)
    assert(readBack(path).count() == 1000)
  }

  test("optimistic concurrency: version claim is atomic, concurrent appends both land") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    // protocol level: two writers that both computed v2 — the hard-link
    // claim admits exactly one; the loser throws with nothing clobbered
    val entries = GraftStore.readManifest(path).get._2
    val base = GraftStore.latest(path).get
    GraftStore.commit(path, base)(_.copy(entries = entries, op = "append"))
    val e = intercept[GraftStore.ConflictException] {
      GraftStore.commit(path, base)(_.copy(entries = Seq.empty, op = "overwrite"))
    }
    assert(e.getMessage.contains("claimed by another writer"))
    assert(GraftStore.readManifest(path).get._2.map(_.file).toSet ==
      entries.map(_.file).toSet, "conflict loser must not alter the table")
    // end to end: two threads appending concurrently — the loser retries
    // against the fresh base and BOTH batches land (no lost update)
    val t1 = new Thread(() => writeDf(
      spark.range(1000, 1500, 1, 2).toDF("id"), path, mode = "append"))
    val t2 = new Thread(() => writeDf(
      spark.range(2000, 2500, 1, 2).toDF("id"), path, mode = "append"))
    t1.start(); t2.start(); t1.join(); t2.join()
    val ids = readBack(path).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 100L) ++ (1000L until 1500L) ++
      (2000L until 2500L)), "a concurrent append was lost")
    // versions advanced past both commits; pointer names the latest
    assert(GraftStore.readVersion(path) == 4L,
      s"expected v4 after two concurrent appends, got v${GraftStore.readVersion(path)}")
  }

  test("idempotent writes: a replayed (txnAppId, txnVersion) append is a no-op") {
    import spark.implicits._
    val path = tempTable()
    def appendTxn(lo: Long, ver: Long): Unit =
      spark.range(lo, lo + 50, 1, 1).toDF("id")
        .write.format("graft.sources.GraftStore").option("path", path)
        .option("txnAppId", "nightly").option("txnVersion", ver.toString)
        .mode("append").save()
    writeDf(spark.range(0, 10, 1, 1).toDF("id"), path) // v1, no txn
    appendTxn(100, 1) // v2
    assert(readBack(path).count() == 60)
    appendTxn(900, 1) // REPLAY of version 1: different payload, same handle
    assert(readBack(path).count() == 60,
      "a replayed txnVersion must not append again")
    assert(GraftStore.readVersion(path) == 2L,
      "a replayed write must not even commit a snapshot")
    appendTxn(200, 2) // v3: a genuinely new version lands
    assert(readBack(path).count() == 110)
    // the watermark survives unrelated commits and vacuum: replay of
    // version 2 after both is still a no-op
    writeDf(spark.range(500, 510, 1, 1).toDF("id"), path, mode = "append") // v4
    GraftStore.expireSnapshots(path, 1, graceMs = 0)
    appendTxn(901, 2)
    assert(readBack(path).count() == 120,
      "txn watermark must survive unrelated commits and snapshot expiry")
    // no orphaned files from dropped replays
    val referenced = GraftStore.readManifest(path).get._2.map(_.file).toSet
    assert(dataFiles(path).forall(f => referenced(s"data/$f")),
      "replayed attempts must clean up their files")
  }

  test("concurrency stress: 8 simultaneous appenders all land, none lost, versions dense") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 10, 1, 1).toDF("id"), path) // v1
    // 8 threads race the same base version; every loser must retry to a
    // fresh version until its batch lands — the no-lost-update guarantee
    // a multi-writer daily pipeline actually leans on
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 8).map { i =>
      new Thread(() => try writeDf(
        spark.range(1000L * (i + 1), 1000L * (i + 1) + 100, 1, 2).toDF("id"),
        path, mode = "append")
      catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"appender died: ${Option(errs.peek()).map(_.getMessage)}")
    val ids = readBack(path).collect().map(_.getLong(0)).sorted.toSeq
    val expected = (0L until 10L) ++
      (0 until 8).flatMap(i => 1000L * (i + 1) until (1000L * (i + 1) + 100))
    assert(ids == expected.sorted, "a concurrent append was lost or duplicated")
    // exactly 9 snapshots (v1 + 8 appends), versions dense — every claim
    // conflict was resolved by retry, none by silent overwrite
    assert(GraftStore.readVersion(path) == 9L,
      s"expected v9, got v${GraftStore.readVersion(path)}")
    assert(GraftStore.history(path).map(_._1) == (1L to 9L),
      "snapshot chain must be dense")
  }

  test("partitioned table: writers roll per value, entries single-valued, partition delete metadata-only") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_part_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gpart", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gpart.root", root)
    s2.range(0, 1000, 1, 8)
      .select($"id", ($"id" % 5).as("k"), ($"id" * 0.25).as("v"))
      .createOrReplaceTempView("src_part")
    s2.sql("CREATE TABLE gpart.t PARTITIONED BY (k) AS SELECT * FROM src_part")
    val path = s"$root/t"
    // every committed entry is single-valued on k (min = max) even
    // though the source interleaves all five values across 8 partitions
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val st = e.stats("k")
      assert(st.min == st.max, s"${e.file} spans k=[${st.min},${st.max}]")
    }
    // a partition value lives in exactly one file (clustering + rolling)
    assert(entries.map(_.stats("k").min).distinct.size == 5)
    assert(entries.size == 5,
      s"expected one file per partition value, got ${entries.size}")
    // partition pruning = ordinary stats skipping
    import org.apache.spark.sql.sources.EqualTo
    val pruned = new graft.sources.GraftStoreScan(path, Array(EqualTo("k", 3L)))
    assert(pruned.planInputPartitions().length == 1, pruned.description())
    // dropping a partition is metadata-only: kept bytes untouched
    val mtimes = dataFiles(path).map(f =>
      f -> new File(path, s"data/$f").lastModified()).toMap
    s2.sql("DELETE FROM gpart.t WHERE k = 3")
    val kept = GraftStore.readManifest(path).get._2.map(_.file)
    assert(kept.size == 4 && kept.forall(_.startsWith("data/part-")),
      s"partition delete must not rewrite files: $kept")
    kept.foreach(f => assert(
      new File(path, f).lastModified() == mtimes(f.stripPrefix("data/")),
      s"kept file $f was rewritten by a partition delete"))
    assert(s2.sql("SELECT count(*) FROM gpart.t").head.getLong(0) == 800)
    // INSERT INTO keeps the layout contract
    s2.sql("INSERT INTO gpart.t SELECT id + 1000 AS id, id % 5 AS k, id * 0.25 AS v FROM src_part")
    GraftStore.readManifest(path).get._2.foreach { e =>
      val st = e.stats("k")
      assert(st.min == st.max, s"post-insert ${e.file} spans k")
    }
    // copy-on-write DML preserves the layout contract: the rewrite
    // demands the same clustering+ordering and rolls per value, so a
    // partition delete stays metadata-only after arbitrary UPDATEs
    s2.sql("UPDATE gpart.t SET v = -v WHERE id % 7 = 0") // touches all partitions
    val postDml = GraftStore.readManifest(path).get._2
    postDml.foreach { e =>
      val st = e.stats("k")
      assert(st.min == st.max, s"post-UPDATE ${e.file} spans k=[${st.min},${st.max}]")
    }
    s2.sql("DELETE FROM gpart.t WHERE k = 4")
    assert(GraftStore.readManifest(path).get._2
      .forall(e => !e.stats("k").min.contains("4")),
      "partition delete after DML must still drop whole files")
    // multi-column identity specs (PartitionEvolutionSpec), monotone
    // transforms and bucket (TransformPartitionSpec) are supported as of
    // round 11; the full years/months/days/hours temporal family since
    // round 12 — an UNKNOWN transform is still refused loudly
    val e1 = intercept[Exception] {
      s2.sql("CREATE TABLE gpart.bad (a BIGINT, ts TIMESTAMP) PARTITIONED BY (shard(ts))")
    }
    assert(e1.getMessage.contains("identity, years, months, days"))
    // streaming writes COMPOSE with partitioning as of round 13 (the
    // dedicated test below covers the happy path); a stream whose
    // schema lacks the partition column still fails loudly — the
    // required clustering references it
    val e2 = intercept[Exception] {
      spark.readStream.format("graft.sources.SynthSource")
        .option("rows", "100").option("slices", "2")
        .option("microBatchRows", "64").load()
        .writeStream.format("graft.sources.GraftStore")
        .option("path", path)
        .option("checkpointLocation",
          graft.ops.Util.managedTempDir("graft_part_ckpt_"))
        .outputMode("append").start().processAllAvailable()
    }
    assert(e2.getMessage.contains("k"),
      s"expected the missing-partition-column failure, got: ${e2.getMessage}")
  }

  test("streaming change feed: a live tail follows DML and stays silent across OPTIMIZE") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_scdf_")
    val path = s"$root/t"
    def batch(k: Long): DataFrame =
      spark.range(0, 100, 1, 2).select($"id", lit(k).as("k"))
    writeDf(batch(1), path, mode = "append") // v1
    writeDf(batch(2), path, mode = "append") // v2
    val sink = s"scdf_${java.lang.Long.toHexString(System.nanoTime())}"
    val q = spark.readStream.format("graft.sources.GraftStore")
      .option("path", path).option("changesFrom", "0").load()
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation",
        graft.ops.Util.managedTempDir("graft_scdf_ckpt_"))
      .start()
    q.processAllAvailable()
    def drained = spark.table(sink).collect()
    assert(drained.length == 200 && drained.forall(_.getString(2) == "insert"),
      "initial tail must replay both appends as inserts")
    // a metadata-only DELETE arrives as that commit's delete rows
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gscdf", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gscdf.root", root)
    s2.sql("DELETE FROM gscdf.t WHERE k = 2") // v3
    q.processAllAvailable()
    val afterDel = drained
    assert(afterDel.length == 300, "delete batch must arrive as rows")
    assert(afterDel.count(r => r.getString(2) == "delete" &&
      r.getLong(3) == 3L && r.getLong(1) == 2L) == 100)
    // OPTIMIZE churns files but the tail stays silent
    assert(GraftStore.compact(spark, path, 1L << 30) == 4L)
    q.processAllAvailable()
    assert(drained.length == 300,
      "a compaction must not re-emit rows into the live tail")
    // a later append keeps flowing
    writeDf(batch(3), path, mode = "append") // v5
    q.processAllAvailable()
    q.stop()
    val fin = drained
    assert(fin.length == 400)
    assert(fin.count(r => r.getString(2) == "insert" && r.getLong(3) == 5L) == 100,
      "post-compaction appends must keep arriving with their versions")
  }

  test("z-order rewrite: two-dim file envelopes prune on either dimension; commit is maintenance") {
    import spark.implicits._
    import org.apache.spark.sql.sources.LessThan
    val path = tempTable()
    // a 64x64 grid hash-scattered over 8 files: every file spans BOTH
    // dimensions end to end, so stats can prune nothing
    val grid = spark.range(0, 4096, 1, 4)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    writeDf(grid.repartition(8), path)
    def planned(fs: org.apache.spark.sql.sources.Filter*): Int =
      new graft.sources.GraftStoreScan(path, fs.toArray)
        .planInputPartitions().length
    assert(planned(LessThan("x", 16L), LessThan("y", 16L)) == 8,
      "hash layout must be unprunable — the baseline this test needs")
    // rewrite clustered on the interleave; x and y are equal-width (6
    // bits) so they feed the curve unscaled
    val v = GraftStore.rewriteClustered(spark, path,
      graft.ops.Layout.morton($"x", $"y"), targetFiles = 16)
    assert(v == 2L)
    // the 16x16 corner is exactly the curve's first quadrant-of-a-
    // quadrant: one file of 16 covers it (allow 2 for range-partition
    // boundary jitter)
    val after = planned(LessThan("x", 16L), LessThan("y", 16L))
    assert(after <= 2, s"z-ordered scan planned $after of 16 files")
    // either single dimension prunes too — the whole point vs a 1-d sort
    assert(planned(LessThan("y", 8L)) <= 4,
      "trailing dimension did not prune — layout is not multi-dimensional")
    // content identical, change feed silent, history records maintenance
    assert(readBack(path).orderBy($"x", $"y").collect().map(_.toString).toSeq
      == grid.orderBy($"x", $"y").collect().map(_.toString).toSeq)
    assert(changes(path, 1, 2).count() == 0,
      "a dataChange=false rewrite must be invisible to the change feed")
    assert(GraftStore.history(path).last._4 == "optimize")
    // the clustering key never reaches the stored bytes
    assert(readBack(path).schema.fieldNames.toSeq == Seq("x", "y"))
  }

  private def changes(path: String, from: Long, to: Long): DataFrame =
    spark.read.format("graft.sources.GraftStore").option("path", path)
      .option("changesFrom", from.toString)
      .option("changesTo", to.toString).load()

  test("change feed: appends emit inserts, optimize emits nothing, overwrite emits full churn") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).toDF("id"), path) // v1
    writeDf(spark.range(100, 200, 1, 2).toDF("id"), path, mode = "append") // v2
    // schema = data cols + (_change_type, _commit_version)
    val c = changes(path, 0, 2)
    assert(c.schema.fieldNames.toSeq == Seq("id", "_change_type", "_commit_version"))
    val rows = c.collect()
    assert(rows.forall(_.getString(1) == "insert"), "appends are pure inserts")
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 200L))
    assert(rows.filter(_.getLong(2) == 1L).map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L), "each insert must carry its own commit version")
    // OPTIMIZE churns every file but the op header keeps the feed silent
    assert(GraftStore.compact(spark, path, 1L << 30) == 3L)
    assert(changes(path, 2, 3).count() == 0,
      "a compaction is content-invisible — the feed must emit nothing")
    // overwrite: everything out, the new content in
    writeDf(spark.range(500, 510, 1, 1).toDF("id"), path) // v4
    val c34 = changes(path, 3, 4).collect()
    assert(c34.filter(_.getString(1) == "delete").map(_.getLong(0)).sorted
      .toSeq == (0L until 200L))
    assert(c34.filter(_.getString(1) == "insert").map(_.getLong(0)).sorted
      .toSeq == (500L until 510L))
  }

  test("change feed: DML deltas are loss-free — replaying the feed reconstructs the table") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_cdf_")
    val path = s"$root/t"
    (1 to 3).foreach { k => // batch-aligned: k single-valued per commit
      writeDf(spark.range(0, 100, 1, 2).select($"id", lit(k.toLong).as("k")),
        path, mode = "append") // v1..v3
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gcdf", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gcdf.root", root)
    s2.sql("DELETE FROM gcdf.t WHERE k = 2") // v4: metadata-only
    s2.sql("UPDATE gcdf.t SET id = id + 1000 WHERE k = 3") // v5: copy-on-write
    val feed = changes(path, 3, 5)
    // v4 deletes exactly batch 2; v5 pairs batch 3's old rows (delete)
    // with the updated ones (insert)
    val v4 = feed.filter($"_commit_version" === 4).collect()
    assert(v4.forall(r => r.getString(2) == "delete" && r.getLong(1) == 2L))
    assert(v4.length == 100)
    val v5del = feed.filter($"_commit_version" === 5 && $"_change_type" === "delete")
      .collect().map(_.getLong(0)).sorted.toSeq
    val v5ins = feed.filter($"_commit_version" === 5 && $"_change_type" === "insert")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(v5del == (0L until 100L), "update must delete the pre-image")
    assert(v5ins == (1000L until 1100L), "update must insert the post-image")
    // net replay from the v3 snapshot = the current table, row for row
    val v3 = spark.read.format("graft.sources.GraftStore").option("path", path)
      .option("versionAsOf", "3").load().select($"id", $"k")
    val ins = feed.filter($"_change_type" === "insert").select($"id", $"k")
    val del = feed.filter($"_change_type" === "delete").select($"id", $"k")
    val replayed = v3.unionAll(ins).exceptAll(del)
      .orderBy($"k", $"id").collect().map(_.toString).toSeq
    val current = readBack(path).orderBy($"k", $"id")
      .collect().map(_.toString).toSeq
    assert(replayed == current,
      "insert/delete feed does not reconstruct the table")
    // the feed needs every snapshot in its range retained
    GraftStore.expireSnapshots(path, 1)
    val e = intercept[Exception] { changes(path, 3, 5).collect() }
    assert(e.getMessage.contains("not retained"),
      s"expected the retention refusal, got: ${e.getMessage}")
    // and a change feed is read-only
    val w = intercept[Exception] {
      spark.range(1).toDF("id").withColumn("k", lit(9L))
        .write.format("graft.sources.GraftStore").option("path", path)
        .option("changesFrom", "0").mode("append").save()
    }
    assert(w.getMessage.contains("change feed"))
  }

  private def dvSidecars(path: String): Seq[String] =
    dataFiles(path).filter(_.contains(".dv."))

  test("deletion vectors: delete writes sidecars only; reads mask; deletes compose") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 1000, 1, 4).select($"id", ($"id" % 7).as("k")), path)
    val before = dataFiles(path)
    val mtimes = before.map(f => f -> new File(path, s"data/$f").lastModified()).toMap
    GraftStore.deleteWhereDV(spark, path, $"id" % 10 === 3)
    // no data file was rewritten or dropped — only sidecars appeared
    val after = dataFiles(path)
    assert(after.filterNot(_.contains(".dv.")).toSet == before.toSet,
      "merge-on-read delete must not touch data files")
    before.foreach(f => assert(
      new File(path, s"data/$f").lastModified() == mtimes(f),
      s"data file $f was rewritten by a DV delete"))
    assert(dvSidecars(path).size == 4, s"one sidecar per affected file: $after")
    // manifest: every entry carries its dv and the LIVE row count
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.dv.nonEmpty))
    assert(entries.map(_.rows).sum == 900)
    assert(readBack(path).count() == 900)
    assert(readBack(path).filter($"id" % 10 === 3).count() == 0)
    // second delete composes: its scan sees live rows, its sidecar
    // addresses PHYSICAL positions — both masks apply
    GraftStore.deleteWhereDV(spark, path, $"id" % 9 === 1)
    val expect = (0L until 1000L).filterNot(i => i % 10 == 3 || i % 9 == 1)
    assert(readBack(path).orderBy($"id").collect().map(_.getLong(0)).toSeq ==
      expect, "composed DV deletes returned the wrong row set")
    // cumulative: still one sidecar per file referenced, old ones GC-able
    assert(GraftStore.readManifest(path).get._2.forall(_.dv.nonEmpty))
  }

  test("deletion vectors: change feed emits exactly the newly deleted rows") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 1).select($"id", ($"id" % 5).as("k")), path) // v1
    GraftStore.deleteWhereDV(spark, path, $"id" % 10 === 3) // v2
    GraftStore.deleteWhereDV(spark, path, $"id" % 7 === 0)  // v3
    def changes(f: Long, t: Long) =
      spark.read.format("graft.sources.GraftStore").option("path", path)
        .option("changesFrom", f.toString).option("changesTo", t.toString)
        .load()
    val d1 = changes(1, 2).collect()
    assert(d1.forall(_.getString(2) == "delete"))
    assert(d1.map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L).filter(_ % 10 == 3),
      "first DV delta must be exactly the %10==3 rows")
    // the second delta must NOT re-emit rows the first delete removed
    val d2 = changes(2, 3).collect()
    assert(d2.map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L).filter(i => i % 7 == 0 && i % 10 != 3),
      "second DV delta re-emitted already-deleted rows or lost new ones")
    // full-range feed replay: inserts minus deletes == current table
    val all = changes(0, 3)
    val replayed = all.filter($"_change_type" === "insert").select($"id")
      .exceptAll(all.filter($"_change_type" === "delete").select($"id"))
      .orderBy($"id").collect().map(_.getLong(0)).toSeq
    assert(replayed ==
      readBack(path).orderBy($"id").collect().map(_.getLong(0)).toSeq,
      "replaying the DV feed does not reconstruct the table")
  }

  test("change feed range: changesFrom is the EXCLUSIVE base version") {
    // regression guard for a real bug: an MV refresh passed changesFrom =
    // v1+1 expecting "v1+1 onwards" and silently dropped the v1+1 commit's
    // inserts — the feed's contract is "changes SINCE changesFrom", i.e.
    // versions changesFrom+1 .. changesTo inclusive
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 50, 1, 1).select($"id"), path)                 // v1
    writeDf(spark.range(100, 150, 1, 1).select($"id"), path, mode = "append") // v2
    GraftStore.deleteWhereDV(spark, path, $"id" % 10 === 0)               // v3
    def changes(f: Long, t: Long) =
      spark.read.format("graft.sources.GraftStore").option("path", path)
        .option("changesFrom", f.toString).option("changesTo", t.toString)
        .load().select($"id", $"_change_type", $"_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // since v1: the v2 append's inserts AND the v3 deletes
    val sinceV1 = changes(1, 3)
    assert(sinceV1.count(_._2 == "insert") == 50,
      s"changesFrom=1 must include the v2 append: $sinceV1")
    assert(sinceV1.count(_._2 == "delete") == 10)
    assert(sinceV1.filter(_._2 == "insert").forall(_._3 == 2L))
    // since v2: ONLY the v3 deletes — v2's own commit is the base
    val sinceV2 = changes(2, 3)
    assert(sinceV2.forall(_._2 == "delete") && sinceV2.size == 10,
      s"changesFrom=2 must exclude v2's own inserts: $sinceV2")
  }

  test("deletion vectors: append-only readers refuse dv ranges; metadata aggs decline") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 200, 1, 2).select($"id"), path) // v1
    GraftStore.deleteWhereDV(spark, path, $"id" % 4 === 1) // v2
    // incremental (fromVersion) read: the base files mutated underneath
    val e = intercept[Exception] {
      spark.read.format("graft.sources.GraftStore").option("path", path)
        .option("fromVersion", "1").load().collect()
    }
    assert(e.getMessage.contains("delete-vectored"),
      s"expected the dv refusal, got: ${e.getMessage}")
    // metadata-only aggregates decline while vectors exist (a deleted
    // row may have held the extreme; null counts are unknown)
    val agg = readBack(path).agg(expr("count(*)").as("n"), max($"id"))
    assert(!agg.queryExecution.executedPlan.toString.contains("metadata-only"),
      "metadata aggregate must decline on a delete-vectored table")
    assert(agg.collect()(0).getLong(0) == 150)
  }

  test("purgeDeletes folds vectors into clean files: invisible, feed-silent, metadata restored") {
    import spark.implicits._
    val path = tempTable()
    writeDf(spark.range(0, 500, 1, 4).select($"id", ($"id" % 3).as("k")), path)
    GraftStore.deleteWhereDV(spark, path, $"id" % 5 === 2)
    val vDv = GraftStore.readVersion(path)
    val contentBefore = readBack(path).orderBy($"id").collect().map(_.toString).toSeq
    GraftStore.purgeDeletes(spark, path)
    // content-invisible rewrite
    assert(readBack(path).orderBy($"id").collect().map(_.toString).toSeq ==
      contentBefore, "purge changed table content")
    // manifest is vector-free; live rows exact
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.forall(_.dv.isEmpty), "purge left delete-vectored entries")
    assert(entries.map(_.rows).sum == 400)
    // the change feed is silent across the purge (op=optimize)
    val feed = spark.read.format("graft.sources.GraftStore").option("path", path)
      .option("changesFrom", vDv.toString).load()
    assert(feed.count() == 0, "purge must emit nothing in the change feed")
    // metadata-only aggregates return, with fresh exact stats
    val agg = readBack(path).agg(expr("count(*)").as("n"), max($"id").as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only aggregate"),
      "metadata aggregate did not return after purge")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 400 && r.getLong(1) == 499)
    // pre-purge snapshot still time-travels WITH its vectors applied
    val tt = spark.read.format("graft.sources.GraftStore").option("path", path)
      .option("versionAsOf", vDv.toString).load()
    assert(tt.count() == 400)
  }

  test("write-audit-publish: staged rows invisible on main; publish is fast-forward-only") {
    import spark.implicits._
    val root = graft.ops.Util.managedTempDir("graft_store_spec_wap_")
    val main = s"$root/main"
    val branch = s"$root/branch"
    writeDf(spark.range(0, 300, 1, 2).select($"id", lit("base").as("src")), main)
    val mainV = GraftStore.readVersion(main)
    GraftStore.cloneTable(main, branch)
    writeDf(spark.range(300, 400, 1, 1).select($"id", lit("day").as("src")),
      branch, mode = "append")
    // staged rows are invisible on main — version AND content untouched
    assert(GraftStore.readVersion(main) == mainV)
    assert(readBack(main).count() == 300, "staged rows leaked to main")
    GraftStore.publish(main, branch)
    assert(readBack(main).count() == 400)
    assert(readBack(main).filter($"src" === "day").count() == 100)
    // zero-copy: the staged file on main is a hard link to the branch's
    val staged = GraftStore.readManifest(main).get._2
      .filterNot(e => GraftStore.snapshot(
        new File(branch, "_manifest.v1")).get.files(branch).map(_.file).contains(e.file))
    assert(staged.nonEmpty)
    staged.foreach { e =>
      val a = java.nio.file.Files.getAttribute(
        new File(main, e.file).toPath, "unix:ino")
      val b = java.nio.file.Files.getAttribute(
        new File(branch, e.file).toPath, "unix:ino")
      assert(a == b, s"published file ${e.file} was copied, not linked")
    }
    // a second branch forked from the OLD version cannot publish over
    // the new commit — fast-forward only, never a lost update
    val stale = s"$root/stale"
    GraftStore.cloneTable(main, stale)
    writeDf(spark.range(400, 410, 1, 1).select($"id", lit("x").as("src")),
      main, mode = "append") // main advances past the fork
    writeDf(spark.range(500, 510, 1, 1).select($"id", lit("y").as("src")),
      stale, mode = "append")
    val c = intercept[GraftStore.ConflictException] {
      GraftStore.publish(main, stale)
    }
    assert(c.getMessage.contains("fast-forward"))
    assert(readBack(main).filter($"src" === "y").count() == 0,
      "conflicted publish leaked staged rows")
  }

  test("manifest cache: equal-length same-mtime pointer rewrites never serve stale snapshots") {
    import org.apache.spark.sql.types.StructType
    val path = tempTable()
    val schema = StructType.fromDDL("a BIGINT")
    // v1 and v2 list different (equal-name-length) files — the shape of
    // two metadata-only commits landing inside one filesystem timestamp
    // tick with byte-equal lengths, which an (mtime, size) cache key
    // cannot tell apart
    GraftStore.commit(path, GraftStore.Manifest(schema))(_.copy(
      entries = Seq(GraftStore.FileEntry("data/f1.bin", 1, Map.empty))))
    assert(GraftStore.readManifest(path).get._2.map(_.file) == Seq("data/f1.bin"))
    val ptr = java.nio.file.Paths.get(path, "_manifest")
    val t1 = java.nio.file.Files.getLastModifiedTime(ptr)
    GraftStore.commit(path, GraftStore.latest(path).get)(_.copy(
      entries = Seq(GraftStore.FileEntry("data/f2.bin", 1, Map.empty))))
    // force the collision: pin the pointer's mtime back to v1's (the
    // !ts= headers are both 13-digit millis, so sizes already match
    // whenever the version digit width does)
    java.nio.file.Files.setLastModifiedTime(ptr, t1)
    assert(GraftStore.readManifest(path).get._2.map(_.file) == Seq("data/f2.bin"),
      "pointer read served a stale snapshot — read-your-writes broken")
    assert(GraftStore.readVersion(path) == 2L)
    // drop + recreate in the SAME directory restarts versions at 1 — a
    // (path, version) key would serve the dead incarnation's v1 parse
    new File(path, "_manifest").delete()
    GraftStore.snapshotFiles(path).foreach(_.delete())
    GraftStore.commit(path, GraftStore.Manifest(schema))(_.copy(
      entries = Seq(GraftStore.FileEntry("data/f3.bin", 1, Map.empty))))
    assert(GraftStore.readManifest(path).get._2.map(_.file) == Seq("data/f3.bin"),
      "recreated table served the dead incarnation's manifest")
  }

  test("dynamic partition overwrite: only incoming partitions replaced, kept files untouched, CDF scoped, undecidable refuses") {
    import spark.implicits._
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_dynov_spec_")
    s2.conf.set("spark.sql.catalog.gds", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gds.root", root)
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    s2.range(0, 400).selectExpr("id", "id % 4 AS cell")
      .createOrReplaceTempView("dyn_src")
    s2.sql("CREATE TABLE gds.t PARTITIONED BY (cell) AS SELECT * FROM dyn_src")
    val path = s"$root/t"
    val preV = GraftStore.readVersion(path)
    val keptFiles = GraftStore.readManifest(path).get._2
      .filter(e => e.stats("cell").min.toLong != 1L)
      .map(e => e.file -> new File(path, e.file).lastModified()).toMap
    // restate ONLY cell 1 with different content
    s2.sql("INSERT OVERWRITE gds.t SELECT id + 1000 AS id, 1 AS cell FROM range(0, 50)")
    // kept partitions: same files, same bytes
    val after = GraftStore.readManifest(path).get._2
    keptFiles.foreach { case (f, m) =>
      assert(after.exists(_.file == f), s"kept partition file $f dropped")
      assert(new File(path, f).lastModified() == m, s"$f rewritten")
    }
    // replaced partition: old rows gone, new rows in
    val cells = s2.sql(
      "SELECT cell, count(*) AS n, min(id) AS lo FROM gds.t GROUP BY cell ORDER BY cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.toSeq == Seq((0L, 100L, 0L), (1L, 50L, 1000L),
      (2L, 100L, 2L), (3L, 100L, 3L)), cells.mkString(", "))
    // change feed: deletes+inserts for cell 1 only, nothing for kept cells
    val feed = s2.read.format("graft.sources.GraftStore").option("path", path)
      .option("changesFrom", preV.toString).load()
    assert(feed.filter(col("cell") =!= 1L).count() == 0,
      "kept partitions must not appear in the feed")
    assert(feed.filter(col("_change_type") === "delete").count() == 100)
    assert(feed.filter(col("_change_type") === "insert").count() == 50)
    // undecidable: a multi-cell file refuses the NEXT dynamic overwrite
    // instead of guessing. Compaction bins within one partition value,
    // so splice the cells while the table has no spec; the restored spec
    // leaves the old file's layout as it is
    GraftStore.evolvePartitionBy(path, None)
    GraftStore.compact(s2, path, Long.MaxValue)
    GraftStore.evolvePartitionBy(path, Some("cell"))
    val e = intercept[Exception](s2.sql(
      "INSERT OVERWRITE gds.t SELECT id, 2 AS cell FROM range(0, 10)"))
    assert(e.getMessage.contains("undecidable") ||
      e.getMessage != null && e.getCause != null &&
        e.getCause.getMessage.contains("undecidable"), e.getMessage)
    // unpartitioned table refuses too
    s2.sql("CREATE TABLE gds.u AS SELECT * FROM dyn_src")
    val e2 = intercept[Exception](s2.sql(
      "INSERT OVERWRITE gds.u SELECT id, 9 AS cell FROM range(0, 5)"))
    assert(e2.getMessage.contains("partition") ||
      (e2.getCause != null && e2.getCause.getMessage.contains("partition")),
      e2.getMessage)
  }

  test("CHECK constraints: stats-proven at commit, ADD validates existing data, violations abort atomically") {
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_check_spec_")
    s2.conf.set("spark.sql.catalog.gck", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gck.root", root)
    s2.sql("""CREATE TABLE gck.t (k BIGINT, v BIGINT)
      |TBLPROPERTIES('check.nonneg' = 'v >= 0')""".stripMargin)
    val path = s"$root/t"
    // conforming write commits
    s2.sql("INSERT INTO gck.t SELECT id AS k, id * 2 AS v FROM range(0, 100)")
    assert(s2.sql("SELECT count(*) FROM gck.t").collect()(0).getLong(0) == 100)
    val preV = GraftStore.readVersion(path)
    // violating write aborts the WHOLE commit (table unchanged, version
    // unchanged, no orphan rows visible)
    val e = intercept[Exception](s2.sql(
      "INSERT INTO gck.t SELECT id AS k, id - 5 AS v FROM range(0, 10)"))
    assert(e.getMessage.contains("nonneg") ||
      (e.getCause != null && e.getCause.getMessage.contains("nonneg")),
      e.getMessage)
    assert(GraftStore.readVersion(path) == preV, "failed commit advanced the version")
    assert(s2.sql("SELECT count(*) FROM gck.t").collect()(0).getLong(0) == 100)
    // NULLs pass (SQL CHECK semantics) — on a null-free proof path the
    // widened filter still proves all-pass for fully-null files
    s2.sql("INSERT INTO gck.t SELECT id AS k, CAST(NULL AS BIGINT) AS v FROM range(0, 5)")
    assert(s2.sql("SELECT count(*) FROM gck.t").collect()(0).getLong(0) == 105)
    // ADD CONSTRAINT validates EXISTING data: k <= 1000 holds, k <= 50 does not
    s2.sql("ALTER TABLE gck.t SET TBLPROPERTIES('check.cap' = 'k <= 1000')")
    val e2 = intercept[Exception](s2.sql(
      "ALTER TABLE gck.t SET TBLPROPERTIES('check.small' = 'k <= 50')"))
    assert(e2.getMessage.contains("check.small") ||
      (e2.getCause != null && e2.getCause.getMessage.contains("check.small")),
      e2.getMessage)
    assert(!GraftStore.readProps(path).contains("check.small"),
      "failed ADD CONSTRAINT must not persist")
    // unenforceable constraint refused at DDL time, not first write
    intercept[Exception](s2.sql(
      "ALTER TABLE gck.t SET TBLPROPERTIES('check.bad' = 'length(CAST(k AS STRING)) < 3')"))
    // DML rewrites are guarded too: a COW UPDATE that would write
    // violating survivors aborts whole, table unchanged
    val preU = GraftStore.readVersion(path)
    val e3 = intercept[Exception](s2.sql(
      "UPDATE gck.t SET v = -1 WHERE k < 10"))
    assert(e3.getMessage.contains("nonneg") ||
      (e3.getCause != null && e3.getCause.getMessage.contains("nonneg")),
      e3.getMessage)
    assert(GraftStore.readVersion(path) == preU)
    assert(s2.sql("SELECT count(*) FROM gck.t WHERE v < 0")
      .collect()(0).getLong(0) == 0)
    // SHOW TBLPROPERTIES surfaces the live constraints
    val props = s2.sql("SHOW TBLPROPERTIES gck.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("check.nonneg").contains("v >= 0"), props.toString)
    assert(props.get("check.cap").contains("k <= 1000"), props.toString)
    // UNSET drops the constraint; the violating write then commits
    s2.sql("ALTER TABLE gck.t UNSET TBLPROPERTIES('check.nonneg')")
    s2.sql("INSERT INTO gck.t SELECT id AS k, id - 5 AS v FROM range(0, 10)")
    assert(s2.sql("SELECT count(*) FROM gck.t").collect()(0).getLong(0) == 115)
  }

  test("CHECK constraints: three-valued NULL semantics — mixed-null conforming files commit, NULL-rejecting constraints enforce") {
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_check_null_spec_")
    s2.conf.set("spark.sql.catalog.gcn", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gcn.root", root)
    s2.sql("""CREATE TABLE gcn.t (k BIGINT, v BIGINT)
      |TBLPROPERTIES('check.nonneg' = 'v >= 0')""".stripMargin)
    val path = s"$root/t"
    // a conforming file with SOME nulls in the checked column commits:
    // min/max describe exactly the non-null rows (all >= 0) and the
    // null rows pass CHECK by the SQL UNKNOWN rule — the Or(pred,
    // IsNull) composite must prove from min/max alone, not refuse on
    // nulls > 0
    s2.sql("""INSERT INTO gcn.t
      |SELECT id AS k, IF(id % 3 = 0, CAST(NULL AS BIGINT), id) AS v
      |FROM range(0, 30)""".stripMargin)
    assert(s2.sql("SELECT count(*) FROM gcn.t").collect()(0).getLong(0) == 30)
    assert(s2.sql("SELECT count(*) FROM gcn.t WHERE v IS NULL")
      .collect()(0).getLong(0) == 10)
    // a violating mixed file still refuses (some non-null value < 0)
    val preV = GraftStore.readVersion(path)
    val e = intercept[Exception](s2.sql(
      """INSERT INTO gcn.t
        |SELECT id AS k, IF(id % 3 = 0, CAST(NULL AS BIGINT), id - 20) AS v
        |FROM range(0, 10)""".stripMargin))
    assert(e.getMessage.contains("nonneg") ||
      (e.getCause != null && e.getCause.getMessage.contains("nonneg")),
      e.getMessage)
    assert(GraftStore.readVersion(path) == preV)
    // NOT-wrapped comparison proves through the same tolerance path
    s2.sql("ALTER TABLE gcn.t SET TBLPROPERTIES('check.notneg' = 'NOT (v < 0)')")
    s2.sql("""INSERT INTO gcn.t
      |SELECT id + 100 AS k, IF(id % 2 = 0, CAST(NULL AS BIGINT), id) AS v
      |FROM range(0, 10)""".stripMargin)
    assert(s2.sql("SELECT count(*) FROM gcn.t").collect()(0).getLong(0) == 40)
    // a NULL-rejecting constraint is NOT tautologized: IS NOT NULL
    // evaluates FALSE (not UNKNOWN) on a null row, so a null-carrying
    // insert must refuse — this is the regression the blanket
    // Or(pred, IsNull(refs)) widening admitted silently
    s2.sql("""CREATE TABLE gcn.nn (k BIGINT, v BIGINT)
      |TBLPROPERTIES('check.present' = 'v IS NOT NULL')""".stripMargin)
    s2.sql("INSERT INTO gcn.nn SELECT id AS k, id AS v FROM range(0, 20)")
    assert(s2.sql("SELECT count(*) FROM gcn.nn").collect()(0).getLong(0) == 20)
    val nnPath = s"$root/nn"
    val preNn = GraftStore.readVersion(nnPath)
    val eNull = intercept[Exception](s2.sql(
      "INSERT INTO gcn.nn SELECT id AS k, CAST(NULL AS BIGINT) AS v FROM range(0, 5)"))
    assert(eNull.getMessage.contains("present") ||
      (eNull.getCause != null && eNull.getCause.getMessage.contains("present")),
      eNull.getMessage)
    val eMixed = intercept[Exception](s2.sql(
      """INSERT INTO gcn.nn
        |SELECT id AS k, IF(id % 2 = 0, CAST(NULL AS BIGINT), id) AS v
        |FROM range(0, 6)""".stripMargin))
    assert(eMixed.getMessage.contains("present") ||
      (eMixed.getCause != null && eMixed.getCause.getMessage.contains("present")),
      eMixed.getMessage)
    assert(GraftStore.readVersion(nnPath) == preNn)
    assert(s2.sql("SELECT count(*) FROM gcn.nn").collect()(0).getLong(0) == 20)
    // user-written explicit OR composite behaves identically to the
    // implicit widening
    s2.sql("""CREATE TABLE gcn.ex (k BIGINT, v BIGINT)
      |TBLPROPERTIES('check.rng' = 'v >= 0 OR v IS NULL')""".stripMargin)
    s2.sql("""INSERT INTO gcn.ex
      |SELECT id AS k, IF(id % 4 = 0, CAST(NULL AS BIGINT), id) AS v
      |FROM range(0, 16)""".stripMargin)
    assert(s2.sql("SELECT count(*) FROM gcn.ex").collect()(0).getLong(0) == 16)
    intercept[Exception](s2.sql(
      "INSERT INTO gcn.ex SELECT id AS k, -1 AS v FROM range(0, 3)"))
  }

  test("REPLACE WHERE: static partition overwrite is one atomic commit; undecidable conditions refuse; AlwaysTrue truncates") {
    import spark.implicits._
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_repw_spec_")
    s2.conf.set("spark.sql.catalog.grw", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.grw.root", root)
    // STATIC mode (the default): INSERT OVERWRITE ... PARTITION (cell=1)
    s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    s2.range(0, 400).selectExpr("id", "id % 4 AS cell")
      .createOrReplaceTempView("rw_src")
    s2.sql("CREATE TABLE grw.t PARTITIONED BY (cell) AS SELECT * FROM rw_src")
    val path = s"$root/t"
    val preV = GraftStore.readVersion(path)
    val keptMtimes = GraftStore.readManifest(path).get._2
      .filter(e => e.stats("cell").min.toLong != 1L)
      .map(e => e.file -> new File(path, e.file).lastModified()).toMap
    s2.sql(
      "INSERT OVERWRITE grw.t PARTITION (cell = 1) SELECT id + 5000 AS id FROM range(0, 25)")
    assert(GraftStore.readVersion(path) == preV + 1,
      "replace-where must be ONE commit (drop + append fused)")
    keptMtimes.foreach { case (f, m) =>
      assert(new File(path, f).lastModified() == m, s"$f rewritten")
    }
    val cells = s2.sql(
      "SELECT cell, count(*) AS n, min(id) AS lo FROM grw.t GROUP BY cell ORDER BY cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.toSeq == Seq((0L, 100L, 0L), (1L, 25L, 5000L),
      (2L, 100L, 2L), (3L, 100L, 3L)), cells.mkString(", "))
    // another decidable static partition replace works the same way
    s2.sql(
      "INSERT OVERWRITE grw.t PARTITION (cell = 2) SELECT id FROM range(0, 5)")
    assert(s2.sql("SELECT count(*) FROM grw.t WHERE cell = 2")
      .collect()(0).getLong(0) == 5)
    // the truly undecidable case: overwrite keyed on a non-layout column
    val e2 = intercept[Exception] {
      import org.apache.spark.sql.functions.col
      s2.range(0, 5).selectExpr("id + 9000 AS id", "2 AS cell")
        .writeTo("grw.t").overwrite(col("id") === 7L)
    }
    assert(e2.getMessage.contains("undecidable") ||
      (e2.getCause != null && e2.getCause.getMessage.contains("undecidable")),
      e2.getMessage)
    // AlwaysTrue (bare INSERT OVERWRITE in static mode) truncates
    s2.sql("INSERT OVERWRITE grw.t SELECT id, 7 AS cell FROM range(0, 10)")
    assert(s2.sql("SELECT count(*) FROM grw.t").collect()(0).getLong(0) == 10)
  }

  test("compactSorted: key-disjoint sorted files, equality lookups prune to one file, content invariant, CDF silent") {
    import spark.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val path = tempTable()
    // two 8-way hash-partitioned writes: every file spans the whole key
    // range, the worst case for pruning
    val df = spark.range(0, 4000).select($"id", ($"id" % 7).as("g"))
    writeDf(df.filter($"id" % 2 === 0).repartition(8), path)
    writeDf(df.filter($"id" % 2 === 1).repartition(8), path, mode = "append")
    val before = readBack(path).orderBy($"id").collect()
    val preV = GraftStore.readVersion(path)
    // pre-sort: every file's bounds cover the key (interleaved), so
    // min/max keep all 16; only the per-file key sketch prunes here
    val pre = GraftStore.readManifest(path).get._2
    assert(pre.size == 16 && pre.forall(e =>
      e.stats("id").min.toLong <= 1234L && 1234L <= e.stats("id").max.toLong))
    assert(new graft.sources.GraftStoreScan(path,
      Array(EqualTo("id", 1234L))).planInputPartitions().length < 16)
    val v = GraftStore.compactSorted(spark, path, Seq("id"),
      targetBytes = 64L * 1024)
    assert(v == preV + 1)
    val es = GraftStore.readManifest(path).get._2
    assert(es.size > 1, "target_bytes must split the rewrite into several files")
    // key-disjoint: sorted (min, max) ranges never overlap
    val ranges = es.map(e =>
      (e.stats("id").min.toLong, e.stats("id").max.toLong)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"overlapping key ranges after sort-OPTIMIZE: $ranges")
      case _ => ()
    }
    // every file key-sorted: the writer's verified mono flag
    assert(es.forall(_.stats("id").mono), "rewritten files must be key-sorted")
    // the point lookup now prunes to exactly ONE file
    assert(new graft.sources.GraftStoreScan(path,
      Array(EqualTo("id", 1234L))).planInputPartitions().length == 1,
      "post-OPTIMIZE equality lookup must prune to one file")
    // content invariant (a permutation), and the feed is silent
    assert(readBack(path).orderBy($"id").collect().toSeq == before.toSeq)
    val feed = spark.read.format("graft.sources.GraftStore")
      .option("path", path)
      .option("changesFrom", preV.toString).load()
    assert(feed.count() == 0, "sort-OPTIMIZE must be CDF-silent")
    // refusals: unknown column, empty key list
    intercept[IllegalArgumentException](
      GraftStore.compactSorted(spark, path, Seq("nope")))
    intercept[IllegalArgumentException](
      GraftStore.compactSorted(spark, path, Seq.empty))
  }

  test("commit timestamps are strictly monotonic across rapid-fire commits (AS-OF boundaries never ambiguous)") {
    import spark.implicits._
    // r17 advice: commits landing in the same millisecond made
    // timestamp-AS-OF / table_changes boundary resolution ambiguous.
    // The writer stamps max(now, prev+1); appends are fast enough here
    // that several WOULD share a millisecond without the rule.
    val path = tempTable()
    writeDf(Seq((1L, "a")).toDF("k", "v"), path)
    (0 until 6).foreach { i =>
      writeDf(Seq((i.toLong + 2, "b")).toDF("k", "v"), path, mode = "append")
    }
    val ts = (1 to 7).map(v =>
      GraftStore.snapshot(new File(path, s"_manifest.v$v")).get.ts)
    assert(ts.forall(_ > 0), s"missing !ts header: $ts")
    ts.sliding(2).foreach { case Seq(a, b) =>
      assert(b > a, s"non-monotonic commit timestamps: $ts")
    }
  }

  test("torn commit (snapshot claimed, pointer move lost): reads stay sane, next commit repairs, nothing lost") {
    import spark.implicits._
    // the crash window in the two-step commit: createLink claims
    // _manifest.vN (the commit is DURABLE from this instant), then the
    // writer dies before ATOMIC_MOVEing the pointer. Simulated exactly:
    // commit v3 for real, then restore the pointer file to v2's bytes.
    val path = tempTable()
    writeDf(spark.range(0, 100, 1, 2).select($"id"), path)           // v1
    writeDf(spark.range(100, 200, 1, 2).select($"id"), path,
      mode = "append")                                               // v2
    writeDf(spark.range(200, 300, 1, 2).select($"id"), path,
      mode = "append")                                               // v3
    java.nio.file.Files.copy(
      new File(path, "_manifest.v2").toPath,
      new File(path, "_manifest").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // reads through the lagging pointer: documented staleness, no error
    assert(readBack(path).count() == 200,
      "a torn commit reads as the pointer's snapshot until repaired")
    // but v3 is durably committed: time travel sees it
    assert(spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", "3").load().count() == 300)
    // the next commit must merge against the HIGHEST snapshot (v3), not
    // the stale pointer — claiming v4 and repairing the pointer; a merge
    // against the pointer would either lose v3's rows or die on the claim
    writeDf(spark.range(300, 400, 1, 2).select($"id"), path,
      mode = "append")                                               // v4
    assert(GraftStore.readVersion(path) == 4L,
      "repair commit must claim v4 and re-point")
    assert(readBack(path).orderBy($"id").collect().map(_.getLong(0)).toSeq ==
      (0L until 400L), "the torn v3's rows must survive the repair")
  }

  // ------------------------------------------------------ one write path

  test("an unpartitioned append whose tasks get no rows commits only non-empty files") {
    val path = tempTable()
    // 3 rows over 8 tasks: 5 tasks get none
    spark.range(0, 3).repartition(8).write.format("graft.sources.GraftStore")
      .option("path", path).mode("append").save()
    val entries = GraftStore.latest(path).get.files(path)
    assert(entries.size == 3 && entries.forall(_.rows == 1),
      s"expected 3 one-row entries, got ${entries.map(_.rows)}")
    assert(dataFiles(path).toSet == entries.map(_.file.stripPrefix("data/")).toSet,
      s"files under data/ that no entry lists: ${dataFiles(path)}")
    assert(new graft.sources.GraftStoreScan(path).planInputPartitions().length == 3)
    assert(readBack(path).collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("a CHECK-constrained catalog table accepts an append whose tasks get no rows") {
    val s2 = spark.newSession()
    val root = graft.ops.Util.managedTempDir("graft_check_empty_")
    s2.conf.set("spark.sql.catalog.gce", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gce.root", root)
    s2.sql("CREATE TABLE gce.t (x BIGINT) TBLPROPERTIES('check.pos' = 'x > 0')")
    // an empty file's stats prove NoRows, which the check refused
    s2.range(1, 4).toDF("x").repartition(8).writeTo("gce.t").append()
    assert(s2.sql("SELECT x FROM gce.t").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(GraftStore.latest(s"$root/t").get.files(s"$root/t").forall(_.rows > 0))
  }

  test("streaming sink: an epoch with an empty task commits no zero-row entry") {
    // the sink checks constraints in the active session
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val path = tempTable()
    val sw = new graft.sources.GraftStoreStreamingWrite(path, epochSchema,
      truncateEachEpoch = false)
    val factory = sw.createStreamingWriterFactory(null)
    val full = factory.createWriter(0, 1L, 0L)
    (0 until 5).foreach(i => full.write(org.apache.spark.sql.catalyst.InternalRow(i.toLong)))
    val empty = factory.createWriter(1, 2L, 0L)
    sw.commit(0, Array(full.commit(), empty.commit()))
    val entries = GraftStore.latest(path).get.files(path)
    assert(entries.map(_.rows) == Seq(5L), s"entries: ${entries.map(e => e.file -> e.rows)}")
    assert(dataFiles(path) == entries.map(_.file.stripPrefix("data/")))
    assert(readBack(path).count() == 5)
  }

  test("one write path: src/main makes data files only through the task writer and its one factory") {
    def sources(d: File): Seq[File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
        .flatMap(f => if (f.isDirectory) sources(f)
          else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty)
    val all = sources(new File("src/main/scala"))
    assert(all.length > 40, s"main sources not found: ${all.length}")
    // (constructor, the one class whose body may call it)
    val allowed = Seq(
      "new GraftStoreDataWriter(" -> "class GraftStorePartitionedWriter(",
      "new GraftStorePartitionedWriter(" -> "class GraftStoreWriterFactory(")
    var found = Set.empty[String]
    val offending = all.flatMap { f =>
      // comments out, line breaks kept so the line numbers stay true
      val code = "(?s)/\\*.*?\\*/".r.replaceAllIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"),
        m => m.matched.filter(_ == '\n')).replaceAll("//[^\n]*", "")
      allowed.flatMap { case (ctor, owner) =>
        // a top-level class body runs from its header to the first
        // closing brace in column 0
        val from = code.indexOf(s"\n$owner")
        val to = if (from < 0) -1 else code.indexOf("\n}", from)
        Iterator.iterate(code.indexOf(ctor))(i => code.indexOf(ctor, i + 1))
          .takeWhile(_ >= 0).toSeq.flatMap { i =>
            if (i > from && i < to) { found += ctor; None }
            else Some(s"$ctor at ${f.getName}:${code.take(i).count(_ == '\n') + 1}")
          }
      }
    }
    assert(found == allowed.map(_._1).toSet, s"owners not found: $found")
    assert(offending.isEmpty, s"a second write path: ${offending.mkString(", ")}")
  }
}
