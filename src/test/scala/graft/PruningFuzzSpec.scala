package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftStore

/** Seeded fuzz for stats-pruning SOUNDNESS — the silent-wrong-results
  * class. The targeted specs pin that pruning HAPPENS (file counts on
  * crafted layouts); this one pins that it never goes too far: for a
  * battery of randomly generated predicates over a table full of
  * adversarial values (nulls, NaN, ±Inf, -0.0, Int.MinValue/MaxValue,
  * empty and non-ASCII strings), a filtered read of the store table
  * must return byte-identical rows to the same filter over the same
  * data in plain parquet (Spark-native ground truth). Store-side file
  * skipping runs off the manifest min/max/null stats; parquet prunes
  * off row-group stats — any divergence is a store pruning bug, not a
  * flake. Seed fixed, generation deterministic. */
class PruningFuzzSpec extends SparkSuite {

  test("seeded predicate fuzz: pruned store scan == plain parquet on adversarial values") {
    val rnd = new scala.util.Random(20260816L)
    def pickI: java.lang.Integer = rnd.nextInt(12) match {
      case 0 => null
      case 1 => Int.MinValue
      case 2 => Int.MaxValue
      case _ => Int.box(rnd.nextInt(200) - 100)
    }
    def pickD: java.lang.Double = rnd.nextInt(14) match {
      case 0 => null
      case 1 => Double.NaN
      case 2 => Double.PositiveInfinity
      case 3 => Double.NegativeInfinity
      case 4 => Double.box(-0.0)
      // quarter-grid so equality predicates land on real values
      case _ => Double.box((rnd.nextInt(400) - 200) / 4.0)
    }
    def pickS: String = rnd.nextInt(10) match {
      case 0 => null
      case 1 => ""
      case 2 => "αβγ"
      case _ =>
        val c = ('a' + rnd.nextInt(3)).toChar
        c.toString * (1 + rnd.nextInt(3))
    }
    val rows = (0L until 3000L).map(k => Row(k, pickI, pickD, pickS))
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("s", StringType, nullable = true)))
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      .repartitionByRange(12, col("k")) // k-clustered files: k-stats bite
    val root = graft.ops.Util.managedTempDir("graft_prune_fuzz_")
    val pqPath = s"$root/pq"
    val stPath = s"$root/st"
    df.write.parquet(pqPath)
    df.write.format("graft.sources.GraftStore").option("path", stPath)
      .mode("overwrite").save()
    val pq = spark.read.parquet(pqPath)
    val st = spark.read.format("graft.sources.GraftStore")
      .option("path", stPath).load()

    // sanity that the layout actually prunes (k-range files): a tight k
    // predicate must plan a strict subset of the 12 files
    import org.apache.spark.sql.sources.LessThan
    val scanAll = new graft.sources.GraftStoreScan(stPath)
    assert(scanAll.planInputPartitions().length == 12)
    val scanPruned = new graft.sources.GraftStoreScan(stPath,
      Array(LessThan("k", 100L)))
    assert(scanPruned.planInputPartitions().length < 12,
      "fuzz fixture lost its prunable layout — the fuzz would test nothing")

    // deterministic predicate battery
    def constI: Column = rnd.nextInt(6) match {
      case 0 => lit(Int.MinValue)
      case 1 => lit(Int.MaxValue)
      case _ => lit(rnd.nextInt(200) - 100)
    }
    def constD: Column = rnd.nextInt(8) match {
      case 0 => lit(Double.NaN)
      case 1 => lit(Double.PositiveInfinity)
      case 2 => lit(Double.NegativeInfinity)
      case 3 => lit(-0.0)
      case _ => lit((rnd.nextInt(400) - 200) / 4.0)
    }
    def constS: Column =
      lit(Seq("", "a", "aa", "b", "ccc", "αβγ")(rnd.nextInt(6)))
    def constK: Column = lit(rnd.nextLong(3500L) - 200L)
    def simple(): Column = {
      val (c, v) = rnd.nextInt(4) match {
        case 0 => (col("k"), constK)
        case 1 => (col("i"), constI)
        case 2 => (col("d"), constD)
        case _ => (col("s"), constS)
      }
      rnd.nextInt(10) match {
        case 0 => c === v
        case 1 => c =!= v
        case 2 => c < v
        case 3 => c <= v
        case 4 => c > v
        case 5 => c >= v
        case 6 => c.isNull
        case 7 => c.isNotNull
        case 8 => c <=> v
        case _ => c.isin(v, v, v) // isin over sampled consts
      }
    }
    def pred(): Column = rnd.nextInt(4) match {
      case 0 => simple() && simple()
      case 1 => simple() || simple()
      case _ => simple()
    }
    def canon(d: DataFrame, p: Column): Seq[String] =
      d.filter(p).collect().map(_.toString).sorted.toSeq
    var nonEmpty = 0
    (1 to 80).foreach { i =>
      val p = pred()
      val expect = canon(pq, p)
      val got = canon(st, p)
      assert(got == DriverReads.canon(DriverReads.viaJob(st.filter(p))),
        s"fuzz predicate #$i: collect() and the job path diverged: $p")
      assert(got == expect,
        s"fuzz predicate #$i diverged: $p — store ${got.length} rows vs " +
          s"parquet ${expect.length}; first diff: " +
          s"${(expect.toSet -- got.toSet).take(2)} missing, " +
          s"${(got.toSet -- expect.toSet).take(2)} extra")
      if (expect.nonEmpty) nonEmpty += 1
    }
    // the battery must actually exercise matches, not vacuously pass
    assert(nonEmpty >= 30, s"only $nonEmpty/80 predicates matched rows — " +
      "the generator drifted into a vacuous battery")
  }

  test("seeded integral equality / IN fuzz: key sketches prune soundly across compaction, DV delete, widening and pre-sketch files") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    // `u` scatters over every k-range file, so min/max never prune it and
    // only the key sketch can; every 17th row is null
    def uOf(k: Long): java.lang.Integer =
      if (k % 17 == 0) null else Int.box((k * 7919 % 100003).toInt)
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("u", IntegerType, nullable = true)))
    def rows(lo: Long, hi: Long) = spark.createDataFrame(spark.sparkContext
      .parallelize((lo until hi).map(k => Row(k, uOf(k))), 4), schema)
      .repartitionByRange(((hi - lo) / 250).toInt, col("k"))
    val root = graft.ops.Util.managedTempDir("graft_prune_fuzz_keys_")
    val stPath = s"$root/st"
    rows(0L, 3000L).write.format("graft.sources.GraftStore")
      .option("path", stPath).mode("overwrite").save()
    val st = () => spark.read.format("graft.sources.GraftStore")
      .option("path", stPath).load()
    var stage = 0
    /** The store against the same rows in parquet, for 20 predicates over
      * present and absent keys; `long` = u is a bigint now. */
    def check(what: String, expectRows: DataFrame, long: Boolean): Unit = {
      stage += 1
      val pqPath = s"$root/pq$stage"
      expectRows.write.parquet(pqPath)
      val pq = spark.read.parquet(pqPath)
      val present = pq.select("u").where(col("u").isNotNull).collect().map(r =>
        if (long) r.getLong(0) else r.getInt(0).toLong)
      def key(): Column = {
        val v = if (rnd.nextBoolean()) present(rnd.nextInt(present.length))
          else rnd.nextInt(100003).toLong
        if (long) lit(v) else lit(v.toInt)
      }
      def p(): Column = rnd.nextInt(6) match {
        case 0 | 1 => col("u") === key()
        case 2 => col("u") <=> key()
        case 3 => col("u").isin(key(), key(), key())
        case 4 => col("u") === key() && col("k") < lit(rnd.nextInt(4200).toLong)
        case _ => col("u") === key() || col("u") === key()
      }
      def canon(d: DataFrame, c: Column): Seq[String] =
        d.filter(c).collect().map(_.toString).sorted.toSeq
      var onDriver = 0
      // the 20 fuzzed predicates, then a key within the one file holding
      // k < 100 in every state: a single-split read
      val probe = col("u") === (if (long) lit(7919L) else lit(7919)) && col("k") < lit(100L)
      ((1 to 20).map(i => (i, p())) :+ ((21, probe))).foreach { case (i, c) =>
        val got = canon(st(), c)
        assert(got == canon(pq, c), s"$what: predicate #$i diverged: $c")
        // single-split reads collect on the driver (graft.plans.DriverRead):
        // the job path must agree with them
        val df = st().filter(c)
        assert(got == DriverReads.canon(DriverReads.viaJob(df)),
          s"$what: predicate #$i: collect() and the job path diverged: $c")
        if (DriverReads.onDriver(df)) onDriver += 1
      }
      assert(onDriver >= 1, s"$what: no predicate read on the driver")
      // the sketch really prunes here: a present key plans fewer files
      // than the table holds
      val files = GraftStore.readManifest(stPath).get._2.size
      val v: Any = if (long) present.head else present.head.toInt
      val planned = new graft.sources.GraftStoreScan(stPath,
        Array(org.apache.spark.sql.sources.EqualTo("u", v))).planInputPartitions().length
      assert(planned < files, s"$what: a present key planned $planned of $files files")
    }
    var truth = rows(0L, 3000L).toDF()
    check("fresh files", truth, long = false)

    // pre-sketch files: strip every other entry's sketch, as a manifest
    // written before integral sketches reads; then append sketched files
    val base0 = GraftStore.latest(stPath).get
    GraftStore.commit(stPath, base0)(_.copy(entries =
      base0.files(stPath).zipWithIndex.map {
        case (e, i) if i % 2 == 0 =>
          e.copy(stats = e.stats.map { case (c, cs) => c -> cs.copy(bloom = "") })
        case (e, _) => e
      }, op = "append"))
    rows(3000L, 3600L).write.format("graft.sources.GraftStore")
      .option("path", stPath).mode("append").save()
    truth = rows(0L, 3600L).toDF()
    check("pre-sketch files mixed in", truth, long = false)

    // compaction packs sketched and pre-sketch files alike and rebuilds
    // each packed file's sketch from its rows
    val before = GraftStore.readManifest(stPath).get._2.size
    assert(GraftStore.compact(spark, stPath, 40L * 1024) > 0)
    assert(GraftStore.readManifest(stPath).get._2.size < before)
    check("after compact", truth, long = false)

    // a DV delete keeps each file's sketch (a superset stays sound)
    GraftStore.deleteWhereDV(spark, stPath, $"k" % 5 === 0)
    assert(GraftStore.readManifest(stPath).get._2.exists(_.dv.nonEmpty))
    truth = truth.where($"k" % 5 =!= 0)
    check("after DV delete", truth, long = false)

    // int -> long: old int files and new long files hash keys alike
    GraftStore.widenColumn(stPath, "u")
    val longSchema = StructType(Seq(schema.fields(0), schema.fields(1).copy(dataType = LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize((3600L until 4200L).map(k =>
        Row(k, Option(uOf(k)).map(_.toLong).orNull)), 4), longSchema)
      .repartitionByRange(2, col("k"))
      .write.format("graft.sources.GraftStore").option("path", stPath).mode("append").save()
    truth = truth.select($"k", $"u".cast("long").as("u"))
      .union(rows(3600L, 4200L).select($"k", $"u".cast("long").as("u")))
    check("after int->long widening", truth, long = true)
  }
}
