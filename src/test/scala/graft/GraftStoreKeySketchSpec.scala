package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.GraftStore
import graft.sources.GraftStore.KeySketch

/** Per-file key sketches for int/long columns (GraftStore.KeySketch):
  * the codec's one-sided contract under folding and OR, the point-lookup
  * plan they buy on a partitioned table (one file, one split, one task),
  * compaction's rebuild, and a damaged sketch failing the read loudly. */
class GraftStoreKeySketchSpec extends SparkSuite {

  private def sketchOf(keys: Seq[Long], bits: Int): Array[Long] = {
    val s = KeySketch.empty(bits)
    keys.foreach(KeySketch.add(s, _))
    s
  }

  test("folded and OR-ed sketches never report a present key as absent") {
    val rnd = new scala.util.Random(20261019L)
    val sizes = Seq(256, 1024, KeySketch.MinBits, 4096, KeySketch.MaxBits)
    def keys(): Seq[Long] = Seq.fill(rnd.nextInt(400))(rnd.nextInt(3) match {
      case 0 => rnd.nextLong()
      case 1 => rnd.nextInt().toLong
      case _ => rnd.nextInt(1000).toLong - 500
    })
    def size(): Int = sizes(rnd.nextInt(sizes.length))
    (1 to 200).foreach { _ =>
      val (a, b, built, foldA, foldB) = (keys(), keys(), size(), size(), size())
      val ha = KeySketch.hex(KeySketch.fold(sketchOf(a, built), math.min(built, foldA)))
      val hb = KeySketch.hex(KeySketch.fold(sketchOf(b, KeySketch.MaxBits), foldB))
      assert(a.forall(KeySketch.mightContain(ha, _)))
      assert(b.forall(KeySketch.mightContain(hb, _)))
      // unequal sizes fold to the smaller before the OR
      val both = KeySketch.or(ha, hb)
      assert(both.length == math.min(ha.length, hb.length))
      assert((a ++ b).forall(KeySketch.mightContain(both, _)))
      assert(KeySketch.wellFormed(both))
    }
  }

  test("OR of mismatched sizes keeps every set bit of the longer input") {
    // the longer input's tail words used to be dropped by a word-wise zip
    val big = KeySketch.hex(sketchOf(Seq(7L, 1L << 40, -3L), 4096))
    val small = KeySketch.hex(KeySketch.empty(256))
    val or = KeySketch.or(big, small)
    assert(or.length == small.length)
    assert(Seq(7L, 1L << 40, -3L).forall(KeySketch.mightContain(or, _)))
    assert(KeySketch.or(small, big) == or)
  }

  test("an int key and its int->long widened reading hash alike") {
    val ints = Seq(0, 1, -1, Int.MinValue, Int.MaxValue, 123456)
    val h = KeySketch.hex(sketchOf(ints.map(_.toLong), 1024))
    assert(ints.forall(i => KeySketch.mightContain(h, i.toLong)))
  }

  test("sizing: identifiers get ~10 bits per key up to the cap; low-ndv, single-valued and huge files get none") {
    def st(ndv: Long, min: String = "0", max: String = "9"): GraftStore.ColStats = {
      val regs = GraftStore.NdvHll.empty
      (0L until ndv).foreach(GraftStore.NdvHll.addLong(regs, _))
      GraftStore.ColStats(min, max, 0L, ndv = GraftStore.NdvHll.hex(regs))
    }
    assert(KeySketch.bitsFor(st(1000), 1000) == 8192)
    assert(KeySketch.bitsFor(st(3400), 3400) == KeySketch.MaxBits)
    assert(KeySketch.bitsFor(st(62), 62) == KeySketch.MinBits)
    assert(KeySketch.bitsFor(st(300), 3400) == 0, "low-ndv column")
    assert(KeySketch.bitsFor(st(1, "5", "5"), 1) == 0, "min == max")
    assert(KeySketch.bitsFor(st(20000), 20000) == 0, "cap would be > 25 % false positives")
    assert(KeySketch.fpr(3400, KeySketch.MaxBits) < 0.02)
  }

  private lazy val (session, root) = {
    val s2 = spark.newSession()
    val r = graft.ops.Util.managedTempDir("graft_key_sketch_")
    s2.conf.set("spark.sql.catalog.gks", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gks.root", r)
    (s2, r)
  }

  /** A PARTITIONED BY (g) table of 2000 keys over 5 values, g uncorrelated
    * with k, so every file's k range spans the table's. */
  private def keyed(name: String): String = {
    session.sql(s"CREATE TABLE gks.$name PARTITIONED BY (g) AS SELECT id * 7 AS k, " +
      "CAST(pmod(hash(id), 5) AS INT) AS g, id AS v FROM range(0, 2000, 1, 1)")
    s"$root/$name"
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): graft.sources.GraftStoreScan = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .collectFirst { case g: graft.sources.GraftStoreScan => g }
      .getOrElse(fail(s"no graft store scan:\n${df.queryExecution.executedPlan}"))
  }

  /** Tasks launched by `body`'s jobs, counted by a listener. */
  private def tasksOf(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.Semaphore(0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.release()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      val deadline = System.currentTimeMillis() + 10000
      while (ended.availablePermits() < jobs.get() && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    } finally spark.sparkContext.removeSparkListener(l)
    tasks.get()
  }

  test("a point lookup on a partitioned table opens one file, plans one split and runs one task") {
    val path = keyed("lookup")
    val entries = GraftStore.readManifest(path).get._2
    assert(entries.size == 5, entries.map(_.file))
    assert(entries.forall(_.stats("k").bloom.nonEmpty), "k must carry a key sketch")
    assert(entries.forall(_.stats("g").bloom.isEmpty), "single-valued g needs none")
    // min/max alone decide nothing for a key: every file spans the range
    assert(entries.forall(e => e.stats("k").min.toLong < 700 && e.stats("k").max.toLong > 13000))
    val lookup = session.sql("SELECT k, g, v FROM gks.lookup WHERE k = 7007")
    val (rows, jobs) = DriverReads.jobsOf(spark)(lookup.collect())
    assert(rows.map(_.getLong(0)).toSeq == Seq(7007L))
    val desc = scanOf(lookup).description()
    assert(desc.contains("files=1/5") && desc.contains("splits=1"), desc)
    // collect() reads the one split on the driver (graft.plans.DriverRead);
    // the job path the plan keeps runs one task
    assert(jobs == 0, s"point lookup collect() ran $jobs jobs")
    val tasks = tasksOf { lookup.queryExecution.toRdd.count() }
    assert(tasks == 1, s"point lookup ran $tasks tasks")
    // IN over two keys opens at most their two files
    val in = session.sql("SELECT v FROM gks.lookup WHERE k IN (7, 13993)")
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 1999L))
    assert("files=([12])/5".r.findFirstIn(scanOf(in).description()).isDefined,
      scanOf(in).description())
    // a key in no file (inside every file's range) plans zero files
    val absent = session.sql("SELECT * FROM gks.lookup WHERE k = 7008")
    assert(absent.collect().isEmpty)
    assert(scanOf(absent).description().contains("files=0/5"), scanOf(absent).description())
  }

  test("compaction rebuilds the sketch from the packed rows, sized for the packed file") {
    val path = keyed("packed")
    (1 to 3).foreach { i =>
      session.sql(s"INSERT INTO gks.packed SELECT id * 7 + $i AS k, " +
        "CAST(pmod(hash(id), 5) AS INT) AS g, id AS v FROM range(0, 60, 1, 1)")
    }
    assert(GraftStore.compact(session, path, 1L << 30) > 0)
    val es = GraftStore.readManifest(path).get._2
    assert(es.size == 5, es.map(_.file))
    es.foreach { e =>
      val st = e.stats("k")
      assert(st.bloom.length * 4 == KeySketch.bitsFor(st, e.rows), s"${e.file}: ${st.bloom.length}")
    }
    val keys = session.sql("SELECT k FROM gks.packed").collect().map(_.getLong(0))
    assert(keys.length == 2180)
    // every live key is present in its own file's rebuilt sketch
    val byFile = session.read.format("graft.sources.GraftStore").option("path", path).load()
      .select("k", "_file").collect().groupBy(_.getString(1))
    es.foreach { e =>
      val ks = byFile(e.file).map(_.getLong(0))
      assert(ks.forall(KeySketch.mightContain(e.stats("k").bloom, _)), e.file)
    }
    val one = session.sql("SELECT v FROM gks.packed WHERE k = 7 * 41 + 2")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(41L))
    assert(scanOf(one).description().contains("files=1/5"), scanOf(one).description())
  }

  test("a manifest line with a malformed sketch fails the read with a clear error") {
    val path = keyed("damaged")
    val f = new File(path, GraftStore.ManifestName)
    val text = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    val sketch = GraftStore.readManifest(path).get._2.head.stats("k").bloom
    // one character off the hex alphabet, under a fresh manifest uid (the
    // parsed-manifest cache key)
    val uid = text.linesIterator.find(_.startsWith("!uid=")).get
    Files.write(f.toPath, text.replace(sketch, "z" + sketch.drop(1))
      .replace(uid, s"!uid=${java.util.UUID.randomUUID()}")
      .getBytes(StandardCharsets.UTF_8))
    val e = intercept[Exception] {
      session.read.format("graft.sources.GraftStore").option("path", path).load()
        .filter("k = 7").collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("malformed membership sketch for column 'k'")),
      s"unclear error: $e")
  }
}
