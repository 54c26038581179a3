package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sources.GraftStore

/** Seeded concurrency fuzz over the commit protocol: many threads
  * racing appends against content-dependent maintenance (compact,
  * rewrite_manifests) on a SHARDED-manifest table. Contract under
  * race: appends always land (internal CAS retry), maintenance either
  * lands or loses its CAS with a loud ConflictException (never a
  * silent half-state), and afterwards the table holds every appended
  * row exactly once, the version chain is contiguous and fully
  * time-travel-readable, and commit timestamps stay strictly
  * monotonic. Extends the targeted 3-append/2-rewrite race pin to a
  * randomized 6-thread interleaving with compaction in the mix. */
class ConcurrencyFuzzSpec extends SparkSuite {

  test("6 threads: appends vs compact vs rewrite_manifests on a sharded table — nothing lost, history linear") {
    val root = graft.ops.Util.managedTempDir("graft_conc_fuzz_")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.cnz", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.cnz.root", root)
    s2.conf.set("spark.graft.manifest.shardThreshold", "2")
    s2.sql("""CREATE TABLE cnz.t PARTITIONED BY (c) AS
      |SELECT id AS k, CAST(id % 4 AS INT) AS c FROM range(0, 80)""".stripMargin)
    val path = s"$root/t"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val lostCas = new java.util.concurrent.atomic.AtomicInteger(0)
    val appended =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def writerThread(t: Int) = new Thread(() => {
      try {
        SparkSession.setActiveSession(s2)
        val rnd = new scala.util.Random(1000L + t)
        (0 until 4).foreach { r =>
          // thread-unique id block: [base, base+40)
          val base = 1000L * (t + 1) + 100L * r
          s2.range(base, base + 40, 1, 1)
            .select(col("id").as("k"), (col("id") % 4).cast("int").as("c"))
            .repartition(4, col("c"))
            .write.format("graft.sources.GraftStore")
            .option("path", path).mode("append").save()
          appended.add((base, base + 40))
          if (rnd.nextBoolean()) {
            val call =
              if (rnd.nextBoolean()) "CALL cnz.system.compact('t', 134217728)"
              else "CALL cnz.system.rewrite_manifests('t')"
            try s2.sql(call).collect()
            catch {
              // a content-dependent CAS loser is allowed to lose — loudly
              case e: Exception
                  if Option(e.getMessage).exists(_.contains("concurrent")) ||
                    Option(e.getCause).exists(c =>
                      Option(c.getMessage).exists(_.contains("concurrent"))) =>
                lostCas.incrementAndGet()
            }
          }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val threads = (0 until 6).map(writerThread)
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty,
      s"unexpected failures under race: ${errs.toArray.take(3).mkString("; ")}")
    // every appended block present exactly once, base rows intact
    val expect = (0L until 80L) ++
      appended.toArray(Array.empty[(Long, Long)])
        .flatMap { case (lo, hi) => lo until hi }
    val got = spark.read.format("graft.sources.GraftStore")
      .option("path", path).load()
      .select(col("k")).collect().map(_.getLong(0))
    assert(got.sorted.toSeq == expect.sorted.toSeq,
      s"rows lost or duplicated under race: got ${got.length}, " +
        s"expected ${expect.length} (casLosses=${lostCas.get})")
    // version chain contiguous and every snapshot readable
    val head = GraftStore.readVersion(path)
    assert(head >= 25, s"expected >=25 commits (24 appends + create), got $head")
    (1L to head).foreach { v =>
      val n = spark.read.format("graft.sources.GraftStore")
        .option("path", path).option("versionAsOf", v.toString).load().count()
      assert(n >= 80, s"snapshot v$v unreadable or truncated ($n rows)")
    }
    // strictly monotonic commit timestamps survive the race
    val ts = (1L to head).map(v => GraftStore.snapshot(
      new java.io.File(path, s"_manifest.v$v")).get.ts)
    ts.sliding(2).foreach { case Seq(a, b) =>
      assert(b > a, "commit timestamps must stay strictly monotonic under race")
    }
  }
}
