package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Runs every `SparkEntry.queries` entry against
  * SPARK_GRAFT_SF_DIR and reports wall-clock per query.
  *
  * Output contract (the driver tails stdout, so long lines can get
  * front-truncated): the machine-readable total is a SHORT (<80 char)
  * line printed TWICE — once before the long per-query maps and once as
  * the absolute last stdout line — so any tail capture retains at least
  * one intact copy.
  *
  * Noise control: each query runs SPARK_GRAFT_BENCH_RUNS times
  * (default 2) and the reported per-query/total numbers are the MIN
  * across runs; the first (cold, plan+codegen-inclusive) run is
  * reported separately on a `per_query_cold` line. local[32] runs show
  * 2-3x run-to-run swings on sub-5s queries, so a single cold sample
  * cannot distinguish a regression from jitter.
  */
object Bench {
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def jsonMap(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 3 runs (round 16, was 2): the reported number is the MIN, and with
    // only one non-cold sample a single GC pause or scheduler hiccup
    // lands in the artifact as a fake regression (BENCH_r15's q_udtf
    // read 11s from exactly that — same HEAD re-measured 1.4s)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup absorbs one-time session costs (parquet footer reads, codegen
    // paths, shuffle service init) so per-query times are comparable across
    // rounds regardless of which query happens to run first
    try SparkEntry.queries("q_scan_parquet")(spark, sfDir).count()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.contains(n)) }
    // fixture pre-pass: some builders stage one-time MEMOIZED fixtures
    // (store-table writes keyed by (session, dir)) eagerly at first
    // invocation — which otherwise lands inside whichever timed run gets
    // there first, so a single-sample capture reports fixture-write +
    // query as the query. Invoking every builder once here (NO action on
    // the returned frame) moves that one-time setup into warmup while
    // leaving plan construction + codegen in the cold run, where they
    // belong. Builders with eager per-invocation work (the stream
    // family) cost one extra un-timed execution here — a few warmup
    // seconds buying steady single samples across the whole registry.
    selected.foreach { case (name, fn) =>
      try { fn(spark, sfDir); () }
      catch { case scala.util.control.NonFatal(e) =>
        // a pre-pass failure is usually the same failure the timed run
        // will hit — surface it instead of swallowing (fatal errors —
        // OOM, interrupts — propagate: nothing sane can run after them)
        System.err.println(s"[bench] pre-pass $name failed: ${e.getMessage}")
      }
    }
    graft.ops.Util.unpersistRegistered()
    // Explicit GC at measurement boundaries: Spark's ContextCleaner reaps
    // finished shuffles/broadcasts only when the DRIVER GCs their
    // references, and at a 48g heap that can be never — across a
    // 300-query run thousands of dead shuffle registrations and their
    // disk files accumulate, and queries mid-run measured up to 5x their
    // isolated time (q_dedup_embed 2.8s in-context vs 0.6s isolated,
    // round-16 measurement). A gc after the pre-pass and every 32 timed
    // queries keeps the cleaner current for ~0.1s/call of overhead that
    // is never inside a timed window.
    def reapNow(): Unit = { System.gc(); Thread.sleep(100) }
    reapNow()
    // timings(i) = (name, Seq(Option(sec)...)); run1 is the cold run.
    // A run that throws records None — min-across-runs must never let a
    // fast time-to-failure masquerade as an improvement.
    val timings = selected.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi % 32 == 31) reapNow()
      val ts = (1 to runs).map { _ =>
        // each run is a FRESH invocation: queries that cache their own
        // reused subtrees (the dedup family) must rebuild them, so the
        // reported min is what a new job pays, not a cross-run cache hit —
        // and the queries' caches don't accumulate in the session (builders
        // register every internal cache; release is deterministic, not LRU)
        graft.ops.Util.unpersistRegistered()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        // live progress on stderr: lets a human (or a profiler hook) see
        // WHERE a long run is, and which single run was slow, without
        // waiting for the end-of-run maps
        System.err.println(s"[bench] $name run ${fmt(sec)}s" +
          (if (ok) "" else " FAILED"))
        if (ok) Some(sec) else None
      }
      name -> ts
    }
    // ---- frozen-control protocol (round 17) ----
    // A pinned query set re-runs from a FROZEN jar (the r16 HEAD build,
    // tools/control/graft-control-r16.jar) inside every full capture, so
    // day-to-day box drift ("ambience") becomes a measured quantity
    // instead of a third round of attribution stories: bench_diff.py
    // divides out the control's drift before flagging regressions. The
    // jar's graft.* classes load child-first from the jar; Spark/Scala
    // classes resolve to this JVM's loader, so the shared SparkSession
    // and the returned DataFrames interoperate. The set is the six
    // drift-flagged text/LM queries plus four stable anchors. Skipped on
    // filtered (isolated) runs — those are never drift-compared.
    val controlJar = sys.env.getOrElse("SPARK_GRAFT_CONTROL_JAR",
      "tools/control/graft-control-r16.jar")
    // r20: + three store/stream anchors (q_store_scd2, q_stream_mirror_eq,
    // q_stream_upsert) — the r19 capture's drift hotspot was the store
    // family and the control set had no member there, so family-divergent
    // ambience could not be divided out (VERDICT r19 "What's wrong" #2).
    // All three exist in the frozen r16 registry.
    val controlSet = Seq(
      "q_text_bpe_apply", "q_pipeline_incr", "q_text_bigram_lm",
      "q_text_dupgrams", "q_text_bpe_train", "q_curate_gopher",
      "q_agg_groupby", "q_sql_q1", "q_join_inner", "q_dedup_near",
      "q_store_scd2", "q_stream_mirror_eq", "q_stream_upsert")
    // filtered (isolated) runs skip the control unless the jar was named
    // explicitly — isolated numbers are never drift-compared, but an
    // explicit env opt-in lets a control-only capture run cheaply
    val control: Seq[(String, Double)] =
      if (filter.nonEmpty && sys.env.get("SPARK_GRAFT_CONTROL_JAR").isEmpty) Seq.empty
      else if (!new java.io.File(controlJar).isFile) {
        System.err.println(s"[bench] control jar $controlJar missing; no control rows")
        Seq.empty
      } else try {
        val loader = new java.net.URLClassLoader(
            Array(new java.io.File(controlJar).toURI.toURL),
            getClass.getClassLoader) {
          override def loadClass(name: String, resolve: Boolean): Class[_] =
            synchronized {
              if (name.startsWith("graft.")) {
                val c = Option(findLoadedClass(name)).getOrElse(findClass(name))
                if (resolve) resolveClass(c)
                c
              } else super.loadClass(name, resolve)
            }
        }
        def module(name: String): AnyRef =
          java.lang.Class.forName(name + "$", true, loader)
            .getField("MODULE$").get(null)
        val entry = module("graft.SparkEntry")
        val qs = entry.getClass.getMethod("queries").invoke(entry)
          .asInstanceOf[Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]]
        val util = module("graft.ops.Util")
        def reapControl(): Unit =
          util.getClass.getMethod("unpersistRegistered").invoke(util)
        // same discipline as the main loop: un-timed pre-pass absorbs
        // memoized fixture staging; each timed run is a fresh invocation
        // with the control's own cache registry released between runs
        controlSet.flatMap { name =>
          qs.get(name).map { fn =>
            try { fn(spark, sfDir); () } catch { case scala.util.control.NonFatal(_) => }
            val ts = (1 to runs).map { _ =>
              reapControl()
              val t0 = System.nanoTime()
              val ok = try { fn(spark, sfDir).count(); true }
                catch { case e: Throwable =>
                  System.err.println(s"[bench] control $name failed: ${e.getMessage}"); false }
              val sec = (System.nanoTime() - t0) / 1e9
              if (ok) Some(sec) else None
            }
            reapControl()
            name -> ts.flatten.minOption.getOrElse(-1.0)
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] control protocol failed: ${e.getMessage}")
        Seq.empty
      }
    // best = min over SUCCESSFUL runs; -1 marks a query whose every run
    // failed (visible in the output instead of silently fast)
    val best = timings.map { case (n, ts) =>
      n -> ts.flatten.minOption.getOrElse(-1.0) }
    val cold = timings.map { case (n, ts) => n -> ts.head.getOrElse(-1.0) }
    val failed = timings.collect { case (n, ts) if ts.exists(_.isEmpty) =>
      n -> ts.count(_.isEmpty) }
    val total = best.map(_._2).filter(_ >= 0).sum
    // numeric scale factor from the dir name (".../sf0.1" -> 0.1)
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).stripSuffix(".")).getOrElse("0")
    // the denominator is self-describing: a total over fewer queries
    // (crashes contribute 0 s) must never read as an improvement
    val nAllFailed = best.count(_._2 < 0)
    val totalLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${best.size},"n_failed":$nAllFailed,"sf":$sf}"""
    println(totalLine)
    // short (<~200 char) slowest-queries line: survives the driver's
    // front-truncating stdout tail even when the full per-query map
    // doesn't, so a grading pass can see WHERE the time went without
    // the tools/bench_full.json file
    println(s"""{"metric":"slowest","queries":${
      jsonMap(best.sortBy(-_._2).take(5))},"sf":$sf}""")
    println(s"""{"metric":"per_query","queries":${jsonMap(best)},"sf":$sf}""")
    println(s"""{"metric":"per_query_cold","queries":${jsonMap(cold)},"cold_total":${fmt(cold.map(_._2).filter(_ >= 0).sum)},"sf":$sf}""")
    // ---- driver-tail-survivable per-query output (round 20) ----
    // The driver keeps only the LAST ~2000 chars of stdout, so the one-line
    // per_query map above (≈10 KB) front-truncates and round-over-round
    // gating degraded to a totals-only compare (PERF_r19 per_query empty).
    // Additions only — the legacy long lines stay for the file artifact and
    // any full-stdout consumer:
    //  * per_query_part: the same map split into short (<600 char) chunks
    //    with i/n identity, queries sorted by ASCENDING time so the chunks
    //    printed last (= the ones a bounded tail retains) carry the
    //    slowest, most regression-relevant entries.
    //  * family: per-family totals keyed on the name's second segment —
    //    one short line that always survives and says where the time went.
    val byTime = best.sortBy(_._2)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var curLen = 0
    byTime.foreach { kv =>
      val w = kv._1.length + 12
      if (curLen + w > 520 && cur.nonEmpty) {
        chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty; curLen = 0
      }
      cur += kv; curLen += w
    }
    if (cur.nonEmpty) chunks += cur.toSeq
    chunks.zipWithIndex.foreach { case (ch, i) =>
      println(s"""{"metric":"per_query_part","i":$i,"n":${chunks.size},"queries":${jsonMap(ch)},"sf":$sf}""")
    }
    val familyTotals = best.groupBy { case (n, _) =>
      n.split("_").drop(1).headOption.getOrElse(n) }
      .map { case (f, kvs) => f -> kvs.map(_._2).filter(_ >= 0).sum }
      .toSeq.sortBy(-_._2)
    println(s"""{"metric":"family","queries":${jsonMap(familyTotals)},"sf":$sf}""")
    // re-print the slowest line below the long lines so it sits inside the
    // tail window (in r19 it was printed above them and truncated away)
    println(s"""{"metric":"slowest","queries":${
      jsonMap(best.sortBy(-_._2).take(5))},"sf":$sf}""")
    if (control.nonEmpty)
      println(s"""{"metric":"control","jar":"${new java.io.File(controlJar).getName}","queries":${jsonMap(control)},"sf":$sf}""")
    if (failed.nonEmpty)
      println(s"""{"metric":"failed_runs","queries":${failed.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},"sf":$sf}""")
    println(totalLine)
    // persist the FULL per-query map to a file: the driver's stdout tail
    // truncates long lines, so the round artifact would otherwise lose
    // most of the 270+ per-query entries — the file is what next round's
    // regression comparison reads
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "tools/bench_full.json")
    try {
      val full = (Seq(
        totalLine,
        s"""{"metric":"per_query","queries":${jsonMap(best)},"sf":$sf}""",
        s"""{"metric":"per_query_cold","queries":${jsonMap(cold)},"cold_total":${fmt(cold.map(_._2).filter(_ >= 0).sum)},"sf":$sf}""") ++
        (if (control.nonEmpty)
          Seq(s"""{"metric":"control","jar":"${new java.io.File(controlJar).getName}","queries":${jsonMap(control)},"sf":$sf}""")
        else Seq.empty))
        .mkString("\n") + "\n"
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    spark.stop()
  }
}
