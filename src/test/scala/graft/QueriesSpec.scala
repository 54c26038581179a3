package graft

import org.apache.spark.sql.functions._

/** Every declared query runs on sf0.001 and returns a sane result; spot
  * checks pin hand-computed facts. The cross-engine correctness gate is the
  * driver's DuckDB compare (tools/check_oracle.py locally) — these specs
  * are the fast in-JVM regression net. */
class QueriesSpec extends SparkSuite {

  test("every query runs, most return rows, and no output type is hash-unsafe") {
    // Queries legitimately empty at sf0.001 (no planted dups / no
    // candidates at this scale) are allowed to return 0 rows.
    val mayBeEmpty = Set("q_join_anti", "q_set_except", "q_dedup_near",
      "q_dedup_ngram", "q_dedup_simhash")
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      // Driver hash-gate safety (round-9 verdict): a DECIMAL output column
      // is canonicalized differently by the driver's hasher than by the
      // Spark parquet dump, so value-exact results still fail hash_match.
      // Exact decimal arithmetic stays INTERNAL; outputs must not be
      // DecimalType. tools/oracle_type_lint.py is the DuckDB-side twin.
      def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = {
        import org.apache.spark.sql.types._
        dt match {
          case _: DecimalType => true
          case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
          case a: ArrayType => hasDecimal(a.elementType)
          case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
          case _ => false
        }
      }
      val decimalCols =
        df.schema.fields.collect { case f if hasDecimal(f.dataType) => f.name }
      assert(decimalCols.isEmpty,
        s"$name emits DecimalType output column(s): ${decimalCols.mkString(", ")}")
      val n = df.count()
      assert(n >= 0, s"$name failed to execute")
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("module query maps do not collide (++ would silently drop one)") {
    val names = SparkEntry.moduleQueryNames
    val dups = names.groupBy(identity).collect { case (n, occ) if occ.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names across modules: $dups")
    assert(SparkEntry.queries.size == names.size)
  }

  test("oracle coverage: every query except the approx sketches has oracle SQL") {
    // exemptions: sketch internals / seeded LSH aren't reproducible in
    // DuckDB — each is bounded against its exact counterpart in SketchesSpec —
    // and kmeans cluster ids/float centroids are engine-arbitrary (bounded
    // in CurationSpec instead)
    val exempt = Set("q_agg_hll", "q_agg_approxq", "q_agg_hllsketch",
      "q_agg_kll", "q_agg_theta", "q_agg_topk", "q_agg_countmin",
      "q_dedup_embed_lsh", "q_cluster_kmeans", "q_sim_pq", "q_sim_ivfpq",
      "q_sim_ivfpq_incr", "q_curate_classifier", "q_dedup_semantic")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == exempt, s"unexpected oracle gaps: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without query: $orphans")
  }

  test("SURVEY §2 id set == registry key set (the contract cannot drift)") {
    // round-7 lapse: 11 post-baseline queries were registry entries but
    // absent from §2, so the driver's inventory gate couldn't see them
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val sec2 = survey.substring(survey.indexOf("## §2."),
      survey.indexOf("## §3."))
    val ids = "\\| (q_[a-z0-9_]+) ".r.findAllMatchIn(sec2).map(_.group(1)).toSet
    val reg = SparkEntry.queries.keySet
    val notInSurvey = reg -- ids
    assert(notInSurvey.isEmpty,
      s"registry queries missing a SURVEY §2 row: ${notInSurvey.toSeq.sorted}")
    // §2 alias rows: documented as covered-by another id, no own entry
    val aliases = Set("q_udaf") // = q_agg_typed (Aggregator + udaf)
    val notInReg = ids -- reg -- aliases
    assert(notInReg.isEmpty,
      s"SURVEY §2 rows with no registry query: ${notInReg.toSeq.sorted}")
  }

  test("query builders make sessions only through Util.child (no clone per call)") {
    // a session made per call gets its own executor class loader, so its
    // query recompiles every stage on every call; Util.child keeps one
    // child per conf set instead
    val made = "newSession\\(\\)|SparkSession\\.builder\\(\\)".r
    val sources = new java.io.File("src/main/scala/graft/ops").listFiles()
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    assert(sources.length > 20, s"ops sources not found: ${sources.length}")
    val offending = sources.flatMap { f =>
      // comments out, line breaks kept so the line numbers stay true
      val code = "(?s)/\\*.*?\\*/".r.replaceAllIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"),
        m => m.matched.filter(_ == '\n')).replaceAll("//[^\n]*", "")
      // the helper's own body is the one place allowed to make sessions
      val (from, to) =
        if (f.getName != "Util.scala") (-1, -1)
        else {
          val at = code.indexOf("def child(")
          (at, code.indexOf("\n  def ", at + 1))
        }
      made.findAllMatchIn(code)
        .filterNot(m => m.start > from && m.start < to)
        .map(m => s"${f.getName}:${code.take(m.start).count(_ == '\n') + 1}")
    }
    assert(offending.isEmpty, s"sessions made outside Util.child: ${offending.mkString(", ")}")
  }

  test("entry returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_agg_groupby aggregates match a direct recomputation") {
    import spark.implicits._
    val got = SparkEntry.queries("q_agg_groupby")(spark, sfDir)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
    val expTotal = li.count()
    assert(got.agg(sum($"count_order")).head.getLong(0) == expTotal)
  }

  test("q_win_topk_group returns at most 3 rows per customer, ranked") {
    import spark.implicits._
    val got = SparkEntry.queries("q_win_topk_group")(spark, sfDir)
    val over = got.groupBy($"o_custkey").count().filter($"count" > 3).count()
    assert(over == 0)
    val badRank = got.filter($"rn" < 1 || $"rn" > 3).count()
    assert(badRank == 0)
  }

  test("q_dedup_exact keeps one keeper per distinct normalized text") {
    import spark.implicits._
    val got = SparkEntry.queries("q_dedup_exact")(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val expGroups = docs.select(lower(trim($"text"))).distinct().count()
    assert(got.count() == expGroups)
    assert(got.agg(sum($"n_copies")).head.getLong(0) == docs.count())
  }

  test("q_sim_topk: 5 neighbors per probe, scores in [-1,1] descending") {
    import spark.implicits._
    val got = SparkEntry.queries("q_sim_topk")(spark, sfDir).cache()
    assert(got.groupBy($"probe_id").count().filter($"count" =!= 5).count() == 0)
    assert(got.filter(abs($"score") > 1.0001).count() == 0)
    // rn order must agree with score order per probe
    val bad = got.as("a").join(got.as("b"),
      $"a.probe_id" === $"b.probe_id" && $"a.rn" < $"b.rn" &&
        $"a.score" < $"b.score").count()
    assert(bad == 0)
  }

  test("q_join_asof: matched signup is <= purchase time") {
    import spark.implicits._
    val got = SparkEntry.queries("q_join_asof")(spark, sfDir)
    assert(got.filter($"asof_ts" > $"ts").count() == 0)
  }
}
