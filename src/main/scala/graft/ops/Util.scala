package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

/** Shared helpers for all query modules.
  *
  * Parity conventions (SURVEY.md §5.4):
  *   - money/float aggregates cast to DECIMAL(18,4) BEFORE summation so the
  *     sum is exact and order-independent, then back to DOUBLE so the output
  *     schema/value is deterministic on both Spark and the DuckDB oracle;
  *   - every query ends in an orderBy over a unique key set because the
  *     Verify entry point coalesce(1)-writes one parquet file and the driver
  *     hash-compares rows in order.
  */
object Util {
  /** Signature of every entry in SparkEntry.queries. */
  type Q = (SparkSession, String) => DataFrame

  // Determinism gotcha (verified on the fixtures): lineitem's
  // (l_orderkey, l_linenumber) is NOT unique (~20% of rows sit in duplicate
  // groups; only the full row is unique). Any query sorted by non-provably-
  // unique keys must orderBy ALL output columns so tie rows are identical
  // and the hash compare is order-insensitive among them.

  // The fixture tables are immutable for a session's lifetime, so the
  // ANALYZED leaf relation (file listing + footer schema read) is
  // memoized per (session, dir, table) — the exact semantics Spark's own
  // catalog relation cache gives `spark.table(t)`, which path-based
  // `read.parquet` lacks. Every query still analyzes/optimizes/executes
  // its OWN plan on top of the shared leaf; only the per-invocation
  // re-listing and footer re-read of a never-changing directory is
  // avoided (measurably 10-30 ms per table reference, which across a
  // multi-hundred-query registry is tens of seconds of pure metadata
  // re-derivation).
  private val tableRelations =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tableRelations.computeIfAbsent((sessionKey(spark), dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet"))

  /** DECIMAL(18,4) cast for exact, order-independent aggregation. */
  def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** Exact decimal sum surfaced as DOUBLE (deterministic cross-engine). */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  // NOTE: a decimal-OUTPUT sum (`dsumd`, round-7's remedy) was removed in
  // round 10: the driver's hash gate canonicalizes DECIMAL cells differently
  // from Spark's decimal128 parquet dump, so every decimal-typed OUTPUT
  // column fails hash_match even when value-exact (round-9 verdict, 25
  // queries). Arithmetic stays exact-decimal INTERNALLY (`dec`/`dsum`);
  // outputs must be hash-safe types only — tools/oracle_type_lint.py and
  // QueriesSpec enforce this permanently.

  /** UTC timestamp literal (fixtures store dates as timestamps). */
  def ts(s: String): Column = lit(s).cast("timestamp")

  // Query builders that reuse a derived subtree (the dedup/sketch family)
  // must cache it (self-joins get fresh attribute ids, so exchange reuse
  // never fires). Each invocation builds a NEW InMemoryRelation, so on a
  // long-lived session repeated invocations would accumulate dead cache
  // entries. Builders therefore register every internal cache here, and
  // the harness mains (Bench/Verify, and any library caller) release them
  // deterministically via unpersistRegistered() instead of relying on
  // clearCache()/LRU eviction.
  private val registeredCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Spread a small single-split input across the cluster BEFORE a
    * row-amplifying transform (explode / generator / per-row kernel).
    * The fixture parquet files arrive as ONE row group = one scan task,
    * so without this every tokenize/shingle/minhash map stage — often
    * amplifying 50-300 rows per input row — runs on a single core while
    * the rest of the cluster idles (measured 4x+ on the suffix-dedup
    * pipeline at local[32]). Hash-spread on the key: deterministic,
    * and a ~MB-sized narrow shuffle buys a fully parallel map stage.
    * At real scale inputs arrive already multi-split and this is a
    * cheap no-op-shaped rebalance. */
  def spread(df: DataFrame, key: String = "doc_id"): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** `.cache()` + registration for deterministic release. */
  def cached(df: DataFrame): DataFrame = {
    val c = df.cache()
    registeredCaches.add(c)
    c
  }

  private val registeredRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]

  /** RDD analog of `cached` for the iterative-fixpoint builders. */
  def cachedRdd[T](r: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
    r.cache()
    registeredRdds.add(r)
    r
  }

  // Memory-sink temp views (the streaming-tail queries) retain EVERY
  // drained row for the life of the session — across a 236-query bench
  // run at 2 runs each that's dozens of full table copies pinned on the
  // driver heap. The builders register (session, viewName) here and
  // unpersistRegistered drops them at the next query boundary, after the
  // caller has consumed the result.
  private val registeredTempViews =
    new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, String)]

  /** Register a memory-sink temp view for deterministic drop at the next
    * unpersistRegistered() call (NOT immediately — the caller still has
    * to consume the DataFrame derived from it). */
  def registerTempView(s: SparkSession, name: String): Unit =
    registeredTempViews.add((s, name))

  // Per-session identity for memo keys. identityHashCode is NOT
  // collision-free across a session's lifetime (a GC'd session's hash can
  // be reissued, silently reusing a directory written under the old
  // session), so builders that materialize per-session state key it on
  // this UUID instead: the WeakHashMap never pins the session, and a new
  // session can never inherit a dead one's id.
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]

  /** Stable, collision-free memo key for `s` (random UUID, weakly held). */
  def sessionKey(s: SparkSession): String = sessionIds.synchronized {
    var id = sessionIds.get(s)
    if (id == null) {
      id = java.util.UUID.randomUUID().toString
      sessionIds.put(s, id)
    }
    id
  }

  // Child sessions. A builder that needs its own catalogs, confs or
  // optimizer rules runs them in a child of the caller's session, never
  // in the caller's session itself. Each distinct conf set gets ONE child
  // per parent, made on first use and reused by every later call: Spark
  // gives every session UUID its own executor class loader, and the
  // generated-class cache is keyed on the loader, so a session made per
  // call would recompile every stage of its query on every call (and
  // stay pinned by the `table` memo above).
  private final case class ChildKey(catalogs: Map[String, String],
      confs: Map[String, String], rules: Seq[Rule[LogicalPlan]],
      extensions: Boolean)
  private val children = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[ChildKey, SparkSession]]

  /** The child of `s` for one conf set, made with `newSession()` on the
    * first call and returned by every later call with an equal conf set.
    *
    * @param catalogs GraftCatalog name -> root: an absolute path is used
    *   as given, anything else names the prefix of a managed temp dir made
    *   with the child. The root is fixed for the child's life, because
    *   `CatalogManager` caches the catalog instance; a builder that needs
    *   a fresh table per call drops and re-creates it under that root.
    * @param rules optimizer rules appended to the child's
    *   `extraOptimizations`
    * @param extensions build the child with [[graft.GraftExtensions]]
    *   (SQL views over GraftCatalog, `table_changes`), which a
    *   `newSession()` child lacks unless the parent was built with them
    */
  def child(s: SparkSession, catalogs: Map[String, String] = Map.empty,
      confs: Map[String, String] = Map.empty,
      rules: Seq[Rule[LogicalPlan]] = Nil,
      extensions: Boolean = false): SparkSession = {
    val ofParent = children.synchronized {
      children.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap)
    }
    ofParent.computeIfAbsent(ChildKey(catalogs, confs, rules, extensions), k => {
      val c =
        if (k.extensions) SparkSession.builder()
          .master(s.sparkContext.master)
          .withExtensions(new graft.GraftExtensions())
          .config("spark.sql.shuffle.partitions",
            s.conf.get("spark.sql.shuffle.partitions"))
          .config("spark.sql.session.timeZone", "UTC")
          .create()
        else s.newSession()
      k.catalogs.foreach { case (name, root) =>
        c.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
        c.conf.set(s"spark.sql.catalog.$name.root",
          if (new java.io.File(root).isAbsolute) root else managedTempDir(root))
      }
      k.confs.foreach { case (key, v) => c.conf.set(key, v) }
      c.experimental.extraOptimizations ++= k.rules
      c
    })
  }

  /** `batch`'s rows as a DataFrame of `s`, for a foreachBatch body. Spark
    * runs each stream in a fresh clone of its session, so work done in
    * the batch's own session runs under a new executor class loader, and
    * recompiles every stage, on every start of the stream; re-homed in a
    * session that outlives the stream, the body's jobs reuse its loader. */
  def rehome(s: SparkSession, batch: DataFrame): DataFrame =
    s.createDataFrame(batch.rdd, batch.schema)

  /** Root directory of catalog `name` in a [[child]] session. */
  def catalogRoot(s: SparkSession, name: String): String =
    s.conf.get(s"spark.sql.catalog.$name.root")

  // Fixture staging: a builder that writes a fixture (a store table, a
  // Derby table, binary files, a registered rollup) does so once per
  // (parent session, fixture dir) and every later call reuses it. The
  // map is not locked while a fixture builds, so one staging step may
  // call another; concurrent callers of one key wait for the first.
  private final class Once(build: () => AnyRef) { lazy val value: AnyRef = build() }
  private val stagedValues =
    new java.util.concurrent.ConcurrentHashMap[String, Once]

  /** `build`'s value, computed once per (session, fixture dir, tag). A
    * failed build is retried by the next call. */
  def staged[T <: AnyRef](s: SparkSession, dir: String, tag: String)(build: => T): T =
    stagedValues.computeIfAbsent(s"${sessionKey(s)}:$dir:$tag",
      _ => new Once(() => build)).value.asInstanceOf[T]

  /** Forget every fixture staged under `tag`, so the next call rebuilds
    * it (for a test that committed onto a shared fixture). */
  def unstage(tag: String): Unit =
    stagedValues.keySet.removeIf(_.endsWith(s":$tag"))

  /** Delete `path` and everything under it, best effort. */
  def deleteTree(path: java.nio.file.Path): Unit =
    try {
      java.nio.file.Files.walk(path)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach { p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: Exception => () }
        }
    } catch { case _: Exception => () }

  // ONE static shutdown hook draining a concurrent list (not one hook per
  // directory): the per-directory form is unbounded if a caller ever
  // creates temp dirs per-query instead of per-(session, dir) memo entry.
  private val managedTempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val tempDirHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var d = managedTempDirs.poll()
      while (d != null) { deleteTree(d); d = managedTempDirs.poll() }
    }))

  /** Temp directory with JVM-exit cleanup: library callers shouldn't leak
    * one directory of parquet/bin fixtures per (session, dir) memo entry.
    * Best-effort recursive delete on a single shared shutdown hook
    * (deleteOnExit can't remove non-empty directories). */
  def managedTempDir(prefix: String): String = {
    tempDirHookInstalled
    val d = java.nio.file.Files.createTempDirectory(prefix)
    managedTempDirs.add(d)
    d.toString
  }

  /** Unpersist (non-blocking) every cache registered since the last call,
    * and drop registered memory-sink temp views. */
  def unpersistRegistered(): Unit = {
    var d = registeredCaches.poll()
    while (d != null) { d.unpersist(blocking = false); d = registeredCaches.poll() }
    var r = registeredRdds.poll()
    while (r != null) { r.unpersist(blocking = false); r = registeredRdds.poll() }
    var v = registeredTempViews.poll()
    while (v != null) {
      try v._1.catalog.dropTempView(v._2) catch { case _: Exception => () }
      v = registeredTempViews.poll()
    }
  }

  /** Dot product of two double-array columns (unit vectors: = cosine) as
    * the codegen'd Catalyst expression graft.functions.DotProduct — one
    * tight Java loop inside whole-stage codegen. Semantics are identical
    * to the HOF form `aggregate(zip_with(a,b,_*_), 0.0, _+_)` it replaced
    * (left-to-right summation, null on length mismatch; bit-parity
    * asserted in PropertySpec), so the DuckDB oracles are unchanged. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftSql.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.graft.GraftSql.expression(a),
        org.apache.spark.sql.graft.GraftSql.expression(b)))

  /** Co-order part pair MULTISET (u, v), u < v, over R-returned lineitems —
    * the shared edge build of the graph family (pagerank / BFS / SSSP /
    * triangles). Round 19 (optimization): the previous form self-joined
    * the filtered lineitem on the order key (two scans + two exchanges);
    * this one reaches a single exchange — groupBy(order) collect_list,
    * then the native SortedPairsGenerator enumerates value-ordered pairs
    * per order. The emitted multiset is IDENTICAL (join emits c_x·c_y
    * copies of each value pair x < y; so does i < j enumeration over the
    * sorted list, skipping equal values — pinned in PropertySpec), so
    * callers' .distinct() (pagerank/BFS/triangles) and weighted
    * groupBy().count (SSSP) are unchanged. Locally measured neutral
    * (0.52 vs 0.56 s warm at sf0.1); the win is the halved corpus
    * scan/exchange count, which is what survives at 100 TB. */
  def coOrderPairs(spark: SparkSession, dir: String): DataFrame = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "opairs", exprs => SortedPairsGenerator(exprs.head), "scala_udf")
    table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("ps"))
      .selectExpr("opairs(ps) AS (u, v)")
  }

  /** Per-partition adjacency arrays (u, deg_u, targets[]) from a
    * co-partitioned (u, (v, deg_u)) edge RDD — staged ONCE and reused by
    * every pagerank superstep (round 19; see qGraphPagerank). One
    * element per partition. */
  def adjacencyOf(ed: org.apache.spark.rdd.RDD[(Long, (Long, Long))])
      : org.apache.spark.rdd.RDD[Array[(Long, Long, Array[Long])]] =
    ed.mapPartitions({ it =>
      val m = new java.util.HashMap[
        Long, (Long, scala.collection.mutable.ArrayBuffer[Long])]()
      it.foreach { case (u, (v, dg)) =>
        var cur = m.get(u)
        if (cur == null) {
          cur = (dg, scala.collection.mutable.ArrayBuffer.empty[Long])
          m.put(u, cur)
        }
        cur._2 += v
      }
      val arr = new Array[(Long, Long, Array[Long])](m.size)
      val mit = m.entrySet().iterator()
      var i = 0
      while (mit.hasNext) {
        val e = mit.next()
        arr(i) = (e.getKey, e.getValue._1, e.getValue._2.toArray)
        i += 1
      }
      Iterator.single(arr)
    }, preservesPartitioning = true)

  /** One pagerank superstep's contribution push over a partition:
    * c_u = floor(rank_u / deg_u · 1e12) added to every target of u,
    * pre-combined into a per-partition map before the shuffle. The
    * emitted (node, sum) longs are exactly the per-edge contributions
    * of the cogroup form summed in a different order — integer sums are
    * order-independent, so downstream ranks are bit-identical (pinned
    * in PropertySpec). NOT partition-preserving: keys change from
    * sources to targets, the caller's reduceByKey supplies the
    * exchange. */
  def pushContribs(
      ait: Iterator[Array[(Long, Long, Array[Long])]],
      rit: Iterator[(Long, Double)]): Iterator[(Long, Long)] = {
    val arr = if (ait.hasNext) ait.next() else Array.empty[(Long, Long, Array[Long])]
    // boxed values: an absent key must be a REAL null (inner-join
    // semantics — a source with no rank emits nothing, exactly like the
    // cogroup form; a primitive-valued map would unbox null to 0.0 and
    // emit phantom zero contributions)
    val rm = new java.util.HashMap[Long, java.lang.Double]()
    rit.foreach { case (k, r) => rm.put(k, java.lang.Double.valueOf(r)) }
    val out = new java.util.HashMap[Long, Long]()
    arr.foreach { case (u, dg, targets) =>
      val rBox = rm.get(u)
      if (rBox != null) {
        val c = math.floor(rBox.doubleValue / dg * 1e12).toLong
        var i = 0
        while (i < targets.length) {
          val t = targets(i)
          out.put(t, out.getOrDefault(t, 0L) + c)
          i += 1
        }
      }
    }
    val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val oit = out.entrySet().iterator()
    while (oit.hasNext) { val e = oit.next(); b += ((e.getKey, e.getValue)) }
    b.iterator
  }

  /** Per-partition adjacency MAP (u → targets[]) from a co-partitioned
    * undirected edge RDD — staged once and reused by every CC superstep
    * (round 19; see Curation.ccLabels). One element per partition. */
  def adjacencyMapOf(und: org.apache.spark.rdd.RDD[(Long, Long)])
      : org.apache.spark.rdd.RDD[java.util.HashMap[Long, Array[Long]]] =
    und.mapPartitions({ it =>
      val m = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      it.foreach { case (u, v) =>
        var cur = m.get(u)
        if (cur == null) {
          cur = scala.collection.mutable.ArrayBuffer.empty[Long]
          m.put(u, cur)
        }
        cur += v
      }
      val out = new java.util.HashMap[Long, Array[Long]](m.size * 2)
      val mit = m.entrySet().iterator()
      while (mit.hasNext) {
        val e = mit.next()
        out.put(e.getKey, e.getValue.toArray)
      }
      Iterator.single(out)
    }, preservesPartitioning = true)

  /** One CC superstep's label push over a partition: every ACTIVE
    * (node, label) sends its label to the node's neighbors, locally
    * min-combined before the shuffle. min is order-independent, so the
    * flooded labels are identical to the join-based push (pinned in
    * PropertySpec). NOT partition-preserving (keys become targets). */
  def pushMinLabels(
      ait: Iterator[java.util.HashMap[Long, Array[Long]]],
      actIt: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val adj = if (ait.hasNext) ait.next()
      else new java.util.HashMap[Long, Array[Long]]()
    // boxed values so an absent key is a REAL null (a Long-typed map
    // would silently unbox null to 0 and corrupt the min)
    val out = new java.util.HashMap[Long, java.lang.Long]()
    actIt.foreach { case (u, lu) =>
      val targets = adj.get(u)
      if (targets != null) {
        var i = 0
        while (i < targets.length) {
          val t = targets(i)
          val prev = out.get(t)
          if (prev == null || lu < prev.longValue) {
            out.put(t, java.lang.Long.valueOf(lu))
          }
          i += 1
        }
      }
    }
    val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val oit = out.entrySet().iterator()
    while (oit.hasNext) {
      val e = oit.next(); b += ((e.getKey, e.getValue.longValue))
    }
    b.iterator
  }

  /** Weighted per-partition adjacency map (u → (targets[], weights[]))
    * from a co-partitioned (u, (v, w)) edge RDD — the SSSP analog of
    * adjacencyMapOf (round 19). */
  def adjacencyWeightedOf(und: org.apache.spark.rdd.RDD[(Long, (Long, Long))])
      : org.apache.spark.rdd.RDD[java.util.HashMap[Long, (Array[Long], Array[Long])]] =
    und.mapPartitions({ it =>
      val m = new java.util.HashMap[Long,
        (scala.collection.mutable.ArrayBuffer[Long],
          scala.collection.mutable.ArrayBuffer[Long])]()
      it.foreach { case (u, (v, w)) =>
        var cur = m.get(u)
        if (cur == null) {
          cur = (scala.collection.mutable.ArrayBuffer.empty[Long],
            scala.collection.mutable.ArrayBuffer.empty[Long])
          m.put(u, cur)
        }
        cur._1 += v
        cur._2 += w
      }
      val out = new java.util.HashMap[Long, (Array[Long], Array[Long])](m.size * 2)
      val mit = m.entrySet().iterator()
      while (mit.hasNext) {
        val e = mit.next()
        out.put(e.getKey, (e.getValue._1.toArray, e.getValue._2.toArray))
      }
      Iterator.single(out)
    }, preservesPartitioning = true)

  /** One SSSP relax round over a partition: every settled (node, dist)
    * pushes dist + w to its neighbors, locally min-combined before the
    * shuffle; the caller's union + reduceByKey(min) is unchanged
    * (min over the same multiset — identical results, pinned in
    * PropertySpec). */
  def pushMinDist(
      ait: Iterator[java.util.HashMap[Long, (Array[Long], Array[Long])]],
      distIt: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val adj = if (ait.hasNext) ait.next()
      else new java.util.HashMap[Long, (Array[Long], Array[Long])]()
    val out = new java.util.HashMap[Long, java.lang.Long]()
    distIt.foreach { case (u, d) =>
      val tw = adj.get(u)
      if (tw != null) {
        val (targets, weights) = tw
        var i = 0
        while (i < targets.length) {
          val t = targets(i)
          val nd = d + weights(i)
          val prev = out.get(t)
          if (prev == null || nd < prev.longValue) {
            out.put(t, java.lang.Long.valueOf(nd))
          }
          i += 1
        }
      }
    }
    val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val oit = out.entrySet().iterator()
    while (oit.hasNext) {
      val e = oit.next(); b += ((e.getKey, e.getValue.longValue))
    }
    b.iterator
  }

  /** events.parquet with `ts` as a session-TZ TIMESTAMP. The fixture
    * stores `ts` as TIMESTAMP(MICROS) tz-naive, which arrives as
    * TIMESTAMP_NTZ; cast it to TIMESTAMP (identity on the stored µs under
    * the UTC session every caller runs with). A tz-aware file passes
    * through. Reads with the caller's session conf as it is. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other (expected TIMESTAMP_NTZ or TIMESTAMP)")
    }
  }
}
