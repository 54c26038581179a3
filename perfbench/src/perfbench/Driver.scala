package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One benchmark run in one JVM: set up, cold pass, timed window, dump.
  *
  * The driver only records what happened; every number the benchmark
  * reports is computed from its records by `stats.py`, and every output
  * check is made there (DuckDB oracle or DuckDB replay). Records go to
  * `<work>/ops.jsonl`, one JSON object per line.
  *
  * Usage: Driver --workload W --work DIR --data DIR --seed N --passes P --trace 0|1
  *   --cores N --t0 EPOCH_US --spans FILE
  *
  * The window is P whole passes (run.py derives P from `--seconds`) and
  * starts right after the cold pass.
  */
object Driver {

  /** The llm_curate op list: a subset of the registry chosen so a cold
    * pass plus a window fits the run budget (README.md, "Sizing"). */
  val LlmCurate: Seq[String] = Seq("q_dedup_near", "q_dedup_simhash",
    "q_dedup_ngram", "q_sim_topk", "q_text_bigram_lm")

  /** One unit of client work: `build` is the call into the program
    * (a registry builder, or `spark.sql` for a statement) and the op
    * ends when the returned frame is fully collected. */
  final case class Op(name: String, kind: String, table: String,
      round: Int, idx: Int, build: () => DataFrame)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val work = a("work")
    val seed = a("seed").toLong
    val passes = a("passes").toInt
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val out = new Records(s"$work/ops.jsonl")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.cat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.cat.root", s"$work/store")
      .withExtensions(new graft.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUs = Clock.nowUs()
    val data = a("data")
    val w: Workload = workload match {
      case "llm_curate" => new QueryWorkload(spark, data, LlmCurate, seed)
      case "store_cdc" => new StoreWorkload(spark, work, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(spark)
    val runner = new Runner(spark.sparkContext, w, out, tracer)
    try {
      w.setUp()
      runner.coldPass()
      // untraced passes give the end-to-end numbers
      val firstUs = runner.window(passes, traced)
      out.write(Json.obj("type" -> "setup", "t_first_op" -> firstUs,
        "t0" -> a("t0").toLong, "t_session" -> sessionUs))
      w.finish()
      if (traced) {
        out.write(Json.obj("type" -> "layers", "values" -> tracer.globals()))
        out.write(Json.obj("type" -> "kernels",
          "values" -> Kernels.measure(spark, data)))
        tracer.writeSpans(a("spans"))
      }
    } finally {
      out.close()
      spark.stop()
    }
  }
}

/** A workload: what it stages, its distinct ops, and its passes. */
trait Workload {
  def setUp(): Unit
  /** Every distinct op at least once, in a fixed order (the untimed cold pass). */
  def coldPass(): Seq[Driver.Op]
  /** The ops of timed pass `p` (p >= 1), in seed order. */
  def pass(p: Int): Seq[Driver.Op]
  /** Untimed bookkeeping after an op (store listings, live files). */
  def afterOp(op: Driver.Op, ok: Boolean, traced: Boolean): Seq[(String, Any)] = Nil
  /** Untimed per-op values recorded with its result. */
  def beforeOp(op: Driver.Op, traced: Boolean): Seq[(String, Any)] = Nil
  def keepRows(op: Driver.Op, cold: Boolean): Boolean
  def finish(): Unit = ()
}

/** llm_curate: registry builders via SparkEntry.queries. */
final class QueryWorkload(spark: SparkSession, data: String,
    names: Seq[String], seed: Long) extends Workload {
  private val rng = new scala.util.Random(seed)
  private def op(n: String, p: Int, i: Int) = Driver.Op(n, "read", "", p, i,
    () => graft.SparkEntry.queries(n)(spark, data))
  def setUp(): Unit = names.foreach(n => require(
    graft.SparkEntry.queries.contains(n) && graft.SparkEntry.oracleSql.contains(n),
    s"$n has no builder or no oracle SQL"))
  /** Every query three times: the first run is checked against the
    * oracle, the other two warm up the JIT. After a single run each timed
    * pass was 15-30 % faster than the one before; after two, still 10-25 %. */
  def coldPass(): Seq[Driver.Op] =
    Seq.fill(3)(names).flatten.zipWithIndex.map { case (n, i) => op(n, 0, i) }
  def pass(p: Int): Seq[Driver.Op] =
    rng.shuffle(names).zipWithIndex.map { case (n, i) => op(n, p, i) }
  def keepRows(op: Driver.Op, cold: Boolean): Boolean = cold && op.idx < names.size
  override def beforeOp(op: Driver.Op, traced: Boolean): Seq[(String, Any)] =
    if (op.round == 0) Seq("oracle_sql" -> graft.SparkEntry.oracleSql(op.name)) else Nil
}

/** Runs ops closed loop on one client thread and records each one. */
final class Runner(sc: org.apache.spark.SparkContext, w: Workload, out: Records,
    tracer: Tracer) {
  private var opId = 0

  def coldPass(): Unit = {
    w.coldPass().foreach(run(_, "cold", traced = false))
    reap()
  }

  private var nextPass = 1

  /** The timed passes; returns the first op's start (epoch µs). A
    * traced run runs twice as many and traces passes 2, 3, 6, 7, ...:
    * untraced and traced passes alternate in ABBA order, so warm-up
    * during the window does not bias the traced-against-untraced
    * comparison. */
  def window(passes: Int, traced: Boolean): Long = {
    val start = Clock.nowUs()
    (1 to (if (traced) 2 * passes else passes)).foreach { p =>
      w.pass(nextPass).foreach(run(_, "window", traced && p % 4 >= 2))
      nextPass += 1
      reap()
    }
    start
  }

  private def run(op: Driver.Op, phase: String, traced: Boolean): Unit = {
    opId += 1
    val cachedBefore = cachedRdds()
    val pre = w.beforeOp(op, traced)
    if (traced) tracer.begin(opId)
    val t0 = Clock.nowUs()
    var tb = t0
    var result: Either[Throwable, (Array[Row], StructType)] = null
    try {
      val df = op.build()
      tb = Clock.nowUs()
      result = Right((df.collect(), df.schema))
    } catch { case NonFatal(e) => result = Left(e) }
    val t1 = Clock.nowUs()
    val traceVals = if (traced) tracer.end(opId, op, t0, tb, t1) else Nil
    val base = Seq("type" -> "op", "id" -> opId, "phase" -> phase,
      "traced" -> traced, "name" -> op.name, "kind" -> op.kind,
      "table" -> op.table, "round" -> op.round, "idx" -> op.idx,
      "t0" -> t0, "tb" -> tb, "t1" -> t1)
    val outcome = result match {
      case Right((rows, schema)) =>
        Seq("ok" -> true, "nrows" -> rows.length, "digest" -> Rows.digest(rows)) ++
          (if (w.keepRows(op, phase == "cold"))
            Seq("schema" -> Rows.schema(schema), "rows" -> Rows.values(rows, schema))
          else Nil)
      case Left(e) =>
        Seq("ok" -> false, "err" -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300))
    }
    val post = w.afterOp(op, result.isRight, traced)
    out.write(Json.obj(base ++ pre ++ outcome ++ traceVals ++ post: _*))
    release(cachedBefore)
  }

  private def cachedRdds(): Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet

  /** Drops the op's registered caches and waits (untimed, up to 2 s) until
    * their blocks are gone: `unpersist` is asynchronous, and removal
    * overlapping the next op made that op's time depend on which op ran
    * before it. */
  private def release(before: Set[Int]): Unit = {
    graft.ops.Util.unpersistRegistered()
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    while ((cachedRdds() -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Between passes: a full GC lets Spark's ContextCleaner remove the
    * shuffles and broadcasts of finished ops at a pass boundary instead
    * of inside a later op (graft.Bench does the same between queries). */
  private def reap(): Unit = { System.gc(); Thread.sleep(100) }
}

object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** JSON lines sink. */
final class Records(path: String) {
  private val w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8,
    StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  def write(line: String): Unit = { w.write(line); w.write('\n'); w.flush() }
  def close(): Unit = w.close()
}

/** Rendering of collected rows for the checks in Python. */
object Rows {
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.foreach(r => md.update(r.toString.getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def schema(s: StructType): Seq[Seq[String]] =
    s.fields.toSeq.map(f => Seq(f.name, f.dataType.simpleString))

  def values(rows: Array[Row], s: StructType): Seq[Seq[Any]] =
    rows.toSeq.map(r => s.fields.indices.map(i => value(r.get(i))))

  /** Timestamps become epoch microseconds and arrays lists; other
    * values render as JSON scalars (dates as strings). */
  private def value(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.LocalDateTime =>
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    case s: scala.collection.Seq[_] => s.map(value).toSeq
    case other => other
  }
}

/** Minimal JSON rendering for the records. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}")

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Files under a directory tree with their sizes (relative paths). */
object Listing {
  def of(root: String): Map[String, (Long, Long)] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) return Map.empty
    val s = Files.walk(base)
    try {
      val it = s.iterator()
      val m = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p)) {
          val f = p.toFile
          m += base.relativize(p).toString -> ((f.length(), f.lastModified()))
        }
      }
      m.result()
    } finally s.close()
  }

  def sizes(m: Map[String, (Long, Long)]): Seq[Seq[Any]] =
    m.toSeq.sortBy(_._1).map { case (p, (len, _)) => Seq(p, len) }
}
