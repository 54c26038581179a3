package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** store_cdc: the statements of `<work>/store_script.json` (written by
  * store.py from the seed) against two GraftCatalog tables, round by
  * round. Round 0 is the cold pass; rounds 1.. are the timed passes.
  *
  * Around each write the driver lists the store root (untimed) and
  * records the files the statement created, so byte accounting sees
  * files that a later statement deletes. In traced rounds it also reads
  * the table's live file set from its `t$files` metadata table before
  * and after each write.
  */
final class StoreWorkload(spark: SparkSession, work: String, out: Records)
    extends Workload {
  private val root = s"$work/store"
  private val script: JsonNode =
    new ObjectMapper().readTree(Files.readAllBytes(Paths.get(s"$work/store_script.json")))
  private val tables: Seq[String] = script.get("tables").elements().asScala.map(_.asText).toSeq
  private val rounds = script.get("rounds")
  private var listing = Map.empty[String, (Long, Long)]
  private val asof = mutable.Map.empty[String, Long]

  def setUp(): Unit = {
    script.get("setup").elements().asScala.foreach(s => spark.sql(s.asText).collect())
    listing = Listing.of(root)
  }

  private def ops(r: Int): Seq[Driver.Op] = {
    require(r < rounds.size, s"store script has only ${rounds.size} rounds")
    // VERSION AS OF reads the version each table had when the round began
    tables.foreach(t => asof(t) = version(t))
    rounds.get(r).elements().asScala.zipWithIndex.map { case (s, i) =>
      val t = s.get("table").asText
      val sql = s.get("sql").asText
      Driver.Op(s.get("op").asText, s.get("kind").asText, t, r, i,
        () => spark.sql(sql.replace("{asof}", asof(t).toString)))
    }.toSeq
  }

  /** All of round 0: its many point and partition reads warm up the
    * read path, so the first timed round reads no slower than the next. */
  def coldPass(): Seq[Driver.Op] = ops(0)
  def pass(p: Int): Seq[Driver.Op] = ops(p)
  def keepRows(op: Driver.Op, cold: Boolean): Boolean = op.kind == "read"

  override def beforeOp(op: Driver.Op, traced: Boolean): Seq[(String, Any)] =
    if (op.name == "asof") Seq("asof" -> asof(op.table))
    else if (traced && op.kind != "read") Seq("live_before" -> live(op.table))
    else Nil

  override def afterOp(op: Driver.Op, ok: Boolean, traced: Boolean): Seq[(String, Any)] = {
    if (op.kind == "read") return Nil
    val now = Listing.of(root)
    val created = now.filter { case (p, sig) => !listing.get(p).contains(sig) }
    listing = now
    Seq("created" -> Listing.sizes(created)) ++
      (if (traced) Seq("live" -> live(op.table)) else Nil)
  }

  override def finish(): Unit = {
    val files = Listing.sizes(Listing.of(root))
    out.write(Json.obj("type" -> "store_end", "files" -> files,
      "live" -> tables.map(t => t -> live(t)).toMap,
      "versions" -> tables.map(t => t -> version(t)).toMap))
  }

  /** Data files the table's current snapshot references, as paths
    * relative to the store root (`t$files` lists them relative to the
    * table directory). */
  private def live(t: String): Seq[String] =
    spark.sql(s"SELECT file FROM cat.`$t$$files`").collect()
      .map(r => s"$t/${r.getString(0)}").toSeq.sorted

  private def version(t: String): Long =
    spark.sql(s"SELECT max(version) FROM cat.`$t$$snapshots`").collect()(0).getLong(0)
}
