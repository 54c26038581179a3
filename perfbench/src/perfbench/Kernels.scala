package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DistinctCharGramsArray, DistinctShinglesArray, MinHashKernel, SimHashKernel}

/** The kernel layer timed directly: the graft.functions objects the
  * dedup builders call per row, over the `documents` text, and the SQL
  * `dot_product` over all pairs of `embeddings` rows. */
object Kernels {
  private val MinNs = 300L * 1000 * 1000
  // kernel results feed this, so the JIT cannot drop the calls
  @volatile private var sink = 0L

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$data/documents.parquet").select("text")
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val tokens = texts.map(t =>
      new GenericArrayData(t.toString.split(" ").map(UTF8String.fromString): Array[Any]))
    Map(
      "minhash_ns_per_doc" -> perDoc(texts.length) {
        tokens.foreach(t => if (MinHashKernel.compute(t) != null) sink += 1) },
      "simhash_ns_per_doc" -> perDoc(texts.length) {
        tokens.foreach(t => sink += SimHashKernel.compute(t)) },
      "chargrams_ns_per_doc" -> perDoc(texts.length) {
        texts.foreach(t => sink += DistinctCharGramsArray.compute(t, 5, true).numElements()) },
      "shingles_ns_per_doc" -> perDoc(texts.length) {
        texts.foreach(t => sink += DistinctShinglesArray.compute(t, 3).numElements()) },
      "dot_product_ns_per_row" -> dotProduct(spark, data))
  }

  /** ns per document over repeated sweeps (one untimed warm-up sweep). */
  private def perDoc(n: Int)(sweep: => Unit): Double = {
    sweep
    var sweeps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MinNs) { sweep; sweeps += 1 }
    (System.nanoTime() - t0).toDouble / (sweeps.toLong * n)
  }

  /** ns per pair row of a cross-join sum of dot products; median of 3. */
  private def dotProduct(spark: SparkSession, data: String): Double = {
    val e = spark.read.parquet(s"$data/embeddings.parquet")
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS v").cache()
    val n = e.count()
    e.createOrReplaceTempView("perfbench_emb")
    val q = "SELECT sum(dot_product(a.v, b.v)) FROM perfbench_emb a CROSS JOIN perfbench_emb b"
    spark.sql(q).collect()
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); spark.sql(q).collect(); System.nanoTime() - t0
    }.sorted
    e.unpersist()
    times(1).toDouble / (n * n)
  }
}
