package graft.ops

import org.apache.spark.sql.functions._
import Util._

/** Multimodal binary-column pipeline (driver mandate: treat image/audio as
  * opaque binary + typed metadata, with decode/feature-extract plumbing).
  *
  * The fixtures carry no real media, so the "media" here is the UTF-8 bytes
  * of document text and the DECODE STEP IS A DETERMINISTIC STUB (see
  * stubDecodeFeatures) — the Spark-side plumbing is the real deliverable:
  * binary column + metadata struct schema, partition-preserving typed
  * traversal (mapPartitions — the JVM analog of mapInPandas batch
  * processing), and feature columns that downstream relational ops consume.
  * At 100 TB the binary payloads stay distributed; only fixed-width feature
  * vectors flow into the joins/aggregations after extraction.
  */
object Multimodal {

  /** Documents with a binary "payload" column + typed metadata struct. */
  private def media(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id",
        encode($"text", "UTF-8").as("payload"),
        struct($"lang", $"source", $"n_chars").as("meta"))
  }

  /** Binary feature extraction with declarative ops: payload size, content
    * hash, and a "header" peek — all columnar, no decode stub needed. */
  val qMmBinary: Q = (s, dir) => {
    import s.implicits._
    media(s, dir)
      .select($"doc_id",
        length($"payload").cast("long").as("n_bytes"),
        md5($"payload").as("content_hash"),
        base64(substring($"payload", 1, 8)).as("header_b64"),
        $"meta.lang".as("lang"), $"meta.n_chars".as("n_chars"))
      .orderBy($"doc_id")
  }

  /** STUB decode: a real image/audio decoder is not available in this
    * container, so this deterministic fake stands in for it. The signature
    * and batch shape (Iterator[Row] => Iterator[Row] per partition) are what
    * a libjpeg/ffmpeg-backed implementation would keep. */
  private def stubDecodeFeatures(payload: Array[Byte]): (Int, Int, Double) = {
    // ??? <- real decoder goes here; the fake derives "width"/"height"/
    // "mean luminance" from byte statistics so results are deterministic.
    val n = payload.length
    val width = 1 + (n % 256)
    val height = 1 + (n / 256)
    val mean = if (n == 0) 0.0 else payload.map(b => (b & 0xff).toLong).sum.toDouble / n
    (width, height, mean)
  }

  /** Partition-wise typed decode (mapPartitions batch plumbing): decode
    * each payload once per row inside a partition iterator, then hand the
    * fixed-width features back to SQL. Oracle recomputes the same byte
    * statistics relationally in DuckDB. */
  val qMmDecode: Q = (s, dir) => {
    import s.implicits._
    val src = media(s, dir).select($"doc_id", $"payload")
      .as[(Long, Array[Byte])]
    src.mapPartitions { it =>
      it.map { case (id, payload) =>
        val (w, h, mean) = stubDecodeFeatures(payload)
        (id, w.toLong, h.toLong, mean)
      }
    }.toDF("doc_id", "width", "height", "mean_byte")
      .select($"doc_id", $"width", $"height", round($"mean_byte", 6).as("mean_byte"))
      .orderBy($"doc_id")
  }

  /** Frame-sampling analog: slice the payload into fixed 64-byte "frames",
    * take every 4th frame, and fingerprint each — the batch shape of video
    * frame extraction (explode → per-frame op → re-aggregate). */
  val qMmFrames: Q = (s, dir) => {
    import s.implicits._
    media(s, dir)
      .select($"doc_id", length($"payload").as("len"), $"payload")
      .select($"doc_id",
        explode(transform(
          sequence(lit(0), greatest((($"len" - 1) / 256).cast("int"), lit(0))),
          k => struct(k.as("frame_no"),
            md5(substring($"payload", (k * 256 + 1).cast("int"), lit(64)))
              .as("frame_hash"))))
          .as("f"))
      .select($"doc_id", $"f.frame_no".cast("long").as("frame_no"),
        $"f.frame_hash".as("frame_hash"))
      .orderBy($"doc_id", $"frame_no")
  }

  val queries: Map[String, Q] = Map(
    "q_mm_binary" -> qMmBinary,
    "q_mm_decode" -> qMmDecode,
    "q_mm_frames" -> qMmFrames,
  )

  val oracleSql: Map[String, String] = Map(
    "q_mm_binary" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_hash,
        | base64(encode(substr(text, 1, 8))) AS header_b64,
        | lang, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // text is pure ASCII, so chars == UTF-8 bytes and ord() == byte value
    "q_mm_decode" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id,
        | CAST(1 + (n % 256) AS BIGINT) AS width,
        | CAST(1 + (n // 256) AS BIGINT) AS height,
        | round(CAST(list_sum(list_transform(generate_series(1, n),
        |    i -> ord(substr(text, i, 1)))) AS DOUBLE) / n, 6) AS mean_byte
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_mm_frames" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents)
        |SELECT doc_id, CAST(k AS BIGINT) AS frame_no,
        | md5(substr(text, k*256+1, 64)) AS frame_hash
        |FROM b, unnest(generate_series(0, greatest((len-1)//256, 0))) AS t(k)
        |ORDER BY doc_id, frame_no""".stripMargin,
  )
}
