package graft

import org.apache.spark.sql.types.TimestampType

/** The events readers (batch `Util.events`, streaming
  * `StreamingOps.readEvents`) are query helpers: they normalize `ts` to a
  * session-TZ TIMESTAMP from the fixture's µs timestamp alone, on a
  * session built without any parquet legacy conf, and leave the caller's
  * session conf exactly as they found it. */
class EventsReadSpec extends SparkSuite {

  private def freshSession() = {
    val s = spark.newSession()
    assert(!s.conf.getAll.keys.exists(_.startsWith("spark.sql.legacy.parquet")),
      "the session under test must carry no parquet legacy conf")
    s
  }

  test("Util.events reads ts as TIMESTAMP without touching the session conf") {
    val s = freshSession()
    val before = s.conf.getAll
    val ev = graft.ops.Util.events(s, sfDir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(s.conf.getAll == before)
  }

  test("StreamingOps.readEvents reads ts as TIMESTAMP without touching the session conf") {
    val d = java.nio.file.Files.createTempDirectory("graft_events_read")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"))
    try {
      val s = freshSession()
      val before = s.conf.getAll
      val ev = graft.streaming.StreamingOps.readEvents(s, d.toString)
      assert(ev.isStreaming)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(s.conf.getAll == before)
    } finally {
      java.nio.file.Files.delete(d.resolve("events.parquet"))
      java.nio.file.Files.delete(d)
    }
  }
}
