package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Same-JVM A/B of named registry queries: current classpath vs the frozen
  * r16 control jar (tools/control/graft-control-r16.jar), min-of-4 each after
  * one warm-up. This settles "code regression or box-day ambience" for
  * queries OUTSIDE Bench's pinned 10-query control set — if the frozen jar
  * reads the same elevated number in the same session, the box moved, not
  * the code (round-19 geo adjudication: HEAD 1.18 s vs frozen 1.10 s on a
  * day the close capture read 0.70 vs the 0.42 pin).
  *
  * Usage: sbt "runMain graft.ControlAB q_geo_join q_geo_bbox"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_CONTROL_JAR (default tools/control/graft-control-r16.jar).
  */
object ControlAB {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ControlAB <query-name> [query-name...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .appName("control-ab")
      .getOrCreate()
    def time(fn: (SparkSession, String) => DataFrame): Double = {
      fn(spark, sfDir).collect()
      (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val jarPath = sys.env.getOrElse(
      "SPARK_GRAFT_CONTROL_JAR", "tools/control/graft-control-r16.jar")
    val jar = new java.io.File(jarPath)
    require(jar.isFile, s"control jar missing: $jarPath")
    val cur = SparkEntry.queries
    args.foreach(n => require(cur.contains(n), s"unknown query: $n"))
    args.foreach(n => println(f"CURRENT $n ${time(cur(n))}%.3f"))
    // Child-first for graft.* only, so the frozen SparkEntry resolves from
    // the jar while Spark itself stays shared (one session, one JIT state).
    val loader = new java.net.URLClassLoader(
        Array(jar.toURI.toURL), getClass.getClassLoader) {
      override def loadClass(name: String, resolve: Boolean): Class[_] =
        synchronized {
          if (name.startsWith("graft.")) {
            val c = Option(findLoadedClass(name)).getOrElse(findClass(name))
            if (resolve) resolveClass(c)
            c
          } else super.loadClass(name, resolve)
        }
    }
    val entry = java.lang.Class.forName("graft.SparkEntry$", true, loader)
      .getField("MODULE$").get(null)
    val qs = entry.getClass.getMethod("queries").invoke(entry)
      .asInstanceOf[Map[String, (SparkSession, String) => DataFrame]]
    // Spark resolves DataSource format strings and catalog class names via
    // the thread CONTEXT classloader, not the closure's defining loader —
    // without this swap, a frozen-jar query that reaches graft code through
    // reflection (format("graft.sources.GraftStore"), catalog conf) would
    // silently time the CURRENT implementation and a store-path regression
    // would be mis-adjudicated as box ambience.
    val prevCl = Thread.currentThread().getContextClassLoader
    Thread.currentThread().setContextClassLoader(loader)
    try args.foreach { n =>
      if (qs.contains(n)) println(f"R16JAR  $n ${time(qs(n))}%.3f")
      else println(s"R16JAR  $n (absent from control jar)")
    } finally Thread.currentThread().setContextClassLoader(prevCl)
    spark.stop()
  }
}
