package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: time one catalog query on the bench's session
  * (args: name sfDir [explain]). */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.build("graft-querytimer")
    // comma-separated names: earlier ones double as in-JVM warm-up, so the
    // last number is a warm measurement (Bench-style) not a cold-JIT one
    name.split(",").foreach { n =>
      spark.sharedState.cacheManager.clearCache()
      // clock starts BEFORE the build: entries that stage eagerly at build
      // time (x73's localCheckpoint barrier, x101's posting index) must
      // bill that work here exactly as Bench does, or A/Bs flatter them
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (args.contains("explain")) df.explain("formatted")
      if (args.contains("count")) println(s"[timer] rows: ${df.count()}")
      else if (args.contains("parquet"))
        df.write.mode("overwrite").parquet("/tmp/qt_out")
      else df.write.format("noop").mode("overwrite").save()
      println(f"[timer] $n: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
