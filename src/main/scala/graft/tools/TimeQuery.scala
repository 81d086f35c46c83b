package graft.tools

import graft.{GraftSession, SparkEntry}

/** Single-query timing probe: run one `SparkEntry.queries` entry against a
  * fixture dir through the same noop sink Bench uses, N repetitions, wall
  * per rep on stderr and the median on stdout. The A/B loop for plan work
  * (`runMain graft.tools.TimeQuery /root/testdata/sf0.1 x73_pagerank 5`)
  * without paying for a 170-row full bench per measurement. Same session
  * shape as Bench (local[cpus], shuffle.partitions = cpus, AQE on).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <queryName> [reps]")
    val (sfDir, name) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps > 0, s"reps must be positive, got $reps")
    val spark = GraftSession.build("graft-timequery")
    spark.sparkContext.setLogLevel("ERROR")
    // A/B hook: comma-separated k=v runtime SQL confs, e.g.
    // SPARK_GRAFT_SQLCONF=spark.sql.adaptive.coalescePartitions.parallelismFirst=false
    sys.env.get("SPARK_GRAFT_SQLCONF").foreach(_.split(',').foreach { kv =>
      val i = kv.indexOf('=')
      if (i > 0) spark.conf.set(kv.take(i), kv.drop(i + 1))
    })
    val q = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val walls = (1 to reps).map { i =>
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val w = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[timequery] rep $i: $w%.2f s")
      w
    }
    val sorted = walls.sorted
    val median =
      if (reps % 2 == 1) sorted(reps / 2)
      else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2
    println(f"""{"query":"$name","median_sec":$median%.3f,"runs":[${walls.map(w => f"$w%.2f").mkString(",")}],"sf":"$sfDir"}""")
    spark.stop()
  }
}
