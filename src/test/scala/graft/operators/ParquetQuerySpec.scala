package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ParquetQuerySpec extends AnyFunSuite {
  import SparkTestSession._

  private def li = s"$sf0001/lineitem.parquet"

  test("v1 template query: filter + 5 aggregates in one pass") {
    val row = ParquetQuery(spark, li)
      .where("l_extendedprice > 30000")
      .aggregate("SUM(l_quantity)", "AVG(l_quantity)", "MIN(l_quantity)",
        "MAX(l_quantity)", "COUNT(l_quantity)")
      .df.collect().head
    val cnt = row.getAs[Long]("count_l_quantity")
    assert(cnt > 0)
    assert(row.getAs[Double]("sum_l_quantity") / cnt == row.getAs[Double]("avg_l_quantity"))
    assert(row.getAs[Double]("min_l_quantity") <= row.getAs[Double]("max_l_quantity"))
  }

  test("filter is pushed down to the parquet scan (F5 row-group pruning path)") {
    val plan = ParquetQuery(spark, li)
      .where("l_quantity > 30.0")
      .aggregate("COUNT(l_quantity)")
      .df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"expected pushed filter in plan:\n$plan")
  }

  test("projection prunes the read schema to selected ∪ filter columns") {
    val plan = ParquetQuery(spark, li)
      .selectFirst(2)
      .where("l_quantity > 30.0")
      .df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>"),
      s"expected pruned read schema in plan:\n$plan")
  }

  test("empty input: SQL semantics NULL, referenceExact SUM=0 (v1 divergence)") {
    val sqlRow = ParquetQuery(spark, li).where("l_quantity < 0.0")
      .aggregate("SUM(l_quantity)", "COUNT(l_quantity)").df.collect().head
    assert(sqlRow.isNullAt(0) && sqlRow.getAs[Long](1) == 0L)
    val refRow = ParquetQuery(spark, li).where("l_quantity < 0.0")
      .aggregate("SUM(l_quantity)", "COUNT(l_quantity)")
      .exactReferenceSemantics.df.collect().head
    assert(refRow.getAs[Double](0) == 0.0)
  }

  test("referenceExact SUM keeps the widened integral type (typed zero, not double)") {
    // v1 returns a typed i64 zero on empty input; coalescing to DOUBLE would
    // change the non-empty schema and round long sums above 2^53
    val empty = ParquetQuery(spark, li).where("l_orderkey < 0")
      .aggregate("SUM(l_orderkey)").exactReferenceSemantics.df
    assert(empty.schema.head.dataType == org.apache.spark.sql.types.LongType)
    assert(empty.collect().head.getLong(0) == 0L)
    val plain = ParquetQuery(spark, li).aggregate("SUM(l_orderkey)").df
    val exact = ParquetQuery(spark, li).aggregate("SUM(l_orderkey)").exactReferenceSemantics.df
    // same type; nullability legitimately tightens (coalesce can't be null)
    assert(exact.schema.head.dataType == plain.schema.head.dataType)
    assert(exact.collect().head.getLong(0) == plain.collect().head.getLong(0))
  }

  test("whereByIndex addresses schema ordinals") {
    val a = ParquetQuery(spark, li).whereByIndex("4 > 30").aggregate("COUNT(l_quantity)").df.collect().head
    val b = ParquetQuery(spark, li).where("l_quantity > 30").aggregate("COUNT(l_quantity)").df.collect().head
    assert(a == b)
  }

  /** Jobs `body` starts, counted by a listener. */
  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      n.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** A fresh one-file parquet dir holding `df`; returns (dir, file). */
  private def fresh(df: org.apache.spark.sql.DataFrame): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("parquetquery").toString
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    (dir, new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head)
  }

  test("a v1 query runs 2 jobs, not 3: schema inference runs once per file version") {
    val (dir, _) = fresh(spark.read.parquet(li))
    def q(): Unit = ParquetQuery(spark, dir).where("l_quantity > 30.0")
      .aggregate("SUM(l_quantity)", "COUNT(l_quantity)").df.collect()
    assert(jobs(q()) == 3) // first sight of the files: inference + the query
    assert(jobs(q()) == 2)
  }

  test("a file rewritten in place with an extra column gets the new schema") {
    import spark.implicits._
    val (dir, file) = fresh(Seq((1L, 2L)).toDF("a", "b").select("a"))
    assert(ParquetQuery(spark, dir).df.schema.fieldNames.toSeq == Seq("a"))
    val (_, wider) = fresh(Seq((1L, 2L)).toDF("a", "b"))
    // same path, new content (the Hadoop local checksum file moves with it)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def crc(f: String) = Paths.get(new java.io.File(f).getParent, s".${new java.io.File(f).getName}.crc")
    Files.move(Paths.get(wider), Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
    Files.move(crc(wider), crc(file), StandardCopyOption.REPLACE_EXISTING)
    val row = ParquetQuery(spark, dir).aggregate("SUM(b)").df.collect().head
    assert(row.getLong(0) == 2L)
  }

  test("flipping spark.sql.parquet.binaryAsString is not served a stale schema") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // written by parquet-mr, so the footer carries no Spark schema and the
    // unannotated BINARY column's type is the conf's to decide
    val dir = java.nio.file.Files.createTempDirectory("parquetquery-bin").toString
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary b; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet")).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("b", "hi"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(ParquetQuery(spark, dir).df.schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      assert(ParquetQuery(spark, dir).df.schema("b").dataType == StringType)
      assert(ParquetQuery(spark, dir).df.collect().head.getString(0) == "hi")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
