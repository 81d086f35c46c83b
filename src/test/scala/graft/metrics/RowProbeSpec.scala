package graft.metrics

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins [[RowProbe]]'s counters on rows whose structure is known, so the
  * measurement Bench bills and Profile prints cannot drift silently.
  */
class RowProbeSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private lazy val telem = new Telemetry().start()
  private lazy val probe = new RowProbe(spark, telem)
  private val lineitem = s"${SparkTestSession.sf0001}/lineitem.parquet"

  override def afterAll(): Unit = {
    probe.close()
    telem.stop()
  }

  test("a noop read bills input bytes up to the file's size and no output") {
    val df = spark.read.parquet(lineitem)
    val r = probe.run("read")(df.write.format("noop").mode("overwrite").save())
    r.failed shouldBe false
    r.inputMb should be > 0.0
    r.inputMb should be <= new java.io.File(lineitem).length / 1e6
    r.outputMb shouldBe 0.0
    r.shuffleMb shouldBe 0.0
  }

  test("a parquet write bills the bytes of the files it wrote") {
    val out = java.nio.file.Files.createTempDirectory("rowprobe").resolve("t").toString
    try {
      val df = spark.read.parquet(lineitem)
      val r = probe.run("write")(df.repartition(2).write.parquet(out))
      val parts = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
      parts should have length 2
      r.outputMb shouldBe (parts.map(_.length).sum / 1e6 +- 1e-6)
    } finally scala.reflect.io.Directory(new java.io.File(out).getParentFile).deleteRecursively()
  }

  test("an aggregate with AQE off records exactly its stage count") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.read.parquet(lineitem)
      val r = probe.run("agg") {
        df.groupBy("l_returnflag").agg(sum("l_quantity"))
          .write.format("noop").mode("overwrite").save()
      }
      // scan + partial aggregate + shuffle write, then the final aggregate
      r.stages should have length 2
      r.stages.map(_.tasks).max shouldBe spark.conf.get("spark.sql.shuffle.partitions").toInt
      r.shuffleMb should be > 0.0
      r.stages.map(_.shuffleWriteMb).sum shouldBe (r.shuffleMb +- 1e-6)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("a row bills the classes it compiles, and its repeat compiles none") {
    // a Long literal is inlined into generated code: this plan is new here
    def body(): Unit =
      spark.range(5).select((col("id") * 7777L + 31337L).as("x")).collect()
    val first = probe.run("codegen")(body())
    first.compiles should be > 0L
    first.codegenMs should be > 0.0
    val again = probe.run("codegen")(body())
    again.compiles shouldBe 0L
    again.codegenMs shouldBe 0.0
  }

  test("a throwing body returns failed without throwing") {
    val r = probe.run("boom")(throw new IllegalStateException("boom"))
    r.failed shouldBe true
    r.wallSec should be >= 0.0
  }
}
