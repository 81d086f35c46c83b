package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

object GraftExtensionsSpec {

  /** One query naming every graft function; analysing it proves all resolve. */
  val allFunctions: String =
    """SELECT graft_poly_hash('abc') AS h,
      |  graft_char_ngram_hashes('abcd', 2) AS cng,
      |  graft_token_hashes('a b c') AS th,
      |  graft_shingle_hashes(graft_token_hashes('a b c d'), 2) AS sh,
      |  graft_window_hashes(graft_token_hashes('a b c d'), 2) AS wh,
      |  graft_minhash_sig(graft_shingle_hashes(graft_token_hashes('a b c d e'), 3), 4) AS sig,
      |  graft_simhash(graft_token_hashes('a b'), 64) AS simh,
      |  graft_intersect_size(array(1L,2L,3L), array(2L,3L,4L)) AS i,
      |  graft_chunk_hashes('a b c d', 2) AS ch""".stripMargin

  /** Checks a session against [[allFunctions]]: the hash of 'abc', the
    * intersect size, and one window/chunk hash per 2-token span. */
  def check(spark: SparkSession): String = {
    val r = spark.sql(allFunctions).collect().head
    s"h=${r.getAs[Long]("h")} i=${r.getAs[Int]("i")} " +
      s"wh=${r.getAs[Seq[Long]]("wh").size} ch=${r.getAs[Seq[Long]]("ch").size}"
  }
  val expected = "h=96354 i=2 wh=3 ch=2"
}

/** The cluster route in a JVM of its own: a session whose only graft wiring
  * is the `spark.sql.extensions` key. The key is a static conf read from
  * the SparkContext, so it cannot be tried on the suite's shared context. */
object ConfigKeySession {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try println(GraftExtensionsSpec.check(spark)) finally spark.stop()
  }
}

class GraftExtensionsSpec extends AnyFunSuite with Matchers {
  import GraftExtensionsSpec._

  /** Runs `body` with no default or active session, so `getOrCreate` builds
    * a genuinely new SparkSession (sharing the JVM's SparkContext), then
    * restores the previous default for the other suites. */
  private def withoutSessions(body: => Unit): Unit = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try body
    finally {
      if (prev.isEmpty) {
        // Nothing to restore: this spec created the session (and possibly the
        // SparkContext). Leaving it registered would make a later
        // SparkTestSession.build (which passes extraConf) trip GraftSession's
        // no-pre-existing-session require — tear it all down instead.
        SparkSession.getDefaultSession.foreach(_.stop())
        SparkSession.clearDefaultSession()
        SparkSession.clearActiveSession()
      } else {
        prev.foreach(SparkSession.setDefaultSession)
        prev.foreach(SparkSession.setActiveSession)
      }
    }
  }

  test("a session built with GraftExtensions resolves graft_* in plain SQL") {
    withoutSessions {
      val spark = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      check(spark) shouldBe expected
      // leg 2: the injected optimizer rule fuses through this session
      // (non-literal input — a literal would constant-fold before we look)
      val fused = spark.sql(
        "SELECT size(graft_char_ngram_hashes(CAST(id AS STRING) || 'abcdefgh', 3)) AS d " +
          "FROM range(1)")
      fused.queryExecution.optimizedPlan.toString.toLowerCase should
        include("charngramdistinctcount")
      fused.collect().head.getInt(0) shouldBe 7 // "0abcdefgh": 7 distinct 3-grams
      // leg 3: the injected planner strategy plans AsOfJoinNode
      import spark.implicits._
      val out = org.apache.spark.sql.graft.GraftPlans.asOfJoin(
        Seq((1L, 10L, 100L)).toDF("k", "t", "lid"),
        Seq((1L, 5L, 900L)).toDF("k", "rt", "rid"),
        "k", "t", "rt", Seq("rid"), "rid")
      out.queryExecution.executedPlan.toString should include("AsOfJoin")
      out.collect().head.getAs[Long]("asof_rid") shouldBe 900L
      // leg 4: a newSession() clone (PageRank's route) inherits all of it
      check(spark.newSession()) shouldBe expected
    }
  }

  test("the spark.sql.extensions config key alone resolves every graft_* name") {
    import scala.jdk.CollectionConverters._
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g",
      "-Dspark.sql.session.timeZone=UTC") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), "graft.ConfigKeySession")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(lines += _, _ => ()))
    code shouldBe 0
    lines should contain(expected)
  }

  test("the shared test session (GraftSession.build) resolves every graft_* name") {
    check(SparkTestSession.spark) shouldBe expected
  }

  test("GraftSession.build refuses a pre-existing session without the extension") {
    withoutSessions {
      SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
        .getOrCreate()
      val e = intercept[IllegalStateException](GraftSession.build("graft-refused"))
      e.getMessage should include("GraftExtensions")
    }
  }
}
