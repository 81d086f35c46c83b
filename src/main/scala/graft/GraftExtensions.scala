package graft

import graft.functions.expressions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** The one route by which graft's SQL functions, optimizer rule and planner
  * strategy reach a Spark session:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)            // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * [[GraftSession.build]] applies it to every session graft builds; cluster
  * deployments use the config form (no code changes on the submitting side).
  * Sessions cloned with `newSession()` inherit the extensions, so they
  * resolve the same names.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        build))
    }
    // custom whole-operator plan: AsOfJoinNode → AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // expression fusions (size(ngram_hashes) → count-only kernel)
    ext.injectOptimizerRule(_ => graft.plans.GraftRewrites)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got: $other")
  }

  /** The registration table: (SQL name, usage, builder) for every graft function. */
  private val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_poly_hash", "base-31 rolling hash mod 1e9+7",
      a => PolyHash(a.head)),
    ("graft_char_ngram_hashes", "distinct sorted hashes of char n-gram windows",
      a => CharNgramHashes(a.head, intArg(a(1), "graft_char_ngram_hashes"))),
    ("graft_token_hashes", "rolling hash per whitespace token",
      a => TokenHashes(a.head)),
    ("graft_shingle_hashes", "distinct sorted n-token shingle hashes",
      a => ShingleHashes(a.head, intArg(a(1), "graft_shingle_hashes"))),
    ("graft_window_hashes", "positional hash of every n-token window",
      a => WindowHashes(a.head, intArg(a(1), "graft_window_hashes"))),
    ("graft_minhash_sig", "k-permutation MinHash signature",
      a => MinHashSig(a.head, intArg(a(1), "graft_minhash_sig"))),
    ("graft_simhash", "bits-wide SimHash of a token-hash array",
      a => SimHash(a.head, intArg(a(1), "graft_simhash"))),
    ("graft_intersect_size", "|a ∩ b| of sorted-distinct i64 arrays",
      a => IntersectSize(a.head, a(1))),
    ("graft_chunk_hashes", "fingerprints of the non-overlapping n-token chunks",
      a => ChunkHashes(a.head, intArg(a(1), "graft_chunk_hashes"))))
}
