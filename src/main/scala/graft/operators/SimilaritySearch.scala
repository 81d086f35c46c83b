package graft.operators

import graft.functions.TextFunctions.Prime
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`): brute-force cosine top-k as the exact baseline,
  * and a random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Scale design: the query side is small (broadcast), the corpus streams;
  * brute-force is O(|Q|·|C|) work but map-side only after the broadcast —
  * no corpus shuffle. The LSH variant buckets both sides on an 8-bit
  * hyperplane signature so each query row only meets its bucket — at 1000
  * executors the corpus stays partition-local and only bucket ids shuffle.
  * Top-k is a window row_number over (query, score) — Spark runs it as a
  * per-partition partial sort after a hash exchange on query id, never a
  * global sort.
  */
object SimilaritySearch {

  /** Dot product of two float-array columns, accumulated left-to-right in
    * double (deterministic, same order as the oracle's list_reduce).
    * Native expression — see [[graft.functions.expressions.DotProduct]].
    */
  def dot(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.GraftFunctions
    GraftFunctions.column(graft.functions.expressions.DotProduct(
      GraftFunctions.expression(x), GraftFunctions.expression(y)))
  }

  /** Euclidean norm. */
  def norm(x: Column): Column = sqrt(dot(x, x))

  /** Cosine similarity; `dot/sqrt(aa)/sqrt(bb)` — callers that score many
    * pairs should precompute [[norm]] per side and divide, which is the
    * bit-identical expression evaluated in the same order.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / norm(a) / norm(b)

  /** Exact brute-force top-k: for each query vector, the k corpus vectors
    * with highest cosine (ties broken by corpus id for determinism).
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val scored = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")))
      .crossJoin(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn")))
      .select(col("query_id"), col("corpus_id"),
        (dot(col("qv"), col("cv")) / col("qn") / col("cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** Random-hyperplane signature: bit j is the sign of ⟨v, h_j⟩ where
    * hyperplane weights are deterministic ±1 derived from
    * (((j*100003 + i + 1) * 2654435761) mod P) mod 2 — engine-independent, so the
    * oracle replays the identical planes. 2^planes buckets. Native
    * expression ([[graft.functions.expressions.HyperplaneBucket]]).
    */
  def hyperplaneBucket(vecCol: String, planes: Int): Column = {
    import org.apache.spark.sql.graft.GraftFunctions
    GraftFunctions.column(graft.functions.expressions.HyperplaneBucket(
      GraftFunctions.expression(col(vecCol)), planes))
  }

  /** The `n` nearest centroids per row of `df` (cosine, ties to the lower
    * centroid id) — THE nearest-cell kernel every IVF path shares
    * ([[ivfTopK]]'s list+probe stages, [[invertedLists]],
    * [[ivfTopKStaged]]'s probe stage), factored out so the scoring
    * expression and tie-break — the determinism contract IvfIndexSpec
    * pins across the staged/in-session pair — exist exactly once.
    * `cent` must carry (cent_id, centv, centn) and be broadcast-sized.
    */
  private def nearestCells(
      df: DataFrame,
      cent: DataFrame,
      side: String,
      n: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    val scored = df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}v"),
      norm(col(vecCol)).as(s"${side}n"))
      .crossJoin(cent)
      .select(col(s"${side}_id"), col(s"${side}v"), col(s"${side}n"), col("cent_id"),
        (dot(col(s"${side}v"), col("centv")) / col(s"${side}n") / col("centn")).as("csim"))
    if (n == 1) {
      // the corpus-sized list stage: top-1 as the [[argTop1]] aggregate so
      // the row×centroid product never shuffles (the window form moved the
      // whole product, embedding arrays included, through one exchange)
      scored.groupBy(s"${side}_id")
        .agg(any_value(col(s"${side}v")).as(s"${side}v"),
          any_value(col(s"${side}n")).as(s"${side}n"),
          argTop1(col("csim"), col("cent_id")).as("cent_id"))
        .select(col(s"${side}_id"), col(s"${side}v"), col(s"${side}n"), col("cent_id"))
    } else {
      // probe side (n = nprobe > 1): query-batch-sized, the window is fine
      val w = Window.partitionBy(s"${side}_id")
        .orderBy(col("csim").desc, col("cent_id"))
      scored
        .withColumn("r", row_number().over(w))
        .where(col("r") <= n)
        .drop("csim", "r")
    }
  }

  private def centTable(centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    broadcast(centroids.select(
      col(idCol).as("cent_id"), col(vecCol).as("centv"), norm(col(vecCol)).as("centn")))

  /** Fixed quadratic polynomial mod the shared Prime — the lattice-robust
    * deterministic sampler (see [[semDedupScaled]]'s scaladoc for why an
    * affine hash degenerates on arithmetic-progression ids).
    */
  private def latticeHash(
      id: org.apache.spark.sql.Column, a: Long, b: Long, c: Long) = {
    val y = id % lit(Prime)
    (y * y % lit(Prime) * lit(a) + y * lit(b) + lit(c)) % lit(Prime)
  }

  /** √k coarse layer over a materialized (cent_id, centv, centn) table:
    * hash-subsample with the min-centroid guard (a hash sample CAN miss
    * every centroid; an empty coarse layer would silently lose the whole
    * assignment). Shared by [[semDedupScaled]] and
    * [[invertedListsTwoLevel]].
    */
  private def coarseLayer(cents: DataFrame): DataFrame = {
    // k counted here (cents must be materialized — both callers
    // localCheckpoint it first) so the max(1, ·) floor cannot be
    // forgotten by a caller on an empty centroid table
    val k = math.max(1L, cents.count())
    val coarseMod = math.max(1L, math.round(math.sqrt(k.toDouble)))
    val minCent = cents.agg(min("cent_id")).head()
    val coarseSel = latticeHash(col("cent_id"), 40503L, 2654435761L, 11L) %
      lit(coarseMod) === 0
    broadcast(cents
      .where(if (minCent.isNullAt(0)) coarseSel
             else coarseSel || col("cent_id") === lit(minCent.get(0)))
      .select(col("cent_id").as("coarse_id"), col("centv").as("coarsev"),
        col("centn").as("coarsen")))
  }

  /** Top-1 by (score desc, id asc) as an AGGREGATE, not a window: `max_by`
    * over struct(score, −id) partially aggregates map-side, so the
    * (row × candidate) intermediate — which carries the embedding array —
    * never crosses a shuffle; only one best-so-far row per key does. The
    * window form shuffled and SORTED the full cross product (~20 GB at the
    * 100× sweep point), and whether that spilled was the dominant
    * variance term in the semdedup/IVF cells. Tie semantics are identical
    * to `row_number over (order by score desc, id)`: struct comparison is
    * lexicographic and a NULL score field sorts below any real score. A
    * group whose rows are ALL join-misses (id and score both NULL — the
    * left-join-miss shape every current call site produces) yields a NULL
    * id, so callers' coalesce fallbacks keep working; a caller mixing
    * non-null ids with NULL scores would instead get the max_by-arbitrary
    * row among the all-NULL-score structs, not NULL — guard with
    * `when(score.isNotNull, ...)` if that shape ever arises.
    */
  private def argTop1(score: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
    max_by(id, struct(score, -id))

  /** [[argTop1]] negates the id for its lowest-id tie-break — numeric
    * only. A string id would implicit-cast to NULL inside the struct
    * (ties then resolved max_by-arbitrarily, silently breaking the
    * deterministic-ledger contract) or throw under ANSI mode. Fail
    * loudly at plan time instead (review r13); string corpora project a
    * numeric surrogate (e.g. xxhash64(id)) first.
    */
  private def requireNumericId(df: DataFrame, idCol: String, where: String): Unit =
    require(df.schema(idCol).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"$where needs a numeric $idCol (got " +
        s"${df.schema(idCol).dataType.simpleString}): the argTop1 " +
        "lowest-id tie-break negates the id and is numeric-only")

  /** The coarse→fine two-level assignment both [[invertedListsTwoLevel]]
    * and [[semDedupScaled]] ride (review r13: previously two verbatim
    * copies): rows and fine centroids each probe-1 into the coarse
    * layer, each row scores only its coarse cell's fine centroids, and
    * the LEFT join + coalesce fallback covers the defecting-centroid
    * case — a coarse centroid can cosine-defect to a near-parallel
    * sibling's cell, leaving its own coarse cell with zero fine
    * centroids; rows assigned there fall back to the coarse centroid
    * itself, always a real fine centroid id since the coarse layer is
    * sampled FROM the fine one. Returns (cent_id, id, v, n) under the
    * caller's names.
    */
  private def assignTwoLevel(
      rows: DataFrame, cents: DataFrame,
      id: String, v: String, n: String): DataFrame = {
    val coarse = coarseLayer(cents)
    val fineByCoarse = toCoarse(cents, coarse, "cent_id", "centv", "centn")
    val byCoarse = toCoarse(rows, coarse, id, v, n)
    byCoarse
      .join(fineByCoarse.hint("shuffle_hash"), Seq("coarse_id"), "left")
      .select(col(id), col(v), col(n), col("coarse_id"), col("cent_id"),
        (dot(col(v), col("centv")) / col(n) / col("centn")).as("csim"))
      .groupBy(id)
      .agg(any_value(col(v)).as(v), any_value(col(n)).as(n),
        any_value(col("coarse_id")).as("coarse_id"),
        argTop1(col("csim"), col("cent_id")).as("cent_id"))
      .select(coalesce(col("cent_id"), col("coarse_id")).as("cent_id"),
        col(id), col(v), col(n))
  }

  /** The within-cell pair scan + dropped ledger both semDedup forms
    * share (review r13: previously two verbatim copies): cell-cohabiting
    * pairs at cosine ≥ tau mark the HIGHER id dropped; output
    * (cent_id, id, dropped) covers every assigned row. `assigned` must
    * carry (cent_id, id, v, vn).
    */
  private def dropLedger(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("cent_id"), col("id").as("id_a"),
      col("v").as("va"), col("vn").as("na"))
    val b = assigned.select(col("cent_id"), col("id").as("id_b"),
      col("v").as("vb"), col("vn").as("nb"))
    val dropped = a.join(b, Seq("cent_id"))
      .where(col("id_a") < col("id_b") &&
        dot(col("va"), col("vb")) / col("na") / col("nb") >= tau)
      .select(col("cent_id"), col("id_b").as("id"))
      .distinct()
    assigned.select("cent_id", "id")
      .join(dropped.withColumn("dropped", lit(true)), Seq("cent_id", "id"), "left")
      .select(col("cent_id"), col("id"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** Nearest coarse centroid per row (probe-1; ties to the lower id). */
  private def toCoarse(
      df: DataFrame, coarse: DataFrame, id: String, v: String, n: String): DataFrame =
    df.crossJoin(coarse)
      .select(col(id), col(v), col(n), col("coarse_id"),
        (dot(col(v), col("coarsev")) / col(n) / col("coarsen")).as("ccsim"))
      .groupBy(id)
      .agg(any_value(col(v)).as(v), any_value(col(n)).as(n),
        argTop1(col("ccsim"), col("coarse_id")).as("coarse_id"))

  /** [[invertedLists]] with TWO-LEVEL assignment — the build that stays
    * affordable when the centroid count is corpus-proportional (constant
    * cell size): a √k coarse layer partitions both the corpus and the
    * fine centroids, and each corpus row scores only its coarse cell's
    * fine centroids — n·√k + k·√k dot products and one shuffle on the
    * coarse id, versus the flat build's n·k. Probe-1 coarse assignment is
    * approximate at cell boundaries (x140's documented trade: a row near
    * a coarse boundary can land in a fine cell that is second-nearest
    * globally — raise the coarse probe count at the recall frontier);
    * the OUTPUT CONTRACT (cent_id, corpus_id, corpusv, corpusn) and the
    * persisted layout are identical to the flat build, so
    * [[ivfTopKStaged]] probes either without change.
    */
  def invertedListsTwoLevel(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireNumericId(corpus, idCol, "invertedListsTwoLevel")
    val cents = centroids.select(col(idCol).as("cent_id"),
        col(vecCol).as("centv"), norm(col(vecCol)).as("centn"))
      .localCheckpoint()
    assignTwoLevel(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("corpusv"),
        norm(col(vecCol)).as("corpusn")),
      cents, "corpus_id", "corpusv", "corpusn")
  }

  /** IVF-style ANN: corpus vectors are inverted-listed under their nearest
    * centroid (by cosine, ties to the lower centroid id); a query probes
    * its `nprobe` nearest centroids and searches only those lists. The
    * centroid set is supplied by the caller (deterministic — e.g. a fixed
    * id-sampled subset; a production pipeline would plug k-means output in)
    * so results are exactly reproducible. Centroids broadcast; the corpus
    * shuffles once on centroid id — at 100 TB each inverted list is a
    * partition-local slice, and only the probed lists are scanned per
    * query.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cent = centTable(centroids, idCol, vecCol)
    val lists = nearestCells(corpus, cent, "corpus", 1, idCol, vecCol)
    val probes = broadcast(nearestCells(queries, cent, "query", nprobe, idCol, vecCol))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    probes.join(lists, "cent_id")
      .select(col("query_id"), col("corpus_id"),
        (dot(col("queryv"), col("corpusv")) / col("queryn") / col("corpusn")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** Inverted-list assignment for a persisted IVF index: every corpus
    * vector under its nearest centroid by cosine (ties to the lower
    * centroid id) — the build side of
    * [[graft.sources.Layouts.ivfIndex]]. Centroids broadcast; the corpus
    * streams map-side and shuffles once on the window key, exactly
    * [[ivfTopK]]'s list stage, exposed so the assignment can be WRITTEN
    * instead of recomputed per query batch.
    */
  def invertedLists(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireNumericId(corpus, idCol, "invertedLists")
    // corpusn rides along into the persisted layout: the probe join
    // scores O(pairs) rows, so recomputing the norm there would pay a
    // full-vector dot+sqrt per (query, candidate) instead of once per
    // corpus row at build time
    nearestCells(corpus, centTable(centroids, idCol, vecCol),
      "corpus", 1, idCol, vecCol)
      .select("cent_id", "corpus_id", "corpusv", "corpusn")
  }

  /** Probe of a PERSISTED IVF index ([[graft.sources.Layouts.ivfIndex]]):
    * queries rank the (small, broadcast) centroid table, keep their
    * `nprobe` nearest cells, and equi-join the cell id against the
    * cell-partitioned inverted lists — Spark's dynamic partition pruning
    * turns that join into a scan of ONLY the probed cell directories
    * (IvfIndexSpec pins the `dynamicpruning` filter in the plan). At
    * 100 TB the per-query read is nprobe/k of the corpus, decided at the
    * STORAGE layer, which is the whole case for persisting the
    * assignment instead of recomputing it per batch (x101/x117/x139's
    * write-once / probe-many split, applied to ANN).
    */
  def ivfTopKStaged(
      queries: DataFrame,
      indexPath: String,
      k: Int,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    implicit val s: org.apache.spark.sql.SparkSession = queries.sparkSession
    val cent = broadcast(s.read.parquet(s"$indexPath/cent")
      .select(col("cent_id"), col("centv"), norm(col("centv")).as("centn")))
    // resolve the current immutable generation once
    val lists = s.read.parquet(
      s"${graft.sources.Layouts.indexRoot(indexPath)}/assign")
    val probes = nearestCells(queries, cent, "query", nprobe, idCol, vecCol)
      // partition-column type inference narrows cent_id on read (e.g. to
      // int); cast the probe side to ITS type so the join key is the bare
      // partition column and the pruning rule can match it
      .select(col("query_id"), col("queryv"), col("queryn"),
        col("cent_id").cast(lists.schema("cent_id").dataType).as("cent_id"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    lists.join(broadcast(probes), "cent_id")
      .select(col("query_id"), col("corpus_id"),
        (dot(col("queryv"), col("corpusv")) / col("queryn") / col("corpusn")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** One spherical k-means (Lloyd) iteration: assign every corpus vector
    * to its nearest centroid by cosine (ties to the lower centroid id),
    * then replace each centroid with the NORMALIZED mean of its assigned
    * vectors — the update that provably never decreases the summed-cosine
    * objective, which makes convergence testable. Drives [[ivfTopK]]'s
    * centroid training: iterate until the objective stalls, then feed the
    * result in as the inverted-list centroids.
    *
    * Scale shape: centroids broadcast for assignment (they are k rows);
    * the update is one (cent_id, pos) hash-aggregate over the exploded
    * corpus — no corpus self-join, no iteration-to-iteration lineage
    * growth if the caller localCheckpoints between rounds. Empty clusters
    * drop (standard Lloyd; k shrinks rather than keeping a dead centroid).
    */
  def kmeansIterate(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireNumericId(centroids, idCol, "kmeansIterate")
    val cent = broadcast(centroids.select(
      col(idCol).as("cent_id"), col(vecCol).as("centv"), norm(col(vecCol)).as("centn")))
    // assignment as the [[argTop1]] aggregate (ties to the lower cent_id,
    // identical to the former row_number window) — the row×centroid
    // product with its embedding arrays combines map-side instead of
    // crossing a shuffle, the same rewrite every IVF path got in round 11
    val assigned = corpus
      .select(col(idCol).as("cid"), col(vecCol).as("cv"), norm(col(vecCol)).as("cn"))
      .crossJoin(cent)
      .select(col("cid"), col("cv"), col("cent_id"),
        (dot(col("cv"), col("centv")) / col("cn") / col("centn")).as("csim"))
      .groupBy("cid")
      .agg(any_value(col("cv")).as("cv"),
        argTop1(col("csim"), col("cent_id")).as("cent_id"))
    val means = assigned
      .select(col("cent_id"), posexplode(col("cv")).as(Seq("pos", "v")))
      .groupBy("cent_id", "pos")
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy("cent_id")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").as("mean"))
    means
      .select(col("cent_id").as(idCol),
        expr("transform(mean, x -> CAST(x / sqrt(aggregate(transform(mean, y -> y * y), " +
          "0d, (a, b) -> a + b)) AS FLOAT))").as(vecCol))
  }

  /** LSH-bucketed ANN: queries only meet corpus vectors in the same
    * hyperplane bucket (approximate — may return < k or miss true
    * neighbors; deterministic given the fixed planes).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      planes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"), hyperplaneBucket(vecCol, planes).as("bucket"))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"), hyperplaneBucket(vecCol, planes).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    broadcast(q).join(c, "bucket")
      .select(col("query_id"), col("corpus_id"),
        (dot(col("qv"), col("cv")) / col("qn") / col("cn")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "corpus_id", "cos", "rank")
  }

  /** SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus under seeded centroids, then inside each cluster
    * drop every vector that has a higher-priority (smaller-id) neighbor
    * with cosine ≥ `tau`. Returns one row per corpus vector:
    * (cent_id, id, dropped).
    *
    * Scale design: centroid table is k×d → broadcast; assignment is
    * map-side (one row_number window keyed on the vector id). The pair
    * search is confined to each cluster — a self-equi-join on cent_id, the
    * one shuffle in the plan — so the corpus is never compared all-pairs;
    * cluster sizes bound the quadratic term exactly as in the paper.
    * CALLER-FIXED k means cells grow as n/k with the corpus: this form is
    * for fixture-scale audits and k-managed deployments only. When the
    * corpus grows under a fixed centroid budget, use [[semDedupScaled]]
    * (corpus-proportional centroids at constant `targetCellSize`, two-level
    * assignment) — the x140 catalog form — so neither the within-cell
    * pair term nor the assignment goes quadratic.
    * The assignment feeds three consumers (both self-join sides and the
    * final ledger) and ReuseExchange does not unify them across the
    * window boundary — without a barrier the plan re-scans the corpus and
    * re-runs the broadcast cross 3× (the x73 failure shape), so the
    * assigned frame is localCheckpoint'ed once.
    */
  def semDedup(
      corpus: DataFrame,
      centroids: DataFrame,
      tau: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    requireNumericId(corpus, idCol, "semDedup")
    val cent = broadcast(centroids.select(
      col(idCol).as("cent_id"), col(vecCol).as("centv"), norm(col(vecCol)).as("centn")))
    // assignment as the [[argTop1]] aggregate (ties to the lower cent_id,
    // identical to the former row_number window): the row×centroid product
    // carrying the embedding arrays combines map-side; only one
    // best-so-far row per vector reaches the shuffle
    val assigned = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("vn"))
      .crossJoin(cent)
      .select(col("id"), col("v"), col("vn"), col("cent_id"),
        (dot(col("v"), col("centv")) / col("vn") / col("centn")).as("csim"))
      .groupBy("id")
      .agg(any_value(col("v")).as("v"), any_value(col("vn")).as("vn"),
        argTop1(col("csim"), col("cent_id")).as("cent_id"))
      .select("cent_id", "id", "v", "vn")
      .localCheckpoint()
    dropLedger(assigned, tau)
  }

  /** [[semDedup]] with the centroid count scaled ∝ corpus — the knob that
    * keeps its within-cell pair term LINEAR as the corpus grows. Fixed-k
    * semDedup has cells of size n/k, so the Σ cell² term grows n²/k: the
    * documented mitigation is more centroids, and this implements it.
    * Centroids are a deterministic hash-sample of the corpus itself,
    * expected one per `targetCellSize` rows, so cells hold ~`targetCellSize`
    * vectors at EVERY corpus size and the pair term is n·targetCellSize.
    *
    * With k ∝ n the flat one-level assignment (n·k dot products) becomes
    * the new quadratic term, so assignment here is two-level IVF: a
    * √k-sized coarse layer (hash-subsample of the centroids) partitions
    * both the corpus and the fine centroids, and each corpus row scores
    * only the fine centroids of its coarse cell — n·√k + k·√k work, one
    * shuffle on the coarse id. Probe-1 coarse assignment is approximate at
    * cell boundaries (a row near a coarse boundary may land in a fine cell
    * that is second-nearest globally); SemDeDup is a pruning heuristic, so
    * what matters is that near-identical vectors still COLLIDE — they agree
    * on every layer by continuity of cosine — and the dedup decisions stay
    * deterministic. At even larger scale raise the coarse probe count the
    * way [[ivfTopK]]'s `nprobe` does.
    */
  def semDedupScaled(
      corpus: DataFrame,
      targetCellSize: Int,
      tau: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // NUMERIC ids only: latticeHash computes id % Prime, and a string id
    // would cast to NULL there — every sampling predicate NULL, only the
    // min-id guard row survives, ONE centroid cell, and the pair stage
    // silently degenerates to the O(n²) all-pairs join this function
    // exists to avoid. Fail loudly at plan time instead. (String corpora:
    // project a numeric surrogate, e.g. xxhash64(id), before calling.)
    require(corpus.schema(idCol).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"semDedupScaled needs a numeric $idCol (got " +
        s"${corpus.schema(idCol).dataType.simpleString}): the quadratic " +
        "sampling hash and the argTop1 tie-break are numeric-only")
    // sampling hashes are fixed QUADRATIC polynomials mod the shared Prime
    // ([[latticeHash]]) — deterministic and bit-replayable in the DuckDB
    // oracle, like the MinHash-permutation constants, but lattice-robust,
    // unlike them. An AFFINE hash ((id·A + B) mod P mod m) is itself
    // affine on any arithmetic-progression id set (auto-increment ids,
    // shard offsets, id + i·10⁶ replication), and its residues mod m can
    // systematically avoid 0: the ScaleSweep 50× lattice left the coarse
    // layer with ONE cell, so every corpus row scored every fine centroid
    // — 200 M join rows, 369 s. The id² term maps an arithmetic
    // progression to a non-progression mod P, so the mod-m sample stays
    // near-uniform on structured ids (measured within ~3× of k/m on
    // step-1/2²⁰/10⁶ lattices; the affine form hit 0). All terms bound by
    // P·A < 2⁶³.
    // the min corpus id is always a centroid: a hash sample can select
    // ZERO rows on a small corpus ((1-1/m)^n is not negligible at n ~ m),
    // and an empty centroid table would silently empty the whole ledger —
    // the same guard the coarse layer has, one level up
    val minIdRow = corpus.agg(min(col(idCol))).head()
    val minIdSel =
      if (minIdRow.isNullAt(0)) lit(false)
      else col(idCol) === lit(minIdRow.get(0)) // any numeric id width
    val cents = corpus.select(col(idCol).as("cent_id"), col(vecCol).as("centv"),
        norm(col(vecCol)).as("centn"))
      .where(latticeHash(col(idCol), 2654435761L, 40503L, 7L)
        % lit(targetCellSize.toLong) === 0 || minIdSel)
      .localCheckpoint()
    // coarse layer: ~√k of the fine centroids (k is a cheap count of the
    // already-materialized centroid table — O(k), not a corpus scan; the
    // min-centroid guard lives in [[coarseLayer]])
    // fine assignment within the coarse cell via the shared
    // [[assignTwoLevel]] (argmax cosine, ties to the lower centroid id,
    // LEFT-join defect fallback — one definition with
    // invertedListsTwoLevel), then the shared within-cell [[dropLedger]].
    val assigned = assignTwoLevel(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("vn")),
      cents, "id", "v", "vn")
      .localCheckpoint()
    dropLedger(assigned, tau)
  }
}
