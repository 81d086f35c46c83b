package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup. Extensions beyond the
  * reference surface (its data model is the same flat parquet table,
  * /root/reference/v1/src/main.rs:122-128; dedup is what a 100 TB corpus
  * pipeline adds on top).
  *
  * Scale design, per operator:
  *  - exact: one hash-shuffle on the fingerprint — the minimal possible.
  *  - MinHash/LSH: signatures are computed map-side (HOFs, no shuffle);
  *    candidate generation shuffles on (band, bandhash) — i.e. only docs
  *    sharing a bucket ever meet, never O(n²); verification joins shingle
  *    sets back by doc id (hash join on the small candidate set).
  *  - SimHash: signature map-side; pairing restricted to an explicit subset
  *    predicate (at 100 TB you'd band the 32-bit space the same way LSH
  *    bands MinHash signatures).
  *  - cosine near-dup: same LSH-bucket shape using random-hyperplane signs.
  * No collect(), no driver-side loops; every join key is a small integer.
  */
object Dedup {

  /** Exact dedup on the text fingerprint: one representative (min doc id)
    * per distinct normalized text + the duplicate count. A single
    * hash-aggregate; at 100 TB this is the cheapest possible full-corpus op.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), expr(s"graft_poly_hash(lower(trim($textCol)))").as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Staging barrier for an intermediate consumed by several plan legs
    * (frequency count, prefix explode, verify join): without one Catalyst
    * re-inlines the upstream projection (tokenize + shingle + sort) into
    * every consumer. Two candidate primitives, A/B'd at 10×/20×
    * replication (BASELINE.md round 10): eager `localCheckpoint` — one
    * materialization, lineage truncated, blocks freed by the
    * ContextCleaner when the RDD is unreferenced — vs lazy `cache()`,
    * which computes once per consumer *stage set* but pins the cached plan
    * in the session's storage until someone unpersists (the round-9 leak:
    * nothing did). Checkpoint won the A/B. The x73 precedent (corpus-sized
    * staged tables want the checkpoint barrier) transfers to 100 TB
    * unchanged.
    */
  private[graft] def stage(df: DataFrame): DataFrame = df.localCheckpoint()

  /** MinHash signature of length `k` over distinct token-`n`-gram shingle
    * hashes (native expressions: one tight loop per row — see
    * [[graft.functions.expressions.HashExpressions]] for why the HOF
    * formulation is a trap). A shingle hash combines the n pre-hashed
    * tokens (((h1*31+h2)%P)*31+h3)%P. Permutation i: h_i(s) = (a_i*s + b_i)
    * mod P with a_i = (1 + i*2654435761) mod P, b_i = (7 + i*40503) mod P —
    * fixed, engine-independent constants so the oracle can replay them.
    */
  def minhashSignature(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      shingleN: Int = 3): DataFrame =
    // NOT fanned out here: this is shared with the per-trigger ingest
    // paths, where a fan-out repartition per bounded micro-batch is pure
    // overhead (measured on the r18 streaming admit rows; the corpus
    // A/B lost too — OPTIMIZATION_r18.md)
    docs
      .select(col(idCol),
        expr(s"graft_shingle_hashes(graft_token_hashes($textCol), $shingleN)").as("shingles"))
      .select(col(idCol), col("shingles"),
        expr(s"graft_minhash_sig(shingles, $k)").as("sig"))

  /** Banded (id, band, bandhash) table — the shuffle key both the self-join
    * ([[lshCandidates]]) and cross-table ([[candidatesFromBanded]], the
    * incremental-ingest shape) paths bucket on.
    */
  private[graft] def bandedHashes(
      sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    // rowsPerBand = 0 (bands > k upstream) would fold ZERO signature
    // coordinates into the constant band hash 0 — every doc in one bucket,
    // the candidate join a full cross product. Fail at plan time.
    require(bands >= 1 && rowsPerBand >= 1,
      s"need bands >= 1 and rowsPerBand >= 1 (got bands=$bands, " +
        s"rowsPerBand=$rowsPerBand — bands must divide the signature size)")
    val bandHash = (0 until rowsPerBand)
      .map(r => s"element_at(sig, band * $rowsPerBand + ${r + 1})")
      .foldLeft("CAST(0 AS BIGINT)")((acc, el) => s"(($acc * 31 + $el) % $Prime)")
    sigs
      .select(col(idCol), explode(expr(s"sequence(0, ${bands - 1})")).as("band"), col("sig"))
      .select(col(idCol), col("band"), expr(bandHash).as("bh"))
  }

  /** LSH candidate pairs: band the signature (`bands` bands × k/bands rows),
    * bucket-join docs sharing any (band, bandhash). Output: doc_a < doc_b.
    */
  def lshCandidates(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedHashes(sigs, idCol, bands, rowsPerBand)
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** The exact-Jaccard verify join every candidate generator funnels into:
    * attach both sides' element sets to the (idA, idB) pairs, optionally
    * apply the lossless size-ratio prefilter (jac ≤ min/max of the set
    * sizes, so pairs failing min ≥ t·max − ε skip the O(|a|+|b|) merge
    * walk — only valid when the consumer IS a Jaccard threshold; prefix
    * pipelines pass `sizePrefilter = false` because their candidate stage
    * already applied it), compute the exact merge-walk intersection, and
    * keep pairs at jac ≥ threshold. `setsA`/`setsB` arrive pre-named
    * ((idA, sh_a) / (idB, sh_b)) and pre-hinted — pass
    * `.hint("shuffle_hash")` frames when the element arrays must not
    * broadcast. One definition so an epsilon or prefilter fix can never
    * silently miss one of the five call sites again.
    */
  private def verifyJaccard(
      cands: DataFrame, idA: String, idB: String,
      setsA: DataFrame, setsB: DataFrame,
      threshold: Double, sizePrefilter: Boolean): DataFrame = {
    val joined = cands.select(idA, idB)
      .join(setsA, idA).join(setsB, idB)
      .select(col(idA), col(idB), col("sh_a"), col("sh_b"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
    val pre =
      if (sizePrefilter)
        joined.where(least(col("na"), col("nb")).cast("double") >=
          lit(threshold) * greatest(col("na"), col("nb")) - lit(1e-9))
      else joined
    pre.select(col(idA), col(idB),
        expr("graft_intersect_size(sh_a, sh_b)").as("inter"), col("na"), col("nb"))
      .select(col(idA), col(idB),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jac"))
      .where(col("jac") >= threshold)
  }

  private def candidatesFromBanded(
      bandedA: DataFrame, bandedB: DataFrame, idCol: String): DataFrame =
    bandedA.as("a")
      .join(bandedB.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()

  /** Normalized-text fingerprints of a corpus — the existing-side table the
    * exact stage of [[incrementalDedup]] anti-joins against (persisted by
    * [[graft.sources.Layouts.minhashIndex]]).
    */
  def exactFingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(expr(s"graft_poly_hash(lower(trim($textCol)))").as("fp")).distinct()

  /** Incremental ingest dedup: classify each INCOMING doc against the
    * EXISTING corpus — `exact_dup` if its normalized-text fingerprint is
    * already present, else `near_dup` if a banded MinHash candidate
    * verifies at jaccard ≥ `threshold` against any existing doc, else
    * `kept`. Returns (idCol, status) for every incoming doc. The
    * continual-ingestion shape: the new shard never self-pairs, candidate
    * generation is the incoming×existing banded equi-shuffle, and at
    * 100 TB the existing-side fingerprints and signatures are a persisted
    * layout built once per corpus release — only the (small) shard side is
    * computed per ingest.
    */
  def incrementalDedup(
      incoming: DataFrame,
      existing: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sigEx = minhashSignature(existing, idCol, textCol, k, shingleN)
    incrementalDedupStaged(incoming,
      exactFingerprints(existing, textCol),
      bandedHashes(sigEx, idCol, bands, k / bands),
      sigEx.select(col(idCol), col("shingles")),
      idCol, textCol, k, bands, shingleN, threshold)
  }

  /** Path form of [[incrementalDedupStaged]]: reads the persisted index's
    * `_params` and probes with the BUILD's (k, bands, shingle_n) — a probe
    * hashed with different parameters joins a disjoint hash space and every
    * true near-dup silently classifies as "kept", the failure mode the
    * recorded parameters exist to close (same contract as the exact index's
    * threshold guard).
    */
  def incrementalDedupStaged(
      incoming: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = incoming.sparkSession
    // resolve the current immutable generation ONCE, so all three table
    // reads see one consistent root even while a compact publishes; the
    // parameters stay at the index path
    val root = graft.sources.Layouts.indexRoot(indexPath)
    val (k, bands, shingleN) = graft.sources.Layouts.minhashParams(indexPath)
    incrementalDedupStaged(incoming,
      spark.read.parquet(s"$root/fp"),
      spark.read.parquet(s"$root/banded"),
      spark.read.parquet(s"$root/shingles"),
      idCol, textCol, k, bands, shingleN, threshold)
  }

  /** [[incrementalDedup]] against a PRE-STAGED existing side — the three
    * tables [[graft.sources.Layouts.minhashIndex]] persists (fingerprints;
    * banded hashes; shingle sets). This is the deployment shape: the
    * corpus-sized existing side is built once per release and every ingest
    * batch only computes its own (small) shard-side signatures.
    */
  def incrementalDedupStaged(
      incoming: DataFrame,
      fpEx: DataFrame,
      bandedEx: DataFrame,
      shinglesEx: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val fpIn = incoming.select(col(idCol),
      expr(s"graft_poly_hash(lower(trim($textCol)))").as("fp"))
    val exactDup = fpIn.join(fpEx, Seq("fp"), "left_semi").select(col(idCol))
    val survivors = incoming.join(exactDup, Seq(idCol), "left_anti")
    val sigIn = minhashSignature(survivors, idCol, textCol, k, shingleN)
    val cands = candidatesFromBanded(
      bandedHashes(sigIn, idCol, bands, k / bands), bandedEx, idCol)
    val near = verifyJaccard(cands, "id_a", "id_b",
        sigIn.select(col(idCol).as("id_a"), col("shingles").as("sh_a")),
        shinglesEx.select(col(idCol).as("id_b"), col("shingles").as("sh_b")),
        threshold, sizePrefilter = true)
      .select(col("id_a").as(idCol)).distinct()
    incoming.select(col(idCol))
      .join(exactDup.withColumn("__exact", lit(1)), Seq(idCol), "left")
      .join(near.withColumn("__near", lit(1)), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__exact") === 1, "exact_dup")
          .when(col("__near") === 1, "near_dup")
          .otherwise("kept").as("status"))
  }

  /** Full MinHash+LSH near-dup pipeline: candidates verified with exact
    * Jaccard on the shingle sets, kept when ≥ `threshold`.
    */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame =
    // stage(): sigs feeds THREE legs (banding + both verify-join sides) —
    // without the barrier Catalyst re-inlines tokenize+shingle+minhash
    // into each, re-hashing the corpus ~3x (the simhash round-1 lesson)
    minhashNearDupsFromSigs(
      stage(minhashSignature(docs, idCol, textCol, k, shingleN)),
      idCol, bands, k / bands, threshold)

  /** [[minhashNearDups]] from PRE-STAGED signatures (a materialized
    * [[minhashSignature]] output): callers that already computed the
    * signatures for another leg of the same query — x92's recall audit
    * runs the exact-truth pipeline over the same shingle sets — share
    * one tokenize+shingle+minhash pass instead of re-hashing the corpus
    * per leg. The caller materializes (stage/localCheckpoint); passing a
    * lazy frame here re-inlines the hash pipeline into all three legs.
    */
  def minhashNearDupsFromSigs(
      sigs: DataFrame,
      idCol: String = "doc_id",
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val cands = lshCandidates(sigs, idCol, bands, rowsPerBand)
    val sets = sigs.select(col(idCol), col("shingles"))
    verifyJaccard(cands, "id_a", "id_b",
      sets.withColumnRenamed(idCol, "id_a").withColumnRenamed("shingles", "sh_a"),
      sets.withColumnRenamed(idCol, "id_b").withColumnRenamed("shingles", "sh_b"),
      threshold, sizePrefilter = true)
  }

  /** Containment near-dup: the same LSH candidate generation as
    * [[minhashNearDups]], but scored by |A∩B| / min(|A|,|B|) — the
    * quote/subset detector Jaccard misses (a doc fully contained in a 10×
    * larger one has jac ≤ 0.1 but containment 1.0). Candidate recall is
    * still bounded by MinHash-on-Jaccard banding, which is why this runs at
    * a lower band threshold than a dedicated containment index would; a
    * 100 TB deployment chasing asymmetric pairs would band the containee's
    * bottom-k shingles instead (the same lshCandidates shape, smaller key).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sigs = stage(minhashSignature(docs, idCol, textCol, k, shingleN))
    val cands = lshCandidates(sigs, idCol, bands, k / bands)
    val sets = sigs.select(col(idCol), col("shingles"))
    cands
      .join(sets.withColumnRenamed(idCol, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
      .join(sets.withColumnRenamed(idCol, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("graft_intersect_size(sh_a, sh_b)").as("inter"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .withColumn("cont", col("inter").cast("double") / least(col("na"), col("nb")))
      .where(col("cont") >= threshold)
      .select("id_a", "id_b", "na", "nb", "cont")
  }

  /** Single-band min-hash blocking + exact char-n-gram Jaccard: candidates =
    * pairs sharing the *minimum* hashed char-n-gram (the cheapest LSH
    * configuration), verified exactly. `n` must be large enough that the min
    * gram is discriminative: on a small-vocabulary corpus short grams are
    * shared by nearly every document and the min-block degenerates into one
    * giant bucket (measured at sf0.1: n=4 → 866k pairs, n=12 → 63k).
    *
    * Skew-proof by construction: a popular min-gram block would put a
    * quadratic in-block self-join on one reducer, so candidate generation
    * runs on an m×m reducer *grid* — each doc gets a deterministic salt
    * s = hash(id) mod m; side A replicates to cells (s, j), side B to
    * cells (i, s), and the join key is (block, cell), so the pair
    * (s_a, s_b) meets exactly once and a hot block spreads over m²
    * reducers. Lossless: identical pair set to the naive block join. Only
    * 24-byte (id, block, salt) rows replicate — the gram arrays join back
    * by id afterwards, once per doc side of each surviving candidate.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 12,
      threshold: Double = 0.5,
      gridM: Int = 4): DataFrame = {
    val sets = stage(docs
      .select(col(idCol), expr(s"graft_char_ngram_hashes($textCol, $n)").as("grams"))
      .select(col(idCol), col("grams"),
        size(col("grams")).as("ng"), array_min(col("grams")).as("block")))
    val keyed = sets.select(col(idCol), col("block"),
      pmod(hash(col(idCol)), lit(gridM)).as("salt"))
    val aCells = keyed
      .withColumn("j", explode(expr(s"sequence(0, ${gridM - 1})")))
      .select(col(idCol).as("id_a"), col("block"), (col("salt") * gridM + col("j")).as("cell"))
    val bCells = keyed
      .withColumn("i", explode(expr(s"sequence(0, ${gridM - 1})")))
      .select(col(idCol).as("id_b"), col("block"), (col("i") * gridM + col("salt")).as("cell"))
    val cands = aCells
      .join(bCells, Seq("block", "cell"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // shuffle-hash, not broadcast: the build side carries the gram arrays
    // (tens of MB at fixture scale, unbounded at 100 TB) — broadcasting it
    // serializes the whole set table to every task
    val byId = sets.hint("shuffle_hash")
    verifyJaccard(cands, "id_a", "id_b",
      byId.select(col(idCol).as("id_a"), col("grams").as("sh_a")),
      byId.select(col(idCol).as("id_b"), col("grams").as("sh_b")),
      threshold, sizePrefilter = true)
  }

  /** EXACT Jaccard ≥ `threshold` self-join over pre-hashed distinct sets,
    * with NO all-pairs stage: candidate pairs come from lossless prefix
    * filtering (the AllPairs/PPJoin family). With every set ordered by ONE
    * global total order, two sets at jaccard ≥ t share o ≥
    * ceil(t·max(|A|,|B|)) elements, and the FIRST common element (in that
    * order) has rank ≤ |S| − o + 1 in BOTH sets — so it sits inside both
    * (|S| − ceil(t·|S|) + 1)-prefixes. Exploding only prefixes and
    * equi-joining on the prefix element finds every qualifying pair; the
    * full merge-walk jaccard then verifies each candidate exactly once.
    * Identical result set to the quadratic scan.
    *
    * The prefix order is GLOBAL-FREQUENCY ascending (rarest first, hash as
    * the tie-break) — the AllPairs refinement that decides whether this
    * works at scale: candidate volume is Σ_elem count(elem-in-prefixes)²,
    * and rarest-first ordering pushes every hot element out of the
    * prefixes, so buckets track genuine co-occurrence structure. On this
    * repo's adversarial word-soup fixture (31-word vocab → tiny shingle
    * universe, every shingle hot) value-ordered prefixes degraded to
    * ~10× the banded-LSH cost at 10× replication; frequency-ordering is
    * what restores the bound. The frequency table itself is one
    * corpus-linear count over set elements — type-count-sized, the same
    * sub-linear family as the vocabulary. The size-ratio bound
    * (min ≥ t·max, implied by jac ≥ t) additionally prunes inside the
    * join condition, and AQE's skew split covers residual hot buckets.
    */
  /** (id, s value-sorted, ns) — the set table both the self-join and the
    * staged probe verify against (value order feeds the merge walk).
    */
  private[graft] def sortedSets(
      sets: DataFrame, idCol: String, setCol: String): DataFrame =
    sets
      .select(col(idCol), array_sort(col(setCol)).as("s"))
      .select(col(idCol), col("s"), size(col("s")).as("ns"))

  /** Exploded frequency-ordered prefix rows (id, ns, tok, rk): rank each
    * set's elements under the global (f, tok) total order and keep rank ≤
    * |S| − ⌈t·|S|⌉ + 1. `freq` supplies the order; elements absent from it
    * rank as f = 0 (rarest) — consistent for every set as long as ONE freq
    * table orders both sides of a join.
    */
  private[graft] def freqOrderedPrefix(
      sorted: DataFrame, freq: DataFrame, idCol: String,
      threshold: Double, freqShuffleHash: Boolean = false): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(asc("f"), asc("tok"))
    // freqShuffleHash pins a shuffled-hash join on the vocabulary-sized
    // freq table. freq crosses the broadcast threshold as the corpus
    // grows, and left alone AQE's plan is BIMODAL at the crossing: when
    // the broadcast still fits it is the fastest plan, but the fallback
    // sort-merge join SORTS the exploded corpus side — the round-11
    // median-of-3 A/B at 100× measured unhinted runs of [794, 201, 52] s
    // (median 201) against pinned [106, 91, 184] s (median 106), and the
    // round-10 single-run build cliff (15.1→73.4 s at 50→100×) was the
    // same mode. At a real 100 TB vocabulary the broadcast mode does not
    // exist at all, so every production call site pins the hash join —
    // deterministic and sort-free — and the parameter remains an
    // ablation knob for re-measuring the broadcast mode while it fits.
    val freqSide = if (freqShuffleHash) freq.hint("shuffle_hash") else freq
    sorted.select(col(idCol), col("ns"), explode(col("s")).as("tok"))
      .join(freqSide, Seq("tok"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
      .withColumn("rk", row_number().over(wDoc))
      // ceil(ns·t − ε): for thresholds whose double product rounds just
      // past an exact integer (0.07·100 → 7.000000000000001) a bare ceil
      // would shorten the prefix by one and silently break the no-miss
      // contract; the ε matches the overlap bound's slack below
      .where(col("rk") <=
        col("ns") - ceil(col("ns") * lit(threshold) - lit(1e-9)).cast("int") + 1)
      .select(col(idCol), col("ns"), col("tok"), col("rk"))
  }

  def exactJaccardSelfPairs(
      sets: DataFrame,
      idCol: String = "doc_id",
      setCol: String = "shingles",
      threshold: Double = 0.5): DataFrame = {
    // barrier: the sorted sets feed several plan legs (frequency count,
    // prefix explode, verify join) — see [[stage]] for the primitive choice
    val sorted = stage(sortedSets(sets, idCol, setCol))
    val freq = sorted.select(explode(col("s")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val pref = freqOrderedPrefix(sorted, freq, idCol, threshold,
      freqShuffleHash = true)
    // positional filter (PPJoin): a match at frequency-order ranks (ra, rb)
    // bounds the overlap by the elements AT-OR-AFTER those ranks —
    // |A∩B| ≤ min(na−ra, nb−rb) + 1 (everything before the FIRST shared
    // element, by definition of first, is unshared). jac ≥ t needs
    // o ≥ ceil(t/(1+t)·(na+nb)), so pairs whose best (first-match) bound
    // misses it drop BEFORE the merge-walk verify. Lossless: the bound is
    // evaluated on the pair's earliest match (max over matches of the
    // min-tail), never an estimate.
    val cands = pref.as("a")
      .join(pref.as("b"),
        col("a.tok") === col("b.tok") && col(s"a.$idCol") < col(s"b.$idCol") &&
          least(col("a.ns"), col("b.ns")).cast("double") >=
            greatest(col("a.ns"), col("b.ns")) * lit(threshold) - lit(1e-9))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.ns").as("na"), col("b.ns").as("nb"),
        (least(col("a.ns") - col("a.rk"), col("b.ns") - col("b.rk")) + 1)
          .as("ub"))
      .groupBy("id_a", "id_b")
      .agg(max("ub").as("ub"), max("na").as("na"), max("nb").as("nb"))
      .where(col("ub").cast("double") >=
        (lit(threshold) / (1.0 + threshold)) * (col("na") + col("nb")) - lit(1e-9))
      .select("id_a", "id_b")
    // shuffle-hash, not broadcast: the build side carries the full arrays.
    // no size prefilter: the candidate join above already applied it
    val byId = sorted.hint("shuffle_hash")
    verifyJaccard(cands, "id_a", "id_b",
      byId.select(col(idCol).as("id_a"), col("s").as("sh_a")),
      byId.select(col(idCol).as("id_b"), col("s").as("sh_b")),
      threshold, sizePrefilter = false)
  }

  /** Asymmetric EXACT Jaccard probe against a persisted corpus index
    * ([[graft.sources.Layouts.jaccardIndex]]): classify an incoming shard
    * against the existing corpus with the NO-MISS contract the banded
    * probe ([[incrementalDedupStaged]]) trades away — same prefix-filter +
    * positional-filter machinery as [[exactJaccardSelfPairs]], with the
    * corpus side (freq order, prefix rows, value-sorted sets) read from
    * the build-once layout. Per ingest batch only the SHARD is shingled
    * and ranked; the corpus is touched through the candidate equi-join and
    * the by-id verify join. The corpus freq table is the one total order
    * for BOTH sides (shard-only elements rank f = 0, rarest — still one
    * consistent order, which is all the lemma needs).
    * Returns (in_id, ex_id, jac ≥ threshold) pairs.
    */
  def exactJaccardPairsStaged(
      incoming: DataFrame,
      freqEx: DataFrame,
      prefEx: DataFrame,
      setsEx: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sortedIn = stage(sortedSets(
      incoming.select(col(idCol),
        expr(s"graft_shingle_hashes(graft_token_hashes($textCol), $shingleN)")
          .as("shingles")),
      idCol, "shingles"))
    // shuffle_hash on the INDEX's freq table: it is corpus-vocabulary-
    // sized, so re-broadcasting it for every probe batch is the wrong
    // steady state — the hash join shuffles only the (small) exploded
    // batch. Probe stays flat either way at sweep scale (4.0 s hinted vs
    // 4.8 s r10 unhinted at 100×).
    val prefIn = freqOrderedPrefix(sortedIn, freqEx, idCol, threshold,
      freqShuffleHash = true)
    val cands = prefIn.as("a")
      .join(prefEx.as("b"),
        col("a.tok") === col("b.tok") &&
          least(col("a.ns"), col("b.ns")).cast("double") >=
            greatest(col("a.ns"), col("b.ns")) * lit(threshold) - lit(1e-9))
      .select(col(s"a.$idCol").as("in_id"), col(s"b.$idCol").as("ex_id"),
        col("a.ns").as("na"), col("b.ns").as("nb"),
        (least(col("a.ns") - col("a.rk"), col("b.ns") - col("b.rk")) + 1)
          .as("ub"))
      .groupBy("in_id", "ex_id")
      .agg(max("ub").as("ub"), max("na").as("na"), max("nb").as("nb"))
      .where(col("ub").cast("double") >=
        (lit(threshold) / (1.0 + threshold)) * (col("na") + col("nb")) - lit(1e-9))
      .select("in_id", "ex_id")
    // candidate stage already applied the size-ratio cut, so the verify
    // join runs without the prefilter
    verifyJaccard(cands, "in_id", "ex_id",
      sortedIn.hint("shuffle_hash")
        .select(col(idCol).as("in_id"), col("s").as("sh_a")),
      setsEx.hint("shuffle_hash")
        .select(col(idCol).as("ex_id"), col("s").as("sh_b")),
      threshold, sizePrefilter = false)
  }

  /** Path form of [[exactJaccardPairsStaged]] over a persisted
    * [[graft.sources.Layouts.jaccardIndex]] directory. Reads the index's
    * `_params` and REFUSES a probe threshold below the build threshold:
    * the persisted prefix rows were truncated for the build threshold, so a
    * lower-threshold probe would need candidate rows that no longer exist —
    * it would return a silently incomplete pair set, the one failure mode a
    * no-miss contract cannot have. Shingle width comes from `_params`
    * too (a probe shingled differently from the index never matches).
    */
  def exactJaccardPairsStaged(
      incoming: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    implicit val spark: org.apache.spark.sql.SparkSession = incoming.sparkSession
    val (buildThreshold, shingleN) = graft.sources.Layouts.jaccardParams(indexPath)
    require(threshold >= buildThreshold - 1e-9,
      s"probe threshold $threshold < index build threshold $buildThreshold: " +
        s"the persisted prefix rows at $indexPath cannot guarantee no-miss " +
        "below the threshold they were built for — rebuild the index at the " +
        "lower threshold instead")
    exactJaccardPairsStaged(
      incoming,
      spark.read.parquet(s"$indexPath/freq"),
      spark.read.parquet(s"$indexPath/pref"),
      spark.read.parquet(s"$indexPath/sets"),
      idCol, textCol, shingleN, threshold)
  }

  /** `bits`-wide SimHash per document (64 by default, the standard width
    * for corpus-scale near-dup): output bit b is the sign of the ±1 vote of
    * permutation-hash b over all token hashes — see
    * [[graft.functions.expressions.SimHash]] for why the raw ~30-bit token
    * hashes can't supply 64 raw bit positions. Duplicate tokens vote once
    * per occurrence (standard frequency weight).
    */
  def simhashed(docs: DataFrame, idCol: String, textCol: String, bits: Int = 64): DataFrame =
    docs
      .select(col(idCol), expr(s"graft_simhash(graft_token_hashes($textCol), $bits)").as("sh"))

  /** Banded SimHash rows for the PERSISTED near-dup index (x173): four
    * disjoint 16-bit bands of the 64-bit signature — hamming ≤ 3 flips
    * at most 3 bands (pigeonhole), so an equi-join on (band_no,
    * band_val) is a lossless candidate filter. All four bands are MASKED
    * (unlike [[simhashNearDups]]'s in-flight last band) so the stored
    * value is sign-independent and replayable by the oracle.
    */
  def simhashBanded(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simhashed(docs, idCol, textCol)
      .select(col(idCol), col("sh"),
        explode(expr("sequence(0, 3)")).as("band_no"))
      .withColumn("band_val", expr("shiftright(sh, band_no * 16) & 65535"))
      .select("band_no", "band_val", idCol, "sh")

  /** SimHash near-dup pairs over the WHOLE corpus, hamming ≤ `maxHamming`,
    * found exactly via pigeonhole banding: the `bits`-wide signature splits
    * into `maxHamming + 1` bands, so any pair within the bound must agree
    * on at least one band — candidates are the band-bucket join (one
    * equi-shuffle, never O(n²)), then verified with popcount. Lossless:
    * identical result set to the all-pairs scan, which is what the oracle
    * runs at fixture scale. At 64 bits with hamming ≤ 2 each band carries
    * ~21 bits (~2M bucket values); at 32 bits a band would hold only ~2^10
    * values, so at 10⁹ docs every bucket would go quadratic.
    *
    * The signature table is cached before the self-join: without that
    * barrier Catalyst pushes the banding projection into both join sides
    * and the pushed-down null filter besides, re-tokenizing the corpus 4×
    * (measured round 1). (id, sh) is 16 bytes/doc — cheap at any scale
    * (16 GB per 10⁹ docs spread across the cluster; swap for a checkpoint
    * path when the job graph needs cross-job reuse).
    */
  def simhashNearDups(
      docs: DataFrame,
      subset: org.apache.spark.sql.Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 4,
      bits: Int = 64): DataFrame = {
    val bands = maxHamming + 1
    val width = bits / bands // last band takes the remainder bits
    val sh = stage(simhashed(docs.where(subset), idCol, textCol, bits))
    val banded = sh
      .select(col(idCol), col("sh"), explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .withColumn("bv", expr(
        s"""CASE WHEN band < ${bands - 1}
           |THEN shiftright(sh, band * $width) & ${(1L << width) - 1}
           |ELSE shiftright(sh, ${(bands - 1) * width}) END"""
          .stripMargin.replaceAll("\n", " ")))
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicates within `subset` via banded
    * random-hyperplane LSH: each vector gets a `bands × bandBits`-plane
    * sign signature ([[SimilaritySearch.hyperplaneBucket]]); candidates are
    * pairs agreeing on at least one band (equi-shuffle on (band, value) —
    * never all-pairs), verified with the exact left-to-right-double cosine
    * ≥ `threshold`. LSH semantics: recall < 1 for marginal pairs (a true
    * near-dup at cos ≈ 0.9 survives ≥ 1 of 7 bands w.p. ~0.92); the oracle
    * replays the identical planes so the result set is deterministic.
    *
    * Scale shape: signature + norm computed once per vector (cached — the
    * staging barrier keeps Catalyst from re-inlining the bucket expression
    * into both self-join sides); candidate generation shuffles only
    * (id, band, value) rows; the vectors join back by id for verification.
    */
  def cosineNearDups(
      emb: DataFrame,
      subset: org.apache.spark.sql.Column,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.45,
      bands: Int = 7,
      bandBits: Int = 8): DataFrame = {
    val planes = bands * bandBits
    // norms precomputed per vector (not per pair); cos = dot/na/nb is the
    // same expression order as the oracle's dot/sqrt(aa)/sqrt(bb)
    val e = stage(emb.where(subset).select(col(idCol), col(vecCol),
      SimilaritySearch.norm(col(vecCol)).as("nrm"),
      SimilaritySearch.hyperplaneBucket(vecCol, planes).as("bucket")))
    val banded = e
      .select(col(idCol), col("bucket"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .select(col(idCol), col("band"),
        expr(s"shiftright(bucket, band * $bandBits) & ${(1L << bandBits) - 1}").as("bv"))
    val cands = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
        && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    // shuffle-hash: the build side carries the embedding arrays
    val byId = e.hint("shuffle_hash")
    cands
      .join(byId.select(col(idCol).as("id_a"), col(vecCol).as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(byId.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), col("nrm").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (SimilaritySearch.dot(col("v_a"), col("v_b")) / col("n_a") / col("n_b")).as("cos"))
      .where(col("cos") >= threshold)
  }
}
