package graft.queries

import graft.GraftSession
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Dedup, KMeans, Multimodal, PageRank, PrefixSum, Profile, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline extension queries (SURVEY.md §7 step 6): dedup,
  * similarity search, text analysis, multimodal plumbing, event-stream
  * analytics — each with a DuckDB oracle that replays the *identical*
  * deterministic arithmetic (base-31 polyhash mod 1e9+7, fixed LSH
  * constants, left-to-right double accumulation), so the driver's
  * hash-compare is value-exact, not rows-only.
  */
object ExtensionCatalog {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  /** DuckDB fragment: polyhash of an expression (mirrors
    * [[TextFunctions.fingerprintExpr]]).
    */
  private def dPoly(c: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($c, ''), " +
      s"ch -> ascii(ch)::BIGINT)), (acc, ch) -> (acc * 31 + ch) % $Prime)"

  /** DuckDB fragment: distinct token-3-gram shingle hashes built from the
    * pre-hashed token list `hs` (mirrors [[Dedup.minhashSignature]]'s
    * combine of per-token rolling hashes).
    */
  private val dShingles: String =
    s"""list_distinct(CASE WHEN len(hs) >= 3
       |  THEN list_transform(range(1, len(hs) - 1),
       |       i -> ((hs[i] * 31 + hs[i+1]) % $Prime * 31 + hs[i+2]) % $Prime)
       |  ELSE [] END)""".stripMargin

  /** DuckDB fragment: left-to-right double cosine (mirrors
    * [[SimilaritySearch.cosine]]).
    */
  private def dCos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($x) + 1), " +
        s"k -> $x[k]::DOUBLE * $y[k]::DOUBLE)), (acc, v) -> acc + v)"
    s"${dot(a, b)} / sqrt(${dot(a, a)}) / sqrt(${dot(b, b)})"
  }

  /** Three rounds of BPE merge induction over the frequency-weighted word
    * vocabulary (x110/x111). Every round is |V|-sized: adjacent-pair count
    * → global argmax (1-row broadcast) → left-to-right fold merge via the
    * `aggregate` HOF. Returns the three 1-row merge tables and the token
    * table AFTER all three merges. `words` is checkpointed so the corpus
    * scan isn't re-inlined into each round (the x73 lesson).
    */
  private def bpeRounds(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    bpeRoundsFromWords(t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq")))

  /** Fan a narrow scan out to the session's default parallelism before a
    * compute-heavy per-row stage (optimization guide §2.5: "input skew —
    * one huge unsplittable file ... repartition immediately after the
    * read"). A fixture-scale parquet holds ONE row group, so the scan
    * plans ONE task and every per-doc HOF kernel downstream runs on one
    * core while the rest idle (x121 measured: the whole chunk+aggregate
    * pass in a single 0.84 s task at local[32]). SCALE-ADAPTIVE: fires
    * only when the planned scan width is below the session default, so a
    * production corpus — whose scan already carries ≥ cores splits — is
    * never round-robined (the guide §8 rule: don't shuffle heavy payload
    * an extra time when the layout already spreads it). Apply ONLY above
    * order-insensitive aggregation (integer sums / counts / min / max):
    * a float SUM's accumulation order would shift with the partitioning.
    */
  private def fanOut(df: DataFrame): DataFrame =
    // ONE definition (ADVICE r18): this was a verbatim copy of
    // Layouts.fanOutScan — same body, same guide-§2.5 rationale; keeping
    // a single implementation leaves one place to fix the partition-probe
    // cost if it ever matters
    graft.sources.Layouts.fanOutScan(df)

  /** x121's content-defined chunking: (chunk hash, chunk token length) rows
    * from a documents frame — boundaries fall after tokens whose polyhash
    * ≡ 0 mod 16, chunk identity is the base-31 fold of its token hashes.
    * Per-doc array HOFs, zero shuffle; shared with
    * [[graft.tools.ScaleSmoke]]'s corpus-replication curve.
    */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    docs
      .select(expr("graft_token_hashes(text)").as("fps"))
      .select(col("fps"), size(col("fps")).as("n"))
    .select(expr(
      "transform(sequence(1, n), i -> " +
        "size(filter(slice(fps, 1, i - 1), f -> f % 16 = 0)))").as("segs"),
      col("fps"), col("n"))
    .select(explode(expr(s"""transform(sequence(0, element_at(segs, n)), s ->
        named_struct(
          'h', aggregate(filter(sequence(1, n), i -> element_at(segs, i) = s),
            CAST(0 AS BIGINT),
            (acc, i) -> (acc * 31 + element_at(fps, i)) % $Prime),
          'len', CAST(size(filter(sequence(1, n), i -> element_at(segs, i) = s))
            AS BIGINT)))""")).as("c"))
    .select(col("c.h").as("h"), col("c.len").as("len"))
  }

  /** x123's overlapping 8-token window fingerprints: one (doc_id, n, i, fp)
    * row per window start — the exact-substring duplication primitive.
    * Each token is polyhashed ONCE per doc and every window fp is the
    * base-31 fold of its 8 token hashes (the x121 chunk-identity idiom) —
    * 8 multiply-mods per window instead of re-hashing a rebuilt 8-token
    * string. Shared with [[graft.tools.ScaleSmoke]].
    */
  private[graft] def dupSpanWindows(docs: DataFrame): DataFrame = {
    // graft_window_hashes: the positional 8-token rolling-hash kernel,
    // native + codegen'd (the interpreted aggregate-over-slice HOF fold it
    // replaces was the dominant term of x123/x128 — same arithmetic,
    // identical values, one tight loop per row)
    docs
      .select(col("doc_id"), expr("graft_token_hashes(text)").as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        expr("graft_window_hashes(hs, 8)").as("wf"))
      .where(col("n") >= 8)
      .select(col("doc_id"), col("n"), posexplode(col("wf")))
      .select(col("doc_id"), col("n"), col("pos").cast("long").as("i"),
        col("col").as("fp"))
  }

  /** The rounds themselves, from any (word, freq) table — also driven by
    * [[graft.tools.ScaleSmoke]] to show the merge loop is corpus-size
    * independent once the word-count scan has run.
    */
  private[graft] def bpeRoundsFromWords(words0: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val words = words0.localCheckpoint()
    val chars = words.withColumn("toks",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    def pairCounts(tk: DataFrame): DataFrame = tk
      .where(size(col("toks")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> named_struct('a', toks[i], 'b', toks[i+1]))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))
    def top1(p: DataFrame): DataFrame =
      p.orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
    def applyMerge(tk: DataFrame, m: DataFrame): DataFrame = tk
      .crossJoin(broadcast(m.select(col("a").as("ma"), col("b").as("mb"))))
      .withColumn("toks", expr(
        "split(aggregate(slice(toks, 2, size(toks) - 1), toks[0], " +
          "(acc, x) -> CASE WHEN (acc = ma OR endswith(acc, concat('|', ma))) " +
          "AND x = mb THEN concat(acc, x) ELSE concat(acc, '|', x) END), '[|]')"))
      .drop("ma", "mb")
    // checkpoint each round's merged token table: t2 feeds BOTH the next
    // round's pair count and the t3 derivation (and t3 likewise) — left
    // lazy the per-word aggregate fold re-ran once per consumer (three
    // evaluations of the t2 fold per x110/x111 run, r18 optimization
    // round); the |V|-row barrier runs each fold exactly once
    val m1 = top1(pairCounts(chars))
    val t2 = applyMerge(chars, m1).localCheckpoint()
    val m2 = top1(pairCounts(t2))
    val t3 = applyMerge(t2, m2).localCheckpoint()
    val m3 = top1(pairCounts(t3))
    (m1, m2, m3, applyMerge(t3, m3))
  }

  /** DuckDB mirror of [[bpeRounds]]: the CTE chain `w,t1,p1,m1,…,m3,t4`
    * (same fold rule, same tie-break). Prefix with `WITH `.
    */
  private val dBpeChain: String = {
    def pairs(src: String) =
      s"""(SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(toks)),
         |      i -> {'a': toks[i], 'b': toks[i+1]})) AS p
         |    FROM $src WHERE len(toks) >= 2) GROUP BY 1, 2)""".stripMargin
    def merged(src: String, m: String) =
      s"""(SELECT word, freq, string_split(list_reduce(toks,
         |    (acc, x) -> CASE WHEN (acc = m.a OR ends_with(acc, '|' || m.a))
         |      AND x = m.b THEN acc || x ELSE acc || '|' || x END), '|') AS toks
         |  FROM $src, $m m)""".stripMargin
    s"""w AS (SELECT word, COUNT(*)::BIGINT AS freq
       |    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |    GROUP BY 1),
       |t1 AS (SELECT word, freq,
       |    list_transform(range(1, len(word) + 1), i -> word[i]) AS toks FROM w),
       |p1 AS ${pairs("t1")},
       |m1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
       |t2 AS ${merged("t1", "m1")},
       |p2 AS ${pairs("t2")},
       |m2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
       |t3 AS ${merged("t2", "m2")},
       |p3 AS ${pairs("t3")},
       |m3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
       |t4 AS ${merged("t3", "m3")}""".stripMargin
  }

  /** DuckDB mirror of [[Dedup.minhashNearDups]] (k=16, 8 bands × 2,
    * 3-gram shingles, threshold 0.5): the CTE chain
    * `base,sh,sigs,banded,cands,pairs` ending in verified (id_a, id_b,
    * jac) pairs. Prefix with `WITH ` — shared by x07 / x113 / x114.
    */
  /** DuckDB mirror of [[Dedup.minhashSignature]] + banding for table
    * `src`, CTE names suffixed `sfx` (so two sides can coexist in one
    * query — the x115 incremental shape).
    */
  private def dSigChain(src: String, sfx: String): String =
    s"""base$sfx AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
       |  FROM $src),
       |sh$sfx AS (SELECT doc_id, $dShingles AS shingles FROM base$sfx),
       |sigs$sfx AS (
       |  SELECT doc_id, shingles,
       |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
       |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
       |  FROM sh$sfx),
       |banded$sfx AS (
       |  SELECT doc_id, band,
       |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
       |  FROM sigs$sfx, range(0, 8) r(band))""".stripMargin

  private val dNearDupPairs: String =
    s"""${dSigChain("documents", "")},
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pairs AS (SELECT * FROM (
       |  SELECT c.id_a, c.id_b,
       |    len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |      / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
       |  FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
       |  WHERE jac >= 0.5)""".stripMargin

  /** The incremental-ingest ledger oracle shared VERBATIM by x115 (direct
    * existing side) and x117 (persisted-index existing side): the two
    * entries compute the same result by construction — only the plumbing
    * differs — so one definition keeps the dedup semantics (threshold,
    * band constants, status ladder) from silently diverging between them.
    */
  /** The ONE definition of the ingest-probe replay (exact-fingerprint
    * ladder → banded candidates → jaccard-verified near-dups → per-doc
    * status) — view `inc` probed against view `ex`, emitted views
    * suffixed `sfx` (`surv$sfx`, `near$sfx`, `st$sfx`). Shared by
    * x115/x117's single-stage oracle and x153's two-stage lifecycle so
    * the dedup semantics (threshold, band constants, status ladder)
    * cannot silently diverge between them.
    */
  private def dProbeStage(inc: String, ex: String, sfx: String): String =
    s"""exfp$sfx AS (SELECT DISTINCT ${dPoly("lower(trim(text))")} AS fp FROM $ex),
       |incfp$sfx AS (SELECT doc_id, ${dPoly("lower(trim(text))")} AS fp FROM $inc),
       |exdup$sfx AS (SELECT doc_id FROM incfp$sfx
       |  WHERE fp IN (SELECT fp FROM exfp$sfx)),
       |surv$sfx AS (SELECT i.* FROM $inc i
       |  WHERE i.doc_id NOT IN (SELECT doc_id FROM exdup$sfx)),
       |${dSigChain(s"surv$sfx", s"_i$sfx")},
       |${dSigChain(ex, s"_e$sfx")},
       |cands$sfx AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded_i$sfx a JOIN banded_e$sfx b
       |    ON a.band = b.band AND a.bh = b.bh),
       |near$sfx AS (SELECT DISTINCT id_a AS doc_id FROM (
       |  SELECT c.id_a,
       |    len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |      / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
       |  FROM cands$sfx c JOIN sh_i$sfx x ON c.id_a = x.doc_id
       |    JOIN sh_e$sfx y ON c.id_b = y.doc_id)
       |  WHERE jac >= 0.5),
       |st$sfx AS (SELECT i.doc_id, i.source,
       |  CASE WHEN i.doc_id IN (SELECT doc_id FROM exdup$sfx) THEN 'exact_dup'
       |       WHEN i.doc_id IN (SELECT doc_id FROM near$sfx) THEN 'near_dup'
       |       ELSE 'kept' END AS status FROM $inc i)""".stripMargin

  /** Per-source ledger summary over a `dProbeStage` status view. */
  private def dLedgerSummary(st: String): String =
    s"""SELECT source, COUNT(*)::BIGINT AS n_incoming,
       |  CAST(SUM(CASE WHEN status = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact_dropped,
       |  CAST(SUM(CASE WHEN status = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_neardup_dropped,
       |  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept
       |FROM $st GROUP BY 1 ORDER BY source""".stripMargin

  private val dIngestLedgerOracle: String =
    s"""WITH ex AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
       |inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
       |${dProbeStage("inc", "ex", "0")}
       |${dLedgerSummary("st0")}""".stripMargin

  /** x153's oracle: the three-generation ingest lifecycle replayed from
    * fixtures alone. Stage 1 = gen-1 probed against gen-0 (exact → banded
    * → verified near-dup, the dIngestLedgerOracle construction); the
    * index after the append is gen-0 ∪ stage-1 KEPT; stage 2 = gen-2
    * probed against that union. A gen-2 doc that duplicates a gen-1
    * ADMITTED doc classifies as a dup only if the append semantics hold —
    * which is the property under test.
    */
  private val dThreeGenIngestOracle: String =
    s"""WITH g0 AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
       |g1 AS (SELECT * FROM documents WHERE doc_id % 3 = 1),
       |g2 AS (SELECT * FROM documents WHERE doc_id % 3 = 2),
       |${dProbeStage("g1", "g0", "1")},
       |kept1 AS (SELECT s.* FROM surv1 s
       |  WHERE s.doc_id NOT IN (SELECT doc_id FROM near1)),
       |idx AS (SELECT * FROM g0 UNION ALL SELECT * FROM kept1),
       |${dProbeStage("g2", "idx", "2")}
       |${dLedgerSummary("st2")}""".stripMargin

  /** x158's oracle: the SAME two-stage lifecycle as
    * [[dThreeGenIngestOracle]], but emitting BOTH batches' ledgers
    * (batch 0 = gen-1 vs gen-0, batch 1 = gen-2 vs gen-0 ∪ admitted) —
    * the replay of what the streaming admit loop's batch_id-partitioned
    * ledger must contain after the stream drains.
    */
  private val dStreamAdmitOracle: String =
    s"""WITH g0 AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
       |g1 AS (SELECT * FROM documents WHERE doc_id % 3 = 1),
       |g2 AS (SELECT * FROM documents WHERE doc_id % 3 = 2),
       |${dProbeStage("g1", "g0", "1")},
       |kept1 AS (SELECT s.* FROM surv1 s
       |  WHERE s.doc_id NOT IN (SELECT doc_id FROM near1)),
       |idx AS (SELECT * FROM g0 UNION ALL SELECT * FROM kept1),
       |${dProbeStage("g2", "idx", "2")},
       |led AS (SELECT 0 AS b, source, status FROM st1
       |  UNION ALL SELECT 1 AS b, source, status FROM st2)
       |SELECT CAST(b AS BIGINT) AS batch_id, source,
       |  COUNT(*)::BIGINT AS n_incoming,
       |  CAST(SUM(CASE WHEN status = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact_dropped,
       |  CAST(SUM(CASE WHEN status = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_neardup_dropped,
       |  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept
       |FROM led GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The ONE posting-index substring-search probe, shared by x101 (the
    * write-once index) and x157 (the append+rebase-grown index) so the
    * search semantics cannot silently diverge between them — the same
    * rule dProbeStage enforces for the dedup family (review r15). Both
    * entries also share [[dPostingSearchOracle]] verbatim.
    */
  private def postingSearch(s: SparkSession, dir: String, indexDir: String): DataFrame = {
    val pat = "table part"
    val tris = (0 to pat.length - 3).map(i => pat.substring(i, i + 3)).distinct
    // resolve the manifest pointer once per read
    val cands = s.read.parquet(graft.sources.Layouts.indexRoot(indexDir)(s))
      .where(col("tri").isin(tris: _*))
      .groupBy("doc_id").agg(countDistinct("tri").as("nt"))
      .where(col("nt") === tris.size)
    cands.join(t(s, dir, "documents"), "doc_id")
      .where(col("text").contains(pat))
      .select("doc_id")
      .orderBy("doc_id")
  }

  private val dPostingSearchOracle: String =
    """WITH p AS (SELECT DISTINCT unnest(list_transform(
      |    range(1, length('table part') - 1),
      |    i -> substring('table part', i, 3))) AS tri),
      |posting AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, length(text) - 1), i -> substring(text, i, 3)))) AS tri
      |  FROM documents WHERE length(text) >= 3),
      |cand AS (SELECT doc_id FROM posting WHERE tri IN (SELECT tri FROM p)
      |  GROUP BY doc_id
      |  HAVING COUNT(DISTINCT tri) = (SELECT COUNT(*) FROM p))
      |SELECT d.doc_id FROM cand c JOIN documents d ON c.doc_id = d.doc_id
      |WHERE contains(text, 'table part') ORDER BY 1""".stripMargin

  val all: Seq[CatalogEntry] = Seq(

    CatalogEntry(
      "x01_token_stats",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          tokenCount("text").cast("long").as("n_tokens"),
          bpeTokenCount("text").cast("long").as("n_bpe_tokens"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, length(text) AS n_chars,
             |len(string_split(text, ' ')) AS n_tokens,
             |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
      "token counting: whitespace + BPE-ish regex pre-tokenizer (extension: text analysis)"),

    CatalogEntry(
      "x02_quality_score",
      (s, dir) => {
        val sig = TextFunctions.qualitySignals("text")
        t(s, dir, "documents")
          .select(col("doc_id"), sig.as("sig"))
          .select(col("doc_id"), col("sig.*"),
            TextFunctions.qualityScore(col("sig")))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
              |sig AS (
              |  SELECT doc_id,
              |    length(text)::BIGINT AS n_chars,
              |    len(toks)::BIGINT AS n_tokens,
              |    (length(text) - len(toks) + 1)::DOUBLE / len(toks) AS avg_token_len,
              |    len(list_distinct(toks))::DOUBLE / len(toks) AS type_token_ratio,
              |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
              |      / len(toks) AS stopword_ratio,
              |    length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio
              |  FROM base)
              |SELECT *, least(n_tokens::DOUBLE / 100.0, 1.0) * 0.3 + type_token_ratio * 0.4
              |  + (1.0 - abs(stopword_ratio - 0.08)) * 0.3 AS quality_score
              |FROM sig ORDER BY doc_id""".stripMargin),
      "per-document quality signals + composite score (extension: text analysis)"),

    CatalogEntry(
      "x03_lang_id",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TextFunctions.langId("text").as("pred_lang"),
          (TextFunctions.langId("text") === col("lang")).as("agrees"))
          .orderBy("doc_id"),
      Some(s"""WITH sc AS (
              |  SELECT doc_id, lang,
              |    len(list_filter(string_split(text,' '), t -> t IN ('the','and','of','is'))) AS s_en,
              |    len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','ist'))) AS s_de,
              |    len(list_filter(string_split(text,' '), t -> t IN ('le','la','et','est'))) AS s_fr,
              |    len(list_filter(string_split(text,' '), t -> t IN ('el','los','que','es'))) AS s_es
              |  FROM documents),
              |p AS (
              |  SELECT doc_id, lang,
              |    CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              |         WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
              |         WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
              |         WHEN s_es > 0 THEN 'es'
              |         ELSE 'und' END AS pred_lang
              |  FROM sc)
              |SELECT doc_id, pred_lang, pred_lang = lang AS agrees
              |FROM p ORDER BY doc_id""".stripMargin),
      "language ID via marker-word scores, argmax with fixed tie-break (extension: text analysis)"),

    CatalogEntry(
      "x04_fingerprint",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), fingerprint("text").as("fp"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${dPoly("text")} AS fp
              |FROM documents ORDER BY doc_id""".stripMargin),
      "document fingerprint: base-31 rolling hash mod 1e9+7 (extension: text analysis)"),

    CatalogEntry(
      "x05_exact_dedup",
      (s, dir) =>
        Dedup.exact(t(s, dir, "documents")).orderBy("fp"),
      Some(s"""SELECT ${dPoly("lower(trim(text))")} AS fp,
              |min(doc_id) AS keep_id, count(*) AS n_dups
              |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),
      "exact dedup: hash-groupBy on normalized-text fingerprint (extension: dedup)"),

    CatalogEntry(
      "x06_ngram_jaccard_dedup",
      (s, dir) =>
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), n = 12, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH g AS (
              |  SELECT doc_id, list_distinct(list_transform(
              |    CASE WHEN length(text) >= 12
              |      THEN list_transform(range(1, length(text) - 10), i -> text[i:i+11])
              |      ELSE [] END,
              |    s -> ${dPoly("s")})) AS grams
              |  FROM documents),
              |b AS (SELECT doc_id, grams, list_min(grams) AS block FROM g)
              |SELECT * FROM (
              |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
              |    len(list_intersect(a.grams, b2.grams))::DOUBLE
              |      / (len(a.grams) + len(b2.grams) - len(list_intersect(a.grams, b2.grams))) AS jac
              |  FROM b a JOIN b b2 ON a.block = b2.block AND a.doc_id < b2.doc_id)
              |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin),
      "char-12-gram Jaccard near-dup with min-hash blocking (extension: dedup)"),

    CatalogEntry(
      "x07_minhash_lsh_dedup",
      (s, dir) =>
        Dedup.minhashNearDups(t(s, dir, "documents"), k = 16, bands = 8,
          shingleN = 3, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH $dNearDupPairs
              |SELECT id_a, id_b, jac FROM pairs ORDER BY id_a, id_b""".stripMargin),
      "MinHash(16)+LSH(8 bands×2) near-dup, exact-Jaccard verified (extension: dedup)"),

    CatalogEntry(
      "x08_simhash_dedup",
      (s, dir) =>
        Dedup.simhashNearDups(t(s, dir, "documents"), lit(true), maxHamming = 3)
          .orderBy("id_a", "id_b"),
      // Oracle is the brute-force all-pairs scan; the Spark side's
      // pigeonhole banding is lossless, so the sets agree exactly. Bit b of
      // the 64-bit signature votes via permutation-hash b of each token
      // hash (a_b*h + c_b mod P, parity) — bit 63 assembled by adding
      // i64.min because DuckDB errors on 1 << 63.
      Some(s"""WITH th AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (
              |  SELECT doc_id,
              |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 64), b ->
              |      CASE WHEN list_reduce(list_prepend(0::BIGINT, list_transform(hs,
              |             h -> CASE WHEN ((((1 + b * 2654435761) % $Prime) * h
              |                    + ((7 + b * 40503) % $Prime)) % $Prime) % 2 = 1
              |                  THEN 1::BIGINT ELSE (-1)::BIGINT END)),
              |             (s2, v) -> s2 + v) >= 0
              |      THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
              |           ELSE (1::BIGINT << b) END
              |      ELSE 0::BIGINT END)), (acc, v) -> acc + v) AS sh
              |  FROM th)
              |SELECT * FROM (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
              |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),
      "64-bit SimHash near-dups over the full corpus via lossless pigeonhole banding, hamming ≤ 3 (extension: dedup)"),

    CatalogEntry(
      "x09_embedding_neardup",
      (s, dir) =>
        Dedup.cosineNearDups(t(s, dir, "embeddings"), lit(true), threshold = 0.40)
          .orderBy("id_a", "id_b"),
      // The oracle replays the identical 7-band × 8-plane LSH blocking and
      // exact-cosine verify — candidate generation is an equi-join on
      // (band, band-value), never all-pairs, on both engines.
      Some {
        val bucket56 = (v: String) =>
          s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 56), j ->
             |  CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1),
             |    i -> CASE WHEN (((j * 100003 + i) * 2654435761) % $Prime) % 2 = 0
             |         THEN $v[i]::DOUBLE ELSE -($v[i]::DOUBLE) END)), (s2, x) -> s2 + x) > 0
             |  THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (acc, x) -> acc + x)""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |bk AS (SELECT vec_id, ${bucket56("embedding")} AS bucket FROM e),
           |banded AS (
           |  SELECT vec_id, r.band, (bucket >> (r.band * 8)) & 255 AS bv
           |  FROM bk, range(0, 7) r(band)),
           |cands AS (
           |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id)
           |SELECT * FROM (
           |  SELECT c.id_a, c.id_b, ${dCos("x.embedding", "y.embedding")} AS cos
           |  FROM cands c JOIN e x ON c.id_a = x.vec_id JOIN e y ON c.id_b = y.vec_id)
           |WHERE cos >= 0.40 ORDER BY id_a, id_b""".stripMargin
      },
      "embedding-cosine near-dup via banded hyperplane LSH + exact verify, full table (extension: dedup)"),

    CatalogEntry(
      "x10_ann_bruteforce",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        SimilaritySearch.bruteForceTopK(
          e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10), k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""SELECT * FROM (
              |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
              |    ${dCos("q.embedding", "c.embedding")} AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
              |      ORDER BY ${dCos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
              |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q,
              |       (SELECT * FROM embeddings WHERE vec_id >= 10) c)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "brute-force cosine top-5 ANN baseline, broadcast queries (extension: similarity search)"),

    CatalogEntry(
      "x11_ann_lsh",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        SimilaritySearch.lshTopK(
          e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10), k = 5, planes = 8)
          .orderBy("query_id", "rank")
      },
      Some {
        val bucket = (v: String) =>
          s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
             |  CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1),
             |    i -> CASE WHEN (((j * 100003 + i) * 2654435761) % $Prime) % 2 = 0
             |         THEN $v[i]::DOUBLE ELSE -($v[i]::DOUBLE) END)), (s2, x) -> s2 + x) > 0
             |  THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (acc, x) -> acc + x)""".stripMargin
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
           |  ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT vec_id AS corpus_id, embedding AS cv,
           |  ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id >= 10)
           |SELECT * FROM (
           |  SELECT q.query_id, c.corpus_id, ${dCos("q.qv", "c.cv")} AS cos,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${dCos("q.qv", "c.cv")} DESC, c.corpus_id) AS rank
           |  FROM q JOIN c ON q.bucket = c.bucket)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      },
      "LSH-bucketed ANN: 8 random hyperplanes, in-bucket top-5 (extension: similarity search)"),

    CatalogEntry(
      "x12_multimodal_features",
      (s, dir) => Multimodal.featurePipeline(s, t(s, dir, "documents")),
      Some(s"""WITH f AS (SELECT doc_id, ${dPoly("text")} AS fp,
              |  octet_length(encode(text)) AS nb FROM documents)
              |SELECT doc_id, 'text/plain' AS media_type, nb::BIGINT AS n_bytes,
              |  fp AS payload_fp, 0::INT AS width, 0::INT AS height,
              |  ((fp + 0 * 40503) % 1000) / 1000.0 AS f0,
              |  ((fp + 1 * 40503) % 1000) / 1000.0 AS f1,
              |  ((fp + 2 * 40503) % 1000) / 1000.0 AS f2,
              |  ((fp + 3 * 40503) % 1000) / 1000.0 AS f3
              |FROM f ORDER BY doc_id""".stripMargin),
      "multimodal plumbing: binary payload → mapPartitions featurize with " +
        "content-sniffed codec dispatch — these text payloads take the " +
        "byte-level branch (rolling-hash fingerprint, ZERO dimensions; " +
        "nothing pretends to decode); the real BMP/WAV decode branches " +
        "are oracle-gated by x149/x148 (extension: multimodal)"),

    CatalogEntry(
      "x13_events_hourly",
      (s, dir) =>
        // ts is epoch-nano BIGINT (nanosAsLong); integer `div` keeps the
        // bucketing exact where double division would lose precision > 2^53.
        t(s, dir, "events")
          .groupBy(
            date_format(
              timestamp_seconds(expr("ts div 3600000000000") * 3600),
              "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("value_milli_sum"))
          .orderBy("hour", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             |event_type, COUNT(*) AS n,
             |CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli_sum
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
      "tumbling-hour event aggregation; sums exact via milli-unit integers (extension: events)"),

    CatalogEntry(
      "x14_events_topk_users",
      (s, dir) => {
        val perUser = t(s, dir, "events")
          .groupBy("event_type", "user_id")
          .agg(sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("value_milli").desc, col("user_id"))
        perUser
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .orderBy("event_type", "rank")
      },
      Some("""SELECT * FROM (
             |  SELECT event_type, user_id, value_milli,
             |    ROW_NUMBER() OVER (PARTITION BY event_type
             |      ORDER BY value_milli DESC, user_id) AS rank
             |  FROM (SELECT event_type, user_id,
             |          CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
             |        FROM events GROUP BY 1, 2))
             |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin),
      "top-3 users per event type by exact milli-sum, window row_number (extension: events)"),

    CatalogEntry(
      "x15_salted_agg",
      (s, dir) =>
        graft.operators.Skew.saltedSumCount(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_linenumber",
          col("l_orderkey"), buckets = 8)
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, CAST(SUM(l_linenumber) AS BIGINT) AS sum_l_linenumber, COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "salted two-stage aggregation == plain groupBy (skew mitigation for hot keys)"),

    CatalogEntry(
      "x16_sessionize",
      (s, dir) =>
        graft.streaming.EventsStream
          .sessionize(t(s, dir, "events"), gapUs = 1800L * 1000000L) // 30 min
          .orderBy("user_id", "session_id"),
      Some("""WITH g AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
             |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, tsu,
             |    CASE WHEN prev_ts IS NULL OR tsu - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
             |  FROM g),
             |sess AS (
             |  SELECT user_id, tsu,
             |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM m)
             |SELECT user_id, session_id, COUNT(*) AS n_events,
             |  MIN(tsu) AS start_us, MAX(tsu) AS end_us,
             |  MAX(tsu) - MIN(tsu) AS duration_us
             |FROM sess GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin),
      "gap-based sessionization via lag + running-sum window (extension: events/stateful)"),

    CatalogEntry(
      "x17_corpus_clean",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // stage 1: quality filter (same arithmetic x02 proves exact)
        val quality = docs
          .select(col("doc_id"), col("text"),
            TextFunctions.qualityScore(TextFunctions.qualitySignals("text")))
          .where(col("quality_score") >= 0.64)
        // stage 2: exact dedup — keep the min doc_id per fingerprint
        val withFp = quality
          .withColumn("fp", expr("graft_poly_hash(lower(trim(text)))"))
        val keepers = withFp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        // staging barrier: exactKept feeds four consumers (shingle sets ×2
        // inside minhashNearDups via its signature table, the drop list,
        // and the final anti-join) — without it every consumer re-runs the
        // quality arithmetic + fingerprint groupBy over the raw corpus
        val exactKept = withFp
          .join(keepers, Seq("fp", "doc_id"), "left_semi")
          .select("doc_id", "text")
          .cache()
        // stage 3: near-dup removal — drop the larger id of each MinHash pair
        val drops = Dedup
          .minhashNearDups(exactKept, k = 16, bands = 8, shingleN = 3, threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        exactKept
          .join(drops, Seq("doc_id"), "left_anti")
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH base0 AS (
              |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
              |scored AS (
              |  SELECT doc_id, text,
              |    least(len(toks)::DOUBLE / 100.0, 1.0) * 0.3
              |    + len(list_distinct(toks))::DOUBLE / len(toks) * 0.4
              |    + (1.0 - abs(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
              |                 / len(toks) - 0.08)) * 0.3 AS score
              |  FROM base0),
              |q AS (SELECT doc_id, text FROM scored WHERE score >= 0.64),
              |fps AS (SELECT doc_id, text, ${dPoly("lower(trim(text))")} AS fp FROM q),
              |keep AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp),
              |ek AS (SELECT f.doc_id, f.text FROM fps f
              |       JOIN keep k ON f.fp = k.fp AND f.doc_id = k.keep_id),
              |base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM ek),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT * FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5)
              |SELECT doc_id FROM ek
              |WHERE doc_id NOT IN (SELECT id_b FROM pairs)
              |ORDER BY doc_id""".stripMargin),
      "end-to-end corpus cleaning: quality filter → exact dedup → MinHash near-dup removal (extension: pipeline composition)"),

    CatalogEntry(
      "x18_ann_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        SimilaritySearch.ivfTopK(
          e.where(col("vec_id") < 10),
          e.where(col("vec_id") >= 10),
          e.where(col("vec_id") % 50 === 0),
          k = 5, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings WHERE vec_id % 50 = 0),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv FROM embeddings WHERE vec_id >= 10),
              |qs AS (SELECT vec_id AS query_id, embedding AS queryv FROM embeddings WHERE vec_id < 10),
              |lists AS (
              |  SELECT corpus_id, corpusv, cent_id FROM (
              |    SELECT c.corpus_id, c.corpusv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1),
              |probes AS (
              |  SELECT query_id, queryv, cent_id FROM (
              |    SELECT q.query_id, q.queryv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.queryv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM qs q, cent ct)
              |  WHERE r <= 2)
              |SELECT * FROM (
              |  SELECT p.query_id, l.corpus_id, ${dCos("p.queryv", "l.corpusv")} AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY p.query_id
              |      ORDER BY ${dCos("p.queryv", "l.corpusv")} DESC, l.corpus_id) AS rank
              |  FROM probes p JOIN lists l ON p.cent_id = l.cent_id)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "IVF ANN: inverted lists under seeded centroids, nprobe=2 (extension: similarity search)"),

    CatalogEntry(
      "x19_frame_sample",
      (s, dir) =>
        Multimodal.sampleFrames(
          Multimodal.asMediaTable(t(s, dir, "documents")), frameBytes = 32, stride = 2)
          .toDF().orderBy("doc_id", "frame_idx"),
      Some(s"""SELECT f.doc_id, u.i AS frame_idx, 32::BIGINT AS n_bytes,
              |  ${dPoly("f.text[u.i * 32 + 1 : u.i * 32 + 32]")} AS frame_fp
              |FROM (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents) f,
              |     UNNEST(range(0, f.nb // 32, 2)) AS u(i)
              |ORDER BY doc_id, frame_idx""".stripMargin),
      "video-shaped frame sampling: fixed-size payload chunks, every 2nd frame hashed (extension: multimodal)"),

    CatalogEntry(
      "x20_json_props",
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .where(col("k") > 50)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
            min("k").as("min_k"), max("k").as("max_k"))
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
             |CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
             |MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
             |FROM events WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      "semi-structured metadata: JSON path extraction + typed filter/agg over props (extension: events)"),

    CatalogEntry(
      "x21_source_sketch",
      (s, dir) => {
        val sigs = t(s, dir, "documents")
          .select(col("source"),
            expr("graft_shingle_hashes(graft_token_hashes(text), 3)").as("shingles"))
          .groupBy("source")
          .agg(graft.functions.MinHashSketch.sketch(col("shingles"), k = 16).as("sig"))
          // a source whose docs are all <3 tokens has no shingles → NULL
          // sketch; drop it like the oracle (whose unnest emits no rows)
          .where(col("sig").isNotNull)
        sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
            graft.functions.MinHashSketch.estimatedJaccard(col("a.sig"), col("b.sig"), 16)
              .as("est_jaccard"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH base AS (
              |  SELECT source, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT source, $dShingles AS shingles FROM base),
              |ex AS (SELECT source, unnest(shingles) AS s FROM sh),
              |sigc AS (
              |  SELECT source, r.i,
              |    min((((1 + r.i * 2654435761) % $Prime) * s + (7 + r.i * 40503)) % $Prime) AS m
              |  FROM ex, range(0, 16) r(i) GROUP BY source, r.i),
              |sigv AS (
              |  SELECT source, list(m ORDER BY i) AS sig FROM sigc GROUP BY source)
              |SELECT a.source AS source_a, b.source AS source_b,
              |  len(list_filter(range(1, 17), j -> a.sig[j] = b.sig[j]))::DOUBLE / 16 AS est_jaccard
              |FROM sigv a JOIN sigv b ON a.source < b.source
              |ORDER BY source_a, source_b""".stripMargin),
      "typed Aggregator[IN,BUF,OUT]: group-level MinHash sketch per source + pairwise estimated Jaccard (extension: dedup/sketch)"),

    CatalogEntry(
      "x22_topk_per_group",
      (s, dir) =>
        t(s, dir, "lineitem")
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("l_returnflag")
              .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))))
          .where(col("rank") <= 3)
          .select("l_returnflag", "rank", "l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy("l_returnflag", "rank"),
      Some("""SELECT l_returnflag, rank, l_orderkey, l_linenumber, l_extendedprice FROM (
             |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
             |  FROM lineitem)
             |WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin),
      "top-k per group via ranked window — Spark plans WindowGroupLimit, so each map task " +
        "keeps only k rows per group before the shuffle (extension: analytics)"),

    CatalogEntry(
      "x23_rollup",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
            max("l_extendedprice").as("max_price"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |SUM(l_quantity) AS sum_qty, MAX(l_extendedprice) AS max_price
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      "ROLLUP multi-level aggregate: detail + subtotal + grand total in one Expand pass " +
        "(extension: analytics; l_quantity is integral so the double SUM is exact)"),

    CatalogEntry(
      "x24_pivot",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val hours = t(s, dir, "events")
          .withColumn("hour", expr("(ts div 1000 div 3600000000) % 24"))
          .groupBy("hour")
          .pivot("event_type", types)
          .agg(count(lit(1)))
        types.foldLeft(hours)((df, c) =>
          df.withColumn(c, coalesce(col(c), lit(0L))))
          .orderBy("hour")
      },
      Some("""SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
             |COUNT(*) FILTER (event_type = 'click') AS click,
             |COUNT(*) FILTER (event_type = 'error') AS error,
             |COUNT(*) FILTER (event_type = 'purchase') AS purchase,
             |COUNT(*) FILTER (event_type = 'signup') AS signup,
             |COUNT(*) FILTER (event_type = 'view') AS view
             |FROM events GROUP BY 1 ORDER BY hour""".stripMargin),
      "pivot: long→wide conditional aggregation with a STATIC value list (dynamic pivot " +
        "would need a driver-side distinct pass first) (extension: analytics)"),

    CatalogEntry(
      "x25_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("tsu", expr("ts div 1000"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("tsu").as("click_us"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purch_id"), col("user_id"), col("tsu").as("purch_us"))
        // the plan-native operator (AsOfJoinNode → AsOfJoinExec, one merge
        // pass per co-partition); AsOfJoinSpec pins its equivalence to the
        // compositional union-window form in operators.AsOfJoin
        org.apache.spark.sql.graft.GraftPlans
          .asOfJoin(clicks, purchases, key = "user_id",
            leftTime = "click_us", rightTime = "purch_us",
            carry = Seq("purch_id", "purch_us"), rightTieBreak = "purch_id")
          .orderBy("click_id")
      },
      Some("""WITH c AS (
             |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
             |  FROM events WHERE event_type = 'click'),
             |p AS (
             |  SELECT event_id AS purch_id, user_id, epoch_us(ts) AS purch_us
             |  FROM events WHERE event_type = 'purchase'),
             |best AS (
             |  SELECT c.click_id, c.user_id, c.click_us, max(p.purch_us) AS asof_purch_us
             |  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.purch_us <= c.click_us
             |  GROUP BY 1, 2, 3)
             |SELECT b.click_id, b.user_id, b.click_us,
             |  (SELECT max(p2.purch_id) FROM p p2
             |   WHERE p2.user_id = b.user_id AND p2.purch_us = b.asof_purch_us) AS asof_purch_id,
             |  b.asof_purch_us
             |FROM best b ORDER BY click_id""".stripMargin),
      "as-of join (each click → the user's most recent prior purchase) via the union-window " +
        "formulation: one key shuffle, no inequality nested-loop (extension: events/temporal)"),

    CatalogEntry(
      "x26_dedup_components",
      (s, dir) => {
        val pairs = Dedup.minhashNearDups(t(s, dir, "documents"),
          k = 16, bands = 8, shingleN = 3, threshold = 0.5)
        graft.operators.Components.connectedComponents(pairs)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT id_a, id_b FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |-- transitive closure: reach(v, u) = u reachable from v
              |closure AS (
              |  WITH RECURSIVE reach(v, u) AS (
              |    SELECT src, src FROM edges
              |    UNION
              |    SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
              |  SELECT v, u FROM reach)
              |SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS rep_id
              |FROM closure GROUP BY v ORDER BY doc_id""".stripMargin),
      "connected components over near-dup pairs (min-label propagation; each round one " +
        "equi-shuffle, rounds = component diameter) (extension: dedup consolidation)"),

    CatalogEntry(
      "x27_embedding_centroids",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg(
            // nano-floored integer accumulation: float→double is exact,
            // ×1e9 and floor are bit-identical IEEE ops in both engines,
            // the i64 sum is exact and associative (partial-agg order can
            // never flip a bit), and the final double divisions are single
            // IEEE ops on identical operands. (A DECIMAL(38,12) sum is NOT
            // replayable: every double's decimal expansion terminates in 5,
            // so scale-12 rounding hits genuine ties where Spark HALF_UPs
            // and DuckDB half-evens — measured 1 tie in 640 groups.)
            ((sum(floor(col("v").cast("double") * 1e9).cast("long")).cast("double")
              / count(lit(1))) / 1e9).as("centroid"),
            count(lit(1)).as("n"))
          .orderBy("label", "pos"),
      // aligned unnest + generate_subscripts mirrors posexplode exactly and
      // tracks the fixture's dimensionality (a hardcoded range(0, 64) would
      // silently truncate/extend if the fixture changed)
      Some("""WITH ex AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             |    unnest(embedding) AS v FROM embeddings)
             |SELECT label, pos,
             |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
             |    / COUNT(*) / 1e9 AS centroid,
             |  COUNT(*) AS n
             |FROM ex GROUP BY 1, 2 ORDER BY label, pos""".stripMargin),
      "per-label embedding centroids in long (label, pos) form — the cluster-update step " +
        "IVF/k-means training runs at scale; nano-quantized integer sums make it order-free " +
        "(extension: similarity/embedding ops)"),

    CatalogEntry(
      "x28_deterministic_split",
      (s, dir) => {
        val sampled = graft.operators.Sampling.stratifiedSample(
          t(s, dir, "documents"), "doc_id", "source",
          Map("src1" -> 100, "src2" -> 50, "src3" -> 25))
        graft.operators.Sampling.split(sampled, "doc_id", trainPct = 80, valPct = 10)
          .select("doc_id", "source", "split")
          .orderBy("doc_id")
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id, source,
              |    ${dPoly("'strat:' || CAST(doc_id AS VARCHAR)")} % 100 AS bs,
              |    ${dPoly("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b
              |  FROM documents),
              |kept AS (
              |  SELECT * FROM h WHERE bs < CASE source
              |    WHEN 'src1' THEN 100 WHEN 'src2' THEN 50 WHEN 'src3' THEN 25
              |    ELSE 0 END)
              |SELECT doc_id, source,
              |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
              |FROM kept ORDER BY doc_id""".stripMargin),
      "deterministic hash-bucket stratified sampling + train/val/test split — map-side only, " +
        "stable under repartitioning and incremental ingest (extension: pipeline/sampling)"),

    CatalogEntry(
      "x29_vocab_topk",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("token"))
          .limit(100)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(desc("n"), asc("token"))))
          .orderBy("rank"),
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |cnt AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
             |SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
             |FROM cnt ORDER BY n DESC, token LIMIT 100""".stripMargin),
      "vocabulary construction: corpus-wide token counts, deterministic top-100 — the " +
        "canonical map-side-combine aggregate + TakeOrderedAndProject (never a global sort) " +
        "(extension: text analysis)"),

    CatalogEntry(
      "x30_contamination",
      (s, dir) => {
        val sp = graft.operators.Sampling
          .split(t(s, dir, "documents"), "doc_id", trainPct = 80, valPct = 10)
          .select(col("doc_id"), col("split"))
        val pairs = Dedup.minhashNearDups(t(s, dir, "documents"),
          k = 16, bands = 8, shingleN = 3, threshold = 0.5)
        pairs
          .join(sp.withColumnRenamed("doc_id", "id_a").withColumnRenamed("split", "split_a"), "id_a")
          .join(sp.withColumnRenamed("doc_id", "id_b").withColumnRenamed("split", "split_b"), "id_b")
          .where((col("split_a") === "train" && col("split_b") === "test") ||
            (col("split_a") === "test" && col("split_b") === "train"))
          .select(
            when(col("split_a") === "test", col("id_a")).otherwise(col("id_b")).as("test_doc"),
            when(col("split_a") === "test", col("id_b")).otherwise(col("id_a")).as("train_doc"),
            col("jac"))
          .orderBy("test_doc", "train_doc")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT id_a, id_b, jac FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |lab AS (
              |  SELECT doc_id,
              |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
              |  FROM (SELECT doc_id, ${dPoly("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS b FROM documents))
              |SELECT CASE WHEN la.split = 'test' THEN p.id_a ELSE p.id_b END AS test_doc,
              |  CASE WHEN la.split = 'test' THEN p.id_b ELSE p.id_a END AS train_doc, p.jac
              |FROM pairs p JOIN lab la ON p.id_a = la.doc_id JOIN lab lb ON p.id_b = lb.doc_id
              |WHERE (la.split = 'train' AND lb.split = 'test')
              |   OR (la.split = 'test' AND lb.split = 'train')
              |ORDER BY test_doc, train_doc""".stripMargin),
      "train/test contamination: near-dup pairs crossing the x28 split boundary — the " +
        "decontamination pass every eval pipeline needs (extension: pipeline composition)"),

    CatalogEntry(
      "x31_repetition_score",
      (s, dir) => {
        // size(ngram_hashes) fuses to the count-only kernel (GraftRewrites)
        t(s, dir, "documents")
          .select(col("doc_id"),
            expr("CAST(size(graft_char_ngram_hashes(text, 8)) AS BIGINT)").as("distinct_grams"),
            greatest(length(col("text")).cast("long") - 7, lit(0L)).as("total_grams"))
          .withColumn("distinct_ratio",
            when(col("total_grams") > 0,
              col("distinct_grams").cast("double") / col("total_grams")).otherwise(lit(null)))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, distinct_grams, total_grams,
              |  CASE WHEN total_grams > 0
              |    THEN distinct_grams::DOUBLE / total_grams ELSE NULL END AS distinct_ratio
              |FROM (
              |  SELECT doc_id,
              |    len(list_distinct(list_transform(
              |      CASE WHEN length(text) >= 8
              |        THEN list_transform(range(1, length(text) - 6), i -> text[i:i+7])
              |        ELSE [] END,
              |      s -> ${dPoly("s")}))) AS distinct_grams,
              |    greatest(length(text) - 7, 0) AS total_grams
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin),
      "repetition scoring: distinct/total 8-gram ratio — the degenerate-text quality signal " +
        "(boilerplate and looping generations score low) (extension: text analysis)"),

    CatalogEntry(
      "x32_audio_windows",
      (s, dir) =>
        Multimodal.audioWindows(
          Multimodal.asMediaTable(t(s, dir, "documents")), win = 256, hop = 128)
          .toDF().orderBy("doc_id", "win_idx"),
      Some("""WITH m AS (
             |  SELECT doc_id, list_transform(string_split(text, ''), ch -> ascii(ch) - 128) AS smp
             |  FROM documents),
             |w AS (
             |  SELECT doc_id, smp, u.i AS win_idx
             |  FROM m, UNNEST(range(0, CASE WHEN len(smp) >= 256
             |    THEN (len(smp) - 256) // 128 + 1 ELSE 0 END)) u(i))
             |SELECT doc_id, win_idx,
             |  sqrt(list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 257),
             |    k -> (smp[win_idx * 128 + k] * smp[win_idx * 128 + k])::BIGINT)),
             |    (a, b) -> a + b)::DOUBLE / 256) AS rms,
             |  len(list_filter(range(1, 256),
             |    k -> smp[win_idx * 128 + k] * smp[win_idx * 128 + k + 1] < 0)) AS zero_crossings
             |FROM w ORDER BY doc_id, win_idx""".stripMargin),
      "audio-shaped windowed DSP: per-window RMS + zero crossings over PCM-interpreted " +
        "payload bytes (decode stubbed; integer-exact then one sqrt) (extension: multimodal)"),

    CatalogEntry(
      "x33_percentiles",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.75)").as("p75"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "exact per-group percentiles (interpolated rank) — engine-exact here because " +
        "l_quantity is integral-valued, so the lerp arithmetic cannot diverge; the 100 TB " +
        "path swaps in approx_percentile's mergeable sketch (extension: analytics)"),

    CatalogEntry(
      "x34_histogram",
      (s, dir) =>
        t(s, dir, "lineitem")
          // fixed [0, 110000) domain, 11 bins of 10000 — floor on integral-
          // cent prices is exact in both engines
          .withColumn("bin", floor(col("l_extendedprice") / 10000).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
          .orderBy("bin"),
      Some("""SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bin,
             |COUNT(*) AS n, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
             |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin),
      "fixed-width histogram: one map-side bin expression + hash aggregate — the " +
        "distribution profile every data-quality dashboard starts from (extension: analytics)"),

    CatalogEntry(
      "x35_cube",
      (s, dir) =>
        t(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      "CUBE: all 2^k grouping sets in one Expand pass — completes the rollup/cube " +
        "multi-level aggregate family (extension: analytics)"),

    CatalogEntry(
      "x36_set_ops",
      (s, dir) => {
        // suppliers of cheap parts vs suppliers of heavy parts: INTERSECT
        // and EXCEPT are hash-dedup + co-partitioned set membership
        val li = t(s, dir, "lineitem")
        val cheap = li.where(col("l_extendedprice") < 20000).select("l_suppkey")
        val heavy = li.where(col("l_quantity") > 40).select("l_suppkey")
        cheap.intersect(heavy)
          .withColumn("op", lit("both"))
          .unionByName(cheap.except(heavy).withColumn("op", lit("cheap_only")))
          .orderBy("op", "l_suppkey")
      },
      Some("""WITH cheap AS (SELECT l_suppkey FROM lineitem WHERE l_extendedprice < 20000),
             |heavy AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 40)
             |SELECT l_suppkey, 'both' AS op FROM (SELECT * FROM cheap INTERSECT SELECT * FROM heavy)
             |UNION ALL
             |SELECT l_suppkey, 'cheap_only' AS op FROM (SELECT * FROM cheap EXCEPT SELECT * FROM heavy)
             |ORDER BY op, l_suppkey""".stripMargin),
      "set operators INTERSECT/EXCEPT (distinct semantics, one hash-shuffle each) + UNION " +
        "composition (extension: analytics / §2.6 family)"),

    CatalogEntry(
      "x37_anti_semi_subquery",
      (s, dir) => {
        // customers with orders but no high-value order: semi ∧ anti —
        // the EXISTS/NOT EXISTS pair as left_semi/left_anti joins
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val big = o.where(col("o_totalprice") > 350000).select("o_custkey")
        c.join(o.select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_semi")
          .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
             |                  AND o.o_totalprice > 350000)
             |ORDER BY c_custkey""".stripMargin),
      "EXISTS / NOT EXISTS as left_semi / left_anti equi-joins — no subquery re-execution, " +
        "one hash join each (extension: analytics / §2.5 family)"),

    CatalogEntry(
      "x38_date_parts",
      (s, dir) =>
        t(s, dir, "orders")
          .select(year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"), col("o_totalprice"))
          .groupBy("y", "m")
          .agg(count(lit(1)).as("n"),
            graft.functions.Aggregations.exactSum(col("o_totalprice")).as("sum_price"))
          .orderBy("y", "m"),
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
             |CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
             |COUNT(*) AS n,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin),
      "calendar breakdown: year/month extraction + monthly aggregate with exact money " +
        "sums (extension: analytics / §2.7 datetime family)"),

    CatalogEntry(
      "x39_token_shards",
      (s, dir) => {
        // pack the corpus into ~2000-token shards in stable doc_id order:
        // shard = exclusive-prefix-sum(tokens) div budget — the
        // distributed two-pass prefix sum, NOT a single-partition window
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokenCount("text").cast("long").as("n_tokens"))
        graft.operators.PrefixSum
          .runningTotal(docs, "doc_id", "n_tokens", "cum_tokens")
          // integral division, not double: ((a/2000.0).cast(long)) loses
          // exactness once cum_tokens exceeds 2^53 — plausible at 100 TB.
          .withColumn("shard", expr("(cum_tokens - n_tokens) div 2000"))
          .select("doc_id", "n_tokens", "cum_tokens", "shard")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
             |  CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard
             |FROM (
             |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
             |    SUM(len(string_split(text, ' '))::BIGINT)
             |      OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin),
      "token-budget sharding via distributed two-pass prefix sum (range partitions + " +
        "per-partition windows + P driver scalars) — training-batch packing without a " +
        "single-partition global window (extension: pipeline)"),

    CatalogEntry(
      "x40_interval_join",
      (s, dir) => {
        // interval-containment join: attribute each 'error' event to the
        // session window (x16 semantics) that contains it. Equi-join on
        // user_id carries the pairing; the range condition is a
        // post-filter inside the hash join, never an inequality
        // nested-loop — per-user interval lists stay small while users
        // shard freely.
        val events = t(s, dir, "events")
        val sessions = graft.streaming.EventsStream
          .sessionize(events, gapUs = 1800L * 1000000L)
          .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"))
        val errors = events.where(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsu"))
        errors.join(sessions, Seq("user_id"))
          .where(col("tsu") >= col("start_us") && col("tsu") <= col("end_us"))
          .select("event_id", "user_id", "session_id", "tsu")
          .orderBy("event_id")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
             |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, tsu,
             |    CASE WHEN prev_ts IS NULL OR tsu - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
             |  FROM g),
             |sess0 AS (
             |  SELECT user_id, tsu,
             |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM m),
             |sessions AS (
             |  SELECT user_id, session_id, MIN(tsu) AS start_us, MAX(tsu) AS end_us
             |  FROM sess0 GROUP BY user_id, session_id),
             |errors AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
             |  WHERE event_type = 'error')
             |SELECT e.event_id, e.user_id, s.session_id, e.tsu
             |FROM errors e JOIN sessions s
             |  ON e.user_id = s.user_id AND e.tsu >= s.start_us AND e.tsu <= s.end_us
             |ORDER BY e.event_id""".stripMargin),
      "interval-containment join: events attributed to their session windows — equi-join " +
        "on the key with the range as an in-join filter, no nested-loop (extension: " +
        "events/temporal)"),

    CatalogEntry(
      "x41_session_funnel",
      (s, dir) => {
        // funnel: sessions where a signup is later followed by a purchase.
        // Each session's events collapse to an ordered initial string
        // (deterministic (tsu, event_id) sort inside the aggregate), then
        // the funnel is a regex containment — sequence matching as one
        // groupBy, no self-joins per funnel step.
        val events = t(s, dir, "events")
          .withColumn("tsu", expr("ts div 1000"))
          .withColumn("initial", substring(col("event_type"), 1, 1))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("tsu", "event_id")
        val sessioned = events
          .withColumn("prev_ts", lag("tsu", 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull || col("tsu") - col("prev_ts") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum("new_session").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        sessioned
          .groupBy("user_id", "session_id")
          .agg(
            concat_ws("", expr(
              "transform(array_sort(collect_list(struct(tsu, event_id, initial))), x -> x.initial)"))
              .as("seq"),
            count(lit(1)).as("n_events"))
          .withColumn("converted", col("seq").rlike("s.*p"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
             |    substr(event_type, 1, 1) AS initial,
             |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, tsu, initial,
             |    CASE WHEN prev_ts IS NULL OR tsu - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
             |  FROM g),
             |sess AS (
             |  SELECT user_id, event_id, tsu, initial,
             |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM m),
             |seqs AS (
             |  SELECT user_id, session_id,
             |    string_agg(initial, '' ORDER BY tsu, event_id) AS seq,
             |    COUNT(*) AS n_events
             |  FROM sess GROUP BY user_id, session_id)
             |SELECT user_id, COUNT(*) AS n_sessions,
             |  CAST(SUM(CASE WHEN regexp_matches(seq, 's.*p') THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_converted
             |FROM seqs GROUP BY user_id ORDER BY user_id""".stripMargin),
      "session funnel: ordered event-sequence matching (signup then purchase) as one " +
        "aggregate + regex — no per-step self-joins (extension: events/analytics)"),

    CatalogEntry(
      "x42_tfidf",
      (s, dir) => {
        // TF-IDF with a rational idf (tf * N / df): one exactly-rounded
        // double division instead of ln(N/df) — libm log is not correctly
        // rounded, so it could differ between engines; N/df is. Monotone in
        // the classic score for fixed tf, identical ranking semantics.
        val docs = t(s, dir, "documents")
        val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
        tf.join(df, "term").crossJoin(n)
          .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select("doc_id", "rank", "term", "tf", "df", "score")
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |ranked AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |    CAST(tf.tf * n.n AS DOUBLE) / df.df AS score,
             |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |      ORDER BY CAST(tf.tf * n.n AS DOUBLE) / df.df DESC, tf.term) AS rank
             |  FROM tf, df, n WHERE tf.term = df.term)
             |SELECT doc_id, rank, term, tf, df, score FROM ranked
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
      "TF-IDF top-3 terms per document: tf shuffle on (doc, term) with map-side combine, " +
        "df as a second-level aggregate of tf (never rescans the corpus), AQE-broadcast " +
        "vocabulary join, per-doc top-k via WindowGroupLimit (extension: text analysis)"),

    CatalogEntry(
      "x43_bigram_lm",
      (s, dir) => {
        // bigram language-model counts: adjacent-token pairs via one
        // windowed lead per doc (single shuffle on doc_id), then the
        // conditional probability P(w2|w1) = n(w1,w2)/n(w1) from integer
        // counts — the KenLM-style count table a corpus LM starts from.
        val docs = t(s, dir, "documents")
        val tok = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val big = tok.withColumn("w2", lead("w1", 1).over(w))
          .where(col("w2").isNotNull)
          .groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
        val uni = big.groupBy("w1").agg(sum("n2").as("n1"))
        big.join(uni, "w1")
          .select(col("w1"), col("w2"), col("n2"),
            (col("n2").cast("double") / col("n1").cast("double")).as("p"))
          .orderBy(desc("n2"), asc("w1"), asc("w2"))
          .limit(100)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
             |bg AS (SELECT unnest(list_transform(range(1, len(lst)),
             |  i -> {'w1': lst[i], 'w2': lst[i + 1]})) AS b FROM toks),
             |big AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
             |uni AS (SELECT w1, SUM(n2) AS n1 FROM big GROUP BY 1)
             |SELECT big.w1, big.w2, big.n2, CAST(big.n2 AS DOUBLE) / CAST(uni.n1 AS DOUBLE) AS p
             |FROM big, uni WHERE big.w1 = uni.w1
             |ORDER BY big.n2 DESC, big.w1, big.w2 LIMIT 100""".stripMargin),
      "bigram LM count table with conditional probabilities — windowed lead for adjacency " +
        "(no per-position self-join), unigram totals re-aggregated from bigram counts " +
        "(extension: text analysis)"),

    CatalogEntry(
      "x44_inverted_index",
      (s, dir) => {
        // posting lists for rare bigram terms (df ≤ 5% of corpus — the
        // relative threshold keeps the entry meaningful at every sf).
        // zip_with over two slices, NOT element_at-in-lambda: CollapseProject
        // would inline the split() producer into every element access.
        val docs = t(s, dir, "documents")
        val bg = docs
          .select(col("doc_id"), split(col("text"), " ").as("lst"))
          .select(col("doc_id"), explode(expr(
            "zip_with(slice(lst, 1, size(lst) - 1), slice(lst, 2, size(lst) - 1), " +
              "(x, y) -> concat(x, '_', y))")).as("term"))
          .distinct()
        val n = docs.agg(count(lit(1)).as("n"))
        // df-filter BEFORE collecting postings: a hot term at corpus scale
        // would otherwise accumulate a multi-million-element list only to be
        // dropped by the cutoff. The surviving-term set is small → the join
        // back to pairs broadcasts.
        val rare = bg.groupBy("term").agg(count(lit(1)).as("df"))
          .crossJoin(n)
          .where(col("df") * 20 <= col("n"))
          .select("term", "df")
        bg.join(rare, "term")
          .groupBy("term")
          .agg(first("df").as("df"),
            expr("array_join(transform(slice(sort_array(collect_list(doc_id)), 1, 20), " +
              "x -> cast(x AS STRING)), ',')").as("postings"))
          .select("term", "df", "postings")
          .orderBy("term")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
             |bg AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(lst)),
             |  i -> lst[i] || '_' || lst[i + 1])) AS term FROM toks),
             |inv AS (SELECT term, COUNT(*) AS df,
             |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',') AS postings
             |  FROM bg GROUP BY term)
             |SELECT term, df, postings FROM inv
             |WHERE df * 20 <= (SELECT COUNT(*) FROM documents)
             |ORDER BY term""".stripMargin),
      "inverted index over bigram terms: distinct postings, capped sorted posting lists, " +
        "relative document-frequency cutoff — retrieval-index construction as one shuffle " +
        "on term (extension: text analysis / retrieval)"),

    CatalogEntry(
      "x45_cluster_reps",
      (s, dir) => {
        // near-dup consolidation end-game: cluster docs via MinHash pairs +
        // connected components, then keep one representative per cluster
        // (longest text, ties to smallest id) — the "which copy survives"
        // step after x26's clustering.
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDups(docs, k = 16, bands = 8, shingleN = 3, threshold = 0.5)
        val comp = graft.operators.Components.connectedComponents(pairs)
          .withColumnRenamed("rep_id", "cluster_id")
        val joined = comp.join(
          docs.select(col("doc_id").as("id"), col("n_chars")), "id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id").orderBy(desc("n_chars"), asc("id"))
        val best = joined.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("cluster_id"), col("id").as("rep_doc"), col("n_chars").as("rep_chars"))
        val sizes = comp.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        best.join(sizes, "cluster_id")
          .select("cluster_id", "cluster_size", "rep_doc", "rep_chars")
          .orderBy("cluster_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT id_a, id_b FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |closure AS (
              |  WITH RECURSIVE reach(v, u) AS (
              |    SELECT src, src FROM edges
              |    UNION
              |    SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
              |  SELECT v, u FROM reach),
              |comp AS (SELECT v AS id, CAST(min(u) AS BIGINT) AS cluster_id FROM closure GROUP BY v),
              |joined AS (
              |  SELECT c.cluster_id, c.id, d.n_chars FROM comp c JOIN documents d ON c.id = d.doc_id),
              |best AS (
              |  SELECT cluster_id, id AS rep_doc, n_chars AS rep_chars,
              |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, id) AS rn
              |  FROM joined),
              |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
              |SELECT b.cluster_id, s.cluster_size, b.rep_doc, b.rep_chars
              |FROM best b JOIN sizes s ON b.cluster_id = s.cluster_id
              |WHERE b.rn = 1 ORDER BY b.cluster_id""".stripMargin),
      "near-dup cluster representative selection: components over MinHash pairs, then one " +
        "row_number per cluster picks the survivor — the final emit step of corpus dedup " +
        "(extension: dedup consolidation)"),

    CatalogEntry(
      "x46_fuzzy_name_match",
      (s, dir) => {
        // dictionary-level fuzzy matching: edit distance runs on DISTINCT
        // names (64 here; bounded vocab at any corpus scale), never on rows.
        // Blocking on the trailing noun token makes the join an equi-join —
        // same role as an LSH band key; distance ≤ 2 edits stays within the
        // adjective at this name shape.
        val names = t(s, dir, "part")
          .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
          .withColumn("block", substring_index(col("p_name"), " ", -1))
        val a = names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"), col("block"))
        val b = names.select(col("p_name").as("name_b"), col("n_parts").as("n_b"), col("block"))
        a.join(b, Seq("block"))
          .where(col("name_a") < col("name_b") &&
            levenshtein(col("name_a"), col("name_b")) <= 2)
          .select(col("name_a"), col("name_b"),
            levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"),
            col("n_a"), col("n_b"))
          .orderBy("name_a", "name_b")
      },
      Some("""WITH names AS (
             |  SELECT p_name, COUNT(*) AS n_parts, split_part(p_name, ' ', 2) AS block
             |  FROM part GROUP BY 1),
             |m AS (
             |  SELECT a.p_name AS name_a, b.p_name AS name_b,
             |    levenshtein(a.p_name, b.p_name) AS dist,
             |    a.n_parts AS n_a, b.n_parts AS n_b
             |  FROM names a JOIN names b
             |    ON a.block = b.block AND a.p_name < b.p_name
             |    AND levenshtein(a.p_name, b.p_name) <= 2)
             |SELECT name_a, name_b, CAST(dist AS BIGINT) AS dist, n_a, n_b
             |FROM m ORDER BY name_a, name_b""".stripMargin),
      "fuzzy string matching (levenshtein ≤ 2) on the distinct-name dictionary with " +
        "suffix-token blocking — the scale-correct shape: dedupe the vocabulary, then " +
        "broadcast the mapping back to rows (extension: entity resolution)"),

    CatalogEntry(
      "x47_winsorized_stats",
      (s, dir) => {
        // two-pass robust statistics: per-group p05/p95 (exact lerp on
        // integral-valued quantities), broadcast the 3-row percentile table
        // back, clip, and aggregate with nano-floored integer sums (the
        // clipped bound can be fractional; see x27 for why DECIMAL is not
        // replayable).
        val li = t(s, dir, "lineitem")
        val pct = li.groupBy("l_returnflag").agg(
          expr("percentile(l_quantity, 0.05)").as("p05"),
          expr("percentile(l_quantity, 0.95)").as("p95"))
        li.join(pct, "l_returnflag")
          .withColumn("clipped", least(greatest(col("l_quantity"), col("p05")), col("p95")))
          .groupBy("l_returnflag", "p05", "p95")
          .agg(
            ((sum(floor(col("clipped") * 1e6).cast("long")).cast("double")
              / count(lit(1))) / 1e6).as("winsorized_mean"),
            count(lit(1)).as("n"))
          .select("l_returnflag", "p05", "p95", "winsorized_mean", "n")
          .orderBy("l_returnflag")
      },
      Some("""WITH pct AS (
             |  SELECT l_returnflag,
             |    quantile_cont(l_quantity, 0.05) AS p05,
             |    quantile_cont(l_quantity, 0.95) AS p95
             |  FROM lineitem GROUP BY 1)
             |SELECT l.l_returnflag, p.p05, p.p95,
             |  CAST(SUM(CAST(floor(least(greatest(l.l_quantity, p.p05), p.p95) * 1e6) AS BIGINT)) AS DOUBLE)
             |    / COUNT(*) / 1e6 AS winsorized_mean,
             |  COUNT(*) AS n
             |FROM lineitem l JOIN pct p ON l.l_returnflag = p.l_returnflag
             |GROUP BY 1, p.p05, p.p95 ORDER BY 1""".stripMargin),
      "winsorized mean: percentile pass + broadcast clip-bounds join + one aggregate — " +
        "outlier-robust column profiling in two scans, no sort of the fact table " +
        "(extension: analytics / data quality)"),

    CatalogEntry(
      "x48_group_regression",
      (s, dir) => {
        // per-group least squares from a single pass of integer partial
        // aggregates: all five sums are exact BIGINTs, so partial-agg order
        // cannot perturb them; slope/intercept are then a fixed chain of
        // IEEE double ops on identical operands in both engines. (At 100 TB
        // the i64 products need a decimal widen; fixture domains keep them
        // far from overflow.)
        val li = t(s, dir, "lineitem")
        val x = col("l_linenumber").cast("long")
        val y = col("l_quantity").cast("long")
        val sums = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        sums.select(col("l_returnflag"), col("n"), slope.as("slope"),
            ((col("sy").cast("double") - slope * col("sx").cast("double"))
              / col("n").cast("double")).as("intercept"))
          .orderBy("l_returnflag")
      },
      Some("""WITH s AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    SUM(CAST(l_linenumber AS BIGINT)) AS sx,
             |    SUM(CAST(l_quantity AS BIGINT)) AS sy,
             |    SUM(CAST(l_linenumber AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxy,
             |    SUM(CAST(l_linenumber AS BIGINT) * CAST(l_linenumber AS BIGINT)) AS sxx
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, n,
             |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             |  (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
             |     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS intercept
             |FROM s ORDER BY 1""".stripMargin),
      "group-wise linear regression (slope + intercept) from one pass of exact integer " +
        "moment sums — the mergeable-statistics pattern every distributed ML-lite " +
        "aggregation uses (extension: analytics)"),

    CatalogEntry(
      "x49_minhash_estimate",
      (s, dir) => {
        // sketch-quality measurement: for every LSH candidate pair, the
        // MinHash positional-match estimate of Jaccard vs the exact value —
        // the calibration readout that justifies a 16-perm sketch before
        // relying on it at corpus scale.
        val docs = t(s, dir, "documents")
        val sigs = Dedup.minhashSignature(docs, k = 16, shingleN = 3)
        val cands = Dedup.lshCandidates(sigs, "doc_id", bands = 8, rowsPerBand = 2)
        val a = sigs.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"), col("sig").as("sig_a"))
        val b = sigs.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"), col("sig").as("sig_b"))
        cands.join(a, "id_a").join(b, "id_b")
          .select(col("id_a"), col("id_b"),
            (expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))").cast("double")
              / 16.0).as("est_jac"),
            expr("graft_intersect_size(sh_a, sh_b)").as("inter"),
            size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
          .select(col("id_a"), col("id_b"), col("est_jac"),
            (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jac"))
          .withColumn("abs_err", abs(col("est_jac") - col("jac")))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT c.id_a, c.id_b,
              |    CAST(len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) AS DOUBLE) / 16.0 AS est_jac,
              |    CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
              |      / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |  FROM cands c JOIN sigs x ON c.id_a = x.doc_id JOIN sigs y ON c.id_b = y.doc_id)
              |SELECT id_a, id_b, est_jac, jac, abs(est_jac - jac) AS abs_err
              |FROM pairs ORDER BY id_a, id_b""".stripMargin),
      "MinHash sketch calibration: positional-match Jaccard estimate vs exact, per LSH " +
        "candidate pair — measures the sketch before the pipeline trusts it " +
        "(extension: dedup / sketch quality)"),

    CatalogEntry(
      "x50_doc_chunks",
      (s, dir) => {
        // training-sample chunking: fixed 40-token windows with stride 30
        // (overlap 10) — the doc→sample explode every pretraining pipeline
        // runs. Narrow (no shuffle): sequence+explode+slice per row, so it
        // scales with output size only; the final ORDER BY is oracle-imposed.
        val docs = t(s, dir, "documents")
        docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n", size(col("toks")).cast("long"))
          .withColumn("n_chunks",
            when(col("n") <= 40, lit(1L))
              .otherwise(lit(1L) + expr("(n - 40 + 29) div 30")))
          .withColumn("chunk_id", explode(sequence(lit(0L), col("n_chunks") - 1)))
          .withColumn("start_tok", col("chunk_id") * 30)
          .withColumn("end_tok", least(col("start_tok") + 40, col("n")))
          .withColumn("chunk_text", array_join(
            slice(col("toks"), (col("start_tok") + 1).cast("int"),
              (col("end_tok") - col("start_tok")).cast("int")), " "))
          .select("doc_id", "chunk_id", "start_tok", "end_tok", "chunk_text")
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
             |c AS (SELECT doc_id, toks, n,
             |  CASE WHEN n <= 40 THEN 1 ELSE 1 + (n - 40 + 29) // 30 END AS n_chunks FROM tok),
             |e AS (SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS chunk_id FROM c)
             |SELECT doc_id, chunk_id, chunk_id * 30 AS start_tok,
             |  least(chunk_id * 30 + 40, n) AS end_tok,
             |  array_to_string(toks[chunk_id * 30 + 1 : least(chunk_id * 30 + 40, n)], ' ') AS chunk_text
             |FROM e ORDER BY doc_id, chunk_id""".stripMargin),
      "fixed-window token chunking with overlap (40/stride 30): sequence+explode+slice, " +
        "zero shuffles — the doc-to-training-sample splitter (extension: text pipeline)"),

    CatalogEntry(
      "x51_trailing_window",
      (s, dir) => {
        // per-event trailing-1h activity (count + exact milli-sum) per user:
        // a RANGE frame on the event-time axis — rate limiting / burst
        // features. One shuffle on user_id; frames evaluated by a single
        // ordered pass per partition. ts is epoch-nano BIGINT (nanosAsLong);
        // computed at µs so the oracle's µs-truncated timestamps agree.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("tsu")
          .rangeBetween(-3600000000L, org.apache.spark.sql.expressions.Window.currentRow)
        t(s, dir, "events")
          .withColumn("tsu", expr("ts div 1000"))
          .withColumn("vm", floor(col("value") * 1000).cast("long"))
          .select(col("event_id"), col("user_id"), col("tsu"),
            count(lit(1)).over(w).as("n_1h"),
            sum("vm").over(w).as("vm_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS tsu,
             |  COUNT(*) OVER w AS n_1h,
             |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) OVER w AS BIGINT) AS vm_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin),
      "trailing 1-hour per-user event features via RANGE frame on event time — " +
        "burst/rate features with one shuffle and a single ordered pass per user " +
        "(extension: events / feature engineering)"),

    CatalogEntry(
      "x52_bm25",
      (s, dir) => {
        // BM25 (k1=1.2, b=0.75) top-10 docs per query term. The idf uses the
        // rational Robertson form ((N-df+0.5)/(df+0.5)) WITHOUT the log —
        // libm log is not correctly rounded so it could differ across
        // engines; the rational form is monotone in it, so rankings are
        // identical. Per-(term,doc) scores only — no cross-term float sum,
        // whose accumulation order a groupBy cannot pin.
        val docs = t(s, dir, "documents")
        val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val tf = tok.where(col("term").isin("spark", "table", "join"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("total"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("term").orderBy(desc("score"), asc("doc_id"))
        tf.join(dfreq, "term").join(dl, "doc_id").crossJoin(stats)
          .withColumn("avgdl", col("total").cast("double") / col("n"))
          .withColumn("idf", ((col("n") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)))
          .withColumn("score", col("idf") * ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
          .select("term", "rank", "doc_id", "tf", "dl", "score")
          .orderBy("term", "rank")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
             |       WHERE term IN ('spark', 'table', 'join') GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
             |scored AS (
             |  -- ::DOUBLE on every literal: a bare 2.2 is DECIMAL in DuckDB
             |  -- (exact decimal arithmetic), while Spark does IEEE double
             |  SELECT tf.term, tf.doc_id, tf.tf, dl.dl,
             |    (((st.n - df.df) + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
             |      ((tf.tf * 2.2::DOUBLE) / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE *
             |        (CAST(dl.dl AS DOUBLE) / (CAST(st.total AS DOUBLE) / st.n))))) AS score
             |  FROM tf, df, dl, st WHERE tf.term = df.term AND tf.doc_id = dl.doc_id),
             |ranked AS (SELECT term, doc_id, tf, dl, score,
             |  ROW_NUMBER() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rank
             |  FROM scored)
             |SELECT term, rank, doc_id, tf, dl, score FROM ranked
             |WHERE rank <= 10 ORDER BY term, rank""".stripMargin),
      "BM25 top-10 per query term (rational idf, no cross-term float sum): tf filter " +
        "pushed to the term explode, doc-length table reused, AQE-broadcast joins " +
        "(extension: retrieval)"),

    CatalogEntry(
      "x53_pmi_collocations",
      (s, dir) => {
        // pointwise mutual information, rational form: n_ab*N / (n_a*n_b) is
        // monotone in PMI = log of it, so the top-100 ranking is identical
        // and no non-reproducible libm log enters the result. Products stay
        // in BIGINT (n_ab*N < 2^53 up to ~10^8-token shards; beyond that,
        // compute per-shard and merge counts first).
        val docs = t(s, dir, "documents")
        val tok = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val uni = tok.groupBy("w").agg(count(lit(1)).as("n1"))
        val total = uni.agg(sum("n1").as("n_tok"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val big = tok.withColumn("wb", lead("w", 1).over(win))
          .where(col("wb").isNotNull)
          .groupBy(col("w").as("w1"), col("wb").as("w2"))
          .agg(count(lit(1)).as("n_ab"))
          .where(col("n_ab") >= 3)
        big
          .join(uni.select(col("w").as("w1"), col("n1").as("n_a")), "w1")
          .join(uni.select(col("w").as("w2"), col("n1").as("n_b")), "w2")
          .crossJoin(total)
          .withColumn("pmi_ratio",
            (col("n_ab") * col("n_tok")).cast("double") / (col("n_a") * col("n_b")).cast("double"))
          .select("w1", "w2", "n_ab", "n_a", "n_b", "pmi_ratio")
          .orderBy(desc("pmi_ratio"), asc("w1"), asc("w2"))
          .limit(100)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
             |tok AS (SELECT doc_id, unnest(lst) AS w FROM toks),
             |uni AS (SELECT w, COUNT(*) AS n1 FROM tok GROUP BY 1),
             |tot AS (SELECT SUM(n1) AS n_tok FROM uni),
             |bg AS (SELECT unnest(list_transform(range(1, len(lst)),
             |  i -> {'w1': lst[i], 'w2': lst[i + 1]})) AS b FROM toks),
             |big AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_ab FROM bg
             |        GROUP BY 1, 2 HAVING COUNT(*) >= 3)
             |SELECT big.w1, big.w2, big.n_ab, a.n1 AS n_a, b.n1 AS n_b,
             |  CAST(big.n_ab * tot.n_tok AS DOUBLE) / CAST(a.n1 * b.n1 AS DOUBLE) AS pmi_ratio
             |FROM big, uni a, uni b, tot WHERE big.w1 = a.w AND big.w2 = b.w
             |ORDER BY pmi_ratio DESC, big.w1, big.w2 LIMIT 100""".stripMargin),
      "PMI collocation mining (rational, log-free): bigram counts from one windowed lead, " +
        "two broadcast joins against the unigram table, exact integer products " +
        "(extension: text analysis)"),

    CatalogEntry(
      "x54_zscore_outliers",
      (s, dir) => {
        // top-20 per-type z-score outliers. Mean/σ are derived from EXACT
        // integer moments (count, Σvm, Σvm²) so partial-aggregation order
        // can never flip a bit; the float ops that remain (two divisions, a
        // sqrt, one subtraction) mirror the oracle's tree node for node.
        val ev = t(s, dir, "events")
          .withColumn("vm", floor(col("value") * 1000).cast("long"))
        val st = ev.groupBy("event_type").agg(
          count(lit(1)).as("cnt"), sum("vm").as("s1"),
          sum(expr("vm * vm")).as("s2"))
        // zero-variance guard: a constant group gives z = 0/0, which is NaN
        // in Spark (sorts FIRST under abs desc) but NULL/err in DuckDB; and a
        // cancellation-negative variance would make DuckDB's sqrt raise.
        // greatest(...,0) + sd > 0 — sd is bit-identical in both engines
        // (same IEEE tree on exact integer moments), so the filter agrees.
        ev.join(st, "event_type")
          .withColumn("mean", col("s1").cast("double") / col("cnt"))
          .withColumn("sd", sqrt(greatest(
            (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("cnt"))
              / col("cnt"), lit(0.0))))
          .where(col("sd") > 0)
          .withColumn("z", (col("vm") - col("mean")) / col("sd"))
          .select("event_id", "event_type", "vm", "z")
          .orderBy(abs(col("z")).desc, col("event_id"))
          .limit(20)
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
             |    CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
             |st AS (SELECT event_type, COUNT(*) AS cnt,
             |    CAST(SUM(vm) AS BIGINT) AS s1, CAST(SUM(vm * vm) AS BIGINT) AS s2
             |  FROM ev GROUP BY 1),
             |zs AS (SELECT ev.event_id, ev.event_type, ev.vm,
             |    CAST(st.s1 AS DOUBLE) / st.cnt AS mean,
             |    sqrt(greatest((CAST(st.s2 AS DOUBLE) - CAST(st.s1 AS DOUBLE) * st.s1 / st.cnt) / st.cnt, 0.0)) AS sd
             |  FROM ev JOIN st ON ev.event_type = st.event_type),
             |z AS (SELECT event_id, event_type, vm, (vm - mean) / sd AS z
             |  FROM zs WHERE sd > 0)
             |SELECT event_id, event_type, vm, z FROM z
             |ORDER BY abs(z) DESC, event_id LIMIT 20""".stripMargin),
      "per-group z-score outlier detection from exact integer moments (cnt, Σx, Σx²): one " +
        "aggregate + AQE-broadcast join back, TakeOrdered top-20 — no second scan, no " +
        "order-sensitive float accumulation (extension: data quality / anomaly)"),

    CatalogEntry(
      "x55_embedding_quantize",
      (s, dir) => {
        // int8-style scalar quantization per vector: q_i = round((x_i-mn)
        // *255/(mx-mn)); emits the integer checksum and the max absolute
        // reconstruction error. Elementwise HOFs here (500-5k vectors); the
        // 100 TB path compiles the same lambda into a native expression the
        // way DotProduct does (graft.functions.expressions).
        t(s, dir, "embeddings")
          .withColumn("mn", expr("CAST(array_min(embedding) AS DOUBLE)"))
          .withColumn("mx", expr("CAST(array_max(embedding) AS DOUBLE)"))
          .withColumn("sc", col("mx") - col("mn"))
          .where(col("sc") > 0)
          .withColumn("q", expr(
            "transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) - mn) * CAST(255.0 AS DOUBLE) / sc) AS BIGINT))"))
          .withColumn("q_sum", expr("aggregate(q, CAST(0 AS BIGINT), (a, b) -> a + b)"))
          .withColumn("max_err", expr(
            "array_max(zip_with(embedding, q, (x, qi) -> abs(CAST(x AS DOUBLE) - (mn + qi * sc / CAST(255.0 AS DOUBLE)))))"))
          .select("vec_id", "mn", "mx", "q_sum", "max_err")
          .orderBy("vec_id")
      },
      Some("""WITH base AS (SELECT vec_id, embedding,
             |    CAST(list_min(embedding) AS DOUBLE) AS mn,
             |    CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings),
             |q AS (SELECT vec_id, embedding, mn, mx, mx - mn AS sc,
             |    list_transform(embedding,
             |      x -> CAST(round((CAST(x AS DOUBLE) - mn) * 255.0::DOUBLE / (mx - mn)) AS BIGINT)) AS ql
             |  FROM base WHERE mx - mn > 0)
             |SELECT vec_id, mn, mx,
             |  CAST(list_aggregate(ql, 'sum') AS BIGINT) AS q_sum,
             |  list_max(list_transform(range(1, len(embedding) + 1),
             |    i -> abs(CAST(embedding[i] AS DOUBLE) - (mn + ql[i] * (mx - mn) / 255.0::DOUBLE)))) AS max_err
             |FROM q ORDER BY vec_id""".stripMargin),
      "per-vector int8 scalar quantization with reconstruction-error audit: elementwise " +
        "transform/zip_with, zero shuffles; round() is half-away-from-zero in both engines " +
        "on the non-negative domain (extension: embeddings / compression)"),

    CatalogEntry(
      "x56_quality_band_filter",
      (s, dir) => {
        // Gopher-style length-band filtering: drop docs outside the corpus
        // [P05, P95] token-count band, report survivors per (lang, source).
        // Exact percentile is fine here (integral values → engine-exact
        // lerp, see x33); the 100 TB path swaps in approx_percentile's
        // mergeable sketch and broadcasts the two bounds exactly as here.
        val docs = t(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        val bounds = docs.agg(
          expr("percentile(n_tokens, CAST(0.05 AS DOUBLE))").as("lo"),
          expr("percentile(n_tokens, CAST(0.95 AS DOUBLE))").as("hi"))
        docs.crossJoin(broadcast(bounds))
          .where(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
          .orderBy("lang", "source")
      },
      Some("""WITH d AS (SELECT lang, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
             |b AS (SELECT quantile_cont(n_tokens, 0.05::DOUBLE) AS lo,
             |             quantile_cont(n_tokens, 0.95::DOUBLE) AS hi FROM d)
             |SELECT lang, source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
             |FROM d, b WHERE n_tokens >= lo AND n_tokens <= hi
             |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin),
      "percentile-band corpus filter (Gopher-style): one stats pass computes the [P05,P95] " +
        "band, broadcast back over the scan — two passes total, no wide shuffle " +
        "(extension: data quality)"),

    CatalogEntry(
      "x57_centroid_outliers",
      (s, dir) => {
        // embedding outlier mining: squared L2 distance to the own-label
        // centroid, top-20 farthest. Centroids use x27's nano-floored
        // integer accumulation (order-free exact), the distance folds
        // left-to-right in double — both replayable by the oracle.
        val emb = t(s, dir, "embeddings")
        val cen = emb
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg(((sum(floor(col("v").cast("double") * 1e9).cast("long")).cast("double")
            / count(lit(1))) / 1e9).as("c"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cen"))
        emb.join(broadcast(cen), "label")
          .withColumn("d2", expr(
            "aggregate(zip_with(embedding, cen, (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), " +
              "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"))
          .select("vec_id", "label", "d2")
          .orderBy(desc("d2"), asc("vec_id"))
          .limit(20)
      },
      Some("""WITH ex AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             |    unnest(embedding) AS v FROM embeddings),
             |cl AS (SELECT label, pos,
             |    CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
             |      / COUNT(*) / 1e9 AS c
             |  FROM ex GROUP BY 1, 2),
             |cen AS (SELECT label, list(c ORDER BY pos) AS cen FROM cl GROUP BY label),
             |d AS (SELECT e.vec_id, e.label,
             |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
             |      i -> (CAST(e.embedding[i] AS DOUBLE) - cen.cen[i]) * (CAST(e.embedding[i] AS DOUBLE) - cen.cen[i]))),
             |      (a, v) -> a + v) AS d2
             |  FROM embeddings e JOIN cen ON e.label = cen.label)
             |SELECT vec_id, label, d2 FROM d ORDER BY d2 DESC, vec_id LIMIT 20""".stripMargin),
      "distance-to-own-centroid outlier detection: broadcast the tiny centroid table, " +
        "map-side fold per vector, TakeOrdered top-20 — the mislabeled-embedding sweep " +
        "before training (extension: embeddings / data quality)"),

    CatalogEntry(
      "x58_incremental_dedup",
      (s, dir) => {
        // ingest-time dedup: the 'new batch' (doc_id % 10 = 0) is admitted
        // only if no near-dup (MinHash candidate + exact Jaccard ≥ 0.5)
        // exists against the standing corpus. Reuses the x07 pipeline and
        // keeps only cross-set pairs; the left_anti join is the admission
        // gate a streaming ingest would run per micro-batch.
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDups(docs, k = 16, bands = 8, shingleN = 3, threshold = 0.5)
        val dupNew = pairs
          .where((col("id_a") % 10 === 0) =!= (col("id_b") % 10 === 0))
          .select(when(col("id_a") % 10 === 0, col("id_a")).otherwise(col("id_b")).as("doc_id"))
          .distinct()
        docs.where(col("doc_id") % 10 === 0)
          .join(dupNew, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT id_a, id_b FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |dup_new AS (
              |  SELECT DISTINCT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS doc_id
              |  FROM pairs WHERE (id_a % 10 = 0) <> (id_b % 10 = 0))
              |SELECT doc_id, lang, source FROM documents
              |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup_new)
              |ORDER BY doc_id""".stripMargin),
      "incremental batch-vs-corpus dedup: x07's LSH restricted to cross-set candidate " +
        "pairs, left_anti admission gate — the per-micro-batch ingest check " +
        "(extension: dedup / ingest)"),

    CatalogEntry(
      "x59_rank_fusion",
      (s, dir) => {
        // reciprocal-rank fusion of two retrieval systems (cosine and L2)
        // for one query vector: rrf = Σ 1/(60+rank) over the systems' top-50
        // lists. Global ranks are safe to take from orderBy().limit(50) —
        // TakeOrdered is distributed; the 50-row window that numbers them is
        // a no-op partition. No libm, only exactly-rounded divisions.
        val emb = t(s, dir, "embeddings")
        val q = broadcast(emb.where(col("vec_id") === 0).select(col("embedding").as("qv")))
        val scored = emb.where(col("vec_id") =!= 0).crossJoin(q)
          .select(col("vec_id"),
            SimilaritySearch.cosine(col("embedding"), col("qv")).as("cos"),
            expr("aggregate(zip_with(embedding, qv, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (a, v) -> a + v)").as("d2"))
        val wc = org.apache.spark.sql.expressions.Window.orderBy(desc("cos"), asc("vec_id"))
        val wl = org.apache.spark.sql.expressions.Window.orderBy(asc("d2"), asc("vec_id"))
        val topc = scored.orderBy(desc("cos"), asc("vec_id")).limit(50)
          .withColumn("r_cos", row_number().over(wc)).select("vec_id", "r_cos")
        val topl = scored.orderBy(asc("d2"), asc("vec_id")).limit(50)
          .withColumn("r_l2", row_number().over(wl)).select("vec_id", "r_l2")
        topc.join(topl, Seq("vec_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("r_cos")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("r_l2")), lit(0.0)))
          .orderBy(desc("rrf"), asc("vec_id"))
          .limit(10)
          .select("vec_id", "r_cos", "r_l2", "rrf")
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              |sc AS (SELECT e.vec_id, ${dCos("e.embedding", "q.qv")} AS cos,
              |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len(e.embedding) + 1),
              |      i -> (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE) * (e.embedding[i]::DOUBLE - q.qv[i]::DOUBLE))),
              |      (a, v) -> a + v) AS d2
              |  FROM embeddings e, q WHERE e.vec_id <> 0),
              |tc AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_cos
              |       FROM sc ORDER BY cos DESC, vec_id LIMIT 50),
              |tl AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY d2, vec_id) AS r_l2
              |       FROM sc ORDER BY d2, vec_id LIMIT 50)
              |SELECT COALESCE(tc.vec_id, tl.vec_id) AS vec_id, tc.r_cos, tl.r_l2,
              |  COALESCE(1.0::DOUBLE / (60 + tc.r_cos), 0.0::DOUBLE)
              |    + COALESCE(1.0::DOUBLE / (60 + tl.r_l2), 0.0::DOUBLE) AS rrf
              |FROM tc FULL OUTER JOIN tl ON tc.vec_id = tl.vec_id
              |ORDER BY rrf DESC, COALESCE(tc.vec_id, tl.vec_id) LIMIT 10""".stripMargin),
      "reciprocal-rank fusion of cosine and L2 retrieval lists: two TakeOrdered top-50s, " +
        "full-outer merge, rational 1/(60+rank) scores — the multi-retriever ensembling " +
        "step of RAG pipelines (extension: retrieval)"),

    CatalogEntry(
      "x60_shingle_novelty",
      (s, dir) => {
        // per-document novelty: the fraction of a doc's distinct 3-shingles
        // whose global FIRST occurrence (min doc_id) is this doc — the
        // "how much of this is new text" signal dedup pipelines use to rank
        // crawl snapshots. Two shuffles: one on shingle hash (min is
        // map-side combinable, so a popular shingle costs one long per
        // partition, not a hot reducer), one back on doc_id. Docs with < 3
        // tokens have no shingles and drop out — same on both sides.
        val sh = t(s, dir, "documents").select(col("doc_id"),
          explode(expr("graft_shingle_hashes(graft_token_hashes(text), 3)")).as("sh"))
        val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
        sh.join(first, "sh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty", col("n_novel").cast("double") / col("n_shingles"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, unnest($dShingles) AS sh FROM base),
              |fst AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
              |agg AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
              |    CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
              |  FROM sh s JOIN fst f ON s.sh = f.sh GROUP BY 1)
              |SELECT doc_id, n_shingles, n_novel,
              |  CAST(n_novel AS DOUBLE) / n_shingles AS novelty
              |FROM agg ORDER BY doc_id""".stripMargin),
      "first-occurrence novelty scoring: min(doc_id) per shingle hash, joined back — " +
        "ranks crawl snapshots by fresh content; both aggregations map-side combinable " +
        "(extension: dedup / text analysis)"),

    CatalogEntry(
      "x61_skyline",
      (s, dir) => {
        // pareto frontier of users over (event count, exact milli-value sum)
        // — "most active AND highest value" without a fixed weighting.
        // Skyline is distributive: a locally-dominated point is globally
        // dominated, so a per-bucket pass (16-way, windowed cummax) prunes
        // to a handful of candidates and only THOSE cross the single global
        // window — the unpartitioned pass never sees the full table.
        // Exactly-tied points keep the lowest user_id (both engines run the
        // identical window rule, so the tie semantics agree).
        val W = org.apache.spark.sql.expressions.Window
        val ua = t(s, dir, "events")
          .withColumn("vm", floor(col("value") * 1000).cast("long"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("vm").as("vm_sum"))
        val wLocal = W.partitionBy("b")
          .orderBy(desc("n_events"), desc("vm_sum"), asc("user_id"))
          .rowsBetween(W.unboundedPreceding, -1)
        val wGlobal = W.orderBy(desc("n_events"), desc("vm_sum"), asc("user_id"))
          .rowsBetween(W.unboundedPreceding, -1)
        ua.withColumn("b", pmod(col("user_id"), lit(16)))
          .withColumn("pm", max("vm_sum").over(wLocal))
          .where(col("pm").isNull || col("vm_sum") > col("pm"))
          .withColumn("pm2", max("vm_sum").over(wGlobal))
          .where(col("pm2").isNull || col("vm_sum") > col("pm2"))
          .select("user_id", "n_events", "vm_sum")
          .orderBy(desc("n_events"), asc("user_id"))
      },
      Some("""WITH ua AS (SELECT user_id, COUNT(*) AS n_events,
             |    CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS vm_sum
             |  FROM events GROUP BY 1),
             |f AS (SELECT user_id, n_events, vm_sum,
             |    MAX(vm_sum) OVER (ORDER BY n_events DESC, vm_sum DESC, user_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |  FROM ua)
             |SELECT user_id, n_events, vm_sum FROM f
             |WHERE pm IS NULL OR vm_sum > pm
             |ORDER BY n_events DESC, user_id""".stripMargin),
      "2-D skyline (pareto frontier) via sorted cummax: bucketed local pass prunes, " +
        "global pass only sees survivors — non-dominated user cohort selection " +
        "(extension: events / analytics)"),

    CatalogEntry(
      "x62_scd2_history",
      (s, dir) => {
        // event-sourced SCD2 dimension build: collapse each user's event
        // stream into runs of consecutive equal event_type, emitting
        // (version, valid_from, valid_to) intervals — valid_to is NULL for
        // the open current run. All windows partition by user_id: one
        // shuffle, per-user ordered passes, no global sort anywhere.
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("user_id").orderBy("tsu", "event_id")
        val runs = t(s, dir, "events")
          .withColumn("tsu", expr("ts div 1000"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .withColumn("chg",
            when(col("prev").isNull || col("prev") =!= col("event_type"), 1L).otherwise(0L))
          .withColumn("version",
            sum("chg").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
          .groupBy("user_id", "version")
          .agg(min("event_type").as("event_type"), // constant within a run
            min("tsu").as("valid_from"), count(lit(1)).as("n_events"))
        runs
          .withColumn("valid_to",
            lead("valid_from", 1).over(W.partitionBy("user_id").orderBy("version")))
          .select("user_id", "version", "event_type", "valid_from", "valid_to", "n_events")
          .orderBy("user_id", "version")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
             |  FROM events),
             |m AS (SELECT *, LAG(event_type) OVER
             |    (PARTITION BY user_id ORDER BY tsu, event_id) AS prev FROM ev),
             |g AS (SELECT *, CAST(SUM(CASE WHEN prev IS NULL OR prev <> event_type
             |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
             |  FROM m),
             |runs AS (SELECT user_id, version, MIN(event_type) AS event_type,
             |    MIN(tsu) AS valid_from, COUNT(*) AS n_events
             |  FROM g GROUP BY 1, 2)
             |SELECT user_id, version, event_type, valid_from,
             |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
             |  n_events
             |FROM runs ORDER BY user_id, version""".stripMargin),
      "SCD2 validity intervals from an event stream: run-numbering via windowed change " +
        "flags, lead() closes each interval — the dimension-snapshot builder, one shuffle " +
        "(extension: events / ETL)"),

    CatalogEntry(
      "x63_hot_keys",
      (s, dir) => {
        // join-key skew report: top-20 hottest l_suppkey values with their
        // share of rows and skew factor (cnt / mean-cnt). The operational
        // pre-check before a big join — a skew factor ≫ 1 is the signal to
        // salt or AQE-split that key. One map-side-combinable count, a
        // 1-row stats broadcast, TakeOrdered 20.
        val c = t(s, dir, "lineitem").groupBy("l_suppkey")
          .agg(count(lit(1)).as("cnt"))
        val st = c.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
        c.crossJoin(st)
          .withColumn("share", col("cnt").cast("double") / col("total"))
          .withColumn("skew", col("cnt").cast("double") * col("n_keys") / col("total"))
          .select("l_suppkey", "cnt", "total", "n_keys", "share", "skew")
          .orderBy(desc("cnt"), asc("l_suppkey"))
          .limit(20)
      },
      Some("""WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
             |st AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c)
             |SELECT l_suppkey, cnt, total, n_keys,
             |  CAST(cnt AS DOUBLE) / total AS share,
             |  CAST(cnt AS DOUBLE) * n_keys / total AS skew
             |FROM c, st ORDER BY cnt DESC, l_suppkey LIMIT 20""".stripMargin),
      "hot-key skew diagnostics: per-key counts vs mean, top-20 — the pre-join probe " +
        "that decides salting/AQE-skew handling at scale (extension: ops / diagnostics)"),

    CatalogEntry(
      "x64_source_concentration",
      (s, dir) => {
        // per-lang Herfindahl concentration of sources: HHI = Σ share_i².
        // Computed as Σcnt²/total² — exact integer numerator and a single
        // double division, so no order-sensitive float accumulation exists
        // at all (a Σ(cnt/total)² would sum doubles in shuffle order).
        val c = t(s, dir, "documents").groupBy("lang", "source")
          .agg(count(lit(1)).as("cnt"))
        c.groupBy("lang")
          .agg(sum(col("cnt") * col("cnt")).as("s2"), sum("cnt").as("tot"),
            count(lit(1)).as("n_sources"))
          .withColumn("hhi",
            col("s2").cast("double") / (col("tot").cast("double") * col("tot")))
          .select("lang", "n_sources", "tot", "hhi")
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, source, COUNT(*) AS cnt
             |  FROM documents GROUP BY 1, 2),
             |a AS (SELECT lang, CAST(SUM(cnt * cnt) AS BIGINT) AS s2,
             |    CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS n_sources
             |  FROM c GROUP BY 1)
             |SELECT lang, n_sources, tot,
             |  CAST(s2 AS DOUBLE) / (CAST(tot AS DOUBLE) * tot) AS hhi
             |FROM a ORDER BY lang""".stripMargin),
      "per-language source-concentration (HHI) from exact integer moments — the " +
        "diversity audit of a training mix; two tiny aggregations, zero float sums " +
        "(extension: data quality)"),

    CatalogEntry(
      "x65_length_deciles",
      (s, dir) => {
        // per-lang document-length deciles + percent_rank: the binning step
        // of length-balanced sampling. The (n_chars, doc_id) tiebreak makes
        // every rank — hence ntile boundary and percent_rank — fully
        // deterministic. Partitioned by lang: per-group single pass; at
        // 100 TB per-lang ranks would move to the x39 prefix-sum pattern.
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("lang").orderBy(asc("n_chars"), asc("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            ntile(10).over(w).as("decile"),
            percent_rank().over(w).as("pr"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars,
             |  NTILE(10) OVER w AS decile,
             |  PERCENT_RANK() OVER w AS pr
             |FROM documents
             |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
             |ORDER BY doc_id""".stripMargin),
      "per-language length deciles and percent ranks with deterministic tiebreaks — " +
        "the length-balanced sampling binner (extension: text pipeline / sampling)"),

    CatalogEntry(
      "x66_debounce",
      (s, dir) => {
        // ingest debounce: keep only the FIRST event of each burst per
        // (user, type), where a burst is a chain of events each ≤ 2 h after
        // the previous — the duplicate-click / retry-storm filter shape
        // (window sized to the fixture's arrival rate so the filter is
        // non-vacuous: gap p1 ≈ 30 min). Classic gaps-and-islands: one lag
        // per key partition, no state beyond the window sort. One shuffle
        // on (user_id, event_type).
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("user_id", "event_type").orderBy("tsu", "event_id")
        t(s, dir, "events")
          .withColumn("tsu", expr("ts div 1000"))
          .withColumn("prev", lag("tsu", 1).over(w))
          .where(col("prev").isNull || col("tsu") - col("prev") > 7200000000L)
          .select("event_id", "user_id", "event_type", "tsu")
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
             |  FROM events),
             |m AS (SELECT *, LAG(tsu) OVER
             |    (PARTITION BY user_id, event_type ORDER BY tsu, event_id) AS prev
             |  FROM ev)
             |SELECT event_id, user_id, event_type, tsu FROM m
             |WHERE prev IS NULL OR tsu - prev > 7200000000
             |ORDER BY event_id""".stripMargin),
      "burst debounce (keep first of each ≤2h chain) via gaps-and-islands lag — the " +
        "retry-storm filter shape at ingest, one shuffle (extension: events / ingest)"),

    CatalogEntry(
      "x67_oov_rate",
      (s, dir) => {
        // per-doc out-of-vocabulary rate against the corpus top-100 vocab
        // (count desc, token asc tiebreak). The vocab is a TakeOrdered-100
        // → broadcast; the doc-side pass is map-only after one token-count
        // shuffle. Rate = exact count ratio, one double division.
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("term")).limit(100)
          .select(col("term"), lit(1L).as("in_v"))
        tok.join(broadcast(vocab), Seq("term"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |vocab AS (SELECT term FROM tok GROUP BY term
             |  ORDER BY COUNT(*) DESC, term LIMIT 100),
             |agg AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
             |    CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
             |  FROM tok t LEFT JOIN vocab v ON t.term = v.term GROUP BY 1)
             |SELECT doc_id, n_tokens, n_oov,
             |  CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
             |FROM agg ORDER BY doc_id""".stripMargin),
      "out-of-vocabulary rate per document vs broadcast top-100 vocab — the tokenizer-" +
        "coverage audit before training (extension: text analysis)"),

    CatalogEntry(
      "x68_snapshot_diff",
      (s, dir) => {
        // snapshot reconciliation: two views of per-order state (odd vs even
        // line numbers standing in for old/new loads) full-outer joined on
        // the key, classified added / removed / changed / same, and rolled
        // up to a 4-row summary. The CDC-audit shape: one co-partitioned
        // full-outer join, summary is a tiny final aggregate. l_quantity is
        // integral so the double sums are exact (x33 note).
        val li = t(s, dir, "lineitem")
        def snap(parity: Int) = li.where(col("l_linenumber") % 2 === parity)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
        val a = snap(1).select(col("l_orderkey"), col("cnt").as("cnt_a"), col("qty").as("qty_a"))
        val b = snap(0).select(col("l_orderkey"), col("cnt").as("cnt_b"), col("qty").as("qty_b"))
        a.join(b, Seq("l_orderkey"), "full_outer")
          .withColumn("status",
            when(col("cnt_a").isNull, "added")
              .when(col("cnt_b").isNull, "removed")
              .when(col("cnt_a") =!= col("cnt_b") || col("qty_a") =!= col("qty_b"), "changed")
              .otherwise("same"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_orders"),
            sum(coalesce(col("cnt_a"), lit(0L))).as("lines_a"),
            sum(coalesce(col("cnt_b"), lit(0L))).as("lines_b"))
          .orderBy("status")
      },
      Some("""WITH a AS (SELECT l_orderkey, COUNT(*) AS cnt_a, SUM(l_quantity) AS qty_a
             |  FROM lineitem WHERE l_linenumber % 2 = 1 GROUP BY 1),
             |b AS (SELECT l_orderkey, COUNT(*) AS cnt_b, SUM(l_quantity) AS qty_b
             |  FROM lineitem WHERE l_linenumber % 2 = 0 GROUP BY 1),
             |j AS (SELECT COALESCE(a.l_orderkey, b.l_orderkey) AS k,
             |    cnt_a, qty_a, cnt_b, qty_b,
             |    CASE WHEN cnt_a IS NULL THEN 'added'
             |         WHEN cnt_b IS NULL THEN 'removed'
             |         WHEN cnt_a <> cnt_b OR qty_a <> qty_b THEN 'changed'
             |         ELSE 'same' END AS status
             |  FROM a FULL OUTER JOIN b ON a.l_orderkey = b.l_orderkey)
             |SELECT status, COUNT(*) AS n_orders,
             |  CAST(SUM(COALESCE(cnt_a, 0)) AS BIGINT) AS lines_a,
             |  CAST(SUM(COALESCE(cnt_b, 0)) AS BIGINT) AS lines_b
             |FROM j GROUP BY 1 ORDER BY status""".stripMargin),
      "snapshot reconciliation: full-outer key diff classified added/removed/changed/same, " +
        "rolled to a summary — the CDC audit between loads (extension: ETL / data quality)"),

    CatalogEntry(
      "x69_event_gap_stats",
      (s, dir) => {
        // inter-arrival-time profile per event type: lag over the type's
        // time-ordered stream, then count/min/max, an exact-ratio mean and
        // interpolated p50/p90 (gaps are integral µs, so the lerp cannot
        // diverge between engines — x33 precedent). The per-type window is
        // the skew caveat: at 100 TB a hot type's sort moves to the x39
        // prefix-sum pattern.
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("event_type").orderBy("tsu", "event_id")
        t(s, dir, "events")
          .withColumn("tsu", expr("ts div 1000"))
          .withColumn("prev", lag("tsu", 1).over(w))
          .where(col("prev").isNotNull)
          .withColumn("gap", col("tsu") - col("prev"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"), min("gap").as("gap_min"),
            max("gap").as("gap_max"), sum("gap").as("gsum"),
            expr("percentile(gap, 0.5)").as("p50"),
            expr("percentile(gap, 0.9)").as("p90"))
          .withColumn("gap_mean", col("gsum").cast("double") / col("n_gaps"))
          .select("event_type", "n_gaps", "gap_min", "gap_max", "gap_mean", "p50", "p90")
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_id, event_type, epoch_us(ts) AS tsu FROM events),
             |m AS (SELECT event_type, tsu - LAG(tsu) OVER
             |    (PARTITION BY event_type ORDER BY tsu, event_id) AS gap FROM ev),
             |g AS (SELECT event_type, COUNT(*) AS n_gaps, MIN(gap) AS gap_min,
             |    MAX(gap) AS gap_max, CAST(SUM(gap) AS BIGINT) AS gsum,
             |    quantile_cont(gap, 0.5) AS p50, quantile_cont(gap, 0.9) AS p90
             |  FROM m WHERE gap IS NOT NULL GROUP BY 1)
             |SELECT event_type, n_gaps, gap_min, gap_max,
             |  CAST(gsum AS DOUBLE) / n_gaps AS gap_mean, p50, p90
             |FROM g ORDER BY event_type""".stripMargin),
      "inter-event gap distribution per type: windowed lag + exact moments + interpolated " +
        "percentiles — the arrival-rate profile behind capacity planning " +
        "(extension: events / analytics)"),

    CatalogEntry(
      "x70_grouping_sets",
      (s, dir) => {
        // explicit GROUPING SETS ((lang),(source),()) — the third grouping
        // shape after rollup (x23) and cube (x35): independent marginals
        // plus the grand total in ONE pass (Spark expands to a single
        // aggregate, not three scans). grouping_id disambiguates rows; both
        // engines put the first column in the most significant bit.
        t(s, dir, "documents")
          .groupingSets(
            Seq(Seq(col("lang")), Seq(col("source")), Seq()),
            col("lang"), col("source"))
          .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
            sum("n_chars").as("chars"))
          .select("gid", "lang", "source", "n", "chars")
          .orderBy(asc("gid"), asc_nulls_first("lang"), asc_nulls_first("source"))
      },
      Some("""SELECT GROUPING(lang, source) AS gid, lang, source,
             |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
             |FROM documents
             |GROUP BY GROUPING SETS ((lang), (source), ())
             |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin),
      "explicit grouping sets: lang and source marginals plus grand total in one " +
        "aggregate pass, grouping_id-tagged (extension: analytics)"),

    CatalogEntry(
      "x71_dense_timeseries",
      (s, dir) => {
        // zero-filled hourly series per event type: counts exist only where
        // events do, so the dense grid is (distinct types) × sequence(min
        // hour, max hour) — both tiny — left-joined back onto the sparse
        // counts. The gap-filling shape dashboards and forecast models
        // need; the grid build never touches the fact table again.
        val ev = t(s, dir, "events")
          .withColumn("h", expr("(ts div 1000) div 3600000000"))
        val cnts = ev.groupBy("event_type", "h").agg(count(lit(1)).as("n"))
        // hour axis bounded to ±DefaultMaxSpanHours/2 around the modal
        // hour before sequence(): one poison far-future timestamp would
        // otherwise densify a billions-wide grid and kill the stage
        // (ADVICE r12; the HALF-WINDOW is the streaming twin's constant,
        // not a re-typed literal — retuning StreamDrift retunes this leg)
        val hrs = ev.groupBy("h").agg(count(lit(1)).as("nh"))
        val anc = hrs.orderBy(col("nh").desc, col("h")).limit(1)
          .select(col("h").as("hm"))
        val bounds = hrs.crossJoin(broadcast(anc))
          .where(abs(col("h") - col("hm")) <=
            lit(graft.streaming.StreamDrift.DefaultMaxSpanHours / 2))
          .agg(min("h").as("h0"), max("h").as("h1"))
        val grid = cnts.select("event_type").distinct()
          .crossJoin(bounds)
          .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
        grid.join(cnts, Seq("event_type", "h"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .orderBy("event_type", "h")
      },
      Some(s"""WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events),
             |cnts AS (SELECT event_type, h, COUNT(*) AS n FROM ev GROUP BY 1, 2),
             |hrs AS (SELECT h, COUNT(*) AS nh FROM ev GROUP BY 1),
             |anc AS (SELECT h AS hm FROM hrs ORDER BY nh DESC, h LIMIT 1),
             |bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hrs, anc
             |  WHERE abs(hrs.h - anc.hm) <= ${graft.streaming.StreamDrift.DefaultMaxSpanHours / 2}),
             |grid AS (SELECT t.event_type, gs.h
             |  FROM (SELECT DISTINCT event_type FROM cnts) t
             |  CROSS JOIN (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds) gs)
             |SELECT g.event_type, g.h, COALESCE(c.n, 0) AS n
             |FROM grid g LEFT JOIN cnts c ON g.event_type = c.event_type AND g.h = c.h
             |ORDER BY g.event_type, g.h""".stripMargin),
      "gap-filled hourly time series: sparse counts left-joined onto a types × " +
        "sequence(min,max) grid built without rescanning the facts " +
        "(extension: events / time series)"),

    CatalogEntry(
      "x72_containment_dedup",
      (s, dir) =>
        Dedup.containmentPairs(t(s, dir, "documents"), k = 16, bands = 8,
          shingleN = 3, threshold = 0.8)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
              |SELECT * FROM (
              |  SELECT c.id_a, c.id_b, len(x.shingles) AS na, len(y.shingles) AS nb,
              |    len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |      / least(len(x.shingles), len(y.shingles)) AS cont
              |  FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |WHERE cont >= 0.8 ORDER BY id_a, id_b""".stripMargin),
      "containment near-dup (|A∩B| / min set size ≥ 0.8) over MinHash+LSH candidates — " +
        "the quote/subset detector symmetric Jaccard misses (extension: dedup)"),

    CatalogEntry(
      "x73_pagerank",
      (s, dir) => {
        // 3-iteration PageRank over the customer→supplier order graph in
        // exact integer micro-units (see operators.PageRank for why the
        // oracle can replay it bit-for-bit). The supplier id space is
        // offset by 1e6 to disjoin it from customer keys.
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
          .distinct()
        PageRank.run(edges, iters = 3)
          .orderBy(desc("score"), asc("node")).limit(20)
      },
      Some {
        val iters = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst AS node,
             |    CAST(SUM(((s.score * 85) // 100) // d.deg) AS BIGINT) AS m
             |  FROM edges e JOIN s${i - 1} s ON e.src = s.node
             |  JOIN deg d ON e.src = d.src GROUP BY 1),
             |s$i AS (SELECT n.node,
             |    150000000 // (SELECT n FROM nn) + COALESCE(c.m, 0) AS score
             |  FROM nodes n LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH edges AS (
           |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
           |nn AS (SELECT COUNT(*) AS n FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
           |s0 AS (SELECT node, 1000000000 // (SELECT n FROM nn) AS score FROM nodes),
           |$iters
           |SELECT node, score FROM s3 ORDER BY score DESC, node LIMIT 20""".stripMargin
      },
      "3-iteration integer-exact PageRank on the customer→supplier graph: one " +
        "co-partitioned join + one shuffle aggregate per unrolled iteration, no float " +
        "accumulation anywhere (extension: graph / analytics)"),

    CatalogEntry(
      "x74_column_profile",
      (s, dir) =>
        Profile.columnProfile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
          .orderBy("column_name"),
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        cols.map(c =>
          s"""SELECT '$c' AS column_name,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  COUNT(DISTINCT $c) AS n_distinct FROM orders""".stripMargin)
          .mkString("", "\nUNION ALL ", "\nORDER BY column_name")
      },
      "per-column intake profile (null + exact distinct counts) in ONE scan — Catalyst " +
        "expands the multi-column DISTINCTs into a single two-phase aggregate; the " +
        "100 TB variant swaps in approx_count_distinct's mergeable HLL " +
        "(extension: data quality)"),

    CatalogEntry(
      "x75_constraint_audit",
      (s, dir) =>
        Profile.constraintAudit(t(s, dir, "lineitem"), Seq(
          "discount_le_5pct" -> (col("l_discount") > 0.05),
          "price_positive" -> (col("l_extendedprice") <= 0),
          "quantity_le_25" -> (col("l_quantity") > 25),
          "returnflag_enum" -> !col("l_returnflag").isin("A", "N", "R"),
          "ship_before_1999" -> (col("l_shipdate") >= lit("1999-01-01").cast("timestamp")),
          "tax_le_4pct" -> (col("l_tax") > 0.04)))
          .orderBy("rule"),
      Some("""WITH a AS (SELECT COUNT(*)::BIGINT AS n_rows,
             |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             |  CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             |  CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
             |  CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v4,
             |  CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v5,
             |  CAST(SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS v6
             |  FROM lineitem),
             |r AS (
             |  SELECT 'discount_le_5pct' AS rule, v1 AS n_violations, n_rows FROM a
             |  UNION ALL SELECT 'price_positive', v2, n_rows FROM a
             |  UNION ALL SELECT 'quantity_le_25', v3, n_rows FROM a
             |  UNION ALL SELECT 'returnflag_enum', v4, n_rows FROM a
             |  UNION ALL SELECT 'ship_before_1999', v5, n_rows FROM a
             |  UNION ALL SELECT 'tax_le_4pct', v6, n_rows FROM a)
             |SELECT rule, n_violations, n_rows,
             |  n_violations::DOUBLE / n_rows::DOUBLE AS violation_rate
             |FROM r ORDER BY rule""".stripMargin),
      "declarative rule audit (range / enum / cross-field) — all rules evaluated in one " +
        "scan as map-side-combinable conditional sums; the gate a 100 TB ingest batch " +
        "passes before entering the corpus (extension: data quality)"),

    CatalogEntry(
      "x76_k_anonymity",
      (s, dir) =>
        Profile.kAnonymity(t(s, dir, "events"), Seq("user_id", "event_type"),
          Seq(2, 5, 10, 25)),
      Some("""WITH g AS (SELECT user_id, event_type, COUNT(*)::BIGINT AS n
             |  FROM events GROUP BY 1, 2),
             |k AS (SELECT unnest([2, 5, 10, 25]) AS k)
             |SELECT k.k, COUNT(*)::BIGINT AS n_groups,
             |  CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below,
             |  CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT) AS rows_below
             |FROM g, k GROUP BY k.k ORDER BY k""".stripMargin),
      "k-anonymity audit over (user_id, event_type) quasi-identifiers: one shuffle " +
        "builds the group-size table, the k-threshold sweep runs on |groups| rows — " +
        "re-identification risk before a corpus ships (extension: data quality)"),

    CatalogEntry(
      "x77_iqr_outliers",
      (s, dir) => {
        // milli-unit integer values make the quantile lerp exact (dyadic
        // fraction × integer gap, x33's argument) and the fence arithmetic
        // (±1.5×IQR) stays exact too: q1/q3 carry ≤2 fraction bits.
        val e = t(s, dir, "events").select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("vm"))
        val f = e.groupBy("event_type").agg(
          expr("percentile(vm, 0.25)").as("q1"),
          expr("percentile(vm, 0.75)").as("q3"))
          .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
          .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
        e.join(f, "event_type")
          .groupBy("event_type", "q1", "q3", "lo", "hi")
          .agg(
            sum(when(col("vm") < col("lo"), 1L).otherwise(0L)).as("n_below"),
            sum(when(col("vm") > col("hi"), 1L).otherwise(0L)).as("n_above"),
            count(lit(1)).as("n_total"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm
             |  FROM events),
             |q AS (SELECT event_type, quantile_cont(vm, 0.25) AS q1,
             |    quantile_cont(vm, 0.75) AS q3 FROM e GROUP BY 1),
             |f AS (SELECT event_type, q1, q3, q1 - 1.5 * (q3 - q1) AS lo,
             |    q3 + 1.5 * (q3 - q1) AS hi FROM q)
             |SELECT e.event_type, q1, q3, lo, hi,
             |  CAST(SUM(CASE WHEN vm < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
             |  CAST(SUM(CASE WHEN vm > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
             |  COUNT(*)::BIGINT AS n_total
             |FROM e JOIN f ON e.event_type = f.event_type
             |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1""".stripMargin),
      "Tukey-fence (1.5×IQR) outlier counts per event type: tiny per-group quantile " +
        "aggregate re-joined to the facts (AQE broadcasts it), second pass counts — " +
        "the robust-stats complement to x54's z-scores (extension: analytics)"),

    CatalogEntry(
      "x78_event_streaks",
      (s, dir) => {
        // gaps-and-islands: a change flag per row (lag), running sum of
        // flags numbers the islands, the longest island per user wins.
        // Both windows partition by user_id — one shuffle, ordered passes.
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("user_id").orderBy("tsu", "event_id")
        val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("tsu"), col("event_type"))
        val runs = e
          .withColumn("chg",
            when(lag("event_type", 1).over(w) === col("event_type"), 0L).otherwise(1L))
          .withColumn("island",
            sum("chg").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
          .groupBy("user_id", "island", "event_type")
          .agg(count(lit(1)).as("run_len"))
        runs
          .withColumn("rn", row_number().over(
            W.partitionBy("user_id").orderBy(desc("run_len"), desc("event_type"))))
          .where(col("rn") === 1)
          .select(col("user_id"), col("run_len").as("best_len"),
            col("event_type").as("best_type"))
          .orderBy(desc("best_len"), asc("user_id"))
          .limit(20)
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
             |  FROM events),
             |c AS (SELECT *, CASE WHEN lag(event_type) OVER
             |    (PARTITION BY user_id ORDER BY tsu, event_id) = event_type
             |    THEN 0 ELSE 1 END AS chg FROM e),
             |i AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             |    ROWS UNBOUNDED PRECEDING) AS island FROM c),
             |r AS (SELECT user_id, island, event_type, COUNT(*)::BIGINT AS run_len
             |  FROM i GROUP BY 1, 2, 3),
             |b AS (SELECT user_id, run_len AS best_len, event_type AS best_type,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY run_len DESC, event_type DESC) AS rn FROM r)
             |SELECT user_id, best_len, best_type FROM b WHERE rn = 1
             |ORDER BY best_len DESC, user_id LIMIT 20""".stripMargin),
      "gaps-and-islands longest same-type streak per user: lag change-flag + running " +
        "sum numbers islands in one user-partitioned pass, no self-join " +
        "(extension: events)"),

    CatalogEntry(
      "x79_mixture_budget",
      (s, dir) => {
        // target corpus mixture: per-language quotas of a 200-doc budget,
        // picked by salted-hash rank so membership is a pure function of
        // doc_id (Sampling's rule applied to budgeted quotas — incremental
        // rebuilds cannot flip earlier picks below quota). es/zh shares are
        // deliberate: zh is in the mixture, es is not and drops out.
        val want = Map("en" -> 80, "de" -> 40, "fr" -> 40, "zh" -> 40)
        val wantCol = want.foldLeft(lit(null).cast("int")) { case (acc, (k, v)) =>
          when(col("lang") === k, lit(v)).otherwise(acc)
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("h", "doc_id")
        t(s, dir, "documents")
          .where(col("lang").isin("en", "de", "fr", "zh"))
          .select(col("lang"), col("doc_id"),
            expr(fingerprintExpr("concat('mix:', cast(doc_id as string))")).as("h"),
            wantCol.as("want_n"))
          .withColumn("rk", row_number().over(w))
          .groupBy("lang", "want_n")
          .agg(count(lit(1)).as("n_have"),
            sum(when(col("rk") <= col("want_n"), 1L).otherwise(0L)).as("n_taken"),
            sum(when(col("rk") <= col("want_n"), col("doc_id")).otherwise(0L)).as("id_checksum"))
          .orderBy("lang")
      },
      Some(s"""WITH d AS (SELECT lang, doc_id, ${dPoly("'mix:' || doc_id")} AS h
              |  FROM documents WHERE lang IN ('en','de','fr','zh')),
              |w AS (SELECT unnest(['de','en','fr','zh']) AS lang,
              |  unnest([40, 80, 40, 40]) AS want_n),
              |r AS (SELECT lang, doc_id, h,
              |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk FROM d)
              |SELECT r.lang, want_n, COUNT(*)::BIGINT AS n_have,
              |  CAST(SUM(CASE WHEN rk <= want_n THEN 1 ELSE 0 END) AS BIGINT) AS n_taken,
              |  CAST(SUM(CASE WHEN rk <= want_n THEN doc_id ELSE 0 END) AS BIGINT) AS id_checksum
              |FROM r JOIN w ON r.lang = w.lang GROUP BY 1, 2 ORDER BY 1""".stripMargin),
      "budgeted mixture rebalance: per-language doc quotas filled by salted-hash rank " +
        "— deterministic 'shuffle', stable under repartitioning and incremental ingest; " +
        "the dataset-mixing move of corpus curation (extension: sampling)"),

    CatalogEntry(
      "x80_linear_count_distinct",
      (s, dir) => {
        // Linear counting: per source, filled hash buckets b of m=65536 give
        // est = round(-m·ln((m-b)/m)). Distinct (source, bucket) pairs are
        // capped at sources×m regardless of row count — the mergeable-sketch
        // shape that replaces the exact-DISTINCT leg (kept here as the
        // comparison) at 100 TB. (m-b)/m is a dyadic-exact double; ln/round
        // follow the x42 idf precedent.
        val m = 65536
        t(s, dir, "documents")
          .select(col("source"),
            explode(expr("graft_shingle_hashes(graft_token_hashes(text), 3)")).as("sh"))
          .groupBy("source")
          .agg(
            countDistinct(pmod(col("sh"), lit(m.toLong))).as("filled"),
            countDistinct(col("sh")).as("exact_distinct"))
          .withColumn("est_distinct",
            round(-lit(m.toDouble) *
              log((lit(m.toLong) - col("filled")).cast("double") / lit(m.toDouble)))
              .cast("long"))
          .withColumn("err_pct",
            (col("est_distinct") - col("exact_distinct")).cast("double") * 100.0 /
              col("exact_distinct").cast("double"))
          .orderBy("source")
      },
      Some(s"""WITH base AS (SELECT source,
              |  list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT source, unnest($dShingles) AS sh FROM base),
              |g AS (SELECT source, COUNT(DISTINCT sh % 65536) AS filled,
              |  COUNT(DISTINCT sh) AS exact_distinct FROM sh GROUP BY 1),
              |e AS (SELECT source, filled, exact_distinct,
              |  CAST(round(-65536.0 * ln((65536 - filled)::DOUBLE / 65536.0)) AS BIGINT)
              |    AS est_distinct FROM g)
              |SELECT source, filled, exact_distinct, est_distinct,
              |  (est_distinct - exact_distinct)::DOUBLE * 100.0 / exact_distinct::DOUBLE
              |    AS err_pct
              |FROM e ORDER BY source""".stripMargin),
      "linear-counting distinct-shingle estimate per source vs the exact count: the " +
        "bucket bitmap is bounded by m per group however large the data — cardinality " +
        "estimation as a sketch, not a full DISTINCT shuffle (extension: sketches)"),

    CatalogEntry(
      "x81_doc_surprisal",
      (s, dir) => {
        // Perplexity-style atypicality filter: score each doc by the mean
        // surprisal -ln P(w2|w1) of its bigrams under the corpus LM (x43's
        // count table). Surprisals are rounded to integer micro-nats before
        // the per-doc SUM, so aggregation order cannot flip a bit (the
        // PageRank micro-unit rule). Joins: bigrams→LM on (w1,w2) — shuffle
        // on the composite key, map-side combinable counts feeding it.
        val W = org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val tok = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
        // bg feeds both the LM counts and the scoring join; its doc_id
        // shuffle is deduplicated by ReuseExchange, which measured faster
        // here than an explicit .cache() (InMemoryRelation materialization
        // costs more than the second post-shuffle window pass)
        val bg = tok
          .withColumn("w2", lead("w1", 1).over(W.partitionBy("doc_id").orderBy("pos")))
          .where(col("w2").isNotNull)
          .select("doc_id", "w1", "w2")
        val big = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
        val lm = big
          .join(big.groupBy("w1").agg(sum("n2").as("n1")), "w1")
          .select(col("w1"), col("w2"),
            round(-log(col("n2").cast("double") / col("n1").cast("double")) * 1e6)
              .cast("long").as("surp_micro"))
        bg.join(lm, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(sum("surp_micro").as("total_micro"), count(lit(1)).as("n_bigrams"))
          .select(col("doc_id"), col("n_bigrams"), col("total_micro"),
            expr("total_micro div n_bigrams").as("avg_surprisal_micro"))
          .orderBy(desc("avg_surprisal_micro"), asc("doc_id"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
             |bgu AS (SELECT doc_id, unnest(list_transform(range(1, len(lst)),
             |  i -> {'w1': lst[i], 'w2': lst[i + 1]})) AS b FROM toks),
             |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgu),
             |big AS (SELECT w1, w2, COUNT(*)::BIGINT AS n2 FROM bg GROUP BY 1, 2),
             |uni AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM big GROUP BY 1),
             |lm AS (SELECT big.w1, big.w2,
             |  CAST(round(-ln(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 1000000.0) AS BIGINT)
             |    AS surp_micro
             |  FROM big JOIN uni ON big.w1 = uni.w1),
             |sc AS (SELECT doc_id, CAST(SUM(surp_micro) AS BIGINT) AS total_micro,
             |  COUNT(*)::BIGINT AS n_bigrams
             |  FROM bg JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2 GROUP BY 1)
             |SELECT doc_id, n_bigrams, total_micro,
             |  total_micro // n_bigrams AS avg_surprisal_micro
             |FROM sc ORDER BY avg_surprisal_micro DESC, doc_id LIMIT 20""".stripMargin),
      "per-doc mean bigram surprisal under the corpus LM — the perplexity quality " +
        "filter; integer micro-nat accumulation keeps the per-doc sums " +
        "order-independent and oracle-exact (extension: text analysis)"),

    CatalogEntry(
      "x82_temporal_split",
      (s, dir) => {
        // time-based train/test split at the P75 timestamp with a leakage
        // audit: users present on both sides of the cutoff leak identity
        // signal across the split. 0.75 is deliberate — a dyadic quantile
        // over integer µs keeps the interpolated cutoff bit-exact (x77's
        // rule); the 1-row cutoff broadcasts.
        val ev = t(s, dir, "events").select(col("user_id"), expr("ts div 1000").as("tsu"))
        val cut = ev.agg(expr("percentile(tsu, 0.75d)").as("cutoff"))
        ev.crossJoin(cut)
          .groupBy("user_id")
          .agg(
            sum(when(col("tsu") < col("cutoff"), 1L).otherwise(0L)).as("n_tr"),
            sum(when(col("tsu") >= col("cutoff"), 1L).otherwise(0L)).as("n_te"))
          .agg(
            sum("n_tr").as("n_train"),
            sum("n_te").as("n_test"),
            sum(when(col("n_tr") > 0, 1L).otherwise(0L)).as("users_train"),
            sum(when(col("n_te") > 0, 1L).otherwise(0L)).as("users_test"),
            sum(when(col("n_tr") > 0 && col("n_te") > 0, 1L).otherwise(0L)).as("users_both"),
            count(lit(1)).as("users_total"))
          .withColumn("leakage_rate",
            col("users_both").cast("double") / col("users_total").cast("double"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
             |cut AS (SELECT quantile_cont(tsu, 0.75) AS cutoff FROM e),
             |u AS (SELECT user_id,
             |  CAST(SUM(CASE WHEN tsu < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
             |  CAST(SUM(CASE WHEN tsu >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_te
             |  FROM e, cut GROUP BY 1)
             |SELECT CAST(SUM(n_tr) AS BIGINT) AS n_train,
             |  CAST(SUM(n_te) AS BIGINT) AS n_test,
             |  CAST(SUM(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_train,
             |  CAST(SUM(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_test,
             |  CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_both,
             |  COUNT(*)::BIGINT AS users_total,
             |  CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
             |    / COUNT(*)::DOUBLE AS leakage_rate
             |FROM u""".stripMargin),
      "temporal train/test split at the P75 timestamp + cross-split user-leakage audit " +
        "— the time-series eval hygiene check; one scan, one user-keyed aggregate " +
        "(extension: sampling / evaluation)"),

    CatalogEntry(
      "x83_kmeans_refine",
      (s, dir) => KMeans.summary(t(s, dir, "embeddings"), iters = 2),
      Some {
        // mirrors KMeans.assignInt: shifted integer ramp, per-label seeds,
        // 2 unrolled Lloyd rounds, truncating integer-mean centroids
        // (DuckDB // and Spark div both truncate toward zero).
        val q = "CAST(round((CAST(embedding[i] AS DOUBLE) + 1.0) * 500.0) AS BIGINT)"
        s"""WITH elu AS (SELECT vec_id, label,
           |    unnest(list_transform(range(1, len(embedding) + 1),
           |      i -> {'dim': i, 'q': $q})) AS u
           |  FROM embeddings),
           |el AS (SELECT vec_id, label, u.dim AS dim, u.q AS q FROM elu),
           |c0 AS (SELECT label AS cluster, dim, CAST(SUM(q) AS BIGINT) // COUNT(*) AS c
           |  FROM el GROUP BY 1, 2),
           |d1 AS (SELECT el.vec_id, c.cluster,
           |    CAST(SUM((q - c.c) * (q - c.c)) AS BIGINT) AS d2
           |  FROM el JOIN c0 c ON el.dim = c.dim GROUP BY 1, 2),
           |a1 AS (SELECT vec_id, cluster FROM (SELECT vec_id, cluster,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d1)
           |  WHERE rn = 1),
           |c1 AS (SELECT a.cluster, el.dim, CAST(SUM(el.q) AS BIGINT) // COUNT(*) AS c
           |  FROM el JOIN a1 a ON el.vec_id = a.vec_id GROUP BY 1, 2),
           |d2_ AS (SELECT el.vec_id, c.cluster,
           |    CAST(SUM((q - c.c) * (q - c.c)) AS BIGINT) AS d2
           |  FROM el JOIN c1 c ON el.dim = c.dim GROUP BY 1, 2),
           |a2 AS (SELECT vec_id, cluster, d2 FROM (SELECT vec_id, cluster, d2,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM d2_)
           |  WHERE rn = 1)
           |SELECT cluster, COUNT(*)::BIGINT AS n_members,
           |  CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
           |  CAST(SUM(d2) AS BIGINT) AS inertia
           |FROM a2 GROUP BY 1 ORDER BY cluster""".stripMargin
      },
      "2 unrolled integer-exact Lloyd iterations refining per-label centroid seeds: " +
        "broadcast k×d centroids, map-side k-way distance expansion, one shuffle per " +
        "round — k-means with a static job graph and a bit-exact oracle replay " +
        "(extension: embeddings / clustering)"),

    CatalogEntry(
      "x84_countmin_heavy_hitters",
      (s, dir) => {
        // one pass folds every event into a 4×256 count-min sketch (the
        // buffer, not the rows, crosses the shuffle); the exact top-10
        // leg exists only to audit the estimates, which the CMS guarantee
        // bounds from above (est ≥ exact, E[over] ≤ 2N/w per row pair).
        val ev = t(s, dir, "events").select(col("user_id"),
          expr(fingerprintExpr("cast(user_id as string)")).as("kh"))
        val sk = ev.agg(
          graft.functions.CountMinSketch.sketch(col("kh"), d = 4, w = 256).as("sketch"))
        ev.groupBy("user_id", "kh").agg(count(lit(1)).as("exact_n"))
          .orderBy(desc("exact_n"), asc("user_id")).limit(10)
          .crossJoin(sk)
          .select(col("user_id"), col("exact_n"),
            graft.functions.CountMinSketch.estimate(col("sketch"), col("kh"), d = 4, w = 256)
              .as("est_n"))
          .withColumn("overcount", col("est_n") - col("exact_n"))
          .orderBy(desc("exact_n"), asc("user_id"))
      },
      Some(s"""WITH k AS (SELECT user_id, ${dPoly("CAST(user_id AS VARCHAR)")} AS kh,
              |  COUNT(*)::BIGINT AS exact_n FROM events GROUP BY 1, 2),
              |h AS (SELECT user_id, kh, exact_n, r.i,
              |    ((((1 + r.i * 2654435761) % $Prime) * kh + (7 + r.i * 40503)) % $Prime) % 256 AS j
              |  FROM k, range(0, 4) r(i)),
              |cells AS (SELECT i, j, CAST(SUM(exact_n) AS BIGINT) AS cell
              |  FROM h GROUP BY 1, 2),
              |est AS (SELECT user_id, exact_n, MIN(cell) AS est_n
              |  FROM h JOIN cells ON h.i = cells.i AND h.j = cells.j GROUP BY 1, 2),
              |top AS (SELECT user_id, exact_n, est_n, est_n - exact_n AS overcount
              |  FROM est ORDER BY exact_n DESC, user_id LIMIT 10)
              |SELECT * FROM top ORDER BY exact_n DESC, user_id""".stripMargin),
      "count-min sketch heavy hitters: mergeable 4×256 Aggregator buffer (d·w longs per " +
        "partition cross the shuffle, never the keys), estimates audited against the " +
        "exact top-10 — always an overestimate, bounded by 2N/w " +
        "(extension: sketches)"),

    CatalogEntry(
      "x85_referential_integrity",
      (s, dir) => {
        // FK audit across the star schema: orphan = child key with no
        // parent. Each leg is a left_anti against the (distinct) parent
        // keys — broadcast when the dim fits, shuffle otherwise; AQE
        // decides, nothing is hinted. One row per relation.
        def leg(rel: String, child: DataFrame, ck: String,
                parent: DataFrame, pk: String): DataFrame = {
          val orphans = child.select(col(ck))
            .join(parent.select(col(pk)), col(ck) === col(pk), "left_anti")
          child.agg(count(lit(1)).as("n_child_rows"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
            .select(lit(rel).as("relation"), col("n_child_rows"), col("n_orphans"),
              (col("n_orphans").cast("double") / col("n_child_rows").cast("double"))
                .as("orphan_rate"))
        }
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        leg("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey")
          .unionAll(leg("lineitem.partkey->part", li, "l_partkey",
            t(s, dir, "part"), "p_partkey"))
          .unionAll(leg("lineitem.suppkey->supplier", li, "l_suppkey",
            t(s, dir, "supplier"), "s_suppkey"))
          .unionAll(leg("orders.custkey->customer", o, "o_custkey",
            t(s, dir, "customer"), "c_custkey"))
          .orderBy("relation")
      },
      Some {
        def leg(rel: String, child: String, ck: String, parent: String, pk: String) =
          s"""SELECT '$rel' AS relation,
             |  (SELECT COUNT(*) FROM $child)::BIGINT AS n_child_rows,
             |  (SELECT COUNT(*) FROM $child WHERE $ck NOT IN (SELECT $pk FROM $parent))::BIGINT
             |    AS n_orphans,
             |  (SELECT COUNT(*) FROM $child WHERE $ck NOT IN (SELECT $pk FROM $parent))::DOUBLE
             |    / (SELECT COUNT(*) FROM $child)::DOUBLE AS orphan_rate""".stripMargin
        Seq(
          leg("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          leg("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
          leg("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          leg("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
          .mkString("", "\nUNION ALL ", "\nORDER BY relation")
      },
      "foreign-key orphan audit across the star schema: one left_anti per relation, " +
        "un-hinted (AQE broadcasts dims that fit) — cross-table integrity before a " +
        "batch joins the corpus (extension: data quality)"),

    CatalogEntry(
      "x86_weighted_sample",
      (s, dir) => {
        // priority (exponential-race) sampling ∝ n_chars: key_i =
        // -ln(u_i)/w_i with u_i a salted-hash uniform — the smallest 30
        // keys are a weighted sample without replacement. Deterministic:
        // membership is a pure function of doc_id (Sampling's rule), so
        // repartitioning or incremental ingest cannot flip picks. Keys are
        // rounded to integer pico-units before ranking, keeping the sort
        // axis engine-exact.
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            expr(fingerprintExpr("concat('ws:', cast(doc_id as string))")).as("hp"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(-log((col("hp") + 1).cast("double") / lit(Prime.toDouble)) /
              col("n_chars").cast("double") * lit(1e12)).cast("long").as("key_pico"))
          .orderBy("key_pico", "doc_id")
          .limit(30)
      },
      Some(s"""WITH d AS (SELECT doc_id, source, n_chars,
              |  ${dPoly("'ws:' || doc_id")} AS hp FROM documents)
              |SELECT doc_id, source, n_chars,
              |  CAST(round(-ln((hp + 1)::DOUBLE / 1000000007.0)
              |    / n_chars::DOUBLE * 1e12) AS BIGINT) AS key_pico
              |FROM d ORDER BY key_pico, doc_id LIMIT 30""".stripMargin),
      "deterministic weighted sampling (exponential race, P[pick] ∝ n_chars): salted-" +
        "hash uniforms, map-side keys, one TakeOrdered — the weighted complement of " +
        "x28's uniform split (extension: sampling)"),

    CatalogEntry(
      "x87_trigram_search",
      (s, dir) => {
        // distributed substring search: a char-trigram posting index makes
        // LIKE '%pat%' a selective equi-probe — candidates must contain ALL
        // pattern trigrams (count == |tris|), then only candidates are
        // verified with contains(). At 100 TB the posting table is the
        // persisted index; the full-corpus LIKE scan never happens. The
        // posting rows are the trigram's 8-byte rolling hash, not the
        // trigram string (native kernel, one tight loop per row; the
        // shuffle moves longs). Hash collisions can only widen the
        // candidate set, and contains() verifies — output is identical.
        val pat = "table part"
        // pattern hashes from the SAME kernel the posting side runs
        // (code-point windows, distinct) — UTF-16 index arithmetic here
        // would silently window differently on any non-BMP pattern
        // (advice r13)
        val patHashes = graft.functions.expressions.HashExpressions
          .evalCharNgramHashes(
            org.apache.spark.unsafe.types.UTF8String.fromString(pat), 3)
          .toLongArray().toSeq
        val docs = t(s, dir, "documents")
        val posting = docs.where(length(col("text")) >= 3)
          .select(col("doc_id"),
            explode(expr("graft_char_ngram_hashes(text, 3)")).as("tri"))
        // the per-doc hash array is already distinct, so each matching
        // hash contributes exactly one row: count(*) == count(distinct)
        val cands = posting
          .where(col("tri").isin(patHashes: _*))
          .groupBy("doc_id").agg(count(lit(1)).as("nt"))
          .where(col("nt") === patHashes.size)
        cands.join(docs, "doc_id")
          .where(col("text").contains(pat))
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some(s"""WITH p AS (SELECT DISTINCT ${dPoly("tri")} AS trih FROM (
             |    SELECT unnest(list_transform(
             |      range(1, length('table part') - 1),
             |      i -> substring('table part', i, 3))) AS tri)),
             |posting AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |    list_transform(range(1, length(text) - 1),
             |                   i -> substring(text, i, 3)),
             |    tri -> ${dPoly("tri")}))) AS trih
             |  FROM documents WHERE length(text) >= 3),
             |cand AS (SELECT doc_id FROM posting WHERE trih IN (SELECT trih FROM p)
             |  GROUP BY doc_id
             |  HAVING COUNT(*) = (SELECT COUNT(*) FROM p))
             |SELECT d.doc_id FROM cand c JOIN documents d ON c.doc_id = d.doc_id
             |WHERE contains(text, 'table part') ORDER BY 1""".stripMargin),
      "char-trigram posting index + all-trigrams candidate intersection + contains() " +
        "verify on candidates only — substring search without a full-corpus LIKE scan " +
        "(extension: retrieval)"),

    CatalogEntry(
      "x88_dataset_card",
      (s, dir) => {
        // the per-source datasheet a corpus release ships with: volume,
        // token mass, exact-dup rate, language mix entropy. Two shuffles
        // (per-source, per-source×lang); entropy terms are rounded to
        // integer micro-nats BEFORE the per-source sum (the x81 rule), so
        // the only float math is per-row scalar.
        val d = t(s, dir, "documents").select(col("source"), col("lang"),
          tokenCount("text").cast("long").as("nt"),
          expr("graft_poly_hash(lower(trim(text)))").as("fp"))
        val base = d.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("nt").as("total_tokens"),
          countDistinct(col("fp")).as("n_distinct_texts"))
          .withColumn("dup_rate",
            (col("n_docs") - col("n_distinct_texts")).cast("double") /
              col("n_docs").cast("double"))
        val ent = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
          .join(base.select("source", "n_docs"), "source")
          .select(col("source"),
            round(-(col("c").cast("double") / col("n_docs").cast("double")) *
              log(col("c").cast("double") / col("n_docs").cast("double")) * lit(1e6))
              .cast("long").as("term"))
          .groupBy("source").agg(sum("term").as("lang_entropy_micro"))
        base.join(ent, "source").orderBy("source")
      },
      Some(s"""WITH d AS (SELECT source, lang,
              |    len(string_split(text, ' '))::BIGINT AS nt,
              |    ${dPoly("lower(trim(text))")} AS fp FROM documents),
              |base AS (SELECT source, COUNT(*)::BIGINT AS n_docs,
              |    CAST(SUM(nt) AS BIGINT) AS total_tokens,
              |    COUNT(DISTINCT fp) AS n_distinct_texts FROM d GROUP BY 1),
              |b2 AS (SELECT *, (n_docs - n_distinct_texts)::DOUBLE / n_docs::DOUBLE
              |    AS dup_rate FROM base),
              |lc AS (SELECT source, lang, COUNT(*)::BIGINT AS c FROM d GROUP BY 1, 2),
              |ent AS (SELECT lc.source,
              |    CAST(SUM(CAST(round(-(c::DOUBLE / n_docs::DOUBLE)
              |      * ln(c::DOUBLE / n_docs::DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT)
              |      AS lang_entropy_micro
              |  FROM lc JOIN b2 ON lc.source = b2.source GROUP BY 1)
              |SELECT b2.source, n_docs, total_tokens, n_distinct_texts, dup_rate,
              |  lang_entropy_micro
              |FROM b2 JOIN ent ON b2.source = ent.source ORDER BY 1""".stripMargin),
      "per-source dataset card (volume, token mass, exact-dup rate, language-mix " +
        "entropy in micro-nats) — the release datasheet, two map-side-combined " +
        "shuffles over the corpus (extension: data quality / reporting)"),

    CatalogEntry(
      "x89_retention_cohorts",
      (s, dir) => {
        // daily-cohort retention: cohort = a user's first active day,
        // matrix cell (cohort, offset) = distinct users active offset days
        // later. Two user-keyed aggregates + one small self-join on the
        // cohort-size column — no per-event self-join anywhere; integer
        // day arithmetic end-to-end.
        val ev = t(s, dir, "events")
          .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
        val act = ev.distinct()
        val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
        val cells = act.join(cohort, "user_id")
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
          .agg(countDistinct("user_id").as("n_active"))
        val sizes = cells.where(col("offset_days") === 0)
          .select(col("cohort_day"), col("n_active").as("cohort_n"))
        cells.join(sizes, "cohort_day")
          .select(col("cohort_day"), col("offset_days"), col("n_active"), col("cohort_n"),
            (col("n_active").cast("double") / col("cohort_n").cast("double"))
              .as("retention_rate"))
          .orderBy("cohort_day", "offset_days")
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
             |    epoch_us(ts) // 86400000000 AS day FROM events),
             |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY 1),
             |cells AS (SELECT cohort_day, day - cohort_day AS offset_days,
             |    COUNT(DISTINCT a.user_id)::BIGINT AS n_active
             |  FROM act a JOIN cohort c ON a.user_id = c.user_id GROUP BY 1, 2),
             |sizes AS (SELECT cohort_day, n_active AS cohort_n FROM cells
             |  WHERE offset_days = 0)
             |SELECT c.cohort_day, offset_days, n_active, cohort_n,
             |  n_active::DOUBLE / cohort_n::DOUBLE AS retention_rate
             |FROM cells c JOIN sizes s ON c.cohort_day = s.cohort_day
             |ORDER BY 1, 2""".stripMargin),
      "daily-cohort retention matrix (cohort = first active day, D-n rates): two " +
        "user-keyed aggregates, no event self-join — the product-analytics staple " +
        "(extension: events)"),

    CatalogEntry(
      "x90_vocab_drift",
      (s, dir) => {
        // ingest-drift monitor: token-set Jaccard between consecutive
        // doc_id batches. Distinct (batch, token) pairs shuffle once; the
        // consecutive-batch overlap is an equi-join on (token, batch+1) —
        // batches only ever meet their neighbor, never all-pairs.
        val bt = t(s, dir, "documents")
          .select(expr("doc_id div 100").as("batch"),
            explode(split(col("text"), " ")).as("tok"))
          .distinct()
        val sizes = bt.groupBy("batch").agg(count(lit(1)).as("n_toks"))
        val inter = bt.as("a")
          .join(bt.as("b"),
            col("a.tok") === col("b.tok") && col("b.batch") === col("a.batch") + 1)
          .groupBy(col("a.batch").as("batch"))
          .agg(count(lit(1)).as("n_inter"))
        inter
          .join(sizes.select(col("batch"), col("n_toks").as("n_a")), "batch")
          .join(sizes.select((col("batch") - 1).as("batch"), col("n_toks").as("n_b")), "batch")
          .select(col("batch"), (col("batch") + 1).as("next_batch"),
            col("n_a"), col("n_b"), col("n_inter"),
            (col("n_inter").cast("double") /
              (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
          .orderBy("batch")
      },
      Some("""WITH bt AS (SELECT DISTINCT doc_id // 100 AS batch,
             |    unnest(string_split(text, ' ')) AS tok FROM documents),
             |sizes AS (SELECT batch, COUNT(*)::BIGINT AS n_toks FROM bt GROUP BY 1),
             |inter AS (SELECT a.batch AS batch, COUNT(*)::BIGINT AS n_inter
             |  FROM bt a JOIN bt b ON a.tok = b.tok AND b.batch = a.batch + 1
             |  GROUP BY 1)
             |SELECT i.batch, i.batch + 1 AS next_batch,
             |  sa.n_toks AS n_a, sb.n_toks AS n_b, n_inter,
             |  n_inter::DOUBLE / (sa.n_toks + sb.n_toks - n_inter)::DOUBLE AS jaccard
             |FROM inter i JOIN sizes sa ON i.batch = sa.batch
             |JOIN sizes sb ON i.batch + 1 = sb.batch
             |ORDER BY 1""".stripMargin),
      "vocabulary drift between consecutive ingest batches: distinct (batch, token) " +
        "pairs, neighbor-only equi-join Jaccard — the corpus-shift monitor an " +
        "incremental pipeline watches (extension: data quality / text)"),

    CatalogEntry(
      "x91_ann_recall",
      (s, dir) => {
        // the accuracy audit every approximate index owes its users:
        // recall@5 of the LSH path (x11) against brute-force truth (x10),
        // per query vector. Composes the two existing operators; the only
        // new work is a left join on (query, corpus) pairs.
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 10); val c = e.where(col("vec_id") >= 10)
        val truth = SimilaritySearch.bruteForceTopK(q, c, k = 5)
          .select("query_id", "corpus_id")
        val approx = SimilaritySearch.lshTopK(q, c, k = 5, planes = 8)
          .select(col("query_id"), col("corpus_id"), lit(1L).as("hit"))
        truth.join(approx, Seq("query_id", "corpus_id"), "left")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("query_id"), col("n_hits"),
            (col("n_hits").cast("double") / lit(5.0)).as("recall"))
          .orderBy("query_id")
      },
      Some {
        val bucket = (v: String) =>
          s"""list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
             |  CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1),
             |    i -> CASE WHEN (((j * 100003 + i) * 2654435761) % $Prime) % 2 = 0
             |         THEN $v[i]::DOUBLE ELSE -($v[i]::DOUBLE) END)), (s2, x) -> s2 + x) > 0
             |  THEN (1::BIGINT << j) ELSE 0::BIGINT END)), (acc, x) -> acc + x)""".stripMargin
        s"""WITH tr AS (SELECT query_id, corpus_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${dCos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
           |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q,
           |         (SELECT * FROM embeddings WHERE vec_id >= 10) c)
           |  WHERE rank <= 5),
           |qb AS (SELECT vec_id AS query_id, embedding AS qv,
           |  ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id < 10),
           |cb AS (SELECT vec_id AS corpus_id, embedding AS cv,
           |  ${bucket("embedding")} AS bucket FROM embeddings WHERE vec_id >= 10),
           |ap AS (SELECT query_id, corpus_id FROM (
           |    SELECT qb.query_id, cb.corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY qb.query_id
           |        ORDER BY ${dCos("qb.qv", "cb.cv")} DESC, cb.corpus_id) AS rank
           |    FROM qb JOIN cb ON qb.bucket = cb.bucket)
           |  WHERE rank <= 5)
           |SELECT tr.query_id,
           |  CAST(SUM(CASE WHEN ap.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hits,
           |  CAST(SUM(CASE WHEN ap.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
           |    / 5.0 AS recall
           |FROM tr LEFT JOIN ap ON tr.query_id = ap.query_id
           |  AND tr.corpus_id = ap.corpus_id
           |GROUP BY 1 ORDER BY 1""".stripMargin
      },
      "recall@5 audit of the LSH ANN path against brute-force truth, per query — " +
        "the accuracy contract an approximate index ships with " +
        "(extension: similarity search / evaluation)"),

    CatalogEntry(
      "x92_lsh_dedup_recall",
      (s, dir) => {
        // x91's contract applied to dedup: did MinHash+LSH banding find
        // every pair an exact Jaccard pass finds? Truth comes from the
        // lossless prefix-filtered exact join ([[Dedup.exactJaccardSelfPairs]]
        // — identical pair set to a quadratic scan, candidates bounded by
        // shared-prefix structure instead of n²). The doc_id<1000 shard
        // fence is kept only to match the oracle's (deliberately naive)
        // all-pairs replay at fixture scale; the Spark leg itself no longer
        // needs it — at 100 TB the SAME prefix-filtered join IS the
        // production exact-verification path.
        val shard = t(s, dir, "documents").where(col("doc_id") < 1000)
        // ONE tokenize+shingle+minhash pass feeds BOTH legs (r15 verdict
        // #4): the truth pipeline consumes the shingle sets and the LSH
        // pipeline the signatures, and each used to re-hash the shard
        // independently. The signatures are materialized here precisely
        // because the two legs can't share them through exchange reuse
        // (the hash pass is map-side — there is no exchange to reuse).
        val sigs = Dedup.minhashSignature(shard, k = 16, shingleN = 3)
          .localCheckpoint()
        val sh = sigs.select(col("doc_id"), col("shingles"))
        // `truth` feeds BOTH crossJoin legs below (the n_truth count and
        // the semi-join's left side) — deliberately NOT staged: a
        // localCheckpoint barrier A/B'd WORSE (r15, idle-box medians
        // 2.03 s staged vs 1.73 s lazy over 5 reps), because exchange
        // reuse already shares the exact self-join's heavy subplan across
        // the two legs and the barrier only adds an eager materialization.
        // What remains is irreducible verify work: one prefix-filtered
        // exact join + one LSH band/verify pass, both corpus-shard-sized.
        val truth = Dedup.exactJaccardSelfPairs(sh, threshold = 0.5)
          .select("id_a", "id_b")
        val approx = Dedup.minhashNearDupsFromSigs(sigs, bands = 8,
          rowsPerBand = 2, threshold = 0.5).select("id_a", "id_b")
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(truth.join(approx, Seq("id_a", "id_b"), "left_semi")
            .agg(count(lit(1)).as("n_found")))
          .select(col("n_truth"), col("n_found"),
            (col("n_truth") - col("n_found")).as("n_missed"),
            when(col("n_truth") > 0,
              col("n_found").cast("double") / col("n_truth").cast("double"))
              .as("recall"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents WHERE doc_id < 1000),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |truth AS (SELECT id_a, id_b FROM (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
              |      / (len(a.shingles) + len(b.shingles)
              |         - len(list_intersect(a.shingles, b.shingles))) AS jac
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE jac >= 0.5),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |approx AS (SELECT id_a, id_b FROM (
              |  SELECT c.id_a, c.id_b,
              |    len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |      / (len(x.shingles) + len(y.shingles)
              |         - len(list_intersect(x.shingles, y.shingles))) AS jac
              |  FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |t AS (SELECT COUNT(*)::BIGINT AS n_truth FROM truth),
              |f AS (SELECT COUNT(*)::BIGINT AS n_found FROM truth
              |  WHERE (id_a, id_b) IN (SELECT (id_a, id_b) FROM approx))
              |SELECT n_truth, n_found, n_truth - n_found AS n_missed,
              |  CASE WHEN n_truth > 0
              |    THEN n_found::DOUBLE / n_truth::DOUBLE ELSE NULL END AS recall
              |FROM t, f""".stripMargin),
      "dedup recall audit: MinHash+LSH pair discovery vs exact all-pairs Jaccard truth " +
        "on a fenced shard — quantifies what banding misses before you trust it at " +
        "100 TB (extension: dedup / evaluation)"),

    CatalogEntry(
      "x93_join_size_sketch",
      (s, dir) => {
        // join-size estimation from the count-min inner product: the
        // self-join cardinality on user_id is Σ c_u², and min_i Σ_j
        // cell[i][j]² upper-bounds it from the same one-pass sketch x84
        // builds — what a planner consults BEFORE committing to a shuffle
        // join at 100 TB. The exact leg (a full groupBy) is the audit.
        val d = 4; val w = 256
        val ev = t(s, dir, "events").select(col("user_id"),
          expr(fingerprintExpr("cast(user_id as string)")).as("kh"))
        val sk = ev.agg(
          graft.functions.CountMinSketch.sketch(col("kh"), d, w).as("sketch"))
        val rows = (0 until d).map(i =>
          expr(s"aggregate(transform(slice(sketch, ${i * w + 1}, $w), x -> x * x), " +
            "CAST(0 AS BIGINT), (a, b) -> a + b)"))
        val est = sk.select(least(rows: _*).as("est_size"))
        val exact = ev.groupBy("user_id").agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).as("exact_size"))
        exact.crossJoin(est)
          .select(col("exact_size"), col("est_size"),
            (col("est_size").cast("double") / col("exact_size").cast("double"))
              .as("over_ratio"))
      },
      Some(s"""WITH k AS (SELECT user_id, ${dPoly("CAST(user_id AS VARCHAR)")} AS kh,
              |  COUNT(*)::BIGINT AS c FROM events GROUP BY 1, 2),
              |h AS (SELECT kh, c, r.i,
              |    ((((1 + r.i * 2654435761) % $Prime) * kh + (7 + r.i * 40503)) % $Prime) % 256 AS j
              |  FROM k, range(0, 4) r(i)),
              |cells AS (SELECT i, j, CAST(SUM(c) AS BIGINT) AS cell FROM h GROUP BY 1, 2),
              |ip AS (SELECT i, CAST(SUM(cell * cell) AS BIGINT) AS s FROM cells GROUP BY 1),
              |est AS (SELECT MIN(s) AS est_size FROM ip),
              |ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_size FROM k)
              |SELECT exact_size, est_size,
              |  est_size::DOUBLE / exact_size::DOUBLE AS over_ratio
              |FROM ex, est""".stripMargin),
      "self-join cardinality (Σc²) estimated by the count-min inner product vs the " +
        "exact aggregate — sketch-driven join planning, always an upper bound " +
        "(extension: sketches / planning)"),

    CatalogEntry(
      "x94_anomaly_days",
      (s, dir) => {
        // robust time-series anomaly flagging: a day is anomalous for an
        // event type when its count deviates from the type's median daily
        // count by more than 3×MAD. Median over integer counts is
        // dyadic-exact (x77's rule), and so is the MAD (median of |x-med|,
        // values carrying ≤1 fraction bit). Two tiny per-type aggregates;
        // the daily count table is the only corpus-sized shuffle.
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"))
        val med = daily.groupBy("event_type")
          .agg(expr("percentile(n, 0.5)").as("med"))
        val mad = daily.join(med, "event_type")
          .groupBy(col("event_type"), col("med"))
          .agg(expr("percentile(abs(n - med), 0.5)").as("mad"))
        daily.join(mad, "event_type")
          .where(abs(col("n") - col("med")) > lit(3.0) * col("mad"))
          .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             |    COUNT(*)::BIGINT AS n FROM events GROUP BY 1, 2),
             |med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
             |  FROM daily GROUP BY 1),
             |mad AS (SELECT d.event_type, med, quantile_cont(abs(n - med), 0.5) AS mad
             |  FROM daily d JOIN med m ON d.event_type = m.event_type GROUP BY 1, 2)
             |SELECT d.event_type, day, n, m.med, m.mad
             |FROM daily d JOIN mad m ON d.event_type = m.event_type
             |WHERE abs(n - m.med) > 3.0 * m.mad
             |ORDER BY 1, 2""".stripMargin),
      "median±3×MAD anomaly days per event type: the robust volume monitor over a " +
        "daily count table — corpus shuffles once, the per-type stats are tiny " +
        "(extension: events / monitoring)"),

    CatalogEntry(
      "x95_score_calibration",
      (s, dir) => {
        // cross-source score calibration: raw n_chars is incomparable
        // across sources with different length distributions; its
        // within-source percent_rank is uniform by construction. The
        // decile histogram per source demonstrates the flattening — the
        // move that makes a single quality threshold meaningful corpus-wide.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("n_chars", "doc_id")
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("pr", percent_rank().over(w))
          .select(col("source"),
            least(floor(col("pr") * 10).cast("int"), lit(9)).as("decile"))
          .groupBy("source", "decile").agg(count(lit(1)).as("n"))
          .orderBy("source", "decile")
      },
      Some("""WITH pr AS (SELECT source, doc_id, n_chars,
             |    percent_rank() OVER (PARTITION BY source
             |      ORDER BY n_chars, doc_id) AS pr FROM documents)
             |SELECT source, LEAST(CAST(floor(pr * 10) AS INTEGER), 9) AS decile,
             |  COUNT(*)::BIGINT AS n
             |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "within-source percent_rank calibration of a raw score + per-source decile " +
        "histogram — aligns incomparable source distributions so one corpus-wide " +
        "threshold works (extension: data quality / curation)"),

    CatalogEntry(
      "x96_boilerplate_ratio",
      (s, dir) => {
        // boilerplate detection: fingerprint non-overlapping 16-token
        // chunks, count each fingerprint across the WHOLE corpus, and score
        // every doc by the fraction of its chunks that also appear
        // elsewhere — headers/footers/licenses light up. One chunk-level
        // shuffle (map-side combined counts), one join back. Chunk fps
        // come from the native span-hash kernel (one pass over the text,
        // no rebuilt chunk strings).
        val chunks = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(expr("graft_chunk_hashes(text, 16)")).as("fp"))
        val counts = chunks.groupBy("fp").agg(count(lit(1)).as("cnt"))
        chunks.join(counts, "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_shared"))
          .select(col("doc_id"), col("n_chunks"), col("n_shared"),
            (col("n_shared").cast("double") / col("n_chunks").cast("double"))
              .as("boilerplate_ratio"))
          .where(col("n_shared") > 0)
          .orderBy(desc("boilerplate_ratio"), asc("doc_id"))
          .limit(50)
      },
      Some(s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS lst
              |  FROM documents WHERE len(string_split(text, ' ')) >= 16),
              |chunks AS (SELECT doc_id, unnest(list_transform(range(0, len(lst) // 16),
              |    i -> ${dPoly("array_to_string(lst[i * 16 + 1 : i * 16 + 16], ' ')")})) AS fp
              |  FROM base),
              |counts AS (SELECT fp, COUNT(*)::BIGINT AS cnt FROM chunks GROUP BY 1),
              |sc AS (SELECT doc_id, COUNT(*)::BIGINT AS n_chunks,
              |    CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
              |  FROM chunks c JOIN counts t ON c.fp = t.fp GROUP BY 1)
              |SELECT doc_id, n_chunks, n_shared,
              |  n_shared::DOUBLE / n_chunks::DOUBLE AS boilerplate_ratio
              |FROM sc WHERE n_shared > 0
              |ORDER BY boilerplate_ratio DESC, doc_id LIMIT 50""".stripMargin),
      "cross-corpus repeated-chunk (boilerplate) scoring: 16-token chunk fingerprints " +
        "counted corpus-wide, per-doc shared fraction — the header/license detector " +
        "that precedes near-dup removal (extension: dedup / text)"),

    CatalogEntry(
      "x97_negative_sampling",
      (s, dir) => {
        // contrastive-pair generation: for each anchor, 3 deterministic
        // negatives drawn from OTHER labels by salted pair-hash rank —
        // reproducible across runs/partitionings (Sampling's rule on the
        // pair key), no RNG state to ship. Anchors broadcast (bounded);
        // rank is a per-anchor window on the hash axis.
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
        val anchors = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"))
        val pairHash = fingerprintExpr(
          "concat('neg:', cast(anchor_id as string), ':', cast(vec_id as string))")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("anchor_id").orderBy("h", "neg_id")
        broadcast(anchors).join(e, col("label") =!= col("anchor_label"))
          .select(col("anchor_id"), col("vec_id").as("neg_id"),
            expr(pairHash).as("h"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select("anchor_id", "neg_id", "rank")
          .orderBy("anchor_id", "rank")
      },
      Some(s"""WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label
              |  FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT a.anchor_id, e.vec_id AS neg_id,
              |    ${dPoly("'neg:' || anchor_id || ':' || e.vec_id")} AS h
              |  FROM a JOIN embeddings e ON e.label <> a.anchor_label),
              |r AS (SELECT anchor_id, neg_id,
              |    row_number() OVER (PARTITION BY anchor_id ORDER BY h, neg_id) AS rank
              |  FROM c)
              |SELECT anchor_id, neg_id, rank FROM r WHERE rank <= 3
              |ORDER BY 1, 3""".stripMargin),
      "deterministic negative sampling for contrastive training: per-anchor top-3 " +
        "different-label candidates by salted pair-hash rank — reproducible pair " +
        "generation without RNG state (extension: sampling / training prep)"),

    CatalogEntry(
      "x98_psi_drift",
      (s, dir) => {
        // population stability index per event type between the month's
        // halves: PSI = Σ_b (p_b - q_b)·ln(p_b/q_b) over 10 fixed
        // value-milli bands, add-one smoothed so empty bands stay finite.
        // Each term is rounded to integer micro-nats before the per-type
        // sum (the x81 rule); one corpus shuffle builds the band counts.
        import s.implicits._
        val ev = t(s, dir, "events").select(col("event_type"),
          expr("least(cast(floor(value * 1000) as bigint) div 50000, 9)").as("band"),
          when(expr("(ts div 1000) div 86400000000") % 31 < 15, lit("a"))
            .otherwise(lit("b")).as("half"))
        val counts = ev.groupBy("event_type", "band", "half")
          .agg(count(lit(1)).as("c"))
        val tot = ev.groupBy("event_type", "half").agg(count(lit(1)).as("n"))
        // dense (type, half) × band grid so empty bands still get smoothed mass
        val grid = tot.crossJoin((0L to 9L).toDF("band"))
        val p = grid.join(counts, Seq("event_type", "band", "half"), "left")
          .select(col("event_type"), col("band"), col("half"),
            ((coalesce(col("c"), lit(0L)) + 1).cast("double") /
              (col("n") + 10).cast("double")).as("share"))
        val wide = p.groupBy("event_type", "band")
          .agg(max(when(col("half") === "a", col("share"))).as("pa"),
            max(when(col("half") === "b", col("share"))).as("pb"))
        wide.select(col("event_type"),
          round((col("pa") - col("pb")) * log(col("pa") / col("pb")) * lit(1e6))
            .cast("long").as("term"))
          .groupBy("event_type").agg(sum("term").as("psi_micro"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |    LEAST(CAST(floor(value * 1000) AS BIGINT) // 50000, 9) AS band,
             |    CASE WHEN (epoch_us(ts) // 86400000000) % 31 < 15
             |      THEN 'a' ELSE 'b' END AS half FROM events),
             |counts AS (SELECT event_type, band, half, COUNT(*)::BIGINT AS c
             |  FROM ev GROUP BY 1, 2, 3),
             |tot AS (SELECT event_type, half, COUNT(*)::BIGINT AS n
             |  FROM ev GROUP BY 1, 2),
             |grid AS (SELECT event_type, half, n, b.band
             |  FROM tot, (SELECT unnest(range(0, 10)) AS band) b),
             |p AS (SELECT g.event_type, g.band, g.half,
             |    (COALESCE(c.c, 0) + 1)::DOUBLE / (g.n + 10)::DOUBLE AS share
             |  FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type
             |    AND g.band = c.band AND g.half = c.half),
             |wide AS (SELECT event_type, band,
             |    MAX(CASE WHEN half = 'a' THEN share END) AS pa,
             |    MAX(CASE WHEN half = 'b' THEN share END) AS pb
             |  FROM p GROUP BY 1, 2)
             |SELECT event_type,
             |  CAST(SUM(CAST(round((pa - pb) * ln(pa / pb) * 1000000.0) AS BIGINT))
             |    AS BIGINT) AS psi_micro
             |FROM wide GROUP BY 1 ORDER BY 1""".stripMargin),
      "population stability index per event type between month halves: 10 fixed " +
        "milli-unit bands, add-one smoothing, integer micro-nat terms — the standard " +
        "distribution-drift monitor for a serving/training split " +
        "(extension: monitoring)"),

    CatalogEntry(
      "x99_dup_rate_ci",
      (s, dir) => {
        // audit numbers need error bars: the per-source exact-dup rate
        // (x88's signal) with its Wilson 95% interval, so a small source's
        // noisy 12% and a large source's solid 12% stop looking alike.
        // All inputs are exact integer counts; the interval itself is
        // per-row scalar double (sqrt precedent: cosine distances).
        val z2 = 1.96 * 1.96
        val d = t(s, dir, "documents").select(col("source"),
          expr("graft_poly_hash(lower(trim(text)))").as("fp"))
        val base = d.groupBy("source").agg(
          count(lit(1)).as("n"),
          countDistinct(col("fp")).as("nd"))
          .withColumn("p", (col("n") - col("nd")).cast("double") / col("n").cast("double"))
        base.select(col("source"), col("n"), col("p").as("dup_rate"),
          ((col("p") + lit(z2) / (col("n") * 2) -
            lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
              lit(z2) / (col("n") * col("n") * 4))) /
            (lit(1.0) + lit(z2) / col("n"))).as("ci_lo"),
          ((col("p") + lit(z2) / (col("n") * 2) +
            lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
              lit(z2) / (col("n") * col("n") * 4))) /
            (lit(1.0) + lit(z2) / col("n"))).as("ci_hi"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT source, ${dPoly("lower(trim(text))")} AS fp
              |  FROM documents),
              |b AS (SELECT source, COUNT(*)::BIGINT AS n,
              |    COUNT(DISTINCT fp) AS nd FROM d GROUP BY 1),
              |p AS (SELECT source, n,
              |    (n - nd)::DOUBLE / n::DOUBLE AS p FROM b)
              |SELECT source, n, p AS dup_rate,
              |  (p + (1.96::DOUBLE * 1.96::DOUBLE) / (n * 2)
              |     - 1.96::DOUBLE * sqrt(p * (1.0::DOUBLE - p) / n
              |       + (1.96::DOUBLE * 1.96::DOUBLE) / (n * n * 4)))
              |    / (1.0::DOUBLE + (1.96::DOUBLE * 1.96::DOUBLE) / n) AS ci_lo,
              |  (p + (1.96::DOUBLE * 1.96::DOUBLE) / (n * 2)
              |     + 1.96::DOUBLE * sqrt(p * (1.0::DOUBLE - p) / n
              |       + (1.96::DOUBLE * 1.96::DOUBLE) / (n * n * 4)))
              |    / (1.0::DOUBLE + (1.96::DOUBLE * 1.96::DOUBLE) / n) AS ci_hi
              |FROM p ORDER BY 1""".stripMargin),
      "per-source exact-dup rate with Wilson 95% interval — audit metrics with error " +
        "bars, so small-sample rates carry their uncertainty " +
        "(extension: data quality / reporting)"),

    CatalogEntry(
      "x100_pipeline_card",
      (s, dir) => {
        // the capstone pipeline a corpus release actually runs: quality
        // filter (x02) → boilerplate filter (x96, computed over the
        // survivors) → exact dedup (x05) → near-dup removal (x07) →
        // per-source dataset card (x88's volume leg). Every stage is the
        // already-proven operator; chunk-less docs pass the boilerplate
        // stage by definition.
        val docs = t(s, dir, "documents")
        val quality = docs
          .select(col("doc_id"), col("source"), col("text"),
            TextFunctions.qualityScore(TextFunctions.qualitySignals("text")))
          .where(col("quality_score") >= 0.64)
          .select("doc_id", "source", "text")
        // exact dedup runs BEFORE boilerplate: N verbatim copies of a good
        // doc must collapse to one survivor, not inflate chunk counts until
        // the boilerplate stage deletes every copy (found by the stage spec)
        val withFp = quality.withColumn("fp", expr("graft_poly_hash(lower(trim(text)))"))
        val keepers = withFp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        // staging barrier, as in x17: exactKept feeds the chunk table, the
        // ratio join, the signature table, and the final anti-join
        val exactKept = withFp
          .join(keepers, Seq("fp", "doc_id"), "left_semi")
          .select("doc_id", "source", "text")
          .cache()
        // chunk fps from the native span-hash kernel: one pass over the
        // text, identical values to the rebuilt-chunk-string polyhash
        val chunks = exactKept
          .select(col("doc_id"),
            explode(expr("graft_chunk_hashes(text, 16)")).as("cfp"))
        val cnt = chunks.groupBy("cfp").agg(count(lit(1)).as("cnt"))
        val ratios = chunks.join(cnt, "cfp").groupBy("doc_id")
          .agg(count(lit(1)).as("nc"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("nsh"))
        // barrier: afterBp feeds both the near-dup mine and the final
        // anti-join — lazy, the chunk explode + count subtree above is
        // re-evaluated per consumer; checkpoint it once (x103 carries
        // the same barrier for the same reason)
        val afterBp = exactKept.join(ratios, Seq("doc_id"), "left")
          .where(col("nsh").isNull ||
            col("nsh").cast("double") / col("nc").cast("double") <= 0.5)
          .select("doc_id", "source", "text")
          .localCheckpoint()
        val drops = Dedup
          .minhashNearDups(afterBp, k = 16, bands = 8, shingleN = 3, threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        afterBp.join(drops, Seq("doc_id"), "left_anti")
          .select(col("source"), tokenCount("text").cast("long").as("nt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("total_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH base0 AS (
              |  SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents),
              |scored AS (
              |  SELECT doc_id, source, text,
              |    least(len(toks)::DOUBLE / 100.0, 1.0) * 0.3
              |    + len(list_distinct(toks))::DOUBLE / len(toks) * 0.4
              |    + (1.0 - abs(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
              |                 / len(toks) - 0.08)) * 0.3 AS score
              |  FROM base0),
              |q AS (SELECT doc_id, source, text FROM scored WHERE score >= 0.64),
              |fps AS (SELECT doc_id, source, text, ${dPoly("lower(trim(text))")} AS fp FROM q),
              |keep AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp),
              |ek0 AS (SELECT f.doc_id, f.source, f.text FROM fps f
              |       JOIN keep k ON f.fp = k.fp AND f.doc_id = k.keep_id),
              |bp0 AS (SELECT doc_id, string_split(text, ' ') AS lst FROM ek0
              |  WHERE len(string_split(text, ' ')) >= 16),
              |bchunks AS (SELECT doc_id, unnest(list_transform(range(0, len(lst) // 16),
              |    i -> ${dPoly("array_to_string(lst[i * 16 + 1 : i * 16 + 16], ' ')")})) AS cfp
              |  FROM bp0),
              |bcnt AS (SELECT cfp, COUNT(*)::BIGINT AS cnt FROM bchunks GROUP BY 1),
              |brat AS (SELECT doc_id, COUNT(*)::BIGINT AS nc,
              |    CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS nsh
              |  FROM bchunks c JOIN bcnt t ON c.cfp = t.cfp GROUP BY 1),
              |ek AS (SELECT e.doc_id, e.source, e.text FROM ek0 e LEFT JOIN brat b
              |  ON e.doc_id = b.doc_id
              |  WHERE b.doc_id IS NULL OR b.nsh::DOUBLE / b.nc::DOUBLE <= 0.5),
              |base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM ek),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT * FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |fin AS (SELECT doc_id, source, text FROM ek
              |  WHERE doc_id NOT IN (SELECT id_b FROM pairs))
              |SELECT source, COUNT(*)::BIGINT AS n_docs,
              |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
              |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),
      "the release pipeline end-to-end: quality → exact dedup → boilerplate → " +
        "near-dup removal → per-source dataset card — dedup precedes boilerplate so " +
        "verbatim copies collapse to a survivor instead of deleting each other " +
        "(extension: pipeline composition)"),

    CatalogEntry(
      "x101_posting_probe",
      (s, dir) => {
        // x87's substring search, but against the PERSISTED trigram index
        // (Layouts.postingIndex — term-sorted parquet, staged once per
        // fixture dir and reused): the probe reads the index's matching
        // term ranges plus the candidate docs; the corpus text column never
        // enters the candidate scan. Same result set as x87, so the same
        // oracle gates it — what changes is WHERE the trigrams come from.
        // Probe body + oracle shared verbatim with x157 (postingSearch).
        postingSearch(s, dir, stagedPostingIndex(s, dir))
      },
      Some(dPostingSearchOracle),
      "substring search probing the persisted term-sorted posting index " +
        "(Layouts.postingIndex) instead of rebuilding it per query — the write-once, " +
        "probe-many layout the 100 TB claim rests on (extension: retrieval)"),

    CatalogEntry(
      "x102_boilerplate_excision",
      (s, dir) => {
        // x96 SCORES boilerplate; this REMOVES it: fingerprint the same
        // non-overlapping 16-token chunks, drop every chunk whose
        // fingerprint appears in more than one document, and positionally
        // reassemble what's left (sort_array on (pos, chunk) structs, then
        // concat) — the CCNet-style line-excision stage re-based onto
        // sentence-less fixture text. Shuffles: one chunk-fingerprint
        // count (map-side combined), one left_anti against the hot set,
        // one per-doc reassembly agg; collect_list is bounded by a single
        // document's chunk count, never the corpus. Docs whose chunks are
        // ALL boilerplate drop out entirely — that is the point.
        // chunk fps come positionally from the native span-hash kernel
        // (element i+1 is chunk i's fp); only the kept chunks' TEXT still
        // needs the concat_ws rebuild — cheap codegen, no interpreted fold
        val chunkTxt = "concat_ws(' ', slice(toks, i * 16 + 1, 16))"
        val chunks = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"),
            expr("graft_chunk_hashes(text, 16)").as("fps"))
          .where(size(col("toks")) >= 16)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(0, CAST(size(toks) / 16 AS INT) - 1), " +
              s"i -> struct(i AS pos, $chunkTxt AS chunk, " +
              s"element_at(fps, i + 1) AS fp))")).as("c"))
          .select(col("doc_id"), col("c.pos").as("pos"),
            col("c.chunk").as("chunk"), col("c.fp").as("fp"))
        val hot = chunks.groupBy("fp")
          .agg(countDistinct("doc_id").as("nd")).where(col("nd") > 1)
          .select("fp")
        chunks.join(hot, Seq("fp"), "left_anti")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept_chunks"),
            concat_ws(" ", expr(
              "transform(array_sort(collect_list(struct(pos, chunk))), s -> s.chunk)"))
              .as("text_clean"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS lst
              |  FROM documents WHERE len(string_split(text, ' ')) >= 16),
              |chunks AS (SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM (
              |  SELECT doc_id, unnest(list_transform(range(0, len(lst) // 16),
              |    i -> {'pos': i,
              |          'chunk': array_to_string(lst[i * 16 + 1 : i * 16 + 16], ' ')})) AS u
              |  FROM base)),
              |fps AS (SELECT doc_id, pos, chunk, ${dPoly("chunk")} AS fp FROM chunks),
              |hot AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1)
              |SELECT doc_id, COUNT(*)::BIGINT AS n_kept_chunks,
              |  string_agg(chunk, ' ' ORDER BY pos) AS text_clean
              |FROM fps WHERE fp NOT IN (SELECT fp FROM hot)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "boilerplate EXCISION: drop 16-token chunks shared across documents and " +
        "positionally rebuild the cleaned text — x96's score turned into the " +
        "transform a release pipeline actually applies (extension: dedup / cleaning)"),

    CatalogEntry(
      "x103_curation_manifest",
      (s, dir) => {
        // x100's pipeline, re-emitted as the PROVENANCE artifact a release
        // ships: one row per corpus document with the stage that dropped
        // it (quality / exact_dup / boilerplate / near_dup) or 'kept'.
        // Stage membership tables are the same frames x100 builds; the
        // manifest is four equi left-joins of their ids onto the corpus
        // spine — auditable curation, no new shuffle shapes.
        val docs = t(s, dir, "documents")
        val quality = docs
          .select(col("doc_id"), col("source"), col("text"),
            TextFunctions.qualityScore(TextFunctions.qualitySignals("text")))
          .where(col("quality_score") >= 0.64)
          .select("doc_id", "source", "text")
        val withFp = quality.withColumn("fp", expr("graft_poly_hash(lower(trim(text)))"))
        val keepers = withFp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        val exactKept = withFp
          .join(keepers, Seq("fp", "doc_id"), "left_semi")
          .select("doc_id", "source", "text")
          .cache() // x100's staging barrier: feeds chunks, ratios, sigs, joins
        // chunk fps from the native span-hash kernel: one pass over the
        // text, identical values to the rebuilt-chunk-string polyhash
        val chunks = exactKept
          .select(col("doc_id"),
            explode(expr("graft_chunk_hashes(text, 16)")).as("cfp"))
        val cnt = chunks.groupBy("cfp").agg(count(lit(1)).as("cnt"))
        val ratios = chunks.join(cnt, "cfp").groupBy("doc_id")
          .agg(count(lit(1)).as("nc"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("nsh"))
        // barrier: afterBp feeds the near-dup mine, the fin anti-join AND
        // the in_bp manifest join — lazy, the chunk explode + count
        // subtree above re-evaluated once per consumer (three times,
        // measured on the r18 before-window); checkpoint it once
        val afterBp = exactKept.join(ratios, Seq("doc_id"), "left")
          .where(col("nsh").isNull ||
            col("nsh").cast("double") / col("nc").cast("double") <= 0.5)
          .select("doc_id", "source", "text")
          .localCheckpoint()
        val drops = Dedup
          .minhashNearDups(afterBp, k = 16, bands = 8, shingleN = 3, threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        val fin = afterBp.join(drops, Seq("doc_id"), "left_anti")
        def ids(df: DataFrame, flag: String) =
          df.select(col("doc_id")).withColumn(flag, lit(true))
        docs.select("doc_id")
          .join(ids(quality, "in_q"), Seq("doc_id"), "left")
          .join(ids(exactKept, "in_ek"), Seq("doc_id"), "left")
          .join(ids(afterBp, "in_bp"), Seq("doc_id"), "left")
          .join(ids(fin, "in_fin"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("in_fin"), "kept")
              .when(col("in_bp"), "near_dup")
              .when(col("in_ek"), "boilerplate")
              .when(col("in_q"), "exact_dup")
              .otherwise("quality").as("decision"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base0 AS (
              |  SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents),
              |scored AS (
              |  SELECT doc_id, source, text,
              |    least(len(toks)::DOUBLE / 100.0, 1.0) * 0.3
              |    + len(list_distinct(toks))::DOUBLE / len(toks) * 0.4
              |    + (1.0 - abs(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
              |                 / len(toks) - 0.08)) * 0.3 AS score
              |  FROM base0),
              |q AS (SELECT doc_id, source, text FROM scored WHERE score >= 0.64),
              |fps AS (SELECT doc_id, source, text, ${dPoly("lower(trim(text))")} AS fp FROM q),
              |keep AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp),
              |ek0 AS (SELECT f.doc_id, f.source, f.text FROM fps f
              |       JOIN keep k ON f.fp = k.fp AND f.doc_id = k.keep_id),
              |bp0 AS (SELECT doc_id, string_split(text, ' ') AS lst FROM ek0
              |  WHERE len(string_split(text, ' ')) >= 16),
              |bchunks AS (SELECT doc_id, unnest(list_transform(range(0, len(lst) // 16),
              |    i -> ${dPoly("array_to_string(lst[i * 16 + 1 : i * 16 + 16], ' ')")})) AS cfp
              |  FROM bp0),
              |bcnt AS (SELECT cfp, COUNT(*)::BIGINT AS cnt FROM bchunks GROUP BY 1),
              |brat AS (SELECT doc_id, COUNT(*)::BIGINT AS nc,
              |    CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS nsh
              |  FROM bchunks c JOIN bcnt t ON c.cfp = t.cfp GROUP BY 1),
              |ek AS (SELECT e.doc_id, e.source, e.text FROM ek0 e LEFT JOIN brat b
              |  ON e.doc_id = b.doc_id
              |  WHERE b.doc_id IS NULL OR b.nsh::DOUBLE / b.nc::DOUBLE <= 0.5),
              |base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM ek),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT * FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |fin AS (SELECT doc_id FROM ek
              |  WHERE doc_id NOT IN (SELECT id_b FROM pairs))
              |SELECT d.doc_id,
              |  CASE WHEN f.doc_id IS NOT NULL THEN 'kept'
              |       WHEN e2.doc_id IS NOT NULL THEN 'near_dup'
              |       WHEN e1.doc_id IS NOT NULL THEN 'boilerplate'
              |       WHEN q1.doc_id IS NOT NULL THEN 'exact_dup'
              |       ELSE 'quality' END AS decision
              |FROM documents d
              |LEFT JOIN q q1 ON d.doc_id = q1.doc_id
              |LEFT JOIN ek0 e1 ON d.doc_id = e1.doc_id
              |LEFT JOIN ek e2 ON d.doc_id = e2.doc_id
              |LEFT JOIN fin f ON d.doc_id = f.doc_id
              |ORDER BY d.doc_id""".stripMargin),
      "curation manifest: per-document keep/drop decision with the dropping stage " +
        "(quality / exact_dup / boilerplate / near_dup / kept) — x100's pipeline " +
        "re-emitted as the provenance artifact a corpus release ships " +
        "(extension: pipeline composition / governance)"),

    CatalogEntry(
      "x104_release_diff",
      (s, dir) => {
        // release-to-release corpus diff: full-outer join two versions on
        // doc_id and classify added / removed / changed / unchanged by
        // content fingerprint — the changelog a dataset release publishes.
        // Versions are carved deterministically from the fixture (v1 skips
        // id%5==0, v2 skips id%7==0 and rewrites text for id%11==0), so the
        // oracle replays them exactly. One equi-shuffle on doc_id; the
        // fingerprint compare is map-side.
        val docs = t(s, dir, "documents")
        val v1 = docs.where(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), expr("graft_poly_hash(text)").as("fp1"))
        val v2 = docs.where(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), expr(
            "graft_poly_hash(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END)")
            .as("fp2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("fp1").isNull, "added")
              .when(col("fp2").isNull, "removed")
              .when(col("fp1") === col("fp2"), "unchanged")
              .otherwise("changed").as("status"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
          .orderBy("status")
      },
      Some(s"""WITH v1 AS (SELECT doc_id, ${dPoly("text")} AS fp1
              |  FROM documents WHERE doc_id % 5 <> 0),
              |v2 AS (SELECT doc_id,
              |    ${dPoly("CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END")} AS fp2
              |  FROM documents WHERE doc_id % 7 <> 0),
              |d AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
              |    CASE WHEN v1.doc_id IS NULL THEN 'added'
              |         WHEN v2.doc_id IS NULL THEN 'removed'
              |         WHEN fp1 = fp2 THEN 'unchanged'
              |         ELSE 'changed' END AS status
              |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
              |SELECT status, COUNT(*)::BIGINT AS n_docs,
              |  MIN(doc_id) AS first_doc
              |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),
      "release-to-release corpus diff: full-outer fingerprint join classifying " +
        "added / removed / changed / unchanged — the dataset changelog, one doc_id " +
        "shuffle (extension: governance)"),

    CatalogEntry(
      "x105_knn_label",
      (s, dir) => {
        // k-NN label propagation: predict each fenced query vector's label
        // by majority vote over its 10 nearest corpus neighbors (cosine) —
        // the weak-labeling / auto-annotation step a curation pipeline runs
        // before training a filter model. Query side is a bounded fence
        // (broadcast, x10 pattern); vote + argmax are one hash-aggregate and
        // a per-query WindowGroupLimit. 100 TB path: swap bruteForceTopK for
        // the IVF probe (x18) — the vote/argmax tail is unchanged.
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 50)
        val c = e.where(col("vec_id") >= 50)
        val votes = SimilaritySearch.bruteForceTopK(q, c, k = 10)
          .join(c.select(col("vec_id").as("corpus_id"),
            col("label").cast("long").as("nbr_label")), "corpus_id")
          .groupBy("query_id", "nbr_label")
          .agg(count(lit(1)).as("n_votes"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("n_votes").desc, col("nbr_label"))
        votes.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
          .join(q.select(col("vec_id").as("query_id"),
            col("label").cast("long").as("true_label")), "query_id")
          .select(col("query_id"), col("true_label"),
            col("nbr_label").as("pred_label"), col("n_votes"))
          .orderBy("query_id")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
              |    FROM embeddings WHERE vec_id < 50),
              |c AS (SELECT vec_id AS corpus_id, embedding AS cv, label
              |    FROM embeddings WHERE vec_id >= 50),
              |nn AS (SELECT query_id, corpus_id FROM (
              |    SELECT q.query_id, c.corpus_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("qv", "cv")} DESC, c.corpus_id) AS rank
              |    FROM q, c) WHERE rank <= 10),
              |votes AS (SELECT nn.query_id, c.label::BIGINT AS nbr_label,
              |    COUNT(*)::BIGINT AS n_votes
              |  FROM nn JOIN c ON nn.corpus_id = c.corpus_id GROUP BY 1, 2),
              |pred AS (SELECT query_id, nbr_label, n_votes,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY n_votes DESC, nbr_label) AS rk FROM votes)
              |SELECT p.query_id, q.label::BIGINT AS true_label,
              |  p.nbr_label AS pred_label, p.n_votes
              |FROM pred p JOIN q ON p.query_id = q.query_id
              |WHERE rk = 1 ORDER BY 1""".stripMargin),
      "k-NN label propagation: majority vote over 10 nearest corpus neighbors per " +
        "fenced query vector — weak labeling for curation filters; broadcast query " +
        "fence + hash-aggregate vote (extension: similarity search / labeling)"),

    CatalogEntry(
      "x106_adaptive_cutoff",
      (s, dir) => {
        // per-source adaptive quality cutoff: keep the top 80% of documents
        // WITHIN each source by composite quality score (x02's), instead of
        // one global threshold that over-prunes weak sources and under-prunes
        // strong ones. percent_rank needs one shuffle on source; at 100 TB
        // swap it for the two-pass per-group approx-quantile threshold
        // broadcast (x56 pattern) so no source ever sorts in one task.
        val sig = TextFunctions.qualitySignals("text")
        val scored = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), sig.as("sig"))
          .select(col("doc_id"), col("source"),
            TextFunctions.qualityScore(col("sig")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("quality_score"), col("doc_id"))
        scored.withColumn("pr", percent_rank().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("pr") >= 0.2, 1L).otherwise(0L)).as("n_kept"),
            min(when(col("pr") >= 0.2, col("quality_score"))).as("min_kept_score"))
          .orderBy("source")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents),
             |sig AS (
             |  SELECT doc_id, source,
             |    len(toks)::BIGINT AS n_tokens,
             |    len(list_distinct(toks))::DOUBLE / len(toks) AS type_token_ratio,
             |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
             |      / len(toks) AS stopword_ratio
             |  FROM base),
             |scored AS (
             |  SELECT doc_id, source,
             |    least(n_tokens::DOUBLE / 100.0, 1.0::DOUBLE) * 0.3::DOUBLE
             |      + type_token_ratio * 0.4::DOUBLE
             |      + (1.0::DOUBLE - abs(stopword_ratio - 0.08::DOUBLE)) * 0.3::DOUBLE
             |      AS quality_score
             |  FROM sig),
             |ranked AS (
             |  SELECT source, quality_score,
             |    PERCENT_RANK() OVER (PARTITION BY source
             |      ORDER BY quality_score, doc_id) AS pr
             |  FROM scored)
             |SELECT source, COUNT(*)::BIGINT AS n_total,
             |  CAST(SUM(CASE WHEN pr >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  MIN(CASE WHEN pr >= 0.2 THEN quality_score END) AS min_kept_score
             |FROM ranked GROUP BY 1 ORDER BY source""".stripMargin),
      "per-source adaptive quality cutoff: keep the top 80% within each source by " +
        "composite score — stratified pruning so weak sources aren't globally " +
        "crushed; one source-keyed window shuffle (extension: data quality / curation)"),

    CatalogEntry(
      "x107_hll_audit",
      (s, dir) => {
        // distinct-token cardinality per source: the exact count next to the
        // HLL++ sketch estimate (rsd 5%), asserting the estimate lands within
        // 3 sigma. At 100 TB the exact leg is the audit run on a shard and
        // the sketch is the production path — approx_count_distinct's buffer
        // is mergeable, so partials combine map-side with no distinct-shuffle.
        val toks = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        toks.groupBy("source")
          .agg(countDistinct(col("tok")).as("n_exact"),
            approx_count_distinct(col("tok"), rsd = 0.05).as("n_hll"))
          .select(col("source"), col("n_exact"),
            (abs(col("n_hll") - col("n_exact")).cast("double") <=
              col("n_exact").cast("double") * 0.15).as("hll_ok"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(DISTINCT tok)::BIGINT AS n_exact, TRUE AS hll_ok
             |FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
             |GROUP BY 1 ORDER BY source""".stripMargin),
      "cardinality audit: exact distinct tokens per source next to the HLL++ " +
        "estimate with a 3-sigma acceptance bound — the production sketch ships " +
        "with its own accuracy check, x91 pattern (extension: sketches / evaluation)"),

    CatalogEntry(
      "x108_bigram_coverage",
      (s, dir) => {
        // Zipf coverage curve over the bigram vocabulary (916 distinct at
        // sf0.01; unigrams are a 31-word salad — vacuous): what share of all
        // bigram occurrences do the top-{50,200,500} types cover? The
        // tokenizer-budget question. Vocab aggregate is one shuffle; the
        // ordered cumulative sum runs over the VOCAB (types, not tokens) —
        // bounded by |V|, fine in one window partition even at 100 TB corpus
        // scale since |V| grows sub-linearly.
        // size >= 2 guard: Spark's sequence(0, -1) defaults to step -1 and
        // yields [0, -1] — a single-token doc would inject two NULL
        // bigrams (out-of-bound subscripts) where the oracle's range(1,
        // len) is empty; the filter makes the degenerate doc contribute
        // zero bigrams on both legs
        val bg = t(s, dir, "documents")
          .select(split(col("text"), " ").as("toks"))
          .where(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
            .as("bigram"))
        val vocab = bg.groupBy("bigram").agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("bigram"))
        val total = vocab.agg(sum("n").as("n_total"))
        // rank/cum_n are only consumed at ranks ≤ 500, so the global
        // TakeOrdered(500) bounds the single-partition window at 500 rows
        // (r19 WindowExec audit: this was the one unpartitioned window
        // over an UNBOUNDED input — the full bigram vocabulary — in the
        // catalog; the top-500 prefix carries identical rank and
        // cumulative sums for every emitted row)
        vocab.orderBy(col("n").desc, col("bigram")).limit(500)
          .withColumn("rank", row_number().over(w))
          .withColumn("cum_n", sum("n").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .where(col("rank").isin(50, 200, 500))
          .crossJoin(broadcast(total))
          .select(col("rank").cast("long").as("rank"), col("cum_n"),
            col("n_total"),
            (col("cum_n").cast("double") / col("n_total").cast("double")).as("coverage"))
          .orderBy("rank")
      },
      Some("""WITH bg AS (
             |  SELECT toks[i] || ' ' || toks[i+1] AS bigram FROM (
             |    SELECT string_split(text, ' ') AS toks,
             |      unnest(range(1, len(string_split(text, ' ')))) AS i
             |    FROM documents)),
             |vocab AS (SELECT bigram, COUNT(*)::BIGINT AS n FROM bg GROUP BY 1),
             |ranked AS (SELECT bigram, n,
             |    ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rank,
             |    SUM(n) OVER (ORDER BY n DESC, bigram
             |      ROWS UNBOUNDED PRECEDING) AS cum_n
             |  FROM vocab)
             |SELECT CAST(rank AS BIGINT) AS rank, CAST(cum_n AS BIGINT) AS cum_n,
             |  (SELECT CAST(SUM(n) AS BIGINT) FROM vocab) AS n_total,
             |  cum_n::DOUBLE / (SELECT SUM(n) FROM vocab)::DOUBLE AS coverage
             |FROM ranked WHERE rank IN (50, 200, 500) ORDER BY rank""".stripMargin),
      "Zipf coverage curve over the bigram vocabulary: corpus share covered by the " +
        "top-{50,200,500} types — the tokenizer-budget curve; vocab-sized window, " +
        "corpus never sorts (extension: text analysis / tokenizer)"),

    CatalogEntry(
      "x109_label_noise",
      (s, dir) => {
        // leave-one-out kNN label-noise audit on a fenced shard (vec_id<50):
        // each audited vector is re-labeled by the majority of its 10
        // nearest OTHER vectors; a vector whose own label loses that vote
        // is flagged. Output is the per-class noise ledger a curation run
        // acts on. Audit fence broadcasts (x10 pattern), corpus side scans
        // map-side; at 100 TB the audit stays shard-sized and the
        // neighbor probe swaps to IVF (x18) unchanged downstream.
        val e = t(s, dir, "embeddings")
        val q = e.where(col("vec_id") < 50)
        val nn = SimilaritySearch.bruteForceTopK(q, e, k = 11)
          .where(col("query_id") =!= col("corpus_id"))
        val w10 = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
        val votes = nn.withColumn("rk", row_number().over(w10))
          .where(col("rk") <= 10)
          .join(e.select(col("vec_id").as("corpus_id"),
            col("label").cast("long").as("nbr_label")), "corpus_id")
          .groupBy("query_id", "nbr_label")
          .agg(count(lit(1)).as("n_votes"))
        val wv = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("n_votes").desc, col("nbr_label"))
        votes.withColumn("rk", row_number().over(wv)).where(col("rk") === 1)
          .join(q.select(col("vec_id").as("query_id"),
            col("label").cast("long").as("own_label")), "query_id")
          .groupBy(col("own_label").as("label"))
          .agg(count(lit(1)).as("n_audited"),
            sum(when(col("nbr_label") =!= col("own_label"), 1L).otherwise(0L))
              .as("n_noisy"))
          .orderBy("label")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label
              |    FROM embeddings WHERE vec_id < 50),
              |c AS (SELECT vec_id AS corpus_id, embedding AS cv, label FROM embeddings),
              |nn AS (SELECT query_id, corpus_id FROM (
              |    SELECT q.query_id, c.corpus_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("qv", "cv")} DESC, c.corpus_id) AS rank
              |    FROM q, c WHERE q.query_id <> c.corpus_id) WHERE rank <= 10),
              |votes AS (SELECT nn.query_id, c.label::BIGINT AS nbr_label,
              |    COUNT(*)::BIGINT AS n_votes
              |  FROM nn JOIN c ON nn.corpus_id = c.corpus_id GROUP BY 1, 2),
              |pred AS (SELECT query_id, nbr_label,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY n_votes DESC, nbr_label) AS rk FROM votes)
              |SELECT q.label::BIGINT AS label, COUNT(*)::BIGINT AS n_audited,
              |  CAST(SUM(CASE WHEN p.nbr_label <> q.label::BIGINT THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_noisy
              |FROM pred p JOIN q ON p.query_id = q.query_id
              |WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
      "leave-one-out kNN label-noise audit: flag fenced vectors whose own label " +
        "loses the 10-nearest-neighbor majority vote — confident-learning-style " +
        "noise ledger per class (extension: data quality / labeling)"),

    CatalogEntry(
      "x110_bpe_merges",
      (s, dir) => {
        // three unrolled rounds of BPE merge induction. Pair statistics run
        // over (word type, frequency) — never the token stream — so the
        // 100 TB corpus is scanned once for word counts and every round is
        // |V|-sized: adjacent-pair count → global argmax (1-row broadcast)
        // → left-to-right fold merge (aggregate HOF; the merged token
        // can't re-pair with its own right half, matching the scan
        // semantics of reference BPE trainers). `words` is checkpointed so
        // the corpus scan isn't re-inlined per round (x73 lesson).
        val (m1, m2, m3, _) = bpeRounds(s, dir)
        def asRow(r: Int, m: DataFrame): DataFrame = m.select(
          lit(r.toLong).as("round"), col("a").as("pair_left"),
          col("b").as("pair_right"), concat(col("a"), col("b")).as("merged"),
          col("cnt").as("pair_count"))
        asRow(1, m1).unionAll(asRow(2, m2)).unionAll(asRow(3, m3))
          .orderBy("round")
      },
      Some(s"""WITH $dBpeChain
              |SELECT 1::BIGINT AS round, a AS pair_left, b AS pair_right,
              |  a || b AS merged, cnt AS pair_count FROM m1
              |UNION ALL SELECT 2::BIGINT, a, b, a || b, cnt FROM m2
              |UNION ALL SELECT 3::BIGINT, a, b, a || b, cnt FROM m3
              |ORDER BY round""".stripMargin),
      "BPE merge induction, 3 unrolled rounds: adjacent-pair count over the " +
        "frequency-weighted word vocabulary, global argmax, left-to-right fold " +
        "merge — tokenizer training where every round is |V|-sized, the corpus " +
        "is scanned once (extension: text analysis / tokenizer)"),

    CatalogEntry(
      "x111_bpe_apply",
      (s, dir) => {
        // apply the x110 merge table: segment the corpus with the induced
        // tokenizer and report what it bought — corpus token count before
        // (chars) and after, chars-per-token compression, surviving
        // symbol-vocabulary size. Application stays |V|-sized too: token
        // counts re-weight by word frequency instead of re-folding each
        // document (at 100 TB the merge list broadcasts and the same fold
        // runs per document; the arithmetic here is the exact equivalent).
        val (_, _, _, t4) = bpeRounds(s, dir)
        val stats = t4.agg(
          sum("freq").cast("long").as("n_words"),
          sum(col("freq") * length(col("word"))).cast("long").as("n_chars"),
          sum(col("freq") * size(col("toks"))).cast("long").as("n_tokens"))
        val vocab = t4.select(explode(col("toks")).as("tok"))
          .agg(countDistinct("tok").cast("long").as("vocab_size"))
        stats.crossJoin(broadcast(vocab))
          .select(col("n_words"), col("n_chars"), col("n_tokens"),
            (col("n_chars").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"),
            col("vocab_size"))
      },
      Some(s"""WITH $dBpeChain
              |SELECT
              |  (SELECT CAST(SUM(freq) AS BIGINT) FROM t4) AS n_words,
              |  (SELECT CAST(SUM(freq * len(word)) AS BIGINT) FROM t4) AS n_chars,
              |  (SELECT CAST(SUM(freq * len(toks)) AS BIGINT) FROM t4) AS n_tokens,
              |  (SELECT CAST(SUM(freq * len(word)) AS BIGINT) FROM t4)::DOUBLE /
              |    (SELECT CAST(SUM(freq * len(toks)) AS BIGINT) FROM t4)::DOUBLE
              |    AS chars_per_token,
              |  (SELECT COUNT(DISTINCT tok)::BIGINT FROM
              |    (SELECT unnest(toks) AS tok FROM t4)) AS vocab_size""".stripMargin),
      "BPE tokenizer application: corpus char/token counts, chars-per-token " +
        "compression, surviving vocab size after the 3 induced merges — the " +
        "payoff ledger for x110, still |V|-sized (extension: text analysis / tokenizer)"),

    CatalogEntry(
      "x112_mixture_temperature",
      (s, dir) => {
        // temperature-reweighted source mixture (alpha = 0.5): target doc
        // allocation proportional to sqrt(n_source) — upsamples small
        // sources, tempers head domains, the standard mixing step before
        // training. sqrt is IEEE-exact and the denominator sums integer
        // micro-units, so the weights hash-match the oracle bit-for-bit.
        // One tiny per-source aggregate + a 1-row broadcast: corpus-scan
        // once at any scale.
        val n = t(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
        val sq = n.withColumn("sqrt_micro",
          floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0)).cast("long"))
        val tot = sq.agg(sum("sqrt_micro").as("den_micro"),
          sum("n_docs").as("n_total"))
        sq.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            (col("sqrt_micro").cast("double") / col("den_micro").cast("double"))
              .as("weight"),
            floor(col("sqrt_micro").cast("double") / col("den_micro").cast("double")
              * col("n_total").cast("double")).cast("long").as("target_docs"))
          .withColumn("boost",
            col("target_docs").cast("double") / col("n_docs").cast("double"))
          .orderBy("source")
      },
      Some("""WITH n AS (SELECT source, COUNT(*)::BIGINT AS n_docs
             |    FROM documents GROUP BY 1),
             |sq AS (SELECT source, n_docs,
             |    CAST(floor(sqrt(n_docs::DOUBLE) * 1000000.0) AS BIGINT) AS sqrt_micro
             |  FROM n),
             |tot AS (SELECT CAST(SUM(sqrt_micro) AS BIGINT) AS den_micro,
             |    CAST(SUM(n_docs) AS BIGINT) AS n_total FROM sq)
             |SELECT source, n_docs,
             |  sqrt_micro::DOUBLE / den_micro::DOUBLE AS weight,
             |  CAST(floor(sqrt_micro::DOUBLE / den_micro::DOUBLE * n_total::DOUBLE)
             |    AS BIGINT) AS target_docs,
             |  CAST(floor(sqrt_micro::DOUBLE / den_micro::DOUBLE * n_total::DOUBLE)
             |    AS BIGINT)::DOUBLE / n_docs::DOUBLE AS boost
             |FROM sq, tot ORDER BY source""".stripMargin),
      "temperature mixture reweighting (alpha=0.5): per-source target allocation " +
        "proportional to sqrt(n) with integer micro-unit denominator — upsample " +
        "the tail, temper the head; one tiny aggregate + 1-row broadcast " +
        "(extension: sampling / training prep)"),

    CatalogEntry(
      "x113_source_overlap",
      (s, dir) => {
        // cross-source contamination matrix: the x07 banded near-dup pairs
        // rolled up by unordered source pair — which sources copy from
        // which, the provenance question behind licensing audits and
        // mixture double-counting. Pair generation stays the banded
        // equi-shuffle (never all-pairs); the source attribution is two
        // doc_id equi-joins; the matrix itself is |sources|² rows.
        // max (not avg) of jaccard keeps the double order-free exact.
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDups(docs, k = 16, bands = 8,
          shingleN = 3, threshold = 0.5)
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
          .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
            greatest(col("src_a"), col("src_b")).as("source_y"))
          .agg(count(lit(1)).as("n_pairs"), max(col("jac")).as("max_jac"))
          .orderBy("source_x", "source_y")
      },
      Some(s"""WITH $dNearDupPairs
              |SELECT least(da.source, db.source) AS source_x,
              |  greatest(da.source, db.source) AS source_y,
              |  COUNT(*)::BIGINT AS n_pairs, MAX(jac) AS max_jac
              |FROM pairs p
              |JOIN documents da ON p.id_a = da.doc_id
              |JOIN documents db ON p.id_b = db.doc_id
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "cross-source contamination matrix: x07's banded near-dup pairs rolled up " +
        "by unordered source pair — who copies from whom; banded equi-shuffle + " +
        "two dim joins, matrix is |sources|^2 (extension: dedup / governance)"),

    CatalogEntry(
      "x114_dup_triangles",
      (s, dir) => {
        // triangle census over the near-dup graph: edges are x07's verified
        // pairs (id_a < id_b, so the graph is already orientation-ordered —
        // each triangle a<b<c counts exactly once), wedges join edge→edge
        // on the shared middle vertex, closure joins back on (a, c). High
        // closure means duplicates arrive as dense cliques (one canonical
        // survivor per cluster suffices); low closure means chains, where
        // transitive merging (x26 components) actually changes the answer.
        // The edge table is checkpointed: it's the expensive LSH pipeline
        // read three times (the x73 composed-stage boundary).
        val edges = Dedup.minhashNearDups(t(s, dir, "documents"), k = 16,
          bands = 8, shingleN = 3, threshold = 0.5)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val wedges = edges.select(col("id_a").as("a"), col("id_b").as("b"))
          .join(edges.select(col("id_a").as("b"), col("id_b").as("c")), "b")
        val tris = wedges.join(
          edges.select(col("id_a").as("a"), col("id_b").as("c")), Seq("a", "c"))
        val nE = edges.agg(count(lit(1)).as("n_edges"))
        val nW = wedges.agg(count(lit(1)).as("n_wedges"))
        val nT = tris.agg(count(lit(1)).as("n_triangles"))
        nE.crossJoin(broadcast(nW)).crossJoin(broadcast(nT))
          .withColumn("closure_rate",
            when(col("n_wedges") === 0L, lit(0.0))
              .otherwise(col("n_triangles").cast("double")
                / col("n_wedges").cast("double")))
      },
      Some(s"""WITH $dNearDupPairs,
              |e AS (SELECT id_a, id_b FROM pairs),
              |w AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
              |  FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a),
              |tri AS (SELECT w.a, w.b, w.c FROM w
              |  JOIN e e3 ON w.a = e3.id_a AND w.c = e3.id_b)
              |SELECT (SELECT COUNT(*)::BIGINT FROM e) AS n_edges,
              |  (SELECT COUNT(*)::BIGINT FROM w) AS n_wedges,
              |  (SELECT COUNT(*)::BIGINT FROM tri) AS n_triangles,
              |  CASE WHEN (SELECT COUNT(*) FROM w) = 0 THEN 0.0::DOUBLE
              |    ELSE (SELECT COUNT(*) FROM tri)::DOUBLE /
              |      (SELECT COUNT(*) FROM w)::DOUBLE END AS closure_rate""".stripMargin),
      "triangle census over the near-dup graph: ordered wedge join + closure " +
        "join on x07's banded pairs — clique-vs-chain diagnostic for dedup " +
        "cluster consolidation; two equi-joins, never all-pairs " +
        "(extension: dedup / graph)"),

    CatalogEntry(
      "x115_incremental_dedup",
      (s, dir) => {
        // continual-ingestion dedup: the odd-id half of the corpus arrives
        // as a new shard against the even-id half as the existing corpus.
        // Each incoming doc is classified exact_dup (fingerprint already
        // present) → near_dup (banded MinHash verifies ≥0.5 vs ANY
        // existing doc) → kept; output is the per-source ingest ledger.
        // The shard never self-pairs; at 100 TB the existing-side
        // fingerprints/signatures are a persisted per-release layout and
        // only the shard side is computed per ingest.
        val docs = t(s, dir, "documents")
        val existing = docs.where(col("doc_id") % 2 === 0)
        val incoming = docs.where(col("doc_id") % 2 === 1)
        val st = Dedup.incrementalDedup(incoming, existing)
        incoming.select(col("doc_id"), col("source")).join(st, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(dIngestLedgerOracle),
      "incremental ingest dedup: new shard classified exact_dup / near_dup / " +
        "kept against the existing corpus — asymmetric banded LSH, shard never " +
        "self-pairs, existing side is a persisted per-release layout at scale " +
        "(extension: dedup / ingest)"),

    CatalogEntry(
      "x116_quantile_audit",
      (s, dir) => {
        // per-source token-length p50: the exact percentile next to the
        // approx_percentile sketch with an acceptance bound — completing
        // the sketch-audit trio (x91 ANN recall, x107 HLL). p50 is dyadic
        // and n_tokens integral, so the lerp is bit-exact across engines;
        // the sketch column collapses to an audited boolean. At 100 TB the
        // exact leg runs on an audit shard, the sketch (mergeable buffer,
        // map-side combine, no per-group sort) is the production path.
        t(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            expr("percentile(n_tokens, 0.5d)").as("p50_exact"),
            expr("approx_percentile(n_tokens, 0.5d, 10000)").as("p50_sketch"))
          .select(col("source"), col("n"), col("p50_exact"),
            (abs(col("p50_sketch").cast("double") - col("p50_exact")) <=
              greatest(col("p50_exact") * lit(0.1), lit(1.0))).as("sketch_ok"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*)::BIGINT AS n,
             |  quantile_cont(n_tokens, 0.5) AS p50_exact, TRUE AS sketch_ok
             |FROM (SELECT source, len(string_split(text, ' '))::BIGINT AS n_tokens
             |  FROM documents)
             |GROUP BY 1 ORDER BY source""".stripMargin),
      "quantile sketch audit: exact per-source p50 token length (dyadic lerp, " +
        "bit-exact) next to approx_percentile inside a 10% acceptance bound — " +
        "the sketch ships with its own check, x107 pattern " +
        "(extension: sketches / evaluation)"),

    CatalogEntry(
      "x117_ingest_probe",
      (s, dir) => {
        // x115's ledger computed the DEPLOYMENT way: the existing-side
        // fingerprints / banded hashes / shingles are read from the
        // persisted Layouts.minhashIndex (staged once per fixture dir,
        // x101 pattern) — the even-id corpus is never re-scanned during
        // the ingest; only the odd-id shard computes signatures. Same
        // result as x115 by construction, so the two entries share one
        // oracle — the gate checks results, the plumbing is the point.
        val docs = t(s, dir, "documents")
        val incoming = docs.where(col("doc_id") % 2 === 1)
        val idx = stagedMinhashIndex(s, dir)
        // path form: probe parameters (k, bands, shingle_n) come from the
        // index's meta row, not repeated by the caller — a mismatched
        // probe joins a disjoint hash space and silently keeps every dup
        val st = Dedup.incrementalDedupStaged(incoming, idx,
          "doc_id", "text", threshold = 0.5)
        incoming.select(col("doc_id"), col("source")).join(st, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(dIngestLedgerOracle),
      "incremental ingest against the PERSISTED MinHash index " +
        "(Layouts.minhashIndex, staged once): same ledger as x115 with the " +
        "existing corpus never re-scanned — the x101 write-once / probe-many " +
        "split applied to dedup (extension: dedup / ingest)"),

    CatalogEntry(
      "x118_sequence_packing",
      (s, dir) => {
        // GPT-style concat-and-chunk packing audit: docs are concatenated
        // in doc_id order WITHIN a hash shard and cut into fixed 512-token
        // training sequences; a doc whose span crosses a cut is a boundary
        // doc (attention-mask overhead). Everything is a window cumsum
        // inside the shard — no global sort; at 100 TB the shard count
        // scales with the corpus and each shard sorts independently after
        // one hash shuffle. All-integer arithmetic, so the audit is exact.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
        t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("cum", sum("n_tokens").over(w))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            max("cum").as("total_tokens"),
            sum(when(expr("(cum - 1) div 512") > expr("(cum - n_tokens) div 512"),
              1L).otherwise(0L)).as("n_boundary_docs"))
          .select(col("shard"), col("n_docs"), col("total_tokens"),
            expr("(total_tokens + 511) div 512").as("n_sequences"),
            col("n_boundary_docs"),
            (col("total_tokens") - (expr("(total_tokens + 511) div 512") - 1) * 512)
              .as("last_seq_tokens"))
          .orderBy("shard")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
             |  len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
             |c AS (SELECT shard, doc_id, n_tokens,
             |  CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
             |  FROM d)
             |SELECT shard, COUNT(*)::BIGINT AS n_docs,
             |  MAX(cum)::BIGINT AS total_tokens,
             |  ((MAX(cum) + 511) // 512)::BIGINT AS n_sequences,
             |  CAST(SUM(CASE WHEN (cum - 1) // 512 > (cum - n_tokens) // 512
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
             |  (MAX(cum) - ((MAX(cum) + 511) // 512 - 1) * 512)::BIGINT AS last_seq_tokens
             |FROM c GROUP BY 1 ORDER BY shard""".stripMargin),
      "sequence packing audit: concat-and-chunk docs into 512-token training " +
        "sequences per hash shard — sequence count, boundary-crossing docs, " +
        "tail fill; per-shard window cumsum, no global sort " +
        "(extension: curation / training-prep)"),

    CatalogEntry(
      "x119_importance_weighting",
      (s, dir) => {
        // DSIR-style data selection (hashed n-gram importance weighting,
        // Xie et al. 2023, arXiv:2302.03169): tokens hash into 64 buckets;
        // a doc's affinity to the target domain (source src0) is the sum
        // over its tokens of the target's share of that bucket, in integer
        // parts-per-million (tgt_cnt * 1e6 div all_cnt — integer division,
        // bit-exact across engines). Docs whose mean per-token share beats
        // 60000 ppm (uniform would be 50000 at 20 sources) are selected.
        // The bucket tables are 64 rows → broadcast; the corpus sees one
        // explode + two hash aggregates — no shuffle carries token text
        // (the native token-hash kernel tokenizes and hashes in one loop
        // per row; the interpreted per-token HOF walk this replaces was
        // the query's whole cost).
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(expr("graft_token_hashes(text)")).as("th"))
          .withColumn("bucket", expr("th % 64"))
          .drop("th")
        // one aggregate builds both counts (a conditional sum is the
        // map-side-combined form of the tgt/all split + left join — one
        // corpus pass instead of two, no join to re-align buckets)
        val freq = toks.groupBy("bucket").agg(
          count(lit(1)).as("all_cnt"),
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("tgt_cnt"))
        toks.join(broadcast(freq), Seq("bucket"))
          .withColumn("contrib", expr("tgt_cnt * 1000000 div all_cnt"))
          .groupBy("doc_id", "source")
          .agg(sum("contrib").as("score"), count(lit(1)).as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("score").as("sum_score"),
            sum(when(expr("score div n_tokens") >= 60000L, 1L).otherwise(0L))
              .as("n_selected"))
          .orderBy("source")
      },
      Some(s"""WITH tk AS (SELECT doc_id, source,
              |  unnest(list_transform(string_split(text, ' '),
              |    t -> ${dPoly("t")} % 64)) AS bucket FROM documents),
              |tgt AS (SELECT bucket, COUNT(*)::BIGINT AS tgt_cnt FROM tk
              |  WHERE source = 'src0' GROUP BY 1),
              |al AS (SELECT bucket, COUNT(*)::BIGINT AS all_cnt FROM tk GROUP BY 1),
              |freq AS (SELECT a.bucket, a.all_cnt, COALESCE(t.tgt_cnt, 0) AS tgt_cnt
              |  FROM al a LEFT JOIN tgt t USING (bucket)),
              |pdoc AS (SELECT tk.doc_id, tk.source,
              |    CAST(SUM(tgt_cnt * 1000000 // all_cnt) AS BIGINT) AS score,
              |    COUNT(*)::BIGINT AS n_tokens
              |  FROM tk JOIN freq USING (bucket) GROUP BY 1, 2)
              |SELECT source, COUNT(*)::BIGINT AS n_docs,
              |  CAST(SUM(score) AS BIGINT) AS sum_score,
              |  CAST(SUM(CASE WHEN score // n_tokens >= 60000 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_selected
              |FROM pdoc GROUP BY 1 ORDER BY source""".stripMargin),
      "DSIR-style importance weighting: hashed-unigram target-domain share " +
        "per doc in integer ppm, per-source selection counts — 64-row " +
        "broadcast frequency tables, bit-exact integer division " +
        "(extension: curation / data-selection)"),

    CatalogEntry(
      "x120_quality_rules",
      (s, dir) => {
        // Gopher-style composite quality rule audit (Rae et al. 2021,
        // arXiv:2112.11446 §A1.1): four per-doc structural rules — token
        // count in [16, 80], mean token length in (4.2, 5.0], type-token
        // ratio >= 0.5, top-token share <= 14% — each failure counted
        // per source plus the all-rules-pass keep count. Thresholds are
        // integer cross-multiplications (no division), so the audit is
        // exact. The top-token share needs per-(doc, token) counts: one
        // extra hash shuffle; everything else folds over the token array
        // in place.
        val docs = t(s, dir, "documents")
        val arr = docs.select(col("doc_id"), col("source"),
            split(col("text"), " ").as("toks"))
          .select(col("doc_id"), col("source"),
            size(col("toks")).cast("long").as("n"),
            expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").as("sl"),
            size(array_distinct(col("toks"))).cast("long").as("u"))
        val top = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(max("c").as("mx"))
        arr.join(top, "doc_id")
          .select(col("source"),
            (col("n") < 16L || col("n") > 80L).as("f_len"),
            (col("sl") * 1000L <= col("n") * 4200L ||
              col("sl") * 1000L > col("n") * 5000L).as("f_meanlen"),
            (col("u") * 2L < col("n")).as("f_unique"),
            (col("mx") * 1000L > col("n") * 140L).as("f_top"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("f_len"), 1L).otherwise(0L)).as("n_fail_len"),
            sum(when(col("f_meanlen"), 1L).otherwise(0L)).as("n_fail_meanlen"),
            sum(when(col("f_unique"), 1L).otherwise(0L)).as("n_fail_unique"),
            sum(when(col("f_top"), 1L).otherwise(0L)).as("n_fail_top"),
            sum(when(!col("f_len") && !col("f_meanlen") && !col("f_unique") &&
              !col("f_top"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id, source, len(toks)::BIGINT AS n,
             |  CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS sl,
             |  len(list_distinct(toks))::BIGINT AS u FROM d),
             |tc AS (SELECT doc_id, t, COUNT(*)::BIGINT AS c FROM
             |  (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2),
             |mx AS (SELECT doc_id, MAX(c)::BIGINT AS mx FROM tc GROUP BY 1),
             |f AS (SELECT m.source,
             |  (m.n < 16 OR m.n > 80) AS f_len,
             |  (m.sl * 1000 <= m.n * 4200 OR m.sl * 1000 > m.n * 5000) AS f_meanlen,
             |  (m.u * 2 < m.n) AS f_unique,
             |  (mx.mx * 1000 > m.n * 140) AS f_top
             |  FROM m JOIN mx USING (doc_id))
             |SELECT source, COUNT(*)::BIGINT AS n_docs,
             |  CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
             |  CAST(SUM(CASE WHEN f_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_meanlen,
             |  CAST(SUM(CASE WHEN f_unique THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_unique,
             |  CAST(SUM(CASE WHEN f_top THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top,
             |  CAST(SUM(CASE WHEN NOT f_len AND NOT f_meanlen AND NOT f_unique
             |    AND NOT f_top THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM f GROUP BY 1 ORDER BY source""".stripMargin),
      "Gopher-style quality rule audit: per-source failure counts for token " +
        "count / mean token length / type-token ratio / top-token share rules " +
        "plus all-pass keeps — integer cross-multiplied thresholds, exact " +
        "(extension: quality / filtering)"),

    CatalogEntry(
      "x121_cdc_chunk_dedup",
      (s, dir) => {
        // content-defined chunking storage dedup (rsync/LBFS-style, public
        // technique): a chunk boundary falls AFTER any token whose polyhash
        // is ≡ 0 mod 16, so boundaries ride the content — an insertion
        // early in a doc re-chunks only its neighborhood, unlike fixed
        // 16-token windows. Chunk identity is the base-31 fold of its
        // token hashes. Chunking is per-doc array HOFs (zero shuffle);
        // the only exchange is the chunk-hash aggregate. Under a hash
        // collision the two engines both attribute min(len) to the stored
        // copy, keeping the audit deterministic.
        // fanOut: the chunk fold is the row's whole cost and the fixture
        // scan plans one task (guide §2.5) — integer aggregates below,
        // so the re-distribution is value-neutral
        cdcChunks(fanOut(t(s, dir, "documents"))).groupBy("h")
          .agg(count(lit(1)).as("cnt"), sum("len").as("sumlen"),
            min("len").as("minlen"))
          .agg(sum("cnt").as("total_chunks"), count(lit(1)).as("distinct_chunks"),
            sum("sumlen").as("total_tokens"), sum("minlen").as("stored_tokens"))
          .select(col("total_chunks"), col("distinct_chunks"), col("total_tokens"),
            col("stored_tokens"),
            expr("stored_tokens * 1000000 div total_tokens").as("dedup_ppm"))
      },
      Some(s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
              |f AS (SELECT toks, len(toks) AS n,
              |  list_transform(toks, t -> ${dPoly("t")}) AS fps FROM d),
              |g AS (SELECT n, fps,
              |  list_transform(range(1, n + 1),
              |    i -> len(list_filter(list_slice(fps, 1, i - 1), f -> f % 16 = 0)))
              |  AS segs FROM f),
              |ch AS (SELECT unnest(list_transform(range(0, segs[n] + 1), s -> {
              |  'h': list_reduce(list_prepend(0::BIGINT,
              |    list_transform(list_filter(range(1, n + 1), i -> segs[i] = s),
              |      i -> fps[i])), (acc, v) -> (acc * 31 + v) % $Prime),
              |  'len': len(list_filter(range(1, n + 1), i -> segs[i] = s))::BIGINT}))
              |  AS c FROM g),
              |per AS (SELECT c.h AS h, COUNT(*)::BIGINT AS cnt,
              |  CAST(SUM(c.len) AS BIGINT) AS sumlen, MIN(c.len)::BIGINT AS minlen
              |  FROM ch GROUP BY 1)
              |SELECT CAST(SUM(cnt) AS BIGINT) AS total_chunks,
              |  COUNT(*)::BIGINT AS distinct_chunks,
              |  CAST(SUM(sumlen) AS BIGINT) AS total_tokens,
              |  CAST(SUM(minlen) AS BIGINT) AS stored_tokens,
              |  CAST(SUM(minlen) AS BIGINT) * 1000000 // CAST(SUM(sumlen) AS BIGINT)
              |    AS dedup_ppm
              |FROM per""".stripMargin),
      "content-defined chunking dedup: polyhash-gated chunk boundaries (mod 16), " +
        "chunk-level storage dedup ratio in ppm — per-doc array HOFs, one " +
        "chunk-hash shuffle, insertion-stable boundaries " +
        "(extension: dedup / storage)"),

    CatalogEntry(
      "x122_semdedup",
      (s, dir) => {
        // SemDeDup (Abbas et al. 2023): embedding-space near-dup pruning —
        // cluster under seeded centroids (vec_id % 50, the x18 seeding),
        // inside each cluster drop vectors with a smaller-id neighbor at
        // cosine >= 0.25. Per-cell ledger; the pair search never leaves a
        // cell, so the quadratic term is bounded by cluster size.
        val e = t(s, dir, "embeddings")
        SimilaritySearch.semDedup(e, e.where(col("vec_id") % 50 === 0), tau = 0.25)
          .groupBy("cent_id")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
            sum(when(!col("dropped"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("cent_id")
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
              |  FROM embeddings WHERE vec_id % 50 = 0),
              |asg AS (SELECT id, v, cent_id FROM (
              |  SELECT e.vec_id AS id, e.embedding AS v, ct.cent_id,
              |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
              |      ORDER BY ${dCos("e.embedding", "ct.centv")} DESC, ct.cent_id) AS r
              |  FROM embeddings e, cent ct) WHERE r = 1),
              |dropped AS (SELECT DISTINCT b.cent_id, b.id
              |  FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.id < b.id
              |  WHERE ${dCos("a.v", "b.v")} >= 0.25)
              |SELECT g.cent_id AS cent_id, COUNT(*)::BIGINT AS n_vecs,
              |  CAST(SUM(CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_dropped,
              |  CAST(SUM(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_kept
              |FROM asg g LEFT JOIN dropped d
              |  ON g.cent_id = d.cent_id AND g.id = d.id
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      "SemDeDup semantic pruning, FIXTURE-SCALE reference form: seeded " +
        "FIXED centroids (cells grow n/k — the within-cell pair term is " +
        "quadratic as the corpus outgrows the centroid budget; the " +
        "deployment form is x140's corpus-proportional two-level " +
        "semDedupScaled), within-cluster smaller-id-neighbor drop at " +
        "cosine >= 0.25 — broadcast centroids, pair search fenced to " +
        "cells, per-cell ledger (extension: dedup / embeddings)"),

    CatalogEntry(
      "x123_dup_span_coverage",
      (s, dir) => {
        // exact-substring duplication metric (Lee et al. 2021,
        // arXiv:2107.06499, token-window form): fingerprint every
        // OVERLAPPING 8-token window, count fingerprints corpus-wide, and
        // score each doc by the fraction of its tokens covered by some
        // window seen more than once (same doc or not — any repeat, as in
        // the paper). Coverage is exact via the fixed-window identity
        // cov = 8 + Σ min(8, gap between consecutive dup starts) — no
        // interval-merge state machine. One window-hash shuffle, one join
        // back; per-doc work is array HOFs.
        val wins = dupSpanWindows(t(s, dir, "documents"))
        val counts = wins.groupBy("fp").agg(count(lit(1)).as("cnt"))
        wins.join(counts.where(col("cnt") > 1), "fp")
          .groupBy("doc_id", "n")
          .agg(sort_array(collect_list("i")).as("st"))
          .select(col("doc_id"), col("n").as("n_tokens"),
            size(col("st")).cast("long").as("n_dup_windows"),
            expr("""CASE WHEN size(st) = 1 THEN CAST(8 AS BIGINT)
              ELSE aggregate(transform(sequence(1, size(st) - 1),
                k -> least(CAST(8 AS BIGINT),
                  element_at(st, k + 1) - element_at(st, k))),
                CAST(8 AS BIGINT), (a, b) -> a + b) END""").as("covered_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("n_dup_windows"),
            col("covered_tokens"),
            expr("covered_tokens * 1000000 div n_tokens").as("dup_ppm"))
          .orderBy(desc("dup_ppm"), asc("doc_id"))
          .limit(50)
      },
      Some(s"""WITH base AS (SELECT doc_id,
              |    list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
              |wins AS (SELECT doc_id, len(hs)::BIGINT AS n,
              |    unnest(list_transform(range(0, len(hs) - 8 + 1), i ->
              |      {'i': i::BIGINT,
              |       'fp': list_reduce(list_prepend(0::BIGINT, hs[i + 1 : i + 8]),
              |         (acc, h) -> (acc * 31 + h) % $Prime)})) AS w
              |  FROM base),
              |wf AS (SELECT doc_id, n, w.i AS i, w.fp AS fp FROM wins),
              |counts AS (SELECT fp, COUNT(*)::BIGINT AS cnt FROM wf GROUP BY 1),
              |dups AS (SELECT doc_id, n, list_sort(list(i)) AS st
              |  FROM wf JOIN counts USING (fp) WHERE cnt > 1 GROUP BY 1, 2)
              |SELECT doc_id, n AS n_tokens, len(st)::BIGINT AS n_dup_windows,
              |  (CASE WHEN len(st) = 1 THEN 8::BIGINT
              |   ELSE list_reduce(list_prepend(8::BIGINT,
              |     list_transform(range(2, len(st) + 1),
              |       k -> least(8::BIGINT, st[k] - st[k - 1]))),
              |     (a, b) -> a + b) END) AS covered_tokens,
              |  (CASE WHEN len(st) = 1 THEN 8::BIGINT
              |   ELSE list_reduce(list_prepend(8::BIGINT,
              |     list_transform(range(2, len(st) + 1),
              |       k -> least(8::BIGINT, st[k] - st[k - 1]))),
              |     (a, b) -> a + b) END) * 1000000 // n AS dup_ppm
              |FROM dups ORDER BY dup_ppm DESC, doc_id LIMIT 50""".stripMargin),
      "exact-substring duplication coverage: overlapping 8-token windows " +
        "fingerprinted by folding per-token hashes (tokens hashed once), " +
        "counted corpus-wide; per-doc covered-token fraction via the " +
        "fixed-window gap identity — one window-hash shuffle " +
        "(extension: dedup / text)"),

    CatalogEntry(
      "x124_int8_ann_recall",
      (s, dir) => {
        // int8 scalar-quantization recall audit: quantize every vector to
        // per-vector-scaled int8 (q_i = floor(v_i * 127 / max|v|)), rank
        // corpus by quantized cosine, and report recall@5 against the
        // exact-cosine truth (x91's contract for the memory-saving path —
        // 4x smaller vectors at 100 TB). Quantized values are integers
        // <= 127, so double accumulation is exact and both engines agree
        // bit-for-bit; ties broken by corpus_id.
        val e = t(s, dir, "embeddings")
        def quant(df: DataFrame, idAs: String): DataFrame = df
          .select(col("vec_id").as(idAs), col("embedding").as("v"))
          .withColumn("maxabs",
            expr("array_max(transform(v, x -> abs(CAST(x AS DOUBLE))))"))
          .withColumn("qv", expr(
            """CASE WHEN maxabs = 0D THEN transform(v, x -> 0D)
              ELSE transform(v, x -> FLOOR(CAST(x AS DOUBLE) * 127D / maxabs)) END"""))
          .select(col(idAs), col("qv"),
            SimilaritySearch.norm(col("qv")).as("qn"))
        val q = quant(e.where(col("vec_id") < 10), "query_id")
        val c = quant(e.where(col("vec_id") >= 10), "corpus_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("cosq"), asc("corpus_id"))
        val approx = broadcast(q).crossJoin(c.select(
            col("corpus_id"), col("qv").as("cv"), col("qn").as("cn")))
          .select(col("query_id"), col("corpus_id"),
            (SimilaritySearch.dot(col("qv"), col("cv")) / col("qn") / col("cn"))
              .as("cosq"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 5)
          .select(col("query_id"), col("corpus_id"), lit(1L).as("hit"))
        val truth = SimilaritySearch.bruteForceTopK(
            e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10), k = 5)
          .select("query_id", "corpus_id")
        truth.join(approx, Seq("query_id", "corpus_id"), "left")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("query_id"), col("n_hits"),
            (col("n_hits").cast("double") / lit(5.0)).as("recall"))
          .orderBy("query_id")
      },
      Some {
        val quant = (v: String) =>
          s"""CASE WHEN list_max(list_transform($v, x -> abs(x::DOUBLE))) = 0
             |THEN list_transform($v, x -> 0.0)
             |ELSE list_transform($v, x -> FLOOR(x::DOUBLE * 127.0 /
             |  list_max(list_transform($v, y -> abs(y::DOUBLE))))) END""".stripMargin
        s"""WITH tr AS (SELECT query_id, corpus_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${dCos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
           |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q,
           |         (SELECT * FROM embeddings WHERE vec_id >= 10) c)
           |  WHERE rank <= 5),
           |qq AS (SELECT vec_id AS query_id, ${quant("embedding")} AS qv
           |  FROM embeddings WHERE vec_id < 10),
           |cq AS (SELECT vec_id AS corpus_id, ${quant("embedding")} AS cv
           |  FROM embeddings WHERE vec_id >= 10),
           |ap AS (SELECT query_id, corpus_id FROM (
           |    SELECT qq.query_id, cq.corpus_id,
           |      ROW_NUMBER() OVER (PARTITION BY qq.query_id
           |        ORDER BY ${dCos("qq.qv", "cq.cv")} DESC, cq.corpus_id) AS rank
           |    FROM qq, cq)
           |  WHERE rank <= 5)
           |SELECT tr.query_id,
           |  CAST(SUM(CASE WHEN ap.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_hits,
           |  CAST(SUM(CASE WHEN ap.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
           |    / 5.0 AS recall
           |FROM tr LEFT JOIN ap ON tr.query_id = ap.query_id
           |  AND tr.corpus_id = ap.corpus_id
           |GROUP BY 1 ORDER BY 1""".stripMargin
      },
      "recall@5 audit of int8 scalar-quantized cosine against exact truth — " +
        "the accuracy contract for the 4x-smaller-vector scan path " +
        "(extension: similarity search / evaluation)"),

    CatalogEntry(
      "x125_winnowing_fingerprints",
      (s, dir) => {
        // winnowing document fingerprints (Schleimer et al. 2003,
        // SIGMOD — the MOSS algorithm): over the 8-token window hashes,
        // slide a w=4 selection window and keep the minimum hash (rightmost
        // on ties); any two docs sharing a run of >= w+k-1 = 11 tokens are
        // GUARANTEED to share a selected fingerprint. Selection is per-doc
        // array HOFs; the only shuffle is the fingerprint count. Sharing is
        // scored on distinct fingerprints per doc.
        // fanOut: the window-hash + selection HOFs are the row's whole
        // cost and the fixture scan plans one task (guide §2.5); the
        // shared-fingerprint aggregates below are counts — value-neutral
        val sel = fanOut(t(s, dir, "documents"))
          .select(col("doc_id"), expr("graft_token_hashes(text)").as("hs"))
          .where(size(col("hs")) >= 11)
          // positional window hashes via the native kernel (x123's lesson:
          // the aggregate-over-slice HOF fold was the dominant term)
          .select(col("doc_id"), expr("graft_window_hashes(hs, 8)").as("wf"))
          .select(col("doc_id"), explode(expr("""array_distinct(transform(
              array_distinct(transform(sequence(0, size(wf) - 4), j ->
                j + array_max(transform(sequence(1, 4), t ->
                  IF(element_at(wf, j + t) = array_min(slice(wf, j + 1, 4)),
                    t, 0))))),
              p -> element_at(wf, p)))""")).as("fp"))
        val counts = sel.groupBy("fp").agg(count(lit(1)).as("cnt"))
        sel.join(counts, "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fps"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_shared"))
          .where(col("n_shared") > 0)
          .select(col("doc_id"), col("n_fps"), col("n_shared"),
            expr("n_shared * 1000000 div n_fps").as("shared_ppm"))
          .orderBy(desc("shared_ppm"), asc("doc_id"))
          .limit(50)
      },
      Some(s"""WITH base AS (SELECT doc_id,
              |    list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents WHERE len(string_split(text, ' ')) >= 11),
              |wfs AS (SELECT doc_id,
              |    list_transform(range(0, len(hs) - 8 + 1), i ->
              |      list_reduce(list_prepend(0::BIGINT, hs[i + 1 : i + 8]),
              |        (acc, h) -> (acc * 31 + h) % $Prime)) AS wf
              |  FROM base),
              |sel AS (SELECT doc_id, unnest(list_distinct(list_transform(
              |    list_distinct(list_transform(range(0, len(wf) - 4 + 1), j ->
              |      j + list_max(list_transform(range(1, 5), t ->
              |        CASE WHEN wf[j + t] = list_min(wf[j + 1 : j + 4])
              |          THEN t ELSE 0 END)))),
              |    p -> wf[p]))) AS fp
              |  FROM wfs),
              |counts AS (SELECT fp, COUNT(*)::BIGINT AS cnt FROM sel GROUP BY 1)
              |SELECT doc_id, COUNT(*)::BIGINT AS n_fps,
              |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
              |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
              |    // COUNT(*)::BIGINT AS shared_ppm
              |FROM sel JOIN counts USING (fp)
              |GROUP BY 1 HAVING n_shared > 0
              |ORDER BY shared_ppm DESC, doc_id LIMIT 50""".stripMargin),
      "winnowing fingerprints (MOSS): rightmost-min of 8-gram hashes in a " +
        "w=4 window, guaranteed shared fingerprint for any >= 11-token " +
        "common run; per-doc shared fraction — selection is per-doc HOFs, " +
        "one fingerprint-count shuffle (extension: dedup / fingerprinting)"),

    CatalogEntry(
      "x126_canonical_selection",
      (s, dir) => {
        // keep-best-of-cluster: the release policy that replaces x26's
        // min-id representative with a quality rule — inside each near-dup
        // component keep the LONGEST member (n_chars desc, doc_id asc on
        // ties) and drop the rest. One window rank over the component id on
        // top of the x07 pairs + x26 components chain; emits the per-cluster
        // ledger a curation manifest records.
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashNearDups(docs, k = 16, bands = 8,
          shingleN = 3, threshold = 0.5)
        val comp = graft.operators.Components.connectedComponents(pairs)
          .withColumnRenamed("id", "doc_id")
          .join(docs.select("doc_id", "n_chars"), "doc_id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("rep_id").orderBy(desc("n_chars"), asc("doc_id"))
        comp.withColumn("rk", row_number().over(w))
          .groupBy("rep_id")
          .agg(count(lit(1)).as("n_members"),
            min(when(col("rk") === 1, col("doc_id"))).as("kept_doc"),
            max(when(col("rk") === 1, col("n_chars"))).as("kept_chars"),
            sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dropped"))
          .orderBy("rep_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |sigs AS (
              |  SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM sh),
              |banded AS (
              |  SELECT doc_id, band,
              |    (((0::BIGINT * 31 + sig[band * 2 + 1]) % $Prime) * 31 + sig[band * 2 + 2]) % $Prime AS bh
              |  FROM sigs, range(0, 8) r(band)),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (
              |  SELECT id_a, id_b FROM (
              |    SELECT c.id_a, c.id_b,
              |      len(list_intersect(x.shingles, y.shingles))::DOUBLE
              |        / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jac
              |    FROM cands c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id)
              |  WHERE jac >= 0.5),
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM pairs
              |  UNION SELECT id_b, id_a FROM pairs),
              |closure AS (
              |  WITH RECURSIVE reach(v, u) AS (
              |    SELECT src, src FROM edges
              |    UNION
              |    SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src)
              |  SELECT v, u FROM reach),
              |comp AS (SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS rep_id
              |  FROM closure GROUP BY v),
              |ranked AS (SELECT c.rep_id, c.doc_id, d.n_chars,
              |    ROW_NUMBER() OVER (PARTITION BY c.rep_id
              |      ORDER BY d.n_chars DESC, c.doc_id) AS rk
              |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
              |SELECT rep_id, COUNT(*)::BIGINT AS n_members,
              |  CAST(MIN(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
              |  CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
              |  CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
              |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),
      "keep-best-of-cluster canonical selection: near-dup components ranked " +
        "by (n_chars desc, doc_id) inside each cluster, per-cluster " +
        "kept/dropped ledger — one window rank over the component id " +
        "(extension: dedup / curation)"),

    CatalogEntry(
      "x127_pq_adc_recall",
      (s, dir) => {
        // product-quantization ADC recall audit (Jégou et al. 2011): 64-d
        // vectors split into 8 subspaces of 8 dims; the per-subspace
        // codebook is the sub-slice of the seeded sample (vec_id % 50 = 0);
        // each corpus vector is encoded as 8 codeword ids (argmin
        // sub-squared-L2, tie -> smallest id). Queries stay exact
        // (asymmetric) and score the codeword RECONSTRUCTION, assembled as
        // an ordered float array so the score is the same deterministic
        // left-to-right DotProduct every other embedding query uses — never
        // a groupBy-sum of doubles (partial-agg order would break the
        // oracle hash). recall@5 vs exact truth: the contract for the
        // 8-bytes-per-vector memory-bound scan path.
        val e = t(s, dir, "embeddings")
        // the whole codebook rides along as ONE broadcast row (sorted by
        // cb_id so the strict `<` in the running argmin keeps the smallest
        // id on ties); encoding is then a single HOF pass per corpus row —
        // the explode→row_number formulation shuffled corpus×codebook×8
        // rows through a window just to pick 8 argmins per vector
        val cbRow = e.where(col("vec_id") % 50 === 0)
          .agg(expr("""transform(
              |  sort_array(collect_list(struct(vec_id AS cb_id, embedding AS cbv))),
              |  c -> c.cbv)""".stripMargin).as("cbvs"))
        val corpus = e.where(col("vec_id") >= 10)
          .select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))
        // encoding runs in the native PqReconstruct kernel: one tight loop
        // per row over (8 subspaces × codebook × 8 dims), double math in
        // the same order as the HOF fold it replaces (which evaluated the
        // whole codebook through interpreted Expression walks per row and
        // was this query's entire cost)
        val recon = corpus.crossJoin(broadcast(cbRow))
          .select(col("corpus_id"),
            org.apache.spark.sql.graft.GraftFunctions.column(
              graft.functions.expressions.PqReconstruct(
                org.apache.spark.sql.graft.GraftFunctions.expression(col("cv")),
                org.apache.spark.sql.graft.GraftFunctions.expression(col("cbvs")),
                nsub = 8)).as("rv"))
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            SimilaritySearch.norm(col("embedding")).as("qn"))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("cosq"), asc("corpus_id"))
        val approx = broadcast(q).crossJoin(recon)
          .select(col("query_id"), col("corpus_id"),
            (SimilaritySearch.dot(col("qv"), col("rv")) / col("qn") /
              SimilaritySearch.norm(col("rv"))).as("cosq"))
          .withColumn("rank", row_number().over(wTop))
          .where(col("rank") <= 5)
          .select(col("query_id"), col("corpus_id"), lit(1L).as("hit"))
        val truth = SimilaritySearch.bruteForceTopK(
            e.where(col("vec_id") < 10), e.where(col("vec_id") >= 10), k = 5)
          .select("query_id", "corpus_id")
        truth.join(approx, Seq("query_id", "corpus_id"), "left")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("query_id"), col("n_hits"),
            (col("n_hits").cast("double") / lit(5.0)).as("recall"))
          .orderBy("query_id")
      },
      Some(s"""WITH cb AS (SELECT vec_id AS cb_id, embedding AS cbv
              |  FROM embeddings WHERE vec_id % 50 = 0),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS cv
              |  FROM embeddings WHERE vec_id >= 10),
              |dists AS (SELECT corpus_id, cb_id, cbv, b,
              |    list_reduce(list_prepend(0.0, list_transform(range(1, 9), k ->
              |      (cv[b * 8 + k]::DOUBLE - cbv[b * 8 + k]::DOUBLE) *
              |      (cv[b * 8 + k]::DOUBLE - cbv[b * 8 + k]::DOUBLE))),
              |      (acc, x) -> acc + x) AS d
              |  FROM corp, cb, range(0, 8) r(b)),
              |enc AS (SELECT corpus_id, b, cbv FROM (
              |    SELECT corpus_id, b, cbv,
              |      ROW_NUMBER() OVER (PARTITION BY corpus_id, b
              |        ORDER BY d, cb_id) AS rk
              |    FROM dists) WHERE rk = 1),
              |recon AS (SELECT corpus_id,
              |    flatten(list(cbv[b * 8 + 1 : b * 8 + 8] ORDER BY b)) AS rv
              |  FROM enc GROUP BY 1),
              |tr AS (SELECT query_id, corpus_id FROM (
              |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
              |        ORDER BY ${dCos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
              |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q,
              |         (SELECT * FROM embeddings WHERE vec_id >= 10) c)
              |  WHERE rank <= 5),
              |ap AS (SELECT query_id, corpus_id FROM (
              |    SELECT q.vec_id AS query_id, r.corpus_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
              |        ORDER BY ${dCos("q.embedding", "r.rv")} DESC, r.corpus_id) AS rank
              |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q, recon r)
              |  WHERE rank <= 5)
              |SELECT tr.query_id,
              |  CAST(SUM(CASE WHEN ap.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_hits,
              |  CAST(SUM(CASE WHEN ap.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
              |    / 5.0 AS recall
              |FROM tr LEFT JOIN ap ON tr.query_id = ap.query_id
              |  AND tr.corpus_id = ap.corpus_id
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      "recall@5 audit of product-quantization ADC (8x8 subspaces, seeded " +
        "codebooks, asymmetric query scoring over the ordered codeword " +
        "reconstruction) against exact truth — the 8-bytes-per-vector " +
        "memory-bound scan contract (extension: similarity search / evaluation)"),

    CatalogEntry(
      "x128_eval_decontam",
      (s, dir) => {
        // train/eval decontamination (the GPT-3 appendix-C policy, 8-gram
        // form): a train doc is dropped when it shares ANY overlapping
        // 8-token window fingerprint with the eval shard (doc_id % 97 = 0
        // stands in for the benchmark set). Reuses x123's window primitive;
        // eval fingerprints are a ~1% table, so the semi-join broadcasts
        // under AQE (un-hinted, the q17 rule) and the only big exchange is
        // the train-side fp shuffle. Per-source kept/dropped ledger.
        val docs = t(s, dir, "documents")
        val wins = dupSpanWindows(docs).select(col("doc_id"), col("fp"))
        val evalFps = wins.where(col("doc_id") % 97 === 0)
          .select("fp").distinct()
        val contaminated = wins.where(col("doc_id") % 97 =!= 0)
          .join(evalFps, "fp").select("doc_id").distinct()
          .withColumn("bad", lit(1L))
        docs.where(col("doc_id") % 97 =!= 0)
          .join(contaminated, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_train"),
            sum(coalesce(col("bad"), lit(0L))).as("n_contaminated"),
            sum(when(col("bad").isNull, 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(s"""WITH base AS (SELECT doc_id,
              |    list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
              |wf AS (SELECT doc_id, unnest(list_transform(range(0, len(hs) - 8 + 1),
              |    i -> list_reduce(list_prepend(0::BIGINT, hs[i + 1 : i + 8]),
              |      (acc, h) -> (acc * 31 + h) % $Prime))) AS fp
              |  FROM base),
              |ev AS (SELECT DISTINCT fp FROM wf WHERE doc_id % 97 = 0),
              |cont AS (SELECT DISTINCT doc_id FROM wf
              |  WHERE doc_id % 97 <> 0 AND fp IN (SELECT fp FROM ev))
              |SELECT d.source, COUNT(*)::BIGINT AS n_train,
              |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_contaminated,
              |  CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_kept
              |FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
              |WHERE d.doc_id % 97 <> 0
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      "train/eval decontamination: drop train docs sharing any 8-gram window " +
        "fingerprint with the eval shard — x123 windows, small eval fp table " +
        "semi-joined, per-source kept/dropped ledger " +
        "(extension: curation / decontamination)"),

    CatalogEntry(
      "x129_epoch_allocation",
      (s, dir) => {
        // token-budget epoch allocation: give every source an equal slice
        // of a 2x-total-tokens budget, cap any source at 2 epochs, then
        // redistribute the surplus to uncapped sources proportionally to
        // their size — one explicit redistribution round, all in integer
        // token units (micro-epochs on output) so both engines agree
        // exactly. The mixture-planning math run before a training job;
        // the two 1-row totals are broadcast crosses.
        val perSrc = t(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("nt"))
          .groupBy("source").agg(sum("nt").as("t"))
        val tot = perSrc.agg(sum("t").as("total"),
          count(lit(1)).as("nsrc"))
        val a1 = perSrc.crossJoin(tot)
          .select(col("source"), col("t"),
            expr("total * 2 div nsrc").as("budget"),
            expr("t * 2000000 div 1000000").as("cap_tok"))
          .select(col("source"), col("t"), col("budget"), col("cap_tok"),
            least(col("budget"), col("cap_tok")).as("served1"),
            when(col("budget") >= col("cap_tok"), 1L).otherwise(0L).as("capped"))
        val tot2 = a1.agg(
          sum(col("budget") - col("served1")).as("surplus"),
          sum(when(col("capped") === 0, col("t")).otherwise(0L)).as("u"))
        a1.crossJoin(tot2)
          .select(col("source"), col("t"), col("capped"),
            least(col("cap_tok"), col("served1") +
              when(col("capped") === 1 || col("u") === 0, 0L)
                .otherwise(expr("surplus * t div u"))).as("tokens_served"))
          .select(col("source"), col("t").as("n_tokens"), col("tokens_served"),
            expr("tokens_served * 1000000 div t").as("epochs_ppm"),
            col("capped"))
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
             |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS total,
             |    COUNT(*)::BIGINT AS nsrc FROM per),
             |a1 AS (SELECT source, t,
             |    total * 2 // nsrc AS budget,
             |    t * 2000000 // 1000000 AS cap_tok,
             |    least(total * 2 // nsrc, t * 2000000 // 1000000) AS served1,
             |    CASE WHEN total * 2 // nsrc >= t * 2000000 // 1000000
             |      THEN 1::BIGINT ELSE 0::BIGINT END AS capped
             |  FROM per, tot),
             |tot2 AS (SELECT CAST(SUM(budget - served1) AS BIGINT) AS surplus,
             |    CAST(SUM(CASE WHEN capped = 0 THEN t ELSE 0 END) AS BIGINT) AS u
             |  FROM a1)
             |SELECT source, t AS n_tokens,
             |  least(cap_tok, served1 + CASE WHEN capped = 1 OR u = 0 THEN 0
             |    ELSE surplus * t // u END) AS tokens_served,
             |  least(cap_tok, served1 + CASE WHEN capped = 1 OR u = 0 THEN 0
             |    ELSE surplus * t // u END) * 1000000 // t AS epochs_ppm,
             |  capped
             |FROM a1, tot2 ORDER BY source""".stripMargin),
      "token-budget epoch allocation: equal budget slices, 2-epoch cap, " +
        "one surplus-redistribution round proportional to uncapped source " +
        "size — exact integer token units, two 1-row totals crossed " +
        "(extension: curation / mixture planning)"),

    CatalogEntry(
      "x130_minhash_estimator_mae",
      (s, dir) => {
        // value-level accuracy audit for the MinHash estimator: x92 checks
        // which PAIRS the banded index finds; this checks how close the
        // 16-component signature ESTIMATE (matches/16) sits to exact
        // Jaccard, pair by pair, on a fenced doc_id < 500 all-pairs shard
        // (the x09 rule — all-pairs exists only inside audits). Errors in
        // integer ppm; the one-row summary is the estimator's published
        // error bar.
        // fanOut: the fenced all-pairs verify below is a nested-loop join
        // whose stream side inherits the scan's ONE fixture split (guide
        // §2.5) — 125k list-intersect pairs on one core; the error
        // aggregates are integer ppm sums, so value-neutral
        val sh = Dedup.minhashSignature(
            fanOut(t(s, dir, "documents").where(col("doc_id") < 500)),
            k = 16, shingleN = 3)
          .where(size(col("shingles")) >= 1)
          .select(col("doc_id"), col("shingles"), col("sig"))
        val pairs = sh.as("a").join(sh.as("b"),
            col("a.doc_id") < col("b.doc_id"))
          .select(
            // floor, not cast: Spark's double->long cast truncates while
            // DuckDB's rounds — floor is the one op both engines agree on
            floor(TextFunctions.jaccard(col("a.shingles"), col("b.shingles")) *
              lit(1000000.0)).cast("long").as("exact_ppm"),
            expr("""aggregate(sequence(1, 16), CAST(0 AS BIGINT), (acc, i) ->
              acc + IF(element_at(a.sig, i) = element_at(b.sig, i), 1L, 0L))
              * 1000000 div 16""").as("est_ppm"))
        pairs.agg(count(lit(1)).as("n_pairs"),
            sum(abs(col("est_ppm") - col("exact_ppm"))).as("abs_err_sum"),
            max(abs(col("est_ppm") - col("exact_ppm"))).as("max_err_ppm"),
            sum(when(col("est_ppm") > col("exact_ppm"), 1L).otherwise(0L))
              .as("overest_pairs"),
            sum(when(col("est_ppm") < col("exact_ppm"), 1L).otherwise(0L))
              .as("underest_pairs"))
          .select(col("n_pairs"),
            expr("abs_err_sum div n_pairs").as("mae_ppm"),
            col("max_err_ppm"), col("overest_pairs"), col("underest_pairs"))
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents WHERE doc_id < 500),
              |sh AS (SELECT doc_id, shingles,
              |    list_transform(range(0, 16), i -> list_min(list_transform(shingles,
              |      s -> (((1 + i * 2654435761) % $Prime) * s + (7 + i * 40503)) % $Prime))) AS sig
              |  FROM (SELECT doc_id, $dShingles AS shingles FROM base)
              |  WHERE len(shingles) >= 1),
              |pairs AS (SELECT
              |    CAST(FLOOR(len(list_intersect(a.shingles, b.shingles))::DOUBLE
              |      / (len(a.shingles) + len(b.shingles)
              |         - len(list_intersect(a.shingles, b.shingles)))
              |      * 1000000.0) AS BIGINT) AS exact_ppm,
              |    list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 17),
              |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1::BIGINT ELSE 0::BIGINT END)),
              |      (acc, x) -> acc + x) * 1000000 // 16 AS est_ppm
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
              |SELECT COUNT(*)::BIGINT AS n_pairs,
              |  CAST(SUM(abs(est_ppm - exact_ppm)) AS BIGINT) // COUNT(*)::BIGINT
              |    AS mae_ppm,
              |  CAST(MAX(abs(est_ppm - exact_ppm)) AS BIGINT) AS max_err_ppm,
              |  CAST(SUM(CASE WHEN est_ppm > exact_ppm THEN 1 ELSE 0 END) AS BIGINT)
              |    AS overest_pairs,
              |  CAST(SUM(CASE WHEN est_ppm < exact_ppm THEN 1 ELSE 0 END) AS BIGINT)
              |    AS underest_pairs
              |FROM pairs""".stripMargin),
      "MinHash estimator error audit: 16-component signature estimate vs " +
        "exact Jaccard over a fenced all-pairs shard, MAE/max/bias in ppm — " +
        "the value-level companion to x92's pair recall " +
        "(extension: dedup / evaluation)"),

    CatalogEntry(
      "x131_ivf_cell_balance",
      (s, dir) => {
        // IVF index health check: assign the corpus to the x18 seeded
        // centroids (same argmax-cosine rule) and summarize the cell-size
        // distribution — min/median/max and an imbalance factor (max over
        // mean, in ppm). A hot cell is the IVF analog of a skewed shuffle
        // key: this is the audit that tells the planner to add centroids
        // before the probe cost curve bends. Median via exact percentile on
        // integer counts (dyadic fraction -> lerp-exact in both engines).
        val e = t(s, dir, "embeddings")
        val cent = broadcast(e.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"),
            SimilaritySearch.norm(col("embedding")).as("centn")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("corpus_id").orderBy(desc("csim"), asc("cent_id"))
        val cells = e.where(col("vec_id") >= 10)
          .select(col("vec_id").as("corpus_id"), col("embedding").as("cv"),
            SimilaritySearch.norm(col("embedding")).as("cn"))
          .crossJoin(cent)
          .select(col("corpus_id"), col("cent_id"),
            (SimilaritySearch.dot(col("cv"), col("centv")) / col("cn") /
              col("centn")).as("csim"))
          .withColumn("r", row_number().over(w))
          .where(col("r") === 1)
          .groupBy("cent_id").agg(count(lit(1)).as("cnt"))
        cells.agg(count(lit(1)).as("n_cells"),
            sum("cnt").as("n_vecs"),
            min("cnt").as("min_cell"),
            expr("percentile(cnt, 0.5D)").as("p50_cell"),
            max("cnt").as("max_cell"))
          .select(col("n_cells"), col("n_vecs"), col("min_cell"),
            col("p50_cell"), col("max_cell"),
            expr("max_cell * 1000000 * n_cells div n_vecs").as("imbalance_ppm"))
      },
      Some(s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS centv
              |  FROM embeddings WHERE vec_id % 50 = 0),
              |cells AS (SELECT cent_id, COUNT(*)::BIGINT AS cnt FROM (
              |    SELECT corpus_id, cent_id FROM (
              |      SELECT c.vec_id AS corpus_id, ct.cent_id,
              |        ROW_NUMBER() OVER (PARTITION BY c.vec_id
              |          ORDER BY ${dCos("c.embedding", "ct.centv")} DESC, ct.cent_id) AS r
              |      FROM (SELECT * FROM embeddings WHERE vec_id >= 10) c, cent ct)
              |    WHERE r = 1)
              |  GROUP BY 1)
              |SELECT COUNT(*)::BIGINT AS n_cells,
              |  CAST(SUM(cnt) AS BIGINT) AS n_vecs,
              |  CAST(MIN(cnt) AS BIGINT) AS min_cell,
              |  quantile_cont(cnt, 0.5) AS p50_cell,
              |  CAST(MAX(cnt) AS BIGINT) AS max_cell,
              |  CAST(MAX(cnt) AS BIGINT) * 1000000 * COUNT(*)::BIGINT
              |    // CAST(SUM(cnt) AS BIGINT) AS imbalance_ppm
              |FROM cells""".stripMargin),
      "IVF cell-balance audit: corpus assigned to seeded centroids, " +
        "cell-size min/median/max and max-over-mean imbalance in ppm — the " +
        "add-more-centroids signal before probe cost bends " +
        "(extension: similarity search / diagnostics)"),

    CatalogEntry(
      "x132_embedding_dim_health",
      (s, dir) => {
        // per-dimension health audit of the embedding column: mean and
        // variance per coordinate in integer micro-units (floor(x*1e6),
        // shifted +2^20 so every integer division sees positive operands
        // and truncates identically in both engines), plus a
        // dead-dimension flag (variance under 1e9 micro^2, i.e. std
        // ~0.03). Collapsed axes and anisotropy are how embedding spaces
        // rot — dead dims waste ANN capacity and skew cosine geometry.
        // posexplode fans n x d rows into a d-key hash aggregate with
        // map-side partials, so the 100 TB shape is one corpus scan
        // reduced to a 64-row shuffle.
        val C = 1048576L
        t(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .select((col("pos") + 1).cast("long").as("dim"),
            (floor(col("x").cast("double") * lit(1000000.0)).cast("long") +
              C).as("m"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n_vecs"), sum("m").as("sm"),
            sum(col("m") * col("m")).as("sm2"))
          .select(col("dim"), col("n_vecs"),
            (expr("sm div n_vecs") - C).as("mean_ppm"),
            expr("sm2 div n_vecs - (sm div n_vecs) * (sm div n_vecs)")
              .as("var_ppm2"))
          .withColumn("dead",
            when(col("var_ppm2") < 1000000000L, 1L).otherwise(0L))
          .orderBy("dim")
      },
      Some("""WITH m AS (
             |  SELECT u.dim, u.m FROM (
             |    SELECT unnest(list_transform(range(1, len(embedding) + 1),
             |      i -> {'dim': i,
             |            'm': CAST(FLOOR(embedding[i]::DOUBLE * 1000000.0) AS BIGINT)
             |                 + 1048576})) AS u
             |    FROM embeddings)),
             |a AS (SELECT dim, COUNT(*)::BIGINT AS n_vecs,
             |    CAST(SUM(m) AS BIGINT) AS sm, CAST(SUM(m * m) AS BIGINT) AS sm2
             |  FROM m GROUP BY 1)
             |SELECT dim, n_vecs, sm // n_vecs - 1048576 AS mean_ppm,
             |  sm2 // n_vecs - (sm // n_vecs) * (sm // n_vecs) AS var_ppm2,
             |  CASE WHEN sm2 // n_vecs - (sm // n_vecs) * (sm // n_vecs)
             |    < 1000000000 THEN 1::BIGINT ELSE 0::BIGINT END AS dead
             |FROM a ORDER BY dim""".stripMargin),
      "embedding dimension-health audit: per-coordinate mean/variance in " +
        "integer micro-units plus dead-dimension flags — collapsed axes " +
        "and anisotropy waste ANN capacity " +
        "(extension: similarity search / diagnostics)"),

    CatalogEntry(
      "x133_tokenizer_fertility",
      (s, dir) => {
        // tokenizer fairness audit: apply the x110-induced BPE merges and
        // report per-language fertility — tokens per word and chars per
        // token in integer ppm. A tokenizer trained on the majority
        // language over-segments the rest; this is the per-language
        // parity ledger for the x110/x111 tokenizer. Stays |V|-sized on
        // the tokenizer side: per-language word counts are one corpus
        // scan, then a join against the |V|-row segmented vocabulary
        // (AQE broadcasts it), never a per-document re-fold.
        val (_, _, _, t4) = bpeRounds(s, dir)
        val tokPerWord = t4.select(col("word"),
          size(col("toks")).cast("long").as("n_toks"))
        val wl = t(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("word"))
          .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
        wl.join(tokPerWord, "word")
          .groupBy("lang")
          .agg(sum("freq").cast("long").as("n_words"),
            sum(col("freq") * length(col("word"))).cast("long").as("n_chars"),
            sum(col("freq") * col("n_toks")).cast("long").as("n_tokens"))
          .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
            expr("n_tokens * 1000000 div n_words").as("tokens_per_word_ppm"),
            expr("n_chars * 1000000 div n_tokens").as("chars_per_token_ppm"))
          .orderBy("lang")
      },
      Some(s"""WITH $dBpeChain,
              |tw AS (SELECT word, len(toks)::BIGINT AS n_toks FROM t4),
              |wl AS (SELECT lang, word, COUNT(*)::BIGINT AS freq
              |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
              |        FROM documents)
              |  GROUP BY 1, 2)
              |SELECT lang, CAST(SUM(freq) AS BIGINT) AS n_words,
              |  CAST(SUM(freq * len(word)) AS BIGINT) AS n_chars,
              |  CAST(SUM(freq * n_toks) AS BIGINT) AS n_tokens,
              |  CAST(SUM(freq * n_toks) AS BIGINT) * 1000000
              |    // CAST(SUM(freq) AS BIGINT) AS tokens_per_word_ppm,
              |  CAST(SUM(freq * len(word)) AS BIGINT) * 1000000
              |    // CAST(SUM(freq * n_toks) AS BIGINT) AS chars_per_token_ppm
              |FROM wl JOIN tw USING (word)
              |GROUP BY lang ORDER BY lang""".stripMargin),
      "tokenizer fertility by language: per-lang tokens-per-word and " +
        "chars-per-token ppm under the x110 BPE merges — the " +
        "over-segmentation parity audit " +
        "(extension: text analysis / tokenizer)"),

    CatalogEntry(
      "x134_heaps_law",
      (s, dir) => {
        // Heaps-law vocabulary growth: distinct word types vs running
        // token volume at fixed doc_id prefixes. The curve is how you
        // budget tokenizer vocab and predict OOV decay as the corpus
        // grows; the audit-scale countDistinct here is the exact leg —
        // at 100 TB the same curve comes from an x107-style HLL sketch
        // per cutoff instead of an exact distinct.
        import s.implicits._
        val cuts = Seq(100L, 500L, 1000L, 2000L, 5000L).toDF("cutoff")
        t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .crossJoin(broadcast(cuts))
          .where(col("doc_id") < col("cutoff"))
          .groupBy("cutoff")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct("word").as("n_types"))
          .select(col("cutoff"), col("n_tokens"), col("n_types"),
            expr("n_types * 1000000 div n_tokens").as("ttr_ppm"))
          .orderBy("cutoff")
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             |    FROM documents),
             |c AS (SELECT unnest([100, 500, 1000, 2000, 5000]::BIGINT[]) AS cutoff)
             |SELECT cutoff, COUNT(*)::BIGINT AS n_tokens,
             |  COUNT(DISTINCT word)::BIGINT AS n_types,
             |  COUNT(DISTINCT word)::BIGINT * 1000000 // COUNT(*)::BIGINT AS ttr_ppm
             |FROM w JOIN c ON w.doc_id < c.cutoff
             |GROUP BY cutoff ORDER BY cutoff""".stripMargin),
      "Heaps-law vocab growth: token volume, distinct types, and " +
        "type-token ratio at doc_id prefixes — the vocab-budgeting curve; " +
        "the 100 TB leg swaps exact distinct for an HLL sketch " +
        "(extension: text analysis)"),

    CatalogEntry(
      "x135_char_entropy",
      (s, dir) =>
        // per-doc character-distribution health: Shannon entropy (micro-nats)
        // and Simpson diversity (ppm, integer-exact). Low-entropy docs are
        // repetitive junk the distinct-gram ratio (x31) can miss (a doc of
        // two alternating chars has distinct-ratio ~0 AND entropy ~0.69 nat
        // — the pair disambiguates "few distinct grams" from "degenerate
        // distribution"). Shape: explode chars → (doc, char) counts →
        // per-doc integer sums — fully codegen'd, two map-side-combinable
        // shuffles, corpus-linear. (The per-row HOF formulation — a
        // filter() scan per distinct char — was 19.6 s at sf0.1, O(Σ·len)
        // interpreted; this is 1-2 s.) Determinism: each -p·ln(p) term
        // rounds to BIGINT micro-nats BEFORE the sum (the x98 PSI
        // pattern), so the cross-engine sum is integer and order-free;
        // Simpson needs no doubles at all.
        {
          val chars = t(s, dir, "documents")
            .where(length(col("text")) > 0)
            .select(col("doc_id"),
              length(col("text")).cast("long").as("n_chars"),
              explode(split(col("text"), "")).as("ch"))
          chars.groupBy("doc_id", "n_chars", "ch").agg(count(lit(1)).as("c"))
            .groupBy("doc_id", "n_chars")
            .agg(
              sum(expr("""CAST(round(-1000000.0
                |  * (CAST(c AS DOUBLE) / n_chars)
                |  * ln(CAST(c AS DOUBLE) / n_chars)) AS BIGINT)""".stripMargin))
                .as("entropy_micronat"),
              sum(col("c") * col("c")).as("sum_c2"))
            .select(col("doc_id"), col("n_chars"), col("entropy_micronat"),
              expr("(n_chars * n_chars - sum_c2) * 1000000 div (n_chars * n_chars)")
                .as("simpson_ppm"))
            .orderBy("doc_id")
        },
      Some("""SELECT doc_id, length(text)::BIGINT AS n_chars,
             |  CAST(list_reduce(list_prepend(0::BIGINT,
             |    list_transform(list_sort(list_distinct(string_split(text, ''))),
             |      ch -> CAST(round(-1000000.0
             |        * (len(list_filter(string_split(text, ''), c -> c = ch))::DOUBLE
             |           / length(text))
             |        * ln(len(list_filter(string_split(text, ''), c -> c = ch))::DOUBLE
             |             / length(text))) AS BIGINT))),
             |    (acc, x) -> acc + x) AS BIGINT) AS entropy_micronat,
             |  (length(text)::BIGINT * length(text)
             |   - list_reduce(list_prepend(0::BIGINT,
             |       list_transform(list_distinct(string_split(text, '')),
             |         ch -> len(list_filter(string_split(text, ''), c -> c = ch))::BIGINT
             |             * len(list_filter(string_split(text, ''), c -> c = ch)))),
             |       (acc, x) -> acc + x))
             |   * 1000000 // (length(text)::BIGINT * length(text)) AS simpson_ppm
             |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin),
      "per-doc char-distribution health: Shannon entropy (micro-nat) + " +
        "Simpson diversity (ppm) — degenerate-distribution filter the " +
        "distinct-gram ratio misses (extension: text analysis / quality)"),

    CatalogEntry(
      "x136_source_unigram_kl",
      (s, dir) => {
        // per-source distribution shift: KL(source ‖ corpus) over the
        // unigram distribution, in micro-nats — the mixture diagnostic that
        // catches a machine-generated or off-domain source before it skews
        // training (x90's batch-Jaccard sees vocab SETS; KL sees the
        // FREQUENCIES). One explode → two count shuffles; the corpus vocab
        // (sub-linear in corpus bytes) broadcasts back onto per-source
        // counts, and each word's p·ln(p/q) term rounds to integer
        // micro-nats before the per-source BIGINT sum (the x98 pattern).
        val words = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        val bySrc = words.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
        val srcTot = bySrc.groupBy("source").agg(sum("c_sw").cast("long").as("t_s"))
        val byWord = words.groupBy("w").agg(count(lit(1)).as("c_w"))
        val tot = words.agg(count(lit(1)).as("t")).select(col("t").cast("long").as("t"))
        bySrc
          .join(broadcast(byWord), "w")
          .join(broadcast(srcTot), "source")
          .crossJoin(broadcast(tot))
          .select(col("source"), col("t_s"),
            expr("""CAST(round(1000000.0
              |  * (CAST(c_sw AS DOUBLE) / t_s)
              |  * ln((CAST(c_sw AS DOUBLE) / t_s)
              |       / (CAST(c_w AS DOUBLE) / t))) AS BIGINT)""".stripMargin)
              .as("term"))
          .groupBy("source")
          .agg(max("t_s").as("n_tokens"), sum("term").as("kl_micronat"))
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
             |    FROM documents),
             |sw AS (SELECT source, w, COUNT(*)::BIGINT AS c_sw FROM w GROUP BY 1, 2),
             |st AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS t_s FROM sw GROUP BY 1),
             |cw AS (SELECT w, COUNT(*)::BIGINT AS c_w FROM w GROUP BY 1),
             |ct AS (SELECT COUNT(*)::BIGINT AS t FROM w)
             |SELECT source, MAX(t_s) AS n_tokens,
             |  CAST(SUM(CAST(round(1000000.0 * (c_sw::DOUBLE / t_s)
             |    * ln((c_sw::DOUBLE / t_s) / (c_w::DOUBLE / t))) AS BIGINT)) AS BIGINT)
             |    AS kl_micronat
             |FROM sw JOIN cw USING (w) JOIN st USING (source) CROSS JOIN ct
             |GROUP BY source ORDER BY source""".stripMargin),
      "per-source unigram KL divergence from the corpus distribution " +
        "(micro-nat) — frequency-level domain-shift diagnostic for mixture " +
        "curation (extension: text analysis / mixture)"),

    CatalogEntry(
      "x137_lsh_band_tuning",
      (s, dir) => {
        // LSH design tuner: the measured exact-pair jaccard histogram (from
        // the prefix-filtered exact join at a low floor, x92's truth
        // machinery) crossed with the analytic S-curve P(candidate) =
        // 1 − (1 − s^r)^b for each (bands b × rows r) split of the k=16
        // signature — per histogram bucket, the expected number of pairs a
        // config would surface. This is the table a 100 TB dedup deployment
        // reads BEFORE committing to (b, r): the histogram leg is the
        // prefix join (no n² term), the grid is 4 literal rows, and every
        // double rounds to ppm per row (no double aggregation anywhere).
        // The bucket midpoint clamps at 1.0: the jac = 1.0 bucket (exact
        // duplicates) would otherwise evaluate the S-curve at s = 1.05,
        // where the formula is meaningless — detection there is certain.
        val sh = Dedup.minhashSignature(
            t(s, dir, "documents").where(col("doc_id") < 1000),
            k = 16, shingleN = 3)
          .select(col("doc_id"), col("shingles"))
        val hist = Dedup.exactJaccardSelfPairs(sh, threshold = 0.2)
          .select(floor(col("jac") * 10).cast("long").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        import s.implicits._
        val grid = Seq((16, 1), (8, 2), (4, 4), (2, 8)).toDF("bands", "rows_per_band")
        hist.crossJoin(broadcast(grid))
          .select(col("bucket"), col("bands"), col("rows_per_band"), col("n_pairs"),
            expr("""CAST(round(1000000.0 * (1.0 - pow(
              |  1.0 - pow(least(1.0, (bucket + 0.5) / 10.0), rows_per_band), bands)))
              |  AS BIGINT)""".stripMargin).as("detect_ppm"),
            expr("""CAST(round(n_pairs * (1.0 - pow(
              |  1.0 - pow(least(1.0, (bucket + 0.5) / 10.0), rows_per_band), bands)))
              |  AS BIGINT)""".stripMargin).as("expected_found"))
          .orderBy("bucket", "bands")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents WHERE doc_id < 1000),
              |sh AS (SELECT doc_id, $dShingles AS shingles FROM base),
              |hist AS (SELECT CAST(FLOOR(jac * 10) AS BIGINT) AS bucket,
              |    COUNT(*)::BIGINT AS n_pairs FROM (
              |  SELECT len(list_intersect(a.shingles, b.shingles))::DOUBLE
              |      / (len(a.shingles) + len(b.shingles)
              |         - len(list_intersect(a.shingles, b.shingles))) AS jac
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE jac >= 0.2
              |  GROUP BY 1),
              |grid AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8))
              |  g(bands, rows_per_band))
              |SELECT bucket, bands, rows_per_band, n_pairs,
              |  CAST(round(1000000.0 * (1.0 - pow(
              |    1.0 - pow(least(1.0, (bucket + 0.5) / 10.0), rows_per_band), bands)))
              |    AS BIGINT) AS detect_ppm,
              |  CAST(round(n_pairs * (1.0 - pow(
              |    1.0 - pow(least(1.0, (bucket + 0.5) / 10.0), rows_per_band), bands)))
              |    AS BIGINT) AS expected_found
              |FROM hist CROSS JOIN grid ORDER BY bucket, bands""".stripMargin),
      "LSH (bands × rows) tuner: measured exact-pair jaccard histogram × " +
        "analytic detection S-curve → expected pairs surfaced per config — " +
        "the design table built before committing an index at scale " +
        "(extension: dedup / similarity search / planning)"),

    CatalogEntry(
      "x138_asof_forward",
      (s, dir) => {
        // FORWARD as-of: each click → the user's FIRST purchase at-or-after
        // (time-to-conversion direction; x25 is the backward dual). No new
        // operator: the plan-native AsOfJoinExec is direction-agnostic under
        // time negation — latest(-t' ≤ -t) ≡ earliest(t' ≥ t), and the
        // equal-time max tie-break carries over unchanged. Same one merge
        // pass per co-partition, no inequality nested-loop at any scale.
        val ev = t(s, dir, "events").withColumn("tsu", expr("ts div 1000"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("tsu").as("click_us"), (-col("tsu")).as("neg_click_us"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purch_id"), col("user_id"),
            col("tsu").as("purch_us"), (-col("tsu")).as("neg_purch_us"))
        org.apache.spark.sql.graft.GraftPlans
          .asOfJoin(clicks, purchases, key = "user_id",
            leftTime = "neg_click_us", rightTime = "neg_purch_us",
            carry = Seq("purch_id", "purch_us"), rightTieBreak = "purch_id")
          .select(col("click_id"), col("user_id"), col("click_us"),
            col("asof_purch_id").as("next_purch_id"),
            col("asof_purch_us").as("next_purch_us"),
            (col("asof_purch_us") - col("click_us")).as("wait_us"))
          .orderBy("click_id")
      },
      Some("""WITH c AS (
             |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
             |  FROM events WHERE event_type = 'click'),
             |p AS (
             |  SELECT event_id AS purch_id, user_id, epoch_us(ts) AS purch_us
             |  FROM events WHERE event_type = 'purchase'),
             |best AS (
             |  SELECT c.click_id, c.user_id, c.click_us, min(p.purch_us) AS next_purch_us
             |  FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.purch_us >= c.click_us
             |  GROUP BY 1, 2, 3)
             |SELECT b.click_id, b.user_id, b.click_us,
             |  (SELECT max(p2.purch_id) FROM p p2
             |   WHERE p2.user_id = b.user_id AND p2.purch_us = b.next_purch_us)
             |    AS next_purch_id,
             |  b.next_purch_us,
             |  b.next_purch_us - b.click_us AS wait_us
             |FROM best b ORDER BY click_id""".stripMargin),
      "forward as-of join (each click → the user's first purchase at-or-after, " +
        "time-to-conversion): the plan-native merge operator reused under time " +
        "negation — no new exec, no inequality nested-loop (extension: events/temporal)"),

    CatalogEntry(
      "x139_exact_ingest_audit",
      (s, dir) => {
        // the NO-MISS ingest gate: odd-id docs (the incoming batch) probed
        // EXACTLY (jaccard ≥ 0.5, prefix+positional filtering, zero false
        // negatives by construction) against the persisted even-id corpus
        // index — the exact dual of x117's banded probe, for contracts
        // where a missed duplicate is a correctness bug (eval
        // decontamination, licensing holds) rather than a rate. Index
        // build (freq order + prefix rows + value-sorted sets) is paid
        // once per corpus release (staged here, the x101/x117 pattern);
        // the per-batch probe shingles only the shard. Per incoming doc:
        // how many existing dups, and the best match in integer ppm.
        val idx = stagedJaccardIndex(s, dir)
        val incoming = t(s, dir, "documents").where(col("doc_id") % 2 === 1)
        // path form: reads the index's meta row and rejects a probe below
        // the build threshold (the no-miss guard added round 10)
        graft.operators.Dedup.exactJaccardPairsStaged(
            incoming, idx, "doc_id", "text", threshold = 0.5)
          .groupBy(col("in_id").as("doc_id"))
          .agg(count(lit(1)).as("n_dups"),
            max(floor(col("jac") * 1000000.0).cast("long")).as("best_jac_ppm"))
          .orderBy("doc_id")
      },
      Some(s"""WITH base AS (
              |  SELECT doc_id, $dShingles AS shingles FROM (
              |    SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |    FROM documents)),
              |inc AS (SELECT * FROM base WHERE doc_id % 2 = 1),
              |ex  AS (SELECT * FROM base WHERE doc_id % 2 = 0),
              |pairs AS (
              |  SELECT i.doc_id, len(list_intersect(i.shingles, e.shingles))::DOUBLE
              |      / (len(i.shingles) + len(e.shingles)
              |         - len(list_intersect(i.shingles, e.shingles))) AS jac
              |  FROM inc i JOIN ex e ON TRUE)
              |SELECT doc_id, COUNT(*)::BIGINT AS n_dups,
              |  CAST(MAX(FLOOR(jac * 1000000.0)) AS BIGINT) AS best_jac_ppm
              |FROM pairs WHERE jac >= 0.5
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "exact incremental-ingest audit: incoming shard probed against the " +
        "persisted exact-jaccard corpus index (prefix + positional filter, " +
        "no-miss contract) — per-doc duplicate count and best match ppm " +
        "(extension: dedup / incremental ingest)"),

    CatalogEntry(
      "x140_semdedup_scaled",
      (s, dir) => {
        // SemDeDup with the centroid count ∝ corpus (the knob that keeps
        // x122's within-cell pair term linear as the corpus grows) and
        // two-level IVF assignment so corpus-proportional k doesn't turn
        // the assignment stage quadratic: corpus rows score only the fine
        // centroids of their coarse cell (n·√k, one shuffle on the coarse
        // id). Sampling hashes are fixed QUADRATIC polynomials mod the
        // shared prime — bit-replayable in the oracle like the MinHash
        // constants, but robust on structured id lattices where an affine
        // hash degenerates (see semDedupScaled's scaladoc).
        SimilaritySearch.semDedupScaled(
            t(s, dir, "embeddings"), targetCellSize = 25, tau = 0.25)
          .select(col("cent_id"), col("id").as("vec_id"),
            when(col("dropped"), 1L).otherwise(0L).as("dropped"))
          .orderBy("vec_id")
      },
      Some(s"""WITH cents AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE ((vec_id % 1000000007) * (vec_id % 1000000007) % 1000000007
              |         * 2654435761 + (vec_id % 1000000007) * 40503 + 7)
              |        % 1000000007 % 25 = 0
              |     OR vec_id = (SELECT MIN(vec_id) FROM embeddings)),
              |km AS (SELECT CAST(round(sqrt(COUNT(*))) AS BIGINT) AS cm,
              |              MIN(cent_id) AS mn FROM cents),
              |coarse AS (
              |  SELECT cent_id AS coarse_id, centv AS coarsev FROM cents, km
              |  WHERE ((cent_id % 1000000007) * (cent_id % 1000000007) % 1000000007
              |         * 40503 + (cent_id % 1000000007) * 2654435761 + 11)
              |        % 1000000007 % km.cm = 0
              |     OR cent_id = km.mn),
              |fine_asg AS (SELECT cent_id, centv, coarse_id FROM (
              |  SELECT c.cent_id, c.centv, co.coarse_id,
              |    ROW_NUMBER() OVER (PARTITION BY c.cent_id
              |      ORDER BY ${dCos("c.centv", "co.coarsev")} DESC, co.coarse_id) AS r
              |  FROM cents c, coarse co) WHERE r = 1),
              |corp_asg AS (SELECT id, v, coarse_id FROM (
              |  SELECT e.vec_id AS id, e.embedding AS v, co.coarse_id,
              |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
              |      ORDER BY ${dCos("e.embedding", "co.coarsev")} DESC, co.coarse_id) AS r
              |  FROM embeddings e, coarse co) WHERE r = 1),
              |asg AS (SELECT id, v, cent_id FROM (
              |  SELECT ca.id, ca.v, COALESCE(f.cent_id, ca.coarse_id) AS cent_id,
              |    ROW_NUMBER() OVER (PARTITION BY ca.id
              |      ORDER BY ${dCos("ca.v", "f.centv")} DESC NULLS LAST, f.cent_id) AS r
              |  FROM corp_asg ca LEFT JOIN fine_asg f ON ca.coarse_id = f.coarse_id)
              |  WHERE r = 1),
              |dropped AS (SELECT DISTINCT b.cent_id, b.id
              |  FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.id < b.id
              |  WHERE ${dCos("a.v", "b.v")} >= 0.25)
              |SELECT g.cent_id, g.id AS vec_id,
              |  CAST(CASE WHEN d.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
              |    AS dropped
              |FROM asg g LEFT JOIN dropped d
              |  ON g.cent_id = d.cent_id AND g.id = d.id
              |ORDER BY vec_id""".stripMargin),
      "SemDeDup at corpus-proportional centroid count: two-level IVF " +
        "assignment (coarse √k layer, fine within coarse cell) keeps both " +
        "the assignment and the within-cell pair term sub-quadratic — the " +
        "100 TB form of x122 (extension: dedup / embeddings / scale)"),

    CatalogEntry(
      "x141_zipf_fit",
      (s, dir) => {
        // Per-source Zipf exponent: OLS slope of ln(freq) on ln(rank) over
        // the top-1000 vocabulary. The determinism recipe is the x135/x98
        // one — round each ln to MILLI-units (BIGINT) before any sum, so
        // libm ULP differences between JVM and DuckDB can't reach the
        // hash; the four regression sums are then exact integer arithmetic
        // and the final slope is ONE double division of identical
        // operands. Scale: the window ranks the per-source VOCABULARY
        // (Heaps-law sized, orders smaller than the corpus), and the
        // top-1000 cap bounds the regression input per source regardless
        // of corpus size.
        val freq = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("freq"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("freq").desc, col("token"))
        val pts = freq.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 1000)
          .select(col("source"),
            round(log(col("rank").cast("double")) * 1000).cast("long").as("x"),
            round(log(col("freq").cast("double")) * 1000).cast("long").as("y"))
        val fit = pts.groupBy("source").agg(
          count(lit(1)).as("vocab_n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        val den = fit("vocab_n") * fit("sxx") - fit("sx") * fit("sx")
        fit.select(col("source"), col("vocab_n"),
          (-((col("vocab_n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / when(den =!= 0, den).cast("double"))).as("zipf_exponent"))
          .orderBy("source")
      },
      Some("""WITH tok AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
             |freq AS (SELECT source, token, COUNT(*)::BIGINT AS freq
             |  FROM tok GROUP BY 1, 2),
             |ranked AS (SELECT source, freq, ROW_NUMBER() OVER (
             |    PARTITION BY source ORDER BY freq DESC, token) AS rank FROM freq),
             |pts AS (SELECT source,
             |    CAST(round(ln(rank::DOUBLE) * 1000.0) AS BIGINT) AS x,
             |    CAST(round(ln(freq::DOUBLE) * 1000.0) AS BIGINT) AS y
             |  FROM ranked WHERE rank <= 1000),
             |fit AS (SELECT source, COUNT(*)::BIGINT AS vocab_n,
             |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx
             |  FROM pts GROUP BY 1)
             |SELECT source, vocab_n,
             |  -(CAST(vocab_n * sxy - sx * sy AS DOUBLE)
             |    / CAST(NULLIF(vocab_n * sxx - sx * sx, 0) AS DOUBLE)) AS zipf_exponent
             |FROM fit ORDER BY source""".stripMargin),
      "per-source Zipf-law exponent via exact integer OLS over milli-unit " +
        "log-log points: vocabulary-sized window + top-1000 cap, one double " +
        "division at the end — the power-law health check a corpus intake " +
        "runs per source (extension: text analysis / statistics)"),

    CatalogEntry(
      "x142_ks_drift",
      (s, dir) => {
        // Two-sample Kolmogorov–Smirnov distance between the event-value
        // distributions of the two user cohorts (user_id parity) — the
        // distribution-drift gate between ingest batches. The ECDFs are
        // ONE distributed prefix-sum pass over both cohort columns
        // (PrefixSum.runningTotals: range-partition + per-partition
        // window + O(P) driver offsets), NOT a single-partition global
        // window — the one construction that survives a corpus-sized
        // value axis. The KS numerator |ca·NB − cb·NA| is exact
        // DECIMAL(38,0) arithmetic (cohort counts past ~3·10⁹ would wrap
        // the i64 product — the oracle's HUGEINT is the same 128-bit
        // lane), but the decimal stays strictly INTERNAL: the emitted
        // schema is BIGINT-only (na, nb, ks_micro). Rounds 10–11 proved
        // both legs bit-identical under a local Arrow compare while the
        // driver's typed hash still rejected the DECIMAL(38,0) lane, so
        // the exact numerator is an intermediate, not an output
        // (PlanAuditSpec now bans decimal output columns catalog-wide).
        // The final statistic follows the catalog's milli/micro-unit
        // determinism recipe (x141/x143): one double division of exact
        // operands, rounded to micro-units as BIGINT on BOTH legs, with
        // the empty-cohort denominator NULL-guarded the same way x141
        // guards its OLS denominator.
        val e = t(s, dir, "events").select(
          floor(col("value") * 1000).cast("long").as("vm"),
          (col("user_id") % 2).as("g"))
        val c = e.groupBy("vm").agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("a"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("b"))
        val run = PrefixSum.runningTotals(c, "vm", Seq("a" -> "ca", "b" -> "cb"))
        val tot = c.agg(sum("a").as("na"), sum("b").as("nb"))
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
        run.crossJoin(broadcast(tot))
          .select(col("na"), col("nb"),
            abs(dec(col("ca")) * dec(col("nb"))
              - dec(col("cb")) * dec(col("na"))).as("d"))
          .groupBy("na", "nb").agg(max(col("d")).cast("decimal(38,0)").as("ks_num"))
          .select(col("na"), col("nb"),
            when(dec(col("na")) * dec(col("nb")) =!= 0,
              round(col("ks_num").cast("double")
                / (dec(col("na")) * dec(col("nb"))).cast("double") * 1e6))
              .cast("long").as("ks_micro"))
      },
      Some("""WITH e AS (SELECT CAST(floor(value * 1000) AS BIGINT) AS vm,
             |    user_id % 2 AS g FROM events),
             |c AS (SELECT vm,
             |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
             |  FROM e GROUP BY 1),
             |r AS (SELECT vm,
             |    CAST(SUM(a) OVER (ORDER BY vm) AS BIGINT) AS ca,
             |    CAST(SUM(b) OVER (ORDER BY vm) AS BIGINT) AS cb FROM c),
             |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
             |    CAST(SUM(b) AS BIGINT) AS nb FROM c)
             |SELECT na, nb,
             |  CAST(round(
             |    CAST(MAX(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) AS DOUBLE)
             |      / CAST(NULLIF(CAST(na AS HUGEINT) * nb, 0) AS DOUBLE) * 1e6)
             |    AS BIGINT) AS ks_micro
             |FROM r, tot GROUP BY na, nb""".stripMargin),
      "two-sample KS distance between cohort value distributions on " +
        "distributed ECDFs (ONE range-partitioned multi-column prefix-sum " +
        "pass, O(P) driver state) with an exact 128-bit numerator — the " +
        "drift gate between ingest batches (extension: data quality / " +
        "statistics)"),

    CatalogEntry(
      "x143_dp_release",
      (s, dir) => {
        // Laplace-mechanism count release (ε = 1, sensitivity 1) in
        // deterministic REPLAY form: noise drawn by inverse CDF from a
        // seeded uniform — the salted polyhash of the group key (x86's
        // Gumbel-trick cousin) — so the oracle replays the mechanism
        // bit-for-bit. A PUBLIC salt carries no privacy (anyone can
        // recompute and subtract the noise): the production release swaps
        // the salt for a per-release SECRET (or a CSPRNG draw), which
        // changes nothing in the plan — this entry pins the mechanism's
        // arithmetic, not the secrecy of its seed. u ∈ (0,1) via
        // (h+1)/(P+1); noise = −sgn(v)·ln(1−2|v|) for v = u − ½, rounded
        // to milli-units BEFORE the add so libm ULP differences can't
        // reach the hash. One map-side-combinable count shuffle; the
        // noise is a scalar expression on |groups| rows.
        val g = t(s, dir, "events")
          .groupBy("event_type").agg(count(lit(1)).as("n"))
        g.withColumn("h",
            TextFunctions.fingerprint(s"concat(event_type, ':dp1')"))
          .withColumn("v",
            (col("h").cast("double") + 1.0) / lit(Prime + 1.0) - 0.5)
          .select(col("event_type"), col("n"),
            (col("n") * 1000 +
              round(-signum(col("v"))
                * log(lit(1.0) - lit(2.0) * abs(col("v"))) * 1000)
                .cast("long")).as("released_milli"))
          .orderBy("event_type")
      },
      Some(s"""WITH g AS (SELECT event_type, COUNT(*)::BIGINT AS n
              |  FROM events GROUP BY 1),
              |hh AS (SELECT event_type, n,
              |    ${dPoly("(event_type || ':dp1')")} AS h FROM g),
              |nz AS (SELECT event_type, n,
              |    ((h::DOUBLE + 1.0) / 1000000008.0) - 0.5 AS v FROM hh)
              |SELECT event_type, n,
              |  CAST(n * 1000 + CAST(round(-sign(v)
              |    * ln(1.0 - 2.0 * abs(v)) * 1000.0) AS BIGINT) AS BIGINT)
              |    AS released_milli
              |FROM nz ORDER BY event_type""".stripMargin),
      "ε=1 Laplace-mechanism count release in oracle-replayable form " +
        "(salted-hash uniform → inverse CDF, milli-unit rounded; a SECRET " +
        "per-release salt makes the identical plan an actual DP release) " +
        "on one count shuffle (extension: privacy)"),

    CatalogEntry(
      "x144_ivf_probe",
      (s, dir) => {
        // x18's IVF search against a PERSISTED index: the inverted lists
        // are cell-partitioned parquet written once per corpus release
        // (Layouts.ivfIndex, timed as its own build_x144 bench row); the
        // probe's cell equi-join dynamic-partition-prunes the scan to the
        // nprobe probed cells (IvfIndexSpec pins the plan). Queries are
        // the fenced ≤10-vector set; centroids are the corpus-side
        // id % 50 sample recorded in the index meta.
        val e = t(s, dir, "embeddings")
        SimilaritySearch.ivfTopKStaged(
          e.where(col("vec_id") < 10), stagedIvfIndex(s, dir), k = 5, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |qs AS (SELECT vec_id AS query_id, embedding AS queryv
              |  FROM embeddings WHERE vec_id < 10),
              |lists AS (
              |  SELECT corpus_id, corpusv, cent_id FROM (
              |    SELECT c.corpus_id, c.corpusv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1),
              |probes AS (
              |  SELECT query_id, queryv, cent_id FROM (
              |    SELECT q.query_id, q.queryv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.queryv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM qs q, cent ct)
              |  WHERE r <= 2)
              |SELECT * FROM (
              |  SELECT p.query_id, l.corpus_id, ${dCos("p.queryv", "l.corpusv")} AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY p.query_id
              |      ORDER BY ${dCos("p.queryv", "l.corpusv")} DESC, l.corpus_id) AS rank
              |  FROM probes p JOIN lists l ON p.cent_id = l.cent_id)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "IVF ANN probe of a persisted cell-partitioned index: dynamic " +
        "partition pruning reads only the nprobe probed cells — storage-" +
        "level ANN selectivity, the write-once/probe-many split applied " +
        "to similarity search (extension: similarity search / scale)"),

    CatalogEntry(
      "x145_ivf_probe_2l",
      (s, dir) => {
        // x144's probe against the TWO-LEVEL-built index (Layouts.ivfIndex
        // twoLevel = true): assignment ran as the √k coarse pass instead
        // of flat n·k — the build that stays affordable at corpus-
        // proportional cell count (SCALING.md ¶: 52.2 vs 29.2 s at 100×,
        // 5× density). The oracle replays the ENTIRE two-level assignment
        // (quadratic lattice-hash coarse sampling, min-centroid guard,
        // probe-1 coarse routing, LEFT-join fine argmax with the
        // coarse-fallback COALESCE) — the same replay discipline as x140,
        // so the approximate-at-boundaries assignment is still value-exact
        // to the engine that defines it.
        val e = t(s, dir, "embeddings")
        SimilaritySearch.ivfTopKStaged(
          e.where(col("vec_id") < 10), stagedIvfIndex2l(s, dir), k = 5, nprobe = 2)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH cents AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10),
              |km AS (SELECT GREATEST(1, CAST(round(sqrt(GREATEST(1, COUNT(*))))
              |         AS BIGINT)) AS cm,
              |       MIN(cent_id) AS mn FROM cents),
              |coarse AS (
              |  SELECT cent_id AS coarse_id, centv AS coarsev FROM cents, km
              |  WHERE ((cent_id % 1000000007) * (cent_id % 1000000007) % 1000000007
              |         * 40503 + (cent_id % 1000000007) * 2654435761 + 11)
              |        % 1000000007 % km.cm = 0
              |     OR cent_id = km.mn),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |fine_asg AS (SELECT cent_id, centv, coarse_id FROM (
              |  SELECT c.cent_id, c.centv, co.coarse_id,
              |    ROW_NUMBER() OVER (PARTITION BY c.cent_id
              |      ORDER BY ${dCos("c.centv", "co.coarsev")} DESC, co.coarse_id) AS r
              |  FROM cents c, coarse co) WHERE r = 1),
              |corp_coarse AS (SELECT corpus_id, corpusv, coarse_id FROM (
              |  SELECT cr.corpus_id, cr.corpusv, co.coarse_id,
              |    ROW_NUMBER() OVER (PARTITION BY cr.corpus_id
              |      ORDER BY ${dCos("cr.corpusv", "co.coarsev")} DESC, co.coarse_id) AS r
              |  FROM corp cr, coarse co) WHERE r = 1),
              |lists AS (SELECT corpus_id, corpusv, cent_id FROM (
              |  SELECT cc.corpus_id, cc.corpusv,
              |    COALESCE(f.cent_id, cc.coarse_id) AS cent_id,
              |    ROW_NUMBER() OVER (PARTITION BY cc.corpus_id
              |      ORDER BY ${dCos("cc.corpusv", "f.centv")} DESC NULLS LAST,
              |        f.cent_id) AS r
              |  FROM corp_coarse cc LEFT JOIN fine_asg f ON cc.coarse_id = f.coarse_id)
              |  WHERE r = 1),
              |qs AS (SELECT vec_id AS query_id, embedding AS queryv
              |  FROM embeddings WHERE vec_id < 10),
              |probes AS (SELECT query_id, queryv, cent_id FROM (
              |  SELECT q.query_id, q.queryv, ct.cent_id,
              |    ROW_NUMBER() OVER (PARTITION BY q.query_id
              |      ORDER BY ${dCos("q.queryv", "ct.centv")} DESC, ct.cent_id) AS r
              |  FROM qs q, cents ct) WHERE r <= 2)
              |SELECT * FROM (
              |  SELECT p.query_id, l.corpus_id, ${dCos("p.queryv", "l.corpusv")} AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY p.query_id
              |      ORDER BY ${dCos("p.queryv", "l.corpusv")} DESC, l.corpus_id) AS rank
              |  FROM probes p JOIN lists l ON p.cent_id = l.cent_id)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "IVF probe of the TWO-LEVEL-built persisted index: oracle replays " +
        "the √k coarse assignment end-to-end (lattice-hash sampling, " +
        "probe-1 routing, fine argmax with coarse fallback) — the " +
        "corpus-proportional-k build, value-exact " +
        "(extension: similarity search / scale)"),

    CatalogEntry(
      "x146_bloom_decontam",
      (s, dir) => {
        // Bounded-memory membership decontamination: the TRAIN-side 8-gram
        // window fingerprints (x128's primitive) are compressed into an
        // m = 2^16-bit Bloom filter (k = 4 salted affine hashes), and the
        // eval shard probes it — a hit means "possibly seen in training",
        // a miss is a GUARANTEE of novelty. This is the form the exact
        // x128 join takes at 100 TB when the train fp set no longer fits
        // a join side: the filter is O(m) bits regardless of corpus size
        // and broadcasts to every probe task. The filter is modeled as
        // the distinct set of SET bit positions (semantically identical
        // to the bitset: membership = all k positions present), which is
        // what makes the whole structure — including the measured vs
        // analytic (filled/m)^k false-positive rate — replayable in the
        // oracle. The analytic power is explicit multiplication, not
        // pow(), so both engines evaluate identical IEEE ops.
        val M = 65536L
        def posArr(fp: org.apache.spark.sql.Column) = array((0 until 4).map(i =>
          ((fp % Prime) * lit(2654435761L + i * 40503L)
            + lit(7L + i * 100003L)) % Prime % M): _*)
        val wins = dupSpanWindows(t(s, dir, "documents"))
          .select(col("doc_id"), col("fp"))
        val train = wins.where(col("doc_id") % 97 =!= 0).select("fp").distinct()
        val ev = wins.where(col("doc_id") % 97 === 0).select("fp").distinct()
        val tpos = train.select(explode(posArr(col("fp"))).as("pos")).distinct()
        val epos = ev.select(col("fp"),
          array_distinct(posArr(col("fp"))).as("parr"))
        val hits = epos.select(col("fp"), size(col("parr")).as("npos"),
            explode(col("parr")).as("pos"))
          .join(tpos.withColumn("m", lit(1L)), Seq("pos"), "left")
          .groupBy("fp", "npos").agg(sum(coalesce(col("m"), lit(0L))).as("h"))
        val bh = hits.where(col("h") === col("npos")).agg(count(lit(1)).as("n_bloom_hits"))
        val tr = ev.join(train, "fp").agg(count(lit(1)).as("n_true"))
        val stats = train.agg(count(lit(1)).as("n_train_fps"))
          .crossJoin(tpos.agg(count(lit(1)).as("filled")))
          .crossJoin(ev.agg(count(lit(1)).as("n_eval_fps")))
          .crossJoin(tr).crossJoin(bh)
        val r = col("filled").cast("double") / lit(M.toDouble)
        stats.select(col("n_train_fps"), col("filled"), col("n_eval_fps"),
          col("n_true"), col("n_bloom_hits"),
          (col("n_bloom_hits") - col("n_true")).as("false_pos"),
          round((col("n_bloom_hits") - col("n_true")).cast("double")
            / when(col("n_eval_fps") - col("n_true") =!= 0,
                col("n_eval_fps") - col("n_true")).cast("double") * 1e6)
            .cast("long").as("fpr_measured_ppm"),
          round(r * r * r * r * lit(1e6)).cast("long").as("fpr_analytic_ppm"))
      },
      Some(s"""WITH base AS (SELECT doc_id,
              |    list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
              |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
              |wf AS (SELECT doc_id, unnest(list_transform(range(0, len(hs) - 8 + 1),
              |    i -> list_reduce(list_prepend(0::BIGINT, hs[i + 1 : i + 8]),
              |      (acc, h) -> (acc * 31 + h) % $Prime))) AS fp
              |  FROM base),
              |train AS (SELECT DISTINCT fp FROM wf WHERE doc_id % 97 <> 0),
              |ev AS (SELECT DISTINCT fp FROM wf WHERE doc_id % 97 = 0),
              |tpos AS (SELECT DISTINCT
              |    ((fp % $Prime) * (2654435761 + i * 40503) + (7 + i * 100003))
              |      % $Prime % 65536 AS pos
              |  FROM train, range(0, 4) r(i)),
              |epos AS (SELECT fp, list_distinct(list_transform(range(0, 4),
              |    i -> ((fp % $Prime) * (2654435761 + i * 40503) + (7 + i * 100003))
              |      % $Prime % 65536)) AS parr FROM ev),
              |eflat AS (SELECT fp, len(parr) AS npos, unnest(parr) AS pos FROM epos),
              |hitc AS (SELECT f.fp, f.npos,
              |    CAST(SUM(CASE WHEN t.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS h
              |  FROM eflat f LEFT JOIN tpos t ON f.pos = t.pos GROUP BY 1, 2),
              |agg AS (SELECT
              |  (SELECT COUNT(*) FROM train)::BIGINT AS n_train_fps,
              |  (SELECT COUNT(*) FROM tpos)::BIGINT AS filled,
              |  (SELECT COUNT(*) FROM ev)::BIGINT AS n_eval_fps,
              |  (SELECT COUNT(*) FROM ev e JOIN train t ON e.fp = t.fp)::BIGINT AS n_true,
              |  (SELECT COUNT(*) FROM hitc WHERE h = npos)::BIGINT AS n_bloom_hits)
              |SELECT n_train_fps, filled, n_eval_fps, n_true, n_bloom_hits,
              |  n_bloom_hits - n_true AS false_pos,
              |  CAST(round(CAST(n_bloom_hits - n_true AS DOUBLE)
              |    / CAST(NULLIF(n_eval_fps - n_true, 0) AS DOUBLE) * 1000000.0)
              |    AS BIGINT) AS fpr_measured_ppm,
              |  CAST(round((filled::DOUBLE / 65536.0) * (filled::DOUBLE / 65536.0)
              |    * (filled::DOUBLE / 65536.0) * (filled::DOUBLE / 65536.0)
              |    * 1000000.0) AS BIGINT) AS fpr_analytic_ppm
              |FROM agg""".stripMargin),
      "Bloom-filter decontamination audit: train 8-gram windows compressed " +
        "into a 2^16-bit filter (4 salted hashes, set-of-positions model), " +
        "eval shard probed map-side — no false negatives by construction, " +
        "measured vs analytic (filled/m)^k FPR — the bounded-memory form " +
        "of x128 at corpus scales where the exact fp set no longer fits " +
        "a join side (extension: curation / decontamination / sketches)"),

    CatalogEntry(
      "x147_cusum_shift",
      (s, dir) => {
        // Distributed CUSUM mean-shift ledger over the hourly event-count
        // series — the sequential-change-detection sibling of the x142 KS
        // gate. The textbook recursion S_i = max(0, S_{i-1} + dev_i) is a
        // sequential scan; it rewrites exactly to
        // S_i = P_i − min(0, min_{j≤i} P_j) with P the prefix sum of the
        // deviations, and BOTH prefix statistics distribute
        // (PrefixSum.runningTotals + runningMin: range-partition, local
        // windows, O(P) driver offsets — never a single-partition global
        // window). Deviations are exact integers against the
        // integer-floored global mean (dev = n_h − T div H), so the whole
        // ledger replays bit-for-bit in the oracle. At 100 TB the hourly
        // reduction is the one corpus-sized shuffle; the series the CUSUM
        // runs on is hours-sized yet still handled distributively.
        // TWO-SIDED: the upward statistic S⁺ = P − min(0, min P) catches
        // bursts; the downward S⁻ = max(0, max P) − P catches sustained
        // DROPS (as alarming as bursts for an ingest feed) — the second
        // recursion rewrites to a running MAX the same way.
        import graft.operators.PrefixSum
        val hc0 = t(s, dir, "events")
          .groupBy(expr("ts div 3600000000000").as("h"))
          .agg(count(lit(1)).as("n"))
        // densified [min h, max h] series: a zero-event hour is the
        // strongest drop signal, and the sparse groupBy would omit it —
        // the sustained-drop side must see dev = −mean for silent hours
        // (mirrored in the streaming twin StreamDrift.cusumLedger).
        // The axis is bounded to ±DefaultMaxSpanHours/2 (~57 y) around
        // the MODAL hour first: ONE poison far-future timestamp would
        // otherwise make sequence() span billions of hours and kill the
        // stage — out-of-window hours are quarantined, not densified
        // (ADVICE r12). The half-window is the streaming twin's OWN
        // constant, so the two legs cannot drift apart on a retune.
        val anc = hc0.orderBy(col("n").desc, col("h")).limit(1)
          .select(col("h").as("hm"))
        val inWin = hc0.crossJoin(broadcast(anc))
          .where(abs(col("h") - col("hm")) <=
            lit(graft.streaming.StreamDrift.DefaultMaxSpanHours / 2))
          .select("h", "n")
        val hb = inWin.agg(min("h").as("h0"), max("h").as("h1"))
        val hc = hb.where(col("h0").isNotNull)
          .select(explode(sequence(col("h0"), col("h1"))).as("h"))
          .join(inWin, Seq("h"), "left")
          .select(col("h"), coalesce(col("n"), lit(0L)).as("n"))
        val tot = hc.agg(sum("n").as("t"), count(lit(1)).as("hh"))
        val dev = hc.crossJoin(broadcast(tot))
          .select(col("h"), col("n"),
            (col("n") - expr("t div hh")).as("dev"))
        val p = PrefixSum.runningTotals(dev, "h", Seq("dev" -> "p"))
        PrefixSum.runningMax(PrefixSum.runningMin(p, "h", "p", "mn"), "h", "p", "mx")
          .select(col("h"), col("n"),
            (col("p") - least(col("mn"), lit(0L))).as("cusum"),
            (greatest(col("mx"), lit(0L)) - col("p")).as("cusum_down"))
          .orderBy("h")
      },
      Some(s"""WITH hc0 AS (SELECT epoch_us(ts) // 3600000000 AS h,
             |    COUNT(*)::BIGINT AS n FROM events GROUP BY 1),
             |anc AS (SELECT h AS hm FROM hc0 ORDER BY n DESC, h LIMIT 1),
             |win AS (SELECT hc0.h, hc0.n FROM hc0, anc
             |  WHERE abs(hc0.h - anc.hm) <= ${graft.streaming.StreamDrift.DefaultMaxSpanHours / 2}),
             |hb AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM win),
             |hs AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM hb
             |  WHERE h0 IS NOT NULL),
             |hc AS (SELECT hs.h, COALESCE(win.n, 0)::BIGINT AS n
             |  FROM hs LEFT JOIN win ON hs.h = win.h),
             |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
             |    COUNT(*)::BIGINT AS hh FROM hc),
             |d AS (SELECT h, n, n - (t // hh) AS dev FROM hc, tot),
             |p AS (SELECT h, n,
             |    CAST(SUM(dev) OVER (ORDER BY h) AS BIGINT) AS p FROM d),
             |m AS (SELECT h, n, p,
             |    CAST(MIN(p) OVER (ORDER BY h) AS BIGINT) AS mn,
             |    CAST(MAX(p) OVER (ORDER BY h) AS BIGINT) AS mx FROM p)
             |SELECT h, n, p - LEAST(mn, 0) AS cusum,
             |  GREATEST(mx, 0) - p AS cusum_down
             |FROM m ORDER BY h""".stripMargin),
      "distributed TWO-SIDED CUSUM mean-shift ledger over the DENSIFIED " +
        "hourly event series (zero-event hours enter with dev = -mean — " +
        "the strongest drop signal a sparse groupBy would omit; the dense " +
        "axis is bounded to a modal-hour-anchored plausibility window so " +
        "one poison timestamp cannot blow up sequence()): " +
        "max(0, S±dev) rewritten as prefix-sum minus clamped " +
        "prefix-min (bursts) and clamped prefix-max minus prefix-sum " +
        "(sustained drops), all range-partitioned (PrefixSum.runningTotals/" +
        "runningMin/runningMax, O(P) driver state), exact integer " +
        "deviations vs the floored global mean " +
        "(extension: data quality / drift / statistics)"),

    CatalogEntry(
      "x148_wav_audio_windows",
      (s, dir) => {
        // Windowed audio DSP over REAL RIFF/WAVE container bytes — the
        // Multimodal codec slot, closed (WavCodec is a pure-JVM PCM16
        // decoder; VERDICT r11 "What's missing" #1). The fixture corpus
        // ships no media bytes, so the payloads are GENERATED: per doc a
        // 1024-sample PCM16 waveform from the pure formula
        // v(id, i) = ((id·31 + i·7) mod 2001) − 1000, encoded into a
        // canonical WAV container, then decoded BACK by WavCodec inside
        // audioWindowsWav and reduced to per-window RMS and zero-crossing
        // counts (win 256, hop 128 → 7 windows/doc). The oracle computes
        // the identical DSP straight from the formula with
        // generate_series — so a hash match proves the encode→decode
        // round trip byte-exact END-TO-END against an engine that never
        // saw the container. Encode/decode sit at the codec boundary
        // (typed Dataset map / iterator mapPartitions); payloads never
        // shuffle — only the small window rows flow on. RMS follows the
        // micro-unit recipe: integer-exact sum of squares, one sqrt of
        // identical doubles (IEEE-correctly-rounded on both engines),
        // rounded to micro-units as BIGINT on both legs.
        import s.implicits._
        val ids = t(s, dir, "documents").select(col("doc_id"))
          .where(col("doc_id") < 50).as[Long]
        val media = ids.map { id =>
          val samples = Array.tabulate(1024)(i =>
            (((id * 31 + i * 7) % 2001) - 1000).toShort)
          (id, graft.operators.WavCodec.encode(samples), "audio/wav")
        }.toDF("doc_id", "payload", "media_type")
        graft.operators.Multimodal.audioWindowsWav(media, win = 256, hop = 128)
          .toDF()
          .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
            round(col("rms") * 1e6).cast("long").as("rms_micro"),
            col("zero_crossings"))
          .orderBy("doc_id", "win_idx")
      },
      Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
             |s AS (SELECT d.doc_id, w.w, k.k,
             |    ((d.doc_id * 31 + (w.w * 128 + k.k) * 7) % 2001) - 1000 AS v,
             |    CASE WHEN k.k < 255 THEN
             |      ((d.doc_id * 31 + (w.w * 128 + k.k + 1) * 7) % 2001) - 1000
             |    END AS v2
             |  FROM d, generate_series(0, 6) AS w(w),
             |    generate_series(0, 255) AS k(k))
             |SELECT doc_id, CAST(w AS BIGINT) AS win_idx,
             |  CAST(round(sqrt((SUM(v * v))::DOUBLE / 256.0) * 1e6) AS BIGINT)
             |    AS rms_micro,
             |  CAST(SUM(CASE WHEN v * v2 < 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS zero_crossings
             |FROM s GROUP BY doc_id, w ORDER BY doc_id, win_idx""".stripMargin),
      "windowed audio DSP (RMS + zero crossings, micro-unit recipe) over " +
        "REAL RIFF/WAVE PCM16 container bytes: generated waveforms encoded " +
        "and decoded back through the pure-JVM WavCodec at the codec " +
        "boundary, oracle-checked against the raw sample formula — the " +
        "container round trip proven end-to-end (extension: multimodal)"),

    CatalogEntry(
      "x149_bmp_image_features",
      (s, dir) => {
        // Pixel statistics over REAL BMP container bytes — the Multimodal
        // IMAGE codec slot, closed the same way x148 closed audio
        // (VERDICT r12 "Next round" #1). Per doc a w×h 24-bit image from
        // the pure channel formulas r=(id·7+x·5+y·3) mod 256,
        // g=(id·11+x·3+y·7) mod 256, b=(id·13+x·9+y) mod 256 — widths
        // 16/19/22/25/28 so every BMP row-padding case (0..3 pad bytes)
        // is exercised — encoded into a canonical bottom-up BMP, then
        // decoded BACK by ImageCodec inside imageFeaturesBmp and reduced
        // to per-channel sums plus the horizontal luma-gradient energy
        // (integer BT.601 luma 299R+587G+114B). The oracle computes the
        // identical integer statistics straight from the formulas — a
        // hash match proves the encode→decode round trip byte-exact
        // END-TO-END (padding, BGR order, bottom-up rows) against an
        // engine that never saw the container. All integer, no float
        // lane anywhere. Decode sits at the codec boundary (iterator
        // mapPartitions); payloads never shuffle.
        import s.implicits._
        val ids = t(s, dir, "documents").select(col("doc_id"))
          .where(col("doc_id") < 40).as[Long]
        val media = ids.map { id =>
          val w = (16 + (id % 5) * 3).toInt
          val h = (8 + (id % 3) * 5).toInt
          val px = Array.tabulate(w * h) { i =>
            val x = i % w
            val y = i / w
            val r = ((id * 7 + x * 5 + y * 3) % 256).toInt
            val g = ((id * 11 + x * 3 + y * 7) % 256).toInt
            val b = ((id * 13 + x * 9 + y) % 256).toInt
            (r << 16) | (g << 8) | b
          }
          (id, graft.operators.ImageCodec.encode(
            graft.operators.ImageCodec.Image(w, h, px)), "image/bmp")
        }.toDF("doc_id", "payload", "media_type")
        graft.operators.Multimodal.imageFeaturesBmp(media)
          .toDF()
          .select(col("doc_id"), col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sum_r"), col("sum_g"), col("sum_b"), col("grad"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 16 + (doc_id % 5) * 3 AS w,
             |    8 + (doc_id % 3) * 5 AS h
             |  FROM documents WHERE doc_id < 40),
             |px AS (SELECT d.doc_id, d.w, d.h, x.x, y.y,
             |    (d.doc_id * 7 + x.x * 5 + y.y * 3) % 256 AS r,
             |    (d.doc_id * 11 + x.x * 3 + y.y * 7) % 256 AS g,
             |    (d.doc_id * 13 + x.x * 9 + y.y) % 256 AS b
             |  FROM d, generate_series(0, 27) AS x(x),
             |    generate_series(0, 17) AS y(y)
             |  WHERE x.x < d.w AND y.y < d.h),
             |s AS (SELECT doc_id, w, h, r, g, b,
             |    CASE WHEN x < w - 1 THEN abs(
             |      (299 * ((doc_id * 7 + (x + 1) * 5 + y * 3) % 256)
             |       + 587 * ((doc_id * 11 + (x + 1) * 3 + y * 7) % 256)
             |       + 114 * ((doc_id * 13 + (x + 1) * 9 + y) % 256))
             |      - (299 * r + 587 * g + 114 * b)) ELSE 0 END AS gterm
             |  FROM px)
             |SELECT doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height,
             |  CAST(SUM(r) AS BIGINT) AS sum_r,
             |  CAST(SUM(g) AS BIGINT) AS sum_g,
             |  CAST(SUM(b) AS BIGINT) AS sum_b,
             |  CAST(SUM(gterm) AS BIGINT) AS grad
             |FROM s GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),
      "integer pixel statistics (channel sums + BT.601 luma-gradient " +
        "energy) over REAL 24-bit BMP container bytes: generated images " +
        "encoded and decoded back through the pure-JVM ImageCodec at the " +
        "codec boundary — padding, BGR order and bottom-up row layout " +
        "proven byte-exact end-to-end against an oracle that replays the " +
        "raw pixel formulas (extension: multimodal)"),

    CatalogEntry(
      "x150_avi_frame_walk",
      (s, dir) => {
        // Frame sampling over a REAL AVI container — the video codec
        // slot, closed with an actual container WALK (VERDICT r12 #8):
        // per doc 4..8 frames of VARYING length
        // len(id,f) = 60 + ((id+f) mod 5)·13 ∈ {60,73,86,99,112} (odd
        // lengths exercise RIFF word-align padding; varying lengths are
        // exactly what no fixed-chunk scheme can represent), frame bytes
        // from the pure formula b(id,f,i) = (id·13 + f·7 + i·3) mod 251,
        // packed into a canonical AVI (hdrl/movi/idx1) by AviCodec and
        // walked BACK via the container's own idx1 index inside
        // sampleFramesAvi (stride 2). The oracle replays every sampled
        // frame's true length and rolling-hash fingerprint straight from
        // the formulas — a hash match proves the index walk resolves the
        // exact byte ranges that were encoded, end-to-end, against an
        // engine that never saw the container.
        import s.implicits._
        val ids = t(s, dir, "documents").select(col("doc_id"))
          .where(col("doc_id") < 30).as[Long]
        val media = ids.map { id =>
          val nf = (4 + id % 5).toInt
          val frames = (0 until nf).map { f =>
            val len = (60 + ((id + f) % 5) * 13).toInt
            Array.tabulate(len)(i => ((id * 13 + f * 7 + i * 3) % 251).toByte)
          }
          (id, graft.operators.AviCodec.encode(frames, width = 32, height = 24),
            "video/avi")
        }.toDF("doc_id", "payload", "media_type")
        graft.operators.Multimodal.sampleFramesAvi(media, stride = 2)
          .toDF()
          .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
            col("n_bytes"), col("frame_fp"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(s"""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS nf
             |  FROM documents WHERE doc_id < 30),
             |fr AS (SELECT doc_id, f.f, 60 + ((doc_id + f.f) % 5) * 13 AS len
             |  FROM d, generate_series(0, 7) AS f(f)
             |  WHERE f.f < nf AND f.f % 2 = 0)
             |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(len AS BIGINT) AS n_bytes,
             |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, len),
             |    i -> (doc_id * 13 + f * 7 + i * 3) % 251)),
             |    (acc, v) -> (acc * 31 + v) % $Prime) AS frame_fp
             |FROM fr ORDER BY doc_id, frame_idx""".stripMargin),
      "frame sampling via a REAL AVI container walk: varying-length " +
        "frames (odd sizes exercise RIFF word alignment) packed into a " +
        "canonical hdrl/movi/idx1 container by the pure-JVM AviCodec and " +
        "resolved back to exact byte ranges through the container's own " +
        "index — lengths and fingerprints oracle-replayed from the raw " +
        "frame formulas, proving the walk end-to-end " +
        "(extension: multimodal)"),

    CatalogEntry(
      "x151_cusum_quarantine",
      (s, dir) => {
        // The data-quality surface behind x147's densification guard,
        // exercised END-TO-END through the real streaming helper: the
        // fixture's hourly ledger plus two INJECTED poison hours — far
        // outside ±DefaultMaxSpanHours/2 of the modal hour — is persisted
        // as an actual parquet ledger (a [[Staged]] node: built once per
        // fixture dir, probed on every call), and
        // StreamDrift.cusumQuarantine reads it back and must return
        // EXACTLY the two poison rows tagged with the modal hour (the
        // rows the monitor refused to densify; x147's in-window series
        // is what it DID densify). The poison rows are anchor-proof BY
        // CONSTRUCTION, not by assumption about fixture density: both
        // carry n = 1 (never MORE events than the true modal hour, which
        // has ≥ 1 by definition) and both sit ABOVE every real hour, so
        // the tie-break (lowest h) can never pick them even on a
        // degenerate all-hours-tied fixture. The oracle replays the
        // ledger construction and the window rule from the events table
        // alone — it never sees the parquet — so a hash match proves the
        // quarantine leg, the injected offsets, and the guard window
        // agree bit-for-bit across engines. Poison offsets and the
        // half-window interpolate from the streaming twin's OWN constant.
        val path = stagedX151Ledger(s, dir)
        graft.streaming.StreamDrift.cusumQuarantine(s, path)
      },
      Some(s"""WITH hc0 AS (SELECT epoch_us(ts) // 3600000000 AS h,
             |    COUNT(*)::BIGINT AS n FROM events GROUP BY 1),
             |anc0 AS (SELECT h AS hm FROM hc0 ORDER BY n DESC, h LIMIT 1),
             |ledger AS (SELECT h, n FROM hc0
             |  UNION ALL SELECT hm + ${graft.streaming.StreamDrift.DefaultMaxSpanHours / 2 + 100000}, 1::BIGINT FROM anc0
             |  UNION ALL SELECT hm + ${graft.streaming.StreamDrift.DefaultMaxSpanHours + 200001}, 1::BIGINT FROM anc0),
             |anc AS (SELECT h AS hm FROM ledger ORDER BY n DESC, h LIMIT 1)
             |SELECT l.h, l.n, anc.hm AS modal_h FROM ledger l, anc
             |WHERE abs(l.h - anc.hm) > ${graft.streaming.StreamDrift.DefaultMaxSpanHours / 2}
             |ORDER BY l.h""".stripMargin),
      "the quarantine leg of the CUSUM densification guard, end-to-end " +
        "through a REAL persisted ledger: two injected poison hours far " +
        "outside the plausibility window come back as exactly the " +
        "quarantined rows (with the modal anchor), oracle-replayed from " +
        "the events table and the streaming twin's own constants " +
        "(extension: streaming / data quality)"),

    CatalogEntry(
      "x152_ivf_append",
      (s, dir) => {
        // Incremental IVF index maintenance: the staged builder writes the
        // index over the EVEN corpus half, then Layouts.ivfAppend assigns
        // the ODD half against the EXISTING centroids and appends it into
        // the cell partitions — no corpus rescan, no rebuild (the
        // streaming-ingest maintenance path; build+append timed as the
        // build_x152 bench row). Because centroids are not retrained,
        // append ≡ full rebuild over base ∪ batch with the same centroid
        // table, and the oracle replays exactly that: the full-corpus
        // flat assignment, compared per cell. n_appended pins that the
        // appended rows landed in the RIGHT cells, not just somewhere.
        val idx = stagedIvfAppendIndex(s, dir)
        s.read.parquet(s"${graft.sources.Layouts.indexRoot(idx)(s)}/assign")
          .groupBy(col("cent_id").cast("long").as("cent_id"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("corpus_id") % 2 === 1, 1L).otherwise(0L)).as("n_appended"))
          .orderBy("cent_id")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10 AND vec_id % 2 = 0),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |assign AS (
              |  SELECT corpus_id, cent_id FROM (
              |    SELECT c.corpus_id, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1)
              |SELECT cent_id, COUNT(*) AS n_total,
              |  CAST(SUM(CASE WHEN corpus_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_appended
              |FROM assign GROUP BY cent_id ORDER BY cent_id""".stripMargin),
      "incremental IVF maintenance: batch assigned against the persisted index's " +
        "existing centroids and appended into the cell partitions — O(batch·k), no " +
        "rebuild; oracle replays the full-corpus assignment, proving append ≡ rebuild " +
        "(extension: similarity search / index maintenance)"),

    CatalogEntry(
      "x153_minhash_append_ingest",
      (s, dir) => {
        // The full ingest-index LIFECYCLE, three generations: gen-0 is the
        // built corpus index (Layouts.minhashIndex), gen-1 is probed and
        // its ADMITTED docs appended (Layouts.minhashAppend — the write
        // half of the probe-then-admit loop; all staged in build_x153),
        // and this query probes gen-2 against the GROWN index. A gen-2
        // doc duplicating a gen-1 admitted doc is caught only if the
        // append landed in the same hash space the probe reads — the
        // maintenance property under test. Existing corpus never
        // re-scanned at any stage.
        val docs = t(s, dir, "documents")
        val g2 = docs.where(col("doc_id") % 3 === 2)
        val idx = stagedMinhashAppendIndex(s, dir)
        val st = Dedup.incrementalDedupStaged(g2, idx, "doc_id", "text",
          threshold = 0.5)
        g2.select(col("doc_id"), col("source")).join(st, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(dThreeGenIngestOracle),
      "incremental MinHash-index maintenance: admitted docs appended into the " +
        "persisted index's fp/banded/shingles tables so the NEXT batch dedups " +
        "against them — the write half of the x117 ingest loop; oracle replays the " +
        "whole three-generation lifecycle (extension: dedup / index maintenance)"),

    CatalogEntry(
      "x154_ivf_retract",
      (s, dir) => {
        // Batch retraction, the recovery half of the maintenance loop: the
        // staged builder appends a POISON batch (rows from outside the
        // corpus fence) under its own batch_id and Layouts.dropBatch
        // deletes exactly that batch's cell partitions — O(batch files),
        // no rewrite of base or the legitimate appended batch. The oracle
        // replays the full even∪odd assignment and never sees the poison,
        // so a single leaked (or over-deleted) row fails per-cell counts:
        // retract-after-append ≡ never-appended, value-tested.
        val idx = stagedIvfRetractIndex(s, dir)
        s.read.parquet(s"${graft.sources.Layouts.indexRoot(idx)(s)}/assign")
          .groupBy(col("cent_id").cast("long").as("cent_id"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("corpus_id") % 2 === 1, 1L).otherwise(0L)).as("n_appended"))
          .orderBy("cent_id")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10 AND vec_id % 2 = 0),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |assign AS (
              |  SELECT corpus_id, cent_id FROM (
              |    SELECT c.corpus_id, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1)
              |SELECT cent_id, COUNT(*) AS n_total,
              |  CAST(SUM(CASE WHEN corpus_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_appended
              |FROM assign GROUP BY cent_id ORDER BY cent_id""".stripMargin),
      "batch retraction from a persisted IVF index: a poisoned ingest batch is " +
        "dropped by deleting its batch_id cell partitions — O(batch), no index " +
        "rewrite; oracle replays the clean corpus, proving retract ≡ never-appended " +
        "(extension: similarity search / index maintenance)"),

    CatalogEntry(
      "x155_minhash_compact_probe",
      (s, dir) => {
        // Index compaction/rebase: after the x153-style grown lifecycle
        // (gen-0 build + gen-1 admitted append), Layouts.minhashCompact
        // merges the batch generations back into one sorted base per
        // table — restoring one-file-per-range layout physics WITHOUT a
        // corpus rescan (no re-tokenize/re-minhash; cost is O(index), not
        // O(corpus)). The gen-2 probe must be bit-identical to probing
        // the uncompacted grown index, so this entry reuses x153's
        // three-generation oracle verbatim: any row the rebase drops,
        // duplicates, or re-buckets fails the gate.
        val docs = t(s, dir, "documents")
        val g2 = docs.where(col("doc_id") % 3 === 2)
        val idx = stagedMinhashCompactIndex(s, dir)
        val st = Dedup.incrementalDedupStaged(g2, idx, "doc_id", "text",
          threshold = 0.5)
        g2.select(col("doc_id"), col("source")).join(st, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(dThreeGenIngestOracle),
      "MinHash-index compaction: batch generations rebased into one sorted base " +
        "per table, O(index) with no corpus rescan — file count and pruning ranges " +
        "restored; oracle replays the three-generation lifecycle, proving probes " +
        "are compaction-invariant (extension: dedup / index maintenance)"),

    CatalogEntry(
      "x156_ivf_compact",
      (s, dir) => {
        // minhashCompact's dual for the ANN index: after the x152
        // build+append lifecycle, Layouts.ivfCompact merges each cell's
        // per-batch files back into one — O(index) (a read+rewrite of
        // the lists; no re-assignment, no corpus rescan, centroids and
        // meta untouched). Per-cell counts under x152's full-assignment
        // oracle prove the rebase dropped and duplicated nothing.
        val idx = stagedIvfCompactIndex(s, dir)
        s.read.parquet(s"${graft.sources.Layouts.indexRoot(idx)(s)}/assign")
          .groupBy(col("cent_id").cast("long").as("cent_id"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("corpus_id") % 2 === 1, 1L).otherwise(0L)).as("n_appended"))
          .orderBy("cent_id")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10 AND vec_id % 2 = 0),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |assign AS (
              |  SELECT corpus_id, cent_id FROM (
              |    SELECT c.corpus_id, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1)
              |SELECT cent_id, COUNT(*) AS n_total,
              |  CAST(SUM(CASE WHEN corpus_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_appended
              |FROM assign GROUP BY cent_id ORDER BY cent_id""".stripMargin),
      "IVF-index compaction: per-batch cell files rebased into one file per cell " +
        "— O(index) read+rewrite, no re-assignment or corpus rescan; oracle " +
        "replays the full assignment, proving the rebase is lossless " +
        "(extension: similarity search / index maintenance)"),

    CatalogEntry(
      "x157_posting_append_probe",
      (s, dir) => {
        // The posting index's full maintenance lifecycle: built over the
        // EVEN corpus half, the ODD half appended (TWICE under one batch
        // id — the ledgered replay; the probe's countDistinct absorbs
        // duplicated postings, so the row-level no-op itself is pinned by
        // LayoutsSpec, like x153), then rebased to one generation via
        // sortedRebase. Probed with x101's substring search under x101's
        // own full-corpus oracle: a missing odd-doc posting (append
        // lost), a surviving pre-rebase artifact, or a dropped row in
        // the rebase all change the candidate set and fail the gate.
        // Probe body + oracle shared verbatim with x101 (postingSearch).
        postingSearch(s, dir, stagedPostingAppendIndex(s, dir))
      },
      Some(dPostingSearchOracle),
      "posting-index maintenance lifecycle: odd-half batch appended (replayed " +
        "under one batch id) then rebased to one generation — per-doc-independent " +
        "postings make append ≡ rebuild trivially provable; probed under x101's " +
        "full-corpus oracle (extension: retrieval / index maintenance)"),

    CatalogEntry(
      "x158_stream_admit_ledger",
      (s, dir) => {
        // The CLOSED probe-then-admit loop LIVE under Structured
        // Streaming (StreamDedup.ingestAdmitLoop): gen-1 lands as engine
        // batch 0 and is probed against the gen-0 index, its admitted
        // docs are appended under the engine's own batch id, then gen-2
        // lands as batch 1 and is probed against the GROWN index. The
        // ledger (partitioned on the stream-scoped batch id, replay-
        // overwrite; the engine's numeric id rides as engine_batch_id —
        // ADVICE r15: raw-engine-id partitions collide across checkpoint
        // lineages) is read back and summarized per (batch, source); the
        // oracle replays both probe stages from fixtures alone — x153's
        // lifecycle with the ENGINE supplying the batch identity instead
        // of the caller.
        val led = s.read.parquet(stagedStreamAdmitLedger(s, dir))
        led.join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
          .groupBy(col("engine_batch_id").as("batch_id"), col("source"))
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("batch_id", "source")
      },
      Some(dStreamAdmitOracle),
      "the closed probe-then-admit ingest loop under Structured Streaming: " +
        "per-batch probe, batch_id-partitioned ledger, admitted docs appended " +
        "into the index under the ENGINE's batch identity (replay = self-excluded " +
        "probe + slice overwrite = no-op); oracle replays both generations " +
        "(extension: streaming / dedup / index maintenance)"),

    CatalogEntry(
      "x159_managed_compact_probe",
      (s, dir) => {
        // x155's compaction re-run with the fold's own gen-1 append: the
        // rebase writes a NEW immutable generation directory and
        // publishes a create-once pointer (readers resolve the pointer
        // once; the previous generation survives as grace). The
        // gen-2 probe resolves the manifest and must match x153's
        // three-generation oracle exactly: a row the generational fold
        // drops/duplicates, a probe reading a half-published root, or a
        // stale pointer all fail the gate.
        val docs = t(s, dir, "documents")
        val g2 = docs.where(col("doc_id") % 3 === 2)
        val idx = stagedManagedCompactIndex(s, dir)
        val st = Dedup.incrementalDedupStaged(g2, idx, "doc_id", "text",
          threshold = 0.5)
        g2.select(col("doc_id"), col("source")).join(st, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(dThreeGenIngestOracle),
      "manifest-generation index compaction: the rebase publishes an immutable " +
        "new generation behind a create-once pointer (no directory-rename swap, " +
        "no quiesce); probe resolves the manifest and matches the three-generation " +
        "oracle (extension: dedup / index maintenance / catalog layout)"),

    CatalogEntry(
      "x160_stream_admit_compact",
      (s, dir) => {
        // x158's closed streaming admit loop with a compaction fired
        // MID-STREAM on the manifest-managed index: gen-1 drains (engine
        // batch 0), the index compacts while the streaming query stays
        // live (checkpoint open, no quiesce — the stream's own batch-0
        // slice rides through the fold as the live tail), then gen-2
        // drains (batch 1) probing the POST-COMPACT generation. The
        // ledger must be byte-identical to x158's no-compact oracle:
        // compaction that loses an admission, double-folds a slice, or
        // breaks the batch-1 probe's root resolution changes a status
        // and fails the gate.
        val led = s.read.parquet(stagedStreamAdmitCompactLedger(s, dir))
        led.join(t(s, dir, "documents").select("doc_id", "source"), "doc_id")
          .groupBy(col("engine_batch_id").as("batch_id"), col("source"))
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("batch_id", "source")
      },
      Some(dStreamAdmitOracle),
      "streaming admit loop with a LIVE mid-stream compaction of its own index " +
        "(manifest-generation layout, stream never quiesced); the ledger equals " +
        "the no-compact oracle — compaction is invariant to the closed ingest " +
        "loop (extension: streaming / dedup / index maintenance)"),

    CatalogEntry(
      "x161_minhash_retract",
      (s, dir) => {
        // MinHash batch retraction — x154's recovery path on the dedup
        // index: a poison batch (the gen-2 probe docs themselves,
        // appended under batch_id=poison in build_x161) is dropped via
        // Layouts.dropBatch, O(batch files), no rewrite of base or the
        // legitimate gen-1 slice. The gen-2 probe then runs against the
        // recovered index under x153's oracle, which never saw the
        // poison: ONE leaked poison row and its doc classifies as an
        // exact dup of itself; one over-deleted gen-1 row and a true
        // dup classifies kept. retract ≡ never-appended, value-tested.
        val docs = t(s, dir, "documents")
        val g2 = docs.where(col("doc_id") % 3 === 2)
        val idx = stagedMinhashRetractIndex(s, dir)
        val st = Dedup.incrementalDedupStaged(g2, idx, "doc_id", "text",
          threshold = 0.5)
        g2.select(col("doc_id"), col("source")).join(st, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(dThreeGenIngestOracle),
      "batch retraction from the persisted MinHash index: a poisoned batch's " +
        "slices deleted across all three tables — O(batch), no index rewrite; " +
        "probing with the poison docs themselves makes one leaked row fail the " +
        "gate as a self-dup (extension: dedup / index maintenance)"),

    CatalogEntry(
      "x162_ivf_managed_compact",
      (s, dir) => {
        // x156's IVF compaction: the rebase folds the cell partitions
        // into a NEW immutable generation and publishes a create-once
        // pointer — no quiesce, so the ANN serving
        // stream (stream_x144) can keep probing while its index
        // compacts. The audit reads the assign table through the
        // manifest and replays x152's full-assignment oracle: a row the
        // fold drops/duplicates, a stale pointer, or a half-published
        // generation all change a per-cell count.
        val idx = stagedIvfManagedCompactIndex(s, dir)
        s.read.parquet(s"${graft.sources.Layouts.indexRoot(idx)(s)}/assign")
          .groupBy(col("cent_id").cast("long").as("cent_id"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("corpus_id") % 2 === 1, 1L).otherwise(0L)).as("n_appended"))
          .orderBy("cent_id")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10 AND vec_id % 2 = 0),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |assign AS (
              |  SELECT corpus_id, cent_id FROM (
              |    SELECT c.corpus_id, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1)
              |SELECT cent_id, COUNT(*) AS n_total,
              |  CAST(SUM(CASE WHEN corpus_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_appended
              |FROM assign GROUP BY cent_id ORDER BY cent_id""".stripMargin),
      "manifest-generation IVF compaction: the cell-partition rebase publishes " +
        "an immutable new generation behind a create-once pointer (no rename " +
        "swap, no quiesce — the serving stream keeps probing); audit resolves " +
        "the manifest and matches the full-assignment oracle " +
        "(extension: similarity search / index maintenance / catalog layout)"),

    CatalogEntry(
      "x163_zorder_cells",
      (s, dir) => {
        // Z-order (Morton) layout audit: the staged rewrite
        // (Layouts.zordered over lineitem's price × quantity plane) is
        // read back and every row re-bucketed through the SAME uniform
        // 8-bit quantization + bit interleave, grouped into 1024 Z-cells.
        // Per-cell counts + per-column min/max pin (a) exact row
        // preservation through the layout rewrite (any dropped or
        // duplicated row shifts a cell count) and (b) the Morton
        // arithmetic itself against an independent SQL replay — while
        // showing the property the layout exists for: each Z-cell is a
        // small RECTANGLE of the plane, so row-group/page min-max stats
        // stay narrow on BOTH columns (LayoutsSpec pins the actual page
        // pruning; at 100 TB this is how a scan prunes on either
        // predicate column without two sort orders).
        val zt = s.read.parquet(stagedZorderLayout(s, dir))
        val st = zt.agg(
          min("l_extendedprice").as("alo"), max("l_extendedprice").as("ahi"),
          min("l_quantity").as("blo"), max("l_quantity").as("bhi"))
        def bucket(c: String, lo: String, hi: String) =
          s"CAST(floor(least(greatest(($c - $lo) / ($hi - $lo), 0), 1) * 255) AS BIGINT)"
        val inter = (0 until 8).map { k =>
          s"(shiftleft(shiftright(ba, $k) & 1, ${2 * k + 1}) | " +
            s"shiftleft(shiftright(bb, $k) & 1, ${2 * k}))"
        }.mkString(" | ")
        zt.crossJoin(broadcast(st))
          .withColumn("ba", expr(bucket("l_extendedprice", "alo", "ahi")))
          .withColumn("bb", expr(bucket("l_quantity", "blo", "bhi")))
          .withColumn("zcell", expr(s"($inter) div 64"))
          .groupBy("zcell")
          .agg(count(lit(1)).as("n"),
            min("l_extendedprice").as("a_min"), max("l_extendedprice").as("a_max"),
            min("l_quantity").as("b_min"), max("l_quantity").as("b_max"))
          .orderBy("zcell")
      },
      Some("""WITH st AS (SELECT min(l_extendedprice) AS alo, max(l_extendedprice) AS ahi,
             |    min(l_quantity) AS blo, max(l_quantity) AS bhi FROM lineitem),
             |b AS (SELECT l_extendedprice, l_quantity,
             |    CAST(floor(least(greatest((l_extendedprice - alo) / (ahi - alo), 0), 1) * 255) AS BIGINT) AS ba,
             |    CAST(floor(least(greatest((l_quantity - blo) / (bhi - blo), 0), 1) * 255) AS BIGINT) AS bb
             |  FROM lineitem, st),
             |z AS (SELECT l_extendedprice, l_quantity,
             |    ((((ba >> 0) & 1) << 1) | (((bb >> 0) & 1) << 0) |
             |     (((ba >> 1) & 1) << 3) | (((bb >> 1) & 1) << 2) |
             |     (((ba >> 2) & 1) << 5) | (((bb >> 2) & 1) << 4) |
             |     (((ba >> 3) & 1) << 7) | (((bb >> 3) & 1) << 6) |
             |     (((ba >> 4) & 1) << 9) | (((bb >> 4) & 1) << 8) |
             |     (((ba >> 5) & 1) << 11) | (((bb >> 5) & 1) << 10) |
             |     (((ba >> 6) & 1) << 13) | (((bb >> 6) & 1) << 12) |
             |     (((ba >> 7) & 1) << 15) | (((bb >> 7) & 1) << 14)) // 64 AS zcell
             |  FROM b)
             |SELECT zcell, COUNT(*) AS n,
             |  min(l_extendedprice) AS a_min, max(l_extendedprice) AS a_max,
             |  min(l_quantity) AS b_min, max(l_quantity) AS b_max
             |FROM z GROUP BY zcell ORDER BY zcell""".stripMargin),
      "Z-order layout audit: the staged Morton rewrite re-bucketed into 1024 " +
        "Z-cells — per-cell counts pin exact row preservation through the " +
        "layout, per-cell min/max show each cell is a small rectangle of the " +
        "value plane (the both-column pruning property; LayoutsSpec pins the " +
        "page pruning itself) (extension: catalog layout / pruning)"),

    CatalogEntry(
      "x164_posting_retract",
      (s, dir) => {
        // The posting index's retraction path probed under the shared
        // substring search: even half built, odd half appended as its own
        // batch slice, the slice retracted via Layouts.dropBatch — the
        // probe must return EXACTLY the even-half hits (17 odd matches
        // vanish at sf0.01): a leaked odd posting adds candidates, an
        // over-deleted base loses them. Completes the retract story
        // across all three index families (x154 IVF, x161 MinHash).
        postingSearch(s, dir, stagedPostingRetractIndex(s, dir))
      },
      Some("""WITH p AS (SELECT DISTINCT unnest(list_transform(
             |    range(1, length('table part') - 1),
             |    i -> substring('table part', i, 3))) AS tri),
             |posting AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, length(text) - 1), i -> substring(text, i, 3)))) AS tri
             |  FROM documents WHERE length(text) >= 3 AND doc_id % 2 = 0),
             |cand AS (SELECT doc_id FROM posting WHERE tri IN (SELECT tri FROM p)
             |  GROUP BY doc_id
             |  HAVING COUNT(DISTINCT tri) = (SELECT COUNT(*) FROM p))
             |SELECT d.doc_id FROM cand c JOIN documents d ON c.doc_id = d.doc_id
             |WHERE contains(text, 'table part') ORDER BY 1""".stripMargin),
      "posting-index retraction: the odd-half batch slice dropped via the " +
        "O(batch-files) directory delete, probed under the shared substring " +
        "search — result must equal the even-half index exactly " +
        "(extension: retrieval / index maintenance)"),

    CatalogEntry(
      "x165_kneser_ney",
      (s, dir) => {
        // Interpolated Kneser-Ney bigram smoothing (d = 0.75), the KenLM
        // default, over x43's count table: discounted bigram mass backs
        // off to the CONTINUATION probability (how many distinct left
        // contexts a word follows), not the raw unigram — the classic fix
        // for high-count-but-single-context words. All inputs are exact
        // integer counts; the float expression tree is written identically
        // on both sides so partial-agg order can never flip a bit.
        val docs = t(s, dir, "documents")
        val tok = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val big = tok.withColumn("w2", lead("w1", 1).over(w))
          .where(col("w2").isNotNull)
          .groupBy("w1", "w2").agg(count(lit(1)).as("n2"))
        val uni = big.groupBy("w1")
          .agg(sum("n2").as("n1"), count(lit(1)).as("nfw"))
        val bw = big.groupBy("w2").agg(count(lit(1)).as("nbw"))
        val tot = big.agg(count(lit(1)).as("ntot"))
        big.join(uni, "w1").join(bw, "w2").crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("n2"),
            (greatest(col("n2").cast("double") - 0.75, lit(0.0)) /
              col("n1").cast("double") +
              (lit(0.75) * col("nfw").cast("double") / col("n1").cast("double")) *
                (col("nbw").cast("double") / col("ntot").cast("double")))
              .as("p_kn"))
          .orderBy(desc("n2"), asc("w1"), asc("w2"))
          .limit(100)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS lst FROM documents),
             |bg AS (SELECT unnest(list_transform(range(1, len(lst)),
             |  i -> {'w1': lst[i], 'w2': lst[i + 1]})) AS b FROM toks),
             |big AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n2 FROM bg GROUP BY 1, 2),
             |uni AS (SELECT w1, SUM(n2) AS n1, COUNT(*) AS nfw FROM big GROUP BY 1),
             |bw AS (SELECT w2, COUNT(*) AS nbw FROM big GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS ntot FROM big)
             |SELECT big.w1, big.w2, big.n2,
             |  GREATEST(CAST(big.n2 AS DOUBLE) - 0.75, 0.0) / CAST(uni.n1 AS DOUBLE)
             |    + (0.75 * CAST(uni.nfw AS DOUBLE) / CAST(uni.n1 AS DOUBLE))
             |      * (CAST(bw.nbw AS DOUBLE) / CAST(tot.ntot AS DOUBLE)) AS p_kn
             |FROM big JOIN uni ON big.w1 = uni.w1 JOIN bw ON big.w2 = bw.w2
             |CROSS JOIN tot
             |ORDER BY big.n2 DESC, big.w1, big.w2 LIMIT 100""".stripMargin),
      "interpolated Kneser-Ney bigram smoothing (d=0.75): discounted bigram " +
        "mass backs off to continuation counts N1+(·,w2)/N1+(·,·) — one " +
        "windowed lead + three re-aggregations of the SAME count table, no " +
        "second corpus pass (extension: text analysis)"),

    CatalogEntry(
      "x166_stream_attribution",
      (s, dir) => {
        // The watermarked STREAM-STREAM interval join (EventsStream
        // .attribution: purchases attributed to same-user signups within
        // 6 h) run as a real two-micro-batch Structured Streaming query in
        // staging; the probe reads its append-mode parquet ledger back.
        // The time-split feed keeps every pair inside the watermark (see
        // stagedAttributionLedger), so the stream's output must equal the
        // batch interval join DuckDB replays — a dropped boundary pair, a
        // duplicate from a sink replay, or watermark state evicted early
        // all change the row set.
        val led = s.read.parquet(stagedAttributionLedger(s, dir))
        led.select(col("user_id"), col("signup_id"), col("purchase_id"),
          (unix_micros(col("purchase_t")) - unix_micros(col("signup_t")))
            .as("lag_us"))
          .orderBy("user_id", "signup_id", "purchase_id")
      },
      Some("""WITH s AS (SELECT event_id AS signup_id, ts AS st, user_id
             |    FROM events WHERE event_type = 'signup'),
             |p AS (SELECT event_id AS purchase_id, ts AS pt, user_id
             |    FROM events WHERE event_type = 'purchase')
             |SELECT s.user_id, s.signup_id, p.purchase_id,
             |  epoch_us(p.pt) - epoch_us(s.st) AS lag_us
             |FROM s JOIN p ON s.user_id = p.user_id
             |  AND p.pt >= s.st AND p.pt <= s.st + INTERVAL 21600 SECOND
             |ORDER BY 1, 2, 3""".stripMargin),
      "watermarked stream-stream interval join under the driver oracle: the " +
        "6 h signup→purchase attribution ledger from a real two-batch " +
        "Structured Streaming run must equal the batch interval join — " +
        "watermarks on both sides bound the join state at 100 TB/day ingest " +
        "(extension: streaming / events)"),

    CatalogEntry(
      "x167_posting_managed_rebase",
      (s, dir) => {
        // x157's append+rebase lifecycle, the posting family's
        // no-quiesce maintenance path: the rebase folds the sealed
        // slices into a NEW immutable generation's single `base` slice
        // and publishes the create-once pointer, so a live
        // substring-search workload never loses its table root
        // mid-rebase. Probed under x101's
        // full-corpus oracle through the manifest: a dropped/duplicated
        // row in the fold, a stale pointer, or a half-published
        // generation all change the candidate set.
        postingSearch(s, dir, stagedPostingManagedIndex(s, dir))
      },
      Some(dPostingSearchOracle),
      "manifest-generation posting index: append + rebase fold into an " +
        "immutable new generation behind a create-once pointer (no rename " +
        "swap, no quiesce — the third index family completes the managed " +
        "layout); probed under x101's full-corpus oracle " +
        "(extension: retrieval / index maintenance / catalog layout)"),

    CatalogEntry(
      "x168_stream_ann_compact",
      (s, dir) => {
        // ANN SERVING across index maintenance, live: the StreamAnn
        // query serves micro-batch 0 against the even-built managed IVF
        // index, then — with the stream still up — the odd half is
        // appended and ivfCompact folds the index into a new generation
        // behind the manifest pointer, and micro-batch 1 is served
        // against the GROWN index (ivfTopKStaged resolves the pointer
        // per probe). The ledger therefore pins both halves of the
        // no-quiesce serving story: batch 0's top-k must match the
        // even-only corpus, batch 1's the full corpus through the
        // freshly-published generation — a stale pointer, a fold
        // drop/duplicate, or an append the serve can't see all change a
        // ranked row. The x160 dual for the index family a serving
        // stream probes continuously.
        val led = s.read.parquet(stagedStreamAnnCompactLedger(s, dir))
        led.select(col("batch_id").cast("long").as("batch_id"),
          col("query_id"), col("corpus_id"), col("cos"), col("rank"))
          .orderBy("batch_id", "query_id", "rank")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 20 AND vec_id % 2 = 0),
              |corp0 AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 20 AND vec_id % 2 = 0),
              |corp1 AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 20),
              |q0 AS (SELECT vec_id AS query_id, embedding AS queryv
              |  FROM embeddings WHERE vec_id < 10),
              |q1 AS (SELECT vec_id AS query_id, embedding AS queryv
              |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 20),
              |probes0 AS (
              |  SELECT query_id, queryv, cent_id FROM (
              |    SELECT q.query_id, q.queryv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.queryv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM q0 q, cent ct)
              |  WHERE r <= 2),
              |probes1 AS (
              |  SELECT query_id, queryv, cent_id FROM (
              |    SELECT q.query_id, q.queryv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.queryv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM q1 q, cent ct)
              |  WHERE r <= 2),
              |lists0 AS (
              |  SELECT corpus_id, corpusv, cent_id FROM (
              |    SELECT c.corpus_id, c.corpusv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp0 c, cent ct)
              |  WHERE r = 1),
              |lists1 AS (
              |  SELECT corpus_id, corpusv, cent_id FROM (
              |    SELECT c.corpus_id, c.corpusv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp1 c, cent ct)
              |  WHERE r = 1),
              |tk0 AS (SELECT * FROM (
              |  SELECT p.query_id, l.corpus_id, ${dCos("p.queryv", "l.corpusv")} AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY p.query_id
              |      ORDER BY ${dCos("p.queryv", "l.corpusv")} DESC, l.corpus_id) AS rank
              |  FROM probes0 p JOIN lists0 l ON p.cent_id = l.cent_id)
              |  WHERE rank <= 5),
              |tk1 AS (SELECT * FROM (
              |  SELECT p.query_id, l.corpus_id, ${dCos("p.queryv", "l.corpusv")} AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY p.query_id
              |      ORDER BY ${dCos("p.queryv", "l.corpusv")} DESC, l.corpus_id) AS rank
              |  FROM probes1 p JOIN lists1 l ON p.cent_id = l.cent_id)
              |  WHERE rank <= 5)
              |SELECT * FROM (
              |  SELECT CAST(0 AS BIGINT) AS batch_id, query_id, corpus_id,
              |    cos, CAST(rank AS INTEGER) AS rank FROM tk0
              |  UNION ALL
              |  SELECT CAST(1 AS BIGINT) AS batch_id, query_id, corpus_id,
              |    cos, CAST(rank AS INTEGER) AS rank FROM tk1)
              |ORDER BY batch_id, query_id, rank""".stripMargin),
      "ANN serving LIVE across index maintenance: micro-batch 0 served " +
        "against the even-built managed IVF index, append + generational " +
        "compact fired mid-stream, micro-batch 1 served against the grown " +
        "index through the freshly-published manifest pointer — both " +
        "ranked ledgers replayed by the oracle " +
        "(extension: streaming / similarity search / index maintenance)"),

    CatalogEntry(
      "x169_stream_late_drop",
      (s, dir) => {
        // Watermark EVICTION under the oracle gate — the complement of
        // x166 (which arranged its feed so nothing drops): the hourly
        // aggregation streams in append mode, the feed is split by USER
        // PARITY so batch 1 re-spans the whole month and arrives almost
        // entirely LATE, and the ledger must therefore hold batch 0's
        // events plus ONLY the batch-1 rows whose hour window was still
        // open against the batch-0 watermark (max event time − 2 h). The
        // oracle replays the eviction rule arithmetically; a row the
        // engine wrongly absorbs (eviction too lazy) or wrongly drops
        // (too eager) changes an hourly count. A synthetic event 10 h
        // past the horizon closes every real window so append mode
        // flushes them all deterministically.
        val led = s.read.parquet(stagedLateDropLedger(s, dir))
        led.orderBy("hour", "event_type")
      },
      Some("""WITH a AS (SELECT ts, event_type, value FROM events WHERE user_id % 2 = 0),
             |wm AS (SELECT date_trunc('second', max(ts)) - INTERVAL 2 HOUR AS wma FROM a),
             |b AS (SELECT e.ts, e.event_type, e.value FROM events e, wm
             |  WHERE e.user_id % 2 = 1
             |    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.wma),
             |kept AS (SELECT * FROM a UNION ALL SELECT * FROM b)
             |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             |  event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli_sum
             |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "watermark eviction gated exactly: append-mode hourly aggregation fed " +
        "a deliberately-late second batch keeps only the rows whose window " +
        "was still open at the prior watermark — the oracle replays the " +
        "eviction arithmetic (extension: streaming / events)"),

    CatalogEntry(
      "x170_stream_engine_dedup",
      (s, dir) => {
        // The ENGINE's streaming dedup state under the oracle gate:
        // dropDuplicates keyed on doc_id, two overlapping feed batches
        // (residues {0,1} then {1,2} mod 3) — batch 1's residue-1 docs
        // must be swallowed by the checkpointed seen-key store. The
        // contrast row to x158: there the persisted INDEX is the
        // cross-batch state (queryable, compactable, retractable — the
        // 100 TB path); here the state lives inside the engine
        // checkpoint, the simplest correct form at keyed-state scale.
        // the ledger persists `source` itself — grouping on it directly
        // keeps the probe a single ledger scan (review r16: the original
        // documents join re-derived a column the ledger already carries)
        val led = s.read.parquet(stagedEngineDedupLedger(s, dir))
        led.groupBy(col("batch_id").cast("long").as("batch_id"), col("source"))
          .agg(count(lit(1)).as("n_kept"),
            min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
          .orderBy("batch_id", "source")
      },
      Some("""WITH b0 AS (SELECT doc_id, source FROM documents WHERE doc_id % 3 <= 1),
             |b1 AS (SELECT doc_id, source FROM documents
             |  WHERE doc_id % 3 >= 1 AND doc_id NOT IN (SELECT doc_id FROM b0)),
             |led AS (SELECT 0 AS b, * FROM b0 UNION ALL SELECT 1 AS b, * FROM b1)
             |SELECT CAST(b AS BIGINT) AS batch_id, source,
             |  COUNT(*) AS n_kept, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM led GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "the engine's checkpointed dropDuplicates state gated exactly: " +
        "overlapping micro-batches, first-seen rows only per the seen-key " +
        "store — the engine-state contrast to x158's index-backed admit " +
        "loop (extension: streaming / dedup)"),

    CatalogEntry(
      "x171_unigram_segment",
      (s, dir) => {
        // Unigram-LM (SentencePiece-style) Viterbi segmentation, the
        // tokenizer family's dual to BPE (x110/x111): candidate pieces =
        // every 1..4-char substring occurrence of the corpus words,
        // weighted by word frequency; piece log-probs in exact MILLI
        // integers (round(1000·(ln pf − ln total)) — the x141 ln-milli
        // convention); per distinct word, the max-score / fewest-pieces
        // segmentation via a frontier DP unrolled max-word-length times
        // (optimal substructure: extensions from a position add identical
        // deltas, so keeping only the lexicographic (score, −np) max per
        // position is safe). Everything past the one tokenize+count pass
        // runs on VOCABULARY-sized tables (Heaps' law: ~31 words here,
        // still vocabulary-sized at 100 TB), so the corpus is scanned
        // once. The oracle enumerates ALL segmentations by recursive CTE
        // (compositions with parts ≤ 4 — bounded by word length) and
        // takes the same (score DESC, np ASC) best.
        val docs = t(s, dir, "documents")
        val words = docs.select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("wf"))
          .localCheckpoint()
        val spans = words.select(col("w"), col("wf"),
          explode(expr("flatten(transform(sequence(1, length(w)), i -> " +
            "transform(sequence(i, least(length(w), i + 3)), j -> " +
            "struct(i - 1 AS i, j AS j, substring(w, i, j - i + 1) AS piece))))"))
            .as("sp"))
          .select(col("w"), col("wf"), col("sp.i").as("i"), col("sp.j").as("j"),
            col("sp.piece").as("piece"))
        val pf = spans.groupBy("piece").agg(sum("wf").as("pf"))
        val tot = pf.agg(sum("pf").as("total"))
        val lp = pf.crossJoin(broadcast(tot))
          .select(col("piece"),
            round(lit(1000.0) * (log(col("pf").cast("double"))
              - log(col("total").cast("double")))).cast("long").as("lp"))
        // segmentable-length CAP (VERDICT r16 #5): the DP unrolls one
        // plan step per character, so an UNBOUNDED max word length lets
        // a single pathological unbroken token (URL, CJK run, binary
        // spill — real at 100 TB) drive a 100k-step plan chain. Words
        // longer than the cap skip the DP and are chunked greedily into
        // 4-char pieces instead — the pass-through production tokenizers
        // apply to over-long tokens (SentencePiece's
        // max_sentencepiece_length / byte-fallback family of guards).
        // Piece VOCABULARY still comes from the whole corpus (long words
        // contribute substrings to pf like any other occurrence).
        val segCap = 64
        val segWords = words.where(length(col("w")) <= segCap)
        val edges = spans.where(length(col("w")) <= segCap)
          .select("w", "i", "j", "piece")
          .join(lp, "piece")
          .select(col("w").as("ew"), col("i"), col("j"), col("lp"))
          .localCheckpoint()
        // unroll count = the longest SEGMENTABLE word (≤ cap by
        // construction) — NOT the corpus max: one over-cap token must not
        // drive cap-many DP steps for a corpus of short words
        val maxLenRow = segWords.agg(max(length(col("w")))).head()
        val maxLen = if (maxLenRow.isNullAt(0)) 0 else maxLenRow.getInt(0)
        var best = segWords.select(col("w"), lit(0).as("pos"),
          lit(0L).as("score"), lit(0).as("np"))
        for (step <- 1 to maxLen) {
          val ext = best.join(edges,
            col("w") === col("ew") && col("pos") === col("i"))
            .select(col("w"), col("j").as("pos"),
              (col("score") + col("lp")).as("score"), (col("np") + 1).as("np"))
          // per-step plan truncation is LOAD-BEARING: `best` appears twice
          // per step (directly and through ext's join), so without it the
          // logical plan doubles every iteration — 2^maxLen copies of the
          // corpus scan (QueryTimer: 15.7 s un-truncated vs ~2.4 s warm
          // with truncation). LAZY localCheckpoint swaps in the LogicalRDD
          // (killing the blowup) but defers materialization, so the whole
          // DP runs as ONE job's stage chain instead of a barrier per step
          // — warm-equal to eager at fixture scale, and at cluster scale
          // it saves maxLen scheduling round-trips
          val stepped = best.union(ext).groupBy("w", "pos")
            .agg(max(struct(col("score"), (-col("np")).as("nn"))).as("m"))
            .select(col("w"), col("pos"), col("m.score").as("score"),
              (-col("m.nn")).as("np"))
          // lazy truncation kills the LOGICAL-plan blowup but leaves the
          // RDD lineage growing one hop per step — at the 64-step cap the
          // chain is deep enough to overflow task-serialization stacks.
          // An EAGER checkpoint every 16 steps bounds lineage depth while
          // keeping the one-job stage chain for the common short unrolls.
          // Truncation every SECOND step (r19, VERDICT r18 #6): each
          // lazy localCheckpoint pays a physical-planning pass on the
          // driver, and the blowup it guards against is geometric with a
          // base of 2 per un-truncated step (`best` appears twice per
          // step) — skipping alternate steps bounds the worst plan at 4
          // copies of the last checkpoint's LogicalRDD instead of 2,
          // still O(1), for half the per-step planning cost.
          best =
            if (step % 16 == 0) stepped.localCheckpoint()
            else if (step % 2 == 0 || step == maxLen)
              stepped.localCheckpoint(eager = false)
            else stepped
        }
        val segmented = words.join(best, "w")
          .where(col("pos") === length(col("w")))
          .select(col("w"), col("wf"), col("score").as("lp_milli"),
            col("np").as("n_pieces"))
        // over-cap pass-through: greedy 4-char chunks, scored with the
        // same piece log-probs (every chunk is a 1..4-char substring of
        // the word, so it is guaranteed present in lp) — a bounded,
        // arithmetic-replayable stand-in for segmenting the unsegmentable
        val passThrough = words.where(length(col("w")) > segCap)
          .select(col("w"), col("wf"),
            explode(expr("transform(sequence(1, length(w), 4), i -> " +
              "substring(w, i, 4))")).as("piece"))
          .join(lp, "piece")
          .groupBy("w", "wf")
          .agg(sum("lp").as("lp_milli"),
            count(lit(1)).cast("int").as("n_pieces"))
        segmented.union(passThrough).orderBy("w")
      },
      Some("""WITH RECURSIVE words AS (
             |  SELECT w, COUNT(*) AS wf FROM (
             |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  GROUP BY 1),
             |spans AS (
             |  SELECT w, wf, u.i AS i, u.j AS j, u.piece AS piece FROM words,
             |  UNNEST(flatten(list_transform(range(1, length(w) + 1), i ->
             |    list_transform(range(i, least(length(w), i + 3) + 1), j ->
             |      {'i': i - 1, 'j': j,
             |       'piece': substring(w, CAST(i AS INTEGER), CAST(j - i + 1 AS INTEGER))}))))
             |    AS t(u)),
             |pf AS (SELECT piece, SUM(wf) AS pf FROM spans GROUP BY 1),
             |tot AS (SELECT SUM(pf) AS total FROM pf),
             |lp AS (SELECT piece,
             |    CAST(round(1000.0 * (ln(CAST(pf AS DOUBLE)) - ln(CAST(total AS DOUBLE)))) AS BIGINT) AS lp
             |  FROM pf, tot),
             |edges AS (SELECT s.w, s.i, s.j, l.lp FROM spans s JOIN lp l USING (piece)
             |  WHERE length(s.w) <= 64),
             |dp AS (
             |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS score, 0 AS np FROM words
             |  WHERE length(w) <= 64
             |  UNION ALL
             |  SELECT d.w, CAST(e.j AS INTEGER) AS pos, d.score + e.lp, d.np + 1
             |  FROM dp d JOIN edges e ON d.w = e.w AND d.pos = e.i),
             |fin AS (SELECT d.w, d.score, d.np,
             |    ROW_NUMBER() OVER (PARTITION BY d.w
             |      ORDER BY d.score DESC, d.np ASC) AS r
             |  FROM dp d JOIN words wd ON d.w = wd.w AND d.pos = length(wd.w)),
             |seg AS (SELECT f.w, wd.wf, f.score AS lp_milli,
             |    CAST(f.np AS INTEGER) AS n_pieces
             |  FROM fin f JOIN words wd ON f.w = wd.w WHERE f.r = 1),
             |pass AS (SELECT c.w, c.wf, CAST(SUM(l.lp) AS BIGINT) AS lp_milli,
             |    CAST(COUNT(*) AS INTEGER) AS n_pieces
             |  FROM (SELECT w, wf, unnest(list_transform(
             |      range(1, length(w) + 1, 4), i ->
             |        substring(w, CAST(i AS INTEGER), 4))) AS piece
             |    FROM words WHERE length(w) > 64) c
             |  JOIN lp l USING (piece) GROUP BY 1, 2)
             |SELECT * FROM (SELECT * FROM seg UNION ALL SELECT * FROM pass)
             |ORDER BY w""".stripMargin),
      "unigram-LM (SentencePiece-style) Viterbi segmentation: milli-integer " +
        "piece log-probs, frontier DP per distinct word, corpus scanned once " +
        "— the tokenizer family's dual to BPE; oracle enumerates every " +
        "segmentation by recursive CTE and takes the same best " +
        "(extension: text analysis / tokenizers)"),

    CatalogEntry(
      "x172_hive_partition_join",
      (s, dir) => {
        // The last layout under the value gate: orders staged as
        // Hive-style directories on o_orderpriority (the coarsest
        // pruning tier — a partition filter skips whole directories
        // before any footer is read), probed through a join against a
        // FILTERED aggregated dim on the partition key: exactly the
        // shape where Spark injects a dynamic-partition-pruning
        // subquery (LayoutsSpec pins the DPP plan; this row pins VALUES:
        // a row the partitioned rewrite dropped or duplicated, or a
        // partition the prune wrongly skips, changes a group). Money
        // sums go through DECIMAL(38,4) per the determinism contract.
        val hp = s.read.parquet(stagedHiveLayout(s, dir))
        val dim = t(s, dir, "orders")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n_all"))
          .where(col("o_orderpriority") < "4")
        hp.join(dim, "o_orderpriority")
          .groupBy("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).as("n"),
            graft.functions.Aggregations.exactSum(col("o_totalprice"))
              .as("sum_price"),
            max("n_all").as("n_all"))
          .orderBy("o_orderpriority", "o_orderstatus")
      },
      Some("""WITH dim AS (
             |  SELECT o_orderpriority, COUNT(*) AS n_all FROM orders
             |  GROUP BY 1 HAVING o_orderpriority < '4')
             |SELECT o.o_orderpriority, o.o_orderstatus, COUNT(*) AS n,
             |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
             |  MAX(d.n_all) AS n_all
             |FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "Hive-partitioned layout under the value gate: the staged directory " +
        "layout probed through a filtered-dim join on the partition key — " +
        "the dynamic-partition-pruning shape, value-pinned (LayoutsSpec pins " +
        "the pruned plan itself) (extension: catalog layout / pruning)"),

    CatalogEntry(
      "x173_simhash_index_probe",
      (s, dir) => simhashIndexProbe(s, dir, stagedSimhashIndex(s, dir)),
      // Oracle replays the whole dataflow arithmetically: simhash (the
      // x08 replication), masked 16-bit bands, candidate equi-join,
      // hamming verify — over the index membership the STAGED lifecycle
      // produced (base evens + folded g1 + live g3), so a slice lost in
      // the fold or duplicated by the manifest chase changes the row set.
      Some(simhashProbeOracle(
        "doc_id % 2 = 0 OR doc_id % 4 = 1 OR doc_id % 4 = 3")),
      "banded-SimHash near-dup INDEX probed across its managed lifecycle " +
        "(build → manage → sealed append → generational rebase → live " +
        "append) — the fourth manifest family, landed on the generic " +
        "sorted-table engine with zero new protocol code " +
        "(extension: dedup / index maintenance)"),

    CatalogEntry(
      "x174_retract_after_fold",
      (s, dir) => simhashIndexProbe(s, dir, stagedProvenanceRetract(s, dir)),
      // g1 was FOLDED into base (slice dir gone) before the retraction,
      // so the oracle's index membership excludes it: rows surviving the
      // retract (under-delete) or innocent rows erased with it
      // (over-delete — the null-provenance hazard) both change the set.
      Some(simhashProbeOracle("doc_id % 2 = 0 OR doc_id % 4 = 3")),
      "row-level retraction AFTER compaction folded the batch's slice " +
        "away: src_batch provenance survives the fold, retractFolded " +
        "rewrites the generation without the batch — the GDPR deletion " +
        "shape dropBatch cannot express once compaction has run " +
        "(extension: index maintenance / privacy)"),

    CatalogEntry(
      "x175_multi_touch_credit",
      (s, dir) => {
        // Linear multi-touch attribution: each purchase splits its value
        // equally across the same user's touch events in the preceding
        // 6 h (x166's interval-join shape, batch side, with credit
        // DIVISION instead of pair emission). Milli-integer credits via
        // floor + integer div keep both engines bit-exact; the per-
        // purchase touch count comes from one aggregation over the same
        // join (no second scan). Equi-join on user_id carries the
        // shuffle; the time predicate rides it — at 100 TB this
        // co-partitions by user exactly like the production shape.
        val ev = t(s, dir, "events")
        val p = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id").as("puid"),
            col("ts").as("pts"), col("value"))
        val tch = ev.where(col("event_type") =!= "purchase")
          .select(col("user_id").as("tuid"), col("ts").as("tts"),
            col("event_type"))
        val j = p.join(tch, col("puid") === col("tuid") &&
          col("tts") <= col("pts") &&
          col("tts") >= col("pts") - lit(21600000000000L))
        val n = j.groupBy("pid").agg(count(lit(1)).as("n_touch"))
        j.join(n, "pid")
          .select(col("event_type"),
            expr("cast(floor(value * 1000) as bigint) div n_touch")
              .as("credit_milli"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_touches"),
            sum("credit_milli").as("credit_milli_sum"))
          .orderBy("event_type")
      },
      Some("""WITH p AS (SELECT event_id AS pid, user_id, ts AS pts, value
             |  FROM events WHERE event_type = 'purchase'),
             |t AS (SELECT user_id, ts AS tts, event_type FROM events
             |  WHERE event_type <> 'purchase'),
             |j AS (SELECT p.pid, p.value, t.event_type
             |      FROM p JOIN t ON p.user_id = t.user_id
             |       AND t.tts <= p.pts AND t.tts >= p.pts - INTERVAL 6 HOUR),
             |n AS (SELECT pid, COUNT(*) AS n_touch FROM j GROUP BY 1),
             |c AS (SELECT j.event_type,
             |        CAST(floor(j.value * 1000) AS BIGINT) // n.n_touch AS credit_milli
             |      FROM j JOIN n USING (pid))
             |SELECT event_type, COUNT(*) AS n_touches,
             |  CAST(SUM(credit_milli) AS BIGINT) AS credit_milli_sum
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
      "linear multi-touch attribution: purchase value split in exact " +
        "milli-integer credits across the user's preceding 6 h of touch " +
        "events — the credit-division dual of x166's pair-emitting " +
        "interval join (extension: events / attribution)"),

    CatalogEntry(
      "x176_minhash_retract_folded",
      (s, dir) => {
        // x161's poison scenario with the poison FOLDED before retraction
        // — the deletion dropBatch cannot express once compaction erased
        // the slice dirs. src_batch provenance (built in from birth)
        // survives the fold; minhashRetractFolded re-folds the generation
        // without the poison's rows and the gen-2 probe must equal x153's
        // oracle, which never saw the poison: ONE leaked poison row and a
        // probe doc classifies as an exact dup of ITSELF (under-delete);
        // one base/gen-1 row erased with it and a true dup reads kept
        // (over-delete — the per-(fp, src_batch) fold dedup is what
        // prevents it for fingerprints shared across batches).
        val docs = t(s, dir, "documents")
        val g2 = docs.where(col("doc_id") % 3 === 2)
        val idx = stagedMinhashRetractFoldedIndex(s, dir)
        val st = Dedup.incrementalDedupStaged(g2, idx, "doc_id", "text",
          threshold = 0.5)
        g2.select(col("doc_id"), col("source")).join(st, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_incoming"),
            sum(when(col("status") === "exact_dup", 1L).otherwise(0L))
              .as("n_exact_dropped"),
            sum(when(col("status") === "near_dup", 1L).otherwise(0L))
              .as("n_neardup_dropped"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(dThreeGenIngestOracle),
      "row-level retraction of a batch compaction already FOLDED into the " +
        "MinHash index's base: src_batch provenance survives the fold and " +
        "minhashRetractFolded re-folds the generation without the poison — " +
        "retract-after-fold ≡ never-appended, value-tested with the poison " +
        "docs as the probe (extension: dedup / index maintenance / privacy)"),

    CatalogEntry(
      "x177_ivf_retract_folded",
      (s, dir) => {
        // x154's poison scenario with the poison FOLDED into base before
        // the retraction (slice dirs gone — dropBatch can no longer
        // express the deletion). The per-cell audit reads the CURRENT
        // generation through the manifest and must equal x154's oracle,
        // which never saw the poison: a leaked poison row inflates a
        // cell count, an over-deleted even/odd row deflates one.
        val idx = stagedIvfRetractFoldedIndex(s, dir)
        s.read.parquet(s"${graft.sources.Layouts.indexRoot(idx)(s)}/assign")
          .groupBy(col("cent_id").cast("long").as("cent_id"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("corpus_id") % 2 === 1, 1L).otherwise(0L)).as("n_appended"))
          .orderBy("cent_id")
      },
      Some(s"""WITH cent AS (
              |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10 AND vec_id % 2 = 0),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |assign AS (
              |  SELECT corpus_id, cent_id FROM (
              |    SELECT c.corpus_id, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1)
              |SELECT cent_id, COUNT(*) AS n_total,
              |  CAST(SUM(CASE WHEN corpus_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_appended
              |FROM assign GROUP BY cent_id ORDER BY cent_id""".stripMargin),
      "row-level retraction of an embedding batch compaction already FOLDED " +
        "into the IVF index's base: src_batch provenance survives the fold, " +
        "ivfRetractFolded re-folds the generation without the poison — the " +
        "vector-index leg of the GDPR path, per-cell counts equal the " +
        "never-saw-poison oracle (extension: similarity search / index " +
        "maintenance / privacy)"),

    CatalogEntry(
      "x178_bm25_index_serve",
      (s, dir) => {
        // x52's BM25 scoring SERVED off the persisted term-posting index
        // (Layouts.bm25Index) instead of re-tokenizing the corpus per
        // query: the probe reads only the query terms' posting ranges
        // (term-sorted row groups prune the rest), the corpus statistics
        // merge on read from the batch-sliced deltas table (df summed per
        // query term — a broadcast; the 1-row (n, total) global a bounded
        // cross join), and the doc length comes denormalized out of the
        // posting row — no corpus scan, no corpus-sized doc-length join.
        // Serving cost is O(query terms' postings); the oracle recomputes
        // the same ranking from the raw corpus, so a stale or wrong index
        // row changes the result. Identical scoring tree to x52 (rational
        // Robertson idf, per-(term,doc) scores, no cross-term float sum).
        bm25TopK(s, stagedBm25Index(s, dir))
      },
      Some(bm25ServeOracle("TRUE")),
      "BM25 top-10 served off the persisted term-posting index " +
        "(Layouts.bm25Index — norms denormalized into the postings, " +
        "merge-on-read df/global deltas, term-sorted row groups): probe " +
        "cost is the query terms' posting ranges, never a corpus scan; " +
        "oracle recomputes from raw text so index staleness fails the " +
        "gate (extension: retrieval / index serving)"),

    CatalogEntry(
      "x179_script_profile",
      (s, dir) => {
        // CCNet-style char-class corpus profiling per (source, lang):
        // exact integer counts of lowercase / uppercase / digit / space
        // chars via regexp-strip length deltas (codegen'd, zero UDF),
        // one map-side-combined groupBy on a tiny key space, and a
        // single final double division for the alpha ratio — mirrored
        // node for node in the oracle. At 100 TB this is one corpus
        // pass whose shuffle carries a few counters per (source, lang),
        // the shape every corpus-health dashboard needs.
        def cls(re: String) =
          length(col("text")) - length(regexp_replace(col("text"), re, ""))
        t(s, dir, "documents")
          .select(col("source"), col("lang"), length(col("text")).as("nc"),
            cls("[a-z]").as("lo"), cls("[A-Z]").as("up"),
            cls("[0-9]").as("di"), cls(" ").as("sp"))
          .withColumn("ot",
            col("nc") - col("lo") - col("up") - col("di") - col("sp"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("nc").as("n_chars"),
            sum("lo").as("n_lower"), sum("up").as("n_upper"),
            sum("di").as("n_digit"), sum("sp").as("n_space"),
            sum("ot").as("n_other"))
          .withColumn("alpha_ratio",
            (col("n_lower") + col("n_upper")).cast("double") / col("n_chars"))
          .orderBy("source", "lang")
      },
      Some("""WITH c AS (SELECT source, lang, len(text) AS nc,
             |  len(text) - len(regexp_replace(text, '[a-z]', '', 'g')) AS lo,
             |  len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')) AS up,
             |  len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS di,
             |  len(text) - len(regexp_replace(text, ' ', '', 'g')) AS sp
             |  FROM documents)
             |SELECT source, lang, COUNT(*) AS n_docs,
             |  CAST(SUM(nc) AS BIGINT) AS n_chars,
             |  CAST(SUM(lo) AS BIGINT) AS n_lower,
             |  CAST(SUM(up) AS BIGINT) AS n_upper,
             |  CAST(SUM(di) AS BIGINT) AS n_digit,
             |  CAST(SUM(sp) AS BIGINT) AS n_space,
             |  CAST(SUM(nc - lo - up - di - sp) AS BIGINT) AS n_other,
             |  CAST(SUM(lo) + SUM(up) AS DOUBLE) / SUM(nc) AS alpha_ratio
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "Unicode char-class profiling per (source, lang) — the CCNet-style " +
        "script/alpha-ratio corpus health pass: exact regexp-strip counts, " +
        "one tiny-key groupBy, one final ratio division (extension: text " +
        "analysis / corpus profiling)"),

    CatalogEntry(
      "x180_retrieval_ndcg",
      (s, dir) => {
        // Ranking-quality eval of the BM25 ranking itself: graded
        // relevance rel = tf - 1 (a tf=1 hit is retrieved-but-
        // irrelevant), MRR and nDCG@10 under the HARMONIC discount
        // 1/(rank+1) scaled by LCM(2..11) = 27720 so every per-rank gain
        // is an exact BIGINT — no libm log2 enters either engine; the
        // only float ops are the x52 score tree (already bit-pinned) and
        // the one final DCG/IDCG division. The eval family every
        // retrieval index deployment needs next to its recall audit
        // (x91): same corpus pass, per-term metrics, 3-row output.
        val qs = Seq("filter", "stream", "hash")
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val tf = tok.where(col("term").isin(qs: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("total"))
        val sysW = org.apache.spark.sql.expressions.Window
          .partitionBy("term").orderBy(desc("score"), asc("doc_id"))
        val idealW = org.apache.spark.sql.expressions.Window
          .partitionBy("term").orderBy(desc("rel"), asc("doc_id"))
        // ONE pass over the scored rows: because the ideal order (rel
        // desc, doc_id) sorts every relevant row before every rel=0 row,
        // a row_number over ALL rows equals the rank within the relevant
        // subset for the rows that matter — so both rankings ride the
        // same term-shuffle (two sorts, one exchange) and a single
        // groupBy folds all five metrics, instead of re-deriving the
        // scored join tree once per aggregate.
        val ranked = tf.join(dfreq, "term").join(dl, "doc_id").crossJoin(stats)
          .withColumn("avgdl", col("total").cast("double") / col("n"))
          .withColumn("idf", ((col("n") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)))
          .withColumn("score", col("idf") * ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))))
          .withColumn("rel", col("tf") - 1)
          .withColumn("rank", row_number().over(sysW))
          .withColumn("irank", row_number().over(idealW))
        ranked.groupBy("term").agg(
            count(lit(1)).as("n_retrieved"),
            sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("n_rel"),
            min(when(col("rank") <= 10 && col("rel") >= 1, col("rank")))
              .as("first_rel_rank"),
            sum(when(col("rank") <= 10,
              expr("rel * (27720 div (rank + 1))")).otherwise(0L))
              .as("dcg_scaled"),
            sum(when(col("rel") >= 1 && col("irank") <= 10,
              expr("rel * (27720 div (irank + 1))")).otherwise(0L))
              .as("idcg_scaled"))
          .withColumn("rr_micro",
            coalesce(expr("1000000 div first_rel_rank"), lit(0L)))
          .withColumn("ndcg", when(col("idcg_scaled") > 0,
            col("dcg_scaled").cast("double") / col("idcg_scaled"))
            .otherwise(lit(0.0)))
          .select("term", "n_retrieved", "n_rel", "rr_micro",
            "dcg_scaled", "idcg_scaled", "ndcg")
          .orderBy("term")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
             |       WHERE term IN ('filter', 'stream', 'hash') GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
             |scored AS (
             |  SELECT tf.term, tf.doc_id, tf.tf, dl.dl, tf.tf - 1 AS rel,
             |    (((st.n - df.df) + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
             |      ((tf.tf * 2.2::DOUBLE) / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE *
             |        (CAST(dl.dl AS DOUBLE) / (CAST(st.total AS DOUBLE) / st.n))))) AS score
             |  FROM tf, df, dl, st WHERE tf.term = df.term AND tf.doc_id = dl.doc_id),
             |ranked AS (SELECT term, rel,
             |  ROW_NUMBER() OVER (PARTITION BY term
             |    ORDER BY score DESC, doc_id) AS rank,
             |  ROW_NUMBER() OVER (PARTITION BY term
             |    ORDER BY rel DESC, doc_id) AS irank
             |  FROM scored)
             |SELECT term, COUNT(*) AS n_retrieved,
             |  CAST(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
             |  CAST(COALESCE(1000000 //
             |    MIN(CASE WHEN rank <= 10 AND rel >= 1 THEN rank END), 0)
             |    AS BIGINT) AS rr_micro,
             |  CAST(SUM(CASE WHEN rank <= 10
             |    THEN rel * (27720 // (rank + 1)) ELSE 0 END) AS BIGINT)
             |    AS dcg_scaled,
             |  CAST(SUM(CASE WHEN rel >= 1 AND irank <= 10
             |    THEN rel * (27720 // (irank + 1)) ELSE 0 END) AS BIGINT)
             |    AS idcg_scaled,
             |  CASE WHEN SUM(CASE WHEN rel >= 1 AND irank <= 10
             |      THEN rel * (27720 // (irank + 1)) ELSE 0 END) > 0
             |    THEN CAST(SUM(CASE WHEN rank <= 10
             |      THEN rel * (27720 // (rank + 1)) ELSE 0 END) AS DOUBLE) /
             |      SUM(CASE WHEN rel >= 1 AND irank <= 10
             |        THEN rel * (27720 // (irank + 1)) ELSE 0 END)
             |    ELSE 0.0 END AS ndcg
             |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),
      "retrieval-quality eval (MRR + nDCG@10) of the BM25 ranking under " +
        "graded tf relevance — harmonic discount scaled by LCM(2..11) so " +
        "every gain is an exact BIGINT, no libm log2 in either engine " +
        "(extension: retrieval / evaluation)"),

    CatalogEntry(
      "x181_rendezvous_shards",
      (s, dir) => {
        // Rendezvous (highest-random-weight) shard assignment and its
        // rebalance audit: per doc, shard = argmax over nodes of a
        // deterministic 64-bit weight; growing the ring 8 -> 9 nodes
        // must move ONLY the docs the new node wins (~1/9 of the
        // corpus) — the minimal-movement property that makes a 100 TB
        // reshard an O(moved-bytes) copy instead of a full rewrite.
        // Weights are computed per row with array HOFs (codegen'd, no
        // shuffle until the 9-row groupBy) using the repo's MOD-FIRST
        // quadratic lattice hash (SimilaritySearch.latticeHash's shape,
        // VERDICT r17 #5): the id reduces mod the prime BEFORE any
        // multiply, so every intermediate stays under 2^63 at ANY id
        // range — the raw `doc_id * 2654435761` form silently wrapped
        // in Spark past doc_id ~3.5e9 while DuckDB raised on the same
        // overflow, the exact large-id divergence this closes (the
        // quadratic term also keeps arithmetic-progression ids from
        // degenerating, the x140 lattice lesson). Ties are impossible
        // (the node offset is a nonzero residue mod the prime), and
        // n_bad_moves pins the minimal-movement property at 0.
        def pick(m: Int) = expr(
          s"array_max(transform(sequence(0, ${m - 1}), n -> " +
            "struct((((doc_id % 1000000007) * (doc_id % 1000000007)) % 1000000007" +
            " * 2654435761 + (doc_id % 1000000007) * 40503" +
            " + (n + 1) * 97423001) % 1000000007 AS w, " +
            "n AS n))).n").cast("long")
        t(s, dir, "documents").select(col("doc_id"))
          .withColumn("shard8", pick(8)).withColumn("shard9", pick(9))
          .groupBy("shard9")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
              .as("n_moved"),
            sum(when(col("shard8") =!= col("shard9") && col("shard9") =!= 8, 1L)
              .otherwise(0L)).as("n_bad_moves"))
          .orderBy("shard9")
      },
      Some("""WITH n8 AS (SELECT unnest(range(0, 8)) AS n),
             |n9 AS (SELECT unnest(range(0, 9)) AS n),
             |a8 AS (SELECT d.doc_id, n8.n,
             |  (((d.doc_id % 1000000007) * (d.doc_id % 1000000007)) % 1000000007
             |    * 2654435761 + (d.doc_id % 1000000007) * 40503
             |    + (n8.n + 1) * 97423001) % 1000000007 AS w
             |  FROM documents d, n8),
             |s8 AS (SELECT doc_id, n AS shard8 FROM (
             |  SELECT doc_id, n, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY w DESC, n DESC) AS r FROM a8) WHERE r = 1),
             |a9 AS (SELECT d.doc_id, n9.n,
             |  (((d.doc_id % 1000000007) * (d.doc_id % 1000000007)) % 1000000007
             |    * 2654435761 + (d.doc_id % 1000000007) * 40503
             |    + (n9.n + 1) * 97423001) % 1000000007 AS w
             |  FROM documents d, n9),
             |s9 AS (SELECT doc_id, n AS shard9 FROM (
             |  SELECT doc_id, n, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY w DESC, n DESC) AS r FROM a9) WHERE r = 1)
             |SELECT s9.shard9, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_moved,
             |  CAST(SUM(CASE WHEN shard8 <> shard9 AND shard9 <> 8 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_bad_moves
             |FROM s8 JOIN s9 USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin),
      "rendezvous-hash shard assignment + 8-to-9-node rebalance audit: " +
        "argmax of a mod-first quadratic lattice weight per row via array " +
        "HOFs (overflow-portable at any id range — no engine-divergent " +
        "BIGINT wrap), minimal-movement property pinned (every move lands " +
        "on the new node) — the consistent-hashing reshard a 100 TB " +
        "corpus migration rides (extension: pipeline / partitioning)"),

    CatalogEntry(
      "x182_bm25_append_serve",
      (s, dir) => bm25TopK(s, stagedBm25AppendIndex(s, dir)),
      // oracle = the never-incremental full-corpus recompute: base
      // (%3 != 2) + the appended batch (%3 == 2) = ALL docs, so the
      // probe must equal x178's from-scratch answer — a slice the
      // append dropped, a wrong df/global delta, or a double-counted
      // replay (the staging REPLAYS the append) all shift scores or
      // rankings.
      Some(bm25ServeOracle("TRUE")),
      "incremental BM25 maintenance under the value gate, O(batch) end " +
        "to end (VERDICT r17 #1): the batch's postings, its df/(n, " +
        "total) delta, and its champion tier each land as one slice — " +
        "corpus-level statistics are slice-ADDITIVE under the whole-new-" +
        "docs contract and merge at probe time, so nothing index-sized " +
        "runs per ingest batch — and a replayed append is a dynamic-" +
        "overwrite no-op per table without a ledger (extension: " +
        "retrieval / index maintenance)"),

    CatalogEntry(
      "x183_bm25_retract_serve",
      (s, dir) => bm25TopK(s, stagedBm25RetractIndex(s, dir)),
      // oracle recomputes over the docs that were NEVER appended: after
      // the retraction every remaining score must equal a build that
      // never saw the batch — retract-after-append ≡ never-appended
      // extended to an index whose GLOBAL statistics (df, n, avgdl)
      // must forget the batch too, which pure slice deletion cannot do.
      Some(bm25ServeOracle("doc_id % 3 <> 2")),
      "BM25 batch retraction as PURE slice deletion, O(batch files): the " +
        "batch's postings, delta, and champion slices drop together, and " +
        "because df/(n, total) lived in the batch's own delta slice the " +
        "corpus statistics forget the batch with the deletion — remaining " +
        "scores equal a never-appended build with no index-sized refresh " +
        "(a leaked posting, or a delta still counting the retracted docs, " +
        "shifts every surviving score) (extension: retrieval / index " +
        "maintenance / privacy)"),

    CatalogEntry(
      "x184_filter_agreement",
      (s, dir) => {
        // Cohen's kappa between two deployed quality filters (char-
        // length gate vs token-count gate), per source — the agreement
        // audit run before swapping one filter for another. Contingency
        // counts are exact BIGINTs from one map-side-combined groupBy;
        // po/pe/kappa are three divisions mirrored node for node in the
        // oracle. Products stay under 2^63 to ~3e9 docs per source;
        // beyond that, compute per shard and merge counts first.
        val d = t(s, dir, "documents")
          .withColumn("a", (col("n_chars") > 300).cast("long"))
          .withColumn("b", (size(split(col("text"), " ")) > 55).cast("long"))
        d.groupBy("source").agg(
            count(lit(1)).as("n"),
            sum(expr("a * b")).as("n11"),
            sum(expr("a * (1 - b)")).as("n10"),
            sum(expr("(1 - a) * b")).as("n01"),
            sum(expr("(1 - a) * (1 - b)")).as("n00"))
          .withColumn("po", (col("n11") + col("n00")).cast("double") / col("n"))
          .withColumn("pe",
            ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
              (col("n01") + col("n00")) * (col("n10") + col("n00")))
              .cast("double") / (col("n") * col("n")))
          .withColumn("kappa", when(col("pe") < 1.0,
            (col("po") - col("pe")) / (lit(1.0) - col("pe")))
            .otherwise(lit(1.0)))
          .select("source", "n", "n11", "n10", "n01", "n00", "kappa")
          .orderBy("source")
      },
      Some("""WITH r AS (SELECT source,
             |  CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS a,
             |  CASE WHEN len(string_split(text, ' ')) > 55 THEN 1 ELSE 0 END AS b
             |  FROM documents),
             |g AS (SELECT source, COUNT(*) AS n,
             |  CAST(SUM(a * b) AS BIGINT) AS n11,
             |  CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             |  CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             |  CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
             |  FROM r GROUP BY 1),
             |k AS (SELECT source, n, n11, n10, n01, n00,
             |  CAST(n11 + n00 AS DOUBLE) / n AS po,
             |  CAST((n11 + n10) * (n11 + n01) +
             |       (n01 + n00) * (n10 + n00) AS DOUBLE) / (n * n) AS pe
             |  FROM g)
             |SELECT source, n, n11, n10, n01, n00,
             |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe)
             |       ELSE 1.0 END AS kappa
             |FROM k ORDER BY source""".stripMargin),
      "Cohen's kappa agreement between two quality filters per source — " +
        "the audit run before swapping a deployed filter: exact BIGINT " +
        "contingency counts, three mirrored divisions, zero-variance " +
        "guard (extension: evaluation / quality)"),

    CatalogEntry(
      "x185_budget_selection",
      (s, dir) => {
        // Token-budget-constrained corpus selection, per source: keep
        // docs in quality order (n_chars desc as the deterministic
        // proxy, doc_id tiebreak) while the source's cumulative token
        // count stays within budget — the within-source leg of mixture
        // building (x129 allocates ACROSS sources; this cuts WITHIN
        // one). The running sum is a per-source window here (RANGE ≡
        // ROWS because the composite order key is unique); the 100 TB
        // rendering of the same prefix is x39's two-pass PrefixSum per
        // source — this row pins the VALUES. quality_cutoff is the
        // admitted threshold a production run would publish.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(desc("n_chars"), asc("doc_id"))
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            TextFunctions.tokenCount("text").cast("long").as("n_tokens"))
          .withColumn("cum", sum("n_tokens").over(w))
          .where(col("cum") <= 3000)
          .groupBy("source").agg(count(lit(1)).as("n_kept"),
            sum("n_tokens").as("tokens_kept"),
            min("n_chars").as("quality_cutoff"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, doc_id, n_chars,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT source, n_chars, n_tokens,
             |  SUM(n_tokens) OVER (PARTITION BY source
             |    ORDER BY n_chars DESC, doc_id) AS cum FROM d)
             |SELECT source, COUNT(*) AS n_kept,
             |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
             |  MIN(n_chars) AS quality_cutoff
             |FROM c WHERE cum <= 3000 GROUP BY 1 ORDER BY 1""".stripMargin),
      "token-budget-constrained selection per source: quality-ordered " +
        "prefix under a cumulative token budget, publishing the admitted " +
        "quality cutoff — the within-source cut of mixture building " +
        "(extension: pipeline / data mixing)"),

    CatalogEntry(
      "x186_snake_shards",
      (s, dir) => {
        // Balanced shard packing: docs ranked GLOBALLY by token count
        // (desc, doc_id tiebreak) and dealt into 8 shards in snake
        // (boustrophedon) order — the greedy heterogeneous-item balance
        // that keeps per-shard token sums within one doc of each other,
        // vs hash sharding's variance (x39 packs by prefix-sum budget
        // in id order; this one balances by SIZE). The global rank is
        // the distributed two-pass PrefixSum over a composite order key
        // (tokens desc, id asc, encoded into one ascending BIGINT —
        // valid while docs stay under 1e6 tokens and 1e12 ids), never a
        // single-partition window.
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount("text").cast("long").as("n_tokens"))
          .withColumn("ord",
            (lit(1000000L) - col("n_tokens")) * lit(1000000000000L) + col("doc_id"))
          .withColumn("one", lit(1L))
        graft.operators.PrefixSum.runningTotal(d, "ord", "one", "rank")
          .withColumn("shard", expr(
            "CASE WHEN ((rank - 1) div 8) % 2 = 0 THEN (rank - 1) % 8 " +
              "ELSE 7 - (rank - 1) % 8 END"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
          .orderBy("shard")
      },
      Some("""WITH d AS (SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |r AS (SELECT doc_id, n_tokens, ROW_NUMBER() OVER (
             |  ORDER BY n_tokens DESC, doc_id) AS rank FROM d)
             |SELECT CASE WHEN ((rank - 1) // 8) % 2 = 0 THEN (rank - 1) % 8
             |  ELSE 7 - (rank - 1) % 8 END AS shard,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
      "snake-balanced shard packing: global size rank via the distributed " +
        "two-pass prefix sum (composite order key, no single-partition " +
        "window), boustrophedon deal into 8 shards — per-shard token sums " +
        "balanced for heterogeneous docs, the training-shard writer's " +
        "packing discipline (extension: pipeline / partitioning)"),

    CatalogEntry(
      "x187_stream_bm25_serve",
      (s, dir) => {
        // BM25 SERVING across index maintenance, live — the lexical dual
        // of x168: the StreamBm25 query serves micro-batch 0 against the
        // %3 != 2-built index, then — with the stream still up — the
        // %3 == 2 batch is appended (three commit-atomic slices: postings
        // + df/global delta + champions; nothing swaps, so there is no
        // recovery/rename race for a live probe to hit — ADVICE r17), and
        // micro-batch 1 re-issues the SAME terms against the grown index.
        // The ledger pins both halves: batch 0's top-10 must equal the
        // base-only corpus, batch 1's the full corpus — a missing slice,
        // a stale merged df, or an append the serve can't see all change
        // a ranked row or score.
        val led = s.read.parquet(stagedStreamBm25Ledger(s, dir))
        led.select(col("batch_id").cast("long").as("batch_id"),
          col("term"), col("rank"), col("doc_id"), col("tf"), col("dl"),
          col("score"))
          .orderBy("batch_id", "term", "rank")
      },
      Some(s"""SELECT 0 AS batch_id, t0.* FROM (
              |${bm25ServeOracle("doc_id % 3 <> 2")}) t0
              |UNION ALL
              |SELECT 1 AS batch_id, t1.* FROM (
              |${bm25ServeOracle("TRUE")}) t1
              |ORDER BY batch_id, term, rank""".stripMargin),
      "continuous BM25 serving kept LIVE across incremental index " +
        "maintenance: micro-batch 0 serves the base index, an append " +
        "lands mid-stream as three commit-atomic slices (no sidecar swap " +
        "to race), micro-batch 1 serves the grown index — the reader-side " +
        "no-quiesce story for the lexical family, x168's dual (extension: " +
        "retrieval / streaming / index maintenance)"),

    CatalogEntry(
      "x188_prf_expansion",
      (s, dir) => {
        // Pseudo-relevance-feedback query expansion (the RM3 counting
        // core): take each query term's BM25 top-10 from the persisted
        // index, join those doc_ids back to the corpus text, and mine
        // the 5 most frequent co-occurring tokens (query terms and the
        // ''-token excluded) as expansion candidates — count desc,
        // token asc ties. The feedback join touches 10 docs per term,
        // never the corpus: the expansion cost is O(k · doc length),
        // which is the whole point of running PRF off an index.
        val qs = Seq("scan", "merge", "vector")
        val top = bm25TopK(s, stagedBm25Index(s, dir))
          .select(col("term").as("qterm"), col("doc_id"))
        val fb = top.join(t(s, dir, "documents"), "doc_id")
          .select(col("qterm"),
            explode(split(col("text"), " ")).as("token"))
          .where(!col("token").isin(qs: _*) && col("token") =!= "")
          .groupBy("qterm", "token").agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qterm").orderBy(desc("cnt"), asc("token"))
        fb.withColumn("r", row_number().over(w)).where(col("r") <= 5)
          .select(col("qterm"), col("r"), col("token"), col("cnt"))
          .orderBy("qterm", "r")
      },
      Some(s"""WITH base AS (
              |${bm25ServeOracle("TRUE")}),
              |fb AS (SELECT b.term AS qterm,
              |    unnest(string_split(d.text, ' ')) AS token
              |  FROM base b JOIN documents d ON b.doc_id = d.doc_id),
              |cnt AS (SELECT qterm, token, COUNT(*) AS cnt FROM fb
              |  WHERE token NOT IN ('scan', 'merge', 'vector')
              |    AND token <> '' GROUP BY 1, 2),
              |rk AS (SELECT qterm, token, cnt, ROW_NUMBER() OVER (
              |  PARTITION BY qterm ORDER BY cnt DESC, token) AS r FROM cnt)
              |SELECT qterm, r, token, cnt FROM rk WHERE r <= 5
              |ORDER BY qterm, r""".stripMargin),
      "pseudo-relevance-feedback expansion off the persisted BM25 index: " +
        "top-10 feedback docs per query term joined back to 10 docs of " +
        "text (never the corpus), co-occurring tokens counted and the " +
        "top-5 expansion candidates ranked — the RM3 counting core " +
        "(extension: retrieval / query expansion)"),

    CatalogEntry(
      "x189_champion_recall",
      (s, dir) => {
        // Champion-list (impact-ordered) pruned serving + its recall
        // audit, the tier now PERSISTED at build time (VERDICT r17 #3):
        // the full serving reads the query terms' posting ranges; the
        // champion serving reads the `champions` TABLE bm25Index wrote
        // (top-50 by tf per term, merged on read across slices —
        // Bm25.topKChampions), so a stop-word-class term costs
        // O(champions), independent of its df — pinned by the records-
        // materialized test in ExtensionRound18Spec. Both legs score
        // with the ONE shared Bm25.score tree (VERDICT r17 #8);
        // overlap@10 against the full serving is the recall audit that
        // bounds what the pruning gives up.
        val idx = stagedBm25Index(s, dir)
        val qs = Seq("scan", "merge", "vector")
        def ids(df: org.apache.spark.sql.DataFrame) =
          df.select("term", "doc_id")
        ids(graft.operators.Bm25.topK(s, idx, qs)).as("f")
          .join(ids(graft.operators.Bm25.topKChampions(s, idx, qs)).as("c"),
            col("f.term") === col("c.term") &&
              col("f.doc_id") === col("c.doc_id"), "left")
          .groupBy(col("f.term").as("term"))
          .agg(count(lit(1)).as("n_full"),
            sum(when(col("c.doc_id").isNotNull, 1L).otherwise(0L))
              .as("n_overlap"))
          .orderBy("term")
      },
      Some(s"""WITH post AS (
              |  SELECT tf.term, tf.doc_id, tf.tf, dl.dl FROM
              |    (SELECT doc_id, term, COUNT(*) AS tf FROM
              |      (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              |       FROM documents)
              |     WHERE term IN ('scan', 'merge', 'vector') GROUP BY 1, 2) tf
              |    JOIN (SELECT doc_id, COUNT(*) AS dl FROM
              |      (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              |       FROM documents) GROUP BY 1) dl
              |    ON tf.doc_id = dl.doc_id),
              |df AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
              |st AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM
              |  (SELECT doc_id, COUNT(*) AS dl FROM
              |    (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              |     FROM documents) GROUP BY 1)),
              |champs AS (SELECT term, doc_id, tf, dl FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY term
              |    ORDER BY tf DESC, doc_id) AS cr FROM post) WHERE cr <= 50),
              |fullt AS (SELECT term, doc_id FROM (
              |  SELECT p.term, p.doc_id, ROW_NUMBER() OVER (
              |    PARTITION BY p.term ORDER BY
              |    (((st.n - df.df) + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
              |      ((p.tf * 2.2::DOUBLE) / (p.tf + 1.2::DOUBLE * (0.25::DOUBLE +
              |        0.75::DOUBLE * (CAST(p.dl AS DOUBLE) /
              |        (CAST(st.total AS DOUBLE) / st.n))))) DESC, p.doc_id) AS rank
              |  FROM post p, df, st WHERE p.term = df.term) WHERE rank <= 10),
              |champt AS (SELECT term, doc_id FROM (
              |  SELECT p.term, p.doc_id, ROW_NUMBER() OVER (
              |    PARTITION BY p.term ORDER BY
              |    (((st.n - df.df) + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
              |      ((p.tf * 2.2::DOUBLE) / (p.tf + 1.2::DOUBLE * (0.25::DOUBLE +
              |        0.75::DOUBLE * (CAST(p.dl AS DOUBLE) /
              |        (CAST(st.total AS DOUBLE) / st.n))))) DESC, p.doc_id) AS rank
              |  FROM champs p, df, st WHERE p.term = df.term) WHERE rank <= 10)
              |SELECT f.term, COUNT(*) AS n_full,
              |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_overlap
              |FROM fullt f LEFT JOIN champt c
              |  ON f.term = c.term AND f.doc_id = c.doc_id
              |GROUP BY 1 ORDER BY 1""".stripMargin),
      "champion-list pruned BM25 serving + recall audit off the tier " +
        "PERSISTED at build time (Bm25.topKChampions over the champions " +
        "table): per-term top-50 highest-tf postings serve top-10, " +
        "overlap@10 vs full serving measured — the impact-ordering bound " +
        "that makes high-df terms affordable, probe cost O(champions) " +
        "independent of df (extension: retrieval / index pruning)"),

    CatalogEntry(
      "x190_bm25_managed_serve",
      (s, dir) => {
        // BM25 under the manifest-generation protocol (VERDICT r17 #2):
        // the staged lifecycle forks the base index (each table under its
        // own pointer manifest), lands a sealed+chased append, runs a NO-QUIESCE compact
        // (postings re-sort, df deltas SUMMED per term, champion tier
        // re-selected — the aggregating folds merge-on-read tables
        // need), then lands a second append into the new generation.
        // The probe resolves each table's current generation and must
        // equal the full-corpus from-scratch oracle: a slice lost by
        // the fold, a mis-summed delta, or a champion tier the compact
        // forgot to re-select all shift a score or a rank.
        bm25TopK(s, stagedBm25ManagedIndex(s, dir))
      },
      Some(bm25ServeOracle("TRUE")),
      "BM25 lifecycle under the manifest-generation protocol, the fifth " +
        "managed index family: managed build, sealed append, no-quiesce compact " +
        "with AGGREGATING folds (df deltas summed, champions re-selected), " +
        "append into the new generation, serve across it all — the x168 " +
        "no-quiesce story for the lexical index (extension: retrieval / " +
        "index maintenance)"),

    CatalogEntry(
      "x191_rm3_second_pass",
      (s, dir) => {
        // The RM3 loop CLOSED (VERDICT r17 #4): x188 mines expansion
        // candidates but never re-queries; this row runs the second-pass
        // retrieval — the original term at weight 2 plus its top-5 PRF
        // expansion terms at weight 1, all scored off the SAME persisted
        // index — and measures what the expansion bought: nDCG@10 under
        // x180's graded-tf qrels (rel = tf(qterm, d) − 1, LCM(2..11)-
        // scaled harmonic discount, exact BIGINT gains) for pass 1 vs
        // the expanded pass, plus the delta. The expansion term set IS
        // the second serving request — bounded at 5 terms per query by
        // construction, never corpus-shaped — so collecting it is what
        // gives the second probe its In(term, ...) row-group pruning
        // (the StreamBm25 bounded-request pattern). The per-doc expanded
        // score folds its ≤ 6 weighted per-term BM25 scores in SORTED
        // term order (aggregate over array_sort) so the float sum is
        // bit-reproducible in both engines — an engine-order SUM would
        // tie-break ULP-close docs differently.
        val idx = stagedBm25Index(s, dir)
        val qs = Seq("scan", "merge", "vector")
        // -- pass 1 + PRF mining (the x188 shape, off the index probe)
        val top = graft.operators.Bm25.topK(s, idx, qs)
          .select(col("term").as("qterm"), col("rank"), col("doc_id"))
        val fb = top.join(t(s, dir, "documents"), "doc_id")
          .select(col("qterm"), explode(split(col("text"), " ")).as("token"))
          .where(!col("token").isin(qs: _*) && col("token") =!= "")
          .groupBy("qterm", "token").agg(count(lit(1)).as("cnt"))
        val ew = org.apache.spark.sql.expressions.Window
          .partitionBy("qterm").orderBy(desc("cnt"), asc("token"))
        val expTerms = fb.withColumn("r", row_number().over(ew))
          .where(col("r") <= 5)
          .select(col("qterm"), col("token").as("term"),
            lit(1.0).as("wt"))
        import s.implicits._
        val qmap = expTerms.unionByName(
          qs.map(q => (q, q, 2.0)).toDF("qterm", "term", "wt"))
        val expansion = expTerms.select("term").distinct()
          .collect().map(_.getString(0)).toSeq
        val allTerms = (qs ++ expansion).distinct
        // -- pass 2: weighted-sum BM25 over the expanded query, ordered
        // per-doc fold, top-10 per qterm by (score2 desc, doc_id)
        val sc = graft.operators.Bm25.scored(s, idx, allTerms)
        val pairs = sc.join(broadcast(qmap), "term")
          .select(col("qterm"), col("doc_id"), col("term"),
            (col("wt") * col("score")).as("ws"))
        val second = pairs.groupBy("qterm", "doc_id")
          .agg(expr("aggregate(array_sort(collect_list(struct(term, ws)))" +
            ", CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.ws)").as("score2"))
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy("qterm").orderBy(desc("score2"), asc("doc_id"))
        val rank2 = second.withColumn("rank", row_number().over(w2))
          .where(col("rank") <= 10)
        // -- the eval: x180's scaled-integer DCG under tf-graded rels
        // NOTE (r18 optimization round): `top` is consumed twice and `sc`
        // four times (pairs + the rel branch's three evals), so barrier
        // placement was A/B'd — checkpointing top+sc, and rel alone, both
        // measured at-or-worse than the lazy plan (2.50 s lazy vs 3.07 /
        // 2.66 s, TimeQuery medians): the re-evaluated subtrees are
        // row-group-pruned index probes cheaper than the eager
        // materialization barriers that would replace them. Left lazy.
        val rel = sc.where(col("term").isin(qs: _*))
          .select(col("term").as("qterm"), col("doc_id"),
            (col("tf") - 1).as("rel"))
        val dcg1 = top.join(rel, Seq("qterm", "doc_id"))
          .groupBy("qterm")
          .agg(sum(expr("rel * (27720 div (rank + 1))")).as("dcg1"))
        val dcg2 = rank2.join(rel, Seq("qterm", "doc_id"), "left")
          .groupBy("qterm")
          .agg(sum(expr("coalesce(rel, 0) * (27720 div (rank + 1))"))
            .as("dcg2"))
        val iw = org.apache.spark.sql.expressions.Window
          .partitionBy("qterm").orderBy(desc("rel"), asc("doc_id"))
        val idcg = rel.where(col("rel") >= 1)
          .withColumn("irank", row_number().over(iw))
          .where(col("irank") <= 10)
          .groupBy("qterm")
          .agg(sum(expr("rel * (27720 div (irank + 1))")).as("idcg"))
        dcg1.join(dcg2, "qterm").join(idcg, "qterm")
          .withColumn("ndcg_first", when(col("idcg") > 0,
            col("dcg1").cast("double") / col("idcg")).otherwise(lit(0.0)))
          .withColumn("ndcg_second", when(col("idcg") > 0,
            col("dcg2").cast("double") / col("idcg")).otherwise(lit(0.0)))
          .withColumn("ndcg_delta",
            col("ndcg_second") - col("ndcg_first"))
          .select("qterm", "dcg1", "dcg2", "idcg",
            "ndcg_first", "ndcg_second", "ndcg_delta")
          .orderBy("qterm")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              |  FROM documents),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
              |st AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
              |tfall AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
              |tf1 AS (SELECT * FROM tfall WHERE term IN ('scan', 'merge', 'vector')),
              |df1 AS (SELECT term, COUNT(*) AS df FROM tf1 GROUP BY 1),
              |scored1 AS (
              |  SELECT tf1.term, tf1.doc_id,
              |    (((st.n - df1.df) + 0.5::DOUBLE) / (df1.df + 0.5::DOUBLE)) *
              |      ((tf1.tf * 2.2::DOUBLE) / (tf1.tf + 1.2::DOUBLE * (0.25::DOUBLE +
              |        0.75::DOUBLE * (CAST(dl.dl AS DOUBLE) /
              |        (CAST(st.total AS DOUBLE) / st.n))))) AS score
              |  FROM tf1, df1, dl, st
              |  WHERE tf1.term = df1.term AND tf1.doc_id = dl.doc_id),
              |top1 AS (SELECT term AS qterm, doc_id, rank FROM (
              |  SELECT term, doc_id, ROW_NUMBER() OVER (PARTITION BY term
              |    ORDER BY score DESC, doc_id) AS rank FROM scored1)
              |  WHERE rank <= 10),
              |fb AS (SELECT t.qterm, unnest(string_split(d.text, ' ')) AS token
              |  FROM top1 t JOIN documents d ON t.doc_id = d.doc_id),
              |cnt AS (SELECT qterm, token, COUNT(*) AS cnt FROM fb
              |  WHERE token NOT IN ('scan', 'merge', 'vector') AND token <> ''
              |  GROUP BY 1, 2),
              |exp AS (SELECT qterm, token AS term, 1.0::DOUBLE AS wt FROM (
              |  SELECT qterm, token, cnt, ROW_NUMBER() OVER (PARTITION BY qterm
              |    ORDER BY cnt DESC, token) AS r FROM cnt) WHERE r <= 5),
              |qmap AS (SELECT * FROM exp UNION ALL
              |  SELECT term, term, 2.0::DOUBLE FROM
              |    (SELECT unnest(['scan', 'merge', 'vector']) AS term)),
              |allterms AS (SELECT DISTINCT term FROM qmap),
              |tf2 AS (SELECT t.* FROM tfall t JOIN allterms a USING (term)),
              |df2 AS (SELECT term, COUNT(*) AS df FROM tf2 GROUP BY 1),
              |scored2 AS (
              |  SELECT tf2.term, tf2.doc_id,
              |    (((st.n - df2.df) + 0.5::DOUBLE) / (df2.df + 0.5::DOUBLE)) *
              |      ((tf2.tf * 2.2::DOUBLE) / (tf2.tf + 1.2::DOUBLE * (0.25::DOUBLE +
              |        0.75::DOUBLE * (CAST(dl.dl AS DOUBLE) /
              |        (CAST(st.total AS DOUBLE) / st.n))))) AS score
              |  FROM tf2, df2, dl, st
              |  WHERE tf2.term = df2.term AND tf2.doc_id = dl.doc_id),
              |pairs AS (SELECT q.qterm, s2.doc_id, s2.term, q.wt * s2.score AS ws
              |  FROM scored2 s2 JOIN qmap q ON s2.term = q.term),
              |second AS (SELECT qterm, doc_id,
              |    list_reduce(list_prepend(0.0::DOUBLE, list(ws ORDER BY term)),
              |      (acc, v) -> acc + v) AS score2
              |  FROM pairs GROUP BY 1, 2),
              |rank2 AS (SELECT qterm, doc_id, rank FROM (
              |  SELECT qterm, doc_id, ROW_NUMBER() OVER (PARTITION BY qterm
              |    ORDER BY score2 DESC, doc_id) AS rank FROM second)
              |  WHERE rank <= 10),
              |rel AS (SELECT term AS qterm, doc_id, tf - 1 AS rel FROM tf1),
              |dcg1 AS (SELECT t.qterm,
              |    CAST(SUM(r.rel * (27720 // (t.rank + 1))) AS BIGINT) AS dcg1
              |  FROM top1 t JOIN rel r
              |    ON t.qterm = r.qterm AND t.doc_id = r.doc_id GROUP BY 1),
              |dcg2 AS (SELECT t.qterm,
              |    CAST(SUM(COALESCE(r.rel, 0) * (27720 // (t.rank + 1))) AS BIGINT)
              |      AS dcg2
              |  FROM rank2 t LEFT JOIN rel r
              |    ON t.qterm = r.qterm AND t.doc_id = r.doc_id GROUP BY 1),
              |idcg AS (SELECT qterm,
              |    CAST(SUM(rel * (27720 // (irank + 1))) AS BIGINT) AS idcg
              |  FROM (SELECT qterm, rel, ROW_NUMBER() OVER (PARTITION BY qterm
              |    ORDER BY rel DESC, doc_id) AS irank FROM rel WHERE rel >= 1)
              |  WHERE irank <= 10 GROUP BY 1)
              |SELECT d1.qterm, d1.dcg1, d2.dcg2, i.idcg,
              |  CASE WHEN i.idcg > 0 THEN CAST(d1.dcg1 AS DOUBLE) / i.idcg
              |    ELSE 0.0 END AS ndcg_first,
              |  CASE WHEN i.idcg > 0 THEN CAST(d2.dcg2 AS DOUBLE) / i.idcg
              |    ELSE 0.0 END AS ndcg_second,
              |  CASE WHEN i.idcg > 0 THEN CAST(d2.dcg2 AS DOUBLE) / i.idcg
              |      - CAST(d1.dcg1 AS DOUBLE) / i.idcg
              |    ELSE 0.0 END AS ndcg_delta
              |FROM dcg1 d1 JOIN dcg2 d2 USING (qterm) JOIN idcg i USING (qterm)
              |ORDER BY qterm""".stripMargin),
      "the RM3 loop closed: second-pass retrieval over the PRF-expanded " +
        "query (original term weight 2, top-5 expansion terms weight 1) " +
        "off the persisted BM25 index, nDCG@10 delta vs the first pass " +
        "under x180's graded-tf qrels — ordered per-doc score folds keep " +
        "the cross-term float sum bit-reproducible across engines " +
        "(extension: retrieval / query expansion / evaluation)"),

    CatalogEntry(
      "x192_phrase_index_serve",
      (s, dir) => {
        // Exact-phrase retrieval off the persisted POSITIONAL index
        // (Layouts.positionalIndex — the sixth persisted index family,
        // riding the generic sorted-table lifecycle unchanged): slot
        // algebra turns adjacency into an equi-group — slot i matching
        // at position p votes for start p − i, a start holding all
        // |phrase| slots is an occurrence. The probe reads only the
        // phrase terms' posting ranges (In(term, ...) row-group
        // pruning) and shuffles only the matching rows on (doc_id,
        // start) — O(matching postings), never a corpus text scan; the
        // oracle recomputes from raw text positions, so a stale or
        // misplaced position row fails the hash gate.
        graft.operators.Phrase.topK(s,
          stagedPositionalIndex(s, dir), Seq("table", "hash"), 10)
      },
      Some(phraseTopKOracle("documents")),
      "exact-phrase top-10 served off the persisted positional index " +
        "(slot-algebra adjacency: term-pruned probe + one (doc, start) " +
        "shuffle over matching postings only) — the phrase-retrieval " +
        "capability bag-of-words BM25 cannot express (extension: " +
        "retrieval / index serving)"),

    CatalogEntry(
      "x193_phrase_decontam",
      (s, dir) => {
        // Phrase-level eval-set decontamination — the audit a training
        // pipeline runs before a release: for each eval phrase, how
        // many corpus docs quote it verbatim and how often. ONE pruned
        // probe serves all phrases (the broadcast slot table carries a
        // phrase id + length); overlapping and repeated-term phrases
        // fall out of the same slot algebra. n-gram decontamination
        // (x128/x146) flags token-set overlap; this is the exact-
        // adjacency complement that catches verbatim quotes n-gram
        // Jaccard dilutes.
        graft.operators.Phrase.audit(s, stagedPositionalIndex(s, dir),
          Seq(Seq("slow", "hash", "batch"), Seq("merge", "group"),
            Seq("part", "filter", "scan")))
      },
      Some("""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             |pos AS (SELECT doc_id, pos, sp[pos] AS term
             |  FROM sp, UNNEST(range(1, len(sp) + 1)) AS t(pos)),
             |slots AS (SELECT * FROM (VALUES
             |  ('slow hash batch', 0, 'slow', 3),
             |  ('slow hash batch', 1, 'hash', 3),
             |  ('slow hash batch', 2, 'batch', 3),
             |  ('merge group', 0, 'merge', 2),
             |  ('merge group', 1, 'group', 2),
             |  ('part filter scan', 0, 'part', 3),
             |  ('part filter scan', 1, 'filter', 3),
             |  ('part filter scan', 2, 'scan', 3)) s(phrase, slot, term, plen)),
             |hits AS (SELECT s.phrase, p.doc_id, p.pos - s.slot AS start,
             |    s.slot, s.plen
             |  FROM pos p JOIN slots s USING (term)),
             |occ AS (SELECT phrase, doc_id, start FROM hits
             |  GROUP BY 1, 2, 3 HAVING COUNT(DISTINCT slot) = MAX(plen))
             |SELECT phrase, COUNT(DISTINCT doc_id) AS n_docs,
             |  COUNT(*) AS n_occ
             |FROM occ GROUP BY 1 ORDER BY 1""".stripMargin),
      "phrase-level eval-set decontamination off the positional index: " +
        "per eval phrase, verbatim-quote doc and occurrence counts from " +
        "ONE term-pruned probe (phrase-tagged slot table, adjacency per " +
        "(phrase, doc, start)) — the exact complement of n-gram overlap " +
        "decontamination (extension: retrieval / privacy / evaluation)"),

    CatalogEntry(
      "x194_phrase_append_serve",
      (s, dir) => {
        // The positional family's O(batch) maintenance under the value
        // gate: base index on %2 == 0 docs, then a
        // sealed positionalAppend of the odd half (REPLAYED — the
        // dynamic-overwrite no-op), then the x192 phrase serve. The
        // oracle recomputes over ALL docs, so a dropped slice, a
        // double-counted replay, or an append the probe cannot see all
        // change an occurrence count or a rank. Zero new protocol code:
        // the sixth family reuses the generic sorted-table engine as-is.
        graft.operators.Phrase.topK(s,
          stagedPositionalAppendIndex(s, dir), Seq("table", "hash"), 10)
      },
      Some(phraseTopKOracle("documents")),
      "positional-index lifecycle under the value gate: manage + sealed " +
        "O(batch) append + replay no-op on the generic sorted-table " +
        "manifest engine (zero new protocol code for the sixth persisted " +
        "family), phrase serve equals the full-corpus recompute " +
        "(extension: retrieval / index maintenance)"),

    CatalogEntry(
      "x195_phrase_retract_serve",
      (s, dir) => {
        // The positional family's RETRACTION under the value gate —
        // the lifecycle leg x194 doesn't cover (x164's shape for the
        // sixth family): base index on the %3 != 2 docs, managed, the
        // %3 == 2 batch appended as its own sealed slice, then that
        // slice retracted via the O(batch-files) dropBatch directory
        // delete across retained generations. The oracle recomputes
        // phrase occurrences over the SURVIVORS only, so a leaked
        // retracted posting (extra occurrences, wrong ranks) and an
        // over-deleted base (missing occurrences) both break the hash.
        graft.operators.Phrase.topK(s,
          stagedPositionalRetractIndex(s, dir), Seq("table", "hash"), 10)
      },
      Some(phraseTopKOracle(
        "(SELECT * FROM documents WHERE doc_id % 3 <> 2) AS d")),
      "positional-index retraction under the value gate: the appended " +
        "batch slice dropped via the O(batch-files) directory delete on " +
        "the managed layout, phrase serve equals the survivor-only " +
        "recompute — the sixth family completes the retract story " +
        "(extension: retrieval / index maintenance)"),

    CatalogEntry(
      "x196_span_near",
      (s, dir) => {
        // Proximity (span-near) retrieval off the positional index:
        // anchor-term occurrences with every other query term within
        // ±3 token positions — the unordered-locality semantics between
        // bag-of-words BM25 (no locality) and exact phrase (adjacency),
        // the operator behind "hash near join near sort" concept
        // co-occurrence mining. Anchor = terms.head BY CONTRACT; the
        // rarest-term doc intersection and the k−1 left-semi band joins
        // run over term-pruned postings only — O(matching postings),
        // never a corpus scan (graft.operators.Phrase.near).
        graft.operators.Phrase.nearTopK(s,
          stagedPositionalIndex(s, dir), Seq("hash", "join", "sort"), 3, 10)
      },
      Some("""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             |pos AS (SELECT doc_id, pos, sp[pos] AS term
             |  FROM sp, UNNEST(range(1, len(sp) + 1)) AS t(pos)),
             |a AS (SELECT doc_id, pos AS p FROM pos WHERE term = 'hash'),
             |m AS (SELECT a.doc_id, a.p FROM a
             |  WHERE EXISTS (SELECT 1 FROM pos b WHERE b.doc_id = a.doc_id
             |    AND b.term = 'join' AND abs(b.pos - a.p) <= 3)
             |  AND EXISTS (SELECT 1 FROM pos c WHERE c.doc_id = a.doc_id
             |    AND c.term = 'sort' AND abs(c.pos - a.p) <= 3)),
             |cnt AS (SELECT doc_id, COUNT(*) AS n_near FROM m GROUP BY 1),
             |rk AS (SELECT doc_id, n_near,
             |  ROW_NUMBER() OVER (ORDER BY n_near DESC, doc_id) AS rank FROM cnt)
             |SELECT rank, doc_id, n_near FROM rk WHERE rank <= 10
             |ORDER BY rank""".stripMargin),
      "proximity (span-near) retrieval off the positional index: anchor " +
        "occurrences with all other terms within a ±3 window, rarest-term " +
        "doc intersection + per-term left-semi band joins over pruned " +
        "postings — unordered locality between bag-of-words and exact " +
        "phrase (extension: retrieval / index serving)"),

    CatalogEntry(
      "x197_gapped_phrase",
      (s, dir) => {
        // Wildcard-slot template matching off the positional index:
        // "merge _ join" = concrete slots {0: merge, 2: join} of a
        // length-3 template — the boilerplate-with-variable-fields
        // detector ("click _ to subscribe") exact phrase misses and
        // bag-of-words floods. Same sparse slot algebra and the same
        // pruned probe + (doc, start) shuffle as x192; interior
        // wildcards are satisfied by position contiguity, so no doc-
        // length check is needed (first/last slots concrete, enforced).
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(desc("n_occ"), asc("doc_id"))
        graft.operators.Phrase.gapped(s,
            stagedPositionalIndex(s, dir), Seq(0 -> "merge", 2 -> "join"), 3)
          .orderBy(desc("n_occ"), asc("doc_id")).limit(15)
          .withColumn("rank", row_number().over(w))
          .select("rank", "doc_id", "n_occ")
          .orderBy("rank")
      },
      Some("""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             |pos AS (SELECT doc_id, pos, sp[pos] AS term
             |  FROM sp, UNNEST(range(1, len(sp) + 1)) AS t(pos)),
             |slots AS (SELECT * FROM (VALUES (0, 'merge'), (2, 'join')) s(slot, term)),
             |hits AS (SELECT p.doc_id, p.pos - s.slot AS start, s.slot
             |  FROM pos p JOIN slots s USING (term)),
             |occ AS (SELECT doc_id, start FROM hits
             |  GROUP BY 1, 2 HAVING COUNT(DISTINCT slot) = 2),
             |cnt AS (SELECT doc_id, COUNT(*) AS n_occ FROM occ GROUP BY 1),
             |rk AS (SELECT doc_id, n_occ,
             |  ROW_NUMBER() OVER (ORDER BY n_occ DESC, doc_id) AS rank FROM cnt)
             |SELECT rank, doc_id, n_occ FROM rk WHERE rank <= 15
             |ORDER BY rank""".stripMargin),
      "gapped-phrase (wildcard-slot) template matching off the positional " +
        "index: sparse slot algebra counts occurrences of 'merge _ join' " +
        "per doc from one pruned probe — the variable-field boilerplate " +
        "detector between exact phrase and bag-of-words " +
        "(extension: retrieval / text analysis)"),

    CatalogEntry(
      "x198_stream_phrase_decontam",
      (s, dir) => {
        // ADMIT-TIME eval-set decontamination as a live ingest gate: a
        // two-micro-batch Structured Streaming run checks each incoming
        // doc batch for verbatim quotes of the frozen eval phrases
        // (x193's slot algebra over the BATCH's own tokenization —
        // O(batch tokens) per trigger, broadcast phrase table, no index
        // needed because a micro-batch is bounded) and quarantines hits
        // into an idempotent per-batch ledger. x193 audits the shipped
        // corpus after the fact; this keeps contamination from entering
        // at all — the difference between one batch-sized probe and a
        // corpus-wide retraction. The oracle replays the gate over the
        // full feed with the deterministic batch split, so a dropped
        // quote, a double-written replay, or a wrong batch attribution
        // all break the hash.
        val led = s.read.parquet(stagedStreamDecontamLedger(s, dir))
        led.select(col("doc_id"), col("phrase"), col("n_occ"),
            col("batch_id").cast("long").as("batch_id"))
          .orderBy("doc_id", "phrase")
      },
      Some("""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             |pos AS (SELECT doc_id, pos, sp[pos] AS term
             |  FROM sp, UNNEST(range(1, len(sp) + 1)) AS t(pos)),
             |slots AS (SELECT * FROM (VALUES
             |  ('table scan', 0, 'table', 2), ('table scan', 1, 'scan', 2),
             |  ('slow query', 0, 'slow', 2), ('slow query', 1, 'query', 2),
             |  ('key order sort', 0, 'key', 3), ('key order sort', 1, 'order', 3),
             |  ('key order sort', 2, 'sort', 3)) s(phrase, slot, term, plen)),
             |hits AS (SELECT s.phrase, p.doc_id, p.pos - s.slot AS start,
             |    s.slot, s.plen
             |  FROM pos p JOIN slots s USING (term)),
             |occ AS (SELECT phrase, doc_id, start FROM hits
             |  GROUP BY 1, 2, 3 HAVING COUNT(DISTINCT slot) = MAX(plen)),
             |cnt AS (SELECT doc_id, phrase, COUNT(*) AS n_occ
             |  FROM occ GROUP BY 1, 2)
             |SELECT doc_id, phrase, n_occ, doc_id % 2 AS batch_id
             |FROM cnt ORDER BY 1, 2""".stripMargin),
      "admit-time eval-set decontamination as a streaming ingest gate: " +
        "per micro-batch, incoming docs checked for verbatim eval-phrase " +
        "quotes via the slot algebra over the batch's own tokenization " +
        "(O(batch tokens) per trigger, broadcast phrase list), hits " +
        "quarantined into an idempotent per-batch ledger — catch " +
        "contamination at ingest, not at release " +
        "(extension: streaming / privacy / evaluation)"),

    CatalogEntry(
      "x199_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        // Hybrid dense+sparse retrieval off TWO persisted index families
        // at once: each request pairs a dense query vector (the x144
        // fence, vec_id < 3) with a sparse term, the dense leg probes
        // the IVF index (nprobe=2 — at this fixture's 2 centroids that
        // is exhaustive, so ranks are the exact cosine order), the
        // sparse leg serves BM25 off the term-posting index, and the
        // two rankings fuse by reciprocal-rank fusion. RRF runs in
        // EXACT integers: contribution = LCM(61..70)/(60+rank), a
        // BIGINT for every rank 1..10 in both engines — no float sum
        // to diverge. Docs reached by only one leg keep that leg's
        // contribution (full-outer fusion); the vector and text id
        // spaces are the same doc ids by fixture construction. Probe
        // cost is the two index probes + a (query_id, doc_id) join of
        // two k-row lists — never a corpus pass.
        val qmap = Seq((0L, "scan"), (1L, "merge"), (2L, "vector"))
          .toDF("query_id", "term")
        val dense = SimilaritySearch.ivfTopKStaged(
            t(s, dir, "embeddings").where(col("vec_id") < 3),
            stagedIvfIndex(s, dir), k = 10, nprobe = 2)
          .select(col("query_id"), col("corpus_id").as("doc_id"),
            col("rank").cast("long").as("r_dense"))
        val sparse = graft.operators.Bm25
          .topK(s, stagedBm25Index(s, dir), Seq("scan", "merge", "vector"), 10)
          .join(broadcast(qmap), "term")
          .select(col("query_id"), col("doc_id"),
            col("rank").cast("long").as("r_sparse"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))
        dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(expr("142813628717760 div (60 + r_dense)"), lit(0L)) +
              coalesce(expr("142813628717760 div (60 + r_sparse)"), lit(0L)))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
          .select("query_id", "rank", "doc_id", "rrf", "r_dense", "r_sparse")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH qmap AS (SELECT * FROM (VALUES (0, 'scan'), (1, 'merge'),
              |  (2, 'vector')) q(query_id, term)),
              |cent AS (SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
              |  WHERE vec_id % 50 = 0 AND vec_id >= 10),
              |corp AS (SELECT vec_id AS corpus_id, embedding AS corpusv
              |  FROM embeddings WHERE vec_id >= 10),
              |qs AS (SELECT vec_id AS query_id, embedding AS queryv
              |  FROM embeddings WHERE vec_id < 3),
              |lists AS (
              |  SELECT corpus_id, corpusv, cent_id FROM (
              |    SELECT c.corpus_id, c.corpusv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY c.corpus_id
              |        ORDER BY ${dCos("c.corpusv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM corp c, cent ct)
              |  WHERE r = 1),
              |probes AS (
              |  SELECT query_id, queryv, cent_id FROM (
              |    SELECT q.query_id, q.queryv, ct.cent_id,
              |      ROW_NUMBER() OVER (PARTITION BY q.query_id
              |        ORDER BY ${dCos("q.queryv", "ct.centv")} DESC, ct.cent_id) AS r
              |    FROM qs q, cent ct)
              |  WHERE r <= 2),
              |dense AS (
              |  SELECT query_id, corpus_id AS doc_id, rank AS r_dense FROM (
              |    SELECT p.query_id, l.corpus_id,
              |      ROW_NUMBER() OVER (PARTITION BY p.query_id
              |        ORDER BY ${dCos("p.queryv", "l.corpusv")} DESC, l.corpus_id) AS rank
              |    FROM probes p JOIN lists l ON p.cent_id = l.cent_id)
              |  WHERE rank <= 10),
              |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              |  FROM documents),
              |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
              |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
              |       WHERE term IN ('scan', 'merge', 'vector') GROUP BY 1, 2),
              |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              |st AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
              |scored AS (
              |  SELECT tf.term, tf.doc_id,
              |    (((st.n - df.df) + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
              |      ((tf.tf * 2.2::DOUBLE) / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE *
              |        (CAST(dl.dl AS DOUBLE) / (CAST(st.total AS DOUBLE) / st.n))))) AS score
              |  FROM tf, df, dl, st WHERE tf.term = df.term AND tf.doc_id = dl.doc_id),
              |sparse AS (
              |  SELECT q.query_id, sr.doc_id, sr.rank AS r_sparse FROM (
              |    SELECT term, doc_id, ROW_NUMBER() OVER (PARTITION BY term
              |      ORDER BY score DESC, doc_id) AS rank FROM scored) sr
              |  JOIN qmap q ON sr.term = q.term WHERE sr.rank <= 10),
              |fused AS (
              |  SELECT COALESCE(d.query_id, sp.query_id) AS query_id,
              |         COALESCE(d.doc_id, sp.doc_id) AS doc_id,
              |         d.r_dense, sp.r_sparse,
              |         COALESCE(142813628717760 // (60 + d.r_dense), 0) +
              |           COALESCE(142813628717760 // (60 + sp.r_sparse), 0) AS rrf
              |  FROM dense d FULL JOIN sparse sp
              |    ON d.query_id = sp.query_id AND d.doc_id = sp.doc_id),
              |rk AS (SELECT query_id, doc_id, rrf, r_dense, r_sparse,
              |  ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY rrf DESC, doc_id) AS rank FROM fused)
              |SELECT query_id, rank, doc_id, rrf, r_dense, r_sparse FROM rk
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
      "hybrid dense+sparse retrieval: IVF ANN probe and BM25 posting probe " +
        "of two persisted index families fused per query by reciprocal-" +
        "rank fusion in exact LCM-scaled BIGINTs (no float sum to " +
        "diverge), full-outer so single-leg docs keep their contribution " +
        "(extension: retrieval / similarity search)"),

    CatalogEntry(
      "x200_passage_maxpool",
      (s, dir) => {
        // Passage-level retrieval with document max-pooling — the RAG /
        // long-doc shape: the BM25 index is built over fixed 8-token
        // CHUNKS (chunk_id = doc_id·1000 + chunk_no, the same
        // bm25Index build, nothing chunk-special in the index layer),
        // the probe scores chunks exactly like x178, and the document
        // ranking takes each doc's BEST chunk per term (max-pool — a
        // double MAX, exact in both engines, unlike a cross-chunk sum).
        // A long document can no longer bury its one on-topic passage
        // under its average, and the idf/dl statistics are passage-
        // honest (df = chunks containing the term, dl = chunk length).
        // Probe cost: the query terms' chunk postings + a (term, doc)
        // groupBy over matching chunks — never a corpus pass.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("term").orderBy(desc("best_score"), asc("doc_id"))
        graft.operators.Bm25
          .scored(s, stagedChunkBm25Index(s, dir),
            Seq("scan", "merge", "vector"))
          .withColumnRenamed("doc_id", "chunk_id")
          .withColumn("doc_id", expr("chunk_id div 1000"))
          .groupBy("term", "doc_id")
          .agg(max("score").as("best_score"),
            count(lit(1)).as("n_hit_chunks"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
          .select("term", "rank", "doc_id", "best_score", "n_hit_chunks")
          .orderBy("term", "rank")
      },
      Some("""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |ch AS (SELECT doc_id * 1000 + i AS chunk_id,
             |    toks[(i * 8 + 1):(i * 8 + 8)] AS ct
             |  FROM sp, UNNEST(range(0, (len(toks) - 1) // 8 + 1)) AS t(i)),
             |tok AS (SELECT chunk_id, unnest(ct) AS term FROM ch),
             |dl AS (SELECT chunk_id, COUNT(*) AS dl FROM tok GROUP BY 1),
             |tf AS (SELECT chunk_id, term, COUNT(*) AS tf FROM tok
             |       WHERE term IN ('scan', 'merge', 'vector') GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
             |scored AS (
             |  SELECT tf.term, tf.chunk_id,
             |    (((st.n - df.df) + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
             |      ((tf.tf * 2.2::DOUBLE) / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE *
             |        (CAST(dl.dl AS DOUBLE) / (CAST(st.total AS DOUBLE) / st.n))))) AS score
             |  FROM tf, df, dl, st WHERE tf.term = df.term AND tf.chunk_id = dl.chunk_id),
             |pooled AS (SELECT term, chunk_id // 1000 AS doc_id,
             |    MAX(score) AS best_score, COUNT(*) AS n_hit_chunks
             |  FROM scored GROUP BY 1, 2),
             |rk AS (SELECT term, doc_id, best_score, n_hit_chunks,
             |  ROW_NUMBER() OVER (PARTITION BY term
             |    ORDER BY best_score DESC, doc_id) AS rank FROM pooled)
             |SELECT term, rank, doc_id, best_score, n_hit_chunks FROM rk
             |WHERE rank <= 10 ORDER BY term, rank""".stripMargin),
      "passage-level BM25 with document max-pooling: the index is built " +
        "over fixed 8-token chunks, the probe scores chunks (passage-" +
        "honest df/dl statistics), and docs rank by their best chunk — " +
        "an exact double MAX, so a long doc cannot bury its one on-topic " +
        "passage (extension: retrieval / text pipeline)"),

    CatalogEntry(
      "x201_best_snippet",
      (s, dir) => {
        // Serving-side snippet extraction off the positional index: per
        // doc, the 8-token window covering the most DISTINCT query terms
        // (tie -> earliest start) — which passage of a matching doc to
        // SHOW, the last step of every search/RAG serving path. Candidate
        // starts are the query terms' own occurrences (sliding a maximal
        // window left onto an occurrence loses no term, so the anchor set
        // is lossless); coverage counts come from ONE band join over the
        // term-pruned postings (graft.operators.Phrase.bestWindow — the
        // x196 cost shape, O(matching postings), never a corpus pass).
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(desc("n_terms"), asc("doc_id"))
        graft.operators.Phrase.bestWindow(s,
            stagedPositionalIndex(s, dir), Seq("hash", "join", "sort"), 8)
          .orderBy(desc("n_terms"), asc("doc_id")).limit(15)
          .withColumn("rank", row_number().over(w))
          .select("rank", "doc_id", "best_start", "n_terms")
          .orderBy("rank")
      },
      Some("""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
             |pos AS (SELECT doc_id, pos, sp[pos] AS term
             |  FROM sp, UNNEST(range(1, len(sp) + 1)) AS t(pos)),
             |qp AS (SELECT doc_id, pos, term FROM pos
             |  WHERE term IN ('hash', 'join', 'sort')),
             |starts AS (SELECT DISTINCT doc_id, pos AS s FROM qp),
             |cov AS (SELECT st.doc_id, st.s, COUNT(DISTINCT q.term) AS n_terms
             |  FROM starts st JOIN qp q ON q.doc_id = st.doc_id
             |    AND q.pos >= st.s AND q.pos < st.s + 8
             |  GROUP BY 1, 2),
             |best AS (SELECT doc_id, s AS best_start, n_terms FROM (
             |    SELECT doc_id, s, n_terms, ROW_NUMBER() OVER (
             |      PARTITION BY doc_id ORDER BY n_terms DESC, s) AS r FROM cov)
             |  WHERE r = 1),
             |rk AS (SELECT doc_id, best_start, n_terms, ROW_NUMBER() OVER (
             |  ORDER BY n_terms DESC, doc_id) AS rank FROM best)
             |SELECT rank, doc_id, best_start, n_terms FROM rk
             |WHERE rank <= 15 ORDER BY rank""".stripMargin),
      "best-window snippet extraction off the positional index: the " +
        "8-token window covering the most distinct query terms per doc " +
        "(tie to the earliest start), candidate starts anchored losslessly " +
        "at query-term occurrences, one band join over pruned postings " +
        "(extension: retrieval / index serving)")
  )

  /** The BM25 serving probe shared by x178 (static index), x182 (after
    * an incremental append + replay) and x183 (after a batch
    * retraction): [[graft.operators.Bm25.topK]] over the catalog's
    * fixed 3-term query.
    */
  private[graft] def bm25TopK(s: SparkSession, idx: String): DataFrame =
    graft.operators.Bm25.topK(s, idx, Seq("scan", "merge", "vector"))

  /** DuckDB replay of the BM25 serving probe over a corpus membership
    * predicate — shared by x178 (all docs), x182 (base + appended batch
    * = all docs) and x183 (the never-appended subset after retraction).
    */
  private def bm25ServeOracle(pred: String): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents WHERE $pred),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |       WHERE term IN ('scan', 'merge', 'vector') GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
       |scored AS (
       |  SELECT tf.term, tf.doc_id, tf.tf, dl.dl,
       |    (((st.n - df.df) + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE)) *
       |      ((tf.tf * 2.2::DOUBLE) / (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE *
       |        (CAST(dl.dl AS DOUBLE) / (CAST(st.total AS DOUBLE) / st.n))))) AS score
       |  FROM tf, df, dl, st WHERE tf.term = df.term AND tf.doc_id = dl.doc_id),
       |ranked AS (SELECT term, doc_id, tf, dl, score,
       |  ROW_NUMBER() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT term, rank, doc_id, tf, dl, score FROM ranked
       |WHERE rank <= 10 ORDER BY term, rank""".stripMargin

  /** DuckDB replay of the x192/x194 phrase top-10: token positions from
    * the split-list lateral, slot-algebra adjacency, rank by
    * (occurrences desc, doc_id).
    */
  private def phraseTopKOracle(table: String): String =
    s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM $table),
       |pos AS (SELECT doc_id, pos, sp[pos] AS term
       |  FROM sp, UNNEST(range(1, len(sp) + 1)) AS t(pos)),
       |slots AS (SELECT * FROM (VALUES (0, 'table'), (1, 'hash')) s(slot, term)),
       |hits AS (SELECT p.doc_id, p.pos - s.slot AS start, s.slot
       |  FROM pos p JOIN slots s USING (term)),
       |occ AS (SELECT doc_id, start FROM hits
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT slot) = 2),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_occ FROM occ GROUP BY 1),
       |rk AS (SELECT doc_id, n_occ,
       |  ROW_NUMBER() OVER (ORDER BY n_occ DESC, doc_id) AS rank FROM cnt)
       |SELECT rank, doc_id, n_occ FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** DuckDB replay of the banded-SimHash index probe over a given index
    * membership predicate — shared by x173 (full lifecycle) and x174
    * (post-retraction): simhash per the x08 replication, all four bands
    * MASKED to 16 bits (sign-independent), candidate equi-join on
    * (band_no, band_val), hamming ≤ 3 verify.
    */
  private def simhashProbeOracle(idxPred: String): String =
    s"""WITH th AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), t -> ${dPoly("t")}) AS hs
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 64), b ->
       |      CASE WHEN list_reduce(list_prepend(0::BIGINT, list_transform(hs,
       |             h -> CASE WHEN ((((1 + b * 2654435761) % $Prime) * h
       |                    + ((7 + b * 40503) % $Prime)) % $Prime) % 2 = 1
       |                  THEN 1::BIGINT ELSE (-1)::BIGINT END)),
       |             (s2, v) -> s2 + v) >= 0
       |      THEN CASE WHEN b = 63 THEN -9223372036854775807 - 1
       |           ELSE (1::BIGINT << b) END
       |      ELSE 0::BIGINT END)), (acc, v) -> acc + v) AS sh
       |  FROM th),
       |idx AS (SELECT doc_id, sh FROM sh WHERE $idxPred),
       |prb AS (SELECT doc_id, sh FROM sh WHERE doc_id % 4 = 2),
       |ib AS (SELECT doc_id, sh, b AS band_no, (sh >> (b * 16)) & 65535 AS band_val
       |       FROM idx, UNNEST(range(0, 4)) AS t(b)),
       |pb AS (SELECT doc_id, sh, b AS band_no, (sh >> (b * 16)) & 65535 AS band_val
       |       FROM prb, UNNEST(range(0, 4)) AS t(b)),
       |cand AS (SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS match_id,
       |           p.sh AS psh, i.sh AS ish
       |         FROM pb p JOIN ib i
       |           ON p.band_no = i.band_no AND p.band_val = i.band_val
       |         WHERE p.doc_id <> i.doc_id)
       |SELECT probe_id, match_id, bit_count(xor(psh, ish))::BIGINT AS hamming
       |FROM cand WHERE hamming <= 3 ORDER BY probe_id, match_id""".stripMargin

  /** The Spark side of the banded-SimHash index probe: probe docs
    * (doc_id % 4 == 2) banded like the index rows, candidate equi-join
    * against the index's CURRENT generation (one manifest resolve),
    * exact hamming verify on the stored signatures. A probe never
    * recomputes index-side signatures — that is the persisted family's
    * whole point.
    */
  private def simhashIndexProbe(s: SparkSession, dir: String, idx: String): DataFrame = {
    val ib = s.read.parquet(graft.sources.Layouts.indexRoot(idx)(s))
    val pb = simhashBandRows(t(s, dir, "documents").where(col("doc_id") % 4 === 2))
    pb.as("p").join(ib.as("i"),
        col("p.band_no") === col("i.band_no") &&
          col("p.band_val") === col("i.band_val") &&
          col("p.doc_id") =!= col("i.doc_id"))
      .select(col("p.doc_id").as("probe_id"), col("i.doc_id").as("match_id"),
        bit_count(col("p.sh").bitwiseXOR(col("i.sh"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= 3)
      .orderBy("probe_id", "match_id")
  }

  /** Scratch base every staged artifact (and every dev tool that
    * cross-checks one) lands under. Defaults under the project's own
    * `target/` — the same filesystem as the fixtures — NOT
    * `java.io.tmpdir`: on the round-11 driver host /tmp cold-read at
    * 0.16 GB/s and made the five staged-probe queries the slowest rows in
    * the whole bench. Override with `GRAFT_SCRATCH_DIR` (e.g. to a RAM
    * disk, or per-executor local dirs on a real cluster — at 100 TB the
    * analog is the persisted-index table location, a deliberate choice,
    * never whatever tmpdir happens to be). Public so [[graft.Bench]] can
    * probe the DEVICE behind it (cold-read GB/s + free space on the final
    * JSON line; the round-11 postmortem took a full round because a
    * collapsed scratch device was invisible in the artifact).
    */
  def scratchBase: String =
    sys.env.getOrElse("GRAFT_SCRATCH_DIR", "target/graft-scratch")

  /** A new, empty scratch dir under [[scratchBase]] named `prefix…`. */
  private[graft] def stagedScratch(prefix: String): String = {
    val base = java.nio.file.Paths.get(scratchBase)
    try {
      java.nio.file.Files.createDirectories(base)
      java.nio.file.Files.createTempDirectory(base, prefix).toString
    } catch {
      // read-only cwd (spark-submit from an unwritable dir): fall back to
      // tmpdir rather than failing every staged build — slower on a
      // degraded /tmp, but correct; the preferred dir remains the default
      case _: java.io.IOException | _: SecurityException =>
        java.nio.file.Files.createTempDirectory(prefix).toString
    }
  }

  /** One staged artifact: `build(s, dir, out)` writes it into the fresh
    * scratch dir `out` and returns its path. [[apply]] builds once per
    * fixture dir and hands every later caller that path — the one-time
    * metadata phase the probe rows then reuse (the reference's split,
    * v1/src/main.rs:118-133 vs 137-156). A build that throws is not
    * memoized. [[fresh]] re-runs the body into a new dir without touching
    * the memo, so a build row can be re-timed; templates the body forces
    * through other nodes' [[apply]] stay memoized.
    *
    * One memo per node, not one shared map: a body forces its templates
    * from inside its own build, and a nested `computeIfAbsent` on the same
    * map throws "Recursive update".
    */
  private[graft] final class Staged(val label: String, prefix: String)(
      build: (SparkSession, String, String) => String) {
    private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def apply(s: SparkSession, dir: String): String =
      built.computeIfAbsent(dir, _ => fresh(s, dir))
    def fresh(s: SparkSession, dir: String): String =
      build(s, dir, stagedScratch(prefix))
    def path(dir: String): Option[String] = Option(built.get(dir))
  }

  /** x101 staging: the posting index via
    * [[graft.sources.Layouts.postingIndex]] — the write-once / probe-many
    * split a persisted index exists for. Fine page granularity at fixture
    * scale so the term probe has something to prune.
    */
  private val stagedPostingIndex =
    new Staged("build_x101_posting", "graft-posting")((s, dir, out) => {
      graft.sources.Layouts.postingIndex(t(s, dir, "documents"), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x178 staging: the BM25 term-posting index (postings + merge-on-read
    * df/global deltas + champion tier) via
    * [[graft.sources.Layouts.bm25Index]] — the per-release build the BM25
    * serving probe then amortizes. Fine page granularity at fixture scale
    * so the term probe has something to prune.
    */
  private val stagedBm25Index =
    new Staged("build_x178_bm25_index", "graft-bm25")((s, dir, out) => {
      graft.sources.Layouts.bm25Index(t(s, dir, "documents"), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x182/x183 shared template: the BM25 index built on the %3 != 2
    * "existing corpus", then COPIED into each lifecycle staging (the r15
    * shared-template pattern) — its build cost bills to whichever build
    * row first forces it.
    */
  private val stagedBm25Gen0 =
    new Staged("bm25_gen0_template", "graft-bm25g0")((s, dir, out) => {
      graft.sources.Layouts.bm25Index(
        t(s, dir, "documents").where(col("doc_id") % 3 =!= 2), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x182 staging: template copy → incremental append of the %3 == 2
    * batch → the SAME append REPLAYED (all three slices land as
    * dynamic-overwrite no-ops — the ledger-free idempotence claim,
    * value-gated by the full-corpus oracle).
    */
  private val stagedBm25AppendIndex =
    new Staged("build_x182_bm25_append", "graft-bm25app")((s, dir, out) => {
      copyIndex(stagedBm25Gen0(s, dir), out, s)
      val batch = t(s, dir, "documents").where(col("doc_id") % 3 === 2)
      graft.sources.Layouts.bm25Append(batch, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
      graft.sources.Layouts.bm25Append(batch, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
      out
    })

  /** x183 staging: template copy → append the %3 == 2 batch as the
    * poison → retract it. The probe must equal the never-appended
    * build, including the merged df/global deltas forgetting the batch
    * (they do by construction — the batch's delta slice dropped with
    * its postings).
    */
  private val stagedBm25RetractIndex =
    new Staged("build_x183_bm25_retract", "graft-bm25ret")((s, dir, out) => {
      implicit val sp: SparkSession = s
      copyIndex(stagedBm25Gen0(s, dir), out, s)
      graft.sources.Layouts.bm25Append(
        t(s, dir, "documents").where(col("doc_id") % 3 === 2), out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("gx"))
      graft.sources.Layouts.bm25Retract(out, "gx")
      out
    })

  /** x190 staging: the managed BM25 lifecycle — template copy (%3 != 2
    * base, three per-table manifests at v0) → sealed append of the
    * %6 == 2 half-batch →
    * [[graft.sources.Layouts.bm25Compact]] (no-quiesce generation fold:
    * postings re-sorted, df deltas SUMMED, champions re-selected) →
    * sealed append of the %6 == 5 half-batch into the NEW generation.
    * Together the two half-batches are exactly the %3 == 2 docs, so the
    * serve must equal the full-corpus oracle.
    */
  private val stagedBm25ManagedIndex =
    new Staged("build_x190_bm25_managed", "graft-bm25mgd")((s, dir, out) => {
      implicit val sp: SparkSession = s
      copyIndex(stagedBm25Gen0(s, dir), out, s)
      graft.sources.Layouts.bm25Append(
        t(s, dir, "documents").where(col("doc_id") % 6 === 2), out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
      graft.sources.Layouts.bm25Compact(out,
        groupBytes = 256L * 1024, pageRows = 2000)
      graft.sources.Layouts.bm25Append(
        t(s, dir, "documents").where(col("doc_id") % 6 === 5), out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g2"))
      out
    })

  /** x187 staging: the live-maintenance BM25 serving lifecycle — template
    * copy (%3 != 2 base), StreamBm25 up, micro-batch 0 of term queries
    * served, [[graft.sources.Layouts.bm25Append]] of the %3 == 2 batch
    * fired with the stream LIVE (three commit-atomic slices, no swap),
    * micro-batch 1 re-issues the same terms against the grown index.
    */
  private val stagedStreamBm25Ledger =
    new Staged("build_x187_stream_bm25", "graft-sbm25")((s, dir, base) => {
      val idx = s"$base/idx"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      copyIndex(stagedBm25Gen0(s, dir), idx, s)
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      import s.implicits._
      val queries = Seq((0L, "scan"), (1L, "merge"), (2L, "vector"))
        .toDF("query_id", "term")
      // the SAME term frame serves both micro-batches: stage the part
      // file once; the LANDINGS stay exactly where they were — q1 lands
      // only after the live append, which is the ordering the row tests
      val part = stageFeedFile(queries, s"$base/stage")
      val q = graft.streaming.StreamBm25.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try {
        landStaged(part, in, "q0")
        q.processAllAvailable()
        // maintenance fires with the serving stream LIVE
        graft.sources.Layouts.bm25Append(
          t(s, dir, "documents").where(col("doc_id") % 3 === 2), idx,
          groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
        landStaged(part, in, "q1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** x192/x193 staging: the positional term index, written via
    * [[graft.sources.Layouts.positionalIndex]] — fine
    * page granularity at fixture scale so the phrase probe has row
    * groups to prune.
    */
  private val stagedPositionalIndex =
    new Staged("build_x192_positional", "graft-posidx")((s, dir, out) => {
      graft.sources.Layouts.positionalIndex(t(s, dir, "documents"), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x194 staging: positional index on the even half → sealed append of
    * the odd half → the SAME append
    * REPLAYED (dynamic-overwrite no-op). Together the halves are the
    * full corpus, so the serve must equal x192's full-corpus oracle.
    */
  private val stagedPositionalAppendIndex =
    new Staged("build_x194_positional_append", "graft-posapp")((s, dir, out) => {
      implicit val sp: SparkSession = s
      graft.sources.Layouts.positionalIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      val odd = t(s, dir, "documents").where(col("doc_id") % 2 === 1)
      graft.sources.Layouts.positionalAppend(odd, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
      graft.sources.Layouts.positionalAppend(odd, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
      out
    })

  /** x195 staging: the positional family's RETRACTION path — base index
    * on the %3 != 2 docs, the %3 == 2 batch appended as sealed
    * slice "g1", then dropped via [[graft.sources.Layouts.dropBatch]]
    * (the O(batch-files) directory delete, across retained generations
    * on the managed layout). The serve must equal the survivor-only
    * recompute.
    */
  private val stagedPositionalRetractIndex =
    new Staged("build_x195_positional_retract", "graft-posret")((s, dir, out) => {
      implicit val sp: SparkSession = s
      graft.sources.Layouts.positionalIndex(
        t(s, dir, "documents").where(col("doc_id") % 3 =!= 2), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      graft.sources.Layouts.positionalAppend(
        t(s, dir, "documents").where(col("doc_id") % 3 === 2), out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("g1"))
      val n = graft.sources.Layouts.dropBatch(out, "g1")
      require(n > 0, s"x195 retraction dropped no slices at $out")
      out
    })

  /** x198 staging: the admit-time decontamination gate run as a real
    * two-micro-batch Structured Streaming query — the even-id docs land
    * as trigger 0, the odd-id docs as trigger 1 (the deterministic split
    * the oracle replays), each gated against the fixed eval-phrase list
    * into the quarantine ledger.
    */
  private val stagedStreamDecontamLedger =
    new Staged("build_x198_stream_decontam", "graft-sdecon")((s, dir, base) => {
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val phrases = Seq(
        Seq("table", "scan"), Seq("slow", "query"),
        Seq("key", "order", "sort"))
      val q = graft.streaming.StreamDecontam.gate(
        s, in, phrases, s"$base/ledger", s"$base/ckpt")
      try {
        landFeedFile(docs.where(col("doc_id") % 2 === 0),
          s"$base/stage0", in, "b0")
        q.processAllAvailable()
        landFeedFile(docs.where(col("doc_id") % 2 === 1),
          s"$base/stage1", in, "b1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** x200 staging: the PASSAGE-grained BM25 index — documents split
    * into fixed 8-token non-overlapping chunks (chunk_id = doc_id·1000
    * + chunk_no; the x50 sequence+slice chunker, stride = length), then
    * the ordinary [[graft.sources.Layouts.bm25Index]] build over the
    * chunk rows. The index layer needs nothing chunk-special: df, dl
    * and the champion tier all become passage-grained by construction.
    */
  private val stagedChunkBm25Index =
    new Staged("build_x200_chunk_bm25", "graft-bm25chunk")((s, dir, out) => {
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("chunk_no",
          explode(sequence(lit(0L), expr("(n - 1) div 8"))))
        .select((col("doc_id") * 1000 + col("chunk_no")).as("chunk_id"),
          array_join(slice(col("toks"),
            (col("chunk_no") * 8 + 1).cast("int"), lit(8)), " ").as("chunk_text"))
      graft.sources.Layouts.bm25Index(chunks, out,
        idCol = "chunk_id", textCol = "chunk_text",
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x139 staging: the even-id "existing corpus" EXACT-jaccard index,
    * written via [[graft.sources.Layouts.jaccardIndex]] — the per-release
    * build the exact ingest probe then amortizes.
    */
  private val stagedJaccardIndex =
    new Staged("build_x139_jaccard_index", "graft-jacidx")((s, dir, out) => {
      graft.sources.Layouts.jaccardIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x151's poisoned hourly ledger: real hourly counts from `events` plus
    * two anchor-proof poison rows (n = 1, both above every real hour)
    * far outside the plausibility window. Path is what
    * [[graft.streaming.StreamDrift.cusumQuarantine]] probes.
    */
  private val stagedX151Ledger =
    new Staged("x151_poisoned_ledger", "graft-x151-ledger")((s, dir, out) => {
      val half = graft.streaming.StreamDrift.DefaultMaxSpanHours / 2
      val hc0 = t(s, dir, "events")
        .groupBy(expr("ts div 3600000000000").as("h"))
        .agg(count(lit(1)).as("n"))
      val anc = hc0.orderBy(col("n").desc, col("h")).limit(1)
        .select(col("h").as("hm"))
      val poison = anc.select(explode(array(
          struct((col("hm") + lit(half + 100000L)).as("h"), lit(1L).as("n")),
          struct((col("hm") + lit(2 * half + 200001L)).as("h"), lit(1L).as("n")))).as("p"))
        .select(col("p.h").as("h"), col("p.n").as("n"))
      hc0.unionByName(poison).write.mode("overwrite").parquet(out)
      out
    })

  /** x117 staging: the even-id "existing corpus" MinHash index, written
    * via [[graft.sources.Layouts.minhashIndex]] — the
    * per-release build the ingest probe then amortizes.
    */
  private val stagedMinhashIndex =
    new Staged("build_x117_minhash_index", "graft-mhidx")((s, dir, out) => {
      graft.sources.Layouts.minhashIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x144 staging: the corpus-side (vec_id ≥ 10) IVF index, written
    * via [[graft.sources.Layouts.ivfIndex]] — the
    * per-release build the cell-pruned ANN probe then amortizes.
    */
  private[graft] val stagedIvfIndex =
    new Staged("build_x144_ivf_index", "graft-ivfidx")((s, dir, out) => {
      // the FLAT leg of the x144/x145 A/B pair, pinned Some(false): the
      // default now auto-selects two-level above the centroid threshold,
      // and x144's oracle replays the exact flat assignment
      graft.sources.Layouts.ivfIndex(
        t(s, dir, "embeddings").where(col("vec_id") >= 10), out, centModulo = 50,
        twoLevel = Some(false))
      out
    })

  /** x145 staging: the same corpus-side IVF index built with the TWO-LEVEL
    * assignment ([[graft.sources.Layouts.ivfIndex]] `twoLevel = true`) —
    * the build that stays affordable at corpus-proportional cell count.
    */
  private val stagedIvfIndex2l =
    new Staged("build_x145_ivf2_index", "graft-ivf2idx")((s, dir, out) => {
      graft.sources.Layouts.ivfIndex(
        t(s, dir, "embeddings").where(col("vec_id") >= 10), out,
        centModulo = 50, twoLevel = Some(true))
      out
    })

  /** Shared gen-0 IVF index TEMPLATE over the even (vec_id ≥ 10,
    * vec_id % 2 == 0) corpus half, flat assignment — the
    * [[stagedMinhashGen0]] pattern (VERDICT r15 #3)
    * applied to the IVF lifecycle family (r19 optimization round): x152
    * append, x154 retract, x156 compact and x162 managed-compact all
    * start from this exact index, and before this each ran the identical
    * even-half assignment build — four copies of the dominant build cost
    * for zero information. Lifecycles hardlink-fork it ([[copyIndex]])
    * and mutate their copy; the template is never mutated. x168
    * (different corpus fence, vec_id ≥ 20) and x177 (provenance from
    * birth) keep their own builds — their gen-0 is genuinely different.
    */
  private val stagedIvfEvenGen0 =
    new Staged("ivf_even_gen0_template", "graft-ivfg0")((s, dir, out) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      graft.sources.Layouts.ivfIndex(
        e.where(col("vec_id") % 2 === 0), out, centModulo = 50,
        twoLevel = Some(false))
      out
    })

  /** x152 staging: IVF index built over the EVEN corpus half (the shared
    * [[stagedIvfEvenGen0]] template, forked), then the ODD half appended
    * via [[graft.sources.Layouts.ivfAppend]] against the existing
    * centroids — the rebuild-free maintenance path; the query row
    * measures the read-back audit, not the build. Flat build pinned: the
    * oracle replays the flat assignment.
    */
  private val stagedIvfAppendIndex =
    new Staged("build_x152_ivf_append", "graft-ivfappidx")((s, dir, out) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(stagedIvfEvenGen0(s, dir), out, s)
      val odd = e.where(col("vec_id") % 2 === 1)
      // appended TWICE with the same batch id — the ledgered-batch replay
      // a retry-based ingest loop produces. The dynamic slice overwrite
      // makes the second call a no-op, and x152's per-cell-count oracle
      // (which replays the single-append assignment) certifies that at
      // the driver gate: a double-counted batch would fail n_total.
      graft.sources.Layouts.ivfAppend(odd, out, batchId = Some("odd"))
      graft.sources.Layouts.ivfAppend(odd, out, batchId = Some("odd"))
      out
    })

  /** Shared gen-0 MinHash index TEMPLATE over the `doc_id % 3 == 0`
    * corpus slice. The three maintenance-
    * lifecycle stagings (x153 append, x155 compact via x153, x158 stream
    * admit) all start from this exact index; before this they each ran
    * the identical corpus-side tokenize/shingle/minhash build — the
    * dominant cost of every one of them — tripling the driver's builds
    * wall for zero information (VERDICT r15 #3). The template is never
    * mutated: lifecycles copy it (the index is ~MBs — the copy is noise
    * next to the build it replaces) and mutate their copy.
    */
  private val stagedMinhashGen0 =
    new Staged("minhash_gen0_template", "graft-mhgen0")((s, dir, out) => {
      // fixture-scale layout knobs, like every sibling staging: multiple
      // row groups/pages so the probes' pruning actually engages
      graft.sources.Layouts.minhashIndex(
        t(s, dir, "documents").where(col("doc_id") % 3 === 0), out,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** Copy a staged index directory's contents into `to` (an existing
    * empty scratch dir) — the cheap fork that lets lifecycle stagings
    * share one template build and still mutate independently.
    */
  private def copyIndex(from: String, to: String, s: SparkSession): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val fs = src.getFileSystem(conf)
    fs.listStatus(src).foreach { st =>
      // hardlink fast path (Layouts.copyTree): the template's files are
      // write-once parquet, so the fork shares inodes safely and the
      // driver-side copy loop drops from a stream copy per file to one
      // link syscall each — guide §6, applied to every lifecycle staging
      graft.sources.Layouts.copyTree(fs, st.getPath,
        new org.apache.hadoop.fs.Path(s"$to/${st.getPath.getName}"), conf)
    }
  }

  /** x153 staging: the three-generation ingest index — gen-0 (the shared
    * template, copied), gen-1 probed against it and its ADMITTED (kept)
    * docs appended via [[graft.sources.Layouts.minhashAppend]]; the
    * query row then measures the gen-2 probe only.
    */
  private val stagedMinhashAppendIndex =
    new Staged("build_x153_minhash_append", "graft-mhappidx")((s, dir, out) => {
      val docs = t(s, dir, "documents")
      copyIndex(stagedMinhashGen0(s, dir), out, s)
      val g1 = docs.where(col("doc_id") % 3 === 1)
      val st1 = Dedup.incrementalDedupStaged(g1, out, "doc_id", "text",
        threshold = 0.5)
      // materialize the admitted set ONCE: left lazy, the full gen-1
      // probe (banded candidates + jaccard verify) would re-execute in
      // every job minhashAppend derives from it (range sampling + write,
      // ×3 tables — review r14)
      val kept1 = g1.join(
        st1.where(col("status") === "kept").select("doc_id"), "doc_id")
        .localCheckpoint()
      // replayed append under one batch id — the ledgered-batch retry a
      // streaming ingest loop produces; the dynamic slice overwrite makes
      // the second call a no-op. (Unlike x152's per-cell counts, this
      // probe would ABSORB duplicated index rows — semi-join + distinct —
      // so the no-op property itself is pinned at the row level by
      // DedupSpec's replay case; the gate certifies the grown-index
      // semantics either way.)
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("gen1"))
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("gen1"))
      out
    })

  /** x154 staging: IVF index with the x152 build+append lifecycle, plus a
    * POISON batch (the vec_id < 10 rows the corpus fence excludes)
    * appended under its own batch_id and then retracted via
    * [[graft.sources.Layouts.dropBatch]] — the bad-batch recovery path.
    * If the retraction leaked a single row (or deleted a legitimate one),
    * x154's per-cell-count oracle fails.
    */
  private val stagedIvfRetractIndex =
    new Staged("build_x154_ivf_retract", "graft-ivfretidx")((s, dir, out) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(stagedIvfEvenGen0(s, dir), out, s) // shared gen-0 template
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"))
      graft.sources.Layouts.ivfAppend(
        t(s, dir, "embeddings").where(col("vec_id") < 10), out,
        batchId = Some("poison"))
      graft.sources.Layouts.dropBatch(out, "poison")(s)
      out
    })

  /** x177 staging: x154's poison scenario with the poison FOLDED before
    * the retraction — the IVF leg of the fold-surviving deletion. Built
    * and appended with src_batch provenance; after
    * [[graft.sources.Layouts.ivfCompact]] folds the odd batch and the
    * poison into base, [[graft.sources.Layouts.ivfRetractFolded]] erases
    * the poison at the row level.
    */
  private val stagedIvfRetractFoldedIndex =
    new Staged("build_x177_ivf_retract_folded", "graft-ivfretfold")((s, dir, out) => {
      implicit val sp: SparkSession = s
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      graft.sources.Layouts.ivfIndex(
        e.where(col("vec_id") % 2 === 0), out, centModulo = 50,
        twoLevel = Some(false), provenance = true)
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"), provenance = true)
      graft.sources.Layouts.ivfAppend(
        t(s, dir, "embeddings").where(col("vec_id") < 10), out,
        batchId = Some("poison"), provenance = true)
      graft.sources.Layouts.ivfCompact(out)
      graft.sources.Layouts.ivfRetractFolded(out, "poison")
      out
    })

  /** x155 staging: x153's finished grown artifact (gen-0 + admitted
    * gen-1), copied, then [[graft.sources.Layouts.minhashCompact]] — the
    * periodic rebase that merges batch generations back into one sorted
    * base per table. Forking x153's artifact instead of re-running its
    * whole lifecycle (VERDICT r15 #3) also makes the build_x155 bench
    * row what it was always meant to be: the COMPACT's cost, not a
    * third copy of the gen-0 build's. The gen-2 probe row then runs
    * against the compacted index under x153's own oracle — which is
    * exactly the probe-invariance claim compaction makes.
    */
  private val stagedMinhashCompactIndex =
    new Staged("build_x155_minhash_compact", "graft-mhcpidx")((s, dir, out) => {
      copyIndex(stagedMinhashAppendIndex(s, dir), out, s)
      graft.sources.Layouts.minhashCompact(out,
        groupBytes = 256L * 1024, pageRows = 2000)(s)
      out
    })

  /** x156 staging: the x152 build+append lifecycle followed by
    * [[graft.sources.Layouts.ivfCompact]] — the rebase that merges each
    * cell's per-batch files into one. The audit query then reads the
    * COMPACTED lists under x152's full-assignment oracle.
    */
  private val stagedIvfCompactIndex =
    new Staged("build_x156_ivf_compact", "graft-ivfcpidx")((s, dir, out) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(stagedIvfEvenGen0(s, dir), out, s) // shared gen-0 template
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"))
      graft.sources.Layouts.ivfCompact(out)(s)
      out
    })

  /** Shared gen-0 POSTING index TEMPLATE over the even corpus half —
    * the [[stagedMinhashGen0]] pattern
    * (VERDICT r15 #3) applied to the posting lifecycle family (r19
    * optimization round): x157 append+rebase, x164 retract and x167
    * managed-rebase all start from this exact index; before this each
    * ran the identical even-half trigram explode build. Lifecycles
    * hardlink-fork it ([[copyIndex]]) and mutate their copy.
    */
  private val stagedPostingEvenGen0 =
    new Staged("posting_even_gen0_template", "graft-postg0")((s, dir, out) => {
      graft.sources.Layouts.postingIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0),
        out, groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x157 staging: posting index over the even half (the shared
    * [[stagedPostingEvenGen0]] template, forked), odd half appended
    * twice under one batch id ([[graft.sources.Layouts.postingAppend]]),
    * then rebased via [[graft.sources.Layouts.sortedRebase]] — the whole
    * posting maintenance lifecycle in one staged artifact.
    */
  private val stagedPostingAppendIndex =
    new Staged("build_x157_posting_append", "graft-postappidx")((s, dir, out) => {
      val docs = t(s, dir, "documents")
      copyIndex(stagedPostingEvenGen0(s, dir), out, s)
      val odd = docs.where(col("doc_id") % 2 === 1)
      graft.sources.Layouts.postingAppend(odd, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("odd"))
      graft.sources.Layouts.postingAppend(odd, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("odd"))
      graft.sources.Layouts.sortedRebase(out, Seq("tri"),
        groupBytes = 256L * 1024, pageRows = 2000)(s)
      out
    })

  /** x159 staging: x153's grown lifecycle — gen-0 forked from the shared
    * template, gen-1 probed + admitted append, then
    * [[graft.sources.Layouts.minhashCompact]], which folds into a NEW
    * generation dir and publishes the pointer (v0 → v1).
    */
  private val stagedManagedCompactIndex =
    new Staged("build_x159_managed_compact", "graft-mhmgidx")((s, dir, out) => {
      copyIndex(stagedMinhashGen0(s, dir), out, s)
      val docs = t(s, dir, "documents")
      val g1 = docs.where(col("doc_id") % 3 === 1)
      val st1 = Dedup.incrementalDedupStaged(g1, out, "doc_id", "text",
        threshold = 0.5)
      val kept1 = g1.join(
        st1.where(col("status") === "kept").select("doc_id"), "doc_id")
        .localCheckpoint()
      // caller-named batch id (not stream-shaped), so the compact FOLDS
      // it — the probe then exercises the fully generational fold, not
      // just a slice carry-over
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("gen1"))
      graft.sources.Layouts.minhashCompact(out,
        groupBytes = 256L * 1024, pageRows = 2000)(s)
      out
    })

  /** x160 staging: the x158 streaming admit loop over the shared gen-0,
    * with [[graft.sources.Layouts.minhashCompact]] fired BETWEEN
    * the two micro-batches while the streaming query stays live — the
    * no-quiesce maintenance story end to end. Returns the ledger path.
    */
  private val stagedStreamAdmitCompactLedger =
    new Staged("build_x160_stream_admit_compact", "graft-sadmcp")((s, dir, base) => {
      val docs = t(s, dir, "documents")
      val idx = s"$base/idx"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      copyIndex(stagedMinhashGen0(s, dir), idx, s)
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val cols = graft.streaming.StreamDedup.docSchema.fieldNames.map(col)
      val q = graft.streaming.StreamDedup.ingestAdmitLoop(
        s, in, idx, s"$base/ledger", s"$base/ckpt",
        groupBytes = 256L * 1024, pageRows = 2000)
      try {
        landFeedFile(docs.where(col("doc_id") % 3 === 1).select(cols: _*),
          s"$base/stage1", in, "g1")
        q.processAllAvailable()
        // compact the LIVE stream's index between batches: the query is
        // started, its checkpoint open — no quiesce needed
        graft.sources.Layouts.minhashCompact(idx,
          groupBytes = 256L * 1024, pageRows = 2000)(s)
        landFeedFile(docs.where(col("doc_id") % 3 === 2).select(cols: _*),
          s"$base/stage2", in, "g2")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** x161 staging: x153's grown artifact forked, then a POISON batch —
    * the gen-2 probe docs themselves — appended under its own batch id
    * and retracted via [[graft.sources.Layouts.dropBatch]]: the MinHash
    * side of x154's recovery path. Using the probe docs as the poison
    * makes a leak maximally visible: one surviving poison row and the
    * gen-2 probe classifies that doc as an exact dup of itself.
    */
  private val stagedMinhashRetractIndex =
    new Staged("build_x161_minhash_retract", "graft-mhretidx")((s, dir, out) => {
      copyIndex(stagedMinhashAppendIndex(s, dir), out, s)
      val g2 = t(s, dir, "documents").where(col("doc_id") % 3 === 2)
      graft.sources.Layouts.minhashAppend(g2, out,
        groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("poison"))
      graft.sources.Layouts.dropBatch(out, "poison")(s)
      out
    })

  /** x176 staging: x161's poison scenario with the poison FOLDED before
    * the retraction — the case dropBatch cannot recover (the fold erased
    * the slice dirs). The index is built AND appended with src_batch
    * provenance from birth; after the managed compact folds gen-1 and
    * the poison into base, [[graft.sources.Layouts.minhashRetractFolded]]
    * re-folds the generation without the poison's rows. Probing with the
    * poison docs themselves keeps a leak maximally visible (one
    * surviving row → self-dup), and the per-(fp, src_batch) fold dedup
    * keeps a fingerprint shared with base alive through the retraction
    * (one over-deleted row → a true dup reads kept).
    */
  private val stagedMinhashRetractFoldedIndex =
    new Staged("build_x176_minhash_retract_folded", "graft-mhretfold")((s, dir, out) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      graft.sources.Layouts.minhashIndex(docs.where(col("doc_id") % 3 === 0),
        out, groupBytes = 256L * 1024, pageRows = 2000, provenance = true)
      val g1 = docs.where(col("doc_id") % 3 === 1)
      val st1 = graft.operators.Dedup.incrementalDedupStaged(
        g1, out, "doc_id", "text", 0.5)
      val kept1 = g1.join(
        st1.where(col("status") === "kept").select("doc_id"), "doc_id")
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = 256L * 1024, pageRows = 2000,
        batchId = Some("gen1"), provenance = true)
      graft.sources.Layouts.minhashAppend(
        docs.where(col("doc_id") % 3 === 2), out,
        groupBytes = 256L * 1024, pageRows = 2000,
        batchId = Some("poison"), provenance = true)
      graft.sources.Layouts.minhashCompact(out,
        groupBytes = 256L * 1024, pageRows = 2000)
      graft.sources.Layouts.minhashRetractFolded(out, "poison",
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x162 staging: the x152 build+append lifecycle — flat-assignment
    * build over the even half, odd half appended, then
    * [[graft.sources.Layouts.ivfCompact]], which folds into a new
    * generation and publishes the pointer (the no-quiesce maintenance
    * path the serving stream needs).
    */
  private val stagedIvfManagedCompactIndex =
    new Staged("build_x162_ivf_managed_compact", "graft-ivfmgidx")((s, dir, out) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(stagedIvfEvenGen0(s, dir), out, s) // shared gen-0 template
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"))
      graft.sources.Layouts.ivfCompact(out)(s)
      out
    })

  /** x163 staging: the Z-order (Morton) layout over lineitem's price ×
    * quantity plane, written via
    * [[graft.sources.Layouts.zordered]]. Fine row-group/page granularity
    * at fixture scale so a rectangle predicate has files and pages to
    * prune on BOTH columns (LayoutsSpec pins the actual pruning; the x163
    * catalog probe pins row preservation + the Morton arithmetic under
    * the driver's DuckDB oracle).
    */
  private val stagedZorderLayout =
    new Staged("build_x163_zorder", "graft-zorder")((s, dir, out) => {
      graft.sources.Layouts.zordered(t(s, dir, "lineitem"), out,
        "l_extendedprice", "l_quantity",
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x164 staging: the posting index's RETRACTION path — built over the
    * even corpus half, the odd half appended as its own batch slice, then
    * the whole slice retracted via [[graft.sources.Layouts.dropBatch]]
    * (x154/x161's recovery story on the third index family). The probe
    * then expects EXACTLY the even-half search results: a surviving odd
    * posting (retraction leaked) adds candidates, a damaged base slice
    * (retraction over-deleted) loses them — either fails the gate.
    */
  private val stagedPostingRetractIndex =
    new Staged("build_x164_posting_retract", "graft-postretr")((s, dir, out) => {
      val docs = t(s, dir, "documents")
      copyIndex(stagedPostingEvenGen0(s, dir), out, s) // shared gen-0
      graft.sources.Layouts.postingAppend(docs.where(col("doc_id") % 2 === 1),
        out, groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("odd"))
      val n = graft.sources.Layouts.dropBatch(out, "odd")(s)
      require(n == 1, s"posting retract expected to drop 1 slice, dropped $n")
      out
    })

  /** x167 staging: x157's posting lifecycle — even half (the shared
    * template), odd half appended (lands sealed in the current
    * generation), then [[graft.sources.Layouts.sortedRebase]], which
    * folds into a new generation and publishes the pointer (v0 → v1).
    */
  private val stagedPostingManagedIndex =
    new Staged("build_x167_posting_managed", "graft-postmgidx")((s, dir, out) => {
      val docs = t(s, dir, "documents")
      copyIndex(stagedPostingEvenGen0(s, dir), out, s) // shared gen-0
      graft.sources.Layouts.postingAppend(docs.where(col("doc_id") % 2 === 1),
        out, groupBytes = 256L * 1024, pageRows = 2000, batchId = Some("odd"))
      graft.sources.Layouts.sortedRebase(out, Seq("tri"),
        groupBytes = 256L * 1024, pageRows = 2000)(s)
      out
    })

  /** x168 staging: the ANN serving stream ([[graft.streaming.StreamAnn]])
    * kept LIVE across the index's own maintenance — batch 0 served
    * against the even-built managed IVF index, then `ivfAppend` (odd
    * half) + `ivfCompact` (generational fold + pointer publish) fire
    * while the streaming query stays up, then batch 1 is served against
    * the grown index through the new generation. Returns the ledger path.
    */
  private val stagedStreamAnnCompactLedger =
    new Staged("build_x168_stream_ann_compact", "graft-sanncp")((s, dir, base) => {
      val em = t(s, dir, "embeddings")
      val e = em.where(col("vec_id") >= 20)
      val idx = s"$base/idx"
      graft.sources.Layouts.ivfIndex(e.where(col("vec_id") % 2 === 0), idx,
        centModulo = 50, twoLevel = Some(false))
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val q = graft.streaming.StreamAnn.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try {
        landFeedFile(em.where(col("vec_id") < 10), s"$base/stage0", in, "q0")
        q.processAllAvailable()
        // maintenance fires with the serving stream LIVE: the append
        // lands a sealed slice, the compact folds into a new generation
        // and publishes the pointer batch 1's probe then resolves
        graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1),
          idx, batchId = Some("odd"))
        graft.sources.Layouts.ivfCompact(idx)(s)
        landFeedFile(em.where(col("vec_id") >= 10 && col("vec_id") < 20),
          s"$base/stage1", in, "q1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** x172 staging: orders written as Hive-style partition directories on
    * o_orderpriority via [[graft.sources.Layouts.hivePartitioned]] — the
    * coarsest pruning tier.
    */
  private val stagedHiveLayout =
    new Staged("build_x172_hive_layout", "graft-hivepart")((s, dir, out) => {
      graft.sources.Layouts.hivePartitioned(
        t(s, dir, "orders"), out, "o_orderpriority")
      out
    })

  /** Banded SimHash index rows: 4 disjoint 16-bit bands of the 64-bit
    * signature — Hamming ≤ 3 flips at most 3 bands (pigeonhole), so an
    * equi-join on (band_no, band_val) is a lossless candidate filter,
    * x08's banding persisted as an INDEX table instead of recomputed
    * per run. All four bands are masked (unlike x08's in-flight last
    * band) so the index value is sign-independent and replayable.
    */
  private def simhashBandRows(docs: DataFrame): DataFrame =
    graft.operators.Dedup.simhashBanded(docs)

  private val simhashSortCols = Seq("band_no", "band_val")

  /** x173 staging: the FOURTH manifest family, landed with ZERO new
    * protocol code (the r16 #6 engine's point): a banded-SimHash
    * near-dup index as a generic managed sorted table. Lifecycle
    * exercised end-to-end: build base (evens,
    * [[graft.sources.Layouts.sortedTable]]) → sealed append (doc_id%4==1) → managed sortedRebase (fold into a new
    * generation) → second append (%4==3) left as a live slice. The x173
    * probe then reads base+folded+live through one manifest resolve.
    */
  private val stagedSimhashIndex =
    new Staged("build_x173_simhash_index", "graft-shidx")((s, dir, out) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      graft.sources.Layouts.sortedTable(
        simhashBandRows(docs.where(col("doc_id") % 2 === 0)), out,
        simhashSortCols, groupBytes = 256L * 1024, pageRows = 2000,
        partitions = 1)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 1)), out,
        simhashSortCols, groupBytes = 256L * 1024, pageRows = 2000,
        batchId = Some("g1"))
      graft.sources.Layouts.sortedRebase(out, simhashSortCols,
        groupBytes = 256L * 1024, pageRows = 2000)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 3)), out,
        simhashSortCols, groupBytes = 256L * 1024, pageRows = 2000,
        batchId = Some("g3"))
      out
    })

  /** x174 staging: fold-surviving retraction. Same banded-SimHash family
    * built WITH row provenance from birth (src_batch), two appends
    * FOLDED into base by a managed rebase — their slice dirs are gone —
    * then [[graft.sources.Layouts.retractFolded]] erases batch g1 at the
    * ROW level: the deletion shape dropBatch cannot express once
    * compaction has run, i.e. the GDPR path at 100 TB where compaction
    * is continuous.
    */
  private val stagedProvenanceRetract =
    new Staged("build_x174_provenance_retract", "graft-shretract")((s, dir, out) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      graft.sources.Layouts.sortedTable(
        simhashBandRows(docs.where(col("doc_id") % 2 === 0)), out,
        simhashSortCols, groupBytes = 256L * 1024, pageRows = 2000,
        partitions = 1, provenance = true)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 1)), out,
        simhashSortCols, groupBytes = 256L * 1024, pageRows = 2000,
        batchId = Some("g1"), provenance = true)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 3)), out,
        simhashSortCols, groupBytes = 256L * 1024, pageRows = 2000,
        batchId = Some("g3"), provenance = true)
      graft.sources.Layouts.sortedRebase(out, simhashSortCols,
        groupBytes = 256L * 1024, pageRows = 2000)
      graft.sources.Layouts.retractFolded(out, "g1", simhashSortCols,
        groupBytes = 256L * 1024, pageRows = 2000)
      out
    })

  /** x169 staging: the hourly aggregation run in APPEND mode against a
    * parity-split feed — batch 1 re-spans the whole month, so all but its
    * last ~2 h of events arrive behind batch 0's watermark and must be
    * evicted. The third landing is one synthetic event 10 h past the
    * corpus horizon: it pushes the final watermark over every REAL hour
    * window so the append sink flushes them all (its own window stays
    * open and never emits); the extra drain lets the no-data
    * watermark-advance batch run (the EventsStreamSpec timeout pattern).
    */
  private val stagedLateDropLedger =
    new Staged("build_x169_stream_late_drop", "graft-slate")((s, dir, base) => withStatePartitions(s, 4) {
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val raw = t(s, dir, "events")
      val q = graft.streaming.EventsStream.hourly(
        graft.streaming.EventsStream.readEvents(s, in))
        .writeStream.format("parquet")
        .option("path", s"$base/ledger")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try {
        landFeedFile(eventsFeedOf(raw.where(col("user_id") % 2 === 0)),
          s"$base/st0", in, "a")
        q.processAllAvailable()
        landFeedFile(eventsFeedOf(raw.where(col("user_id") % 2 === 1)),
          s"$base/st1", in, "b")
        q.processAllAvailable()
        landFeedFile(eventsFeedOf(raw.orderBy(col("ts").desc).limit(1)
          .withColumn("ts", col("ts") + lit(36000000000000L))),
          s"$base/st2", in, "c")
        q.processAllAvailable()
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** x170 staging: [[graft.streaming.StreamDedup.engineDedup]] over two
    * overlapping micro-batches (doc residues {0,1} mod 3, then {1,2}) —
    * the engine's checkpointed seen-key store must swallow batch 1's
    * residue-1 re-deliveries. Returns the ledger path.
    */
  private val stagedEngineDedupLedger =
    new Staged("build_x170_engine_dedup", "graft-sedup")((s, dir, base) => withStatePartitions(s, 4) {
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val docs = t(s, dir, "documents")
      val cols = graft.streaming.StreamDedup.docSchema.fieldNames.map(col)
      val q = graft.streaming.StreamDedup.engineDedup(
        s, in, s"$base/ledger", s"$base/ckpt")
      try {
        landFeedFile(docs.where(col("doc_id") % 3 <= 1).select(cols: _*),
          s"$base/st0", in, "b0")
        q.processAllAvailable()
        landFeedFile(docs.where(col("doc_id") % 3 >= 1).select(cols: _*),
          s"$base/st1", in, "b1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** x166 staging: [[graft.streaming.EventsStream.attribution]] — the
    * watermarked stream-stream interval join — run as a REAL Structured
    * Streaming query over a two-micro-batch file feed, its append-mode
    * parquet sink kept as the ledger the probe reads. The feed is split
    * by TIME (first half of the span, then the rest) so the 1-hour
    * watermark never classifies a feed file as late: boundary pairs stay
    * joinable because a signup is evicted only once the watermark passes
    * signup_t + the 6 h attribution window, by which point every purchase
    * it could match has already arrived (batch 1 is strictly newer).
    * That makes the streaming output EQUAL to the batch join, which is
    * what lets DuckDB replay it as the oracle.
    */
  private val stagedAttributionLedger =
    new Staged("build_x166_stream_attrib", "graft-sattrib")((s, dir, base) => withStatePartitions(s, 4) {
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      // split point on the loader-contract epoch-nano ts (one 1-row
      // driver read, like the zordered stats pair)
      val raw = t(s, dir, "events")
      val mm = raw.agg(min("ts"), max("ts")).head()
      val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val q = graft.streaming.EventsStream.attribution(
        graft.streaming.EventsStream.readEvents(s, in), windowSec = 21600L)
        .writeStream.format("parquet")
        .option("path", s"$base/ledger")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try {
        landFeedFile(eventsFeedOf(raw.where(col("ts") < mid)),
          s"$base/stage0", in, "b0")
        q.processAllAvailable()
        landFeedFile(eventsFeedOf(raw.where(col("ts") >= mid)),
          s"$base/stage1", in, "b1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** x158 staging: gen-0 index forked from the shared template, then the
    * admit loop RUNS as a real
    * Structured Streaming query — gen-1 landed and drained (engine batch
    * 0), THEN gen-2 landed and drained (batch 1): the landing order is
    * forced because the loop is order-dependent by design (gen-2 must
    * probe the index gen-1's admissions grew). Returns the ledger path.
    */
  private val stagedStreamAdmitLedger =
    new Staged("build_x158_stream_admit", "graft-sadmit")((s, dir, base) => {
      val docs = t(s, dir, "documents")
      val idx = s"$base/idx"
      // gen-0 = the shared template (VERDICT r15 #3), copied — this
      // build row then measures the streaming admit loop itself
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      copyIndex(stagedMinhashGen0(s, dir), idx, s)
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val cols = graft.streaming.StreamDedup.docSchema.fieldNames.map(col)
      val q = graft.streaming.StreamDedup.ingestAdmitLoop(
        s, in, idx, s"$base/ledger", s"$base/ckpt",
        groupBytes = 256L * 1024, pageRows = 2000)
      try {
        landFeedFile(docs.where(col("doc_id") % 3 === 1).select(cols: _*),
          s"$base/stage1", in, "g1")
        q.processAllAvailable()
        landFeedFile(docs.where(col("doc_id") % 3 === 2).select(cols: _*),
          s"$base/stage2", in, "g2")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    })

  /** The staged nodes [[graft.Bench]] times as their OWN build rows, in
    * row order (ascending by label): a deployment pays the build once per
    * corpus release and the probe per batch, so billing both to one bench
    * entry misrepresents the steady-state profile. The order decides which
    * row pays for a shared template: the first row that forces it builds
    * it. After Bench runs these, the probe queries measure probes only.
    */
  val stagedBuilds: Seq[Staged] = Seq(
    stagedPostingIndex, stagedMinhashIndex, stagedJaccardIndex, stagedIvfIndex,
    stagedIvfIndex2l, stagedIvfAppendIndex, stagedMinhashAppendIndex,
    stagedIvfRetractIndex, stagedMinhashCompactIndex, stagedIvfCompactIndex,
    stagedPostingAppendIndex, stagedStreamAdmitLedger,
    stagedManagedCompactIndex, stagedStreamAdmitCompactLedger,
    stagedMinhashRetractIndex, stagedIvfManagedCompactIndex,
    stagedZorderLayout, stagedPostingRetractIndex, stagedAttributionLedger,
    stagedPostingManagedIndex, stagedStreamAnnCompactLedger,
    stagedLateDropLedger, stagedEngineDedupLedger, stagedHiveLayout,
    stagedSimhashIndex, stagedProvenanceRetract,
    stagedMinhashRetractFoldedIndex, stagedIvfRetractFoldedIndex,
    stagedBm25Index, stagedBm25AppendIndex, stagedBm25RetractIndex,
    stagedStreamBm25Ledger, stagedBm25ManagedIndex, stagedPositionalIndex,
    stagedPositionalAppendIndex, stagedPositionalRetractIndex,
    stagedStreamDecontamLedger, stagedChunkBm25Index)

  /** One feed file = one micro-batch for the maxFilesPerTrigger=1 file
    * sources: write a 1-part parquet to a staging dir, copy the part file
    * into the feed dir under a stable name (the StreamDriftSpec landing
    * pattern, shared by the streaming bench rows).
    */
  private def landFeedFile(
      df: DataFrame, stage: String, feedDir: String, name: String): Unit =
    landStaged(stageFeedFile(df, stage), feedDir, name)

  /** Write `df` as one parquet part file in a staging dir and return that
    * file — the WRITE half of [[landFeedFile]], split out (r19) so feeds
    * that land the SAME frame under several trigger files pay the Spark
    * write job once and the per-landing cost is a file copy (the landing
    * TIME stays wherever the caller puts [[landStaged]], which is what
    * orders a micro-batch against live index maintenance).
    */
  private def stageFeedFile(df: DataFrame, stage: String): java.io.File = {
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
  }

  /** Land an already-staged part file into the feed dir under a stable
    * name — one micro-batch for the maxFilesPerTrigger=1 sources.
    */
  private def landStaged(part: java.io.File, feedDir: String, name: String): Unit =
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$feedDir/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the session default afterwards. A stateful streaming
    * query latches its STATE-STORE partition count from this conf at
    * first start (it is burned into the checkpoint), and a stream-stream
    * join keeps FOUR stores per partition — at the session's batch
    * default of 32 that is 128 store commits per trigger, and on a
    * high-latency scratch device the per-file commit overhead (~0.5 s
    * per tiny delta file on the r16 driver host) dominates the trigger
    * wall (VERDICT r16 #1: x166 p50 4.1 s, with state commitMs the bulk
    * of addBatch). Sizing state partitions to the stateful workload —
    * not inheriting the batch scan default — is the standard production
    * knob; at 100 TB ingest the same number is sized UP deliberately
    * (state volume / partition memory), never left to the scan default.
    * r18 optimization round: re-sized 8 → 4 against the measured state
    * volume (≤14 k join-state rows ≈ 3.5 MB total — one partition would
    * hold it; 4 keeps some commit/IO overlap): per-trigger state
    * commitMs 2.1–3.1 s → 0.65–0.87 s on the StreamProfile A/B, x166
    * serving wall 7.1 → 5.8 s warm, p50 unchanged-to-better.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Fixture events projected to the streaming file-source shape
    * (EventsStream.schema: ts TIMESTAMP_NTZ) — the feed the monitors read.
    */
  private def eventsFeed(s: SparkSession, dir: String): DataFrame =
    eventsFeedOf(t(s, dir, "events"))

  /** The same projection over an already-filtered slice of the raw events
    * table (the x166 staging splits the feed by TIME on the epoch-nano ts
    * before projecting).
    */
  private def eventsFeedOf(raw: DataFrame): DataFrame =
    raw.select(col("event_id"),
      expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  /** Steady-state STREAMING serving rows, timed by [[graft.Bench]] as
    * their own category next to the one-time builds (VERDICT r12 #6: the
    * streaming legs ran only under specs — now they are graded like
    * batch). Each thunk lands a small multi-file feed, runs the real
    * Structured Streaming query to completion (processAllAvailable), and
    * tears its stream down; the wall covers feed landing + stream
    * startup + every micro-batch, so the row is a round-over-round
    * comparable end-to-end serving measurement against the SAME persisted
    * artifacts the batch probes use (memoized staged indexes / in-row
    * reference tables).
    */
  val streamingBench: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // 3 micro-batches of ~1000 query vectors probed against the staged
    // x144 IVF index (already built by the build rows — this row measures
    // SERVING: per-trigger dedup + dynamic-partition-pruned cell probe +
    // idempotent ledger append)
    "stream_x144_ann_serve" -> ((s, dir) => {
      val idx = stagedIvfIndex(s, dir)
      val base = stagedScratch("graft-sann")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val queries = t(s, dir, "embeddings").where(col("vec_id") < 1000)
      // three triggers of the SAME query frame: one staged write, three
      // landings (the write job is the cost; the landing is a copy)
      val part = stageFeedFile(queries, s"$base/stage")
      (0 until 3).foreach(b => landStaged(part, in, s"q$b"))
      val q = graft.streaming.StreamAnn.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 3 micro-batches of term queries served off the staged x178 BM25
    // index (already built by the build rows — this row measures
    // lexical SERVING: per-trigger distinct-term collect + pruned
    // posting probe + idempotent ledger append), extending the serving
    // SLO suite to the lexical index family
    "stream_x178_bm25_serve" -> ((s, dir) => {
      val idx = stagedBm25Index(s, dir)
      val base = stagedScratch("graft-sbserve")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      import s.implicits._
      val queries = Seq((0L, "scan"), (1L, "merge"), (2L, "vector"),
        (3L, "filter"), (4L, "hash"), (5L, "stream"))
        .toDF("query_id", "term")
      // three triggers of the SAME query frame: one staged write, three
      // landings (see stream_x144_ann_serve)
      val part = stageFeedFile(queries, s"$base/stage")
      (0 until 3).foreach(b => landStaged(part, in, s"q$b"))
      val q = graft.streaming.StreamBm25.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 2 event micro-batches scored against the persisted PSI band
    // histogram (reference built in-row: |types|×10 rows, trivial)
    "stream_x98_psi_monitor" -> ((s, dir) => {
      val base = stagedScratch("graft-spsi")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = eventsFeed(s, dir)
      graft.streaming.StreamDrift.referenceHistogram(ev, s"$base/ref")
      (0 until 2).foreach(b =>
        landFeedFile(ev.where(col("user_id") % 2 === b), s"$base/stage$b", in, s"b$b"))
      val q = graft.streaming.StreamDrift.monitor(
        s, in, s"$base/ref", s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 3 signup/purchase micro-batches through the watermarked
    // stream-stream interval join (EventsStream.attribution) into an
    // append-mode parquet sink — the serving row for the JOIN-state
    // stream shape (the other three rows serve probe/agg state); feeds
    // land time-sliced so the watermark stays monotone like production
    "stream_x166_attrib_serve" -> ((s, dir) => withStatePartitions(s, 4) {
      val base = stagedScratch("graft-sattr2")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val raw = t(s, dir, "events")
      val mm = raw.agg(min("ts"), max("ts")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val q = graft.streaming.EventsStream.attribution(
        graft.streaming.EventsStream.readEvents(s, in), windowSec = 21600L)
        .writeStream.format("parquet")
        .option("path", s"$base/ledger")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try (0 until 3).foreach { b =>
        val from = lo + (hi - lo) * b / 3
        val until = if (b == 2) hi + 1 else lo + (hi - lo) * (b + 1) / 3
        landFeedFile(eventsFeedOf(
          raw.where(col("ts") >= from && col("ts") < until)),
          s"$base/stage$b", in, s"b$b")
        q.processAllAvailable()
      } finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 2 event micro-batches appended to the idempotent hourly ledger,
    // then the distributed two-sided CUSUM scoring pass over the
    // accumulated series — ledger build AND the scoring read both billed
    "stream_x147_cusum_monitor" -> ((s, dir) => {
      val base = stagedScratch("graft-scusum")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = eventsFeed(s, dir)
      graft.streaming.StreamDrift.referenceRate(ev, s"$base/ref")
      (0 until 2).foreach(b =>
        landFeedFile(ev.where(col("user_id") % 2 === b), s"$base/stage$b", in, s"b$b"))
      val q = graft.streaming.StreamDrift.monitorCusum(
        s, in, s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      graft.streaming.StreamDrift.cusumLedger(s, s"$base/ledger", s"$base/ref")
        .write.format("noop").mode("overwrite").save()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }))

  /** On-disk locations of the indexes staged for `dir` so far (build label
    * → scratch path) — lets [[graft.Bench]] attribute probe-side I/O by
    * reporting each index's byte size next to the probe timings.
    */
  def stagedIndexPaths(dir: String): Seq[(String, String)] =
    stagedBuilds.flatMap(b => b.path(dir).map(b.label -> _))
}
