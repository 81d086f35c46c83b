package graftbench

import java.util.SplittableRandom

/** Every input a run feeds the program, derived from `--seed` alone: the
  * lineitem generator key, the scan predicates, the document corpus, the
  * index batch split and probe terms. Generation is pure
  * Scala (the lineitem rows are produced by Spark from the seed, see
  * [[Data]]), so [[digest]] proves which inputs a run received without
  * running anything.
  */
object Inputs {

  /** A predicate in the v1 grammar, kept as a tree so the benchmark can
    * render it both for the program (`v1`) and for the independent
    * Spark SQL oracle (`sql`) without going through the program's parser.
    */
  sealed trait Pred {
    def v1: String
    def sql: String
  }
  final case class Cmp(column: String, op: String, lit: Lit) extends Pred {
    def v1: String = s"$column $op ${lit.v1}"
    def sql: String = s"$column ${if (op == "==") "=" else op} ${lit.sql}"
  }
  final case class AndP(l: Pred, r: Pred) extends Pred {
    def v1: String = s"( ${l.v1} AND ${r.v1} )"
    def sql: String = s"(${l.sql} AND ${r.sql})"
  }
  final case class OrP(l: Pred, r: Pred) extends Pred {
    def v1: String = s"( ${l.v1} OR ${r.v1} )"
    def sql: String = s"(${l.sql} OR ${r.sql})"
  }
  final case class NotP(p: Pred) extends Pred {
    def v1: String = s"NOT ( ${p.v1} )"
    def sql: String = s"(NOT ${p.sql})"
  }

  sealed trait Lit { def v1: String; def sql: String }
  /** A price literal in whole cents plus a half cent, so `>` and `>=`
    * retain the same rows and the literal always carries a '.'.
    */
  final case class Price(cents: Long) extends Lit {
    def v1: String = f"${cents / 100}%d.${cents % 100}%02d5" // e.g. 1234.565
    def sql: String = s"${v1}D"
  }
  final case class Day(epochDay: Long) extends Lit {
    private def date = java.time.LocalDate.ofEpochDay(epochDay)
    def v1: String = s"$date-00:00:00"
    def sql: String = s"TIMESTAMP '$date 00:00:00'"
  }
  final case class Word(s: String) extends Lit {
    def v1: String = s
    def sql: String = s"'$s'"
  }

  /** l_extendedprice is uniform over [MinCents, MaxCents) cents. */
  val MinCents = 90000L
  val MaxCents = 10500000L
  /** l_shipdate is uniform over DayCount days from FirstDay. */
  val FirstDay: Long = java.time.LocalDate.of(1995, 1, 2).toEpochDay
  val DayCount = 2499L
  val Flags: Seq[String] = Seq("A", "N", "R")

  /** Aggregates every v1 query computes (the paper's five). */
  val Aggs: Seq[(String, String)] = Seq(
    "SUM" -> "l_extendedprice", "AVG" -> "l_quantity", "MIN" -> "l_discount",
    "MAX" -> "l_tax", "COUNT" -> "l_extendedprice")

  /** The 30-word vocabulary of the document corpus; near-duplicate copies
    * also carry the marker word `dup`, so probes draw from 31 terms.
    */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Terms: Seq[String] = Vocab :+ "dup"

  final case class Doc(id: Long, text: String, part: Int)

  final case class Probe(terms: Seq[String], champions: Boolean)

  final case class Scan(rows: Long, dataSeed: Long, preds: IndexedSeq[Pred])
  final case class Index(docs: IndexedSeq[Doc], batches: Int,
      probes: IndexedSeq[Probe], served: IndexedSeq[Seq[String]])

  /** Row counts at scale `sf`: lineitem is 6M·sf rows (600k at sf0.1);
    * the corpus is 5000 docs at sf0.1 and 500 at sf0.001, like the
    * project's own fixtures.
    */
  def lineitemRows(sf: Double): Long = math.round(6000000L * sf)
  def docCount(sf: Double): Int = math.max(100, math.round(5000 * math.sqrt(sf / 0.1)).toInt)

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Stratified retention tiers: tier i of n is drawn from [i/n, (i+1)/n),
    * so every seed covers 0–100 % evenly and only the jitter differs.
    */
  private def tiers(r: SplittableRandom, n: Int): IndexedSeq[Double] =
    (0 until n).map(i => (i + r.nextDouble()) / n)

  /** Price threshold below which a fraction `q` of rows lies. */
  private def priceAt(q: Double): Price =
    Price(MinCents + math.round(q * (MaxCents - MinCents)))

  private def dayAt(q: Double): Day = Day(FirstDay + math.round(q * DayCount))

  /** Eight predicate forms — one comparison per operator family, both
    * connectives, NOT, and the datetime and string-equality literals —
    * each retaining roughly `keep` of the rows.
    */
  private def predicate(form: Int, keep: Double, r: SplittableRandom): Pred = {
    val p = "l_extendedprice"
    form match {
      case 0 => Cmp(p, ">", priceAt(1 - keep))
      case 1 => Cmp(p, "<=", priceAt(keep))
      case 2 =>
        val lo = r.nextDouble() * (1 - keep)
        AndP(Cmp(p, ">=", priceAt(lo)), Cmp(p, "<", priceAt(lo + keep)))
      case 3 =>
        val lo = r.nextDouble() * keep
        OrP(Cmp(p, "<", priceAt(lo)), Cmp(p, ">", priceAt(lo + 1 - keep)))
      case 4 => NotP(Cmp(p, ">", priceAt(keep)))
      case 5 =>
        val d = 0.5 * r.nextDouble()
        AndP(Cmp(p, ">", priceAt(1 - math.min(1.0, keep / (1 - d)))),
          Cmp("l_shipdate", ">=", dayAt(d)))
      case 6 =>
        AndP(Cmp(p, "<=", priceAt(math.min(1.0, keep * 3))),
          Cmp("l_returnflag", "==", Word(Flags(r.nextInt(Flags.size)))))
      case _ =>
        OrP(Cmp("l_shipdate", "<", dayAt(keep * r.nextDouble())),
          Cmp(p, ">", priceAt(1 - keep)))
    }
  }

  val PredicateForms = 8

  /** Tier i gets form i mod 8, so each form is asked once in the low half
    * and once in the high half of the retention range; the seed moves
    * every threshold within its tier, picks the forms' other literals,
    * and orders the predicates.
    */
  def scan(seed: Long, sf: Double, predicates: Int = 2 * PredicateForms): Scan = {
    val r = rng(seed, 1)
    val preds = tiers(r, predicates).zipWithIndex.map { case (k, i) => predicate(i % PredicateForms, k, r) }
    Scan(lineitemRows(sf), r.nextLong(), shuffled(r, preds))
  }

  private def shuffled[A](r: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** The corpus: uniform words, 10–80 per doc; about one doc in twelve is
    * a near-duplicate of an earlier one (two words replaced, `dup`
    * appended), so the 31st term `dup` has a short posting list beside
    * the 30 long ones.
    */
  def corpus(seed: Long, sf: Double): IndexedSeq[Seq[String]] = {
    val r = rng(seed, 2)
    val n = docCount(sf)
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    for (i <- 0 until n) {
      if (i > 10 && r.nextInt(12) == 0) {
        val src = out(r.nextInt(i))
        val mutated = src.toArray
        for (_ <- 0 until 2) mutated(r.nextInt(mutated.length)) = Vocab(r.nextInt(Vocab.size))
        out += (mutated.toSeq :+ "dup")
      } else out += Seq.fill(10 + r.nextInt(71))(Vocab(r.nextInt(Vocab.size)))
    }
    out.toIndexedSeq
  }

  /** Skewed term draw: term rank k is picked with weight 1/(k+1). */
  private def skewedTerms(r: SplittableRandom, order: IndexedSeq[String], n: Int): Seq[String] = {
    val w = order.indices.map(k => 1.0 / (k + 1))
    val total = w.sum
    def one(): String = {
      var x = r.nextDouble() * total
      var k = 0
      while (k < w.size - 1 && x >= w(k)) { x -= w(k); k += 1 }
      order(k)
    }
    Iterator.continually(one()).distinct.take(n).toSeq.sorted
  }

  /** Half the corpus is the set-up base (part -1); the rest is split into
    * `batches` append batches. Probe and served terms come from a skewed
    * draw over the 31 terms in a seed-chosen order.
    */
  def index(seed: Long, sf: Double, batches: Int = 16, probes: Int = 64): Index = {
    val r = rng(seed, 3)
    val words = corpus(seed, sf)
    val parts = words.indices.map(_ => if (r.nextBoolean()) -1 else r.nextInt(batches))
    val docs = words.indices.map(i => Doc(i.toLong, words(i).mkString(" "), parts(i)))
    val order = shuffled(r, Terms.toIndexedSeq)
    // plain and champion probes alternate; term counts cycle 1, 2, 3
    val ps = (0 until probes).map(i =>
      Probe(skewedTerms(r, order, 1 + i / 2 % 3), champions = i % 2 == 1))
    val served = (0 until probes / 4).map(_ => skewedTerms(r, order, 1 + r.nextInt(3)))
    Index(docs, batches, ps, served)
  }

  /** Hex SHA-256 of the inputs' canonical rendering. */
  def digest(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def digestOf(s: Scan): String =
    digest(Seq("scan", s.rows.toString, s.dataSeed.toString) ++ s.preds.map(_.v1))

  def digestOf(i: Index): String =
    digest(Seq("index", i.batches.toString) ++ i.docs.map(d => s"${d.id}|${d.part}|${d.text}") ++
      i.probes.map(p => s"${p.champions}|${p.terms.mkString(",")}") ++
      i.served.map(_.mkString(",")))
}
