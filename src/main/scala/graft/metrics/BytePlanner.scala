package graft.metrics

import graft.functions.Predicates
import graft.functions.Predicates._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import scala.jdk.CollectionConverters._

/** Metadata-only byte planning — the v2 engine re-expressed
  * (/root/reference/v2/src/main.rs): parse footers (S1/S2), prune row
  * groups against column min/max statistics with the v1 `keep_row_group`
  * interval logic incl. NOT via a carried De Morgan flag
  * (v1/src/main.rs:626-798), then report the byte ranges a scan would have
  * to read (S5): surviving column chunks (projected columns only) plus the
  * footer. Missing statistics or unsupported types keep the group
  * (conservative, exactly like the reference).
  *
  * This is the scan-cost observable Spark's task metrics can't provide
  * reliably on local files, and the direct analog of the reference's
  * "bytes read / selectivity" headline numbers.
  */
object BytePlanner {
  import RangedReader.ByteRange

  /** One file's planned scan. `ranges` are the byte ranges a pruned scan
    * reads, in file order and not yet coalesced: every surviving chunk of
    * a wanted column, then the footer (length word + magic included, S1).
    */
  final case class FilePlan(
      path: String,
      fileBytes: Long,
      footerBytes: Long,
      rowGroups: Int,
      survivingGroups: Int,
      ranges: Seq[ByteRange]) {
    def plannedBytes: Long = ranges.map(_.length).sum
  }

  final case class Plan(files: Seq[FilePlan]) {
    def totalBytes: Long = files.map(_.fileBytes).sum
    def plannedBytes: Long = files.map(_.plannedBytes).sum
    def rowGroups: Int = files.map(_.rowGroups).sum
    def survivingGroups: Int = files.map(_.survivingGroups).sum
    /** Fraction of the physical bytes a pruned scan must read. */
    def selectivity: Double = if (totalBytes == 0) 0.0 else plannedBytes.toDouble / totalBytes
  }

  /** Plan a scan of `columns` (empty ⇒ all) under the reference-grammar
    * `predicate` over one parquet file or a directory of them. Footers
    * come from [[footers]]: a file's footer is parsed once per file
    * version, and a warm plan opens no file.
    * `floatEpsilonEq` opts into v1's F6 behavior
    * (v1/src/main.rs:711-756): the NEGATED float Equal prunes a group
    * when min and max are both within machine epsilon of the literal —
    * per stat width, f32::EPSILON in f32 arithmetic for FLOAT columns
    * and f64::EPSILON for DOUBLE (v1/src/main.rs:716-731) — slightly
    * LOSSY (a row differing from the literal by less than one ulp
    * satisfies `NOT (c == v)` yet its group is dropped), which is why
    * exact-compare pruning is the default and the flag exists for
    * reference-exact ablation only.
    *
    * `truncStringStats` (0 = off/exact) opts into v2's stats-cache
    * divergence (v2/src/main.rs:291-298,378-386,601-609,931-936): v2
    * caches only the first 8 bytes of BINARY min/max in a u64 and
    * compares the FULL literal against those truncated bounds (lossy
    * UTF-8 decode, trailing-NUL trim). The truncated max UNDERESTIMATES
    * the true max, so `>`/`>=`/`==` against a literal sharing the
    * 8-byte prefix can wrongly prune a group that contains matches.
    * Like F6 this is a reference-exact ablation, never the default; the
    * cache keeps the exact bounds and truncates when comparing.
    */
  def plan(
      path: String,
      columns: Seq[String],
      predicate: Option[String],
      floatEpsilonEq: Boolean = false,
      truncStringStats: Int = 0): Plan = {
    val expr = predicate.map(Predicates.parse)
    lazy val conf = new Configuration() // made on the first miss, shared by the rest
    Plan(listParquet(new java.io.File(path)).map { file =>
      val (v, footer) = footers.get(file, conf)
      filePlan(file, v.size, footer, columns, g => expr.forall(e =>
        keepRowGroup(e, footer.stats(g), not = false, floatEpsilonEq, truncStringStats)))
    })
  }

  // the one listing behind every planner entry point, which RangedReader
  // and tools.V2Runner reach through `plan`, so they can never disagree
  // about which files a path means
  private[metrics] def listParquet(f: java.io.File): Seq[String] =
    if (f.isDirectory)
      // recursive: partition-directory layouts (hivePartitioned tables,
      // the batch_id-sliced index generations of round 15) keep their
      // leaf files one or two levels down; a flat listing would plan a
      // 0-file scan and report vacuous pruning
      f.listFiles().toSeq.flatMap { c =>
        if (c.isDirectory) listParquet(c)
        else if (c.getName.endsWith(".parquet")) Seq(c.getPath)
        else Nil
      }.sorted
    else Seq(f.getPath)

  /** The surviving chunks of the wanted columns plus the footer, for the
    * row groups `keep` accepts.
    */
  private def filePlan(
      file: String,
      fileBytes: Long,
      footer: Footer,
      columns: Seq[String],
      keep: Int => Boolean): FilePlan = {
    val wanted = footer.columns.indices
      .filter(c => columns.isEmpty || columns.contains(footer.columns(c)))
    val surviving = footer.groups.indices.filter(keep)
    val chunks = for (g <- surviving; c <- wanted; ch = footer.groups(g)(c))
      yield ByteRange(ch.start, ch.size)
    val footerBytes = footer.footerLen + 8L
    FilePlan(file, fileBytes, footerBytes, footer.groups.size, surviving.size,
      chunks :+ ByteRange(fileBytes - footerBytes, footerBytes))
  }

  /** Trailer parse, byte-for-byte what the reference does (S1,
    * v1/src/main.rs:340-358): seek EOF−8, 4-byte LE footer length, `PAR1`.
    */
  def readFooterLength(file: String): Long = {
    val raf = new java.io.RandomAccessFile(file, "r")
    try {
      raf.seek(raf.length() - 8)
      val b = new Array[Byte](8)
      raf.readFully(b)
      require(b(4) == 'P' && b(5) == 'A' && b(6) == 'R' && b(7) == '1',
        s"not a parquet file (bad magic): $file")
      (b(0) & 0xffL) | ((b(1) & 0xffL) << 8) | ((b(2) & 0xffL) << 16) | ((b(3) & 0xffL) << 24)
    } finally raf.close()
  }

  // ---- the footer-stats cache (the reference loads every footer into a
  // compact stats cache before its query loop, v2/src/main.rs:225-398)

  /** A file as of one write: a rewrite or replacement changes its size,
    * its mtime or its file key (the inode on Linux).
    */
  private[graft] final case class FileVersion(path: String, size: Long, mtime: FileTime, key: AnyRef)

  private[graft] def version(file: String): FileVersion = {
    val a = Files.readAttributes(Paths.get(file), classOf[BasicFileAttributes])
    FileVersion(file, a.size, a.lastModifiedTime, a.fileKey)
  }

  /** One column chunk as cached: its byte range, its column's type and
    * its exact min/max (both null when the chunk has no usable stats).
    */
  private[metrics] final case class Chunk(start: Long, size: Long, tpe: PrimitiveType, min: Any, max: Any)

  /** One file's footer as cached: the footer length, the column paths in
    * schema order, and `groups(g)(c)`, row group g's chunk of column c.
    */
  private[metrics] final case class Footer(
      footerLen: Long,
      columns: IndexedSeq[String],
      groups: IndexedSeq[IndexedSeq[Chunk]]) {
    private lazy val ordinal = columns.zipWithIndex.toMap
    def stats(g: Int): String => Option[Chunk] = c => ordinal.get(c).map(groups(g)(_))

    /** Heap estimate: per column its path and map entry, per chunk the
      * object, two boxed bounds and its array slot, plus BINARY bounds.
      */
    def estBytes: Long = 256L + columns.map(64L + 2L * _.length).sum +
      groups.map(_.map(ch => 80L + (ch.min match {
        case b: Binary => 2L * (b.length + 40)
        case _ => 0L
      })).sum).sum
  }

  private[metrics] object Footer {
    def of(meta: ParquetMetadata, footerLen: Long): Footer = {
      val blocks = meta.getBlocks.asScala.toIndexedSeq
      def exact(a: Any): Any = a match {
        case b: Binary => Binary.fromConstantByteArray(b.getBytes) // own, exact-length copy
        case x => x
      }
      Footer(footerLen,
        blocks.headOption.toIndexedSeq.flatMap(_.getColumns.asScala.map(_.getPath.toDotString)),
        blocks.map(_.getColumns.asScala.toIndexedSeq.map { c =>
          val s: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
          val has = s != null && s.hasNonNullValue
          Chunk(c.getStartingPos, c.getTotalSize, c.getPrimitiveType,
            if (has) exact(s.genericGetMin) else null, if (has) exact(s.genericGetMax) else null)
        }))
    }
  }

  /** Driver-side footer cache, keyed by path. Every lookup stats the file
    * and compares its [[FileVersion]], so a rewritten or replaced file
    * misses and no plan is made from a stale footer. Bounded by the
    * entries' estimated bytes; least recently used entries go first.
    * Thread-safe: concurrent misses on one file may both parse it.
    */
  private[metrics] final class FooterCache(maxBytes: Long) {
    private val entries = new java.util.LinkedHashMap[String, (FileVersion, Footer)](16, 0.75f, true)
    private var bytes = 0L
    private val missCount = new java.util.concurrent.atomic.AtomicLong

    def get(file: String, conf: => Configuration): (FileVersion, Footer) = {
      val v = version(file)
      synchronized(Option(entries.get(file))).filter(_._1 == v).getOrElse {
        missCount.incrementAndGet()
        val footer = parse(file, conf)
        // a file replaced while it was parsed is parsed again: an entry's
        // version must be the one its footer was read from
        if (version(file) != v) get(file, conf)
        else synchronized {
          Option(entries.put(file, (v, footer))).foreach(old => bytes -= old._2.estBytes)
          bytes += footer.estBytes
          val eldest = entries.values.iterator
          while (bytes > maxBytes && eldest.hasNext) {
            bytes -= eldest.next()._2.estBytes
            eldest.remove()
          }
          (v, footer)
        }
      }
    }

    /** Footers parsed so far, one per miss. */
    def misses: Long = missCount.get
    def estBytes: Long = synchronized(bytes)

    private def parse(file: String, conf: Configuration): Footer = {
      val reader = open(file, conf)
      try Footer.of(reader.getFooter, readFooterLength(file))
      finally reader.close()
    }
  }

  /** Bound of [[footers]]: a quarter of the heap. The estimate is ~80
    * bytes per chunk, so 100 TB of 128 MiB row groups at 16 columns needs
    * ~1.1 GB, i.e. a driver heap of ~4.5 GB (SCALING.md).
    */
  private[metrics] val FooterCacheBytes: Long = Runtime.getRuntime.maxMemory / 4

  private[metrics] val footers = new FooterCache(FooterCacheBytes)

  /** Footers parsed by [[plan]] since the JVM started; a warm plan adds 0. */
  private[graft] def footerMisses: Long = footers.misses

  /** Smallest min and largest max of numeric `column` over every row
    * group under `path`, from the cached footers; None when no group has
    * stats for it.
    */
  private[graft] def columnRange(path: String, column: String): Option[(Double, Double)] = {
    lazy val conf = new Configuration()
    val bounds = listParquet(new java.io.File(path)).flatMap { file =>
      val footer = footers.get(file, conf)._2
      footer.groups.indices.flatMap(footer.stats(_)(column))
        .collect { case ch if ch.min != null => (num(ch.min), num(ch.max)) }
    }
    if (bounds.isEmpty) None else Some((bounds.map(_._1).min, bounds.map(_._2).max))
  }

  private def open(file: String, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))

  /** [[plan]] + bloom-filter consultation (the OTHER half of the
    * reference's dead-code Feature ladder, v1/src/main.rs:387-393): an
    * equality condition on a chunk whose bloom filter reports the value
    * definitely-absent drops the row group even when min/max can't —
    * the case stats never catch on UNSORTED data, where every group's
    * range covers every point probe. No false negatives in the filter ⇒
    * pruning stays sound; non-equality ops and missing filters fall back
    * to stats-only. Requires the fixture written with
    * `parquet.bloom.filter.enabled#<col>` — note parquet-mr omits the
    * bloom when a chunk stays fully dictionary-encoded (the dictionary is
    * already an exact membership structure there); real key columns at
    * corpus scale overflow the dictionary and get the filter.
    * The file must be opened for its filters, so the min/max test reads
    * the footer that open parsed, in the cached form, rather than a cache
    * entry that could be of another file version.
    */
  def planBloom(path: String, columns: Seq[String], predicate: Option[String]): Plan = {
    val expr = predicate.map(Predicates.parse)
    val conf = new Configuration()
    Plan(listParquet(new java.io.File(path)).map { file =>
      val reader = open(file, conf)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toIndexedSeq
        val footer = Footer.of(reader.getFooter, readFooterLength(file))
        filePlan(file, new java.io.File(file).length(), footer, columns, { g =>
          val meta = blocks(g).getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
          val blooms = reader.getBloomFilterDataReader(blocks(g))
          expr.forall(e => keepRowGroup(e, footer.stats(g), not = false) &&
            keepBloom(e, meta, c => Option(blooms.readBloomFilter(c)), not = false))
        })
      } finally reader.close()
    })
  }

  /** De-Morgan recursion as [[keepRowGroup]], but the leaf test is a bloom
    * point probe: only an (effective) `==` can prune, everything else keeps.
    */
  private def keepBloom(
      e: Expr,
      stats: Map[String, ColumnChunkMetaData],
      bloomOf: ColumnChunkMetaData => Option[
        org.apache.parquet.column.values.bloomfilter.BloomFilter],
      not: Boolean): Boolean = e match {
    case And(l, r) =>
      if (not) keepBloom(l, stats, bloomOf, not) || keepBloom(r, stats, bloomOf, not)
      else keepBloom(l, stats, bloomOf, not) && keepBloom(r, stats, bloomOf, not)
    case Or(l, r) =>
      if (not) keepBloom(l, stats, bloomOf, not) && keepBloom(r, stats, bloomOf, not)
      else keepBloom(l, stats, bloomOf, not) || keepBloom(r, stats, bloomOf, not)
    case Not(x) => keepBloom(x, stats, bloomOf, !not)
    case Cond(c, op0, v) =>
      val op = if (not) negate(op0) else op0
      if (op != "==") true
      else (for {
        meta <- stats.get(c)
        bf <- bloomOf(meta)
        h <- hashFor(bf, meta, v)
      } yield bf.findHash(h)).getOrElse(true)
  }

  /** Bloom hash of the literal in the chunk's PHYSICAL type; None (keep) on
    * any type mismatch — hashing through the wrong width would be unsound.
    */
  private def hashFor(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      meta: ColumnChunkMetaData, v: Value): Option[Long] =
    (meta.getPrimitiveType.getPrimitiveTypeName, v) match {
      case (INT32, I64(l)) if !isTimestamp(meta.getPrimitiveType) && l.isValidInt =>
        Some(bf.hash(l.toInt))
      case (INT64, I64(l)) if !isTimestamp(meta.getPrimitiveType) => Some(bf.hash(l))
      case (DOUBLE, F64(d)) => Some(bf.hash(d))
      case (DOUBLE, I64(l)) => Some(bf.hash(l.toDouble))
      case (FLOAT, F64(d)) if d.toFloat.toDouble == d => Some(bf.hash(d.toFloat))
      case (BINARY, Str(s)) => Some(bf.hash(Binary.fromString(s)))
      case _ => None
    }

  // ---- page-index planning (F9's finer rung: the reference's Feature enum
  // stubs page-level pruning at v1/src/main.rs:387-393 as dead code; parquet
  // ColumnIndex/OffsetIndex make it real here)

  final case class PagePlan(
      path: String,
      fileBytes: Long,
      pages: Int,
      survivingPages: Int,
      plannedBytes: Long)

  final case class PagePlans(files: Seq[PagePlan]) {
    def totalBytes: Long = files.map(_.fileBytes).sum
    def plannedBytes: Long = files.map(_.plannedBytes).sum
    def pages: Int = files.map(_.pages).sum
    def survivingPages: Int = files.map(_.survivingPages).sum
    def selectivity: Double = if (totalBytes == 0) 0.0 else plannedBytes.toDouble / totalBytes
  }

  /** Sorted disjoint inclusive row intervals within one row group. */
  private type RowRanges = Seq[(Long, Long)]

  private def intersectRanges(a: RowRanges, b: RowRanges): RowRanges = {
    val out = Seq.newBuilder[(Long, Long)]
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  private def unionRanges(a: RowRanges, b: RowRanges): RowRanges = {
    val all = (a ++ b).sortBy(_._1)
    if (all.isEmpty) return all
    val out = Seq.newBuilder[(Long, Long)]
    var (curLo, curHi) = all.head
    all.tail.foreach { case (lo, hi) =>
      if (lo <= curHi + 1) curHi = math.max(curHi, hi)
      else { out += ((curLo, curHi)); curLo = lo; curHi = hi }
    }
    out += ((curLo, curHi))
    out.result()
  }

  /** Plan at data-page granularity: row groups prune as in [[plan]], then
    * inside each surviving group the predicate evaluates to surviving ROW
    * RANGES by range algebra over each condition column's ColumnIndex
    * (per-page min/max → page row ranges; AND intersects, OR unions, NOT
    * carries through by De Morgan — the same machinery parquet-mr's
    * ColumnIndexFilter applies inside a scan). The ranges project onto
    * every wanted column via its OffsetIndex; planned bytes are the
    * surviving pages' compressed sizes plus the chunk's dictionary/header
    * overhead whenever any of its pages is read, plus the footer. A
    * condition whose column lacks an index contributes "all rows"
    * (conservative); null-only pages drop — every reference comparison is
    * null-rejecting.
    */
  def planPages(path: String, columns: Seq[String], predicate: String): PagePlans = {
    val expr = Predicates.parse(predicate)
    val conf = new Configuration()
    PagePlans(listParquet(new java.io.File(path)).map(planFilePages(_, columns, expr, conf)))
  }

  private def planFilePages(
      file: String, columns: Seq[String], expr: Expr, conf: Configuration): PagePlan = {
    val reader = open(file, conf)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val footer = Footer.of(reader.getFooter, readFooterLength(file))
      val wanted: ColumnChunkMetaData => Boolean =
        if (columns.isEmpty) _ => true
        else c => columns.contains(c.getPath.toDotString)
      var pages = 0
      var survivingPages = 0
      var planned = footer.footerLen + 8L
      blocks.zipWithIndex.foreach { case (b, g) =>
        val chunks = b.getColumns.asScala.toSeq
        val stats = chunks.map(c => c.getPath.toDotString -> c).toMap
        val oiAll = chunks.filter(wanted)
          .map(c => c -> Option(reader.readOffsetIndex(c))).toMap
        pages += oiAll.valuesIterator.map(_.map(_.getPageCount).getOrElse(1)).sum
        if (keepRowGroup(expr, footer.stats(g), not = false)) {
          val rowCount = b.getRowCount
          val all: RowRanges = Seq((0L, rowCount - 1))

          /** None = "all rows" (no index usable for this subtree). */
          def ranges(e: Expr, not: Boolean): Option[RowRanges] = e match {
            case And(l, r) =>
              if (not) orOf(ranges(l, not), ranges(r, not))
              else andOf(ranges(l, not), ranges(r, not))
            case Or(l, r) =>
              if (not) andOf(ranges(l, not), ranges(r, not))
              else orOf(ranges(l, not), ranges(r, not))
            case Not(x) => ranges(x, !not)
            case Cond(c, op0, v) =>
              val op = if (not) negate(op0) else op0
              for {
                chunk <- stats.get(c)
                ci <- Option(reader.readColumnIndex(chunk))
                oi <- Option(reader.readOffsetIndex(chunk))
              } yield {
                val n = oi.getPageCount
                (0 until n).flatMap { i =>
                  val keep = !ci.getNullPages.get(i) &&
                    ((decodeBound(chunk.getPrimitiveType, ci.getMinValues.get(i)),
                      decodeBound(chunk.getPrimitiveType, ci.getMaxValues.get(i))) match {
                      case (Some(mn), Some(mx)) =>
                        keepBounds(chunk.getPrimitiveType, mn, mx, op, v)
                      case _ => true
                    })
                  if (!keep) None
                  else Some((oi.getFirstRowIndex(i),
                    if (i + 1 < n) oi.getFirstRowIndex(i + 1) - 1 else rowCount - 1))
                }
              }
          }
          def andOf(a: Option[RowRanges], b: Option[RowRanges]) = (a, b) match {
            case (Some(x), Some(y)) => Some(intersectRanges(x, y))
            case (x, None) => x
            case (None, y) => y
          }
          def orOf(a: Option[RowRanges], b: Option[RowRanges]) = (a, b) match {
            case (Some(x), Some(y)) => Some(unionRanges(x, y))
            case _ => None // either side unbounded ⇒ all rows
          }

          val surviving = ranges(expr, not = false).getOrElse(all)
          chunks.filter(wanted).foreach { c =>
            oiAll(c) match {
              case Some(o) =>
                val m = o.getPageCount
                val keptSizes = (0 until m).filter { j =>
                  val lo = o.getFirstRowIndex(j)
                  val hi = if (j + 1 < m) o.getFirstRowIndex(j + 1) - 1 else rowCount - 1
                  surviving.exists { case (a, z) => a <= hi && lo <= z }
                }.map(o.getCompressedPageSize(_).toLong)
                survivingPages += keptSizes.size
                if (keptSizes.nonEmpty) {
                  val allPages = (0 until m).map(o.getCompressedPageSize(_).toLong).sum
                  // dictionary page + headers ride along once any page reads
                  planned += keptSizes.sum + math.max(0L, c.getTotalSize - allPages)
                }
              case None =>
                survivingPages += 1
                planned += c.getTotalSize
            }
          }
        }
      }
      PagePlan(file, new java.io.File(file).length(), pages, survivingPages, planned)
    } finally reader.close()
  }

  /** Plain-encoded little-endian bound from a ColumnIndex buffer. */
  private def decodeBound(
      tpe: org.apache.parquet.schema.PrimitiveType, buf: java.nio.ByteBuffer): Option[Any] = {
    if (buf == null || buf.remaining() == 0) return None
    val b = buf.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tpe.getPrimitiveTypeName match {
      case INT32 => Some(java.lang.Integer.valueOf(b.getInt))
      case INT64 => Some(java.lang.Long.valueOf(b.getLong))
      case FLOAT => Some(java.lang.Float.valueOf(b.getFloat))
      case DOUBLE => Some(java.lang.Double.valueOf(b.getDouble))
      case BOOLEAN => Some(java.lang.Boolean.valueOf(b.get() != 0))
      case BINARY =>
        val bytes = new Array[Byte](b.remaining())
        b.get(bytes)
        Some(Binary.fromConstantByteArray(bytes))
      case _ => None
    }
  }

  /** v1 `keep_row_group` (v1/src/main.rs:626-685): true iff the group *may*
    * contain matching rows. `not` carries negation through AND/OR
    * (De Morgan) exactly like the reference's flag.
    */
  private def keepRowGroup(
      e: Expr,
      stats: String => Option[Chunk],
      not: Boolean,
      epsEq: Boolean = false,
      truncStr: Int = 0): Boolean = e match {
    case And(l, r) =>
      if (not) keepRowGroup(l, stats, not, epsEq, truncStr) ||
        keepRowGroup(r, stats, not, epsEq, truncStr)
      else keepRowGroup(l, stats, not, epsEq, truncStr) &&
        keepRowGroup(r, stats, not, epsEq, truncStr)
    case Or(l, r) =>
      if (not) keepRowGroup(l, stats, not, epsEq, truncStr) &&
        keepRowGroup(r, stats, not, epsEq, truncStr)
      else keepRowGroup(l, stats, not, epsEq, truncStr) ||
        keepRowGroup(r, stats, not, epsEq, truncStr)
    case Not(x) => keepRowGroup(x, stats, !not, epsEq, truncStr)
    case Cond(c, op, v) =>
      stats(c) match {
        case None => true // unknown column name here ⇒ conservative
        case Some(chunk) => keepCond(chunk, if (not) negate(op) else op, v, epsEq, truncStr)
      }
  }

  private def negate(op: String): String = op match {
    case "<" => ">="
    case "<=" => ">"
    case ">" => "<="
    case ">=" => "<"
    case "==" => "!="
  }

  /** Interval check against the chunk's min/max. Missing/unusable stats ⇒
    * keep. `!=` keeps unless the stats pin every value to the literal.
    * Covers the reference's full stats lattice: numeric (v1 F5), utf8
    * lexicographic (v1/src/main.rs:803-810), boolean membership (F7),
    * timestamp with logical-unit conversion. Writers may truncate string
    * stats, but parquet truncation keeps them valid bounds, so interval
    * logic stays sound.
    */
  private def keepCond(
      chunk: Chunk, op: String, v: Value, epsEq: Boolean, truncStr: Int): Boolean =
    chunk.min == null ||
      keepBounds(chunk.tpe, chunk.min, chunk.max, op, v, epsEq, truncStr)

  /** Interval check for one (min, max) bound pair — the shared kernel of
    * chunk-level [[keepCond]] and page-level [[keepPage]].
    */
  private def keepBounds(
      tpe: org.apache.parquet.schema.PrimitiveType,
      mnAny: Any, mxAny: Any, op: String, v: Value,
      epsEq: Boolean = false, truncStr: Int = 0): Boolean = {

    def interval(min: Double, max: Double, x: Double): Boolean = {
      if (min.isNaN || max.isNaN) return true // never prune on unusable stats
      op match {
        case "<" => min < x
        case "<=" => min <= x
        case ">" => max > x
        case ">=" => max >= x
        case "==" => min <= x && x <= max
        case "!=" => !(min == x && max == x)
      }
    }

    // Integer stats compare in exact i64 arithmetic (like the reference's
    // typed kernels): doubles round above 2^53, so an epoch-nano stat
    // (~1.7e18) within ~128 units of the threshold would prune wrongly.
    def intervalLong(min: Long, max: Long, x: Long): Boolean = op match {
      case "<" => min < x
      case "<=" => min <= x
      case ">" => max > x
      case ">=" => max >= x
      case "==" => min <= x && x <= max
      case "!=" => !(min == x && max == x)
    }

    (tpe.getPrimitiveTypeName, v) match {
      case (INT32 | INT64, I64(l)) if !isTimestamp(tpe) =>
        (longOf(mnAny), longOf(mxAny)) match {
          case (Some(mn), Some(mx)) => intervalLong(mn, mx, l)
          case _ => true
        }
      case (INT32 | INT64, F64(_)) if !isTimestamp(tpe) =>
        interval(num(mnAny), num(mxAny), numValue(v))
      case (FLOAT | DOUBLE, I64(_) | F64(_)) =>
        // F6 (opt-in): v1 routes floats through compare_floats, whose
        // only epsilon branch is the NEGATED Equal — prune when min and
        // max BOTH sit within machine epsilon of the literal
        // (v1/src/main.rs:729-731,746-747). The epsilon is PER STAT
        // WIDTH, computed in that width's arithmetic, exactly like the
        // reference's two Float impls (v1/src/main.rs:716-731):
        // f32::EPSILON for FLOAT stats, f64::EPSILON for DOUBLE — a
        // single f64 epsilon would make the flag a no-op on FLOAT
        // columns (f32 bounds promoted to double are never within
        // 2.2e-16 of the literal unless exactly equal).
        if (epsEq && op == "!=") {
          if (tpe.getPrimitiveTypeName == FLOAT) {
            val (mn, mx, x) = (num(mnAny).toFloat, num(mxAny).toFloat, numValue(v).toFloat)
            val eps = 1.1920929e-7f // f32::EPSILON
            if (mn.isNaN || mx.isNaN) true
            else !(math.abs(mn - x) < eps && math.abs(mx - x) < eps)
          } else {
            val (mn, mx, x) = (num(mnAny), num(mxAny), numValue(v))
            val eps = 2.220446049250313e-16 // f64::EPSILON == Math.ulp(1.0)
            if (mn.isNaN || mx.isNaN) true
            else !(math.abs(mn - x) < eps && math.abs(mx - x) < eps)
          }
        } else interval(num(mnAny), num(mxAny), numValue(v))
      case (INT64, Ts(ms)) =>
        timestampUnitScale(tpe) match {
          case Some(perMilli) =>
            // exact: epoch-millis × 1e6 < 2^63 through year ~2262
            (longOf(mnAny), longOf(mxAny)) match {
              case (Some(mn), Some(mx)) => intervalLong(mn, mx, ms * perMilli)
              case _ => true
            }
          case None => true
        }
      case (BINARY, Str(x)) =>
        (mnAny, mxAny) match {
          case (mn: Binary, mx: Binary) if truncStr > 0 =>
            // v2's stats-cache ablation — bounds are the first `truncStr`
            // bytes only, decoded the way v2 decodes its u64 cache
            // (v2/src/main.rs:378-386,931-936); the full literal still
            // compares against them (in v2's own string order),
            // reproducing the mis-prune when the true bound extends past
            // the prefix.
            val (min, max) = (truncStat(mn, truncStr), truncStat(mx, truncStr))
            op match {
              case "<" => min < x
              case "<=" => min <= x
              case ">" => max > x
              case ">=" => max >= x
              case "==" => min <= x && x <= max
              case "!=" => !(min == x && max == x)
            }
          case (mn: Binary, mx: Binary) =>
            // parquet BINARY min/max are UNSIGNED-BYTE-lexicographic; a
            // Java String compare is UTF-16 code-unit order, and the two
            // disagree exactly where UTF-8 and UTF-16 order diverge
            // (supplementary-plane chars U+10000.. sort ABOVE U+E000.. in
            // byte order but BELOW in UTF-16) — a String compare there
            // can prune a group whose rows match. Compare the literal's
            // UTF-8 bytes in the stats' own order.
            def cmp(a: Array[Byte], b: Array[Byte]): Int = {
              var i = 0
              val n = math.min(a.length, b.length)
              while (i < n) {
                val d = (a(i) & 0xff) - (b(i) & 0xff)
                if (d != 0) return d
                i += 1
              }
              a.length - b.length
            }
            val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val mnC = cmp(mn.getBytes, xb)
            val mxC = cmp(mx.getBytes, xb)
            op match {
              case "<" => mnC < 0
              case "<=" => mnC <= 0
              case ">" => mxC > 0
              case ">=" => mxC >= 0
              case "==" => mnC <= 0 && mxC >= 0
              case "!=" => !(mnC == 0 && mxC == 0)
            }
          case _ => true
        }
      case (BOOLEAN, Bool(x)) =>
        (mnAny, mxAny) match {
          case (mn: java.lang.Boolean, mx: java.lang.Boolean) =>
            op match {
              case "==" => (mn.booleanValue() == x) || (mx.booleanValue() == x)
              case "!=" => !(mn.booleanValue() == x && mx.booleanValue() == x)
              case _ => true // ranges over booleans: keep (v1 F7)
            }
          case _ => true
        }
      case _ => true
    }
  }

  /** v2's truncated stat decode (v2/src/main.rs:378-386 encode_byte_array,
    * 931-936 bytes_to_string): first `n` bytes, strict UTF-8 if they decode
    * cleanly, else lossy (replacement chars) — trailing-NUL trim is moot
    * here because we never zero-pad.
    */
  private def truncStat(b: Binary, n: Int): String = {
    val bytes = b.getBytes.take(n)
    try java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .decode(java.nio.ByteBuffer.wrap(bytes)).toString
    catch { case _: java.nio.charset.CharacterCodingException =>
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8) // lossy
    }
  }

  private def isTimestamp(t: org.apache.parquet.schema.PrimitiveType): Boolean =
    t.getLogicalTypeAnnotation
      .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]

  /** Stored units per millisecond for a timestamp column, None if not one. */
  private def timestampUnitScale(t: org.apache.parquet.schema.PrimitiveType): Option[Long] =
    t.getLogicalTypeAnnotation match {
      case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit match {
          case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1L)
          case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS => Some(1000L)
          case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS => Some(1000000L)
          case _ => None
        }
      case _ => None
    }

  private def numValue(v: Value): Double = v match {
    case I64(l) => l.toDouble
    case F64(d) => d
    case _ => Double.NaN
  }

  private def longOf(a: Any): Option[Long] = a match {
    case i: java.lang.Integer => Some(i.longValue())
    case l: java.lang.Long => Some(l.longValue())
    case _ => None
  }

  private def num(a: Any): Double = a match {
    case i: java.lang.Integer => i.toDouble
    case l: java.lang.Long => l.toDouble
    case f: java.lang.Float => f.toDouble
    case d: java.lang.Double => d
    case _ => Double.NaN
  }
}
