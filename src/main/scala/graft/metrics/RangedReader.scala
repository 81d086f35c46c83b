package graft.metrics

/** Ranged-read EXECUTOR for [[BytePlanner]] plans — the second half of the
  * v2 engine (/root/reference/v2/src/main.rs:400-499): where BytePlanner
  * reports what a pruned scan WOULD read, this performs the reads and
  * reports what it DID read, closing the loop between the metadata-only
  * plan and real I/O.
  *
  * Mechanics follow the reference: each surviving column chunk contributes
  * its (offset, length) byte range, the footer (length word + magic
  * included) contributes one more, ranges sort by offset and touching or
  * overlapping neighbours merge into one seek (`merge_chunks`,
  * v2/src/main.rs:505-525 — S6 range coalescing; gaps do NOT merge, a
  * near-storage engine never ships bytes the plan excluded), and each
  * merged range streams through positioned 512 KiB block reads
  * (v2/src/main.rs:420-499, BLOCK_SIZE at :52). Because column chunks
  * within a row group are laid out back-to-back, coalescing typically
  * collapses a projected scan to one contiguous range per surviving
  * group — sequential I/O, not a seek per chunk.
  *
  * Invariant (spec-checked, and asserted per sweep row in TierBench):
  * bytes actually read == BytePlanner.plannedBytes, exactly — the reader
  * reads the plan's own ranges, and coalescing only fuses adjacency,
  * never admits gap bytes. On object storage each merged range
  * maps to one GET with an HTTP Range header; block size then trades
  * request count against time-to-first-byte, which is why it is a
  * parameter and not hard-coded at the v2 value.
  */
object RangedReader {

  /** v2 BLOCK_SIZE (v2/src/main.rs:52). */
  val DefaultBlockSize: Int = 512 * 1024

  final case class ByteRange(offset: Long, length: Long)

  final case class FileRead(
      path: String,
      ranges: Int,
      bytesRead: Long)

  final case class Report(files: Seq[FileRead], elapsedSec: Double) {
    def bytesRead: Long = files.map(_.bytesRead).sum
    def ranges: Int = files.map(_.ranges).sum
    def gbps: Double = if (elapsedSec == 0) 0.0 else bytesRead / elapsedSec / 1e9
  }

  /** Sort by offset and merge touching/overlapping ranges — the reference's
    * `merge_chunks` (v2/src/main.rs:505-525). Gap-free adjacency only.
    */
  def coalesce(ranges: Seq[ByteRange]): Seq[ByteRange] = {
    if (ranges.isEmpty) return ranges
    val sorted = ranges.sortBy(_.offset)
    val out = Seq.newBuilder[ByteRange]
    var cur = sorted.head
    sorted.tail.foreach { r =>
      if (r.offset <= cur.offset + cur.length)
        cur = ByteRange(cur.offset,
          math.max(cur.offset + cur.length, r.offset + r.length) - cur.offset)
      else { out += cur; cur = r }
    }
    out += cur
    out.result()
  }

  /** Stream `ranges` of `file` through positioned `blockSize` reads,
    * returning bytes read (the v2 unfold loop, v2/src/main.rs:424-499).
    * The block buffer is reused across ranges like the reference's.
    */
  def readRanges(file: String, ranges: Seq[ByteRange],
      blockSize: Int = DefaultBlockSize): Long = {
    val raf = new java.io.RandomAccessFile(file, "r")
    val buf = new Array[Byte](blockSize)
    var bytes = 0L
    try {
      ranges.foreach { r =>
        raf.seek(r.offset)
        var remaining = r.length
        while (remaining > 0) {
          val toRead = math.min(remaining, blockSize.toLong).toInt
          raf.readFully(buf, 0, toRead)
          bytes += toRead
          remaining -= toRead
        }
      }
      bytes
    } finally raf.close()
  }

  /** Plan + execute a pruned ranged scan over a parquet file or directory:
    * runs `BytePlanner.plan(path, columns, predicate)` and reads each
    * file's planned ranges, coalesced, so bytes read == planned bytes by
    * construction. `elapsedSec` covers both.
    */
  def run(path: String, columns: Seq[String], predicate: Option[String],
      blockSize: Int = DefaultBlockSize): Report = {
    val t0 = System.nanoTime()
    val reads = BytePlanner.plan(path, columns, predicate).files.map { f =>
      val ranges = coalesce(f.ranges)
      FileRead(f.path, ranges.size, readRanges(f.path, ranges, blockSize))
    }
    Report(reads, (System.nanoTime() - t0) / 1e9)
  }
}
