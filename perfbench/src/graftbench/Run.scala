package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String = "",
    seed: Long = 0L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    work: String = "",
    traceOut: String = "",
    scale: Double = 0.1,
    plantWrong: Boolean = false,
    digestOnly: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--trace-out" :: v :: t => go(o.copy(traceOut = v), t)
      case "--scale" :: v :: t => go(o.copy(scale = v.toDouble), t)
      case "--plant-wrong" :: t => go(o.copy(plantWrong = true), t)
      case "--digest-only" :: t => go(o.copy(digestOnly = true), t)
      case other => throw new IllegalArgumentException(s"unknown argument: ${other.mkString(" ")}")
    }
    go(Opts(), args.toList)
  }
}

/** State shared by the workloads of one run: session, tracer, and the
  * list of ops in the measured window.
  */
final class Run(val opts: Opts, implicit val spark: SparkSession) {
  val tracer = new Tracer
  val work: String = opts.work
  /** Ops of the measured window (warm-up and final checks excluded). */
  val timed: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  var measuring = false
  private var planted = false

  /** In a traced run every op of the measured window is traced. */
  def op(kind: String)(body: Op => Boolean): Op = {
    val o = tracer.op(kind, opts.trace && measuring)(body)
    if (measuring) timed += o
    o
  }

  /** True once, for the first check of a run with `--plant-wrong`: the
    * caller then corrupts its expected answer, which must fail the op.
    */
  def plantNow(): Boolean =
    if (opts.plantWrong && !planted) { planted = true; true } else false

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Time a call in ms even when the op is untraced. */
  def timeMs[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e6)
  }

  def ms(kind: String): Seq[Double] = timed.filter(o => o.kind == kind && o.ok).map(_.ms).toSeq

  def delete(path: String): Unit = {
    val p = new java.io.File(path)
    if (p.exists()) org.apache.commons.io.FileUtils.deleteDirectory(p)
  }
}

/** Bytes and inodes under a directory: the benchmark's view of what a
  * layout call wrote, independent of the program's own accounting.
  */
object Disk {
  final case class Entry(key: AnyRef, bytes: Long, parquet: Boolean)

  def scan(root: String): Seq[Entry] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val out = mutable.ArrayBuffer.empty[Entry]
      java.nio.file.Files.walk(p).forEach { f =>
        val a = java.nio.file.Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        if (a.isRegularFile)
          out += Entry(a.fileKey, a.size, f.getFileName.toString.endsWith(".parquet"))
      }
      out.toSeq
    }
  }

  def bytes(root: String): Long = scan(root).map(_.bytes).sum

  /** Files present in `after` whose inode was not in `before`: what a
    * call newly wrote (renames and hardlinks keep their inode).
    */
  def written(before: Seq[Entry], after: Seq[Entry]): Seq[Entry] = {
    val seen = before.map(_.key).toSet
    after.filterNot(e => seen.contains(e.key))
  }
}
