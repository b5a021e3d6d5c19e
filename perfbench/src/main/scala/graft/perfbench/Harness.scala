package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Thrown when a timed unit would consume an input another unit already
  * consumed: a repeat could read as a speedup (memo and scratch reuse),
  * so the bench refuses the run instead. */
final class RepeatedInput(key: String)
    extends RuntimeException(s"fresh-input rule: input '$key' was already consumed in this run")

final class Ledger {
  private val seen = mutable.Set.empty[String]
  def consume(key: String): Unit = if (!seen.add(key)) throw new RepeatedInput(key)
}

/** What one pass of a workload hands back to `Main`. */
final case class PassOut(
    unitMs: Vector[Double], // one sample per timed unit (per tick for the stream)
    items: Long, itemsS: Double, // items processed and the unit time they took
    attempted: Int, failed: Int, mismatches: Seq[String],
    named: Vector[(String, Double, String)], // workload-named end-to-end metrics
    loopS: Double, setupS: Double,
    bytesWritten: Long, filesWritten: Long, liveFiles: Long,
    stream: Map[String, Double] = Map.empty)

/** Everything a workload needs for one pass. `dir` is this pass's own
  * directory: stores, input files and checkpoints all live under it. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dir: String, val seed: Long) {
  val L = new Layers(tracer)
  val ledger = new Ledger
  def fs: FileSystem = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files (path → bytes) under `sub`, for write accounting. */
  def files(sub: String): Map[String, Long] = {
    val p = new Path(s"$dir/$sub")
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val out = mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_") && !f.getPath.toString.contains("/_manifests/"))
        out(f.getPath.toString) = f.getLen
    }
    out.toMap
  }

  def bytesOf(path: String): Long = files(path.stripPrefix(dir + "/")).values.sum
}

/** Tracks bytes and files a store gains, by listing it between units
  * (outside the timed region). Batch directories are never reused, so a
  * new path is a written file. */
final class WriteMeter(ctx: Ctx, sub: String) {
  private var last = ctx.files(sub)
  var bytes = 0L
  var files = 0L
  def tick(): Unit = {
    val now = ctx.files(sub)
    now.foreach { case (p, n) => if (!last.contains(p)) { bytes += n; files += 1 } }
    last = now
  }
  def live: Long = last.size.toLong
}

/** Input files written ahead of the units that read them, `chunk` units
  * per write job, so set-up pays only for the first chunk and a long run
  * never runs out. `write(units, dir)` writes the inputs of `units`
  * partitioned by unit number into `dir`. */
final class Inputs(root: String, chunk: Int, write: (Range, String) => Unit) {
  private var upTo = 0
  def ensure(unit: Int): Unit =
    while (unit >= upTo) { write(upTo until upTo + chunk, s"$root/chunk-${upTo / chunk}"); upTo += chunk }
  /** Directory of unit `u`'s inputs (plus a sub-partition, if any). */
  def path(u: Int, sub: String = ""): String = {
    ensure(u)
    s"$root/chunk-${u / chunk}/u=$u" + (if (sub.isEmpty) "" else s"/$sub")
  }
}

object Harness {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `unit(i)` for i = 0, 1, ... until `seconds` of wall time have
    * passed or `maxUnits` ran; returns per-unit ms. `prepare(i)` runs
    * untimed before unit i (input files, accounting). */
  def closedLoop(seconds: Double, maxUnits: Int, prepare: Int => Unit = _ => ())
      (unit: Int => Unit): Vector[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < maxUnits && (System.nanoTime() < deadline || i == 0)) {
      prepare(i)
      out += timed(unit(i))._2
      i += 1
    }
    out.toVector
  }
}
