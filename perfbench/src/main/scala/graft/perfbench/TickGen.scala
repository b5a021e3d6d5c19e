package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The tick_stream load generator, run as its own process so that it
  * does not share a JVM, heap or GC with the system under test. It
  * writes one CSV file every `1000 / filesPerSec` ms at a fixed rate
  * (open loop: it never waits for the consumer) and stamps every tick
  * with the wall time it was due, so latency is measured from when a
  * tick was due, not from when a stalled writer got round to it.
  *
  * Usage: TickGen <dir> <seed> <rate ticks/s> <seconds> <codes>
  * Writes `_gen.json` with its start, stop and lateness when done. */
object TickGen {
  val filesPerSec = 10

  /** The CSV body of file `j`: ticks [j·rate/f, (j+1)·rate/f). The tick
    * content is a pure function of the seed; only `created_ms` (the due
    * time) depends on the start instant. */
  def fileBody(seed: Long, rate: Int, codes: Int, j: Long, startMs: Long): String = {
    val per = rate / filesPerSec
    val sb = new StringBuilder
    (0 until per).foreach { k =>
      val i = j * per + k
      val (code, eventMs, seq, px) = Gen.streamTick(seed, codes, rate, i)
      val due = startMs + i * 1000L / rate
      sb.append(code).append(',').append(eventMs).append(',').append(seq).append(',')
        .append(px).append(',').append(due).append('\n')
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    val seed = args(1).toLong
    val rate = args(2).toInt
    val seconds = args(3).toDouble
    val codes = args(4).toInt
    Files.createDirectories(dir)
    val nFiles = math.max(1L, (seconds * filesPerSec).toLong)
    val periodMs = 1000L / filesPerSec
    // build and discard one second of files first: a cold JIT would
    // otherwise put the first files of a short run behind schedule
    (0 until filesPerSec).foreach(j => fileBody(seed, rate, codes, j, 0L))
    val startMs = System.currentTimeMillis() + 100
    val late = new Array[Long](nFiles.toInt)
    var j = 0L
    while (j < nFiles) {
      // file j closes when its last tick is due
      val dueMs = startMs + (j + 1) * periodMs
      val wait = dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val tmp = dir.resolve(f".tmp-$j%06d")
      Files.write(tmp, fileBody(seed, rate, codes, j, startMs).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(f"ticks-$j%06d.csv"), StandardCopyOption.ATOMIC_MOVE)
      late(j.toInt) = System.currentTimeMillis() - dueMs
      j += 1
    }
    val stopMs = System.currentTimeMillis()
    val sorted = late.sorted
    val json = s"""{"start_ms":$startMs,"stop_ms":$stopMs,"files":$nFiles,""" +
      s""""ticks":${nFiles * (rate / filesPerSec)},"late_p50_ms":${sorted(sorted.length / 2)},""" +
      s""""late_max_ms":${sorted.last}}"""
    Files.write(dir.resolve("_gen.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}
