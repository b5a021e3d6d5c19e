package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Generator records: the same seed gives byte-identical inputs, a
  * different seed gives different inputs, and the stated shares hold
  * within the stated tolerances. */
class GenSpec extends AnyFunSuite {

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def ingestBytes(seed: Long, days: Int): String =
    new Gen.Ingest(seed).days.take(days).map(_.toString).mkString("\n") +
      (0 until 50).map(c => Gen.histClose(seed, c, 19000L)).mkString(",")
  private def eodBytes(seed: Long): String = {
    val g = new Gen.Eod(seed)
    (g.histBars.take(500) ++ g.simDays.take(3).flatMap(g.ticks) ++
      g.reports(g.spec.simFrom)).mkString("\n")
  }
  private def corpusBytes(seed: Long, drops: Int): String =
    new Gen.Corpus(seed).drops.take(drops).map(_.toString).mkString("\n")
  private def tickBytes(seed: Long): String =
    (0 until 20).map(j => TickGen.fileBody(seed, 10000, 20, j, 0L)).mkString

  test("the same seed gives byte-identical inputs, another seed different ones") {
    Seq[Long => String](ingestBytes(_, 3), eodBytes, corpusBytes(_, 3), tickBytes).foreach { g =>
      assert(sha(g(7L)) == sha(g(7L)))
      assert(sha(g(7L)) != sha(g(8L)))
    }
  }

  test("ingest_daily: late, restated and conflicting rows hold their stated shares") {
    val g = new Gen.Ingest(11L)
    val days = g.days.take(20).toVector
    val n = days.size * g.spec.codes
    val restated = days.map(_.a.count(_.restated)).sum.toDouble / n
    assert(math.abs(restated - g.spec.restateShare) < 0.3 * g.spec.restateShare, restated)
    // a late row is one delivered a day after its trade date
    val late = days.map(d => d.b.count(r => !r.restated && r.tradeDate.isBefore(d.date))).sum
    val lateShare = late.toDouble / n
    assert(math.abs(lateShare - g.spec.lateShare) < 0.3 * g.spec.lateShare, lateShare)
    // conflicts, from the plain-Scala reconcile replay
    val (_, conflicts) = IngestDaily.truth(g, days)
    val expected = g.spec.closeConflictShare + g.spec.volumeConflictShare
    val share = conflicts.toDouble / n
    assert(math.abs(share - expected) < 0.3 * expected, share)
  }

  test("ingest_daily: a late row always passes the next day's fetch plan") {
    val g = new Gen.Ingest(12L)
    val days = g.days.take(10).toVector
    val (stored, _) = IngestDaily.truth(g, days)
    // every code has a row for every simulated day once the next day ran
    days.init.foreach(d => g.codes.foreach(c => assert(stored.contains((c, d.date)), (c, d.date))))
  }

  test("corpus_curate: planted near-duplicates and boilerplate hold their shares") {
    val g = new Gen.Corpus(13L)
    val drops = g.drops.take(20).toVector
    val n = drops.map(_._1.size).sum.toDouble
    val planted = drops.flatMap(_._2)
    // the first drop can only plant within itself; allow for it
    assert(math.abs(planted.size / n - g.spec.dupShare) < 0.25 * g.spec.dupShare, planted.size / n)
    assert(planted.forall(_.jaccard >= CorpusCurate.tau), planted.map(_.jaccard).min)
    val cross = planted.count(p => p.orig / 1000000L != p.copy / 1000000L).toDouble / planted.size
    assert(math.abs(cross - g.spec.crossDropShare) < 0.15, cross)
    val boiler = drops.flatMap(_._1).count { d =>
      val toks = d.text.split(" ")
      toks.distinct.length.toDouble / toks.length < 0.4
    } / n
    assert(math.abs(boiler - g.spec.boilerplateShare) < 0.25 * g.spec.boilerplateShare, boiler)
  }

  test("the fresh-input ledger refuses an input key consumed twice") {
    val l = new Ledger
    l.consume("ingest_daily/day/2024-03-01")
    l.consume("ingest_daily/day/2024-03-04")
    assertThrows[RepeatedInput](l.consume("ingest_daily/day/2024-03-01"))
  }

  test("tick_stream: the generator holds the stream's fixed rate") {
    val dir = Files.createTempDirectory("tickgen")
    try {
      val rate = TickStream.rate
      TickGen.main(Array(dir.toString, "5", rate.toString, "2.0", "20"))
      val files = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".csv"))
      assert(files.length == 2 * TickGen.filesPerSec)
      val lines = files.map(f => Files.readAllLines(java.nio.file.Paths.get(f)).size).sum
      assert(lines == 2 * rate)
      val stats = new String(Files.readAllBytes(dir.resolve("_gen.json")), StandardCharsets.UTF_8)
      val f = "\"(\\w+)\":(-?\\d+)".r.findAllMatchIn(stats).map(m => m.group(1) -> m.group(2).toLong).toMap
      // wall time within 10% of the schedule, and no file later than 100 ms
      val wall = (f("stop_ms") - f("start_ms")) / 1000.0
      assert(math.abs(wall - 2.0) < 0.2, wall)
      assert(f("late_max_ms") < 100, f("late_max_ms"))
    } finally Main.deleteTree(dir)
  }
}
