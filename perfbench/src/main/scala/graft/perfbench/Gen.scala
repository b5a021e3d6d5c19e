package graft.perfbench

import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seed-driven input generators. Every generator is a pure function of
  * its seed and sizes: the same seed gives byte-identical inputs, and
  * the program under test sees only the generated rows. Stated shares
  * (planted duplicates, restatements, late rows) are targets the specs
  * check within a tolerance. */
object Gen {

  /** Weekdays from `from` (inclusive), `n` of them. */
  def tradingDays(from: LocalDate, n: Int): Vector[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).toVector

  def tradingDaysBetween(from: LocalDate, until: LocalDate): Vector[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1)).takeWhile(_.isBefore(until))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .toVector

  /** A stateless uniform in [0,1) from (seed, a, b, c): history rows are
    * generated inside Spark tasks, so their values cannot come from one
    * sequential stream. */
  def u01(seed: Long, a: Long, b: Long, c: Long): Double = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + c * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  // ── ingest_daily ──────────────────────────────────────────────────────

  /** One vendor row. `restated` marks a correction of a past day that the
    * vendor pushes outside the planned fetch window. */
  final case class VRow(code: String, tradeDate: LocalDate, close: Double,
      volume: Double, restated: Boolean)

  final case class IngestDay(date: LocalDate, a: Vector[VRow], b: Vector[VRow])

  /** ingest_daily sizes and stated shares. */
  object IngestSpec {
    val codes = 2000
    val histFrom: LocalDate = LocalDate.of(2023, 10, 2)
    val simFrom: LocalDate = LocalDate.of(2024, 3, 1)
    val days = 120
    val lateShare = 0.03
    val restateShare = 0.01
    val restateWindow = 10
    val aMissShare = 0.01
    val bMissShare = 0.02
    val closeConflictShare = 0.02
    val volumeConflictShare = 0.01
  }

  def code(i: Int): String = f"C$i%05d"

  /** The history close/volume of (code, day) — also what a vendor reports
    * for a day unless the generator says otherwise. */
  def histClose(seed: Long, c: Int, dayIdx: Long): Double =
    math.round((10.0 + 90.0 * u01(seed, c, dayIdx, 1)) * 100) / 100.0
  def histVolume(seed: Long, c: Int, dayIdx: Long): Double =
    math.floor(1000 + 1e6 * u01(seed, c, dayIdx, 2))

  final class Ingest(val seed: Long) {
    val spec: IngestSpec.type = IngestSpec
    val histDays: Vector[LocalDate] = tradingDaysBetween(spec.histFrom, spec.simFrom)
    val simDays: Vector[LocalDate] = tradingDays(spec.simFrom, spec.days)
    /** day → epoch-day index used as the stateless generator's coordinate */
    def dayIdx(d: LocalDate): Long = d.toEpochDay
    val codes: Vector[String] = Vector.tabulate(spec.codes)(code)

    /** Vendor drops per simulated day. Late rows: a share of codes is
      * withheld by both vendors on day t and delivered with day t+1.
      * Restatements: vendor A re-sends a share of codes for a random day
      * in the last `restateWindow` trading days with a corrected close. */
    lazy val days: LazyList[IngestDay] = {
      val r = new SplittableRandom(seed ^ 0x1D6E57L)
      val all = histDays ++ simDays
      var lateYesterday = Set.empty[Int]
      LazyList.from(simDays.zipWithIndex).map { case (d, t) =>
        val late = (0 until spec.codes).filter(c => !lateYesterday(c) && r.nextDouble() < spec.lateShare).toSet
        val prev = if (t == 0) histDays.last else simDays(t - 1)
        val a = mutable.ArrayBuffer.empty[VRow]
        val b = mutable.ArrayBuffer.empty[VRow]
        def emit(c: Int, day: LocalDate): Unit = {
          val close = histClose(seed, c, dayIdx(day))
          val vol = histVolume(seed, c, dayIdx(day))
          val x = r.nextDouble()
          val aMiss = x < spec.aMissShare
          val bMiss = !aMiss && x < spec.aMissShare + spec.bMissShare
          val y = r.nextDouble()
          val bClose = if (y < spec.closeConflictShare) math.round(close * 105) / 100.0 else close
          val bVol = if (y >= spec.closeConflictShare &&
            y < spec.closeConflictShare + spec.volumeConflictShare) vol * 1.5 else vol
          if (!aMiss) a += VRow(codes(c), day, close, vol, restated = false)
          if (!bMiss) b += VRow(codes(c), day, bClose, bVol, restated = false)
        }
        (0 until spec.codes).foreach { c =>
          if (lateYesterday(c)) emit(c, prev)
          if (!late(c)) emit(c, d)
        }
        val histAndSim = histDays.size + t
        val taken = mutable.Set.empty[(Int, LocalDate)]
        (0 until spec.codes).foreach { c =>
          if (r.nextDouble() < spec.restateShare) {
            val back = 1 + r.nextInt(spec.restateWindow)
            val day = all(histAndSim - back)
            // a restated key must not also arrive as a planned row today
            if (!(lateYesterday(c) && day == prev) && taken.add((c, day)))
              a += VRow(codes(c), day,
                math.round(histClose(seed, c, dayIdx(day)) * 97 + r.nextInt(50)) / 100.0,
                histVolume(seed, c, dayIdx(day)), restated = true)
          }
        }
        lateYesterday = late
        IngestDay(d, a.toVector, b.toVector)
      }
    }
  }

  // ── eod_futures ───────────────────────────────────────────────────────

  final case class Contract(id: String, itype: String, listed: LocalDate, expiry: LocalDate)

  /** One tick of a futures contract on a day. */
  final case class FTick(instrumentId: String, ts: Long, seq: Long, price: Double, volume: Double)

  /** A quarterly YTD report of an instrument type's underlying. */
  final case class Report(code: String, reportDate: LocalDate, ytd: Option[Double])

  /** eod_futures sizes and stated shares. */
  object EodSpec {
    val types = 6
    val histFrom: LocalDate = LocalDate.of(2021, 1, 4)
    val simFrom: LocalDate = LocalDate.of(2024, 3, 1)
    val days = 120
    val ticksPerContractDay = 40
    val reportMissShare = 0.1
  }

  final class Eod(val seed: Long) {
    val spec: EodSpec.type = EodSpec
    val histDays: Vector[LocalDate] = tradingDaysBetween(spec.histFrom, spec.simFrom)
    val simDays: Vector[LocalDate] = tradingDays(spec.simFrom, spec.days)
    val types: Vector[String] = Vector.tabulate(spec.types)(i => s"F$i")

    /** Monthly contracts, each listed six months before it expires on
      * the 15th of its month. */
    val contracts: Vector[Contract] = {
      val first = spec.histFrom.withDayOfMonth(15)
      val last = simDays.last.plusMonths(7)
      types.flatMap { t =>
        Iterator.iterate(first)(_.plusMonths(1)).takeWhile(!_.isAfter(last)).map { exp =>
          Contract(f"$t%s${exp.getYear % 100}%02d${exp.getMonthValue}%02d", t, exp.minusMonths(6), exp)
        }
      }
    }

    def alive(d: LocalDate): Vector[Contract] =
      contracts.filter(c => !d.isBefore(c.listed) && !d.isAfter(c.expiry))

    /** Daily volume shape: rises as a contract becomes the front, fades
      * in its expiry month — so the dominant contract rolls monthly. */
    def volume(c: Contract, d: LocalDate, noise: Double): Double = {
      val toExp = java.time.temporal.ChronoUnit.DAYS.between(d, c.expiry).toDouble
      val shape = if (toExp < 12) 0.2 + toExp / 20 else math.exp(-(toExp - 20) * (toExp - 20) / 900.0)
      math.floor(100 + 10000 * shape * (0.9 + 0.2 * noise))
    }

    def close(c: Contract, d: LocalDate): Double =
      math.round((100.0 + c.itype.drop(1).toInt * 20 + 5 * math.sin(d.toEpochDay / 17.0) +
        10 * u01(seed, c.id.hashCode, d.toEpochDay, 3)) * 100) / 100.0

    /** History bars as (type, id, date, close, switch_by, last_trade_date). */
    def histBars: Vector[(String, String, LocalDate, Double, Double, LocalDate)] =
      histDays.flatMap { d =>
        alive(d).map(c => (c.itype, c.id, d, close(c, d),
          volume(c, d, u01(seed, c.id.hashCode, d.toEpochDay, 4)), c.expiry))
      }

    /** The day's ticks: prices wander around the day's close; the last
      * tick's price is the close. */
    def ticks(d: LocalDate): Vector[FTick] = {
      val r = new SplittableRandom(seed ^ d.toEpochDay * 31L)
      val open = java.time.LocalDateTime.of(d, java.time.LocalTime.of(9, 0))
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000L
      var seq = 0L
      alive(d).flatMap { c =>
        val px = close(c, d)
        val vol = volume(c, d, u01(seed, c.id.hashCode, d.toEpochDay, 4))
        val n = spec.ticksPerContractDay
        Vector.tabulate(n) { i =>
          seq += 1
          val p = if (i == n - 1) px else math.round(px * (0.99 + 0.02 * r.nextDouble()) * 100) / 100.0
          FTick(c.id, open + i * 60000L, seq, p, math.floor(vol / n))
        }
      }
    }

    /** YTD reports per type for every quarter end in [histFrom, until):
      * a share of reports lands with a missing YTD value, which the
      * quarterly de-cumulation fills. */
    def reports(until: LocalDate): Vector[Report] = {
      val qEnds = Iterator.iterate(LocalDate.of(spec.histFrom.getYear, 3, 31))(q =>
        q.plusMonths(3).withDayOfMonth(q.plusMonths(3).lengthOfMonth))
        .takeWhile(_.isBefore(until)).toVector
      types.flatMap { t =>
        qEnds.map { q =>
          val k = t.hashCode.toLong
          val missing = u01(seed, k, q.toEpochDay, 5) < spec.reportMissShare
          val quarterly = (1 to q.getMonthValue / 3).map(m =>
            math.round(1000 + 500 * u01(seed, k, q.getYear * 10 + m, 6)).toDouble).sum
          Report(t, q, if (missing) None else Some(quarterly))
        }
      }
    }
  }

  // ── corpus_curate ─────────────────────────────────────────────────────

  final case class Doc(id: Long, source: String, text: String)

  /** A planted near-duplicate: `copy` was made from `orig` by word
    * substitutions; `jaccard` is the exact 5-shingle Jaccard. */
  final case class Planted(orig: Long, copy: Long, jaccard: Double)

  /** corpus_curate sizes and stated shares. */
  object CorpusSpec {
    val docsPerDrop = 300
    val drops = 120
    val vocab = 4000
    val dupShare = 0.10
    val crossDropShare = 0.5
    val boilerplateShare = 0.10
    val minWords = 60
    val maxWords = 140
    val editShare = 0.06
  }

  /** The shingle set the dedup operator uses: lowercased, whitespace
    * normalized, 5-character substrings. */
  def shingles(text: String, k: Int = 5): Set[String] = {
    val norm = text.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
    val n = math.max(norm.length - k + 1, 1)
    (0 until n).map(i => norm.substring(i, math.min(i + k, norm.length))).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  final class Corpus(val seed: Long) {
    val spec: CorpusSpec.type = CorpusSpec
    private val r0 = new SplittableRandom(seed ^ 0xC0FFEEL)
    val words: Vector[String] = Vector.tabulate(spec.vocab) { _ =>
      val n = 3 + r0.nextInt(7)
      (0 until n).map(_ => ('a' + r0.nextInt(26)).toChar).mkString
    }

    /** Drops of `docsPerDrop` docs; ids are drop * 1e6 + i. Generated
      * lazily, in order, so a run pays only for the drops it consumes. */
    lazy val drops: LazyList[(Vector[Doc], Vector[Planted])] = {
      val r = new SplittableRandom(seed ^ 0xD0C5L)
      val earlier = mutable.ArrayBuffer.empty[Doc]
      def drop(dr: Int): (Vector[Doc], Vector[Planted]) = {
        val docs = mutable.ArrayBuffer.empty[Doc]
        val planted = mutable.ArrayBuffer.empty[Planted]
        val thisDrop = mutable.ArrayBuffer.empty[Doc]
        (0 until spec.docsPerDrop).foreach { i =>
          val id = dr * 1000000L + i
          val x = r.nextDouble()
          val pool = if (r.nextDouble() < spec.crossDropShare && earlier.nonEmpty) earlier
            else if (thisDrop.nonEmpty) thisDrop else earlier
          if (x < spec.dupShare && pool.nonEmpty) {
            val orig = pool(r.nextInt(pool.size))
            val toks = orig.text.split(" ").map { w =>
              if (r.nextDouble() < spec.editShare) words(r.nextInt(words.size)) else w
            }
            val d = Doc(id, s"src${r.nextInt(20)}", toks.mkString(" "))
            docs += d
            planted += Planted(orig.id, id, jaccard(shingles(orig.text), shingles(d.text)))
          } else if (x < spec.dupShare + spec.boilerplateShare) {
            val phrase = Vector.fill(4)(words(r.nextInt(words.size)))
            val reps = 10 + r.nextInt(10)
            docs += Doc(id, s"src${r.nextInt(20)}", Vector.fill(reps)(phrase).flatten.mkString(" "))
          } else {
            val n = spec.minWords + r.nextInt(spec.maxWords - spec.minWords)
            val d = Doc(id, s"src${r.nextInt(20)}",
              Vector.fill(n)(words(r.nextInt(words.size))).mkString(" "))
            docs += d
            thisDrop += d
          }
        }
        earlier ++= thisDrop
        (docs.toVector, planted.toVector)
      }
      LazyList.from(0).take(spec.drops).map(drop)
    }
  }

  // ── tick_stream ───────────────────────────────────────────────────────

  /** Tick `i` of a stream at `rate` ticks/s: event time is a simulated
    * exchange clock (deterministic), independent of the wall clock the
    * generator stamps on each tick. */
  def streamTick(seed: Long, codes: Int, rate: Int, i: Long): (String, Long, Long, Double) = {
    val c = (u01(seed, i, 7, 7) * codes).toInt
    val eventMs = 1709280000000L + i * 1000L / rate
    val px = math.round((50 + c + 5 * u01(seed, i, 8, 8)) * 100) / 100.0
    (code(c), eventMs, i, px)
  }
}
