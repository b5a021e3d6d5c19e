package graft.perfbench

import java.sql.Date

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{TableSpec, TableStore}

/** eod_futures — the compute path. A closed loop over days against a
  * read-mostly bar store: each day turns that day's ticks into daily
  * bars and appends them, rebuilds the continuous series over the full
  * history, puts the quarterly report values onto the daily rows with an
  * as-of join, and rewrites only the year partitions whose rows changed.
  * Within a day the continuous-futures fixtures are shared; across days
  * they are not, because the bar table changes. */
object EodFutures {
  val bars = TableSpec("bars", Seq("instrument_id", "trade_date"), partitionBy = Seq("yr"))
  val reports = TableSpec("reports", Seq("code", "report_date"))
  val series = TableSpec("series", Seq("instrument_type", "trade_date"), partitionBy = Seq("yr"))
  val seriesCols = Seq("instrument_type", "trade_date", "main_id", "close",
    "adj_factor_main", "close_adj", "season", "yr")

  private val tickSchema = StructType(Seq(
    StructField("u", IntegerType), StructField("instrument_id", StringType), StructField("ts_ms", LongType),
    StructField("seq", LongType), StructField("price", DoubleType),
    StructField("volume", DoubleType)))
  private val reportSchema = StructType(Seq(
    StructField("code", StringType), StructField("report_date", DateType),
    StructField("ytd", DoubleType)))

  def reportsDf(spark: SparkSession, rs: Seq[Gen.Report]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map(r =>
      Row(r.code, Date.valueOf(r.reportDate), r.ytd.map(Double.box).orNull)), 1), reportSchema)

  /** The daily product: continuous series with the latest de-cumulated
    * quarterly value of its type as of each trade date. */
  def product(L: Layers, spark: SparkSession, barTable: DataFrame, reportTable: DataFrame,
      key: String): (DataFrame, Seq[DataFrame]) = {
    val s = L.core.materialize(L.analytics.continuousSeries(spark, barTable), "eod_series", key)
    val q = L.analytics.ytdToQuarterly(spark, reportTable)
    val joined = L.operators.asofBackward(s,
      q.select(col("code").as("instrument_type"), col("report_date"), col("season")),
      Seq("instrument_type"), "trade_date", "report_date", Seq("season"))
    (joined.withColumn("yr", year(col("trade_date"))).select(seriesCols.map(col): _*),
      Seq(q, joined))
  }

  def run(ctx: Ctx, seconds: Double, maxUnits: Int): PassOut = {
    import ctx.{L, spark}
    val t0 = System.nanoTime()
    val gen = new Gen.Eod(ctx.seed)
    val store = new TableStore(spark, s"${ctx.dir}/store")
    val days = gen.simDays
    val contracts = spark.createDataFrame(spark.sparkContext.parallelize(gen.contracts.map(c =>
      Row(c.id, c.itype, Date.valueOf(c.expiry))), 1),
      StructType(Seq(StructField("instrument_id", StringType),
        StructField("instrument_type", StringType), StructField("last_trade_date", DateType))))
      .cache()
    contracts.count()

    // inputs: one tick file per day, written ahead in chunks; reports
    // arrive as their quarter ends
    val inputs = new Inputs(s"${ctx.dir}/in", 8, (units, dir) =>
      spark.createDataFrame(spark.sparkContext.parallelize(units.flatMap { t =>
        gen.ticks(days(t)).map(k => Row(t, k.instrumentId, k.ts, k.seq, k.price, k.volume))
      }, 1), tickSchema).write.partitionBy("u").parquet(dir))
    inputs.ensure(0)
    // initial stores: bar history and report history; the warm-up day
    // builds the series table
    val histRows = gen.histBars.map { case (t, id, d, c, sw, ltd) =>
      Row(t, id, Date.valueOf(d), c, sw, Date.valueOf(ltd), d.getYear) }
    store.overwritePartitions(bars, spark.createDataFrame(
      spark.sparkContext.parallelize(histRows, 4), barSchema))
    store.upsert(reports, reportsDf(spark, gen.reports(gen.spec.simFrom)))

    def day(t: Int): Unit = {
      val d = days(t)
      ctx.ledger.consume(s"eod_futures/day/$d")
      val ticks = spark.read.parquet(inputs.path(t))
        .withColumn("ts", timestamp_millis(col("ts_ms")))
      val daily = L.operators.ticksToBars(ticks, Seq("instrument_id"), "ts", "seq",
        "price", "volume", "1 day")
      L.core.upsert(store, bars, daily.join(broadcast(contracts), Seq("instrument_id"))
        .select(col("instrument_type"), col("instrument_id"),
          to_date(col("bar_start")).as("trade_date"), col("close"),
          col("volume").as("switch_by"), col("last_trade_date"),
          year(col("bar_start")).as("yr")))
      val prev = if (t == 0) gen.histDays.last else days(t - 1)
      val fresh = gen.reports(d.plusDays(1)).filter(_.reportDate.isAfter(prev))
      if (fresh.nonEmpty) L.core.upsert(store, reports, reportsDf(spark, fresh))
      val (p, pins) = product(L, spark, L.core.read(store, bars),
        L.core.read(store, reports), s"${ctx.seed}|$t")
      // rewrite only the years whose rows changed (Diff adjustment
      // rewrites history at every roll); bounded collect: ≤ #years
      if (!store.exists(series)) L.core.overwritePartitions(store, series, p)
      else {
        val cur = L.core.read(store, series).select(seriesCols.map(col): _*)
        val changed = p.exceptAll(cur).select("yr").unionByName(cur.exceptAll(p).select("yr"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (changed.nonEmpty)
          L.core.overwritePartitions(store, series, p.filter(col("yr").isin(changed: _*)))
      }
      L.done(daily +: pins: _*)
    }
    day(0) // warm-up: builds the series table over the history
    val meter = new WriteMeter(ctx, "store")
    val setupS = (System.nanoTime() - t0) / 1e9

    val tl = System.nanoTime()
    ctx.tracer.active = true
    val unitMs = Harness.closedLoop(seconds, maxUnits, i => inputs.ensure(i + 1))(i => day(i + 1))
    meter.tick()
    val loopS = (System.nanoTime() - tl) / 1e9
    ctx.tracer.active = false

    // output check: the incrementally maintained series equals a
    // from-scratch rebuild over the final bar table; the rebuild reads
    // through its own plan so it shares no fixture with the last day
    val mism = mutable.ArrayBuffer.empty[String]
    val rebuilt = product(new Layers(new Tracer(false)), spark,
      store.read(bars).filter(col("close").isNotNull || col("close").isNull),
      store.read(reports), s"${ctx.seed}|check")
    def rounded(df: DataFrame) = Seq("close", "adj_factor_main", "close_adj", "season")
      .foldLeft(df)((x, c) => x.withColumn(c, round(col(c), 6)))
    val got = rounded(store.read(series).select(seriesCols.map(col): _*))
    val exp = rounded(rebuilt._1)
    val extra = got.exceptAll(exp).count()
    val missing = exp.exceptAll(got).count()
    if (extra + missing > 0) mism += s"series differs from a rebuild: $extra extra, $missing missing rows"
    val nDays = store.read(series).select("trade_date").distinct().count()
    val expDays = (gen.histDays.size + unitMs.size + 1).toLong
    if (nDays != expDays) mism += s"series covers $nDays days, expected $expDays"
    L.done(rebuilt._2: _*)
    contracts.unpersist()
    PassOut(unitMs, unitMs.size.toLong, unitMs.sum / 1000, unitMs.size + 1,
      if (mism.isEmpty) 0 else 1, mism.toSeq, Vector.empty, loopS, setupS,
      meter.bytes, meter.files, ctx.files("store/bars").size.toLong)
  }

  private val barSchema = StructType(Seq(
    StructField("instrument_type", StringType), StructField("instrument_id", StringType),
    StructField("trade_date", DateType), StructField("close", DoubleType),
    StructField("switch_by", DoubleType), StructField("last_trade_date", DateType),
    StructField("yr", IntegerType)))
}
