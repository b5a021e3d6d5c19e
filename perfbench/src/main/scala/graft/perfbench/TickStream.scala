package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{TableSpec, TableStore}

/** tick_stream — the only open loop. A generator process writes tick
  * files at one fixed rate; the stream turns them into per-second bars
  * and upserts them into the store per micro-batch. A tick's latency runs
  * from the time it was due to the end of the micro-batch that committed
  * its bar, read from the query's progress events. */
object TickStream {
  /** Fixed offered load: half of 640,000 ticks/s, the highest rate of
    * a sweep on 4 cores. Up to that rate the sink's lag at the end stayed
    * bounded (2–7 s, no longer after 20 s than after 10 s); at 640,000
    * the one-thread generator itself fell behind, so the stream's true
    * capacity is at least that. README.md records the sweep. */
  val rate = 320000
  val codes = 20
  val spec = TableSpec("bars", Seq("code", "bar_start"))
  val schema = StructType(Seq(StructField("code", StringType), StructField("ts_ms", LongType),
    StructField("seq", LongType), StructField("price", DoubleType),
    StructField("created_ms", LongType)))

  private def ticks(ctx: Ctx, dir: String): DataFrame =
    ctx.spark.readStream.schema(schema).csv(dir).withColumn("ts", timestamp_millis(col("ts_ms")))

  /** Runs the generator as a child process and waits for it to end. */
  private def generate(dir: String, seed: Long, seconds: Double): Map[String, Long] = {
    val javaBin = ProcessHandle.current().info().command().orElse("java")
    val p = new ProcessBuilder(javaBin, "-Xmx128m", "-cp", System.getProperty("java.class.path"),
      "graft.perfbench.TickGen", dir, seed.toString, rate.toString, seconds.toString,
      codes.toString).inheritIO().start()
    try {
      if (!p.waitFor((seconds + 60).toLong, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("tick generator did not finish")
      require(p.exitValue() == 0, s"tick generator failed with ${p.exitValue()}")
    } finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    val js = new String(Files.readAllBytes(Paths.get(dir, "_gen.json")), "UTF-8")
    "\"(\\w+)\":(-?\\d+)".r.findAllMatchIn(js).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** file name → micro-batch id, from the file source's log (plain and
    * compacted entries alike). */
  private def fileBatches(checkpoint: String): Map[String, Long] = {
    val log = Paths.get(checkpoint, "sources", "0")
    if (!Files.exists(log)) return Map.empty
    Files.list(log).iterator().asScala.filter(_.getFileName.toString.stripSuffix(".compact")
        .forall(_.isDigit)).flatMap { f =>
      Files.readAllLines(f).asScala.drop(1).flatMap { line =>
        val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1))
        val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
        for (p <- path; b <- batch) yield p.substring(p.lastIndexOf('/') + 1) -> b
      }
    }.toMap
  }

  def run(ctx: Ctx, seconds: Double): PassOut = {
    import ctx.{L, spark}
    val t0 = System.nanoTime()
    val store = new TableStore(spark, s"${ctx.dir}/store")
    // warm-up: a short stream of its own ticks, into its own store
    locally {
      val wdir = s"${ctx.dir}/warm"
      Files.createDirectories(Paths.get(wdir))
      val wstore = new TableStore(spark, s"${ctx.dir}/warmstore")
      val q = L.streaming.barsToSink(ticks(ctx, wdir), wstore, spec, "warm", s"${ctx.dir}/warmck")
      generate(wdir, ctx.seed ^ 0x5EEDL, 1.0)
      q.processAllAvailable()
      q.stop()
    }
    val src = s"${ctx.dir}/in"
    Files.createDirectories(Paths.get(src))
    val ck = s"${ctx.dir}/ck"
    val q = L.streaming.barsToSink(ticks(ctx, src), store, spec, "ticks", ck)
    val setupS = (System.nanoTime() - t0) / 1e9

    val meter = new WriteMeter(ctx, "store")
    val tl = System.nanoTime()
    val gen = generate(src, ctx.seed, seconds)
    q.processAllAvailable()
    q.stop()
    val loopS = (System.nanoTime() - tl) / 1e9
    meter.tick()

    // latency: due time of each tick → end of the batch that took its file
    val progress = ctx.tracer.progress.synchronized(ctx.tracer.progress.toVector)
      .map(_.progress).filter(_.name == "ticks")
    val batchEnd = progress.map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue)
    }.toMap
    val batchOf = fileBatches(ck)
    val all = spark.read.schema(schema).csv(src)
      .withColumn("file", element_at(split(input_file_name(), "/"), -1))
    val byFile = all.groupBy("file").agg(collect_list(col("created_ms")).as("c")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1))
    val lat = mutable.ArrayBuffer.empty[Double]
    var lost = 0
    byFile.foreach { case (f, created) =>
      batchOf.get(f).flatMap(batchEnd.get) match {
        case Some(end) => created.foreach(c => lat += (end - c).toDouble)
        case None => lost += 1
      }
    }
    val lastEnd = if (batchEnd.isEmpty) gen("stop_ms") else batchEnd.values.max
    val mism = mutable.ArrayBuffer.empty[String]
    if (lost > 0) mism += s"$lost tick files have no committed micro-batch"
    if (byFile.length != gen("files")) mism += s"read ${byFile.length} tick files, generator wrote ${gen("files")}"
    // output check: the final bars equal a batch ticksToBars over all ticks
    val cols = Seq("code", "bar_start", "open", "high", "low", "close", "n_ticks")
    val batch = graft.operators.Resample.ticksToBars(all.withColumn("ts", timestamp_millis(col("ts_ms"))),
      Seq("code"), "ts", "seq", "price", "price", "1 second").select(cols.map(col): _*)
    val got = store.read(spec).select(cols.map(col): _*)
    val diff = got.exceptAll(batch).count() + batch.exceptAll(got).count()
    if (diff > 0) mism += s"$diff bar rows differ from a batch ticksToBars"

    val withData = progress.filter(_.numInputRows > 0)
    val dur = (k: String) => withData.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val lastState = withData.lastOption.flatMap(_.stateOperators.headOption)
    val streamStats = Map(
      "batches" -> withData.size.toDouble,
      "batch_ms" -> med(dur("triggerExecution")),
      "addBatch_ms" -> med(dur("addBatch")),
      "walCommit_ms" -> med(dur("walCommit")),
      "queryPlanning_ms" -> med(dur("queryPlanning")),
      "state_rows" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state_mem_mb" -> lastState.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0))
    val n = gen("ticks")
    val files = gen("files").toInt
    PassOut(lat.toVector, n, seconds, files + 1, (if (mism.isEmpty) 0 else 1) + lost, mism.toSeq,
      Vector(("stream.lag_end_s", (lastEnd - gen("stop_ms")) / 1000.0, "s"),
        ("bench.gen_late_ms", gen("late_p50_ms").toDouble, "ms"),
        ("bench.gen_late_max_ms", gen("late_max_ms").toDouble, "ms"),
        ("stream.rate", rate.toDouble, "1/s")),
      loopS, setupS, meter.bytes, meter.files, meter.live, streamStats)
  }
}
