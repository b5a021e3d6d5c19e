package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the repo benchmark.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  * Untraced (`--trace 0`) it sets the workload up, runs it for
  * `--seconds`, checks the outputs and prints the end-to-end metrics.
  * Traced (`--trace 1`) it runs the named workload untraced and then
  * traced over the same units (the difference is the tracing overhead);
  * for a listed workload also the three others traced for one unit (a
  * short phase for the stream). A traced run of eod_futures adds the
  * single-core baseline: eod_futures and corpus_curate on one core. It
  * prints the per-layer metrics of every layer that ran. Either way the
  * last stdout line is the result:
  * {"correct", "attempted", "failed", "metrics"}. */
object Main {
  val workloads = Seq("ingest_daily", "eod_futures", "corpus_curate", "tick_stream")
  /** Spark task threads: one fewer than the machine's 4 cores, so the
    * driver thread, JIT and GC run beside the tasks instead of taking
    * turns with them. In runs alternating `local[3]` and `local[4]` on
    * four seeds, the fastest `ingest_daily` run beat the slowest by 9%
    * at 3 cores and by 38% at 4. */
  val cores = 3
  /** Upper bound on units per pass; a pass normally ends on time first. */
  val maxUnitsPerPass = 100

  /** Spanned calls, as `<module>.<Object>.<fn>`. */
  val spanned = Seq(
    "core.TableStore.upsert", "core.TableStore.overwritePartitions", "core.TableStore.read",
    "core.TableStore.compact", "core.IncrementalPlanner.fetchRanges", "core.Scratch.materialize",
    "operators.MergeOps.reconcileWithConflicts", "operators.Resample.ticksToBars",
    "operators.AsOfJoin.asofBackward", "analytics.ContinuousFutures.continuousSeries",
    "analytics.FinanceReports.ytdToQuarterly", "operators.CorpusStats.gopherQuality",
    "operators.Dedup.minHashPairsWithinSigs", "operators.Dedup.minHashPairsBetweenSigs",
    "operators.BudgetCut.qualityBudgetCut")
  val shuffling = Seq("core.TableStore.upsert", "operators.MergeOps.reconcileWithConflicts",
    "analytics.ContinuousFutures.continuousSeries", "operators.AsOfJoin.asofBackward",
    "operators.Dedup.minHashPairsWithinSigs", "operators.Dedup.minHashPairsBetweenSigs")
  /** The workloads BENCHMARK.json lists: a traced run of one of them
    * also runs every other workload for one unit, so all four layers
    * report in every traced run. */
  val listed = Seq("ingest_daily", "corpus_curate")
  /** Length of the stream's phase when it runs as a companion. */
  val streamCompanionS = 1.0
  /** Workloads that also run on one core in the single-core baseline.
    * Only a traced run of eod_futures makes it: a listed workload's
    * traced run, with its companions, has no time left for it within
    * the run's limit when the machine runs slow. */
  val singleCore = Seq("eod_futures", "corpus_curate")
  val streamStats = Seq("batches" -> "count", "batch_ms" -> "ms", "addBatch_ms" -> "ms",
    "walCommit_ms" -> "ms", "queryPlanning_ms" -> "ms", "state_rows" -> "count",
    "state_mem_mb" -> "MB")

  final case class Pass(out: PassOut, tracer: Tracer, gcS: Double, heapLiveMb: Double)

  private var passNo = 0

  def session(n: Int): SparkSession = {
    val s = graft.core.GraftSession.local(n, "perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** One pass: a fresh session and directory, the workload's set-up,
    * measured loop and output check. */
  def pass(work: String, w: String, seed: Long, n: Int, traced: Boolean,
      seconds: Double, maxUnits: Int): Pass = {
    passNo += 1
    val t0 = System.nanoTime()
    val gc0 = gcSeconds
    val (spark, sessionMs) = Harness.timed(session(n))
    val tracer = new Tracer(traced)
    tracer.attach(spark)
    val dir = s"$work/pass$passNo-$w-${n}c"
    val ctx = new Ctx(spark, tracer, dir, seed)
    // heap the session still holds once the pass is done (cached blocks,
    // memo entries, broadcasts), measured after a full collection
    var heapLiveMb = 0.0
    val out = try {
      val o = try w match {
        case "ingest_daily" => IngestDaily.run(ctx, seconds, maxUnits)
        case "eod_futures" => EodFutures.run(ctx, seconds, maxUnits)
        case "corpus_curate" => CorpusCurate.run(ctx, seconds, maxUnits)
        case "tick_stream" => TickStream.run(ctx, seconds)
      } finally tracer.detach(spark)
      heapLiveMb = liveHeapMb
      o
    } finally {
      spark.stop()
      deleteTree(java.nio.file.Paths.get(dir))
    }
    System.err.println(f"perfbench: pass $w ${n}c traced=$traced units=${out.unitMs.size} " +
      f"setup=${out.setupS + sessionMs / 1000}%.1fs loop=${out.loopS}%.1fs wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
    Pass(out.copy(setupS = out.setupS + sessionMs / 1000), tracer, gcSeconds - gc0, heapLiveMb)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples beyond); the median when there are
    * fewer than 21 samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size < 21) (median(s), 50.0, s.size / 2)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, 10)
  }

  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def metricJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def info(name: String, v: Double, unit: String, extra: String = ""): Unit =
    println(s"""{"metric": "$name", "value": ${fmt(v)}, "unit": "$unit"$extra}""")

  /** The workload's own end-to-end metrics, by the names the workload
    * notes use, printed as info lines above the result. */
  def named(w: String, out: PassOut, setupS: Double, rss: Double, heapLiveMb: Double,
      failRatio: Double): Unit = {
    val (tv, tp, tn) = tail(out.unitMs)
    val tailExtra = s""", "percentile": ${fmt(tp)}, "beyond": $tn, "samples": ${out.unitMs.size}"""
    info("setup_s", setupS, "s")
    info("fail_ratio", failRatio, "ratio")
    info("peak_rss_mb", rss, "MB")
    info("heap_live_mb", heapLiveMb, "MB")
    info("unit_ms", out.unitMs.size.toDouble, "count",
      s""", "samples": [${out.unitMs.take(50).map(x => fmt(math.rint(x))).mkString(", ")}]""")
    w match {
      case "ingest_daily" =>
        info("ingest.day_p50_s", median(out.unitMs) / 1000, "s")
        info("ingest.day_tail_s", tv / 1000, "s", tailExtra)
      case "eod_futures" =>
        info("eod.day_p50_s", median(out.unitMs) / 1000, "s")
        info("eod.day_tail_s", tv / 1000, "s", tailExtra)
      case "corpus_curate" =>
        info("curate.drop_p50_s", median(out.unitMs) / 1000, "s")
        info("curate.drop_tail_s", tv / 1000, "s", tailExtra)
      case "tick_stream" =>
        info("stream.latency_p50_ms", median(out.unitMs), "ms")
        info("stream.latency_tail_ms", tv, "ms", tailExtra)
    }
    out.named.foreach { case (k, v, u) => info(k, v, u) }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = opts("workload")
    require(workloads.contains(w), s"unknown workload $w; one of ${workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val result =
      try if (traced) traceRun(work, w, seed, seconds, opts.get("spans"))
        else plainRun(work, w, seed, seconds)
      catch {
        case e: RepeatedInput =>
          System.err.println(e.getMessage)
          sys.exit(3)
      }
    println(result)
    System.out.flush()
    // a failed output check fails the run
    if (!result.contains("\"correct\": true")) sys.exit(1)
  }

  def resultJson(passes: Seq[Pass], ms: Seq[(String, Double, String)]): String = {
    val attempted = passes.map(_.out.attempted).sum
    val failed = passes.map(_.out.failed).sum
    passes.flatMap(_.out.mismatches).foreach(m => System.err.println(s"output check failed: $m"))
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${metricJson(ms)}}"""
  }

  /** One untraced pass. It is the first thing the JVM does, so its
    * set-up includes session start and JIT warm-up, as a daily job's
    * would. One set-up per run keeps a run near 50 s. */
  def plainRun(work: String, w: String, seed: Long, seconds: Double): String = {
    val main = pass(work, w, seed, cores, traced = false, seconds, maxUnitsPerPass)
    val out = main.out
    named(w, out, out.setupS, peakRssMb, main.heapLiveMb, out.failed.toDouble / out.attempted)
    streamStats.foreach { case (k, u) =>
      out.stream.get(k).foreach(v => info(s"streaming.TickBarStream.$k", v, u)) }
    resultJson(Seq(main), Seq(
      ("items_per_s", out.items / out.itemsS, "1/s"),
      ("setup_s", out.setupS, "s")))
  }

  /** The raw spans of the traced passes, one JSON object per line. */
  def writeSpans(path: String, passes: Seq[(String, Int, Pass)]): Unit = {
    val lines = passes.flatMap { case (name, n, p) =>
      Trace.perSpan(p.tracer).map { case (s, st) =>
        s"""{"workload": "$name", "cores": $n, "id": ${s.id}, "parent": ${s.parent}, """ +
          s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
          s""""self_s": ${fmt(st.selfS)}, "driver_s": ${fmt(st.driverS)}, """ +
          s""""task_cpu_s": ${fmt(st.taskCpuS)}, "shuffle_mb": ${fmt(st.shuffleMb)}, """ +
          s""""spill_mb": ${fmt(st.spillMb)}, "task_skew": ${fmt(st.taskSkew)}}"""
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def traceRun(work: String, w: String, seed: Long, seconds: Double,
      spansOut: Option[String]): String = {
    // the other workloads traced for one unit, so that every layer
    // BENCHMARK.json names reports; running them first also warms the
    // JVM for the pair below
    val companions = if (!listed.contains(w)) Nil
      else workloads.filter(_ != w).map(o => o -> pass(work, o, seed, cores, traced = true,
        if (o == "tick_stream") streamCompanionS else 0, 1))
    // the named workload untraced, then traced over the same units: the
    // difference is the tracing overhead. One unit each when the
    // companions ran, to stay within the run's time limit.
    val plain = pass(work, w, seed, cores, traced = false, seconds / 2,
      if (companions.isEmpty) 2 else 1)
    val main = pass(work, w, seed, cores, traced = true, seconds / 2,
      if (w == "tick_stream") maxUnitsPerPass else plain.out.unitMs.size)
    // the single-core baseline, with the multi-core passes it compares to
    val baseline = !listed.contains(w) && singleCore.contains(w)
    val multi = (w -> main) +: (companions ++ (if (!baseline) Nil else singleCore.filter(_ != w)
      .map(o => o -> pass(work, o, seed, cores, traced = true, 0, 1))))
    val one = if (!baseline) Nil
      else singleCore.map(o => o -> pass(work, o, seed, 1, traced = true, seconds, 1))
    spansOut.foreach(writeSpans(_, multi.map { case (k, p) => (k, cores, p) } ++
      one.map { case (k, p) => (k, 1, p) }))

    // per-workload accounting: spanned self time plus other = traced loop
    multi.foreach { case (name, p) =>
      val stats = Trace.aggregate(p.tracer)
      val self = stats.values.map(_.selfS).sum
      info(s"$name.traced_loop_s", p.out.loopS, "s")
      info(s"$name.spanned_self_s", self, "s")
      info(s"$name.other_s", p.out.loopS - self, "s")
      stats.toSeq.sortBy(-_._2.selfS).foreach { case (k, st) =>
        info(s"$name.$k.self_s", st.selfS, "s", s""", "calls": ${st.calls}""")
      }
    }
    info(s"$w.trace_overhead_s", main.out.loopS - plain.out.loopS, "s",
      s""", "traced_s": ${fmt(main.out.loopS)}, "untraced_s": ${fmt(plain.out.loopS)}""")

    def combine(ps: Seq[Pass]): Map[String, LayerStats] =
      ps.map(p => Trace.aggregate(p.tracer)).flatMap(_.toSeq).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).reduce(_ + _) }
    val agg = combine(multi.map(_._2))
    val ms = mutable.ArrayBuffer.empty[(String, Double, String)]
    spanned.filter(agg.contains).foreach { k =>
      val st = agg(k)
      ms += ((s"$k.calls", st.calls.toDouble, "count"))
      ms += ((s"$k.self_s", st.selfS, "s"))
      ms += ((s"$k.driver_s", st.driverS, "s"))
      ms += ((s"$k.task_cpu_s", st.taskCpuS, "s"))
      if (shuffling.contains(k)) {
        ms += ((s"$k.shuffle_mb", st.shuffleMb, "MB"))
        ms += ((s"$k.spill_mb", st.spillMb, "MB"))
        ms += ((s"$k.task_skew", st.taskSkew, "ratio"))
      }
    }
    val outs = multi.map(_._2.out)
    ms += (("core.TableStore.bytes_written_mb", outs.map(_.bytesWritten).sum / 1048576.0, "MB"))
    ms += (("core.TableStore.files_written", outs.map(_.filesWritten).sum.toDouble, "count"))
    ms += (("core.TableStore.live_files", outs.map(_.liveFiles).sum.toDouble, "count"))
    if (agg.keySet.exists(_.startsWith("operators.Dedup.")))
      ms += (("operators.Dedup.pairs_out", multi.map(_._2.tracer).map(pairsOut).sum, "count"))
    multi.find(_._1 == "tick_stream").foreach { case (_, p) =>
      streamStats.foreach { case (k, u) => ms += ((s"streaming.TickBarStream.$k", p.out.stream(k), u)) }
    }
    val one1 = combine(one.map(_._2))
    val oneMulti = combine(multi.filter(p => one.exists(_._1 == p._1)).map(_._2))
    spanned.filter(one1.contains).foreach { k =>
      def perCall(m: Map[String, LayerStats]) = m.get(k).filter(_.calls > 0).map(s => s.selfS / s.calls)
      perCall(oneMulti).filter(_ > 0).foreach(b =>
        ms += ((s"$k.self_s_1c_over_${cores}c", perCall(one1).get / b, "ratio")))
    }
    ms += (("jvm.gc_s", multi.map(_._2.gcS).sum, "s"))
    ms += (("bench.other_s", multi.map { case (_, p) =>
      p.out.loopS - Trace.aggregate(p.tracer).values.map(_.selfS).sum }.sum, "s"))
    ms += (("bench.trace_overhead_s", main.out.loopS - plain.out.loopS, "s"))
    resultJson(Seq(main, plain) ++ companions.map(_._2) ++ one.map(_._2), ms.toSeq)
  }

  /** Rows the Dedup calls returned, from the spans' pinned counts. */
  def pairsOut(t: Tracer): Double = t.counts.getOrElse("operators.Dedup.pairs_out", 0L).toDouble
}
