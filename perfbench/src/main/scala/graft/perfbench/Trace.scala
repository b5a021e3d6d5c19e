package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished span: a timed call into a layer, named
  * `<module>.<Object>.<fn>`, with the Spark work its jobs did. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long)

/** Per-stage task statistics, folded per job group (= span id). */
final class StageAcc {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Span recorder. Untraced, `span` only runs its body: no listener is
  * registered and no job group is set, so an untraced run does the same
  * work as the program would on its own. Traced, each span sets a Spark
  * job group named after its id, and the listeners below attribute
  * jobs, stages, tasks and streaming progress to it. Spans stay in
  * memory until the run ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var sc: SparkContext = _

  /** job id → (span id, start ns, end ns) */
  private val jobs = mutable.Map.empty[Int, (Long, Long, Long)]
  private val stageSpan = mutable.Map.empty[Int, Long]
  /** (span id, stage id) → accumulator */
  private val stages = mutable.Map.empty[(Long, Int), StageAcc]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val sid = group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong).getOrElse(0L)
      jobs(e.jobId) = (sid, System.nanoTime(), 0L)
      e.stageIds.foreach(s => stageSpan(s) = sid)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { case (s, t0, _) => jobs(e.jobId) = (s, t0, System.nanoTime()) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val sid = stageSpan.getOrElse(e.stageId, 0L)
        val acc = stages.getOrElseUpdate((sid, e.stageId), new StageAcc)
        acc.cpuNs += m.executorCpuTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        acc.taskMs += e.taskInfo.duration
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Streaming progress is needed for latency even untraced, so this
    * listener is attached in both modes; the Spark job listener only
    * when traced. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    spark.streams.addListener(streamListener)
    if (enabled) sc.addSparkListener(jobListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.streams.removeListener(streamListener)
    if (enabled) {
      // the listener bus is asynchronous: wait for queued task events
      // before reading the accumulators
      org.apache.spark.PerfbenchBus.waitUntilEmpty(sc, 30000L)
      sc.removeSparkListener(jobListener)
    }
  }

  /** Spans are recorded only while active: a workload turns this on
    * for its measured loop, so set-up and checks stay out of the
    * per-layer figures. */
  @volatile var active = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  /** Named counts, recorded like spans: only while traced and active. */
  val counts = mutable.Map.empty[String, Long]
  def count(name: String, n: Long): Unit =
    if (enabled && active) synchronized { counts(name) = counts.getOrElse(name, 0L) + n }

  def finished: Seq[Span] = synchronized(spans.toSeq)
  def jobTimes: Map[Int, (Long, Long, Long)] = synchronized(jobs.toMap)
  def stageAccs: Map[(Long, Int), StageAcc] = synchronized(stages.toMap)
}

/** Metrics of one span, or summed over the calls of one span name
  * (`taskSkew` is then the largest). */
final case class LayerStats(calls: Int, selfS: Double, driverS: Double,
    taskCpuS: Double, shuffleMb: Double, spillMb: Double, taskSkew: Double) {
  def +(o: LayerStats): LayerStats = LayerStats(calls + o.calls, selfS + o.selfS,
    driverS + o.driverS, taskCpuS + o.taskCpuS, shuffleMb + o.shuffleMb,
    spillMb + o.spillMb, math.max(taskSkew, o.taskSkew))
}

object Trace {

  /** Measure of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Every finished span with its own metrics. Self time is the span's
    * duration minus what its children cover; driver time is self time
    * with none of the span's own Spark jobs running; task figures sum
    * the stages of the span's jobs, and skew is the largest max/median
    * task time over those stages. */
  def perSpan(t: Tracer): Seq[(Span, LayerStats)] = {
    val spans = t.finished
    val kids = spans.groupBy(_.parent)
    val jobsBySpan = t.jobTimes.values.groupBy(_._1)
    val accsBySpan = t.stageAccs.toSeq.groupBy(_._1._1)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      val kidsBusy = covered(ch, s.startNs, s.endNs)
      val own = jobsBySpan.getOrElse(s.id, Nil).map { case (_, a, b) =>
        (a, if (b == 0L) s.endNs else b) }.toSeq
      val busy = covered(own, s.startNs, s.endNs)
      val accs = accsBySpan.getOrElse(s.id, Nil).map(_._2)
      val skews = accs.filter(_.taskMs.size >= 2).flatMap { a =>
        val sorted = a.taskMs.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) Some(sorted.last / med) else None
      }
      val selfNs = s.endNs - s.startNs - kidsBusy
      s -> LayerStats(1, selfNs / 1e9, math.max(0L, selfNs - busy) / 1e9,
        accs.map(_.cpuNs).sum / 1e9, accs.map(_.shuffleWriteBytes).sum / 1048576.0,
        accs.map(_.spillBytes).sum / 1048576.0, if (skews.isEmpty) 1.0 else skews.max)
    }
  }

  def aggregate(t: Tracer): Map[String, LayerStats] =
    perSpan(t).groupBy(_._1.name).map { case (k, v) => k -> v.map(_._2).reduce(_ + _) }
}
