package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{TableSpec, TableStore}

/** The bench's only call sites into the program: one thin adapter per
  * layer. Each call runs inside a span named `<module>.<Object>.<fn>`.
  * Operators return lazy plans, so an adapter pins and counts the
  * result inside its span — the work is then attributed to the layer
  * that defines it, and the caller releases the pin with `done`. The
  * pinning happens traced or not, so both runs do the same work. When
  * a program API changes, only the matching adapter changes. */
final class Layers(t: Tracer) {

  private def pinned(name: String, counter: String = "")(df: => DataFrame): DataFrame =
    t.span(name) {
      val r = df.persist()
      val n = r.count()
      if (counter.nonEmpty) t.count(counter, n)
      r
    }

  def done(dfs: DataFrame*): Unit = dfs.foreach(_.unpersist())

  object core {
    def upsert(store: TableStore, spec: TableSpec, batch: DataFrame): Unit =
      t.span("core.TableStore.upsert")(store.upsert(spec, batch, evictMovedKeys = false))
    def overwritePartitions(store: TableStore, spec: TableSpec, batch: DataFrame): Unit =
      t.span("core.TableStore.overwritePartitions")(store.overwritePartitions(spec, batch))
    def read(store: TableStore, spec: TableSpec): DataFrame =
      t.span("core.TableStore.read")(store.read(spec))
    def compact(store: TableStore, spec: TableSpec): Unit =
      t.span("core.TableStore.compact")(store.compact(spec, targetFileSizeBytes = 8L * 1024 * 1024))
    def fetchRanges(keys: DataFrame, existing: DataFrame, keyCols: Seq[String],
        dateCol: String, defaultStart: Column, dateTo: Column): DataFrame =
      pinned("core.IncrementalPlanner.fetchRanges")(graft.core.IncrementalPlanner
        .fetchRanges(keys, existing, keyCols, dateCol, defaultStart, dateTo))
    def materialize(df: => DataFrame, kind: String, key: String): DataFrame =
      t.span("core.Scratch.materialize")(graft.core.Scratch.materialize(df, kind, key))
  }

  object operators {
    /** Returns the pinned merge and the number of conflict rows. */
    def reconcileWithConflicts(left: DataFrame, right: DataFrame, keys: Seq[String],
        rules: Seq[(String, (Column, Column) => Column)],
        numericCols: Seq[String]): (DataFrame, Long) =
      t.span("operators.MergeOps.reconcileWithConflicts") {
        val (merged, conflicts) = graft.operators.MergeOps
          .reconcileWithConflicts(left, right, keys, rules, numericCols)
        val m = merged.persist()
        m.count()
        (m, conflicts.count())
      }
    def ticksToBars(ticks: DataFrame, keys: Seq[String], tsCol: String, seqCol: String,
        priceCol: String, volCol: String, window: String): DataFrame =
      pinned("operators.Resample.ticksToBars")(graft.operators.Resample
        .ticksToBars(ticks, keys, tsCol, seqCol, priceCol, volCol, window))
    def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
        leftTime: String, rightTime: String, valueCols: Seq[String]): DataFrame =
      pinned("operators.AsOfJoin.asofBackward")(graft.operators.AsOfJoin
        .asofBackward(left, right, keys, leftTime, rightTime, valueCols))
    def gopherQuality(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      pinned("operators.CorpusStats.gopherQuality")(graft.operators.CorpusStats
        .gopherQuality(docs, idCol, textCol))
    def minHashPairsWithinSigs(sigs: DataFrame, idCol: String, numHashes: Int,
        bands: Int, tau: Double): DataFrame =
      pinned("operators.Dedup.minHashPairsWithinSigs", "operators.Dedup.pairs_out")(graft.operators.Dedup
        .minHashPairsWithinSigs(sigs, idCol, numHashes, bands, tau))
    def minHashPairsBetweenSigs(batch: DataFrame, index: DataFrame, idCol: String,
        numHashes: Int, bands: Int, tau: Double): DataFrame =
      pinned("operators.Dedup.minHashPairsBetweenSigs", "operators.Dedup.pairs_out")(graft.operators.Dedup
        .minHashPairsBetweenSigs(batch, index, idCol, numHashes, bands, tau))
    def qualityBudgetCut(docs: DataFrame, idCol: String, scoreCol: String,
        tokensCol: String, budget: Long): DataFrame =
      pinned("operators.BudgetCut.qualityBudgetCut")(graft.operators.BudgetCut
        .qualityBudgetCut(docs, idCol, scoreCol, tokensCol, budget))
    /** The fused signature + hashed-shingle column the curation pipeline
      * stores with every doc (the same call e2e_corpus_curation makes). */
    def sigAndShingles(text: Column, numHashes: Int): Column =
      graft.operators.Dedup.sigAndHashedShingles(5, numHashes)(text)
    def lshShape(tau: Double): (Int, Int) = graft.operators.Dedup.lshAutoShape(tau, 0.99, 64)
  }

  object analytics {
    /** continuousSeries pins its own result. */
    def continuousSeries(spark: SparkSession, bars: DataFrame): DataFrame =
      t.span("analytics.ContinuousFutures.continuousSeries")(graft.analytics.ContinuousFutures
        .continuousSeries(spark, bars, graft.analytics.ContinuousFutures.Diff, cacheInput = false))
    def ytdToQuarterly(spark: SparkSession, reports: DataFrame): DataFrame =
      pinned("analytics.FinanceReports.ytdToQuarterly")(graft.analytics.FinanceReports
        .ytdToQuarterly(spark, reports))
  }

  object streaming {
    /** Starts the bar stream into the upserting sink. Its micro-batches
      * run on the stream's own thread; progress events, not spans,
      * measure them. */
    def barsToSink(ticks: DataFrame, store: TableStore, spec: TableSpec, name: String,
        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
      val bars = graft.streaming.TickBarStream.bars(ticks, Seq("code"), "ts", "seq", "price",
        windowDuration = "1 second", watermark = "2 seconds")
      graft.streaming.TickBarStream.upsertingSink(bars, store, spec, name)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
        .start()
    }
  }
}
