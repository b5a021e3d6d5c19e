package graft.queries

import graft.analytics.RiskStats
import graft.core.Tables
import graft.operators.{Dedup, Resample, TopKSketch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 widening: return-series risk analytics over the orders "NAV"
  * series ([[graft.analytics.RiskStats]]), VWAP bars, cross-document
  * duplicated-passage spans (Lee et al. exact-substring dedup,
  * relational form), and the grouped heavy-hitters sketch.
  */
object RiskQueries {

  /** mm_audio_fp_pairs fixture: deterministic 16-frame × 128-sample
    * 5-tone PCM16 signal for a doc id (amplitudes md5-driven in
    * [400, 3000), Σ|A| ≤ 15000 so gain ×2 never clips int16). Top-level
    * so the synthesis UDFs reference it statically instead of closing
    * over the query lambda (whose SparkSession is not serializable);
    * AudioSpec mirrors it. */
  private[graft] def audioSynth(did: Long): Array[Short] = {
    val bins = Array(2, 5, 9, 14, 20)
    val out = new Array[Short](16 * 128)
    var n = 0
    while (n < 16) {
      val a = Array.tabulate(5)(m =>
        (graft.functions.Md5Hash.h1(s"aud:$did:$n:$m") % 2600 + 400).toDouble)
      var i = 0
      while (i < 128) {
        var x = 0.0
        var m = 0
        while (m < 5) {
          x += a(m) * math.sin(2 * math.Pi * bins(m) * i / 128.0); m += 1
        }
        out(n * 128 + i) = math.round(x).toShort
        i += 1
      }
      n += 1
    }
    out
  }
  /** mm_video_fp_pairs fixture: 16 deterministic 16×16 frames for a doc
    * id — a 4×4 grid of 4×4 constant gray blocks, intensity
    * md5(doc_id, frame, block) % 100 + 20 (≤ 119, so gain ×2 never
    * clamps at 255). Top-level for the same serialization reason as
    * [[audioSynth]]; VideoSpec mirrors it. */
  private[graft] def videoFrames(did: Long, gain: Int = 1,
      dropFirst: Boolean = false): IndexedSeq[(Int, Int) => Int] =
    IndexedSeq.tabulate(16) { n =>
      if (dropFirst && n == 0) (_: Int, _: Int) => 0
      else {
        // One md5 per 4×4 block, memoized at closure construction: the
        // mux evaluates f per PIXEL (16× per block), and the hash is
        // block-constant — identical pixel values, 16× fewer md5+string
        // allocations (the microbenched dominant of the old fixture).
        val block = Array.tabulate(16) { b =>
          val v = (graft.functions.Md5Hash.h1(
            s"vid:$did:$n:${b % 4}:${b / 4}") % 100 + 20).toInt * gain
          (v << 16) | (v << 8) | v
        }
        (x: Int, y: Int) => block((y / 4) * 4 + (x / 4))
      }
    }

  /** mm_mixed_media_pairs fixture: each doc's modality is doc_id % 3
    * (0 image, 1 audio, 2 video), reusing the per-modality synths; the
    * variant re-keys the SAME content through a layout change (PPM
    * re-encode / WAV re-mux / AVI re-mux — all exact fingerprint
    * invariants). Junk payloads are 16 concatenated md5-hex blocks —
    * mutually dissimilar by construction, so the byte SimHash separates
    * distinct junk docs while identical copies collide at hamming 0. */
  private[graft] def mixedRaster(did: Long): (Int, Int) => Int =
    mixedRaster(did, shift = 0)
  /** One md5 per 4×4 block, memoized at closure construction (the
    * encoders call the function per PIXEL — 16× per block; same fix as
    * [[videoFrames]]); `shift` adds a uniform brightness offset (the
    * mm_phash_pixels %29 variant — a pHash invariant by DCT linearity). */
  private[graft] def mixedRaster(did: Long, shift: Int): (Int, Int) => Int = {
    val block = Array.tabulate(64) { b =>
      val v = (graft.functions.Md5Hash.h1(
        s"img:$did:${b % 8}:${b / 8}") % 200 + 20).toInt + shift
      (v << 16) | (v << 8) | v
    }
    (x: Int, y: Int) => block((y / 4) * 8 + (x / 4))
  }
  private[graft] def mixedBase(did: Long): Array[Byte] = (did % 3) match {
    case 0 => graft.streaming.ImageCodec.encodeBmp(32, 32, mixedRaster(did))
    case 1 => graft.streaming.AudioCodec.encodeWav(audioSynth(did), 8000)
    case _ => graft.streaming.VideoCodec.encodeAvi(16, 16, videoFrames(did))
  }
  private[graft] def mixedVariant(did: Long): Array[Byte] = (did % 3) match {
    case 0 => graft.streaming.ImageCodec.encodePpm(32, 32, mixedRaster(did))
    case 1 => graft.streaming.AudioCodec.encodeWav(audioSynth(did), 8000, extraChunk = true)
    case _ => graft.streaming.VideoCodec.encodeAvi(16, 16, videoFrames(did), extraChunk = true)
  }
  private[graft] def mixedJunk(did: Long): Array[Byte] =
    (0 until 16).map(i => f"${graft.functions.Md5Hash.h1(s"junk:$did:$i")}%016x")
      .mkString.getBytes("UTF-8")

  private type Q = (SparkSession, String) => DataFrame

  /** Per-order simple returns vs the market-aggregate return, both
    * clamped + micro-scaled — shared front half of fin_rolling_beta.
    * The "market" series is the per-date total notional of ALL orders
    * (the index the customers trade inside), so its return exists for
    * every order date.
    */
  private def microReturns(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
    val asset = RiskStats.simpleReturns(orders, col("o_custkey"), col("od"),
      col("o_orderkey"), col("o_totalprice"))
    val mktNav = orders.groupBy(col("od"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("__nav"))
    val mkt = mktNav
      .withColumn("mret",
        col("__nav") / lag(col("__nav"), 1).over(Window.orderBy(col("od"))) - lit(1.0))
      .filter(col("mret").isNotNull)
      .select(col("od"), col("mret"))
    asset.join(mkt, Seq("od"))
      .select(col("o_orderkey"), col("o_custkey"), col("od"),
        RiskStats.toMicro(col("ret")).as("ret_micro"),
        RiskStats.toMicro(col("mret")).as("mret_micro"))
  }

  /** Shared runner for the streaming heavy-hitters fold (see the
    * stream_topk_upsert / stream_topk_recovery query comments).
    * Partitioned by group and OVERWRITTEN per batch (not PK-upserted):
    * the Misra–Gries trim can DROP tokens from a group's sketch, and a
    * PK upsert cannot delete — a trimmed token would linger with a
    * stale count and resurrect in the next merge, breaking both the
    * groups × capacity size bound and the error-bound bookkeeping.
    * Each folded batch carries every group it read, so the partition
    * overwrite replaces exactly the sketches it recomputed.
    * `injectCrash=true` runs the stream_recovery protocol: a checkpoint,
    * an exception after batch 0's store commit, and a restart from the
    * same checkpoint that replays batch 0.
    */
  private def runTopkStream(s: SparkSession, d: String, tag: String,
      injectCrash: Boolean): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val ev = s.read.parquet(s"$d/events.parquet")
    val streamDir = DomainQueries.stageParityHalves(s, ev, "event_id",
      s"graft_stream_${tag}_src")
    val storeDir = graft.core.Scratch.queryDir(s"stream_${tag}_store")
    val ckptDir = graft.core.Scratch.queryDir(s"stream_${tag}_ckpt")
    Seq(storeDir, ckptDir).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val store = new graft.core.TableStore(s, storeDir)
    val spec = graft.core.TableSpec("topk_sketch", Seq("grp", "token"),
      partitionBy = Seq("grp"))
    @volatile var injected = false
    def fold(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long): Unit = {
      // ExactlyOnce: count merges are additive, so a replayed batch
      // (at-least-once foreachBatch) must no-op instead of re-folding.
      if (!graft.streaming.ExactlyOnce.alreadyApplied(store, spec, batchId) &&
          !batch.isEmpty) {
        val batchRows = batch.toDF()
          .select(col("event_type").as("group"), col("user_id").cast("string").as("token"),
            lit(1L).as("cnt"))
        val unioned =
          if (store.exists(spec))
            store.read(spec).select(col("grp").as("group"), col("token"), col("cnt"))
              .unionByName(batchRows)
          else batchRows
        val folded = TopKSketch.mergePartials(unioned,
          col("group"), col("token"), col("cnt"), capacity = 4096)
        store.overwritePartitions(spec,
          folded.select(col("group").as("grp"), col("token"), col("cnt")),
          props = graft.streaming.ExactlyOnce.applied(batchId))
      }
      if (injectCrash && !injected && batchId == 0) {
        injected = true
        throw new graft.streaming.InjectedCrash(
          "injected crash: fold committed, batch not committed")
      }
    }
    def run(crashRun: Boolean): Unit =
      graft.streaming.TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
        val q = raw.writeStream.outputMode("update")
          .queryName(s"graft_stream_$tag")
          .option("checkpointLocation", ckptDir)
          .foreachBatch(fold _).start()
        if (crashRun) graft.streaming.InjectedCrash.drainCrashed(q)
        else try q.processAllAvailable() finally q.stop()
      }
    if (injectCrash) {
      run(crashRun = true)
      require(injected, "crash injection never fired — recovery untested")
    }
    run(crashRun = false)
    val ranked = store.read(spec)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("cnt").desc, col("token").asc))
        .cast("long"))
      .filter(col("rank") <= 10)
    ranked.select(col("grp").as("event_type"), col("token").as("user_id"),
        col("cnt"), col("rank"))
      .orderBy(col("event_type"), col("rank"))
  }

  val queries: Map[String, Q] = Map(
    "fin_max_drawdown" -> ((s, d) =>
      RiskStats.maxDrawdown(Tables.orders(s, d), col("o_custkey"),
          to_date(col("o_orderdate")), col("o_orderkey"), col("o_totalprice"))
        .filter(col("n_obs") >= 3)
        .select(col("series_key").as("o_custkey"), col("n_obs"),
          col("max_drawdown"), col("trough_date"))
        .orderBy(col("o_custkey"))),

    "fin_rolling_beta" -> ((s, d) =>
      RiskStats.rollingBeta(microReturns(s, d), col("o_custkey"), col("od"),
          col("o_orderkey"), col("ret_micro"), col("mret_micro"), n = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("od"), col("beta"))
        .orderBy(col("o_orderkey"))),

    "fin_spearman_ic" -> ((s, d) => {
      // Cross-section: does a customer's account balance (the "factor")
      // rank-predict the month's spend (the "outcome")?
      val spend = Tables.orders(s, d)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("m"),
          col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
      val joined = spend.join(
        Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
        spend("o_custkey") === col("c_custkey"))
      RiskStats.spearmanIC(joined, col("m"), col("o_custkey"),
          col("c_acctbal"), col("spend"), minN = 3)
        .select(col("bucket").as("m"), col("n"), col("ic"))
        .orderBy(col("m"))
    }),

    "fin_risk_report" -> ((s, d) => {
      // The composite per-entity risk report (the k8b_worst_fund
      // describe() pattern widened): endpoint cumulative return, exact
      // micro-unit mean return, jr4 volatility, Sharpe-style ratio of
      // the two rounded stats, and max drawdown — three aggregation
      // trees joined on the entity key.
      val orders = Tables.orders(s, d).select(col("o_custkey"),
        to_date(col("o_orderdate")).as("od"), col("o_orderkey"), col("o_totalprice"))
      val rets = RiskStats.simpleReturns(orders, col("o_custkey"), col("od"),
        col("o_orderkey"), col("o_totalprice"))
      val stats = rets.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_rets"),
          sum(RiskStats.toMicro(col("ret"))).as("__sm"),
          round(stddev_samp(col("ret")), 4).as("vol"))
        .withColumn("mean_ret",
          round((col("__sm").cast("double") / lit(1000000.0)) /
            col("n_rets").cast("double"), 6))
        .withColumn("sharpe",
          when(col("vol") =!= 0.0, round(col("mean_ret") / col("vol"), 6)))
      val eps = orders.groupBy(col("o_custkey"))
        .agg(min_by(col("o_totalprice"),
            struct(col("od"), col("o_orderkey"))).as("__first"),
          max_by(col("o_totalprice"),
            struct(col("od"), col("o_orderkey"))).as("__last"))
        .withColumn("cum_ret", round(col("__last") / col("__first") - lit(1.0), 6))
      val dd = RiskStats.maxDrawdown(orders, col("o_custkey"), col("od"),
          col("o_orderkey"), col("o_totalprice"))
        .select(col("series_key").as("o_custkey"), col("n_obs"),
          round(col("max_drawdown"), 6).as("max_drawdown"))
      dd.join(stats, Seq("o_custkey")).join(eps, Seq("o_custkey"))
        .filter(col("n_obs") >= 8)
        .select(col("o_custkey"), col("n_obs"), col("cum_ret"), col("mean_ret"),
          col("vol"), col("sharpe"), col("max_drawdown"))
        .orderBy(col("o_custkey"))
    }),

    "fin_zscore_xsection" -> ((s, d) => {
      // Cross-sectional standardization — the factor-normalization pass
      // before any rank/IC consumer: z = (x − mean) / std inside each
      // monthly universe. Mean is exact (micro-unit long sum / count);
      // std is jr4-rounded on both engines (the k8b pattern); the final
      // per-row division is deterministic IEEE on identical operands.
      // One agg + one broadcast join back — the winsorize shape.
      val spend = Tables.orders(s, d)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("m"),
          col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("x"))
      // x is exactly 2-decimal (decimal sum), so x·100 is an integer-
      // valued double: the cent sum is exact with no rounding boundary.
      val stats = spend.groupBy(col("m"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("x") * lit(100.0), 0).cast("long")).as("__sc"),
          round(stddev_samp(col("x")), 4).as("__sd"))
        .filter(col("n") >= 3 && col("__sd") =!= 0.0)
        .withColumn("__mean",
          (col("__sc").cast("double") / lit(100.0)) / col("n").cast("double"))
      spend.join(broadcast(stats), Seq("m"))
        .select(col("m"), col("o_custkey"), col("x"),
          round((col("x") - col("__mean")) / col("__sd"), 6).as("z"))
        .orderBy(col("m"), col("o_custkey"))
    }),

    "fin_backtest_pnl" -> ((s, d) => {
      // Long-short decile backtest — the factor-research loop the
      // reference's report stack feeds (rank a universe by a factor,
      // trade the extremes, track cumulative PnL): rank each month's
      // customers by PRIOR spend (the factor), long the top ntile(10)
      // decile / short the bottom, portfolio return = mean(long rets) −
      // mean(short rets), cumulative PnL = ordered running sum. Numeric
      // policy: rets are clamped micro-unit longs (exact integer sums),
      // the per-month means divide once, and the running sum adds
      // identical doubles in the same month order on both engines.
      val spend = Tables.orders(s, d)
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("m"),
          col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("x"))
      val wCust = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
      val rets = spend.withColumn("px", lag(col("x"), 1).over(wCust))
        .filter(col("px").isNotNull)
        .withColumn("ret_micro", RiskStats.toMicro(col("x") / col("px") - lit(1.0)))
      val wM = Window.partitionBy(col("m")).orderBy(col("px"), col("o_custkey"))
      val deciles = rets
        .withColumn("d", ntile(10).over(wM))
        .withColumn("n_m", count(lit(1)).over(Window.partitionBy(col("m"))))
        .filter(col("n_m") >= 20)
      val ls = deciles.groupBy(col("m"))
        .agg(sum(when(col("d") === 10, 1L).otherwise(0L)).as("n_long"),
          sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_short"),
          sum(when(col("d") === 10, col("ret_micro"))).as("__sl"),
          sum(when(col("d") === 1, col("ret_micro"))).as("__ss"))
        .withColumn("ls_ret", round(
          (col("__sl").cast("double") / col("n_long").cast("double") -
            col("__ss").cast("double") / col("n_short").cast("double")) /
            lit(1000000.0), 6))
      ls.withColumn("cum_ret",
          round(sum(col("ls_ret")).over(
            Window.orderBy(col("m")).rowsBetween(Window.unboundedPreceding, 0)), 6))
        .select(col("m"), col("n_long"), col("n_short"), col("ls_ret"), col("cum_ret"))
        .orderBy(col("m"))
    }),

    "fin_var_es" -> ((s, d) => {
      // Historical VaR / Expected Shortfall per entity: VaR95 = the
      // k-th smallest return with k = ceil(0.05·n) (rank over exact
      // micro units with an id tie-break — fully deterministic), ES95 =
      // exact mean of the k tail returns (integer sum / k). The
      // risk-limit pair every reference report stack ends at. One
      // entity-key shuffle; the rank window and tail aggregation share
      // it. ceil runs on a 1e-9-slacked product (the threshold-join
      // fp-soundness rule).
      val orders = Tables.orders(s, d).select(col("o_custkey"),
        to_date(col("o_orderdate")).as("od"), col("o_orderkey"), col("o_totalprice"))
      val rets = RiskStats.simpleReturns(orders, col("o_custkey"), col("od"),
          col("o_orderkey"), col("o_totalprice"))
        .withColumn("m", RiskStats.toMicro(col("ret")))
      val wR = Window.partitionBy(col("o_custkey"))
        .orderBy(col("m"), col("o_orderkey"))
      val ranked = rets
        .withColumn("rk", row_number().over(wR))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_custkey"))))
        .filter(col("n") >= 10)
        .withColumn("k", ceil(lit(0.05) * col("n") - lit(1e-9)))
      ranked.filter(col("rk") <= col("k"))
        .groupBy(col("o_custkey"))
        .agg(max(col("n")).as("n"), max(col("k")).as("k_tail"),
          max(col("m")).as("__var_micro"), sum(col("m")).as("__tail_sum"))
        .withColumn("var95",
          round(col("__var_micro").cast("double") / lit(1000000.0), 6))
        .withColumn("es95", round(
          (col("__tail_sum").cast("double") / col("k_tail").cast("double")) /
            lit(1000000.0), 6))
        .select(col("o_custkey"), col("n"), col("k_tail"), col("var95"), col("es95"))
        .orderBy(col("o_custkey"))
    }),

    "fin_corr_matrix" -> ((s, d) => {
      // Pairwise correlation matrix of the weekly revenue-growth series
      // per return flag — the full-sample companion to fin_rolling_beta.
      // Exact decimal co-moment sums; see [[RiskStats.corrMatrix]].
      val wk = Tables.lineitem(s, d)
        .groupBy(to_date(date_trunc("week", col("l_shipdate"))).as("w"),
          col("l_returnflag").as("f"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("x"))
      val wW = Window.partitionBy(col("f")).orderBy(col("w"))
      val rets = wk.withColumn("px", lag(col("x"), 1).over(wW))
        .filter(col("px").isNotNull)
        .withColumn("m", RiskStats.toMicro(col("x") / col("px") - lit(1.0)))
      RiskStats.corrMatrix(rets, col("f"), col("w"), col("m"))
        .select(col("key_a").as("flag_a"), col("key_b").as("flag_b"),
          col("n"), round(col("corr"), 6).as("corr"))
        .orderBy(col("flag_a"), col("flag_b"))
    }),

    "fin_vwap_bars" -> ((s, d) =>
      Resample.vwapBars(Tables.lineitem(s, d),
          to_date(date_trunc("week", col("l_shipdate"))),
          Seq(col("l_returnflag")),
          col("l_extendedprice"), col("l_quantity"))
        .select(col("bucket").as("wk"), col("l_returnflag"), col("volume"),
          col("amount"), col("n_ticks"), col("vwap"))
        .orderBy(col("wk"), col("l_returnflag"))),

    "dd_cross_doc_spans" -> ((s, d) =>
      Dedup.crossDocSpans(Tables.scatter(Tables.documents(s, d)),
          "doc_id", "text", n = 8, minDf = 2)
        .orderBy(col("doc_id"), col("span_start"))),

    "mm_media_dedup" -> ((s, d) => {
      // Binary-payload exact dedup — the first pass of any multimodal
      // ingest (identical images/videos re-crawled under different ids):
      // content-hash the opaque payload partition-wise (the
      // extractFeatures kernel), group on the 16-byte digest, keep the
      // lowest id, report the reclaimable bytes. Identical payloads have
      // identical sizes, so wasted = (copies − 1) × size. The payload
      // here is the 5-token text prefix (full texts never collide in
      // this corpus — the prefix plays the re-crawled-thumbnail role and
      // gives the gate real duplicate groups at every SF).
      val docs = Tables.scatter(Tables.documents(s, d))
        .withColumn("payload", concat_ws(" ",
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5)).cast("binary"))
      graft.streaming.MultimodalPipeline.extractFeatures(s, docs, "doc_id", "payload")
        .groupBy(col("content_md5"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keep_id"),
          max(col("n_bytes")).as("n_bytes"))
        .filter(col("n_copies") >= 2)
        .withColumn("wasted_bytes", (col("n_copies") - 1) * col("n_bytes"))
        .select(col("content_md5"), col("n_copies"), col("keep_id"), col("wasted_bytes"))
        .orderBy(col("keep_id"))
    }),

    "mm_phash_neardup" -> ((s, d) => {
      // Media NEAR-dup pairs — what the exact content-hash pass above
      // cannot catch (re-encoded thumbnails, slightly-corrupted
      // re-crawls): perceptual signature over the binary payload →
      // banded hamming self-join (the SimHash LSH machinery, shared
      // kernel). Payload = 10-token text prefix as bytes (the honest
      // codec stub); a deterministic mutated slice (doc_id % 23, one
      // token appended, re-keyed) plants true near-dups so the pair
      // semantics are exercised at every SF — the oracle injects
      // identically and replays signature, banding, cap, and verify.
      import graft.functions.TextFunctions
      val base = Tables.documents(s, d)
        .select(col("doc_id"), concat_ws(" ",
          slice(TextFunctions.tokens(col("text")), 1, 10)).cast("binary").as("payload"))
      val mutated = Tables.documents(s, d).filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 10)),
            lit(" z")).cast("binary").as("payload"))
      graft.core.Scratch.materialize(
        graft.streaming.MultimodalPipeline.phashNearDupPairs(
          base.unionAll(mutated), "doc_id", "payload", maxHamming = 12, bands = 4),
        "phash_pairs", d)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "mm_phash_pixels" -> ((s, d) => {
      // PIXEL perceptual near-dups — the real-codec path the byte
      // signature above cannot cover: each doc gets a deterministic
      // 32×32 image (8×8 grid of 4×4 blocks, intensity
      // md5(doc_id, block) % 200 + 20), encoded as 24-bit BMP; planted
      // variants re-key the SAME raster through a DIFFERENT encoding
      // (PPM, doc_id % 17), per-pixel noise (6 hash-chosen pixels ± 2,
      // doc_id % 23), and a uniform +8 brightness shift (doc_id % 29 —
      // intensities ≤ 219 so no clamp). The pipeline DECODES the bytes
      // and DCT-pHashes the raster, so re-encode and brightness copies
      // hash identically (same pixels / AC coefficients unchanged by a
      // constant shift — DCT linearity), noise copies land within
      // hamming ≤ bands − 1 = 3 (guaranteed band collision), and
      // distinct images share no band bucket (verified at every SF;
      // MultimodalSpec pins the hash-level facts). The oracle is the
      // resulting pair STRUCTURE — the complete graph over each doc's
      // copy set — which is exactly what those invariants force; hash
      // VALUES are pinned by spec, not SQL (a 32-point DCT has no
      // faithful DuckDB replay).
      // all four share the block-memoized raster (identical pixel values
      // to the original per-pixel form; 16× fewer md5s — the video
      // fixture lesson applied to images)
      val mkBmp = udf { did: Long =>
        graft.streaming.ImageCodec.encodeBmp(32, 32, mixedRaster(did)) }
      val mkPpm = udf { did: Long =>
        graft.streaming.ImageCodec.encodePpm(32, 32, mixedRaster(did)) }
      val mkNoise = udf { did: Long =>
        val base = mixedRaster(did)
        val px = Array.tabulate(32, 32)((y, x) => base(x, y) & 0xff)
        for (k <- 0 until 6) {
          val x = (graft.functions.Md5Hash.h1(s"nx:$did:$k") % 32).toInt
          val y = (graft.functions.Md5Hash.h1(s"ny:$did:$k") % 32).toInt
          val dl = if (graft.functions.Md5Hash.h1(s"nd:$did:$k") % 2 == 0) 2 else -2
          px(y)(x) = math.min(255, math.max(0, px(y)(x) + dl))
        }
        graft.streaming.ImageCodec.encodeBmp(32, 32, (x, y) =>
          (px(y)(x) << 16) | (px(y)(x) << 8) | px(y)(x))
      }
      val mkBright = udf { did: Long =>
        graft.streaming.ImageCodec.encodeBmp(32, 32, mixedRaster(did, shift = 8)) }
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val corpus = ids.select(col("doc_id"), mkBmp(col("doc_id")).as("payload"))
        .unionAll(ids.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), mkPpm(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), mkNoise(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), mkBright(col("doc_id")).as("payload")))
      graft.core.Scratch.materialize(
        graft.streaming.MultimodalPipeline.phashPixelPairs(
          corpus, "doc_id", "payload", maxHamming = 10, bands = 4),
        "phash_pixel_pairs", d)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "mm_audio_fp_pairs" -> ((s, d) => {
      // SIGNAL perceptual near-dups — the audio twin of the pixel query:
      // each doc gets a deterministic 2048-sample PCM16 signal (16
      // frames × 128 samples, 5 tones at frame bins 2/5/9/14/20 with
      // md5(doc_id, frame, band)-driven amplitudes in [400, 3000)),
      // encoded as WAV; planted variants re-wrap the SAME samples with
      // an inserted LIST metadata chunk (doc_id % 17 — the re-encode),
      // double every sample (doc_id % 23 — gain ×2, an EXACT fingerprint
      // invariant by IEEE power-of-2 homogeneity; Σ|A| ≤ 15000 so ×2
      // never clips), and zero the first frame (doc_id % 29 — dropout;
      // frame 0 feeds only frame-pair 0's 4 bits, all in LSH band 0, so
      // banding with maxHamming = 4 is pigeonhole-guaranteed recall).
      // The pipeline DECODES the WAV (chunk walk skips the metadata) and
      // fingerprints band-energy-sign patterns, so all three variants
      // pair with their base while distinct signals stay separate
      // (verified at every SF; AudioSpec pins the fingerprint-level
      // facts). The oracle is the forced pair STRUCTURE — a Goertzel
      // recursion has no faithful DuckDB replay.
      val mkWav = udf { did: Long =>
        graft.streaming.AudioCodec.encodeWav(audioSynth(did), 8000) }
      val mkChunked = udf { did: Long =>
        graft.streaming.AudioCodec.encodeWav(audioSynth(did), 8000, extraChunk = true) }
      val mkGain = udf { did: Long =>
        graft.streaming.AudioCodec.encodeWav(audioSynth(did).map(v => (v * 2).toShort), 8000) }
      val mkDrop = udf { did: Long =>
        val sm = audioSynth(did)
        java.util.Arrays.fill(sm, 0, 128, 0.toShort)
        graft.streaming.AudioCodec.encodeWav(sm, 8000)
      }
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val corpus = ids.select(col("doc_id"), mkWav(col("doc_id")).as("payload"))
        .unionAll(ids.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), mkChunked(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), mkGain(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), mkDrop(col("doc_id")).as("payload")))
      graft.core.Scratch.materialize(
        graft.streaming.MultimodalPipeline.audioFingerprintPairs(
          corpus, "doc_id", "payload", maxHamming = 4, bands = 4),
        "audio_fp_pairs", d)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "mm_video_fp_pairs" -> ((s, d) => {
      // FRAME perceptual near-dups — the video leg of the multimodal
      // triad (pixels / signal / frames): each doc gets a deterministic
      // 16-frame 16×16 video (4×4 grid of 4×4 gray blocks, intensity
      // md5(doc_id, frame, block) % 100 + 20), muxed as uncompressed
      // 24-bit AVI; planted variants re-mux the SAME frames with an
      // inserted LIST metadata chunk (doc_id % 17 — the re-mux), double
      // every pixel (doc_id % 23 — gain ×2, an EXACT fingerprint
      // invariant by IEEE power-of-2 homogeneity of the integer-luma
      // sums; intensities ≤ 119 so ×2 never clamps), and zero the first
      // frame (doc_id % 29 — dropout; with 16 frames = 16 temporal
      // groups, frame 0 feeds only group-pair 0's 4 bits, all in LSH
      // band 0, so banding with maxHamming = 4 is pigeonhole-guaranteed
      // recall). The pipeline DECODES the AVI (chunk walk skips the
      // metadata list) and fingerprints region-luminance sign patterns,
      // so all three variants pair with their base while distinct
      // videos stay separate (verified at every SF; VideoSpec pins the
      // fingerprint-level facts). The oracle is the forced pair
      // STRUCTURE — a region-energy recursion has no faithful DuckDB
      // replay.
      val mkAvi = udf { did: Long =>
        graft.streaming.VideoCodec.encodeAvi(16, 16, videoFrames(did)) }
      val mkMux = udf { did: Long =>
        graft.streaming.VideoCodec.encodeAvi(16, 16, videoFrames(did), extraChunk = true) }
      val mkGain = udf { did: Long =>
        graft.streaming.VideoCodec.encodeAvi(16, 16, videoFrames(did, gain = 2)) }
      val mkDrop = udf { did: Long =>
        graft.streaming.VideoCodec.encodeAvi(16, 16, videoFrames(did, dropFirst = true)) }
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val corpus = ids.select(col("doc_id"), mkAvi(col("doc_id")).as("payload"))
        .unionAll(ids.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), mkMux(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), mkGain(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), mkDrop(col("doc_id")).as("payload")))
      graft.core.Scratch.materialize(
        graft.streaming.MultimodalPipeline.videoFingerprintPairs(
          corpus, "doc_id", "payload", maxHamming = 4, bands = 4),
        "video_fp_pairs", d)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "mm_mixed_media_pairs" -> ((s, d) => {
      // The MIXED corpus — the production shape the three per-format
      // queries factor out: every doc carries one payload whose format
      // is doc_id % 3 (BMP image / WAV audio / AVI video), %17 docs add
      // a layout-changed copy of the SAME content (PPM re-encode / WAV
      // re-mux / AVI re-mux — exact fingerprint invariants, hamming 0),
      // and %41 docs add a junk (non-media) payload plus its identical
      // byte copy. ONE pass sniffs containers, fingerprints each payload
      // with its own codec, and ONE banded join — format-BLOCKED, so
      // cross-format pairs are impossible by construction — returns the
      // pair set. Distinct docs stay separate per the per-format
      // separation already verified at every SF with these same synths;
      // junk docs are md5-hex chains, mutually dissimilar by design.
      // Oracle = the forced pair structure.
      val mkBase = udf { did: Long => mixedBase(did) }
      val mkVar = udf { did: Long => mixedVariant(did) }
      val mkJunk = udf { did: Long => mixedJunk(did) }
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val corpus = ids.select(col("doc_id"), mkBase(col("doc_id")).as("payload"))
        .unionAll(ids.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), mkVar(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"), mkJunk(col("doc_id")).as("payload")))
        .unionAll(ids.filter(col("doc_id") % 41 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"), mkJunk(col("doc_id")).as("payload")))
      graft.core.Scratch.materialize(
        graft.streaming.MultimodalPipeline.mediaFingerprintPairs(
          corpus, "doc_id", "payload", maxHamming = 4, bands = 4),
        "mixed_media_pairs", d)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "v_ivf_persisted" -> ((s, d) => {
      // The production serve path: an index-building job persists the
      // trained IVF model (centroids) through the keyed store; a
      // separate serving job reads it back and searches. Parquet
      // round-trips doubles exactly, so the persisted search must be
      // bit-identical to the in-memory one — the oracle replays the
      // same IVF search the centroids feed.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val storeDir = graft.core.Scratch.queryDir("ivf_index_store")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
      val store = new graft.core.TableStore(s, storeDir)
      val spec = graft.core.TableSpec("ivf_centroids", Seq("cent_id"))
      store.upsert(spec, centroids)
      val loaded = store.read(spec).select(col("cent_id"), col("cv"))
      graft.operators.Similarity.ivfSearch(
        e.filter(col("vec_id") < 20), e,
        qId = "vec_id", qVec = "v", cId = "vec_id", cVec = "v",
        loaded, "cent_id", "cv",
        nprobe = 2, k = 3, rankRound = Some(6))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "j8b_asof_tolerance" -> ((s, d) => {
      // pandas merge_asof(tolerance=...) semantics: each event sees the
      // user's latest purchase at-or-before its timestamp ONLY if that
      // purchase is at most 24h old — staler state reads as no match.
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("value").as("recent_purchase_value"))
      graft.operators.AsOfJoin.asofBackwardWithin(ev, purchases, Seq("user_id"),
          leftTime = "ts", rightTime = "p_ts",
          valueCols = Seq("recent_purchase_value"),
          maxStaleness = expr("INTERVAL 24 HOURS"))
        .select("event_id", "user_id", "ts", "event_type", "recent_purchase_value")
        .orderBy(col("event_id"))
    }),

    "stream_topk_upsert" -> ((s, d) => {
      // Streaming heavy-hitters upkeep (the stream_hll_upsert contract
      // for the frequent-items sketch): each micro-batch folds its
      // token stream into a persisted capacity-bounded sketch via
      // `store ← mergePartials(store ∪ batch rows)`. Counts are
      // additive in the exact regime (capacity 4096 ≥ distinct users at
      // any test SF), so after two parity-split batches the stored
      // sketch must equal the whole-corpus build — which is exactly the
      // exact-top-k SQL the oracle runs. Store size: groups × capacity
      // rows regardless of stream volume. Count merges are additive and
      // thus NOT replay-idempotent, so the fold rides the ExactlyOnce
      // applied-batchId guard (crash-proven by stream_topk_recovery).
      runTopkStream(s, d, tag = "topk", injectCrash = false)
    }),

    "stream_topk_recovery" -> ((s, d) => {
      // §2.11 crash-recovery proof for the sketch fold: checkpointed run,
      // injected crash after batch 0's partition overwrite committed but
      // before the engine commits the batch, restart from the same
      // checkpoint. The replayed batch 0 would re-union its counts into
      // the stored sketch (doubling every batch-0 contribution — the
      // exact-regime top-10 and counts would shift) unless the
      // ExactlyOnce guard no-ops it. Oracle: the unchanged whole-corpus
      // exact top-k.
      runTopkStream(s, d, tag = "topk_rec", injectCrash = true)
    }),

    "dd_incremental_spans" -> ((s, d) => {
      // Batch-vs-corpus exact-substring dedup (the dd_incremental_index
      // contract for passages): the accepted corpus contributes only its
      // DISTINCT gram-fingerprint set; the incoming batch's spans that
      // replicate any corpus passage come back for scrubbing. The corpus
      // text never re-tokenizes on ingest.
      val all = Tables.scatter(Tables.documents(s, d))
      val corpus = all.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = all.filter(pmod(col("doc_id"), lit(5)) === 0)
      val index = Dedup.gramFingerprints(corpus, "doc_id", "text", n = 8)
        .select(col("h")).distinct()
      Dedup.crossDocSpansAgainstIndex(index, batch, "doc_id", "text", n = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "dd_span_scrub" -> ((s, d) =>
      Dedup.scrubCrossDocSpans(Tables.scatter(Tables.documents(s, d)),
          "doc_id", "text", n = 8, minDf = 2)
        .orderBy(col("doc_id"))),

    "t_novelty_score" -> ((s, d) => {
      // Per-doc n-gram novelty vs a reference slice: build a Bloom
      // filter over the reference sources' distinct 8-gram shingles
      // (model-sized broadcast), probe every candidate doc's shingles
      // with the codegen'd expression — zero joins against the
      // reference at any corpus size — and score novelty = fraction of
      // distinct grams the reference has (probably) never seen. False
      // positives only LOWER novelty (safe direction for "keep novel
      // data" curation), and the oracle replays them bit-for-bit.
      val refSources = Seq("src0", "src1", "src2", "src3", "src4")
      val shingle = Dedup.wordShingleSet(8)
      val ref = Tables.documents(s, d)
        .filter(col("source").isin(refSources: _*))
        .select(explode(shingle(col("text"))).as("g")).distinct()
      val sketch = graft.operators.Sketches.bloomBuild(ref, col("g"),
        mBits = 1L << 20, k = 5)
      val cand = Tables.scatter(Tables.documents(s, d))
        .filter(!col("source").isin(refSources: _*))
        .select(col("doc_id"), explode(shingle(col("text"))).as("g"))
      graft.operators.Sketches.bloomMightContain(sketch, cand, col("g"),
          mBits = 1L << 20, k = 5)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_seen"))
        .withColumn("novelty",
          lit(1.0) - col("n_seen").cast("double") / col("n_grams").cast("double"))
        .orderBy(col("doc_id"))
    }),

    "t_heavy_hitters" -> ((s, d) =>
      // capacity 64 > the corpus vocabulary → exact regime (oracled);
      // the approx regime's error bound is pinned in RiskStatsSpec.
      TopKSketch.topK(
          Tables.scatter(Tables.documents(s, d))
            .select(col("lang"),
              explode(graft.functions.TextFunctions.tokens(lower(col("text")))).as("tok")),
          "lang", col("tok"), capacity = 64, k = 10)
        .orderBy(col("lang"), col("rank")))
  )

  private val toksLower =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> len(x) > 0)"""
  private val toksRaw =
    """list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)"""

  /** Shared span-detection CTE block (n = 8, minDf = 2): tokenize,
    * 8-gram fingerprints, ≥2-doc filter, hit positions, gaps-and-islands
    * — the front half of BOTH dd_cross_doc_spans and dd_span_scrub, so
    * a fix to the gram window or island rule lands in one place.
    */
  private val spanCtes =
    s"""WITH toks AS (SELECT doc_id, $toksRaw AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, i, md5(array_to_string(t[i:i+7], ' ')) AS h
      |  FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)),
      |dup AS (SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT DISTINCT g.doc_id, g.i FROM grams g JOIN dup USING (h)),
      |isl AS (SELECT doc_id, i,
      |    sum(CASE WHEN prev IS NULL OR i > prev + 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY i) AS island
      |  FROM (SELECT doc_id, i,
      |      lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM hits) s)""".stripMargin

  /** Micro-unit return: clamp to [-0.99, 9.99], scale 1e6, round with
    * Spark's shortest-decimal HALF_UP semantics (Oracles.jr at scale 0).
    */
  private def microSql(r: String): String =
    s"CAST(${Oracles.jr(s"least(greatest($r, -0.99), 9.99) * 1000000.0", 0)} AS BIGINT)"

  private val topkOracle: String =
    """WITH c AS (SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
      |    count(*) AS cnt FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, user_id, cnt,
      |    CAST(row_number() OVER (
      |      PARTITION BY event_type ORDER BY cnt DESC, user_id ASC) AS BIGINT) AS rank
      |  FROM c)
      |SELECT event_type, user_id, cnt, rank FROM r WHERE rank <= 10
      |ORDER BY event_type, rank""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "fin_max_drawdown" ->
      """WITH dd AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey,
        |    o_totalprice / max(o_totalprice) OVER (
        |      PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1.0 AS drawdown,
        |    count(*) OVER (PARTITION BY o_custkey) AS n_obs
        |  FROM orders),
        |pick AS (SELECT *, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY drawdown ASC, od ASC, o_orderkey ASC) AS rn
        |  FROM dd)
        |SELECT o_custkey, n_obs, drawdown AS max_drawdown, od AS trough_date
        |FROM pick WHERE rn = 1 AND n_obs >= 3 ORDER BY o_custkey""".stripMargin,

    "fin_rolling_beta" ->
      s"""WITH o AS (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |a AS (SELECT o_orderkey, o_custkey, od,
        |    o_totalprice / lag(o_totalprice) OVER (
        |      PARTITION BY o_custkey ORDER BY od, o_orderkey) - 1.0 AS ret
        |  FROM o),
        |nav AS (SELECT od, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS nv
        |  FROM o GROUP BY od),
        |m AS (SELECT od, nv / lag(nv) OVER (ORDER BY od) - 1.0 AS mret FROM nav),
        |r AS (SELECT a.o_orderkey, a.o_custkey, a.od,
        |    ${microSql("a.ret")} AS y, ${microSql("m.mret")} AS x
        |  FROM a JOIN m USING (od) WHERE a.ret IS NOT NULL AND m.mret IS NOT NULL),
        |w AS (SELECT o_orderkey, o_custkey, od,
        |    row_number() OVER win AS rn,
        |    sum(x) OVER win AS sx, sum(y) OVER win AS sy,
        |    sum(x * y) OVER win AS sxy, sum(x * x) OVER win AS sxx
        |  FROM r WINDOW win AS (PARTITION BY o_custkey ORDER BY od, o_orderkey
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT o_orderkey, o_custkey, od,
        |  CAST(8 * sxy - sx * sy AS DOUBLE) /
        |    nullif(CAST(8 * sxx - sx * sx AS DOUBLE), 0.0) AS beta
        |FROM w WHERE rn >= 8 ORDER BY o_orderkey""".stripMargin,

    "fin_spearman_ic" ->
      """WITH spend AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders GROUP BY 1, 2),
        |j AS (SELECT s.m, s.o_custkey, c.c_acctbal, s.spend
        |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
        |rk AS (SELECT m,
        |    CAST(row_number() OVER (PARTITION BY m ORDER BY c_acctbal ASC, o_custkey ASC) AS BIGINT) AS rx,
        |    CAST(row_number() OVER (PARTITION BY m ORDER BY spend ASC, o_custkey ASC) AS BIGINT) AS ry
        |  FROM j),
        |agg AS (SELECT m, count(*) AS n,
        |    sum((rx - ry) * (rx - ry)) AS sd2 FROM rk GROUP BY m)
        |SELECT m, n,
        |  1.0 - CAST(6 * sd2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE) AS ic
        |FROM agg WHERE n >= 3 ORDER BY m""".stripMargin,

    "fin_risk_report" ->
      s"""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey,
        |    o_totalprice FROM orders),
        |a AS (SELECT o_custkey, o_totalprice / lag(o_totalprice) OVER (
        |      PARTITION BY o_custkey ORDER BY od, o_orderkey) - 1.0 AS ret
        |  FROM o),
        |stats AS (SELECT o_custkey, count(*) AS n_rets,
        |    CAST(sum(${microSql("ret")}) AS DOUBLE) AS sm,
        |    ${Oracles.jr("stddev_samp(ret)", 4)} AS vol
        |  FROM a WHERE ret IS NOT NULL GROUP BY o_custkey),
        |st2 AS (SELECT o_custkey, n_rets,
        |    ${Oracles.jr6("(sm / 1000000.0) / CAST(n_rets AS DOUBLE)")} AS mean_ret, vol
        |  FROM stats),
        |ef AS (SELECT o_custkey, o_totalprice AS nav_first FROM (
        |    SELECT o_custkey, o_totalprice, row_number() OVER (
        |      PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC) AS rn FROM o) t
        |  WHERE rn = 1),
        |el AS (SELECT o_custkey, o_totalprice AS nav_last FROM (
        |    SELECT o_custkey, o_totalprice, row_number() OVER (
        |      PARTITION BY o_custkey ORDER BY od DESC, o_orderkey DESC) AS rn FROM o) t
        |  WHERE rn = 1),
        |eps AS (SELECT o_custkey,
        |    ${Oracles.jr6("nav_last / nav_first - 1.0")} AS cum_ret
        |  FROM ef JOIN el USING (o_custkey)),
        |dd AS (SELECT o_custkey, n_obs,
        |    ${Oracles.jr6("drawdown")} AS max_drawdown FROM (
        |    SELECT o_custkey, n_obs, drawdown, row_number() OVER (
        |        PARTITION BY o_custkey ORDER BY drawdown ASC, od ASC, o_orderkey ASC) AS rn
        |    FROM (SELECT o_custkey, od, o_orderkey,
        |        o_totalprice / max(o_totalprice) OVER (
        |          PARTITION BY o_custkey ORDER BY od, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1.0 AS drawdown,
        |        count(*) OVER (PARTITION BY o_custkey) AS n_obs FROM o) x) y
        |  WHERE rn = 1)
        |SELECT d.o_custkey, d.n_obs, e.cum_ret, s.mean_ret, s.vol,
        |  CASE WHEN s.vol <> 0.0 THEN ${Oracles.jr6("s.mean_ret / s.vol")} END AS sharpe,
        |  d.max_drawdown
        |FROM dd d JOIN st2 s USING (o_custkey) JOIN eps e USING (o_custkey)
        |WHERE d.n_obs >= 8 ORDER BY d.o_custkey""".stripMargin,

    "fin_zscore_xsection" ->
      s"""WITH spend AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1, 2),
        |stats AS (SELECT m, count(*) AS n,
        |    CAST(sum(CAST(round(x * 100.0) AS BIGINT)) AS DOUBLE) AS sc,
        |    ${Oracles.jr("stddev_samp(x)", 4)} AS sd
        |  FROM spend GROUP BY m
        |  HAVING count(*) >= 3 AND ${Oracles.jr("stddev_samp(x)", 4)} <> 0.0)
        |SELECT sp.m, sp.o_custkey, sp.x,
        |  ${Oracles.jr6("(sp.x - (st.sc / 100.0) / CAST(st.n AS DOUBLE)) / st.sd")} AS z
        |FROM spend sp JOIN stats st USING (m)
        |ORDER BY sp.m, sp.o_custkey""".stripMargin,

    "fin_backtest_pnl" ->
      s"""WITH spend AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT m, o_custkey, x,
        |    lag(x) OVER (PARTITION BY o_custkey ORDER BY m) AS px
        |  FROM spend),
        |rr AS (SELECT m, o_custkey, px,
        |    ${microSql("x / px - 1.0")} AS ret_micro
        |  FROM r WHERE px IS NOT NULL),
        |deciles AS (SELECT m, ret_micro,
        |    ntile(10) OVER (PARTITION BY m ORDER BY px ASC, o_custkey ASC) AS d,
        |    count(*) OVER (PARTITION BY m) AS n_m
        |  FROM rr),
        |ls AS (SELECT m,
        |    CAST(sum(CASE WHEN d = 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
        |    CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |    ${Oracles.jr6(
             "(CAST(sum(CASE WHEN d = 10 THEN ret_micro END) AS DOUBLE) / " +
               "CAST(sum(CASE WHEN d = 10 THEN 1 ELSE 0 END) AS DOUBLE) - " +
               "CAST(sum(CASE WHEN d = 1 THEN ret_micro END) AS DOUBLE) / " +
               "CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS DOUBLE)) / 1000000.0")} AS ls_ret
        |  FROM deciles WHERE n_m >= 20 GROUP BY m)
        |SELECT m, n_long, n_short, ls_ret,
        |  ${Oracles.jr6("sum(ls_ret) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS cum_ret
        |FROM ls ORDER BY m""".stripMargin,

    "fin_var_es" ->
      s"""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey,
        |    o_totalprice FROM orders),
        |a AS (SELECT o_custkey, o_orderkey, o_totalprice / lag(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY od, o_orderkey) - 1.0 AS ret FROM o),
        |mm AS (SELECT o_custkey, o_orderkey, ${microSql("ret")} AS m
        |  FROM a WHERE ret IS NOT NULL),
        |rk AS (SELECT o_custkey, m,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY m, o_orderkey) AS rk,
        |    count(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM mm),
        |t AS (SELECT *, CAST(ceil(0.05 * n - 0.000000001) AS BIGINT) AS k
        |  FROM rk WHERE n >= 10)
        |SELECT o_custkey, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(k) AS BIGINT) AS k_tail,
        |  ${Oracles.jr6("CAST(max(m) AS DOUBLE) / 1000000.0")} AS var95,
        |  ${Oracles.jr6(
             "(CAST(sum(m) AS DOUBLE) / CAST(max(k) AS DOUBLE)) / 1000000.0")} AS es95
        |FROM t WHERE rk <= k GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "fin_corr_matrix" ->
      s"""WITH wk AS (SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS w,
        |    l_returnflag AS f,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT w, f, x, lag(x) OVER (PARTITION BY f ORDER BY w) AS px FROM wk),
        |rr AS (SELECT w, f, ${microSql("x / px - 1.0")} AS m
        |  FROM r WHERE px IS NOT NULL),
        |p AS (SELECT a.f AS flag_a, b.f AS flag_b, CAST(count(*) AS BIGINT) AS n,
        |    sum(a.m) AS sx, sum(b.m) AS sy, sum(a.m * b.m) AS sxy,
        |    sum(a.m * a.m) AS sxx, sum(b.m * b.m) AS syy
        |  FROM rr a JOIN rr b ON a.w = b.w GROUP BY 1, 2),
        |-- exact HUGEINT moments (the engine's decimal twin): the zero-
        |-- variance test must run on exact integers, not double noise
        |c AS (SELECT flag_a, flag_b, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    n * sxx - sx * sx AS vx,
        |    n * syy - sy * sy AS vy
        |  FROM p)
        |SELECT flag_a, flag_b, n,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN ${Oracles.jr6("num / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))")} END AS corr
        |FROM c ORDER BY flag_a, flag_b""".stripMargin,

    "fin_vwap_bars" ->
      """SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS wk, l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS amount,
        |  count(*) AS n_ticks,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / nullif(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS vwap
        |FROM lineitem GROUP BY 1, 2 ORDER BY wk, l_returnflag""".stripMargin,

    "dd_cross_doc_spans" ->
      s"""$spanCtes
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
        |  CAST(max(i) + 7 AS BIGINT) AS span_end, count(*) AS n_grams
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,

    "mm_media_dedup" ->
      s"""WITH p AS (SELECT doc_id,
        |    array_to_string(($toksRaw)[1:5], ' ') AS payload FROM documents)
        |SELECT md5(payload) AS content_md5, count(*) AS n_copies,
        |  min(doc_id) AS keep_id,
        |  (count(*) - 1) * CAST(max(octet_length(encode(payload))) AS BIGINT) AS wasted_bytes
        |FROM p GROUP BY md5(payload) HAVING count(*) >= 2
        |ORDER BY keep_id""".stripMargin,

    // Full replay of the perceptual-hash pipeline: payload injection,
    // per-block signature votes, 15-bit banding, bucket cap, hamming
    // verify — banded LSH beyond hamming ≤ bands−1 is approximate, so
    // the oracle must replay the banding, not brute-force all pairs.
    "mm_phash_neardup" ->
      s"""WITH pl AS (
        |    SELECT doc_id, array_to_string(($toksRaw)[1:10], ' ') AS p FROM documents
        |    UNION ALL
        |    SELECT doc_id + 2000000,
        |      array_to_string(($toksRaw)[1:10], ' ') || ' z'
        |    FROM documents WHERE doc_id % 23 = 0),
        |blocks AS (SELECT doc_id, substr(p, CAST(i AS INT), 4) AS w
        |  FROM (SELECT doc_id, p,
        |      unnest(range(1, greatest(len(p) - 3, 1) + 1)) AS i
        |    FROM pl WHERE len(p) > 0)),
        |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM blocks),
        |votes AS (SELECT doc_id, b.range AS bit,
        |    sum(CASE WHEN ((hv >> b.range) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h, range(0, 60) b GROUP BY 1, 2),
        |sig0 AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY 1),
        |sigs AS (SELECT pl.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
        |  FROM pl LEFT JOIN sig0 s ON s.doc_id = pl.doc_id),
        |banded AS (SELECT doc_id, b.range AS band,
        |    (simhash >> (b.range * 15)) & 32767 AS bk
        |  FROM sigs, range(0, 4) b),
        |ok AS (SELECT band, bk FROM banded GROUP BY 1, 2 HAVING count(*) <= 1000),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN ok USING (band, bk)
        |  JOIN banded b ON b.band = a.band AND b.bk = a.bk AND b.doc_id > a.doc_id)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT id_a, id_b,
        |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = cand.id_a
        |  JOIN sigs sb ON sb.doc_id = cand.id_b) x
        |WHERE hamming <= 12
        |ORDER BY id_a, id_b""".stripMargin,

    // Pixel-pHash pair structure: the planted invariants (re-encode and
    // brightness copies hash IDENTICALLY by DCT linearity; noise copies
    // within hamming ≤ bands−1 so banded LSH cannot miss them; distinct
    // images never share a band bucket — pinned ANALYTICALLY by
    // MediaMarginSpec: over the full sf0.1 id range no cross-doc pair,
    // noise variants included, both shares a band and sits within the
    // hamming filter (measured cross-doc min 10 vs filter 10 — the
    // band conjunct carries the margin); hash values pinned by
    // MultimodalSpec) force the result to be
    // exactly the complete graph over each doc's copy set. A 32-point
    // DCT has no faithful DuckDB replay, so the STRUCTURE is the spec.
    "mm_phash_pixels" ->
      """WITH c AS (
        |  SELECT doc_id, doc_id AS cid FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 3000000 FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id, doc_id + 4000000 FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT doc_id, doc_id + 5000000 FROM documents WHERE doc_id % 29 = 0)
        |SELECT a.cid AS id_a, b.cid AS id_b
        |FROM c a JOIN c b ON a.doc_id = b.doc_id AND b.cid > a.cid
        |ORDER BY id_a, id_b""".stripMargin,

    // Audio-fingerprint pair structure: identical forcing argument to
    // mm_phash_pixels — re-encode (chunk-layout) and gain ×2 copies
    // fingerprint IDENTICALLY (same decoded samples / exact IEEE
    // power-of-2 homogeneity of the linear Goertzel recursion),
    // first-frame dropout moves ≤ 4 bits all inside LSH band 0 (recall
    // by pigeonhole at maxHamming 4), distinct signals verified separate
    // analytically by MediaMarginSpec (cross-doc min hamming 8 vs
    // filter 4, dropout variants included) and pinned at fingerprint
    // level by AudioSpec — so the
    // result must be exactly the complete graph over each doc's copy
    // set.
    "mm_audio_fp_pairs" ->
      """WITH c AS (
        |  SELECT doc_id, doc_id AS cid FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 3000000 FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id, doc_id + 4000000 FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT doc_id, doc_id + 5000000 FROM documents WHERE doc_id % 29 = 0)
        |SELECT a.cid AS id_a, b.cid AS id_b
        |FROM c a JOIN c b ON a.doc_id = b.doc_id AND b.cid > a.cid
        |ORDER BY id_a, id_b""".stripMargin,

    // Video-fingerprint pair structure: identical forcing argument to
    // mm_phash_pixels / mm_audio_fp_pairs — re-mux (chunk-layout) and
    // pixel gain ×2 copies fingerprint IDENTICALLY (same decoded frames
    // / exact IEEE power-of-2 homogeneity of the integer-luma region
    // sums), first-frame dropout moves ≤ 4 bits all inside LSH band 0
    // (recall by pigeonhole at maxHamming 4), distinct videos verified
    // separate analytically by MediaMarginSpec (cross-doc min hamming 6
    // vs filter 4, dropout variants included) and pinned by VideoSpec
    // — so the result must be exactly the complete graph over each
    // doc's copy set.
    // Mixed-media pair structure: all planted copies are layout-only
    // (same decoded content → identical fingerprints, hamming 0) or
    // byte-identical junk, the format-blocked banding makes cross-format
    // pairs impossible by construction, and per-format separation of
    // distinct docs is the property already verified at every SF with
    // the same synths — so the result is exactly the planted pairs.
    "mm_mixed_media_pairs" ->
      """SELECT id_a, id_b FROM (
        |  SELECT doc_id AS id_a, doc_id + 3000000 AS id_b FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000000, doc_id + 7000000 FROM documents WHERE doc_id % 41 = 0) p
        |ORDER BY id_a, id_b""".stripMargin,

    "mm_video_fp_pairs" ->
      """WITH c AS (
        |  SELECT doc_id, doc_id AS cid FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 3000000 FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id, doc_id + 4000000 FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT doc_id, doc_id + 5000000 FROM documents WHERE doc_id % 29 = 0)
        |SELECT a.cid AS id_a, b.cid AS id_b
        |FROM c a JOIN c b ON a.doc_id = b.doc_id AND b.cid > a.cid
        |ORDER BY id_a, id_b""".stripMargin,

    // Identical semantics to v_ivf_topk — the query differs only in the
    // centroids' round-trip through the persisted store (parquet is
    // double-exact), so the oracle is the same IVF replay.
    "v_ivf_persisted" -> TextQueries.oracleSql("v_ivf_topk"),

    "j8b_asof_tolerance" ->
      """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_type,
        |  CASE WHEN p.ts >= e.ts - INTERVAL 24 HOURS THEN p.value END
        |    AS recent_purchase_value
        |FROM events e LEFT JOIN
        |  (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND p.ts <= e.ts
        |QUALIFY row_number() OVER (PARTITION BY e.event_id ORDER BY p.ts DESC, p.value DESC) = 1
        |ORDER BY e.event_id""".stripMargin,

    "stream_topk_upsert" -> topkOracle,
    // the crash-injected replay must converge to the SAME sketch — the
    // ExactlyOnce guard is correct iff this unchanged oracle stays green
    "stream_topk_recovery" -> topkOracle,

    "dd_incremental_spans" ->
      s"""WITH toks AS (SELECT doc_id, $toksRaw AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, i, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)),
        |idx AS (SELECT DISTINCT h FROM grams WHERE doc_id % 5 <> 0),
        |hits AS (SELECT g.doc_id, g.i FROM grams g JOIN idx USING (h)
        |  WHERE g.doc_id % 5 = 0),
        |isl AS (SELECT doc_id, i,
        |    sum(CASE WHEN prev IS NULL OR i > prev + 8 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM (SELECT doc_id, i,
        |      lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM hits) s)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
        |  CAST(max(i) + 7 AS BIGINT) AS span_end, count(*) AS n_grams
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,

    "dd_span_scrub" ->
      s"""$spanCtes,
        |spans AS (SELECT doc_id, min(i) AS span_start, max(i) + 7 AS span_end
        |  FROM isl GROUP BY doc_id, island),
        |dropped AS (SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
        |  FROM spans),
        |pos AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |kept AS (SELECT p.doc_id, p.pos, p.tok
        |  FROM pos p ANTI JOIN dropped d USING (doc_id, pos)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS clean FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_before,
        |  CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(a.clean, '') AS clean_text
        |FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    // Bloom-novelty oracle: same Kirsch–Mitzenmacher MD5-window grid as
    // t_bloom_blocklist, 8-gram windows (clamped slices, so docs
    // shorter than 8 tokens contribute their full text as one gram).
    "t_novelty_score" ->
      s"""WITH t AS (SELECT doc_id, source, $toksLower AS lt FROM documents),
        |ref AS (SELECT DISTINCT unnest(list_transform(
        |      range(0, greatest(len(lt) - 8, 0) + 1),
        |      i -> array_to_string(lt[i + 1 : i + 8], ' '))) AS g
        |  FROM t WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
        |bp AS (SELECT (('0x' || substr(md5(g), 1, 15))::BIGINT
        |      + i.range * ('0x' || substr(md5(g), 16, 14))::BIGINT) % 1048576 AS p
        |  FROM ref, range(0, 5) i),
        |wd AS (SELECT p // 63 AS word,
        |    bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
        |  FROM bp GROUP BY 1),
        |cand AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |      range(0, greatest(len(lt) - 8, 0) + 1),
        |      i -> array_to_string(lt[i + 1 : i + 8], ' '))) AS g
        |  FROM t WHERE source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')),
        |pp AS (SELECT doc_id, g, (('0x' || substr(md5(g), 1, 15))::BIGINT
        |      + i.range * ('0x' || substr(md5(g), 16, 14))::BIGINT) % 1048576 AS p
        |  FROM cand, range(0, 5) i),
        |hits AS (SELECT doc_id, g,
        |    bool_and((coalesce(w.bits, 0) & (1::BIGINT << CAST(p % 63 AS INT))) <> 0) AS might
        |  FROM pp LEFT JOIN wd w ON w.word = p // 63
        |  GROUP BY doc_id, g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
        |  1.0 - CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t_heavy_hitters" ->
      s"""WITH toks AS (SELECT lang, unnest($toksLower) AS token FROM documents),
        |c AS (SELECT lang, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |r AS (SELECT lang, token, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS BIGINT) AS rank
        |  FROM c)
        |SELECT lang, token, cnt, rank FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin
  )
}
