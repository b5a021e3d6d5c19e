package graft.queries

import graft.core.{IncrementalPlanner, Scratch, Tables}
import graft.operators.Resample
import graft.sources.Xls
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 operator families: 3-way merge (J6), point-in-time
  * lookup (J9), incremental append (K4), per-key export (K5), CSV
  * round-trip (K6), rolling mean (A9), describe stats (A11), limit (O2),
  * predicate family (P4-P8), messy-string parse (F9), epoch conversion
  * (F11), snapshot regression diff (D10).
  */
object MoreQueries {
  private type Q = (SparkSession, String) => DataFrame
  private val dec = "decimal(18,2)"

  /** The customer↔supplier distinct relation both a18 queries rank
    * over (r16): the orders⋈lineitem distinct is the measured dominant
    * cost of the family (≈5× the rank loop at sf0.1; it owns a18's
    * second decade at sf10 — BASELINE), and a18_link_rank and
    * a18_rank_served each rebuilt it from the scans. One scratch-
    * parquet pass per (session, sfDir); the serve query's BOOTSTRAP
    * reads it back instead of re-joining — exactly what a deployment
    * does when the ranker and the edge-store build share one upstream
    * relation extract. */
  private val a18RelMemo =
    new graft.core.BoundedMemo[(SparkSession, String), DataFrame](8)
  private def a18RelShared(s: SparkSession, d: String): DataFrame = {
    a18RelMemo.evictIf((k, _) => k._1.sparkContext.isStopped)
    a18RelMemo.getOrElseUpdate((s, d), graft.core.Scratch.materialize({
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 2000000L).as("supp")).distinct()
    }, "a18_rel", d))
  }

  val queries: Map[String, Q] = Map(
    "j6_three_way_merge" -> ((s, d) => {
      // Financial-statement 3-way full-outer chain
      // (/root/reference/tasks/merge/tushare.py:59-126) as two chained
      // full_outer joins + coalesced keys.
      def slice(ln: Int) = Tables.lineitem(s, d)
        .filter(col("l_linenumber") === ln)
        .groupBy(col("l_orderkey").as(s"k$ln"))
        .agg(sum(col("l_extendedprice").cast(dec)).cast("double").as(s"v$ln"))
      val ab = slice(1).join(slice(2), col("k1") === col("k2"), "full_outer")
        .withColumn("kab", coalesce(col("k1"), col("k2")))
      val abc = ab.join(slice(3), col("kab") === col("k3"), "full_outer")
        .select(coalesce(col("kab"), col("k3")).as("l_orderkey"),
          col("v1"), col("v2"), col("v3"))
      abc.withColumn("n_present",
        col("v1").isNotNull.cast("int") + col("v2").isNotNull.cast("int") +
          col("v3").isNotNull.cast("int"))
        .orderBy(col("l_orderkey"))
    }),

    "j9_pit_lookup" -> ((s, d) => {
      // Point-in-time: each customer's last order at-or-before a date
      // (/root/reference/tasks/report/fund/worst_fund.py:26-43) via max_by.
      Tables.orders(s, d)
        .filter(to_date(col("o_orderdate")) <= lit("1999-06-30"))
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("asof_date"),
          max_by(col("o_totalprice"), struct(to_date(col("o_orderdate")), col("o_orderkey")))
            .as("asof_price"),
          max_by(col("o_orderkey"), struct(to_date(col("o_orderdate")), col("o_orderkey")))
            .as("asof_orderkey"))
        .orderBy(col("o_custkey"))
    }),

    "k4_incremental_append" -> ((s, d) => {
      // vnpy-append shape: only rows strictly newer than the sink's
      // watermark (/root/reference/tasks/rqdatac/future.py:374-381).
      val sink = Tables.orders(s, d)
        .filter(to_date(col("o_orderdate")) < lit("1999-01-01"))
        .select(to_date(col("o_orderdate")).as("od"))
      val source = Tables.orders(s, d)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      IncrementalPlanner.newerThanSink(source, sink, "od")
        .orderBy(col("o_orderkey"))
    }),

    "k5_export_per_key" -> ((s, d) => {
      // Per-key partitioned export layout (SQLite-per-instrument analog,
      // /root/reference/tasks/utils/to_sqlite.py:334-430): write
      // partitioned by (source, lang), read back through partition
      // discovery.
      val dir = graft.core.Scratch.queryDir("export_per_key")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      // Pre-shuffle onto the partition keys: without it every input task
      // opens a writer per (source, lang) — tasks × partitions small
      // files, the classic many-writers explosion at scale. Explicit
      // partition count: a bare repartition(cols) lets AQE coalesce the
      // tiny shuffle to ONE partition, serializing all 97 dir writes.
      val par = s.sparkContext.defaultParallelism
      Tables.documents(s, d).repartition(par, col("source"), col("lang"))
        .write.partitionBy("source", "lang").parquet(dir)
      s.read.parquet(dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"), col("lang"))
    }),

    "k6_csv_roundtrip" -> ((s, d) => {
      // CSV export + re-read (K6) with an explicit schema.
      val dir = graft.core.Scratch.queryDir("csv_export")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      Tables.nation(s, d).write.option("header", "true").csv(dir)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(dir)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    }),

    "s9_xls_nbar" -> ((s, d) => {
      // S9 — legacy Excel ingestion + N-minute bar merge
      // (/root/reference/tasks/wind/handle_csv/merge_2_n_bar.py:28-52):
      // 5-min bars exported per instrument as headerless .xls (col 0 =
      // Excel-epoch day float, cols 1-4 = OHLC), re-read through the
      // BIFF8 source, then rolled to 30-min RIGHT-closed bars — the
      // reference's generate_bar_dt ceil semantics, where a bar is
      // labeled by its window END unless it sits exactly on a boundary.
      // Correct OHLC fold (first open / max high / MIN low / last
      // close), not the reference's scalar-min `iloc[0,3]` low bug.
      val ticks = Tables.events(s, d).withColumn("one", lit(1.0))
      val bars5 = Resample.ticksToBars(ticks, Seq("event_type"), "ts",
          "event_id", "value", "one", "5 minutes")
        .select(col("event_type"),
          (unix_timestamp(col("bar_start")).cast("double") / 86400.0 + 25569.0)
            .as("xldate"),
          col("open"), col("high"), col("low"), col("close"))
      val dir = Scratch.path("xls_bars", d)
      Xls.writeKeyed(bars5, dir, "event_type", Seq("xldate"),
        Seq("xldate", "open", "high", "low", "close"))
      // day-float → seconds roundtrip: double ulp at epoch scale is µs,
      // bars are 5-min aligned, so rounding to seconds is exact
      Xls.headerless(Xls.read(s, s"$dir/*.xls"), 5)
        .withColumn("event_type", regexp_extract(col("path"), "([^/]+)\\.xls$", 1))
        .select(col("event_type"),
          timestamp_seconds(round((col("_c0") - 25569.0) * 86400.0).cast("long")).as("ts5"),
          col("_c1").as("open"), col("_c2").as("high"),
          col("_c3").as("low"), col("_c4").as("close"))
        .withColumn("e5", unix_timestamp(col("ts5")))
        .withColumn("bar_ts", timestamp_seconds(
          expr("e5 - e5 % 86400 + ((e5 % 86400 + 1799) div 1800) * 1800")))
        .groupBy(col("event_type"), col("bar_ts"))
        .agg(min_by(col("open"), col("ts5")).as("open"),
          max(col("high")).as("high"),
          min(col("low")).as("low"),
          max_by(col("close"), col("ts5")).as("close"),
          count(lit(1)).as("n_bars5"))
        .orderBy(col("event_type"), col("bar_ts"))
    }),

    "k7_json_roundtrip" -> ((s, d) => {
      // JSON-lines export + schema'd re-read (the wire shape of the
      // reference's REST payloads, e.g. tushare/ifind responses —
      // /root/reference/tasks/ifind/__init__.py:15): field order and
      // nullability must survive the round trip.
      val dir = graft.core.Scratch.queryDir("json_export")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .write.json(dir)
      s.read
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE")
        .json(dir)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast(dec)).cast("double").as("sum_bal"))
        .orderBy(col("n_name"))
    }),

    "k8_orc_roundtrip" -> ((s, d) => {
      // Columnar-format breadth: ORC export + re-read through the same
      // summary as k7 — the store is format-agnostic at the edges even
      // though parquet is the house format.
      val dir = graft.core.Scratch.queryDir("orc_export")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .write.orc(dir)
      s.read.orc(dir)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast(dec)).cast("double").as("sum_bal"))
        .orderBy(col("n_name"))
    }),

    "a9_rolling_mean" -> ((s, d) => {
      // Trailing 4-row mean (rowsBetween(-3,0)) — the secondary-contract
      // smoother (/root/reference/tasks/tushare/tushare_future/continuse_contract_md.py:195-201).
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(to_date(col("o_orderdate")), col("o_orderkey"))
        .rowsBetween(-3, 0)
      Tables.orders(s, d)
        .withColumn("rolling_sum", sum(col("o_totalprice").cast(dec)).over(w).cast("double"))
        .withColumn("rolling_n", count(lit(1)).over(w))
        .withColumn("rolling_mean", col("rolling_sum") / col("rolling_n"))
        .select(col("o_orderkey"), col("o_custkey"), col("rolling_sum"),
          col("rolling_n"), col("rolling_mean"))
        .orderBy(col("o_orderkey"))
    }),

    "a11_describe_stats" -> ((s, d) => {
      // describe()/summary() shape (A11) with deterministic arithmetic.
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("cnt"),
          (sum(col("o_totalprice").cast(dec)).cast("double") / count(lit(1))).as("mean"),
          min(col("o_totalprice")).as("min_v"),
          max(col("o_totalprice")).as("max_v"),
          round(stddev_samp(col("o_totalprice")), 4).as("std"))
        .orderBy(col("o_orderstatus"))
    }),

    "o2_limit_latest" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), to_date(col("o_orderdate")).as("od"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(5)),

    "p4_p8_predicates" -> ((s, d) => {
      // Predicate family: regexp (P4), IN-list (P5), null/zero (P6),
      // LIKE / NOT LIKE (P8) — all pushdown-friendly. The regexp runs on
      // p_name (two lowercase words in the fixture); it was previously on
      // p_type (one uppercase word), which made the whole conjunction
      // vacuously empty at every SF.
      Tables.part(s, d)
        .filter(col("p_name").rlike("^[a-z]+ [a-z]+") &&
          col("p_name").like("%a%") && !col("p_name").like("%zz%") &&
          col("p_size").isin(1, 2, 3, 4, 5, 10, 15, 20, 25) &&
          col("p_retailprice").isNotNull && col("p_retailprice") =!= 0)
        .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
        .orderBy(col("p_partkey"))
    }),

    "f5_limit_flag_merge" -> ((s, d) => {
      // F5 conflict-coded limit-state reconciliation over derived
      // vendor flags (covers every branch: agree, one-sided, unknown,
      // conflict).
      val flags = Tables.orders(s, d).select(
        col("o_orderkey"),
        when(col("o_custkey") % 5 === 0, "涨停")
          .when(col("o_custkey") % 5 === 1, "跌停")
          .when(col("o_custkey") % 5 === 2, "停牌")
          .when(col("o_custkey") % 5 === 3, "非涨跌停")
          .otherwise("??").as("ths_flag"),
        when(col("o_orderkey") % 4 === 0, 1)
          .when(col("o_orderkey") % 4 === 1, -1)
          .when(col("o_orderkey") % 4 === 2, 0)
          .otherwise(7).as("wind_flag"))
      flags.withColumn("max_up_or_down",
        graft.operators.MergeOps.maxUpOrDown(col("ths_flag"), col("wind_flag")))
        .orderBy(col("o_orderkey"))
    }),

    "f9_parse_price" -> ((s, d) =>
      // Messy-string price parse (mfprice,
      // /root/reference/tasks/wind/future.py:47-54).
      Tables.part(s, d)
        .withColumn("messy", concat(col("p_retailprice").cast("string"), lit("元/吨(est)")))
        .select(col("p_partkey"), col("messy"),
          regexp_extract(col("messy"), "^[0-9]+\\.?[0-9]*", 0).cast("double").as("parsed"))
        .orderBy(col("p_partkey"))),

    "f11_excel_epoch" -> ((s, d) =>
      // Excel 1899-12-30 serial-date conversion
      // (/root/reference/tasks/wind/handle_csv/merge_2_n_bar.py:16-44).
      Tables.part(s, d)
        .select(col("p_partkey"),
          (col("p_size") * 1000 + col("p_partkey") % 500).cast("long").as("serial"))
        .withColumn("as_date",
          date_add(lit("1899-12-30").cast("date"), floor(col("serial") / lit(100.0)).cast("int")))
        .orderBy(col("p_partkey"))),

    "skew_salted_agg" -> ((s, d) => {
      // Two-stage salted aggregation for few-huge-group skew: identical
      // result to the direct groupBy, but the first stage spreads each
      // hot key over 16 reducers.
      graft.operators.Skew.saltedAggregate(
        Tables.lineitem(s, d), Seq("l_returnflag"),
        saltBy = col("l_orderkey"), saltFactor = 16,
        partials = Seq(
          "sum_qty" -> sum(col("l_quantity").cast(dec)),
          "n_rows" -> count(lit(1))),
        finals = Seq(
          "sum_qty" -> (n => sum(col(n))),
          "n_rows" -> (n => sum(col(n)))))
        .select(col("l_returnflag"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("n_rows").cast("long").as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    "skew_salted_join" -> ((s, d) => {
      // Salted equi-join: hot orderkeys spread across 8 salt buckets,
      // dim side replicated 8x. Result must equal the plain join.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, o, Seq("l_orderkey"),
        saltBy = col("l_quantity"), saltFactor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderpriority"))
    }),

    "p9_bucketed_join" -> ((s, d) => {
      // Bucketed co-located join: both sides bucketed+sorted on the key
      // at write time -> the sort-merge join needs no shuffle at all
      // (no Exchange in the plan), which is THE technique for repeated
      // fact-fact joins at 100 TB.
      s.sql("DROP TABLE IF EXISTS graft_orders_bkt")
      s.sql("DROP TABLE IF EXISTS graft_customer_bkt")
      // In-memory catalog forgets tables across sessions but the
      // warehouse dirs persist — remove them or CREATE fails with
      // LOCATION_ALREADY_EXISTS on the next run.
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("graft_orders_bkt", "graft_customer_bkt").foreach(t =>
        whFs.delete(new org.apache.hadoop.fs.Path(wh, t), true))
      Tables.orders(s, d).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_orders_bkt")
      Tables.customer(s, d).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_customer_bkt")
      // "merge" hint: at test SF the dim would broadcast, which bypasses
      // the co-located path this query exists to exercise. On real data
      // both sides are facts and SMJ is what Catalyst picks anyway.
      s.table("graft_orders_bkt").hint("merge")
        .join(s.table("graft_customer_bkt"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "stream_upsert_tick_bars" -> ((s, d) => {
      // Streaming bars -> keyed upsert sink (foreachBatch): final table
      // state equals the batch aggregation — replay/late-data idempotent.
      val streamDir = new org.apache.hadoop.fs.Path(
        graft.core.Scratch.queryDir("stream_upsert_src"))
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(streamDir, true)
      // re-write (not FileUtil.copy): a multi-file events TABLE (a
      // directory named events.parquet, e.g. a ScaleUp output) would
      // otherwise nest under streamDir where the flat stream source
      // finds no files
      s.read.parquet(s"$d/events.parquet").write.parquet(streamDir.toString)
      val storeDir = graft.core.Scratch.queryDir("stream_store")
      fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
      val store = new graft.core.TableStore(s, storeDir)
      val spec = graft.core.TableSpec("bars", Seq("user_id", "bar_start"))
      graft.streaming.TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(
          s.read.parquet(s"$d/events.parquet").schema).parquet(streamDir.toString)
        val ticks = graft.core.Tables.normalizeEventTime(raw, "ts")
        val bars = graft.streaming.TickBarStream.bars(ticks, Seq("user_id"),
          "ts", "event_id", "value", "1 hour", "10 minutes")
        val q = graft.streaming.TickBarStream
          .upsertingSink(bars, store, spec, "graft_stream_upsert").start()
        try q.processAllAvailable() finally q.stop()
      }
      store.read(spec).orderBy(col("user_id"), col("bar_start"))
    }),

    // §2.11 crash-recovery proof: the reference's idempotent re-run
    // contract (tasks/backend/__init__.py:18-19 INSERT..ON DUPLICATE)
    // exercised UNDER FAILURE. The tick stream runs over 4 input files
    // (maxFilesPerTrigger=1 → 4 micro-batches) with a checkpoint; an
    // injected crash fires in foreachBatch AFTER batch 0's upsert but
    // BEFORE Spark commits the batch — the worst-ordered failure, the
    // side effect landed but the offset log says the batch never ran. A
    // second start from the same checkpoint replays batch 0 (double
    // upsert, absorbed by the PK) and drains the rest; the final table
    // must equal the one-shot batch aggregation. Watermark exceeds the
    // data span because the round-robin file split interleaves event
    // time across batches — this query proves recovery, not lateness
    // (stream_tick_bars covers watermark semantics).
    "stream_recovery_upsert" -> ((s, d) => {
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val srcDir = graft.core.Scratch.queryDir("stream_recovery_src")
      val ckptDir = graft.core.Scratch.queryDir("stream_recovery_ckpt")
      val storeDir = graft.core.Scratch.queryDir("stream_recovery_store")
      Seq(srcDir, ckptDir, storeDir).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      s.read.parquet(s"$d/events.parquet").repartition(4).write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      val store = new graft.core.TableStore(s, storeDir)
      val spec = graft.core.TableSpec("bars", Seq("user_id", "bar_start"))
      @volatile var injected = false
      def run(injectCrash: Boolean): Unit =
        graft.streaming.TickBarStream.withShufflePartitions(s, 8) {
          val raw = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir)
          val ticks = graft.core.Tables.normalizeEventTime(raw, "ts")
          val bars = graft.streaming.TickBarStream.bars(ticks, Seq("user_id"),
            "ts", "event_id", "value", "1 hour", "3650 days")
          val q = bars.writeStream.outputMode("update")
            .queryName("graft_stream_recovery")
            .option("checkpointLocation", ckptDir)
            .foreachBatch {
              (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
               batchId: Long) =>
                if (!batch.isEmpty) store.upsert(spec, batch.toDF())
                if (injectCrash && batchId == 0) {
                  injected = true
                  throw new graft.streaming.InjectedCrash(
                    "injected crash: upsert landed, batch not committed")
                }
            }.start()
          if (injectCrash) graft.streaming.InjectedCrash.drainCrashed(q)
          else try q.processAllAvailable() finally q.stop()
        }
      run(injectCrash = true)
      require(injected, "crash injection never fired — recovery untested")
      run(injectCrash = false)
      store.read(spec).orderBy(col("user_id"), col("bar_start"))
    }),

    // D11b — replication/migration audit: the order-independent content
    // checksum two sides of a copy compare without moving the table.
    // The DuckDB oracle recomputing the same two numbers IS the other
    // side of the audit.
    "d11_table_checksum" -> ((s, d) =>
      graft.core.TableStore.contentChecksum(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"))),

    // D12 — cross-store schema audit (the reference's mysql↔sqlite
    // column-match check, /root/reference/tasks/utils/to_sqlite.py:771-917):
    // customer vs supplier under a strip-the-table-prefix normalizer.
    // Exercises every audit outcome: matched columns with equal types
    // (name/nationkey), a matched column whose right side was narrowed
    // to float (acctbal → type_match = false), and unmatched columns on
    // both sides (custkey + mktsegment left, suppkey right) carrying
    // their PK flags. The oracle derives both schemas from DuckDB's own
    // DESCRIBE of the same inputs, so the audit is value-checked
    // against a genuinely independent catalog.
    "d12_schema_audit" -> ((s, d) => {
      val left = graft.core.SchemaAudit.TableDesc(
        Tables.customer(s, d).schema, Seq("c_custkey"))
      val right = graft.core.SchemaAudit.TableDesc(
        Tables.supplier(s, d)
          .withColumn("s_acctbal", col("s_acctbal").cast("float")).schema,
        Seq("s_suppkey"))
      graft.core.SchemaAudit.audit(s, left, right,
          normalize = n => n.replaceFirst("^[a-z]_", ""))
        .orderBy(col("match_key"))
    }),

    // D13 — calendar-gap audit: which trading days carry NO rows for a
    // slice (the reference's completeness check before an incremental
    // load is trusted). Expected grid = global date calendar ×
    // priorities (both bounded: dates are time-cardinality, priorities
    // an enum — the cross join is model-sized and broadcast); missing
    // days via anti-join; consecutive misses merge into runs with the
    // gaps-and-islands window. At 100 TB only the distinct-scans touch
    // the fact table, both partial-aggregated.
    "d13_calendar_gaps" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("od"),
          col("o_orderpriority").as("pri"))
      val cal = orders.select(col("od")).distinct()
      val pris = orders.select(col("pri")).distinct()
      val expected = cal.crossJoin(broadcast(pris))
      val missing = expected.join(orders.distinct(), Seq("od", "pri"), "left_anti")
      val calIdx = cal.withColumn("ci",
        row_number().over(Window.orderBy(col("od"))))
      missing.join(calIdx, Seq("od"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("pri")).orderBy(col("ci"))))
        .withColumn("grpk", col("ci") - col("rn"))
        .groupBy(col("pri"), col("grpk"))
        .agg(min(col("od")).as("gap_start"), max(col("od")).as("gap_end"),
          count(lit(1)).as("n_days"))
        .select(col("pri"), col("gap_start"), col("gap_end"), col("n_days"))
        .orderBy(col("pri"), col("gap_start"))
    }),

    // K9 — SCD type-2 history build over the order-status change stream;
    // semantics and scale notes in [[graft.operators.ScdHistory.fold]]
    // (the spec drives the same operator, so query and test share one
    // implementation).
    "k9_scd2_history" -> ((s, d) =>
      graft.operators.ScdHistory.fold(
          Tables.orders(s, d),
          keyCol = col("o_custkey"),
          orderCol = to_date(col("o_orderdate")),
          tieCol = col("o_orderkey"),
          statusCol = col("o_orderstatus"))
        .select(col("key").as("o_custkey"), col("run_id"), col("status"),
          col("valid_from"), col("valid_to"), col("is_current"), col("n_rows"))
        .orderBy(col("o_custkey"), col("run_id"))),

    // K8 — the report-rendering task itself: the reference computes a
    // per-sector interval-median pivot and ships it as an Excel file
    // (/root/reference/tasks/report/stock/industry_classified.py:61-104
    // `pivot → median → to_excel('median.xls')`). Here the same shape —
    // monthly median order value per region, pivoted wide — renders
    // through the engine's own BIFF8 writer and is read back through
    // the BIFF8 source; the oracle replays the computation, so the
    // workbook round-trip is value-checked. Empty cells carry 0.0 (the
    // sheet is headerless numeric; the reference writes NaN blanks).
    // matplotlib plotting stays out of scope — the workbook is the
    // data deliverable.
    "k8_excel_report" -> ((s, d) => {
      val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      val joined = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("double").as("yyyymm"), col("r_name"), col("o_totalprice"))
      val wide = joined.groupBy(col("yyyymm"))
        .pivot("r_name", regions)
        .agg(round(median(col("o_totalprice")), 6))
        .select(col("yyyymm") +: regions.map(r =>
          coalesce(col(s"`$r`"), lit(0.0)).as(r.toLowerCase.replace(" ", "_"))): _*)
        .withColumn("report", lit("median"))
      val dir = Scratch.path("k8_report", d)
      val cols = "yyyymm" +: regions.map(_.toLowerCase.replace(" ", "_"))
      Xls.writeKeyed(wide, dir, "report", Seq("yyyymm"), cols)
      Xls.headerless(Xls.read(s, s"$dir/median.xls"), cols.length)
        .select(col("_c0").cast("long").as("yyyymm"),
          col("_c1").as("africa"), col("_c2").as("america"),
          col("_c3").as("asia"), col("_c4").as("europe"),
          col("_c5").as("middle_east"))
        .orderBy(col("yyyymm"))
    }),

    // K8's second report (/root/reference/tasks/report/fund/worst_fund.py
    // :20-56): point-in-time value at two cutoff dates per entity, the
    // period return ratio with the reference's HAVING filter
    // (pct != 1, pct < 2), and describe() over the ratios. Customers
    // play the funds, their order history plays the NAV series.
    "k8b_worst_fund" -> ((s, d) => {
      def pit(cut: String, alias: String) = Tables.orders(s, d)
        .filter(col("o_orderdate") <= lit(cut))
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_totalprice"),
          struct(col("o_orderdate"), col("o_orderkey"))).as(alias))
      val pct = pit("1994-12-31", "nav_from")
        .join(pit("1996-12-31", "nav_to"), Seq("o_custkey"))
        .withColumn("pct", round(col("nav_to") / col("nav_from"), 6))
        .filter(col("pct") =!= 1.0 && col("pct") < 2.0)
      pct.agg(count(lit(1)).as("cnt"),
          sum(round(col("pct") * lit(1000000.0)).cast("long")).as("__s"),
          round(stddev_samp(col("pct")), 4).as("std"),
          min(col("pct")).as("min_v"),
          round(percentile(col("pct"), lit(0.25)), 6).as("p25"),
          round(percentile(col("pct"), lit(0.5)), 6).as("p50"),
          round(percentile(col("pct"), lit(0.75)), 6).as("p75"),
          max(col("pct")).as("max_v"))
        .select(col("cnt"),
          round((col("__s").cast("double") / lit(1000000.0)) /
            col("cnt").cast("double"), 6).as("mean"),
          col("std"), col("min_v"), col("p25"), col("p50"), col("p75"),
          col("max_v"))
    }),

    // EWMA per user over event time: the stateful per-key fold no
    // window frame expresses; the oracle replays the recursion row by
    // row with a recursive CTE.
    "w12_ewma" -> ((s, d) =>
      graft.operators.Resample.ewma(Tables.events(s, d),
          "user_id", "ts", "event_id", "value", alpha = 0.2)
        .select(col("user_id"), col("event_id"), col("value"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy(col("user_id"), col("event_id"))),

    // Winsorized (percentile-clipped) per-group stats: the standard
    // numeric-cleaning pass before aggregating a heavy-tailed metric.
    // Exact interpolated percentiles per group (model-sized, broadcast
    // back), clip, then count clips and sum the clipped values in
    // integer micro-units so the report is exact at any partitioning.
    "a14_winsorize" -> ((s, d) => {
      val pcts = Tables.events(s, d).groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.01)).as("p01"),
          percentile(col("value"), lit(0.99)).as("p99"))
      val clipped = Tables.events(s, d).join(broadcast(pcts), Seq("event_type"))
        .withColumn("__clip", least(greatest(col("value"), col("p01")), col("p99")))
      clipped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("p01"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("value") > col("p99"), 1L).otherwise(0L)).as("n_high"),
          max(col("p01")).as("__p01"), max(col("p99")).as("__p99"),
          sum(round(col("__clip") * lit(1000000.0)).cast("long")).as("__sum"))
        .select(col("event_type"), col("n"), col("n_low"), col("n_high"),
          round(col("__p01"), 6).as("p01"), round(col("__p99"), 6).as("p99"),
          round((col("__sum").cast("double") / lit(1000000.0)) /
            col("n").cast("double"), 6).as("mean_clipped"))
        .orderBy(col("event_type"))
    }),

    // Funnel analysis over first-occurrence event times: how many users
    // progress view → click → purchase in time order — the product-
    // analytics staple on the same events table the sessionization and
    // attribution queries use.
    "a15_funnel" -> ((s, d) => {
      val f = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"),
          min(when(col("event_type") === "click", col("ts"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
      val s1 = col("tv").isNotNull
      val s2 = s1 && col("tc").isNotNull && col("tc") >= col("tv")
      val s3 = s2 && col("tp").isNotNull && col("tp") >= col("tc")
      f.agg(sum(when(s1, 1L).otherwise(0L)).as("n_view"),
          sum(when(s2, 1L).otherwise(0L)).as("n_view_click"),
          sum(when(s3, 1L).otherwise(0L)).as("n_funnel"))
        .select(col("n_view"), col("n_view_click"), col("n_funnel"),
          round(col("n_view_click").cast("double") / col("n_view").cast("double"), 6)
            .as("rate_click"),
          round(col("n_funnel").cast("double") / col("n_view_click").cast("double"), 6)
            .as("rate_purchase"))
    }),

    // A17 — market-basket co-occurrence with lift: part pairs that ship
    // together more than chance predicts. The self-join is keyed on the
    // ORDER (items per order is bounded by the schema, so pair fan-out
    // per key is a constant — the shape that survives any order count);
    // lift multiplies/divides exact longs once per surviving pair.
    // Top-50 by (lift, then pair id) keeps the output deterministic
    // through double ties.
    "a18_link_rank" -> ((s, d) => {
      // Iterative link analysis over the customer↔supplier bipartite
      // graph (both directions of the distinct order-line relation),
      // 3 integer-exact PageRank supersteps — the host-rank primitive a
      // web-corpus pipeline uses to weight sources. Every step is BIGINT
      // floor arithmetic (see LinkRank), so the oracle replays the
      // iterations unrolled with identical integer expressions:
      // value-level equality, no fp tolerance anywhere.
      val rel = a18RelShared(s, d)
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionAll(rel.select(col("supp").as("src"), col("cust").as("dst")))
      // pageRank returns a persisted result (see its closing comment);
      // scratch-materialize releases the pin, same pattern as d3.
      graft.core.Scratch.materialize(
          graft.operators.LinkRank.pageRank(s, edges, "src", "dst", iterations = 3),
          "linkrank", d)
        .orderBy(col("node"))
    }),

    "a18_rank_served" -> ((s, d) => {
      // Train-once/serve-many for link analysis — the v_ivf_persisted
      // discipline applied to the a18 edge build (which dominates a18's
      // sf10 decade: the orders⋈lineitem distinct is ~5× the rank loop).
      // BOOTSTRAP: distinct-join the relation once and persist the
      // directed edge list BUCKETED on src — the join key of every
      // superstep — through the warehouse. SERVE: rank straight off the
      // bucketed scan; prePartitioned=true skips the session repartition
      // because the bucket layout already hash-clusters on src, so the
      // serve plan has NO edge shuffle and no upstream rebuild
      // (LinkRankSpec audits the executed plan tree). Identical ranks to
      // a18_link_rank by construction — same oracle.
      Seq("graft_edges_bkt", "graft_degrees").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS $t"))
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("graft_edges_bkt", "graft_degrees").foreach(t =>
        whFs.delete(new org.apache.hadoop.fs.Path(wh, t), true))
      val rel = a18RelShared(s, d)
      val edges = rel.select(col("cust").as("src"), col("supp").as("dst"))
        .unionAll(rel.select(col("supp").as("src"), col("cust").as("dst")))
        .persist()
      edges.write.mode("overwrite").bucketBy(32, "src")
        .saveAsTable("graft_edges_bkt")
      // the degree table is the other half of the trained index (like
      // IVF centroids): storing it buys serve runs that never shuffle
      // the full edge list (no nodes-distinct, no degree groupBy)
      graft.operators.LinkRank.degreeTable(edges, "src", "dst")
        .write.mode("overwrite").saveAsTable("graft_degrees")
      edges.unpersist()
      graft.core.Scratch.materialize(
          graft.operators.LinkRank.pageRankServed(s,
            s.table("graft_edges_bkt"), s.table("graft_degrees"),
            "src", "dst", iterations = 3),
          "linkrank_served", d)
        .orderBy(col("node"))
    }),

    "a17_basket_pairs" -> ((s, d) => {
      def items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey")).distinct()
      val nOrders = items.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val freq = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_p"))
      val pairs = items.select(col("ok"), col("l_partkey").as("pk_a"))
        .join(items.select(col("ok"), col("l_partkey").as("pk_b")), Seq("ok"))
        .filter(col("pk_b") > col("pk_a"))
        .groupBy(col("pk_a"), col("pk_b")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      pairs
        .join(freq.select(col("l_partkey").as("pk_a"), col("n_p").as("n_a")), Seq("pk_a"))
        .join(freq.select(col("l_partkey").as("pk_b"), col("n_p").as("n_b")), Seq("pk_b"))
        .crossJoin(broadcast(nOrders))
        .withColumn("lift", round(
          col("n_ab").cast("double") * col("n_orders").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6))
        .select(col("pk_a"), col("pk_b"), col("n_ab"), col("n_a"), col("n_b"), col("lift"))
        .orderBy(col("lift").desc, col("pk_a"), col("pk_b"))
        .limit(50)
    }),

    // A16 — cohort retention: users bucketed by first-seen ISO week,
    // per-offset active share — the standard product-analytics read on
    // the events stream. (user, week) presence is deduped BEFORE the
    // cohort join, so n_active counts distinct users with one exact
    // count; the rate divides exact longs. Two shuffles (user key, then
    // cohort key), both partial-aggregated.
    "a16_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val firstWk = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val cohorts = firstWk.groupBy(col("cohort_wk")).agg(count(lit(1)).as("n_cohort"))
      ev.join(firstWk, Seq("user_id"))
        .withColumn("week_offset",
          (datediff(col("wk"), col("cohort_wk")) / 7).cast("long"))
        .filter(col("week_offset") <= 8)
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(cohorts, Seq("cohort_wk"))
        .withColumn("retention",
          round(col("n_active").cast("double") / col("n_cohort").cast("double"), 6))
        .select(col("cohort_wk"), col("week_offset"), col("n_active"),
          col("n_cohort"), col("retention"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    "stream_hll_upsert" -> ((s, d) => {
      // Streaming sketch upkeep: each micro-batch builds HLL registers
      // over its slice and folds them into a keyed store by
      // register-wise MAX — the HLL merge — so the table always holds
      // the sketch of everything seen so far. Two parity-split batches
      // force a real cross-batch merge; because max is associative, the
      // stored registers must equal the whole-corpus batch build, which
      // is exactly what the oracle replays (same SQL as t_hll_grouped).
      // This is the production shape for continuous distinct-count
      // dashboards: per-batch work is one partial-agg pass, store size
      // is groups × 2^p rows regardless of stream volume.
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      val streamDir = new org.apache.hadoop.fs.Path(graft.core.Scratch.queryDir("stream_hll_src"))
      val stageDir = new org.apache.hadoop.fs.Path(graft.core.Scratch.queryDir("stream_hll_stage"))
      Seq(streamDir, stageDir).foreach(p => fs.delete(p, true))
      fs.mkdirs(streamDir)
      val ev = s.read.parquet(s"$d/events.parquet")
      Seq(0, 1).foreach { par =>
        val tmp = new org.apache.hadoop.fs.Path(stageDir, s"h$par")
        ev.filter(pmod(col("event_id"), lit(2)) === par)
          .coalesce(1).write.parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.startsWith("part-")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(streamDir, s"half_$par.parquet"))
      }
      fs.delete(stageDir, true)
      val storeDir = graft.core.Scratch.queryDir("stream_hll_store")
      fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
      val store = new graft.core.TableStore(s, storeDir)
      val spec = graft.core.TableSpec("hll_regs", Seq("grp", "idx"))
      graft.streaming.TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        val q = raw.writeStream.outputMode("update").queryName("graft_stream_hll")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            if (!batch.isEmpty) {
              val regs = graft.operators.CorpusStats.hllRegistersBy(
                batch.toDF(), col("event_type"), col("user_id"), p = 8)
              val merged =
                if (store.exists(spec))
                  regs.join(store.read(spec).withColumnRenamed("rho", "rho_old"),
                      Seq("grp", "idx"), "full_outer")
                    .select(col("grp"), col("idx"),
                      greatest(coalesce(col("rho"), lit(0)),
                        coalesce(col("rho_old"), lit(0))).as("rho"))
                else regs
              store.upsert(spec, merged)
            }
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      val est = graft.operators.CorpusStats.hllEstimateBy(store.read(spec), p = 8)
      val exact = Tables.events(s, d).groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, Seq("grp"))
        .select(col("grp").as("event_type"), col("m"), col("n_present"),
          round(col("est"), 6).as("est"), col("exact_distinct"))
        .orderBy(col("event_type"))
    }),

    "j5_code_mapping" -> ((s, d) => {
      // J5 — cross-vendor code-mapping build + refresh as a real
      // pipeline: seed from the wind-side universe, then fold in the
      // ifind-side universe by normalized-name match (the F7 key),
      // landing both steps as keyed upserts. Vendors are simulated from
      // the supplier table with DIFFERENT market suffixes per side so the
      // output pins the reference's rule that a relink re-derives market
      // from the ifind code.
      val windSide = Tables.supplier(s, d)
        .filter(pmod(col("s_suppkey"), lit(3)) =!= 0)
        .select(concat(lit("W"), col("s_suppkey"), lit("."),
            when(pmod(col("s_suppkey"), lit(2)) === 0, "SH").otherwise("SZ")).as("wind_code"),
          col("s_name").as("full_name"))
      val ifindSide = Tables.supplier(s, d)
        .filter(pmod(col("s_suppkey"), lit(2)) === 1)
        .select(concat(lit("T"), col("s_suppkey"), lit("."),
            when(pmod(col("s_suppkey"), lit(5)) < 2, "SH").otherwise("SZ")).as("ths_code"),
          // vendor-side whitespace/case noise the normName key must absorb
          upper(concat(lit("  "), col("s_name"), lit(" "))).as("full_name"))
      val base = graft.operators.CodeMapping.fromWind(windSide, "stock")
      val (updated, inserted) = graft.operators.CodeMapping
        .refreshFromIfind(base, ifindSide, windSide, "stock")
      val storeDir = graft.core.Scratch.queryDir("code_mapping")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(storeDir), true)
      val store = new graft.core.TableStore(s, storeDir)
      // row identity survives the relink (unique_code flips w.→i.), so
      // the PK is the stable vendor key, not unique_code
      val spec = graft.core.TableSpec("code_mapping", Seq("row_key"))
      def keyed(df: DataFrame) =
        df.withColumn("row_key", coalesce(col("wind_code"), col("ths_code")))
      store.upsert(spec, keyed(base))
      store.upsert(spec, keyed(updated.unionByName(inserted)))
      store.read(spec)
        .select(col("unique_code"), col("wind_code"), col("ths_code"),
          col("market"), col("type"))
        .orderBy(col("unique_code"))
    }),

    "d7_constituent_bisect" -> ((s, d) => {
      // D7 — the bisection driver end-to-end: membership(D) = users whose
      // first-event MONTH has started by D (monotone first-activity
      // cohorts → endpoint equality is exact, see ConstituentBisection).
      // The driver recursion samples O(changes·log axis) membership
      // snapshots instead of one per trade date; the sampled snapshots
      // collapse to per-member intervals, then the J12-style calendar
      // expansion unrolls them to monthly membership rows. The only
      // driver-held state is the per-user join-month map and the sampled
      // sets — constituent-sized (the reference's sectors are hundreds of
      // codes), never event-sized.
      val ev = Tables.events(s, d)
      // Guarded driver collect: the acquisition-replay driver is scoped
      // to dimension-sized membership axes (ConstituentBisection
      // .MaxMembers). limit(N+1) bounds the fetch itself, so an
      // event-sized key fails fast here instead of OOMing the driver.
      val maxM = graft.sources.ConstituentBisection.MaxMembers
      val jmRows = ev.groupBy(col("user_id"))
        .agg(to_date(date_trunc("MONTH", min(col("ts")))).as("jm"))
        .limit(maxM + 1).collect()
      require(jmRows.length <= maxM,
        s"d7 membership axis exceeds $maxM members — event-sized keys must " +
          "use the distributed interval operators, not the bisection driver")
      val joinMonth = jmRows.map(r => r.getLong(0) -> r.getDate(1).toLocalDate).toMap
      val span = ev.agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi")).head()
      val axis = graft.sources.ConstituentBisection.weekdayAxis(
        span.getDate(0).toLocalDate, span.getDate(1).toLocalDate)
      val sampled = graft.sources.ConstituentBisection.sample(axis.length,
        i => joinMonth.collect { case (u, m) if !m.isAfter(axis(i)) => u }.toSet)
      val intervals = graft.sources.ConstituentBisection.memberIntervals(axis, sampled)
      import s.implicits._
      intervals.map { case (u, f, t) =>
          (u, java.sql.Date.valueOf(f), java.sql.Date.valueOf(t)) }
        .toDF("user_id", "member_from", "member_to")
        .withColumn("month", explode(expr(
          "sequence(date_trunc('MONTH', member_from), date_trunc('MONTH', member_to), interval 1 month)")))
        .select(col("user_id"), to_date(col("month")).as("month"),
          col("member_from"), col("member_to"))
        .orderBy(col("user_id"), col("month"))
    }),

    "cal_next_open" -> ((s, d) => {
      // Trade-calendar clamping (F10/J3 support): each order date → the
      // next open (weekday) session.
      val cal = new graft.core.TradeCalendar(
        graft.core.TradeCalendar.weekdays(s, "1995-01-01", "2002-12-31"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      cal.nextOpen(o, col("od"), "next_open")
        .orderBy(col("o_orderkey"))
    }),

    "d9_conflict_sideout" -> ((s, d) => {
      // Cross-vendor tolerance conflicts as a queryable side-output
      // (replaces the reference's log warnings).
      def vendor(maxLine: Int, minLine: Int) = Tables.lineitem(s, d)
        .filter(col("l_linenumber") <= maxLine && col("l_linenumber") >= minLine)
        .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_date"))
        .agg(sum(col("l_extendedprice").cast(dec)).cast("double").as("px"),
          sum(col("l_quantity").cast(dec)).cast("double").as("qty"))
      val (_, conflicts) = graft.operators.MergeOps.reconcileWithConflicts(
        vendor(3, 1), vendor(7, 2), Seq("l_suppkey", "ship_date"),
        rules = Seq("px" -> graft.operators.MergeOps.preferLeft,
          "qty" -> ((l, r) => graft.operators.MergeOps.meanValue(l, r))),
        numericCols = Seq("px", "qty"), tol = 0.5)
      conflicts.orderBy(col("l_suppkey"), col("ship_date"), col("column"))
    }),

    "d10_snapshot_diff" -> ((s, d) => {
      // Data-quality regression (D10,
      // /root/reference/tasks/jqdata/stock/available_check/__init__.py:23-109):
      // join prev/current snapshots on PK, count per-column mismatches
      // and membership changes — one summary row.
      val prev = Tables.orders(s, d)
        .select(col("o_orderkey").as("pk"), col("o_totalprice").as("price_prev"),
          col("o_orderstatus").as("status_prev"))
      val curr = Tables.orders(s, d)
        .filter(col("o_orderkey") % 97 =!= 0) // dropped rows
        .select(col("o_orderkey").as("ck"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 5.0)
            .otherwise(col("o_totalprice")).as("price_curr"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("status_curr"))
      val joined = prev.join(curr, col("pk") === col("ck"), "full_outer")
      joined.agg(
        sum((col("pk").isNotNull && col("ck").isNull).cast("int")).as("n_dropped"),
        sum((col("pk").isNull && col("ck").isNotNull).cast("int")).as("n_new"),
        sum((col("pk").isNotNull && col("ck").isNotNull &&
          !(col("price_prev") <=> col("price_curr"))).cast("int")).as("n_price_diff"),
        sum((col("pk").isNotNull && col("ck").isNotNull &&
          !(col("status_prev") <=> col("status_curr"))).cast("int")).as("n_status_diff"),
        count(lit(1)).as("n_total"))
    }))

  /** Integer PageRank replay shared by a18_link_rank and
    * a18_rank_served (same edge relation, same 3 unrolled supersteps of
    * BIGINT floor arithmetic — value-level equality, no fp tolerance).
    */
  private val a18Oracle: String = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT b.node, b.outdeg, CAST(
         |    (SELECT (1000000000000 * 15 // 100) // n FROM params)
         |    + (coalesce(s.s, 0) * 85) // 100 AS BIGINT) AS rank
         |  FROM b LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(r.rank // r.outdeg) AS BIGINT) AS s
         |    FROM e JOIN $prev r ON r.node = e.src WHERE r.outdeg > 0
         |    GROUP BY 1) s ON s.node = b.node)""".stripMargin
    s"""WITH rel AS (
       |  SELECT DISTINCT o_custkey AS cust, 2000000 + l_suppkey AS supp
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |e AS (SELECT cust AS src, supp AS dst FROM rel
       |  UNION ALL SELECT supp, cust FROM rel),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
       |b AS (SELECT n.node, coalesce(od.outdeg, 0) AS outdeg
       |  FROM nodes n LEFT JOIN od ON od.node = n.node),
       |params AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, outdeg,
       |  CAST((SELECT 1000000000000 // n FROM params) AS BIGINT) AS rank FROM b),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // The streaming register-max merge must land exactly the registers
    // a whole-corpus batch build produces (HLL max-merge is
    // associative), so the oracle IS the batch replay.
    "stream_hll_upsert" -> CorpusQueries.oracleSql("t_hll_grouped"),

    "d11_table_checksum" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(('0x' || substr(md5(
        |    concat_ws('|',
        |      coalesce(CAST(o_orderkey AS VARCHAR), ''),
        |      coalesce(CAST(o_custkey AS VARCHAR), ''),
        |      coalesce(CAST(o_orderstatus AS VARCHAR), ''),
        |      coalesce(CAST(o_orderdate AS VARCHAR), ''))), 1, 15))::BIGINT)
        |    AS HUGEINT) % 2305843009213693952 AS BIGINT) AS checksum
        |FROM orders""".stripMargin,

    // The oracle's schemas come from DuckDB's DESCRIBE over the same
    // parquet (and the same float-narrowing select on the right side),
    // so both engines independently derive name, type, PK, and match
    // status. DuckDB prints the identical lowercase SQL type names the
    // engine's canonicalType maps to.
    "d12_schema_audit" ->
      """WITH lc AS (SELECT lower(column_name) AS col, lower(column_type) AS typ,
        |    regexp_replace(lower(column_name), '^[a-z]_', '') AS k
        |  FROM (DESCRIBE customer)),
        |rc AS (SELECT lower(column_name) AS col, lower(column_type) AS typ,
        |    regexp_replace(lower(column_name), '^[a-z]_', '') AS k
        |  FROM (DESCRIBE SELECT s_suppkey, s_name, s_nationkey,
        |    CAST(s_acctbal AS FLOAT) AS s_acctbal FROM supplier))
        |SELECT coalesce(lc.k, rc.k) AS match_key,
        |  CASE WHEN lc.k IS NOT NULL AND rc.k IS NOT NULL THEN 'matched'
        |       WHEN lc.k IS NOT NULL THEN 'left_only' ELSE 'right_only' END AS status,
        |  lc.col AS left_col, lc.typ AS left_type,
        |  CASE WHEN lc.k IS NULL THEN NULL ELSE lc.col = 'c_custkey' END AS left_pk,
        |  rc.col AS right_col, rc.typ AS right_type,
        |  CASE WHEN rc.k IS NULL THEN NULL ELSE rc.col = 's_suppkey' END AS right_pk,
        |  CASE WHEN lc.k IS NOT NULL AND rc.k IS NOT NULL
        |       THEN lc.typ = rc.typ ELSE NULL END AS type_match
        |FROM lc FULL OUTER JOIN rc ON lc.k = rc.k
        |ORDER BY match_key""".stripMargin,

    "k9_scd2_history" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |    o_orderstatus AS status FROM orders),
        |c AS (SELECT *,
        |    CASE WHEN lag(status) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) IS NULL
        |      OR lag(status) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) <> status
        |      THEN 1 ELSE 0 END AS chg
        |  FROM o),
        |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id FROM c),
        |runs AS (SELECT o_custkey, run_id, status, min(od) AS valid_from,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT o_custkey, run_id, status, valid_from,
        |  lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id) AS valid_to,
        |  lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id) IS NULL AS is_current,
        |  n_rows
        |FROM runs ORDER BY o_custkey, run_id""".stripMargin,

    "d13_calendar_gaps" ->
      """WITH o AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS od,
        |    o_orderpriority AS pri FROM orders),
        |cal AS (SELECT DISTINCT od FROM o),
        |pris AS (SELECT DISTINCT pri FROM o),
        |missing AS (
        |  SELECT c.od, p.pri FROM cal c CROSS JOIN pris p
        |  WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.od = c.od AND o.pri = p.pri)),
        |ci AS (SELECT od, row_number() OVER (ORDER BY od) AS ci FROM cal),
        |runs AS (
        |  SELECT m.pri, m.od, ci.ci,
        |    ci.ci - row_number() OVER (PARTITION BY m.pri ORDER BY ci.ci) AS grpk
        |  FROM missing m JOIN ci ON ci.od = m.od)
        |SELECT pri, min(od) AS gap_start, max(od) AS gap_end,
        |  CAST(count(*) AS BIGINT) AS n_days
        |FROM runs GROUP BY pri, grpk
        |ORDER BY pri, gap_start""".stripMargin,

    "k8_excel_report" ->
      s"""WITH j AS (
         |  SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT) AS yyyymm,
         |    r.r_name, o.o_totalprice
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey)
         |SELECT yyyymm,
         |  coalesce(${Oracles.jr6("median(CASE WHEN r_name = 'AFRICA' THEN o_totalprice END)")}, 0.0) AS africa,
         |  coalesce(${Oracles.jr6("median(CASE WHEN r_name = 'AMERICA' THEN o_totalprice END)")}, 0.0) AS america,
         |  coalesce(${Oracles.jr6("median(CASE WHEN r_name = 'ASIA' THEN o_totalprice END)")}, 0.0) AS asia,
         |  coalesce(${Oracles.jr6("median(CASE WHEN r_name = 'EUROPE' THEN o_totalprice END)")}, 0.0) AS europe,
         |  coalesce(${Oracles.jr6("median(CASE WHEN r_name = 'MIDDLE EAST' THEN o_totalprice END)")}, 0.0) AS middle_east
         |FROM j GROUP BY 1 ORDER BY yyyymm""".stripMargin,

    "k8b_worst_fund" ->
      s"""WITH pf AS (SELECT o_custkey, o_totalprice AS nav_from FROM (
         |    SELECT o_custkey, o_totalprice, row_number() OVER (
         |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders WHERE o_orderdate <= DATE '1994-12-31') t WHERE rn = 1),
         |pt AS (SELECT o_custkey, o_totalprice AS nav_to FROM (
         |    SELECT o_custkey, o_totalprice, row_number() OVER (
         |      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders WHERE o_orderdate <= DATE '1996-12-31') t WHERE rn = 1),
         |p AS (SELECT ${Oracles.jr6("nav_to / nav_from")} AS pct
         |  FROM pf JOIN pt USING (o_custkey)),
         |sel AS (SELECT pct FROM p WHERE pct <> 1.0 AND pct < 2.0)
         |SELECT CAST(count(*) AS BIGINT) AS cnt,
         |  ${Oracles.jr6("(CAST(sum(CAST(round(pct * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0) / count(*)")} AS mean,
         |  ${Oracles.jr("stddev_samp(pct)", 4)} AS std,
         |  min(pct) AS min_v,
         |  ${Oracles.jr6("quantile_cont(pct, 0.25)")} AS p25,
         |  ${Oracles.jr6("quantile_cont(pct, 0.5)")} AS p50,
         |  ${Oracles.jr6("quantile_cont(pct, 0.75)")} AS p75,
         |  max(pct) AS max_v
         |FROM sel""".stripMargin,

    "w12_ewma" ->
      s"""WITH RECURSIVE s AS (SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |r AS (
         |  SELECT user_id, event_id, value, rn, value AS ewma
         |  FROM s WHERE rn = 1
         |  UNION ALL
         |  SELECT s.user_id, s.event_id, s.value, s.rn,
         |    CAST(0.2 AS DOUBLE) * s.value + CAST(0.8 AS DOUBLE) * r.ewma
         |  FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         |SELECT user_id, event_id, value, ${Oracles.jr6("ewma")} AS ewma
         |FROM r ORDER BY user_id, event_id""".stripMargin,

    "a14_winsorize" ->
      s"""WITH p AS (SELECT event_type,
         |    quantile_cont(value, 0.01) AS p01,
         |    quantile_cont(value, 0.99) AS p99
         |  FROM events GROUP BY 1),
         |c AS (SELECT e.event_type, e.value, p.p01, p.p99,
         |    least(greatest(e.value, p.p01), p.p99) AS clip
         |  FROM events e JOIN p USING (event_type)),
         |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
         |    CAST(sum(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
         |    max(p01) AS p01r, max(p99) AS p99r,
         |    CAST(sum(CAST(round(clip * 1000000.0) AS BIGINT)) AS BIGINT) AS s
         |  FROM c GROUP BY 1)
         |SELECT event_type, n, n_low, n_high,
         |  ${Oracles.jr6("p01r")} AS p01, ${Oracles.jr6("p99r")} AS p99,
         |  ${Oracles.jr6("(CAST(s AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)")} AS mean_clipped
         |FROM agg ORDER BY event_type""".stripMargin,

    // Unrolled integer PageRank replay: identical BIGINT floor steps
    // (contribution = rank // outdeg, mix = teleport + 85% of summed
    // contributions) — integer sums are associative, so value equality
    // is exact by construction.
    "a18_link_rank" -> a18Oracle,
    // identical ranks by construction: the served query ranks the SAME
    // distinct edge relation, just read back from the bucketed store
    "a18_rank_served" -> a18Oracle,

    "a17_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem),
        |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
        |freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_p
        |  FROM items GROUP BY 1),
        |prs AS (SELECT a.l_partkey AS pk_a, b.l_partkey AS pk_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON b.ok = a.ok AND b.l_partkey > a.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pk_a, pk_b, n_ab, fa.n_p AS n_a, fb.n_p AS n_b,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) /
        |    (CAST(fa.n_p AS DOUBLE) * CAST(fb.n_p AS DOUBLE)), 6) AS lift
        |FROM prs
        |JOIN freq fa ON fa.l_partkey = prs.pk_a
        |JOIN freq fb ON fb.l_partkey = prs.pk_b
        |CROSS JOIN no
        |ORDER BY lift DESC, pk_a, pk_b LIMIT 50""".stripMargin,

    "a16_cohort_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
        |coh AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS n_cohort
        |  FROM fw GROUP BY 1),
        |act AS (SELECT f.cohort_wk,
        |    CAST((e.wk - f.cohort_wk) / 7 AS BIGINT) AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM ev e JOIN fw f ON f.user_id = e.user_id
        |  WHERE (e.wk - f.cohort_wk) / 7 <= 8
        |  GROUP BY 1, 2)
        |SELECT a.cohort_wk, a.week_offset, a.n_active, c.n_cohort,
        |  round(CAST(a.n_active AS DOUBLE) / CAST(c.n_cohort AS DOUBLE), 6) AS retention
        |FROM act a JOIN coh c ON c.cohort_wk = a.cohort_wk
        |ORDER BY a.cohort_wk, a.week_offset""".stripMargin,

    "a15_funnel" ->
      s"""WITH f AS (SELECT user_id,
         |    min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
         |    min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
         |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
         |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
         |  GROUP BY 1),
         |fl AS (SELECT
         |    (tv IS NOT NULL) AS s1,
         |    (tv IS NOT NULL AND tc IS NOT NULL AND tc >= tv) AS s2,
         |    (tv IS NOT NULL AND tc IS NOT NULL AND tc >= tv
         |      AND tp IS NOT NULL AND tp >= tc) AS s3
         |  FROM f),
         |agg AS (SELECT
         |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
         |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel
         |  FROM fl)
         |SELECT n_view, n_view_click, n_funnel,
         |  ${Oracles.jr6("CAST(n_view_click AS DOUBLE) / CAST(n_view AS DOUBLE)")} AS rate_click,
         |  ${Oracles.jr6("CAST(n_funnel AS DOUBLE) / CAST(n_view_click AS DOUBLE)")} AS rate_purchase
         |FROM agg""".stripMargin,

    "j6_three_way_merge" ->
      """WITH s1 AS (SELECT l_orderkey AS k1, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS v1
        |  FROM lineitem WHERE l_linenumber = 1 GROUP BY 1),
        |s2 AS (SELECT l_orderkey AS k2, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS v2
        |  FROM lineitem WHERE l_linenumber = 2 GROUP BY 1),
        |s3 AS (SELECT l_orderkey AS k3, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS v3
        |  FROM lineitem WHERE l_linenumber = 3 GROUP BY 1),
        |ab AS (SELECT coalesce(k1, k2) AS kab, v1, v2 FROM s1 FULL OUTER JOIN s2 ON k1 = k2)
        |SELECT coalesce(kab, k3) AS l_orderkey, v1, v2, v3,
        |  CAST(v1 IS NOT NULL AS INT) + CAST(v2 IS NOT NULL AS INT) + CAST(v3 IS NOT NULL AS INT) AS n_present
        |FROM ab FULL OUTER JOIN s3 ON kab = k3
        |ORDER BY l_orderkey""".stripMargin,

    "j9_pit_lookup" ->
      """SELECT o_custkey, CAST(o_orderdate AS DATE) AS asof_date,
        |  o_totalprice AS asof_price, o_orderkey AS asof_orderkey
        |FROM orders WHERE CAST(o_orderdate AS DATE) <= DATE '1999-06-30'
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin,

    "k4_incremental_append" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >
        |  (SELECT max(CAST(o_orderdate AS DATE)) FROM orders
        |   WHERE CAST(o_orderdate AS DATE) < DATE '1999-01-01')
        |ORDER BY o_orderkey""".stripMargin,

    "k5_export_per_key" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,

    "k6_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, r_name FROM nation JOIN region
        |ON n_regionkey = r_regionkey ORDER BY n_nationkey""".stripMargin,

    "s9_xls_nbar" ->
      """WITH b5 AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS ts5,
        |    arg_min(value, event_id) AS open, max(value) AS high,
        |    min(value) AS low, arg_max(value, event_id) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(to_timestamp(epoch(ts5)::BIGINT - epoch(ts5)::BIGINT % 86400
        |    + ((epoch(ts5)::BIGINT % 86400 + 1799) // 1800) * 1800) AS TIMESTAMP) AS bar_ts,
        |  arg_min(open, ts5) AS open, max(high) AS high, min(low) AS low,
        |  arg_max(close, ts5) AS close, count(*) AS n_bars5
        |FROM b5 GROUP BY 1, 2 ORDER BY event_type, bar_ts""".stripMargin,

    "k7_json_roundtrip" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // ORC roundtrips losslessly, so the oracle is the same plain join.
    "k8_orc_roundtrip" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "a9_rolling_mean" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_sum,
        |  count(*) OVER w AS rolling_n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) / (count(*) OVER w) AS rolling_mean
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "a11_describe_stats" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
        |  min(o_totalprice) AS min_v, max(o_totalprice) AS max_v,
        |  ${Oracles.jr("stddev_samp(o_totalprice)", 4)} AS std
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "o2_limit_latest" ->
      """SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS od
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5""".stripMargin,

    "p4_p8_predicates" ->
      """SELECT p_partkey, p_name, p_size, p_retailprice FROM part
        |WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+')
        |  AND p_name LIKE '%a%' AND p_name NOT LIKE '%zz%'
        |  AND p_size IN (1, 2, 3, 4, 5, 10, 15, 20, 25)
        |  AND p_retailprice IS NOT NULL AND p_retailprice <> 0
        |ORDER BY p_partkey""".stripMargin,

    "f5_limit_flag_merge" ->
      """WITH flags AS (
        |  SELECT o_orderkey,
        |    CASE o_custkey % 5 WHEN 0 THEN '涨停' WHEN 1 THEN '跌停'
        |      WHEN 2 THEN '停牌' WHEN 3 THEN '非涨跌停' ELSE '??' END AS ths_flag,
        |    CASE o_orderkey % 4 WHEN 0 THEN 1 WHEN 1 THEN -1 WHEN 2 THEN 0 ELSE 7 END AS wind_flag
        |  FROM orders),
        |coded AS (
        |  SELECT o_orderkey, ths_flag, wind_flag,
        |    CASE ths_flag WHEN '跌停' THEN -1 WHEN '涨停' THEN 1
        |      WHEN '非涨跌停' THEN 0 WHEN '停牌' THEN 0 END AS ths_c,
        |    CASE WHEN wind_flag IN (1, -1, 0) THEN wind_flag END AS wind_c
        |  FROM flags)
        |SELECT o_orderkey, ths_flag, CAST(wind_flag AS INT) AS wind_flag,
        |  CAST(CASE
        |    WHEN ths_c IS NULL AND wind_c IS NULL THEN -2
        |    WHEN ths_c IS NULL THEN wind_c
        |    WHEN wind_c IS NULL THEN ths_c
        |    WHEN ths_c = wind_c THEN wind_c
        |    ELSE -3 END AS INT) AS max_up_or_down
        |FROM coded ORDER BY o_orderkey""".stripMargin,

    "f9_parse_price" ->
      """SELECT p_partkey, CAST(p_retailprice AS VARCHAR) || '元/吨(est)' AS messy,
        |  CAST(regexp_extract(CAST(p_retailprice AS VARCHAR) || '元/吨(est)',
        |    '^[0-9]+\.?[0-9]*', 0) AS DOUBLE) AS parsed
        |FROM part ORDER BY p_partkey""".stripMargin,

    "f11_excel_epoch" ->
      """SELECT p_partkey, CAST(p_size * 1000 + p_partkey % 500 AS BIGINT) AS serial,
        |  DATE '1899-12-30' + CAST(floor((p_size * 1000 + p_partkey % 500) / 100.0) AS INT) AS as_date
        |FROM part ORDER BY p_partkey""".stripMargin,

    "skew_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "skew_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "p9_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "stream_upsert_tick_bars" ->
      """SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_start,
        |  arg_min(value, event_id) AS open, max(value) AS high, min(value) AS low,
        |  arg_max(value, event_id) AS close, count(*) AS n_ticks
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bar_start""".stripMargin,

    // Crash + checkpoint-restart must converge to the identical batch
    // aggregation — the oracle IS that aggregation, same as the
    // no-failure upsert sink's.
    "stream_recovery_upsert" ->
      """SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_start,
        |  arg_min(value, event_id) AS open, max(value) AS high, min(value) AS low,
        |  arg_max(value, event_id) AS close, count(*) AS n_ticks
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bar_start""".stripMargin,

    "j5_code_mapping" ->
      """WITH wind AS (
        |  SELECT 'W' || CAST(s_suppkey AS VARCHAR) || '.' ||
        |      (CASE WHEN s_suppkey % 2 = 0 THEN 'SH' ELSE 'SZ' END) AS wind_code,
        |    s_name AS full_name
        |  FROM supplier WHERE s_suppkey % 3 <> 0),
        |ifind AS (
        |  SELECT 'T' || CAST(s_suppkey AS VARCHAR) || '.' ||
        |      (CASE WHEN s_suppkey % 5 < 2 THEN 'SH' ELSE 'SZ' END) AS ths_code,
        |    upper('  ' || s_name || ' ') AS full_name
        |  FROM supplier WHERE s_suppkey % 2 = 1),
        |m AS (
        |  SELECT w.wind_code, i.ths_code
        |  FROM wind w JOIN ifind i ON upper(trim(w.full_name)) = upper(trim(i.full_name)))
        |SELECT CASE WHEN m.ths_code IS NULL THEN 'w.' || w.wind_code
        |         ELSE 'i.' || m.ths_code END AS unique_code,
        |  w.wind_code, m.ths_code,
        |  CASE WHEN m.ths_code IS NULL THEN split_part(w.wind_code, '.', 2)
        |    ELSE split_part(m.ths_code, '.', 2) END AS market,
        |  'stock' AS type
        |FROM wind w LEFT JOIN m ON w.wind_code = m.wind_code
        |UNION ALL
        |SELECT 'i.' || i.ths_code, NULL, i.ths_code, split_part(i.ths_code, '.', 2), 'stock'
        |FROM ifind i LEFT JOIN m ON i.ths_code = m.ths_code WHERE m.ths_code IS NULL
        |ORDER BY unique_code""".stripMargin,

    "d7_constituent_bisect" ->
      """WITH jm AS (SELECT user_id, CAST(date_trunc('month', min(ts)) AS DATE) AS jm
        |  FROM events GROUP BY 1),
        |span AS (SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events),
        |axis AS (SELECT dt FROM (
        |    SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS dt FROM span)
        |  WHERE dayofweek(dt) BETWEEN 1 AND 5),
        |iv AS (SELECT user_id,
        |    (SELECT min(dt) FROM axis WHERE dt >= jm) AS member_from,
        |    (SELECT max(dt) FROM axis) AS member_to
        |  FROM jm)
        |SELECT user_id,
        |  CAST(unnest(generate_series(CAST(date_trunc('month', member_from) AS TIMESTAMP),
        |    CAST(date_trunc('month', member_to) AS TIMESTAMP), INTERVAL 1 MONTH)) AS DATE) AS month,
        |  member_from, member_to
        |FROM iv WHERE member_from IS NOT NULL
        |ORDER BY user_id, month""".stripMargin,

    "cal_next_open" ->
      """WITH cal AS (
        |  SELECT CAST(d AS DATE) AS open_date
        |  FROM generate_series(DATE '1995-01-01', DATE '2002-12-31', INTERVAL 1 DAY) t(d)
        |  WHERE dayofweek(CAST(d AS DATE)) BETWEEN 1 AND 5)
        |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |  (SELECT min(open_date) FROM cal WHERE open_date >= CAST(o_orderdate AS DATE)) AS next_open
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "d9_conflict_sideout" ->
      """WITH va AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS px,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |  FROM lineitem WHERE l_linenumber BETWEEN 1 AND 3 GROUP BY 1, 2),
        |vb AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS px,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |  FROM lineitem WHERE l_linenumber BETWEEN 2 AND 7 GROUP BY 1, 2),
        |j AS (SELECT va.l_suppkey, va.ship_date,
        |    va.px AS px_a, vb.px AS px_b, va.qty AS qty_a, vb.qty AS qty_b
        |  FROM va JOIN vb USING (l_suppkey, ship_date))
        |SELECT l_suppkey, ship_date, 'px' AS "column", px_a AS left_value, px_b AS right_value
        |FROM j WHERE px_a IS NOT NULL AND px_b IS NOT NULL AND px_b <> 0
        |  AND abs(px_a - px_b) / abs(px_b) >= 0.5
        |UNION ALL
        |SELECT l_suppkey, ship_date, 'qty' AS "column", qty_a AS left_value, qty_b AS right_value
        |FROM j WHERE qty_a IS NOT NULL AND qty_b IS NOT NULL AND qty_b <> 0
        |  AND abs(qty_a - qty_b) / abs(qty_b) >= 0.5
        |ORDER BY l_suppkey, ship_date, "column"""".stripMargin,

    "d10_snapshot_diff" ->
      """WITH prev AS (SELECT o_orderkey AS pk, o_totalprice AS price_prev, o_orderstatus AS status_prev FROM orders),
        |curr AS (SELECT o_orderkey AS ck,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 5.0 ELSE o_totalprice END AS price_curr,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END AS status_curr
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |j AS (SELECT * FROM prev FULL OUTER JOIN curr ON pk = ck)
        |SELECT
        |  CAST(sum(CAST(pk IS NOT NULL AND ck IS NULL AS INT)) AS BIGINT) AS n_dropped,
        |  CAST(sum(CAST(pk IS NULL AND ck IS NOT NULL AS INT)) AS BIGINT) AS n_new,
        |  CAST(sum(CAST(pk IS NOT NULL AND ck IS NOT NULL AND price_prev IS DISTINCT FROM price_curr AS INT)) AS BIGINT) AS n_price_diff,
        |  CAST(sum(CAST(pk IS NOT NULL AND ck IS NOT NULL AND status_prev IS DISTINCT FROM status_curr AS INT)) AS BIGINT) AS n_status_diff,
        |  count(*) AS n_total
        |FROM j""".stripMargin)
}
