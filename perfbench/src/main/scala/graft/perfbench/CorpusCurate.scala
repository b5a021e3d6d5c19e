package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{TableSpec, TableStore}
import graft.functions.TextFunctions.{qualityScoreOf, tokenCountOf, tokens}

/** corpus_curate — successive crawl drops of generated documents with a
  * planted near-duplicate share and a boilerplate share. Each drop runs
  * the Gopher quality gate, one fused signature pass, MinHash pairs
  * within the drop and against the growing index (the calls
  * e2e_corpus_curation makes), then the pair and document upserts. The
  * run ends with the quality budget cut over the surviving documents. */
object CorpusCurate {
  val docSpec = TableSpec("curated_docs", Seq("doc_id"))
  val pairSpec = TableSpec("dup_pairs", Seq("id_a", "id_b"))
  val tau = 0.4
  /** Least share of planted pairs (Jaccard ≥ τ) the pair set must hold.
    * The LSH shape is chosen for 0.99 recall at τ and planted pairs sit
    * well above it, so the bench finds all of them; a lower recall fails
    * the output check, so a Dedup that finds fewer pairs cannot pass as
    * a faster one. */
  val minRecall = 0.95
  private val docSchema = StructType(Seq(StructField("u", IntegerType), StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))

  def run(ctx: Ctx, seconds: Double, maxUnits: Int): PassOut = {
    import ctx.{L, spark}
    val t0 = System.nanoTime()
    val gen = new Gen.Corpus(ctx.seed)
    val store = new TableStore(spark, s"${ctx.dir}/store")
    val (rows, bands) = L.operators.lshShape(tau)
    // inputs: one crawl drop per unit, written ahead in chunks
    val inputs = new Inputs(s"${ctx.dir}/in", 8, (units, dir) =>
      spark.createDataFrame(spark.sparkContext.parallelize(units.flatMap(k =>
        gen.drops(k)._1.map(d => Row(k, d.id, d.source, d.text))), 1), docSchema)
        .write.partitionBy("u").parquet(dir))
    inputs.ensure(0)

    def drop(k: Int): Unit = {
      ctx.ledger.consume(s"corpus_curate/drop/$k")
      val batch0 = spark.read.parquet(inputs.path(k))
      val gate = L.operators.gopherQuality(batch0, "doc_id", "text")
      val batch = L.core.materialize(
        batch0.join(gate.select(col("doc_id"), col("keep")), Seq("doc_id"))
          .withColumn("__toks", tokens(col("text")))
          .withColumn("__ltoks", tokens(lower(col("text"))))
          .withColumn("__c", L.operators.sigAndShingles(col("text"), rows * bands))
          .select(col("doc_id"), col("source"),
            qualityScoreOf(col("text"), col("__toks"), col("__ltoks")).as("quality"),
            tokenCountOf(col("__toks")).cast("long").as("n_tokens"),
            col("keep"), col("__c._1").as("minhash_sig"), col("__c._2").as("shingles")),
        "cur_batch", s"${ctx.seed}|$k")
      val dedupIn = batch.filter(col("keep"))
        .select(col("doc_id"), col("minhash_sig"), col("shingles"))
      val within = L.operators.minHashPairsWithinSigs(dedupIn, "doc_id", rows * bands, bands, tau)
      val pins = mutable.ArrayBuffer(gate, within)
      val pairs =
        if (store.exists(docSpec)) {
          val index = L.core.read(store, docSpec).filter(col("keep"))
            .select(col("doc_id"), col("minhash_sig"), col("shingles"))
          val cross = L.operators.minHashPairsBetweenSigs(dedupIn, index, "doc_id",
            rows * bands, bands, tau)
          pins += cross
          within.unionByName(cross)
        } else within
      // pairs commit before docs, as in the e2e pipeline
      if (!pairs.isEmpty) L.core.upsert(store, pairSpec, pairs)
      L.core.upsert(store, docSpec, batch)
      L.done(pins.toSeq: _*)
    }
    // the serving read: min-id-wins over the pair set, then the budget
    // cut; returns the number of documents the cut keeps
    def serve(): Long = {
      val kept = L.core.read(store, docSpec).filter(col("keep"))
      val dup = L.core.read(store, pairSpec).select(col("id_b").as("doc_id")).distinct()
      val alive = kept.join(dup, Seq("doc_id"), "left_anti")
        .select("doc_id", "quality", "n_tokens").cache()
      val budget = alive.agg(sum("n_tokens")).first.getLong(0) * 3 / 5
      val cut = L.operators.qualityBudgetCut(alive, "doc_id", "quality", "n_tokens", budget)
      val n = cut.count()
      L.done(cut, alive)
      n
    }
    // warm-up: one drop, then, before a measured loop, one serving cut
    // over it, so the timed cut at the end does not pay the cut's
    // first-run cost alone (a single-unit pass, a traced companion,
    // skips the cut to keep the traced run within its time limit)
    drop(0)
    if (maxUnits > 1) serve()
    val meter = new WriteMeter(ctx, "store")
    val setupS = (System.nanoTime() - t0) / 1e9

    val tl = System.nanoTime()
    ctx.tracer.active = true
    val unitMs = Harness.closedLoop(seconds, maxUnits, i => inputs.ensure(i + 1))(i => drop(i + 1))
    val (nCut, cutMs) = Harness.timed(serve())
    meter.tick()
    val loopS = (System.nanoTime() - tl) / 1e9
    ctx.tracer.active = false
    val used = gen.drops.take(unitMs.size + 1)

    // output check: every emitted pair has exact Jaccard ≥ τ, recomputed
    // in plain Scala from the generated texts; planted-pair recall
    val text = used.flatMap(_._1).map(d => d.id -> d.text).toMap
    val sh = mutable.Map.empty[Long, Set[String]]
    def shingles(id: Long) = sh.getOrElseUpdate(id, Gen.shingles(text(id)))
    val pairs = store.read(pairSpec).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mism = mutable.ArrayBuffer.empty[String]
    val below = pairs.count { case (a, b) => Gen.jaccard(shingles(a), shingles(b)) < tau }
    if (below > 0) mism += s"$below of ${pairs.length} pairs have exact Jaccard below $tau"
    if (nCut <= 0) mism += "budget cut kept no documents"
    val found = pairs.toSet
    val planted = used.flatMap(_._2).filter(_.jaccard >= tau)
    val hit = planted.count(p => found((math.min(p.orig, p.copy), math.max(p.orig, p.copy))))
    val recall = if (planted.isEmpty) 1.0 else hit.toDouble / planted.size
    if (recall < minRecall) mism += s"found $hit of ${planted.size} planted pairs, recall below $minRecall"
    // a drop's docs over the time of one serving cycle: the mean drop
    // plus one budget cut. Spreading the single cut over the run's drops
    // instead would make the rate depend on how many drops fit the run.
    val cycleS = (unitMs.sum / unitMs.size + cutMs) / 1000
    PassOut(unitMs, gen.spec.docsPerDrop, cycleS, unitMs.size + 2,
      if (mism.isEmpty) 0 else 1, mism.toSeq,
      Vector(("curate.docs_per_s", gen.spec.docsPerDrop / cycleS, "1/s"),
        ("curate.pair_recall", recall, "ratio"),
        ("curate.planted_pairs", planted.size.toDouble, "count"),
        ("curate.cut_s", cutMs / 1000, "s")),
      loopS, setupS, meter.bytes, meter.files, meter.live)
  }
}
