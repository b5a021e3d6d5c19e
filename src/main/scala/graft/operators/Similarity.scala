package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (one shuffle-free map
  * + a top-k window); the scale path buckets vectors with
  * sign-random-projection LSH (or an IVF-style coarse quantizer) so the
  * candidate set per query is a bucket, not the corpus.
  */
object Similarity {

  /** Exact top-k cosine neighbors for every query vector against the
    * corpus. Corpus side is broadcast when small; for corpus ≫ memory,
    * swap the broadcast for an LSH/IVF variant below.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String, k: Int,
      broadcastCorpus: Boolean = true, rankRound: Option[Int] = None): DataFrame = {
    val c0 = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
    val c = if (broadcastCorpus) broadcast(c0) else c0
    val rawCos = VectorFunctions.cosine(col("__qv"), col("__cv"))
    // rankRound quantizes the score before ranking — determinism across
    // engines/run-configs at the cost of arbitrary order inside a tie.
    val cosCol = rankRound.map(n => round(rawCos, n)).getOrElse(rawCos)
    val scored = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF-style coarse partitioning: assign each vector to its nearest of
    * `centroids` (a small broadcast list of (centroid_id, vec)), then
    * search only within the probe cell(s). Recall<1, linear scale-out.
    */
  def ivfAssign(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centId: String, centVec: String): DataFrame = {
    val c = broadcast(centroids.select(col(centId).as("__cid"), col(centVec).as("__cv")))
    val scored = vectors.join(c)
      .withColumn("__d", VectorFunctions.l2Distance(col(vecCol), col("__cv")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d").asc, col("__cid").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(vectors.columns.map(col) :+ col("__cid").as("cell"): _*)
  }

  /** Full IVF top-k search: assign the corpus to coarse cells once
    * (nearest centroid), probe each query's `nprobe` nearest cells, and
    * run exact cosine top-k inside the probed cells only. At scale the
    * corpus-cell assignment is precomputed (cell = storage bucket), so a
    * query touches nprobe cells instead of the corpus — recall < 1 by
    * construction, the standard IVF trade-off. Centroids are broadcast;
    * the only wide exchange is the probe-cell join on the cell id.
    *
    * A corpus vector lives in exactly one cell, so probing several cells
    * cannot duplicate a (query, neighbor) pair — no dedup needed.
    */
  def ivfSearch(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      centroids: DataFrame, centId: String, centVec: String,
      nprobe: Int, k: Int, rankRound: Option[Int] = None): DataFrame = {
    val cells = ivfAssign(corpus, cId, cVec, centroids, centId, centVec)
      .select(col(cId).as("neighbor_id"), col(cVec).as("__cv"), col("cell"))
    val cent = broadcast(centroids.select(col(centId).as("__pid"), col(centVec).as("__pv")))
    val probeScored = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .join(cent)
      .withColumn("__d", VectorFunctions.l2Distance(col("__qv"), col("__pv")))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("__d").asc, col("__pid").asc)
    val probes = probeScored.withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__pid").as("cell"))
    val rawCos = VectorFunctions.cosine(col("__qv"), col("__cv"))
    val cosCol = rankRound.map(n => round(rawCos, n)).getOrElse(rawCos)
    val scored = probes.join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Lloyd's k-means over the embedding column — the training step that
    * produces the IVF coarse centroids [[ivfAssign]]/[[ivfSearch]]
    * consume (without it the quantizer is whatever vectors happen to be
    * picked as seeds). Built for determinism across engines, runs, and
    * partitionings:
    *
    *  - init = the `k` lowest-id vectors, cells labeled 0..k-1 in that
    *    order (no RNG state to reproduce);
    *  - assignment = argmin L2 with centroid-id tie-break (one broadcast
    *    join + one top-1 window per iteration — the corpus shuffles on
    *    nothing, the only exchange is the per-vector window, and at
    *    cluster scale that window is a map-side top-1);
    *  - update = per-(cell, dim) mean computed as an EXACT decimal(30,12)
    *    sum divided in double. Decimal addition is associative, so the
    *    mean is independent of partition/merge order — a double sum
    *    would make the trained centroids (and every downstream
    *    assignment) nondeterministic under AQE re-planning. A binary
    *    double can never land exactly on a decimal rounding tie, so the
    *    double→decimal quantization is also engine-portable;
    *  - empty cells keep their previous centroid (matched by the oracle).
    *
    * Centroids live on the driver between iterations (k·dim doubles —
    * the standard distributed-k-means shape: the model is tiny, the data
    * never leaves the executors). Returns (cent_id, centroid).
    */
  def kmeansTrain(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(iters >= 0, "iters must be non-negative")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectors.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    var cents: Seq[(Long, Seq[Double])] = base.orderBy(col(idCol)).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }.toSeq
    require(cents.length == k,
      s"k=$k exceeds the vector count ${cents.length} — cannot seed k centroids")
    for (_ <- 0 until iters) {
      val cdf = cents.toDF("cent_id", "cv")
      val assigned = ivfAssign(base, idCol, "__v", cdf, "cent_id", "cv")
      val means = assigned
        .select(col("cell"), posexplode(col("__v")).as(Seq("__pos", "__x")))
        .groupBy(col("cell"), col("__pos"))
        .agg((sum(col("__x").cast("decimal(30,12)")).cast("double") /
          count(lit(1)).cast("double")).as("__m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          val arr = new Array[Double](rows.map(_.getInt(1)).max + 1)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          cell -> arr.toSeq
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents.toDF("cent_id", "centroid")
  }

  /** Product-quantization codebook: split the `dim`-dimensional space
    * into `m` contiguous subspaces (dim/m each), seed each subspace's
    * `kSub` centroids from the lowest-id vectors' subvectors (same
    * deterministic-seed convention as [[kmeansTrain]]), then run `iters`
    * Lloyd iterations per subspace. All m subspaces train in ONE data
    * pass per iteration: a fused argmin UDF assigns every subvector, one
    * aggregation computes every (sub, cell, pos) mean — the job count is
    * independent of m, and the per-iteration shuffle is model-sized
    * (partial-aggregated to m·kSub·subDim cells). Exact decimal sums
    * make the means bit-reproducible across partition orders, so a SQL
    * oracle can replay training (proved by the kmeans oracle).
    * Empty cells keep their previous centroid. `iters = 0` returns the
    * raw seed codebook. Returns (sub_id, cent_id, centroid) — m·kSub
    * tiny rows; cent_id is the seeding vector's id.
    */
  /** Train-once memo (same contract as the BPE merge cache): the
    * codebook is m·kSub·subDim doubles, training is deterministic in
    * the key, and three consumers per session (encode / ADC search /
    * fused IVF-PQ) train the identical model — without the memo each
    * re-runs the seed collect plus `iters` corpus passes.
    *
    * The key is the SHA-256 of the input's canonicalized analyzed plan
    * ([[graft.core.Scratch.planKey]]) — collision-resistant, unlike the
    * 32-bit `semanticHash()` this used before. It covers paths but not
    * file CONTENTS — like the BPE cache, the contract is
    * session-scoped over immutable inputs; a pipeline that rewrites a
    * path in place and retrains must use a new path (or session).
    */
  private val pqCache =
    new graft.core.BoundedMemo[String, Array[Array[(Long, Array[Double])]]](64)

  def pqTrain(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kSub: Int, iters: Int = 0): DataFrame = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(iters >= 0, "iters must be non-negative")
    val subDim = dim / m
    val spark = vectors.sparkSession
    import spark.implicits._
    val cacheKey =
      s"${graft.core.Scratch.planKey(vectors)}|$idCol|$vecCol|$dim|$m|$kSub|$iters"
    pqCache.get(cacheKey) match {
      case Some(cached) =>
        return (for (s0 <- 0 until m; (cid, cv) <- cached(s0)) yield (s0, cid, cv.toSeq))
          .toDF("sub_id", "cent_id", "centroid")
      case None => ()
    }
    val base = vectors.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val seeds = base.orderBy(col("__id")).limit(kSub).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(seeds.length == kSub,
      s"kSub=$kSub exceeds the vector count ${seeds.length} — cannot seed the codebook")
    // cb(sub) = centroids sorted by cent_id (argmin scan order = tie-break)
    var cb: Array[Array[(Long, Array[Double])]] = Array.tabulate(m) { s0 =>
      seeds.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, s0 * subDim, (s0 + 1) * subDim))
      }.sortBy(_._1)
    }
    for (_ <- 0 until iters) {
      val local = cb
      val assignUdf = udf { v: Seq[Double] =>
        val arr = v.toArray
        val codes = new Array[Long](m)
        var s = 0
        while (s < m) {
          val cents = local(s)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            val cv = cents(c)._2
            var d = 0.0
            var i = 0
            while (i < subDim) {
              val diff = arr(s * subDim + i) - cv(i)
              d += diff * diff
              i += 1
            }
            // strict <: lowest cent_id wins ties (scan order is sorted)
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = cents(best)._1
          s += 1
        }
        codes
      }
      val means = base
        .select(assignUdf(col("__v")).as("__codes"),
          posexplode(col("__v")).as(Seq("__p", "__x")))
        .select(
          (col("__p") / subDim).cast("int").as("sub"),
          element_at(col("__codes"), (col("__p") / subDim).cast("int") + 1).as("cid"),
          (col("__p") % subDim).as("pos"),
          col("__x"))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg((sum(col("__x").cast("decimal(30,12)")).cast("double") /
          count(lit(1)).cast("double")).as("__m"))
        .collect()
      val updated: Map[(Int, Long), Array[Double]] = means
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (key, rows) =>
          val arr = new Array[Double](subDim)
          rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3))
          key -> arr
        }
      cb = Array.tabulate(m) { s0 =>
        cb(s0).map { case (cid, old) => (cid, updated.getOrElse((s0, cid), old)) }
      }
    }
    pqCache.put(cacheKey, cb)
    (for (s0 <- 0 until m; (cid, cv) <- cb(s0)) yield (s0, cid, cv.toSeq))
      .toDF("sub_id", "cent_id", "centroid")
  }

  /** Product-quantization encode: each vector becomes `m` small codes
    * (nearest sub-centroid per subspace, L2² with cent_id tie-break) +
    * the total reconstruction error Σ min-dist². THE memory lever for
    * ANN at 100 TB: a 64-dim float vector (256 B) compresses to m bytes
    * with table-lookup (ADC) distance search.
    *
    * Shape: the codebook is m·kSub rows — collected once and carried in
    * the kernel closure (the [[ivfAssign]] broadcast-join + window
    * pattern would cost m windows here); the encode itself is a fused
    * map-only pass, zero shuffles, like the minhash/simhash kernels
    * (interpreted higher-order Columns would re-slice the vector per
    * centroid). Emits (id, sub_id, code, recon_err) melted rows.
    */
  /** Collect a (sub_id, cent_id, centroid) codebook to the driver:
    * sub_id → centroids ordered by cent_id (argmin scan order =
    * tie-break). m·kSub rows — model-sized, like [[kmeansTrain]]'s
    * driver-held centroids. */
  private def collectCodebook(codebook: DataFrame, m: Int): Array[Array[(Long, Array[Double])]] = {
    val rows = codebook
      .select(col("sub_id").cast("int"), col("cent_id").cast("long"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "empty codebook")
    (0 until m).map(s =>
      rows.filter(_._1 == s).sortBy(_._2).map(t => (t._2, t._3))).toArray
  }

  def pqEncode(vectors: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int): DataFrame = {
    val cb = collectCodebook(codebook, m)
    val subDim = cb(0)(0)._2.length
    val enc = udf { v: Seq[Double] =>
      if (v == null) null
      else {
        val arr = v.toArray
        val codes = new Array[Long](m)
        var err = 0.0
        var s = 0
        while (s < m) {
          val cents = cb(s)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            val cv = cents(c)._2
            var d = 0.0
            var i = 0
            while (i < subDim) {
              val diff = arr(s * subDim + i) - cv(i)
              d += diff * diff
              i += 1
            }
            // strict <: first (lowest cent_id) wins ties, matching the
            // oracle's (dist, cent_id) row_number order
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          codes(s) = cents(best)._1
          err += bestD
          s += 1
        }
        (codes, err)
      }
    }
    vectors
      .select(col(idCol), enc(col(vecCol).cast("array<double>")).as("__e"))
      .select(col(idCol), posexplode(col("__e._1")).as(Seq("sub_id", "code")),
        col("__e._2").as("recon_err"))
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * search half of product quantization: the corpus exists only as
    * `m`-code rows ([[pqEncode]] output), never as vectors. Per query,
    * one distance TABLE per subspace (‖q_s − cent‖² for each
    * sub-centroid: m·kSub doubles) is precomputed once; a corpus
    * vector's approximate distance is then m array lookups + adds.
    *
    * Scale shape: queries (with their tables) broadcast; the coded
    * corpus streams map-side — the only wide exchange is the per-query
    * top-k window. `distRound` quantizes the approximate distance
    * before ranking (cross-engine determinism, as [[bruteForceTopK]]).
    */
  /** The two ADC kernels over a collected codebook: per-query distance
    * tables (‖q_s − cent‖² for every sub-centroid) and the table-lookup
    * approximate distance, Σ over subspaces in ascending sub order —
    * the oracle folds its per-sub terms in the same order, so double
    * addition is identical. Shared by [[pqSearch]] and [[ivfPqSearch]].
    */
  private def adcKernels(cb: Array[Array[(Long, Array[Double])]], m: Int)
      : (org.apache.spark.sql.expressions.UserDefinedFunction,
         org.apache.spark.sql.expressions.UserDefinedFunction) = {
    val subDim = cb(0)(0)._2.length
    val kSub = cb(0).length
    val slot: Array[Map[Long, Int]] =
      cb.map(_.iterator.map(_._1).zipWithIndex.toMap)
    val tablesUdf = udf { v: Seq[Double] =>
      val arr = v.toArray
      val t = new Array[Double](m * kSub)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < kSub) {
          val cv = cb(s)(c)._2
          var d = 0.0
          var i = 0
          while (i < subDim) {
            val diff = arr(s * subDim + i) - cv(i)
            d += diff * diff
            i += 1
          }
          t(s * kSub + c) = d
          c += 1
        }
        s += 1
      }
      t
    }
    val adistUdf = udf { (t: Seq[Double], cs: Seq[Long]) =>
      var s = 0
      var acc = 0.0
      while (s < m) { acc += t(s * kSub + slot(s)(cs(s))); s += 1 }
      acc
    }
    (tablesUdf, adistUdf)
  }

  def pqSearch(queries: DataFrame, qId: String, qVec: String,
      codes: DataFrame, cId: String, codebook: DataFrame,
      m: Int, k: Int, distRound: Option[Int] = None): DataFrame = {
    val cb = collectCodebook(codebook, m)
    val (tablesUdf, adistUdf) = adcKernels(cb, m)
    val packed = codes.groupBy(col(cId).as("neighbor_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        x => x.getField("code")).as("__codes"))
    val q = queries.select(col(qId).as("query_id"),
      tablesUdf(col(qVec).cast("array<double>")).as("__t"))
    val scored = broadcast(q)
      .join(packed, col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adistUdf(col("__t"), col("__codes")))
    val dcol = distRound.map(n => round(col("adist"), n)).getOrElse(col("adist"))
    val w = Window.partitionBy(col("query_id")).orderBy(dcol.asc, col("neighbor_id").asc)
    scored.withColumn("adist", dcol)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** IVF + PQ fused search — the standard billion-scale ANN read path
    * (an IVF-ADC index): the corpus exists only as PQ code rows plus a
    * coarse cell id per vector, a query probes its `nprobe` nearest
    * coarse cells and runs ADC over the codes in those cells only. Both
    * approximations compose: candidate count scales as nprobe/nCells of
    * the corpus, and each candidate costs m table lookups instead of a
    * dim-length scan — at 100 TB neither the raw vectors nor the full
    * code set ever reaches a query.
    *
    * Shape: coarse centroids and the per-query distance tables
    * broadcast; the probed-cell join is the only wide exchange, then
    * the per-query top-k window. A corpus vector lives in exactly one
    * cell, so multi-probe cannot duplicate a (query, neighbor) pair.
    *
    * `cells` is the (cId, cell) coarse assignment ([[ivfAssign]]
    * output — precomputed at scale, where cell = storage bucket).
    */
  def ivfPqSearch(queries: DataFrame, qId: String, qVec: String,
      codes: DataFrame, cId: String, cells: DataFrame,
      codebook: DataFrame, centroids: DataFrame, centId: String, centVec: String,
      m: Int, nprobe: Int, k: Int, distRound: Option[Int] = None): DataFrame = {
    val cb = collectCodebook(codebook, m)
    val (tablesUdf, adistUdf) = adcKernels(cb, m)
    val packed = codes.groupBy(col(cId).as("neighbor_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        x => x.getField("code")).as("__codes"))
      .join(cells.select(col(cId).as("neighbor_id"), col("cell")), Seq("neighbor_id"))
    val cent = broadcast(centroids.select(col(centId).as("__pid"), col(centVec).as("__pv")))
    val probeScored = queries
      .select(col(qId).as("query_id"),
        tablesUdf(col(qVec).cast("array<double>")).as("__t"),
        col(qVec).cast("array<double>").as("__qv"))
      .join(cent)
      .withColumn("__d", VectorFunctions.l2Distance(col("__qv"), col("__pv")))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("__d").asc, col("__pid").asc)
    val probes = probeScored.withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__t"), col("__pid").as("cell"))
    val scored = broadcast(probes).join(packed, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adistUdf(col("__t"), col("__codes")))
    val dcol = distRound.map(n => round(col("adist"), n)).getOrElse(col("adist"))
    val w = Window.partitionBy(col("query_id")).orderBy(dcol.asc, col("neighbor_id").asc)
    scored.withColumn("adist", dcol)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** LSH-bucketed approximate neighbor pairs: vectors sharing an SRP
    * bucket are candidates; exact cosine verifies. One shuffle on the
    * bucket id.
    *
    * `maxBucketSize` caps degenerate mega-buckets — the same skew guard
    * as [[Dedup.minHashDupPairs]]: a hot SRP bucket (e.g. the all-zero
    * sign region of a skewed embedding space) makes the candidate
    * self-join quadratic in that bucket's size at corpus scale, while
    * contributing mostly low-cosine noise. Buckets over the cap are
    * dropped from pair generation entirely.
    */
  def lshNeighborPairs(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, minCosine: Double,
      maxBucketSize: Int = 1000): DataFrame = {
    val bucketed0 = vectors.select(col(idCol), col(vecCol),
      VectorFunctions.srpBucket(col(vecCol), dim, nBits).as("bucket"))
    val smallBuckets = bucketed0.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n")
    val bucketed = bucketed0.join(smallBuckets, Seq("bucket"), "left_semi")
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
      .dropDuplicates("id_a", "id_b")
  }

  /** Java-exact `round(x, 6)` for driver/executor-side Scala kernels —
    * the same shortest-representation HALF_UP that Spark's `round`
    * column function performs, so scores computed in a typed kernel
    * compare equal to scores computed in column algebra.
    */
  private def jround6(x: Double): Double =
    // non-finite passes through like Spark's round (BigDecimal.valueOf
    // would throw and kill the job on one corrupt value)
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Same accumulation as the native cosine expression
    * ([[graft.plans.CosineSimilarity]]): one left-to-right fused loop,
    * 0 when a norm is 0. */
  private def cosineLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0) dot / denom else 0.0
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified re-ranking of the exact top-`poolSize` candidates:
    * greedily select `k` results, each step maximizing
    * `λ·relevance − (1−λ)·max_{s∈selected} sim(candidate, s)` — the
    * standard redundancy-pruning pass a retrieval pipeline runs after
    * ANN search.
    *
    * Scale shape: candidate generation is [[bruteForceTopK]] (or any
    * ANN variant — the rerank only sees its output); the greedy state
    * per query is the `poolSize`-row candidate list, a model-sized
    * group handled in one `flatMapGroups` with NO cross-query state, so
    * reranking parallelizes per query and never holds more than
    * `poolSize²` similarities. All comparisons run on 6-digit-rounded
    * scores (both engines compute identical summands); ties break on
    * higher relevance, then lower neighbor id.
    *
    * Returns `(query_id, neighbor_id, relevance, mmr, rank)`,
    * `rank ∈ [1, k]` in selection order.
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, poolSize: Int, lambda: Double = 0.7): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cand = bruteForceTopK(queries, corpus, qId, qVec, cId, cVec,
      k = poolSize, rankRound = Some(6))
    val withVec = cand
      .join(corpus.select(col(cId).as("neighbor_id"), col(cVec).cast("array<double>").as("__cv")),
        Seq("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cosine"), col("__cv"))
      .as[(Long, Long, Double, Seq[Double])]
    withVec.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cands = it.toArray.sortBy(c => (-c._3, c._2)) // rel DESC, id ASC
        val n = cands.length
        val selected = Array.fill(n)(false)
        val out = Vector.newBuilder[(Long, Long, Double, Double, Long)]
        var picked = 0
        var stalled = false
        while (!stalled && picked < math.min(k, n)) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!selected(i)) {
              var maxSim = 0.0
              var any = false
              var j = 0
              while (j < n) {
                if (selected(j)) {
                  val s = jround6(cosineLocal(cands(i)._4, cands(j)._4))
                  if (!any || s > maxSim) { maxSim = s; any = true }
                }
                j += 1
              }
              val score = jround6(
                lambda * cands(i)._3 - (if (any) (1 - lambda) * maxSim else 0.0))
              // strict > with rel-DESC/id-ASC scan order = lowest-id argmax
              if (score > bestScore) { bestScore = score; best = i }
            }
            i += 1
          }
          // NaN scores compare false against bestScore, so a corrupt
          // vector (non-finite component) can leave best = -1 when every
          // remaining candidate scores NaN — stop picking rather than
          // index selected(-1) and kill the job on one bad row
          if (best < 0) stalled = true
          else {
            selected(best) = true
            picked += 1
            out += ((qid, cands(best)._2, cands(best)._3, bestScore, picked.toLong))
          }
        }
        out.result()
      }
      .toDF("query_id", "neighbor_id", "relevance", "mmr", "rank")
  }

  /** Feature-hashed document embedding (the hashing trick, Weinberger
    * et al. 2009): each token adds ±1 (sign from a second hash window)
    * to one of `dim` buckets, giving an integer signed-count vector; a
    * unit-normalized copy rides along for cosine search. This is the
    * fully-in-engine embedding that lets the whole ANN/semantic-dedup
    * stack run on raw text with no external model — swap in a real
    * encoder by replacing this one operator.
    *
    * Plan shape: tokenize → (bucket, sign) column algebra → ONE
    * partial-aggregated shuffle on (id, bucket) → per-doc dense
    * assembly via a sorted-map projection (map-only). The integer
    * components are exact at any partitioning; only the normalized copy
    * is floating-point (computed per-element from the exact integers,
    * so it is deterministic too).
    *
    * Returns `(id, n_tokens, vec, unit)` — `vec` the integer
    * signed-count array, `unit` its L2-normalized double copy (zero
    * vector passes through).
    */
  def hashedDocEmbedding(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    val tok = docs.select(col(idCol).as("__id"),
      explode(graft.functions.TextFunctions.tokens(lower(col(textCol)))).as("__tok"))
    val m5 = md5(col("__tok"))
    val h1 = conv(substring(m5, 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(m5, 16, 14), 16, 10).cast("long")
    val cells = tok.select(col("__id"),
        pmod(h1, lit(dim.toLong)).as("__j"),
        (pmod(h2, lit(2L)) * 2 - 1).as("__s"))
      .groupBy(col("__id"), col("__j"))
      .agg(count(lit(1)).as("__c"), sum(col("__s")).as("__v"))
    val dense = cells.groupBy(col("__id"))
      .agg(sum(col("__c")).as("n_tokens"),
        map_from_entries(collect_list(struct(col("__j"), col("__v")))).as("__m"))
      .select(col("__id"), col("n_tokens"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          j => coalesce(element_at(col("__m"), j), lit(0L))).as("vec"))
    dense.select(col("__id").as(idCol), col("n_tokens"), col("vec"),
      VectorFunctions.normalized(transform(col("vec"), _.cast("double"))).as("unit"))
  }

  /** Int8 scalar quantization of an embedding column — the standard
    * 4× storage compression for vector stores: per-vector symmetric
    * scale `max|v_i| / 127`, codes `round(v_i·127 / max|v_i|)` clamped
    * to [-127, 127]. Map-only, no shuffle; reports the per-vector L2
    * reconstruction error so the quality cost is auditable. Codes are
    * fingerprinted (md5 of the joined code string) — at 100 TB the
    * fingerprint is also what a downstream equality audit would ship,
    * not the code arrays themselves.
    *
    * Fused single-pass kernel rather than Column algebra — the same
    * trade as the minhash/simhash kernels: higher-order array functions
    * run interpreted with NO subexpression sharing, so the `max|v_i|`
    * subtree re-evaluates inside the reconstruction lambda per element
    * (O(dim²) interpreted work per row; measured 4.5 s for 2000×64 at
    * sf0.1 vs 0.3 s fused). Rounding uses the same
    * shortest-representation HALF_UP as Spark's `round`, so results
    * are bit-identical to the algebraic form.
    *
    * Returns `(id, n_dims, scale, codes_fp, recon_err)`; zero vectors
    * pass through with scale 0 and all-zero codes.
    */
  def int8Quantize(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val kernel = udf { v: Seq[Double] =>
      val n = v.length
      var vmax = 0.0
      var i = 0
      while (i < n) { val a = math.abs(v(i)); if (a > vmax) vmax = a; i += 1 }
      val codes = new Array[Long](n)
      if (vmax > 0 && !java.lang.Double.isInfinite(vmax)) {
        i = 0
        while (i < n) {
          val x = v(i) * 127.0 / vmax
          // one corrupt (non-finite) component quantizes to 0 instead
          // of killing the job (BigDecimal.valueOf throws on NaN/Inf)
          codes(i) =
            if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) 0L
            else math.max(-127L, math.min(127L,
              java.math.BigDecimal.valueOf(x)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValue()))
          i += 1
        }
      }
      var se = 0.0
      i = 0
      while (i < n) { val d = v(i) - codes(i) * vmax / 127.0; se += d * d; i += 1 }
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(codes.mkString("-").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val fp = md.map("%02x".format(_)).mkString
      (n.toLong, jround6(vmax / 127.0), fp,
        jround6(if (vmax > 0) math.sqrt(se) else 0.0))
    }
    vectors.select(col(idCol),
      kernel(col(vecCol).cast("array<double>")).as("__q"))
      .select(col(idCol), col("__q._1").as("n_dims"), col("__q._2").as("scale"),
        col("__q._3").as("codes_fp"), col("__q._4").as("recon_err"))
  }

  /** Margin-based parallel-pair mining across two embedding blocks —
    * the LASER/CCMatrix bitext construction (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining", the `ratio` strategy with
    * forward `max` selection): a raw cosine cutoff over-mines hub
    * vectors (globally close to everything), so each candidate's score
    * is its cosine RELATIVE to the mean of both endpoints' k-NN
    * neighborhoods —
    * `margin(x,y) = cos(x,y) / ((mean_k cos(x, NNk(x∈tgt)) +
    * mean_k cos(y, NNk(y∈src))) / 2)` — and each source keeps its best
    * target iff the margin clears `minMargin` (≥ 1 ⇒ closer than the
    * neighborhood average).
    *
    * Scale shape: two block-kNN passes (here the exact broadcast
    * kernel; [[marginBitextMineIvf]] is the same margin algebra over
    * [[ivfSearch]] kNN for corpora past broadcast size, and
    * [[marginBitextMineAuto]] dispatches between them on measured
    * side sizes), two model-free partial aggs for the neighborhood
    * sums, one join back, one per-source top-1 window.
    *
    * Determinism/replayability: cosines quantize to exact integer
    * MICRO-units (`floor(c·1e6 + 0.5)`), neighborhood sums are integer
    * sums (order-free at any partitioning), and the margin is one
    * ratio of exact longs — bit-identical in DuckDB. Non-positive
    * neighborhood sums are dropped (a negative denominator would let
    * anti-correlated pairs fake a high margin).
    *
    * @return (src_id, tgt_id, cosine, margin) — cosine/margin at 6 dp,
    *         one row per mined source.
    */
  def marginBitextMine(src: DataFrame, tgt: DataFrame,
      sId: String, sVec: String, tId: String, tVec: String,
      k: Int, minMargin: Double): DataFrame = {
    require(k > 0, "k must be positive")
    val fwd = bruteForceTopK(src, tgt, sId, sVec, tId, tVec, k, rankRound = Some(6))
    val bwd = bruteForceTopK(tgt, src, tId, tVec, sId, sVec, k, rankRound = Some(6))
    marginFromKnn(fwd, bwd, k, minMargin)
  }

  /** [[marginBitextMine]] with BOTH kNN directions served by
    * [[ivfSearch]] — the at-scale form: neither side is broadcast, so
    * this is what a CCMatrix-scale run (billions of sentences per side)
    * actually executes. Each direction probes the OTHER side's coarse
    * cells: forward kNN partitions the target corpus under
    * `tgtCentroids`, backward kNN partitions the source corpus under
    * `srcCentroids`; the only wide exchanges are the two probe-cell
    * joins on cell id. The margin algebra is shared with the exact
    * kernel ([[marginFromKnn]]) and is agnostic to which kNN produced
    * the neighborhoods.
    *
    * IVF kNN has recall < 1, so mined pairs and margins can deviate
    * from the exact kernel's two ways: a missed candidate, and a
    * neighborhood-mean computed over slightly different neighbors.
    * v_bitext_recall (QualityQueries) measures exactly this deviation
    * at the shipped operating point — run it before trusting a new
    * (nCells, nprobe) setting.
    */
  def marginBitextMineIvf(src: DataFrame, tgt: DataFrame,
      sId: String, sVec: String, tId: String, tVec: String,
      k: Int, minMargin: Double,
      srcCentroids: DataFrame, tgtCentroids: DataFrame,
      centId: String, centVec: String, nprobe: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val fwd = ivfSearch(src, tgt, sId, sVec, tId, tVec,
      tgtCentroids, centId, centVec, nprobe, k, rankRound = Some(6))
    val bwd = ivfSearch(tgt, src, tId, tVec, sId, sVec,
      srcCentroids, centId, centVec, nprobe, k, rankRound = Some(6))
    marginFromKnn(fwd, bwd, k, minMargin)
  }

  /** Measured probe-width calibration for [[ivfSearch]] — the IVF twin
    * of the LSH discipline in [[Dedup.LshPoint.GapCap]] (analytic
    * shape, MEASURED knob): instead of hand-setting `nprobe`, measure
    * on a deterministic sample exactly the quantity recall depends on —
    * the rank, in the query's centroid-distance order, of the cell each
    * TRUE neighbor lives in — and return the smallest probe width
    * covering `targetRecallPct` percent of those hits.
    *
    * Protocol: the `sampleSize` lowest-id queries (no RNG state) get an
    * exact top-k against the full corpus (same round-6/id-tie-break
    * rank semantics as the serving path, so the ground truth is the
    * serving truth); each (query, true neighbor) hit contributes the
    * neighbor's cell's rank; the histogram of those ranks is
    * model-sized (≤ nCells rows — collected like the LSH cap
    * histogram) and the choice is pure integer arithmetic
    * (`cum·100 ≥ tot·pct`), so a SQL oracle replays the selection
    * bit-identically. Calibration compute is `sampleSize/|queries|` of
    * one exact pass — the sample broadcasts, the corpus is scanned
    * once, nothing quadratic.
    *
    * A bad quantizer honestly surfaces here as a LARGE derived nprobe
    * (the measurement says its cells don't localize neighbors) — the
    * operating point degrades toward exhaustive search instead of
    * silently losing recall, which is the correct failure direction
    * for a recall-gated pipeline.
    */
  def ivfCalibrateNprobe(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      centroids: DataFrame, centId: String, centVec: String,
      k: Int, targetRecallPct: Int = 95, sampleSize: Int = 64): Int = {
    require(targetRecallPct > 0 && targetRecallPct <= 100,
      "targetRecallPct in (0, 100]")
    val sample = broadcast(queries.orderBy(col(qId)).limit(sampleSize)
      .select(col(qId).as("query_id"), col(qVec).as("__qv")))
    // exact top-k for the sample — bruteForceTopK semantics with the
    // build side flipped: the SAMPLE broadcasts, the corpus streams
    // (the corpus exceeds broadcast whenever the IVF path is in play)
    val scored = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
      .join(sample, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(VectorFunctions.cosine(col("__qv"), col("__cv")), 6))
    val kw = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val exact = scored.withColumn("rank", row_number().over(kw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val cells = ivfAssign(corpus, cId, cVec, centroids, centId, centVec)
      .select(col(cId).as("neighbor_id"), col("cell"))
    // every centroid's rank per sampled query, same ordering as the
    // probe list in ivfSearch (L2 asc, centroid-id tie-break)
    val cent = broadcast(centroids.select(col(centId).as("__pid"), col(centVec).as("__pv")))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("__d").asc, col("__pid").asc)
    val cellRank = sample.join(cent)
      .withColumn("__d", VectorFunctions.l2Distance(col("__qv"), col("__pv")))
      .withColumn("__rn", row_number().over(pw))
      .select(col("query_id"), col("__pid").as("cell"), col("__rn"))
    val hist = exact.join(cells, Seq("neighbor_id"))
      .join(cellRank, Seq("query_id", "cell"))
      .groupBy(col("__rn")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__rn"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val tot = hist.map(_._2).sum
    if (tot == 0L) 1
    else {
      // Explicit cumulative scan (not collectFirst with a mutating
      // guard): each element's count is added exactly once regardless
      // of how many times a combinator evaluates its predicate, which
      // keeps the cut identical to the oracle's SQL running-sum replay.
      var cum = 0L
      var i = 0
      var chosen = hist.last._1
      var found = false
      while (i < hist.length && !found) {
        cum += hist(i)._2
        if (cum * 100L >= tot * targetRecallPct) { chosen = hist(i)._1; found = true }
        i += 1
      }
      chosen
    }
  }

  /** [[marginBitextMineIvf]] at the DERIVED operating point: cell count
    * analytic from the corpus size (`⌈√N⌉` per side — the standard IVF
    * shape balancing probe cost `nprobe·N/nCells` against bucket
    * metadata `nCells`), centroids seeded from the lowest-id vectors
    * (deterministic, engine-replayable — quantizer TRAINING is
    * orthogonal: hand a [[kmeansTrain]] quantizer to
    * [[marginBitextMineIvf]] directly if trained cells are wanted), and
    * each direction's `nprobe` MEASURED by [[ivfCalibrateNprobe]]
    * against that direction's own cells. v_bitext_recall's auto row
    * value-oracles this whole derivation next to the fixed hand-set
    * point it replaced (0.89/0.88 recall at sf0.01/0.1).
    */
  def marginBitextMineIvfAuto(src: DataFrame, tgt: DataFrame,
      sId: String, sVec: String, tId: String, tVec: String,
      k: Int, minMargin: Double,
      targetRecallPct: Int = 95, sampleSize: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = src.sparkSession
    import spark.implicits._
    def seeds(side: DataFrame, id: String, vec: String): DataFrame = {
      val n = side.count()
      val nCells = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
      // collected once (≤ √N rows — the model), like kmeansTrain seeds
      side.orderBy(col(id)).limit(nCells)
        .select(col(id).cast("long"), col(vec).cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toSeq.toDF("cent_id", "centroid")
    }
    val srcCent = seeds(src, sId, sVec)
    val tgtCent = seeds(tgt, tId, tVec)
    val npF = ivfCalibrateNprobe(src, tgt, sId, sVec, tId, tVec,
      tgtCent, "cent_id", "centroid", k, targetRecallPct, sampleSize)
    val npB = ivfCalibrateNprobe(tgt, src, tId, tVec, sId, sVec,
      srcCent, "cent_id", "centroid", k, targetRecallPct, sampleSize)
    val fwd = ivfSearch(src, tgt, sId, sVec, tId, tVec,
      tgtCent, "cent_id", "centroid", npF, k, rankRound = Some(6))
    val bwd = ivfSearch(tgt, src, tId, tVec, sId, sVec,
      srcCent, "cent_id", "centroid", npB, k, rankRound = Some(6))
    marginFromKnn(fwd, bwd, k, minMargin)
  }

  /** Dispatching miner: exact broadcast kNN while BOTH sides fit the
    * broadcast budget, IVF kNN (self-trained [[kmeansTrain]] coarse
    * quantizers, one per side) beyond it. The size probe is two count
    * jobs at plan-construction time (the documented cost-probe pattern,
    * cf. Dedup.collapsePays); centroid training only runs on the IVF
    * path. `broadcastRowLimit` defaults well under Spark's 8 GB
    * broadcast-table hard cap for the engine's embedding widths
    * (~0.5 KB/row at dim 64 → ~1 GB at the default).
    */
  def marginBitextMineAuto(src: DataFrame, tgt: DataFrame,
      sId: String, sVec: String, tId: String, tVec: String,
      k: Int, minMargin: Double,
      broadcastRowLimit: Long = 2000000L,
      nCells: Int = 1024, nprobe: Int = 128, kmeansIters: Int = 2,
      maxExactProduct: Long = 2000000000L): DataFrame = {
    val (nS, nT) = (src.count(), tgt.count())
    // Two bounds, two different failure modes: broadcastRowLimit keeps
    // each side under the broadcast-table cap (feasibility), while
    // maxExactProduct bounds the exact kernel's |src|·|tgt| cosine
    // COMPUTE — found at sf10, where both sides "fit broadcast" at
    // ~10⁵ rows yet the 10¹⁰-pair exact mine ran for 40+ minutes. A
    // row-count threshold alone is a poor proxy for quadratic cost.
    // product compare by division: nS * nT overflows Long once a caller
    // raises broadcastRowLimit past ~3e9 rows, and the wrapped negative
    // product would pass the bound and dispatch the quadratic kernel
    if (nS <= broadcastRowLimit && nT <= broadcastRowLimit &&
        (nT == 0L || nS <= maxExactProduct / nT))
      marginBitextMine(src, tgt, sId, sVec, tId, tVec, k, minMargin)
    else {
      val srcCent = kmeansTrain(src, sId, sVec, nCells, kmeansIters)
      val tgtCent = kmeansTrain(tgt, tId, tVec, nCells, kmeansIters)
      marginBitextMineIvf(src, tgt, sId, sVec, tId, tVec, k, minMargin,
        srcCent, tgtCent, "cent_id", "centroid", nprobe)
    }
  }

  /** The shared margin algebra over two directed kNN frames
    * (`query_id, neighbor_id, cosine` with cosine already rounded to
    * 6 dp): micro-unit quantization, integer neighborhood sums, the
    * `2k·cos/(sf+st)` exact-long ratio, forward-max keep at
    * `minMargin`. See [[marginBitextMine]] for the semantics and the
    * determinism argument.
    */
  private def marginFromKnn(fwd0: DataFrame, bwd0: DataFrame,
      k: Int, minMargin: Double): DataFrame = {
    def micro(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(c * lit(1e6) + lit(0.5)).cast("long")
    val fwd = fwd0.withColumn("__m", micro(col("cosine")))
    val bwd = bwd0.withColumn("__m", micro(col("cosine")))
    val fwdSum = fwd.groupBy(col("query_id").as("src_id"))
      .agg(sum("__m").as("__sf"))
    val bwdSum = bwd.groupBy(col("query_id").as("tgt_id"))
      .agg(sum("__m").as("__st"))
    val cand = fwd.select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("cosine"), col("__m"))
      .join(fwdSum, Seq("src_id"))
      .join(bwdSum, Seq("tgt_id"))
      .filter(col("__sf") + col("__st") > 0)
      // cos / ((sf/k + st/k)/2) = 2k·cos / (sf + st), all exact longs
      .withColumn("margin",
        floor((col("__m") * lit(2L * k)).cast("double") /
          (col("__sf") + col("__st")).cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    cand.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .filter(col("margin") >= minMargin)
      .select("src_id", "tgt_id", "cosine", "margin")
  }
}
