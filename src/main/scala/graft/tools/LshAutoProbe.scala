package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic main for the auto LSH operating point
  * ([[graft.operators.Dedup.LshPoint.GapCap]]): prints the derived
  * (rows, bands), the data-derived cap's effect, and measured
  * recall/precision vs the exact PPJoin threshold join at each SF dir
  * given on the command line.
  *
  * Usage: runMain graft.tools.LshAutoProbe dir [dir...]
  */
object LshAutoProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
      ).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val (r, b) = graft.operators.Dedup.lshAutoShape(0.4, 0.99, 64)
    println(s"[probe] shape: rowsPerBand=$r bands=$b numHashes=${r * b}")
    for (d <- dirs) {
      val docs = graft.core.Tables.documents(spark, d)
      val t0 = System.nanoTime()
      val exact = graft.operators.Dedup.prefixFilterPairs(
        graft.core.Tables.scatter(docs), "doc_id", "text",
        shingleLen = 5, tau = 0.4).select("id_a", "id_b").persist()
      val nExact = exact.count()
      val t1 = System.nanoTime()
      println(f"[probe] $d exact=$nExact exact_s=${(t1 - t0) / 1e9}%.2f")
      // the budget-aware DEFAULT (r15): recall audit + cost
      val t3 = System.nanoTime()
      val budgeted = graft.operators.Dedup.minHashDupPairs(
        docs, "doc_id", "text", shingleLen = 5, jaccardThreshold = 0.4,
        Seq("b" -> graft.operators.Dedup.LshPoint.Budgeted()))("b")
      val nBud = budgeted.count()
      val t4 = System.nanoTime()
      val nBudHit = exact.join(budgeted, Seq("id_a", "id_b"), "left_semi").count()
      println(f"[probe] $d budgeted=$nBud hit=$nBudHit " +
        f"recall=${if (nExact > 0) nBudHit.toDouble / nExact else 1.0}%.4f " +
        f"precision=${if (nBud > 0) nBudHit.toDouble / nBud else 1.0}%.4f " +
        f"budgeted_s=${(t4 - t3) / 1e9}%.2f")
      budgeted.unpersist()
      // the RETIRED single-shape R=0.99 point, opt-in only: on knee-less
      // mutated corpora its 2-row banding is the measured quadratic
      // blowout the budget walk exists to reject (>60 GB of spill at
      // sf1-mutated) — do not run it there by accident
      if (sys.env.get("SPARK_GRAFT_PROBE_AUTO").contains("1")) {
        val t5 = System.nanoTime()
        val auto = graft.operators.Dedup.minHashDupPairs(
          docs, "doc_id", "text", shingleLen = 5, jaccardThreshold = 0.4,
          Seq("a" -> graft.operators.Dedup.LshPoint.GapCap(r * b, b)))("a")
        val nAuto = auto.count()
        val t6 = System.nanoTime()
        val nHit = exact.join(auto, Seq("id_a", "id_b"), "left_semi").count()
        println(f"[probe] $d auto=$nAuto hit=$nHit " +
          f"recall=${if (nExact > 0) nHit.toDouble / nExact else 1.0}%.4f " +
          f"precision=${if (nAuto > 0) nHit.toDouble / nAuto else 1.0}%.4f " +
          f"auto_s=${(t6 - t5) / 1e9}%.2f")
        auto.unpersist()
      }
      exact.unpersist()
      // histogram of band-bucket sizes at the auto shape, with the
      // cumulative pair cost the cap selection walks
      val sigs = graft.core.Tables.scatter(docs)
        .select(col("doc_id").as("__id"),
          graft.operators.Dedup.sigAndHashedShingles(5, r * b)(col("text"))
            .getField("_1").as("minhash_sig"))
      val banded0 = sigs.select(col("__id"),
        posexplode(array((0 until b).map { bb =>
          xxhash64(slice(col("minhash_sig"), bb * r + 1, r)
            .cast("array<string>").cast("string"))
        }: _*)).as(Seq("band", "band_hash")))
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("__n"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = banded0.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("__n")).agg(count(lit(1)).as("__m"))
        .withColumn("__cum", sum(expr("__n * (__n - 1) div 2") * col("__m")).over(w))
        .orderBy(col("__n")).collect()
      val nDocs = docs.count()
      println(s"[probe] $d nDocs=$nDocs budget64=${64L * nDocs} histogram (n,m,cum):")
      hist.foreach(x => println(s"[probe]   n=${x.getLong(0)} m=${x.getLong(1)} cum=${x.getLong(2)}"))
    }
    spark.stop()
  }
}
