package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Wall-clock decomposition of dd_lsh_recall_report's pieces at a SF:
  * the exact PPJoin ground truth, the shared budgeted default, and the
  * three comparison operating points — each timed to materialization
  * in isolation (fresh scratch session), so the board query's cost has
  * a per-component attribution instead of a single number.
  *
  * Usage: runMain graft.tools.RecallReportProfile [dir]
  */
object RecallReportProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
      ).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[recall-profile] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val docs = graft.core.Tables.documents(spark, dir)
    timed("exact ppjoin tau=0.4 len5") {
      Dedup.prefixFilterPairs(graft.core.Tables.scatter(docs),
        "doc_id", "text", shingleLen = 5, tau = 0.4).count()
    }
    timed("budgeted default (shared auto row)") {
      Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleLen = 5, jaccardThreshold = 0.4,
        Seq("b" -> Dedup.LshPoint.Budgeted()))("b").count()
    }
    val (lr99, lb99) = Dedup.lshAutoShape(0.4, 0.99, 64)
    timed("3 comparison points (multi, shared sig pass)") {
      Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleLen = 5, jaccardThreshold = 0.4,
        Seq("legacy_16x4" -> Dedup.LshPoint.FixedCap(16, 4, 100),
          "tuned" -> Dedup.LshPoint.FixedCap(64, 32, 1000),
          s"p99_r${lr99}x$lb99" -> Dedup.LshPoint.GapCap(lr99 * lb99, lb99)))
        .values.foreach(_.count())
    }
    spark.stop()
  }
}

/** Per-point isolation: each operating point run as a 1-element multi
  * (collapse+sig pass re-paid per run — the legacy point approximates
  * that fixed cost since its own banding is trivial). */
object RecallPointProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
      ).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    val (lr99, lb99) = Dedup.lshAutoShape(0.4, 0.99, 64)
    for ((label, point) <- Seq(
        "legacy_16x4" -> Dedup.LshPoint.FixedCap(16, 4, 100),
        "tuned" -> Dedup.LshPoint.FixedCap(64, 32, 1000),
        s"p99_r${lr99}x$lb99" -> Dedup.LshPoint.GapCap(lr99 * lb99, lb99))) {
      val t0 = System.nanoTime()
      Dedup.minHashDupPairs(docs, "doc_id", "text", 5, 0.4,
        Seq(label -> point)).values.foreach(_.count())
      println(f"[point-profile] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
