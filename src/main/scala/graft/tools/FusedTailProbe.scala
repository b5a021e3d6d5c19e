package graft.tools

import org.apache.spark.sql.SparkSession

/** A/B the fused MinHash tail's parallelism hypothesis: the tuned
  * operating point timed under default AQE coalescing vs coalescing
  * disabled — if the fused bucket loop is being serialized onto 1-2
  * post-AQE partitions (bytes are a bad proxy for C(n,2) work), the
  * second run is several times faster.
  *
  * Usage: runMain graft.tools.FusedTailProbe [dir] [coalesce on|off]
  */
object FusedTailProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val coalesce = args.lift(1).getOrElse("on")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
      ).config("spark.sql.adaptive.coalescePartitions.enabled",
        (coalesce == "on").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, dir)
    val t0 = System.nanoTime()
    Dedup.minHashDupPairs(docs, "doc_id", "text",
      shingleLen = 5, jaccardThreshold = 0.4,
      Seq("tuned" -> Dedup.LshPoint.FixedCap(64, 32, 1000))).values.foreach(_.count())
    println(f"[fused-probe] coalesce=$coalesce tuned: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
