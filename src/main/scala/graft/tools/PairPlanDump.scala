package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: dump the formatted physical plan of the INTERNAL pair
  * pipelines (the budgeted within-corpus default and the incremental
  * against-index auto point) — the returned frames are persisted pair
  * sets whose queryExecution still carries the full est/verify DAG, so
  * this is the before/after evidence surface for staging changes that
  * `graft.tools.Explain` (which sees only the scratch-parquet read the
  * QUERY returns) cannot show.
  *
  * Usage: runMain graft.tools.PairPlanDump <sfDir> [outDir]
  */
object PairPlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) Some(args(1)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.core.GraftSession.registerFunctions(
      graft.core.GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt
      ).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.core.Tables.documents(spark, sfDir)
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      outDir match {
        case Some(d) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$name.txt"), s)
          println(s"wrote $d/$name.txt")
        case None =>
          println(s"========== $name ==========")
          println(s)
      }
    }
    dump("mh_budgeted_pipeline",
      graft.operators.Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleLen = 5, jaccardThreshold = 0.4,
        Seq("b" -> graft.operators.Dedup.LshPoint.Budgeted()))("b"))
    val base = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    val batch = docs
      .filter(org.apache.spark.sql.functions.col("doc_id") % 37 === 0)
      .select((org.apache.spark.sql.functions.col("doc_id") + 1000000L)
        .as("doc_id"), org.apache.spark.sql.functions.col("text"))
    dump("mh_against_index_pipeline",
      graft.operators.Dedup.minHashDupAgainstIndexAuto(base, batch,
        "doc_id", "text", shingleLen = 5, jaccardThreshold = 0.4))
    spark.stop()
  }
}
