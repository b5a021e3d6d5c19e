package graft.tools

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: stage-by-stage cardinalities of the MinHash-LSH pipeline. */
object DedupDebug {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master("local[32]"), 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir)
    val numHashes = 16; val bands = 4; val rowsPerBand = 4
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1fs"); r
    }
    val sigs = Dedup.minHashSignature(docs, "text", 5, numHashes)
      .select(col("doc_id").as("__id"), col("minhash_sig")).cache()
    t("sig count")(println("sigs=" + sigs.count()))
    val banded = sigs.select(col("__id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("minhash_sig"), b * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>").cast("string"))
      }: _*)).as(Seq("band", "band_hash"))).cache()
    t("banded")(println("banded=" + banded.count()))
    val sizes = banded.groupBy("band", "band_hash").count()
    t("bucket histogram")(
      sizes.groupBy().agg(max("count"), expr("percentile(count, 0.5)"),
        expr("percentile(count, 0.99)"), count(lit(1))).show())
    val capped = banded.join(
      sizes.filter(col("count") <= 100).drop("count"), Seq("band", "band_hash"), "left_semi")
    t("capped banded")(println("capped=" + capped.count()))
    val cand = capped.select(col("band"), col("band_hash"), col("__id").as("id_a"))
      .join(capped.select(col("band"), col("band_hash"), col("__id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b")).select("id_a", "id_b")
    t("candidates")(println("cand=" + cand.count()))
    t("dedup cand")(println("cand distinct=" + cand.dropDuplicates("id_a", "id_b").count()))
    t("full pipeline")(println("pairs=" +
      Dedup.minHashDupPairs(docs, "doc_id", "text", 5, 0.4,
        Seq("p" -> Dedup.LshPoint.FixedCap(16, 4, 100)))("p").count()))
    spark.stop()
  }
}
