package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity}

/**
 * Diagnostic census for the sign-LSH candidate path: for a testdata dir,
 * prints corpus size, per-(band, key) bucket-occupancy distribution under
 * the PRODUCTION layout (16 planes/band + 10k cap), the candidate-pair
 * count the bucket join would materialize (Σ bucket·(bucket−1)/2, computed
 * from the histogram — the join itself is never run), and the true
 * thresholded output-pair count. Separates the two possible scale
 * diagnoses a wall-clock ratio cannot: candidate explosion (bucket skew —
 * a PLAN problem) vs output explosion (the corpus genuinely contains that
 * many near-dup pairs — a DATA property; per-result cost is then the
 * right metric).
 *
 * Usage: runMain graft.tools.LshProbe <sfDir> [<sfDir2> ...]
 */
object LshProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LshProbe <sfDir> [<sfDir2> ...]")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    args.foreach { dir =>
      val emb = graft.Tables.embeddings(spark, dir)
      val n = emb.count()
      val sig = Similarity.withLshBands(emb,
        planesPerBand = Similarity.ProductionPlanesPerBand)
      val buckets = sig.select(col("vec_id"), posexplode(col("bands")))
        .groupBy(col("pos"), col("col")).count()
        .select(col("count").as("occ")).persist()
      val stats = buckets.agg(
        count(lit(1)).as("n_buckets"), max(col("occ")).as("max_occ"),
        expr("CAST(percentile_approx(occ, 0.5) AS DOUBLE)").as("p50"),
        expr("CAST(percentile_approx(occ, 0.99) AS DOUBLE)").as("p99"),
        sum(expr("occ * (occ - 1) DIV 2")).as("cand_uncapped"),
        sum(expr(s"CASE WHEN occ <= ${Dedup.ProductionMaxBucketSize.get} " +
            "THEN occ * (occ - 1) DIV 2 ELSE 0 END"))
          .as("cand_capped")).head()
      val out = Similarity.lshNearDupPairs(emb,
        planesPerBand = Similarity.ProductionPlanesPerBand,
        maxBucketSize = Dedup.ProductionMaxBucketSize).count()
      println(s"[lshprobe] dir=$dir n=$n buckets=${stats.getAs[Long]("n_buckets")} " +
        s"max_occ=${stats.getAs[Long]("max_occ")} p50=${stats.getAs[Double]("p50")} " +
        s"p99=${stats.getAs[Double]("p99")} cand_uncapped=${stats.getAs[Long]("cand_uncapped")} " +
        s"cand_capped=${stats.getAs[Long]("cand_capped")} output_pairs=$out")
      buckets.unpersist()
    }
    spark.stop()
  }
}
