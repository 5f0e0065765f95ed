package graft.tools

import org.apache.spark.sql.DataFrame

import graft.ext.TextAnalysis

/**
 * Measures the broadcast⇄SMJ vocabulary-join flip that tf-idf/BM25 rely
 * on at corpus scale (VERDICT r7 item 3: the PLANS.md r2 note argued the
 * flip from written cases only). `TextAnalysis.termDocFreq` joins the
 * (doc, token, tf) stream against the vocab-sized df census and leaves
 * strategy choice to the planner: AQE broadcasts the census while the
 * vocabulary fits the threshold, and must degrade to a shuffle join —
 * both sides already partitioned on token — when a 100 TB corpus's
 * vocabulary doesn't. This tool runs both plans on the SAME corpus by
 * forcing the degraded path with `autoBroadcastJoinThreshold = -1`
 * (static + adaptive), verifying each run's executed plan actually used
 * the claimed join operator, and printing wall-clock for each.
 *
 * Usage: runMain graft.tools.VocabFlip <sfDir> [runs=2]
 * Output: one JSON line per (query × plan) with seconds + join operator.
 */
object VocabFlip {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def docs = graft.Tables.documents(spark, sfDir)
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "q_tfidf" -> (() => TextAnalysis.termDocFreq(docs)),
      "q_bm25" -> (() => TextAnalysis.bm25(docs)))

    def joinOps(planString: String): Map[String, Int] =
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .map(op => op -> op.r.findAllIn(planString).length).filter(_._2 > 0).toMap

    for ((mode, thresh) <- Seq("broadcast" -> "10485760", "forced_shuffle" -> "-1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", thresh)
      for ((name, build) <- queries) {
        var ops: Map[String, Int] = Map.empty
        val times = (1 to runs).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val frame = build()
          // Execute the SAME QueryExecution we inspect: frame.count() would
          // run a derived groupBy().count() QueryExecution, leaving this
          // frame's AdaptiveSparkPlan un-executed (isFinalPlan=false), so
          // any AQE runtime SMJ→BHJ change would be invisible. Counting
          // qe.toRdd runs this plan, and executedPlan read afterwards is
          // the AQE-final plan that actually ran.
          val qe = frame.queryExecution
          val n = qe.toRdd.count()
          ops = joinOps(qe.executedPlan.toString)
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val sec = times.map(_._1).sorted.apply((runs - 1) / 2)
        // the bm25 corpus-scalar crossJoin(broadcast(stats)) is a hinted
        // 1-row broadcast and stays broadcast in BOTH modes by design —
        // the vocab join is the unhinted one whose strategy must flip
        println(s"""{"query":"$name","mode":"$mode","sec":${"%.2f".format(sec)},""" +
          s""""rows":${times.head._2},"joins":${ops.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}""")
      }
    }
    spark.stop()
  }
}
