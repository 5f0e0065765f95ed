package graft.tools

/** Dump `explain("formatted")` for registered queries to files — the
  * optimization-round evidence artifact (plans/rNN/<query>_<tag>.txt).
  * Plans under the SAME session shape the bench measures (local[cpus],
  * shuffle.partitions = cpus, AQE on, Graft extensions) so Exchange
  * counts and join strategies in the dump are the ones the bench times.
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (no query list = every registered query).
  * GRAFT_EXPLAIN_NO_BROADCAST=1 plans with auto-broadcast disabled — the
  * shape the same query takes once its build sides outgrow the 10 MB
  * threshold (the 100 TB regime), where a join-restructure's exchange
  * savings actually show; small-sf size estimates otherwise broadcast
  * every model-sized side and hide them (the PlanAudit census rationale). */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = new java.io.File(args(1))
    val tag = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    outDir.mkdirs()
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.get("GRAFT_EXPLAIN_NO_BROADCAST").contains("1"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val f = new java.io.File(outDir, s"${name}_$tag.txt")
          java.nio.file.Files.write(f.toPath, txt.getBytes("UTF-8"))
          println(s"[explain] wrote $f")
        } catch { case e: Throwable =>
          println(s"[explain] $name failed: ${e.getMessage}")
        }
        // drop persistTracked pins so the next query plans from scratch
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
