package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec

/**
 * Shuffle-BYTES census: every bench in this repo measures wall-clock,
 * which on one node underweights the cost that dominates a 1000-executor
 * cluster — bytes crossing the network. This census executes every
 * registered query (noop sink, FrameCache off, cache cleared between
 * queries — the real computation pipelines) with a stage-metrics listener
 * and reports, per query:
 *
 *   scan_mb       on-disk bytes of every parquet scan instance in the
 *                 plan (table dir size × times scanned — plan-derived,
 *                 NOT taskMetrics.inputMetrics, which under-reports on
 *                 the small local files: whole tables read as 0.0 MB in
 *                 the first cut of this tool)
 *   shuffle_w_mb  shuffle bytes written (what would cross the wire; lz4
 *                 on-the-wire sizes, same thing a cluster NIC carries)
 *   shuffle_r_mb  shuffle bytes read (> write when an exchange feeds
 *                 multiple consumers or a stage retries)
 *   spill_mb      disk spill (executor-memory-pressure signal)
 *   amp           shuffle_w / scan — network bytes shipped per corpus
 *                 byte touched; the number that says which queries are
 *                 network-bound at 100 TB regardless of local wall
 *
 * The structural censuses (scan / fat-column / exchange-reuse) pin WHAT
 * shuffles; this one weighs HOW MUCH. amp ≪ 1 certifies map-side
 * reduction (partial aggregation, pushdown, semi-join pruning) is doing
 * its job; amp ≫ 1 names the queries whose wire cost exceeds their scan
 * cost — expected for the iterative designs (label propagation re-ships
 * the edge list per round) and the pair-emitters (output genuinely
 * exceeds input); adjudication lives in PLANS.md. Column pruning makes
 * scan_mb an over-estimate of bytes actually read, so amp is a LOWER
 * bound — a flagged query is at least that network-heavy.
 *
 * Stage metrics are summed between per-query listener resets; the async
 * listener bus is drained (Shim.drainListenerBus) before each snapshot
 * so attribution can't bleed across queries.
 *
 * Usage: runMain graft.tools.ShuffleCensus <sfDir> [minAmp=0.0]
 *                [--diff <priorArtifact> [tol=2.0]]
 * Output: one line per query (worst amp first) + totals. With --diff, a
 * final section compares against the prior round's artifact and prints
 * ONLY queries whose shuffle-write MB or amp moved beyond tolerance
 * (VERDICT r14 item 2: the magnitude axis was re-run-and-eyeball — a new
 * fat shuffle in a 135-row table is invisible without a machine diff).
 * The tolerance band absorbs byte wobble under compression/AQE: a move
 * is flagged only when it exceeds BOTH an absolute floor (0.25 MB write /
 * 0.1 amp) and the tol ratio. The deliberate no-pin decision stands —
 * this is an artifact-to-artifact diff, not a test; run it each round and
 * adjudicate the (usually empty) flagged list in PLANS.md.
 */
object ShuffleCensus {

  /** Parse a prior census artifact's per-query table lines into
    * query -> (scan_mb, shuffle_w_mb, shuffle_r_mb, spill_mb, amp);
    * amp '-' (scan-less iterative plans) parses as -1. Header, FAILED,
    * summary, and wrapper noise lines are skipped by the row shape. */
  def parseArtifact(lines: Iterator[String]): Map[String, (Double, Double, Double, Double, Double)] = {
    val row =
      """^(q_\w+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+|-)$""".r
    lines.map(_.trim).collect {
      case row(q, scan, w, r, sp, amp) =>
        q -> (scan.toDouble, w.toDouble, r.toDouble, sp.toDouble,
          if (amp == "-") -1.0 else amp.toDouble)
    }.toMap
  }

  /** Census-vs-prior deltas beyond tolerance: (query, field, prior,
    * current), where field is "shuffle_w_mb" / "amp" for movers, "NEW"
    * for a query absent from the prior artifact that ships real bytes
    * (current in the 4th slot, prior -1), and "GONE" for a prior query
    * no longer registered (prior write MB in the 3rd slot, current -1).
    * A numeric move is flagged only when it clears the absolute floor
    * (0.25 MB / 0.1 amp — compression+AQE byte wobble) AND the tol
    * ratio; floor-only or ratio-only moves pass silently. */
  def diffRows(current: Seq[(String, Long, Long, Long, Long, Double)],
               prior: Map[String, (Double, Double, Double, Double, Double)],
               tol: Double): Seq[(String, String, Double, Double)] = {
    val mb = 1024.0 * 1024.0
    def beyond(a: Double, b: Double, absFloor: Double): Boolean = {
      val lo = math.min(a, b); val hi = math.max(a, b)
      hi - lo > absFloor && (lo <= 0 || hi / lo > tol)
    }
    val out = Seq.newBuilder[(String, String, Double, Double)]
    current.foreach { case (n, _, w, _, _, amp) =>
      val wMb = w / mb
      prior.get(n) match {
        case None => if (wMb > 0.25) out += ((n, "NEW", -1.0, wMb))
        case Some((_, pw, _, _, pAmp)) =>
          if (beyond(wMb, pw, 0.25)) out += ((n, "shuffle_w_mb", pw, wMb))
          if (amp >= 0 && pAmp >= 0 && beyond(amp, pAmp, 0.1))
            out += ((n, "amp", pAmp, amp))
      }
    }
    val curNames = current.map(_._1).toSet
    prior.keysIterator.filterNot(curNames).toSeq.sorted
      .foreach(n => out += ((n, "GONE", prior(n)._2, -1.0)))
    out.result()
  }

  private class MetricsListener extends SparkListener {
    val shuffleWrite = new LongAdder
    val shuffleRead = new LongAdder
    val spill = new LongAdder
    override def onStageCompleted(done: SparkListenerStageCompleted): Unit = {
      val m = done.stageInfo.taskMetrics
      if (m != null) {
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.diskBytesSpilled)
      }
    }
    def reset(): Unit = { shuffleWrite.reset(); shuffleRead.reset(); spill.reset() }
  }

  /** Σ over every FileSourceScan instance (through persist/adaptive
    * curtains — cached frames still read their table once) of the scan's
    * table-dir on-disk size. A table scanned twice counts twice: that is
    * the read the cluster pays. */
  private def scannedBytes(p: org.apache.spark.sql.execution.SparkPlan): Long = {
    val sizes = scala.collection.mutable.Map[String, Long]()
    def dirSize(path: org.apache.hadoop.fs.Path): Long =
      sizes.getOrElseUpdate(path.toString, {
        val f = new java.io.File(path.toUri.getPath)
        Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum)
          .getOrElse(if (f.isFile) f.length else 0L)
      })
    PlanAudit.allNodes(p).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(dirSize).sum
    }.sum
  }

  /** One census row: (query, scanned bytes, shuffle write, shuffle read,
    * disk spill, amp) — amp is -1 when the plan holds no file scan
    * (iterative queries materialize during construction behind checkpoint
    * curtains). Caller owns the session; FrameCache should be disabled and
    * the caller's listener hygiene is handled here (listener added and
    * removed around the run, bus drained before every snapshot). */
  def census(spark: SparkSession, sfDir: String, names: Seq[String])
      : Seq[(String, Long, Long, Long, Long, Double)] = {
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      names.flatMap { name =>
        val fn = graft.SparkEntry.queries(name)
        spark.catalog.clearCache()
        import org.apache.spark.sql.graftshim.Shim
        Shim.drainListenerBus(spark)
        listener.reset()
        val ok = scala.util.Try {
          val df = fn(spark, sfDir)
          val scan = scannedBytes(df.queryExecution.sparkPlan)
          df.write.format("noop").mode("overwrite").save()
          scan
        }
        Shim.drainListenerBus(spark)
        ok match {
          case scala.util.Success(scan) =>
            val w = listener.shuffleWrite.sum()
            val r = listener.shuffleRead.sum(); val sp = listener.spill.sum()
            // scan == 0: iterative queries (BPE train, pagerank,
            // triangles) materialize during CONSTRUCTION and return a
            // checkpoint-rooted frame — their scans happened before the
            // final plan existed, so amp is undefined (-1), not infinite;
            // absolute shuffle bytes are still the record
            Some((name, scan, w, r, sp,
              if (scan > 0) w.toDouble / scan else -1.0))
          case scala.util.Failure(e) =>
            println(f"$name%-34s FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val diffIdx = args.indexOf("--diff")
    val diffPath = if (diffIdx >= 0) Some(args(diffIdx + 1)) else None
    val tol = args.find(_.startsWith("tol="))
      .map(_.stripPrefix("tol=").toDouble).getOrElse(2.0)
    val minAmp = args.drop(1)
      .find(a => a != "--diff" && !a.startsWith("tol=") && !diffPath.contains(a))
      .map(_.toDouble).getOrElse(0.0)
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.SketchExprs.register(spark)
    sys.props("graft.frame.cache.disable") = "1"
    // the sweep's by-design exclusion: the all-pairs recall ground truth
    val exclude = Set("q_embed_neardup")
    val mb = 1024.0 * 1024.0
    try {
      val names = graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(exclude)
      val rows = census(spark, sfDir, names)
      println(f"\n${"query"}%-34s ${"scan_mb"}%8s ${"shuffle_w_mb"}%13s ${"shuffle_r_mb"}%13s ${"spill_mb"}%9s ${"amp"}%7s")
      rows.sortBy(-_._6).filter(r => r._6 >= minAmp || r._6 < 0).foreach {
        case (n, in, w, r, sp, amp) =>
          val ampS = if (amp < 0) f"${"-"}%7s" else f"$amp%7.2f"
          println(f"$n%-34s ${in / mb}%8.1f ${w / mb}%13.2f ${r / mb}%13.2f ${sp / mb}%9.1f $ampS")
      }
      val (ti, tw, tr, ts) = rows.foldLeft((0L, 0L, 0L, 0L)) {
        case ((a, b, c, d), (_, in, w, r, sp, _)) => (a + in, b + w, c + r, d + sp)
      }
      println(f"[shuffle-census] ${rows.size} queries: scan ${ti / mb}%.0f MB, " +
        f"shuffle write ${tw / mb}%.0f MB (amp ${tw.toDouble / ti}%.2f), " +
        f"read ${tr / mb}%.0f MB, spill ${ts / mb}%.0f MB")
      diffPath.foreach { path =>
        val prior = parseArtifact(
          scala.io.Source.fromFile(path).getLines())
        require(prior.nonEmpty, s"[shuffle-diff] $path yielded zero rows — " +
          "wrong file or format drift; a vacuous diff must not read as clean")
        val moved = diffRows(rows, prior, tol)
        if (moved.isEmpty)
          println(s"[shuffle-diff] CLEAN vs $path (tol ${tol}x, " +
            s"${prior.size} prior rows): no query moved beyond tolerance")
        else {
          println(s"[shuffle-diff] vs $path (tol ${tol}x): ${moved.size} moved")
          moved.foreach { case (q, field, p, c) =>
            val pS = if (p < 0) "-" else f"$p%.2f"
            val cS = if (c < 0) "-" else f"$c%.2f"
            println(f"$q%-34s $field%-13s $pS -> $cS")
          }
        }
      }
    } finally {
      sys.props.remove("graft.frame.cache.disable")
      spark.stop()
    }
  }
}
