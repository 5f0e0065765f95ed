package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The closed-loop query workload `llm_pipeline`.
  *
  * Set-up checks every query's result digest against the committed one and
  * writes each query once through `noop`, which warms the JVM and trains
  * the engine's caches. Then rounds run back to back until
  * `seconds` have passed: each round times every table reader once,
  * outside the queries, then runs each of the workload's queries once, in
  * an order drawn from the seed, each built and materialized through
  * `noop` by one client.
  * A traced run leaves its first round untraced, as the reference for the
  * tracing overhead, and traces the rest. */
final class BatchWorkload(ctx: Ctx) extends Workload {
  import BatchWorkload._
  private val r = ctx.report
  private val expected = Digest.load(ctx.expected).sortBy(_._1)
  private val readers: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def run(spark: SparkSession): Unit = {
    require(expected.nonEmpty, s"no expected digests for ${ctx.workload}")
    val queries = expected.map { case (name, _) => name -> SparkEntry.queries(name) }

    // Queries are built one at a time, since building is where the caches
    // are trained: two builds publishing the same cache entry at once can
    // make a reader list a staging directory as it is removed. Each built
    // query's digest, then a noop write of it, runs on one of WarmupClients
    // threads while the next ones are built; both only read the caches.
    // The noop write keeps out of the rounds the compilation of each
    // query's generated code, which its first noop write does.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupClients)
    try expected.zip(queries).map { case ((name, want), (_, fn)) =>
      val df = try Right(fn(spark, ctx.data)) catch { case e: Throwable => Left(e) }
      pool.submit((() => {
        val got = df.flatMap { d =>
          try {
            val digest = Digest(d)
            d.write.format("noop").mode("overwrite").save()
            Right(digest)
          } catch { case e: Throwable => Left(e) }
        }
        r.synchronized {
          r.attempted += 1
          got match {
            case Right(d) => if (d != want) r.mismatch(name, s"digest $d, expected $want")
            case Left(e) => r.fail(name, e)
          }
        }
      }): Runnable)
    }.foreach(_.get())
    finally pool.shutdown()
    spark.catalog.clearCache()
    r.layer("framecache.setup_writes") = Caches.entries()
    ctx.setupDone()

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val root = tracer.map(_.newId()).getOrElse(0)
    var tracedFromMs = 0.0
    val untracedMs, tracedMs = ArrayBuffer[Double]()
    val resolveMs = ArrayBuffer[Double]()
    val rng = new scala.util.Random(ctx.seed)
    val cachesBefore = Caches.entries()
    val start = System.nanoTime()
    var round = 0
    // a traced run needs a second round: the first is the untraced reference
    while (round < (if (ctx.trace) 2 else 1) || System.nanoTime() - start < ctx.seconds * 1000000000L) {
      val t = tracer.filter(_ => round > 0)
      if (round == 1) tracer.foreach { tr => tr.start(); tracedFromMs = tr.nowMs }
      def span[T](parent: Int, name: String, phase: String)(f: Int => T): T =
        t.map(_.span(parent, name, phase)(f)).getOrElse(f(0))
      span(root, s"round $round", "round") { roundSpan =>
        span(roundSpan, "tables", "resolve") { tablesSpan =>
          readers.foreach { case (name, read) =>
            val t0 = System.nanoTime()
            span(tablesSpan, name, "resolve")(_ => read(spark, ctx.data))
            resolveMs += (System.nanoTime() - t0) / 1e6
          }
        }
        rng.shuffle(queries).foreach { case (name, fn) =>
          r.attempted += 1
          val t0 = System.nanoTime()
          try {
            span(roundSpan, name, "query") { q =>
              val df = span(q, "build", "build") { b =>
                val built = fn(spark, ctx.data)
                // the built DataFrame was analyzed inside the build call
                t.foreach(tr => built.queryExecution.tracker.phases.get("analysis")
                  .foreach(p => tr.add(b, "analysis", p.startTimeMs.toDouble, p.durationMs.toDouble)))
                built
              }
              span(q, "exec", "exec")(_ => df.write.format("noop").mode("overwrite").save())
            }
            (if (t.isDefined) tracedMs else untracedMs) += (System.nanoTime() - t0) / 1e6
          } catch { case e: Throwable => r.fail(name, e) }
          spark.catalog.clearCache()
        }
      }
      round += 1
    }
    r.layer("framecache.writes") = Caches.entries() - cachesBefore
    r.layer("tables.resolve_ms") = Stats.mean(resolveMs)
    r.detail("rounds") = round.toString

    val timed = untracedMs ++ tracedMs
    r.e2e("throughput_per_s") = timed.size / (timed.sum / 1000.0)
    Stats.latency(r, timed.toSeq, "query_latency")
    tracer.foreach { tr =>
      tr.add(0, ctx.workload, tracedFromMs, tr.nowMs - tracedFromMs, root)
      tr.stop()
      r.layer("trace.overhead_pct") = (Stats.mean(tracedMs) / Stats.mean(untracedMs) - 1) * 100
      Layers.batch(tr, r, tracedMs.size)
      Layers.writeTrace(ctx, tr)
    }
  }
}

object BatchWorkload {
  /** Concurrent clients of the set-up pass that checks every built query. */
  val WarmupClients = 4
}

/** Entries in the engine's on-disk caches (FrameCache frames, ANN
  * codebooks, media and bucketed tables), all under java.io.tmpdir, which
  * run.py points at the run's own scratch directory. */
object Caches {
  def entries(): Double = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles).getOrElse(Array.empty).filter(_.getName.startsWith("graft-"))
      .map(d => Option(d.listFiles).map(_.length).getOrElse(0)).sum.toDouble
  }
}

/** Per-layer metrics derived from a finished trace. */
object Layers {
  def batch(tr: Tracer, r: Report, queries: Int): Unit = {
    val n = math.max(queries, 1).toDouble
    val spans = tr.all
    def jobUnion(id: Int) = Tracer.unionMs(tr.jobs.jobIntervals.getOrElse(id, Nil).toSeq)
    val builds = spans.filter(_.name == "build")
    val execs = spans.filter(_.name == "exec").sortBy(_.startMs)
    val build = tr.jobs.sums.getOrElse("build", new TaskSums)
    val exec = tr.jobs.sums.getOrElse("exec", new TaskSums)
    r.layer("entry.build_ms") = builds.map(s => s.durMs - jobUnion(s.id)).sum / n
    r.layer("entry.build_jobs") = build.jobs / n
    r.layer("entry.build_job_ms") = builds.map(s => jobUnion(s.id)).sum / n
    // analysis runs when the DataFrame is built; optimization and
    // planning when the noop write plans the analyzed tree
    r.layer("catalyst.analysis_ms") = spans.filter(_.name == "analysis").map(_.durMs).sum / n
    val phases = tr.catalyst.phases.toSeq
    Seq("optimization", "planning").foreach { p =>
      r.layer(s"catalyst.${p}_ms") = Stats.mean(phases.map(_.getOrElse(p, 0.0)))
    }
    // the k-th noop write the listener saw is the k-th traced query's exec
    if (phases.size == execs.size) execs.zip(phases).foreach { case (e, ph) =>
      tr.add(e.id, "plan", e.startMs, ph.getOrElse("optimization", 0.0) + ph.getOrElse("planning", 0.0))
    }
    sparkSums(r, exec, n)
    r.layer("spark.driver_gap_ms") = execs.map(s => s.durMs - jobUnion(s.id)).sum / n
    r.layer("spark.task_busy_share") = exec.runMs / (execs.map(_.durMs).sum * Main.cores)
  }

  def sparkSums(r: Report, s: TaskSums, n: Double): Unit = {
    r.layer("spark.jobs") = s.jobs / n
    r.layer("spark.stages") = s.stages / n
    r.layer("spark.tasks") = s.tasks / n
    r.layer("spark.task_run_ms") = s.runMs / n
    r.layer("spark.task_cpu_ms") = s.cpuMs / n
    r.layer("spark.gc_ms") = s.gcMs / n
    r.layer("spark.deser_ms") = s.deserMs / n
    r.layer("spark.shuffle_read_bytes") = s.shuffleRead / n
    r.layer("spark.shuffle_write_bytes") = s.shuffleWrite / n
    r.layer("spark.spill_bytes") = s.spill / n
  }

  def writeTrace(ctx: Ctx, tr: Tracer): Unit = {
    val out = new File(s"${ctx.work}/../trace_${ctx.workload}_seed${ctx.seed}.json")
    java.nio.file.Files.writeString(out.toPath, tr.json)
    ctx.report.detail("trace_file") = Json.str(out.getCanonicalFile.getName)
  }
}
