package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.Tables
import graft.clean.CleanStage
import graft.schema.Schemas
import graft.sink.Sinks
import graft.sources.Replay
import graft.stream.{GlobalSessions, SessionEvent, StreamJob}

/** The `stream_replay` workload: the reference pipeline end to end.
  *
  * Set-up relabels the events' visitor and item ids by a bijection drawn
  * from the seed, writes them as clean-topic envelope archives, and drains
  * a few slices once to warm up. Then drains of fresh copies of the replay
  * archive run back to back until `seconds` have passed: one slice per
  * trigger through StreamJob's ten analyses into embedded Derby via
  * graft.sink.Sinks. After the timed loop, the last measured drain's Derby
  * tables are compared with the batch twin, StreamJob.runAllAnalyses over
  * each of its slices.
  *
  * A traced run leaves its first measured drain untraced, as the reference
  * for the tracing overhead, and traces the rest. Two untimed legs follow,
  * for their per-layer metrics:
  *  - correct-mode sessionization (GlobalSessions.flatMapGroupsWithState-
  *    Sessions) drains the sessions archive at the recommended files per
  *    trigger, the only leg that uses the state store, and is compared with
  *    the GlobalSessions.sessionWindow batch twin;
  *  - a paced open-loop leg: one generator thread writes one slice every
  *    PacedIntervalMs while the replay stream runs. */
final class StreamWorkload(ctx: Ctx) extends Workload {
  import StreamWorkload._

  private val r = ctx.report
  private val steps = Schemas.testdataFunnelSteps
  private val drains = new AtomicInteger(0)

  private val derbyHome = s"${ctx.work}/derby"
  private lazy val cfg = {
    System.setProperty("derby.system.home", derbyHome)
    // commits do not sync the log to disk: the sink's cost is Derby's
    // insert path, not the host disk's fsync latency
    System.setProperty("derby.system.durability", "test")
    Sinks.JdbcConfig(s"jdbc:derby:$derbyHome/db;create=true", "app", "app",
      "org.apache.derby.jdbc.EmbeddedDriver")
  }

  // sink calls of the current drain: (batch, table, start ms, end ms)
  private val sinkCalls = new ConcurrentLinkedQueue[(Long, String, Double, Double)]()
  private val callCount = new AtomicInteger(0)
  private val writeFailures = new AtomicInteger(0)
  private val sessionsOut = new ConcurrentLinkedQueue[Row]()

  @volatile private var tracer: Option[Tracer] = None
  // span ids allocated before their spans end: (drain, -1, "drain"),
  // (drain, batch, "trigger") and (drain, batch, "addBatch")
  private val spanIds = new ConcurrentHashMap[(Int, Long, String), Int]()
  private var root = 0
  private var tracedFromMs = 0.0
  private val traced = ArrayBuffer[Drained]()
  private val tracedSinkCalls = ArrayBuffer[(Long, String, Double, Double)]()

  private def spanId(key: (Int, Long, String)): Int =
    tracer.map(t => spanIds.computeIfAbsent(key, _ => t.newId())).getOrElse(0)

  /** Runs `f` on the stream thread as a span of its trigger, so the Spark
    * jobs it starts are attributed to it. */
  private def onTrigger[T](drain: Int, batch: Long, name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(spanId((drain, batch, "addBatch")), name, "trigger")(_ => f)
    case None => f
  }

  def run(spark: SparkSession): Unit = {
    val clean = cleanEvents(spark)
    val events = clean.count()
    val replayFiles = writeArchive(clean, "replay", ReplaySlices)
    r.detail("archive") = s"""{"events":$events,"replay_slices":$ReplaySlices}"""
    drain(spark, replayFiles.take(WarmupSlices), sessions = false)
    ctx.setupDone()
    val measureStart = System.nanoTime()

    val walls, tracedTriggerMs, untracedTriggerMs = ArrayBuffer[Double]()
    val resolveMs = ArrayBuffer[Double]()
    val start = System.nanoTime()
    var i = 0
    // Two drains at least: one drain's 14 triggers are too few against the
    // host's noise, and a traced run's first drain is its untraced reference.
    while (i < MinDrains || System.nanoTime() - start < ctx.seconds * 1000000000L) {
      if (ctx.trace && i == 1) tracer = Some(new Tracer(spark)).map { t =>
        t.start(); root = t.newId(); tracedFromMs = t.nowMs; t
      }
      val t0 = System.nanoTime()
      Tables.clickstream(spark, ctx.data)
      resolveMs += (System.nanoTime() - t0) / 1e6
      val d = drain(spark, replayFiles, sessions = false)
      walls += d.wallMs
      r.attempted += d.progress.size
      (if (tracer.isDefined) tracedTriggerMs else untracedTriggerMs) ++= d.progress.map(dur(_, "triggerExecution"))
      i += 1
    }
    r.detail("measure_ms") = Json.num((System.nanoTime() - measureStart) / 1e6)
    val tr = tracer
    tr.foreach { t =>
      t.add(0, ctx.workload, tracedFromMs, t.nowMs - tracedFromMs, root)
      t.stop()
    }
    tracer = None
    // Derby holds the last measured drain's tables until the next drain
    checkReplay(spark, replayFiles)
    val eventsPerS = events.toDouble * i / (walls.sum / 1000.0)
    r.e2e("throughput_per_s") = eventsPerS
    r.detail("events_per_s") = Json.num(eventsPerS)
    r.detail("drains") = i.toString
    r.layer("tables.resolve_ms") = Stats.mean(resolveMs)
    Stats.latency(r, (untracedTriggerMs ++ tracedTriggerMs).toSeq, "trigger_latency")

    if (ctx.trace) {
      sessionsLeg(spark, clean, writeArchive(clean, "sessions", SessionSlices))
      pacedLeg(spark, replayFiles)
    }

    tr.foreach { t =>
      r.layer("trace.overhead_pct") = (Stats.mean(tracedTriggerMs) / Stats.mean(untracedTriggerMs) - 1) * 100
      streamLayers(t)
      Layers.writeTrace(ctx, t)
    }
  }

  /** Clean-topic events: raw events → NiFi-tier clean stage, with visitor
    * and item ids relabelled by a bijection drawn from the seed, so keys
    * land on other partitions while the structure stays the same. */
  private def cleanEvents(spark: SparkSession): DataFrame = {
    val cs = Tables.clickstream(spark, ctx.data)
    val Seq(users, items) = Seq("visitorid", "itemid").map(c =>
      cs.agg(max(col(c).cast(LongType))).head().getLong(0) + 1)
    val rng = new scala.util.Random(ctx.seed)
    // x -> (a·x + b) mod m is a bijection on [0, m) when gcd(a, m) = 1
    def relabel(c: String, m: Long): Column = {
      val a = Iterator.continually(1L + (rng.nextLong() & Long.MaxValue) % (m - 1))
        .find(a => BigInt(a).gcd(BigInt(m)) == 1).get
      val b = (rng.nextLong() & Long.MaxValue) % m
      ((col(c).cast(LongType) * a + b) % m).cast(StringType)
    }
    val raw = cs.select(
      unix_millis(col("event_time").cast("timestamp")).cast("string").as("timestamp"),
      relabel("visitorid", users).as("visitorid"), col("event"),
      relabel("itemid", items).as("itemid"), lit(null).cast("string").as("transactionid"))
    CleanStage(raw).select(Schemas.clean.fieldNames.toIndexedSeq.map(col): _*).cache()
  }

  /** An envelope archive of `clean`: (key, value) JSON, range-partitioned
    * by event time into `slices` files, returned in event order. */
  private def writeArchive(clean: DataFrame, name: String, slices: Int): Seq[File] = {
    val dir = new File(s"${ctx.work}/archive-$name")
    Replay.kafkaEnvelope(clean.repartitionByRange(slices, col("event_time"))).write.json(dir.getPath)
    dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
  }

  /** Copies `files` into `dir` with modification times in file order, one
    * second apart: the file source replays in modification-time order. */
  private def stage(files: Seq[File], dir: File): Unit = {
    dir.mkdirs()
    files.zipWithIndex.foreach { case (f, i) =>
      val to = new File(dir, f.getName)
      Files.copy(f.toPath, to.toPath)
      to.setLastModified(1000000000000L + i * 1000L)
    }
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  private def start(spark: SparkSession, input: String, ckpt: String, drain: Int,
                    sessions: Boolean): StreamingQuery = {
    callCount.set(0)
    sinkCalls.clear()
    sessionsOut.clear()
    val perTrigger = if (sessions) StreamJob.RecommendedFilesPerTrigger else 1
    val stream = StreamJob.readEnvelopeFiles(spark, input, Some(perTrigger))
    if (sessions) {
      import spark.implicits._
      GlobalSessions.flatMapGroupsWithStateSessions(spark,
          stream.select(col("visitorid"), col("event_time")).as[SessionEvent]).toDF()
        .writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) => df.collect().foreach(sessionsOut.add) }
        .option("checkpointLocation", ckpt).start()
    } else StreamJob.start(stream, ckpt, steps) { (df, table) =>
      // sequential fan-out: calls arrive ten per batch, in batch order
      val batch = (callCount.getAndIncrement() / StreamJob.tables.size).toLong
      val t0 = System.currentTimeMillis().toDouble
      try onTrigger(drain, batch, s"sink $table")(Sinks.jdbcAppendArrays(df, table, cfg))
      catch { case e: Throwable => writeFailures.incrementAndGet(); throw e }
      finally sinkCalls.add((batch, table, t0, System.currentTimeMillis().toDouble))
    }
  }

  /** One drain of a fresh copy of `files`, with a fresh checkpoint and,
    * for the replay, empty Derby tables. */
  private def drain(spark: SparkSession, files: Seq[File], sessions: Boolean): Drained = {
    val d = drains.getAndIncrement()
    val input = new File(s"${ctx.work}/drain-$d")
    stage(files, input)
    if (sessions) stageSentinel(input, files.size) else dropTables()
    val ckpt = s"${ctx.work}/ckpt-$d"
    val t0 = System.nanoTime()
    val q = start(spark, input.getPath, ckpt, d, sessions)
    try q.processAllAvailable() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e6
    val drained = Drained(wall, q.recentProgress.toSeq.filter(_.numInputRows > 0), ckpt, d)
    tracer.foreach { t =>
      t.add(root, s"drain $d", System.currentTimeMillis() - wall, wall, spanId((d, -1L, "drain")))
      traced += drained
      tracedSinkCalls ++= sinkCalls.asScala
    }
    drained
  }

  /** A final slice far past the archive's last event: its watermark closes
    * every session, so the streamed sessions can be compared in full. */
  private def stageSentinel(dir: File, i: Int): Unit = {
    val ms = 4102444800000L // 2100-01-01
    val value = s"""{"timestamp":"t","visitorid":"$Sentinel","event":"view","itemid":"i",""" +
      s""""transactionid":null,"event_category":"c","unix_timestamp":"$ms"}"""
    val f = new File(dir, "zz-sentinel.json")
    Files.writeString(f.toPath, s"""{"key":"$Sentinel","value":${Json.str(value)}}""" + "\n")
    f.setLastModified(1000000000000L + i * 1000L)
  }

  private def dropTables(): Unit = {
    val c = java.sql.DriverManager.getConnection(cfg.url, cfg.properties)
    try StreamJob.tables.foreach { t =>
      try c.createStatement().execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => }
    } finally c.close()
  }

  /** Compares the Derby tables of the last drain with the batch twin of
    * its slices, `files`: StreamJob.runAllAnalyses over each slice. */
  private def checkReplay(spark: SparkSession, files: Seq[File]): Unit = {
    val twin = twinDigests(spark, files)
    r.layer("sink.rows_written") = StreamJob.tables.map { t =>
      r.attempted += 1
      try {
        val got = Digest(comparable(spark.read.format("jdbc").option("url", cfg.url)
          .option("dbtable", t).option("driver", cfg.driver).load()))
        if (got != twin(t)) r.mismatch(s"derby table $t", s"digest $got, batch twin ${twin(t)}")
        got.rows.toDouble
      } catch { case e: Throwable => r.fail(s"derby table $t", e); 0.0 }
    }.sum
    r.layer("sink.write_failures") = writeFailures.get()
  }

  /** A result frame as the Derby sink stores it: arrays as JSON text,
    * without the wall-clock provenance column. */
  private def comparable(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.filterNot(_.name.equalsIgnoreCase("analysis_time")).map { f =>
      f.dataType match {
        case _: ArrayType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)

  /** Per table, the summed digest of StreamJob.runAllAnalyses over each
    * slice read in batch, with the slice's index as its batch id. Slices
    * run on four threads; digests add up, so order does not matter. */
  private def twinDigests(spark: SparkSession, files: Seq[File]): Map[String, Digest.Value] = {
    val kv = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
    val parts = new ConcurrentHashMap[String, Digest.Value]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try files.zipWithIndex.map { case (f, i) =>
      pool.submit((() => {
        val batch = CleanStage.parseKafkaEnvelope(spark.read.schema(kv).json(f.getPath))
          .withColumn("event_time", timestamp_millis(col("unix_timestamp").cast("long")))
        StreamJob.runAllAnalyses(batch, i.toLong, steps) { (df, t) =>
          parts.merge(t, Digest(comparable(df)), (a, b) => a + b)
          ()
        }
      }): Runnable)
    }.foreach(_.get())
    finally pool.shutdown()
    parts.asScala.toMap
  }

  /** Correct-mode sessionization through the state store, drained at the
    * recommended files per trigger and compared with the
    * GlobalSessions.sessionWindow batch twin. */
  private def sessionsLeg(spark: SparkSession, clean: DataFrame, files: Seq[File]): Unit = {
    val d = drain(spark, files, sessions = true)
    val p = d.progress
    val n = math.max(p.size, 1).toDouble
    val ops = p.flatMap(_.stateOperators)
    r.layer("state.update_ms") = ops.map(_.allUpdatesTimeMs.toDouble).sum / n
    r.layer("state.commit_ms") = ops.map(_.commitTimeMs.toDouble).sum / n
    val lastOps = p.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    r.layer("state.rows_total") = lastOps.map(_.numRowsTotal).sum.toDouble
    r.layer("state.memory_bytes") = lastOps.map(_.memoryUsedBytes).sum.toDouble
    r.layer("state.checkpoint_bytes") = dirBytes(new File(s"${d.ckpt}/state"))
    r.detail("sessions_leg") = s"""{"slices":${files.size},"files_per_trigger":${StreamJob.RecommendedFilesPerTrigger},""" +
      s""""triggers":${p.size},"wall_ms":${Json.num(d.wallMs)}}"""
    r.attempted += 1
    def ms(v: Any): Long = v match {
      case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case t: java.sql.Timestamp => t.getTime
    }
    val events = clean.select(col("visitorid"),
      timestamp_millis(col("unix_timestamp").cast("long")).as("event_time"))
    val want = GlobalSessions.sessionWindow(events, streaming = false)
      .collect().map(x => (x.getString(0), ms(x.get(1)), ms(x.get(2)), x.getLong(3))).sorted.toSeq
    val got = sessionsOut.asScala.toSeq.filter(_.getString(0) != Sentinel)
      .map(x => (x.getString(0), ms(x.get(1)), ms(x.get(2)) + GapMs, x.getLong(3))).sorted
    if (got != want) r.mismatch("sessions", s"${got.size} streamed vs ${want.size} in the batch twin, " +
      s"${(want.toSet -- got.toSet).size} missing")
  }

  /** Paced open-loop leg: a generator thread moves one slice into the
    * watched directory every PacedIntervalMs while the stream runs.
    * Freshness runs from a slice's scheduled write time to the end of the
    * last sink write of the batch that carried it. */
  private def pacedLeg(spark: SparkSession, files: Seq[File]): Unit = {
    val paced = files.take(PacedSlices)
    val staged = new File(s"${ctx.work}/paced-staged")
    stage(paced, staged)
    val input = new File(s"${ctx.work}/paced-input")
    input.mkdirs()
    dropTables()
    val q = start(spark, input.getPath, s"${ctx.work}/ckpt-paced", drains.getAndIncrement(), sessions = false)
    val scheduled, lateness, backlog = ArrayBuffer[Double]()
    val t0 = System.currentTimeMillis() + PacedIntervalMs
    val gen = new Thread(() => paced.zipWithIndex.foreach { case (f, i) =>
      val at = t0 + i * PacedIntervalMs
      while (System.currentTimeMillis() < at) Thread.sleep(math.max(1L, at - System.currentTimeMillis()))
      val src = new File(staged, f.getName)
      src.setLastModified(System.currentTimeMillis())
      Files.move(src.toPath, new File(input, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      scheduled += at.toDouble
      lateness += (System.currentTimeMillis() - at).toDouble
      backlog += (i - sinkCalls.size / StreamJob.tables.size).toDouble
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val deadline = System.nanoTime() + 60000000000L
    while (sinkCalls.size < paced.size * StreamJob.tables.size && System.nanoTime() < deadline)
      Thread.sleep(10)
    q.stop()
    val lastWrite = sinkCalls.asScala.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
    val freshness = scheduled.zipWithIndex.flatMap { case (s, i) => lastWrite.get(i.toLong).map(_ - s) }.toSeq
    r.attempted += paced.size
    if (freshness.size < paced.size) r.mismatch("paced leg", s"${freshness.size}/${paced.size} slices delivered")
    val tail = Stats.tailPercentile(freshness.size)
    r.layer("gen.freshness_p50_ms") = Stats.pct(freshness, 50)
    r.layer("gen.freshness_tail_ms") = Stats.pct(freshness, tail)
    r.layer("gen.lateness_ms") = Stats.mean(lateness)
    r.layer("gen.backlog_files") = Stats.mean(backlog)
    r.detail("freshness") = s"""{"samples":${freshness.size},"p50_ms":${Json.num(Stats.pct(freshness, 50))},""" +
      s""""tail_percentile":${Json.num(tail)},"tail_ms":${Json.num(Stats.pct(freshness, tail))},""" +
      s""""interval_ms":$PacedIntervalMs}"""
  }

  /** Per-trigger layer metrics of the traced drains, and their trigger
    * spans with the durationMs parts laid end to end. */
  private def streamLayers(t: Tracer): Unit = {
    val progress = traced.toSeq.flatMap(d => d.progress.map(d.drain -> _))
    val n = math.max(progress.size, 1).toDouble
    Seq("latestOffset" -> "source.latest_offset_ms", "getBatch" -> "source.get_batch_ms",
      "queryPlanning" -> "stream.query_planning_ms", "addBatch" -> "stream.add_batch_ms",
      "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms").foreach {
      case (k, name) => r.layer(name) = progress.map(p => dur(p._2, k)).sum / n
    }
    StreamJob.tables.foreach { tb =>
      r.layer(s"analytics.${tb}_ms") = tracedSinkCalls.filter(_._2 == tb).map(c => c._4 - c._3).sum / n
    }
    val sums = t.jobs.sums.getOrElse("trigger", new TaskSums)
    Layers.sparkSums(r, sums, n)
    val spans = t.all
    var triggerWall, jobMs = 0.0
    progress.foreach { case (d, p) =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val wall = dur(p, "triggerExecution")
      val id = t.add(spanIds.getOrDefault((d, -1L, "drain"), 0), s"trigger ${p.batchId}", startMs, wall,
        spanIds.getOrDefault((d, p.batchId, "trigger"), t.newId()))
      // sink calls, and their jobs, are children of the addBatch part
      val addBatch = spanIds.getOrDefault((d, p.batchId, "addBatch"), t.newId())
      triggerWall += wall
      jobMs += Tracer.unionMs(spans.filter(_.parent == addBatch).flatMap(s => t.jobs.jobIntervals.getOrElse(s.id, Nil)))
      var at = startMs
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
        t.add(id, k, at, dur(p, k), if (k == "addBatch") addBatch else t.newId()); at += dur(p, k)
      }
    }
    r.layer("spark.driver_gap_ms") = (triggerWall - jobMs) / n
    r.layer("spark.task_busy_share") = sums.runMs / (triggerWall * Main.cores)
  }

  private def dirBytes(f: File): Double =
    if (f.isFile) f.length.toDouble
    else Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
}

object StreamWorkload {
  final case class Drained(wallMs: Double, progress: Seq[StreamingQueryProgress], ckpt: String, drain: Int)

  val ReplaySlices = 14
  val WarmupSlices = 3
  val MinDrains = 2
  val SessionSlices = 100
  val PacedSlices = 6
  val PacedIntervalMs = 1500L
  val Sentinel = "~wm~"
  val GapMs = 1800L * 1000L
}
