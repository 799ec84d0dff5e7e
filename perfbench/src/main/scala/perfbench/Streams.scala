package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryException, StreamingQueryProgress}

import graft.streaming.{GraftSink, GraftSource, Windows}

final class InjectedFailure(batchId: Long)
  extends RuntimeException(s"injected sink failure at batch $batchId")

/** The sink's (window, key) -> count store, upserted from the executor
  * threads, plus the per-batch emission record the latency metrics read.
  * Upserts write absolute counts, so replaying an epoch rewrites the same
  * values: the store is idempotent per epoch. */
object SinkState {
  private val Stripes = 64
  private val parts = Array.fill(Stripes)(new LongCounts(1 << 12))
  private def part(k: Long) = parts((Gen.mix(k) & (Stripes - 1)).toInt)

  def upsert(k: Long, v: Long): Unit = { val p = part(k); p.synchronized(p.put(k, v)) }
  def size: Long = parts.map(p => p.synchronized(p.size.toLong)).sum
  def clear(): Unit = parts.foreach(p => p.synchronized(p.clear()))

  /** Entries of `expected` the store lacks or holds another count for,
    * plus entries the store holds that `expected` lacks. */
  def mismatches(expected: LongCounts): Long = {
    var matched = 0L
    var differ = 0L
    var missing = 0L
    expected.foreach { (k, v) =>
      val p = part(k)
      p.synchronized {
        if (!p.contains(k)) missing += 1 else if (p.get(k) == v) matched += 1 else differ += 1
      }
    }
    missing + differ + (size - matched - differ)
  }

  /** The first sink call that starts after this instant throws (0: none). */
  @volatile var crashAfter = 0L
  @volatile var failMicros = 0L

  private val latencies = mutable.ArrayBuilder.make[Long]
  private var minEmit = Long.MaxValue
  def collect(lat: Array[Long], firstEmit: Long): Unit = synchronized {
    latencies.addAll(lat); minEmit = math.min(minEmit, firstEmit)
  }
  def drain(): (Array[Long], Long) = synchronized {
    val out = (latencies.result(), minEmit)
    latencies.clear(); minEmit = Long.MaxValue
    out
  }
}

/** One sink call; `run` counts query (re)starts within a phase. */
final case class BatchRec(run: Int, batchId: Long, start: Long, end: Long, rows: Long,
    firstEmit: Long, latencies: Array[Long], replay: Boolean)

/** The stream workload: GraftSource.replayablePull -> Windows.sliding(10 s,
  * 2 s, lateness 5 s) keyed count + max(created) -> update mode ->
  * GraftSink.foreachBatchIdempotent upserting the store. Two phases on one
  * JVM, each with its own input and checkpoint:
  *
  *  1. drain: a backlog, all available at start, read in uniform capped
  *     batches. Its first batch is the cold start; the rest are timed for
  *     throughput. Large batches amortise the per-trigger overhead, so state
  *     size, state commit and aggregation dominate. It also leaves the JIT
  *     warm for phase 2.
  *  2. open loop: events fall due on the wall clock at a fixed rate whatever
  *     the engine does. Small batches leave per-trigger overhead to dominate
  *     latency. After the steady window the sink throws once per crash
  *     episode and the query restarts from its checkpoint.
  */
object Streams {
  val Partitions = 4
  val DrainBatch = 400000L
  val OpenWarmMs = 7000L
  val Episodes = 5

  /** 400k-event batches over 200k Zipf keys: one cold batch and the timed
    * ones, about `seconds` of work at ~190k events/s. */
  def drainSpec(seed: Long, seconds: Double): (GenSpec, Int) = {
    val timed = math.max(3, math.ceil(seconds * 190000.0 / DrainBatch).toInt)
    (GenSpec(seed, Partitions, keys = 200000, zipfS = 1.1, ratePerSec = 100000.0,
      total = DrainBatch * (1 + timed), disorderShare = 0.05, disorderMs = 3000, openLoop = false),
      timed)
  }

  /** 10k events/s over 10k Zipf keys, 5% of events up to 3 s out of order
    * (below the 5 s watermark delay). The rate leaves the engine headroom on
    * a 4-core box, so latency is not measured at the knee where a slower
    * trigger grows the next batch. The input covers warm-up, the steady
    * window and the crash episodes with a wide margin (a crash needs a batch
    * to fail in); what is left after them is released at once. */
  def openSpec(seed: Long, seconds: Double): GenSpec = {
    val rate = 10000.0
    GenSpec(Gen.mix(seed), Partitions, keys = 10000, zipfS = 1.1, ratePerSec = rate,
      total = (rate * (OpenWarmMs / 1000.0 + seconds + Episodes * 10.0)).toLong,
      disorderShare = 0.05, disorderMs = 3000, openLoop = true)
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, workDir: String,
      tracer: Option[Tracer], tally: Option[ExecTally], wallToMicros: Long => Long): Outcome = {
    val records = mutable.ArrayBuffer.empty[BatchRec]
    val seen = mutable.HashSet.empty[Long]
    @volatile var phase = "drain"
    @volatile var run = 0

    val sink: (DataFrame, Long) => Unit = (df, batchId) => {
      val t0 = Clock.micros()
      val openLoop = Gen.spec.openLoop
      val dueBase = if (openLoop) Gen.startMicros else Gen.lastPollMicros
      df.select(floor(unix_millis(col("window.start")) / Gen.StepMs).cast("long"),
          col("key"), col("n"), col("created"))
        .foreachPartition { (it: Iterator[Row]) =>
          val lat = mutable.ArrayBuilder.make[Long]
          var first = Long.MaxValue
          it.foreach { r =>
            SinkState.upsert(Gen.pack(r.getLong(0), r.getInt(1)), r.getLong(2))
            val e = Clock.micros()
            if (e < first) first = e
            lat += e - (if (openLoop) dueBase + r.getLong(3) else dueBase)
          }
          SinkState.collect(lat.result(), first)
        }
      val (lat, first) = SinkState.drain()
      val t1 = Clock.micros()
      records.synchronized {
        records += BatchRec(run, batchId, t0, t1, lat.length, first, lat, seen.contains(batchId))
        seen += batchId
      }
      tracer.foreach(_.add(Span(s"$phase:$batchId", "sink", "foreachBatch", t0, t1)))
      System.err.println(f"[perfbench] $phase batch $batchId run $run: ${(t1 - t0) / 1000}%d ms sink, " +
        f"${lat.length}%d rows, median latency ${Stats.quantile(lat, 0.5) / 1000}%.0f ms")
      if (SinkState.crashAfter > 0 && t0 > SinkState.crashAfter) {
        SinkState.crashAfter = 0L
        SinkState.failMicros = Clock.micros()
        throw new InjectedFailure(batchId)
      }
    }

    // Stream threads inherit the caller's local properties, so every job of
    // the query carries its phase (the tally's and the spans' trace prefix).
    def start(checkpoint: String, capPerPartition: Long): StreamingQuery = {
      spark.sparkContext.setLocalProperty("perfbench.op", phase)
      val src = GraftSource.replayablePull(spark, classOf[GenSource], Partitions, capPerPartition)
      val f = split(col("value"), ",")
      val events = src.select(col("event_time"),
        f.getItem(0).cast("int").as("key"), f.getItem(1).cast("long").as("created"))
      val agg = Windows.sliding(events, "event_time", "10 seconds", "2 seconds", "5 seconds")
        .agg(Seq(col("key")), count(lit(1)).as("n"), max(col("created")).as("created"))
      try GraftSink.foreachBatchIdempotent(agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint))(sink).start()
      finally spark.sparkContext.setLocalProperty("perfbench.op", null)
    }

    def recs: Seq[BatchRec] = records.synchronized(records.toList)
    def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond) {
        if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
        Thread.sleep(5)
      }
    }
    def triggerStart(p: StreamingQueryProgress): Long =
      wallToMicros(java.time.Instant.parse(p.timestamp).toEpochMilli)
    def triggerMs(p: StreamingQueryProgress): Double = Stats.props(p.durationMs, "triggerExecution")

    // about `seconds` of measurement: timed drain batches for a quarter of
    // it (at least 3), the open loop's steady window for the rest
    val drainSeconds = seconds * 0.25
    val openSeconds = seconds * 0.75

    // phase 1: drain. Cold start: from the first query's start in the fresh
    // JVM to its first result.
    val (dspec, timed) = drainSpec(seed, drainSeconds)
    Gen.spec = dspec
    val t0 = Clock.micros()
    val dq = start(s"$workDir/ckpt-drain", DrainBatch / Partitions)
    waitFor("first result", 60000)(recs.exists(_.rows > 0))
    val coldS = (recs.find(_.rows > 0).get.firstEmit - t0) / 1e6
    // stop once the last data batch has reported progress, before the
    // no-data batch that only advances the watermark
    waitFor("drain", 150000)(dq.recentProgress.exists(_.batchId == timed) || !dq.isActive)
    dq.stop()
    val drainProg = dq.recentProgress.toSeq.distinctBy(_.batchId)
    val drainTimed = drainProg.filter(p => p.batchId >= 1 && p.numInputRows > 0)
    val throughput = drainTimed.map(_.numInputRows).sum / (drainTimed.map(triggerMs).sum / 1000.0)
    val drainExpected = Gen.expectedCounts(dspec, dspec.perPartition)
    val drainWrong = SinkState.mismatches(drainExpected)
    Main.note(f"drain: ${drainTimed.length} timed batches, $throughput%.0f events/s")

    // phase 2: open loop
    SinkState.clear()
    records.synchronized { records.clear(); seen.clear() }
    phase = "open"
    val ospec = openSpec(seed, openSeconds)
    Gen.spec = ospec
    Gen.startMicros = Clock.micros()
    val ops = if (tracer.isDefined) Some(new Ops(spark)) else None
    val scrapes = mutable.ArrayBuffer.empty[Double]
    var q = start(s"$workDir/ckpt-open", 0L)
    val openProg = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    Thread.sleep(math.max(0L, (Gen.startMicros + OpenWarmMs * 1000 - Clock.micros()) / 1000))
    val steadyLo = Clock.micros()
    val steadyHiTarget = steadyLo + (openSeconds * 1e6).toLong
    while (Clock.micros() < steadyHiTarget) {
      ops.foreach(o => scrapes += o.scrapeMs())
      Thread.sleep(math.max(1L, math.min(2000L, (steadyHiTarget - Clock.micros()) / 1000)))
    }
    val steadyHi = Clock.micros()
    val steady = recs.filter(r => r.run == 0 && r.start >= steadyLo && r.end <= steadyHi)
    val steadyIds = steady.map(_.batchId).toSet

    // crash episodes: the sink throws once after upserting; the query is
    // restarted from its checkpoint and replays the failed epoch
    val recoverMs = mutable.ArrayBuffer.empty[Double]
    val restartToFirstMs = mutable.ArrayBuffer.empty[Double]
    (1 to Episodes).foreach { e =>
      SinkState.crashAfter = Clock.micros()
      val crashed =
        try { q.awaitTermination(120000); false }
        catch { case _: StreamingQueryException => true }
      if (!crashed) throw new IllegalStateException("injected failure did not stop the query")
      openProg ++= q.recentProgress
      val restartAt = Clock.micros()
      val before = recs.length
      run += 1
      q = start(s"$workDir/ckpt-open", 0L)
      waitFor("first result after restart", 120000)(recs.drop(before).exists(_.rows > 0))
      val firstRec = recs.drop(before).find(_.rows > 0).get
      recoverMs += (firstRec.firstEmit - SinkState.failMicros) / 1000.0
      restartToFirstMs += (firstRec.start - restartAt) / 1000.0
      tracer.foreach(_.add(Span(s"restart$e", "streaming", "restart", SinkState.failMicros, firstRec.firstEmit)))
    }

    // release what is left of the input, drain it, stop
    Gen.releaseAll = true
    q.processAllAvailable()
    openProg ++= q.recentProgress
    q.stop()
    Gen.releaseAll = false
    ops.foreach(_.close())

    // output check: each store equals the generator's counts, across every
    // crash of the open loop (exactly-once), and the watermark dropped nothing
    val openExpected = Gen.expectedCounts(ospec, ospec.perPartition)
    val openWrong = SinkState.mismatches(openExpected)
    val triggers = openProg.toSeq.distinctBy(p => (p.batchId, p.timestamp))
    val dropped = (drainProg ++ triggers).flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

    val steadyLat = steady.flatMap(_.latencies).toArray
    val steadyProg = triggers.filter(p => steadyIds.contains(p.batchId) && triggerStart(p) >= steadyLo)
      .distinctBy(_.batchId)

    tracer.foreach { t =>
      drainProg.foreach(p => progressSpans(t, "drain", p, triggerStart(p)))
      triggers.foreach(p => progressSpans(t, "open", p, triggerStart(p)))
    }
    val layers = if (tracer.isEmpty) Map.empty[String, Double] else {
      tally.foreach(_.settle())
      def med(ps: Seq[StreamingQueryProgress])(f: StreamingQueryProgress => Double) = Stats.median(ps.map(f))
      def d(k: String) = med(steadyProg)(p => Stats.props(p.durationMs, k))
      def st(f: StateOperatorProgress => Double) = med(drainTimed)(_.stateOperators.map(f).sum)
      val drainExec = tally.toSeq.flatMap(t => drainTimed.map(p => t.get(s"drain:${p.batchId}", "exec")))
      val openExec = tally.toSeq.flatMap(t => steadyProg.map(p => t.get(s"open:${p.batchId}", "exec")))
      def ex(f: ExecTotals => Double) = Stats.median(drainExec.map(f))
      Map(
        "exec.jobs" -> ex(_.jobs.toDouble), "exec.stages" -> ex(_.stages.toDouble),
        "exec.tasks" -> ex(_.tasks.toDouble),
        "exec.tasks_per_trigger" -> Stats.median(openExec.map(_.tasks.toDouble)),
        "exec.task_run_ms" -> ex(_.runMs.toDouble), "exec.task_cpu_ms" -> ex(_.cpuNs / 1e6),
        "exec.task_gc_ms" -> ex(_.gcMs.toDouble), "exec.task_deser_ms" -> ex(_.deserMs.toDouble),
        "exec.shuffle_write_bytes" -> ex(_.shuffleWrite.toDouble),
        "exec.shuffle_read_bytes" -> ex(_.shuffleRead.toDouble), "exec.spill_bytes" -> ex(_.spill.toDouble),
        "sources.latest_offset_ms" -> d("latestOffset"),
        "sources.backlog_events" -> med(steadyProg)(p => backlog(ospec, p, triggerStart(p))),
        "streaming.trigger_ms" -> d("triggerExecution"), "streaming.add_batch_ms" -> d("addBatch"),
        "streaming.query_planning_ms" -> d("queryPlanning"), "streaming.wal_commit_ms" -> d("walCommit"),
        "streaming.commit_offsets_ms" -> d("commitOffsets"),
        "state.rows_total" -> st(_.numRowsTotal.toDouble), "state.memory_bytes" -> st(_.memoryUsedBytes.toDouble),
        "state.commit_ms" -> st(_.commitTimeMs.toDouble), "state.update_ms" -> st(_.allUpdatesTimeMs.toDouble),
        "state.rows_dropped_by_watermark" -> dropped.toDouble,
        "state.restart_to_first_batch_ms" -> Stats.median(restartToFirstMs.toSeq),
        "sink.replayed_epochs" -> recs.count(_.replay).toDouble,
        "sink.batch_ms" -> Stats.median(steady.map(r => (r.end - r.start) / 1000.0)),
        "sink.rows_per_batch" -> Stats.median(steady.map(_.rows.toDouble)),
        "ops.scrape_ms" -> Stats.median(scrapes.toSeq))
    }

    Outcome(
      e2e = Map(
        "latency_ms_p50" -> Stats.quantile(steadyLat, 0.5) / 1000.0,
        "latency_ms_tail" -> Stats.quantile(steadyLat, 0.99) / 1000.0,
        "throughput_per_s" -> throughput,
        "recover_ms" -> Stats.median(recoverMs.toSeq),
        "cold_s" -> coldS),
      layers = layers,
      attempted = drainExpected.size.toLong + openExpected.size,
      failed = drainWrong + openWrong + dropped,
      detail = Map(
        "latency_samples" -> steadyLat.length, "latency_tail_quantile" -> 0.99,
        "steady_batches" -> steady.length, "drain_timed_batches" -> drainTimed.length,
        "drain_events" -> dspec.total, "open_events" -> ospec.total,
        "store_mismatches" -> (drainWrong + openWrong), "rows_dropped_by_watermark" -> dropped,
        "recover_ms_episodes" -> recoverMs.mkString(","), "replayed_epochs" -> recs.count(_.replay)))
  }

  /** Due minus read at the trigger's start. */
  private def backlog(spec: GenSpec, p: StreamingQueryProgress, startMicros: Long): Double = {
    val due = spec.dueBy(startMicros - Gen.startMicros)
    val read = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.split(",").map(_.trim.toLong).sum).getOrElse(0L)
    (due - read).toDouble
  }

  /** One trigger span per progress event, with its phases laid out in the
    * order MicroBatchExecution runs them. */
  private def progressSpans(t: Tracer, phase: String, p: StreamingQueryProgress, s0: Long): Unit = {
    val trace = s"$phase:${p.batchId}"
    t.add(Span(trace, "streaming", "trigger", s0, s0 + (Stats.props(p.durationMs, "triggerExecution") * 1000).toLong))
    var at = s0
    Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
      "queryPlanning" -> "streaming", "addBatch" -> "streaming", "commitOffsets" -> "streaming").foreach {
      case (k, layer) =>
        val d = (Stats.props(p.durationMs, k) * 1000).toLong
        if (d > 0) t.add(Span(trace, layer, k, at, at + d))
        at += d
    }
  }
}
