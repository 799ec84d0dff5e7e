package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftQuery, SparkEntry}

/** batch_mix: one client in a closed loop over the headline registry
  * queries, each forced through the noop sink. The seed permutes the order
  * of every pass. Between queries the client clears the cache, unpersists
  * RDDs the query left behind and restores the session conf, counting what
  * it had to undo, so no query reads state an earlier one left. */
object BatchMix {
  final case class Ran(pass: Int, name: String, start: Long, end: Long,
      constructMicros: Long, leakedRdds: Int, confChanges: Int)

  def run(spark0: SparkSession, seed: Long, seconds: Int, dataDir: String, dumpDir: String,
      newSession: () => SparkSession, tracer: Option[Tracer], tally: Option[ExecTally],
      wallToMicros: Long => Long): Outcome = {
    var spark = spark0
    val headline = SparkEntry.registry.filter(_.headline).sortBy(_.name)
    val rng = new scala.util.Random(seed)
    val ran = mutable.ArrayBuffer.empty[Ran]
    val planPhases = mutable.HashMap.empty[String, Map[String, Double]]
    var failures = 0L
    var attempted = 0L

    var confBase: Map[String, String] = spark.conf.getAll
    /** Undoes what a query left in the session; returns the persistent
      * RDDs it added and the conf entries it changed. RDDs persisted by
      * the program's own memos stay: only the query cache is cleared. */
    def isolate(rddsBefore: Int): (Int, Int) = {
      val leaked = math.max(0, spark.sparkContext.getPersistentRDDs.size - rddsBefore)
      spark.catalog.clearCache()
      val now = spark.conf.getAll
      val changed = (now.keySet ++ confBase.keySet).count(k => now.get(k) != confBase.get(k))
      now.keys.filterNot(confBase.contains).foreach(k => spark.conf.unset(k))
      confBase.foreach { case (k, v) => if (now.get(k) != Some(v)) spark.conf.set(k, v) }
      (leaked, changed)
    }

    /** One query: construct the frame, run it through the noop sink, or
      * with `dump`, write its rows for the oracle check instead. */
    def once(q: GraftQuery, pass: Int, dump: Boolean = false): Unit = {
      val op = s"p$pass:${q.name}"
      val sc = spark.sparkContext
      val rddsBefore = sc.getPersistentRDDs.size
      sc.setLocalProperty("perfbench.op", op)
      val t0 = Clock.micros()
      attempted += 1
      try {
        sc.setLocalProperty("perfbench.phase", "construct")
        val df = q.run(spark, dataDir)
        val t1 = Clock.micros()
        sc.setLocalProperty("perfbench.phase", "exec")
        tracer.foreach { t =>
          t.add(Span(op, "engine", "construct", t0, t1))
          t.time(op, "operators", "plan")(df.queryExecution.executedPlan)
          planPhases(op) = planningSpans(t, op, df, wallToMicros)
        }
        def action(): Unit =
          if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/${q.name}") else noop(df)
        tracer.fold(action())(_.time(op, "exec", "run")(action()))
        val t2 = Clock.micros()
        tracer.foreach(_.add(Span(op, "client", "query", t0, t2)))
        val (leaked, changed) = isolate(rddsBefore)
        ran += Ran(pass, q.name, t0, t2, t1 - t0, leaked, changed)
      } catch {
        case e: Throwable =>
          failures += 1
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          isolate(rddsBefore)
      } finally {
        sc.setLocalProperty("perfbench.op", null)
        sc.setLocalProperty("perfbench.phase", null)
      }
    }

    def pass(p: Int, dump: Boolean = false): Long = {
      val t0 = Clock.micros()
      rng.shuffle(headline).foreach(q => once(q, p, dump))
      Clock.micros() - t0
    }

    // cold pass: the first full pass in a fresh JVM. Its rows are written
    // for the DuckDB oracle check the caller runs after the JVM exits: one
    // pass serves both, which keeps a run within its time budget.
    val coldS = pass(0, dump = true) / 1e6
    Main.note(f"cold pass $coldS%.2f s")
    // warm passes: whole passes until `seconds` have been measured
    val warmStart = Clock.micros()
    var passes = 0
    while (Clock.micros() - warmStart < seconds * 1000000L) { passes += 1; pass(passes) }
    val warmMicros = Clock.micros() - warmStart
    val warm = ran.filter(_.pass >= 1)
    Main.note(s"$passes warm passes")

    // recovery: the session is lost, as when the application fails; the client
    // creates a new one and re-runs its query. Measured from the failure to
    // that query's result, on a fixed query so every seed recovers the same
    // work.
    val probe = headline.head
    val recoverMs = (1 to 4).map { e =>
      val tFail = Clock.micros()
      spark.stop()
      spark = newSession()
      confBase = spark.conf.getAll
      val before = ran.length
      once(probe, -e)
      val end = ran.drop(before).headOption.map(_.end).getOrElse(Clock.micros())
      tracer.foreach(_.add(Span(s"restart$e", "engine", "restart", tFail, end)))
      (end - tFail) / 1000.0
    }

    Main.note("recovery episodes done")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dumpDir/oracle.json"),
      Json.write(headline.flatMap(q => q.oracle.map(q.name -> _)).toMap))

    val lat = warm.map(r => (r.end - r.start) / 1000.0)
    val layers = if (tracer.isEmpty) Map.empty[String, Double] else {
      tally.foreach(_.settle())
      val byPass = warm.groupBy(_.pass).values.toSeq
      def perPass(f: Ran => Double) = Stats.median(byPass.map(_.map(f).sum))
      def ex(phase: String)(f: ExecTotals => Double): Double =
        perPass(r => tally.map(t => f(t.get(s"p${r.pass}:${r.name}", phase))).getOrElse(0.0))
      def ph(k: String) = perPass(r => planPhases.get(s"p${r.pass}:${r.name}").flatMap(_.get(k)).getOrElse(0.0))
      val gap = perPass { r =>
        val op = s"p${r.pass}:${r.name}"
        tracer.get.all.find(s => s.trace == op && s.name == "run").map { run =>
          val iv = tally.map(_.get(op, "exec").stageIntervals.toSeq).getOrElse(Seq.empty)
          (run.dur - Intervals.covered(iv, run.start, run.end)) / 1000.0
        }.getOrElse(0.0)
      }
      Map(
        "engine.construct_ms" -> perPass(_.constructMicros / 1000.0),
        "engine.construct_jobs" -> ex("construct")(_.jobs.toDouble),
        "operators.analysis_ms" -> ph("analysis"), "operators.optimization_ms" -> ph("optimization"),
        "operators.planning_ms" -> ph("planning"),
        "exec.jobs" -> ex("exec")(_.jobs.toDouble), "exec.stages" -> ex("exec")(_.stages.toDouble),
        "exec.tasks" -> ex("exec")(_.tasks.toDouble), "exec.driver_gap_ms" -> gap,
        "exec.task_run_ms" -> ex("exec")(_.runMs.toDouble), "exec.task_cpu_ms" -> ex("exec")(_.cpuNs / 1e6),
        "exec.task_gc_ms" -> ex("exec")(_.gcMs.toDouble), "exec.task_deser_ms" -> ex("exec")(_.deserMs.toDouble),
        "exec.shuffle_write_bytes" -> ex("exec")(_.shuffleWrite.toDouble),
        "exec.shuffle_read_bytes" -> ex("exec")(_.shuffleRead.toDouble),
        "exec.spill_bytes" -> ex("exec")(_.spill.toDouble),
        "batch.leaked_cached_rdds" -> perPass(_.leakedRdds.toDouble),
        "batch.conf_changes" -> perPass(_.confChanges.toDouble))
    }
    Outcome(
      e2e = Map(
        "latency_ms_p50" -> Stats.quantile(lat.toSeq, 0.5),
        "latency_ms_tail" -> Stats.quantile(lat.toSeq, 0.9),
        "throughput_per_s" -> warm.length / (warmMicros / 1e6),
        "recover_ms" -> Stats.median(recoverMs),
        "cold_s" -> coldS),
      layers = layers,
      attempted = attempted,
      failed = failures,
      detail = Map(
        "latency_samples" -> lat.length, "latency_tail_quantile" -> 0.9, "warm_passes" -> passes,
        "queries" -> headline.map(_.name).mkString(","),
        "leaked_cached_rdds" -> warm.filter(_.leakedRdds > 0).map(r => s"${r.name}:${r.leakedRdds}").distinct.mkString(","),
        "conf_changes" -> warm.filter(_.confChanges > 0).map(r => s"${r.name}:${r.confChanges}").distinct.mkString(","),
        "recover_ms_episodes" -> recoverMs.mkString(","),
        "query_ms_median" -> warm.groupBy(_.name).map { case (n, rs) =>
          s"$n:${"%.1f".format(Stats.median(rs.map(r => (r.end - r.start) / 1000.0).toSeq))}" }.toSeq.sorted.mkString(",")),
      session = Some(spark))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Catalyst's own phase timings for the frame, as operator spans. */
  private def planningSpans(t: Tracer, op: String, df: DataFrame, wallToMicros: Long => Long): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (name, ph) =>
      t.add(Span(op, "operators", name, wallToMicros(ph.startTimeMs), wallToMicros(ph.endTimeMs)))
      name -> (ph.endTimeMs - ph.startTimeMs).toDouble
    }
}
