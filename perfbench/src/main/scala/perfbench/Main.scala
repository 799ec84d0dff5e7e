package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` comes from untraced runs only;
  * `layers` is filled only when tracing. `session` is the workload's final
  * session when it replaced the one it was given. */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, detail: Map[String, Any],
    session: Option[SparkSession] = None)

/** Entry point of one benchmark run:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>`.
  * Prints one line `PERFBENCH <json>` with the run's metrics. */
object Main {
  val Layers = Seq("client", "engine", "operators", "exec", "sources", "streaming", "sink", "ops")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir) = args
    if (workload == "selftest") { sys.exit(if (GenSelfTest.run() == 0) 0 else 1) }
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toInt, traceS == "1")
    val loadStart = loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors
    val tracer = if (trace) Some(new Tracer) else None
    val wallOffset = System.currentTimeMillis() * 1000 - Clock.micros()
    val wallToMicros: Long => Long = ms => ms * 1000 - wallOffset
    val tally = tracer.map(t => new ExecTally(t, wallToMicros))

    // set-up: a session exactly as users get it, plus one trivial job;
    // three times (the first in a cold JVM), the median reported
    def newSession(): SparkSession = {
      val t0 = Clock.micros()
      val s = graft.Engine.session("perfbench", s"local[$nproc]")
      tally.foreach(s.sparkContext.addSparkListener)
      s.range(1).count()
      tracer.foreach(_.add(Span("setup", "engine", "session", t0, Clock.micros())))
      s
    }
    val setups = (1 to 3).map { i =>
      val t0 = Clock.micros()
      val s = newSession()
      val d = (Clock.micros() - t0) / 1e6
      if (i < 3) s.stop()
      (d, s)
    }
    val spark = setups.last._2
    val setupS = Stats.median(setups.map(_._1))

    note(f"set-up done: ${setups.map(_._1).mkString(", ")}")
    val selfTestFailures = if (workload == "stream") GenSelfTest.run() else 0
    val out = workload match {
      case "stream" => Streams.run(spark, seed, seconds, workDir, tracer, tally, wallToMicros)
      case "batch_mix" =>
        BatchMix.run(spark, seed, seconds, dataDir, s"$workDir/dump", () => newSession(),
          tracer, tally, wallToMicros)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val session = out.session.getOrElse(spark)
    note(s"$workload done")

    // live heap after a full collection, with the session still up
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      val self = t.selfMicros
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/spans.json"), t.json)
      out.layers ++ Layers.map(l => s"$l.self_ms" -> self.getOrElse(l, 0L) / 1000.0) ++
        Map("engine.session_ms" -> setupS * 1000)
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> out.attempted, "failed" -> (out.failed + selfTestFailures),
      "e2e" -> (out.e2e ++ Map("setup_s" -> setupS, "live_heap_mb" -> heapMb)),
      "layers" -> layers,
      "detail" -> (out.detail ++ Map(
        "setup_s_each" -> setups.map(_._1).mkString(","),
        "selftest_failures" -> selfTestFailures,
        "nproc" -> nproc, "jdk" -> System.getProperty("java.version"),
        "spark" -> session.version, "master" -> session.sparkContext.master,
        "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg())))
    println("PERFBENCH " + Json.write(result))
    session.stop()
    note("session stopped")
  }

  /** A timestamped progress line on stderr (the run's log). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${Clock.micros() / 1e6}%.2f s: $msg")

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

/** The result line's JSON, through the json4s the Spark install ships. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def write(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)
}

/** Graft's ops server attached to the session; `scrapeMs` times one
  * Prometheus `/metrics` GET. */
final class Ops(spark: SparkSession) {
  private val registry = new graft.ops.AppRegistry(spark)
  private val server = new graft.ops.OpsServer(spark, registry).start()
  def scrapeMs(): Double = {
    val t0 = System.nanoTime()
    val c = new java.net.URL(s"http://127.0.0.1:${server.boundPort}/metrics").openConnection()
    val in = c.getInputStream
    try in.readAllBytes() finally in.close()
    (System.nanoTime() - t0) / 1e6
  }
  def close(): Unit = { server.stop(); registry.close() }
}

/** The generator's self-test: replay stability, and the per-slot counts
  * equal to a one-increment-per-(event, window) brute force, on a full input
  * and on a ragged per-partition prefix. Returns the number of failures. */
object GenSelfTest {
  def run(): Int = {
    val s = GenSpec(seed = 7, partitions = 4, keys = 1000, zipfS = 1.1, ratePerSec = 5000,
      total = 200003, disorderShare = 0.05, disorderMs = 3000, openLoop = false)
    val saved = Gen.spec
    Gen.spec = s
    var failures = 0
    def check(ok: Boolean, what: String): Unit =
      if (!ok) { failures += 1; System.err.println(s"[perfbench] generator self-test failed: $what") }
    try {
      val (a, b) = (new GenSource, new GenSource)
      val probes = (0 until 2000).map(i => (i % 4, (Gen.mix(i) & 0xffff) % s.perPartition(i % 4)))
      check(probes.forall { case (p, o) => a.read(p, o) == b.read(p, o) }, "replay returns other records")
      check(probes.reverse.forall { case (p, o) => a.read(p, o) == Gen.message(s, o * 4 + p) },
        "read order changes records")
      check((0L until s.total).forall { g =>
        val lag = Gen.BaseMs + s.dueMicros(g) / 1000 - s.eventTimeMs(g)
        lag >= 0 && lag < s.disorderMs
      }, "disorder exceeds its bound")
      val counts = new Array[Long](s.keys)
      (0L until s.total).foreach(g => counts(s.key(g)) += 1)
      check(counts(0) > counts(1) && counts(1) > counts(10), "keys are not Zipf-ordered")
      Seq[Int => Long](p => s.perPartition(p), p => s.perPartition(p) - 997 * p).foreach { upTo =>
        check(Gen.expectedCounts(s, upTo).mismatches(Gen.bruteForceCounts(s, upTo)) == 0,
          "per-slot counts differ from brute force")
      }
    } finally Gen.spec = saved
    failures
  }
}
