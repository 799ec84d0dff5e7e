package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `trace` groups the spans of one
  * operation: a headline query in one pass (`p<pass>:<query>`), or one
  * micro-batch (`<phase>:<batchId>`). */
final case class Span(trace: String, layer: String, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store. Nothing is written until the run ends; parents are
  * assigned then, as the innermost span of the same trace that encloses a
  * span, so spans recorded from different sources (the benchmark's own
  * calls, Spark listener events, streaming progress) nest without sharing ids. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(s: Span): Unit = synchronized { if (s.end >= s.start) spans += s; () }

  def time[T](trace: String, layer: String, name: String)(body: => T): T = {
    val t0 = Clock.micros()
    try body finally add(Span(trace, layer, name, t0, Clock.micros()))
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** (span, parent index or -1), per the innermost-enclosing rule. */
  def tree: IndexedSeq[(Span, Int)] = {
    val sorted = all.sortBy(s => (s.trace, s.start, -s.end)).toIndexedSeq
    val parent = Array.fill(sorted.length)(-1)
    val stack = mutable.Stack.empty[Int]
    sorted.indices.foreach { i =>
      val s = sorted(i)
      while (stack.nonEmpty && {
        val top = sorted(stack.top)
        top.trace != s.trace || top.end < s.end
      }) stack.pop()
      if (stack.nonEmpty) parent(i) = stack.top
      stack.push(i)
    }
    sorted.zip(parent.toIndexedSeq)
  }

  /** Per layer: span time minus the part of it that child spans cover. */
  def selfMicros: Map[String, Long] = {
    val t = tree
    val children = t.indices.groupBy(i => t(i)._2)
    t.indices.map { i =>
      val s = t(i)._1
      val kids = children.getOrElse(i, Seq.empty).map(j => t(j)._1)
      s.layer -> (s.dur - Intervals.covered(kids.map(k => (k.start, k.end)), s.start, s.end))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def json: String = Json.write(tree.map { case (s, p) =>
    Map("trace" -> s.trace, "layer" -> s.layer, "name" -> s.name,
      "start_us" -> s.start, "end_us" -> s.end, "parent" -> p)
  })
}

object Intervals {
  /** Length of the union of `iv`, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Totals of the Spark work one operation launched. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Counts Spark jobs, stages and tasks per operation. An operation is named
  * by the `perfbench.op` local property the benchmark sets around its calls,
  * joined, for micro-batches, with the batch id Structured Streaming sets;
  * the `perfbench.phase` property splits a query's construction from its run.
  * Events arrive on Spark's listener bus after the fact, so readers call
  * [[settle]] first. */
final class ExecTally(tracer: Tracer, wallToMicros: Long => Long) extends SparkListener {
  private val totals = mutable.HashMap.empty[(String, String), ExecTotals]
  private val stageKey = mutable.HashMap.empty[Int, (String, String)]
  private val jobKey = mutable.HashMap.empty[Int, ((String, String), Long)]
  @volatile private var started = 0L
  @volatile private var ended = 0L

  private def keyOf(props: java.util.Properties): (String, String) = {
    def p(k: String) = Option(props).flatMap(x => Option(x.getProperty(k)))
    val op = (p("perfbench.op"), p("streaming.sql.batchId")) match {
      case (Some(o), Some(b)) => s"$o:$b"
      case (o, b) => o.orElse(b).getOrElse("other")
    }
    (op, p("perfbench.phase").getOrElse("exec"))
  }
  private def at(k: (String, String)) = totals.getOrElseUpdate(k, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    at(k).jobs += 1
    jobKey(e.jobId) = (k, e.time)
    e.stageInfos.foreach(s => stageKey.getOrElseUpdate(s.stageId, k))
    started += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (k, t0) =>
      tracer.add(Span(k._1, "exec", "job", wallToMicros(t0), wallToMicros(e.time)))
    }
    ended += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageKey.get(si.stageId).foreach { k =>
      val t = at(k)
      t.stages += 1
      for (a <- si.submissionTime; b <- si.completionTime) {
        t.stageIntervals += ((wallToMicros(a), wallToMicros(b)))
        tracer.add(Span(k._1, "exec", "stage", wallToMicros(a), wallToMicros(b)))
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = at(stageKey.getOrElse(e.stageId, ("other", "exec")))
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime; t.deserMs += m.executorDeserializeTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits (bounded) until every job the bus reported started has ended. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (ended < started && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  def get(op: String, phase: String): ExecTotals = synchronized(totals.getOrElse((op, phase), new ExecTotals))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = quantile(xs.toArray, q)
  def quantile(xs: Array[Long], q: Double): Double = quantile(xs.map(_.toDouble), q)
  /** Linear-interpolated quantile (0 when empty); sorts `xs` in place. */
  def quantile(xs: Array[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      java.util.Arrays.sort(xs)
      val pos = q * (xs.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, xs.length - 1)
      xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
    }
  def props(m: java.util.Map[String, java.lang.Long], k: String): Double =
    Option(m).flatMap(x => Option(x.get(k))).map(_.doubleValue).getOrElse(0.0)
}
