package perfbench

import graft.sources.{PullMessage, ReplayablePullDataSource}

/** One workload's input, fixed by its fields alone: event `g` (global
  * index, `g = offset * partitions + partition`) is a pure function of
  * (`seed`, `g`), so a replayed epoch re-reads identical records.
  *
  * @param ratePerSec  events per second of event time; in an open loop also
  *                    the wall-clock rate at which events fall due
  * @param zipfS       Zipf exponent of the key distribution over `keys`
  * @param disorderShare share of events whose event time lags their due time
  * @param disorderMs  exclusive bound of that lag; kept below the watermark
  *                    delay so no event is late
  * @param openLoop    events fall due on the wall clock from `Gen.startMicros`;
  *                    otherwise the whole input is available at once
  */
final case class GenSpec(
    seed: Long, partitions: Int, keys: Int, zipfS: Double, ratePerSec: Double,
    total: Long, disorderShare: Double, disorderMs: Long, openLoop: Boolean) {

  require(keys <= (1 << Gen.KeyBits), s"at most ${1 << Gen.KeyBits} keys")

  /** Records of partition `p` in the whole input. */
  def perPartition(p: Int): Long = math.max(0L, (total - p + partitions - 1) / partitions)

  /** Microseconds after stream start at which event `g` falls due. */
  def dueMicros(g: Long): Long = (g * 1e6 / ratePerSec).toLong

  /** Events due by `elapsedMicros` after stream start, capped at `total`. */
  def dueBy(elapsedMicros: Long): Long =
    if (elapsedMicros < 0) 0L
    else math.min(total, (elapsedMicros * ratePerSec / 1e6).toLong + 1)

  def eventTimeMs(g: Long): Long = {
    val lag =
      if (Gen.unit(seed, g, 2) < disorderShare) (Gen.unit(seed, g, 3) * disorderMs).toLong
      else 0L
    Gen.BaseMs + dueMicros(g) / 1000 - lag
  }

  def key(g: Long): Int = Gen.zipf(this).draw(Gen.unit(seed, g, 1))
}

/** The generator the stream workloads read through graft's replayable pull
  * source. Local mode runs the planner and executors in one JVM, so the spec and
  * the stream's start are process-wide settings the benchmark sets before
  * it starts a query. */
object Gen {
  val KeyBits = 20
  /** Event-time origin (2026-01-01T00:00:00Z), a multiple of every window step. */
  val BaseMs = 1767225600000L
  val WindowMs = 10000L
  val StepMs = 2000L
  val WindowsPerEvent: Int = (WindowMs / StepMs).toInt

  @volatile var spec: GenSpec = _
  /** Clock.micros() at which the open loop's first event fell due. */
  @volatile var startMicros: Long = 0L
  /** Open loop only: once set, every remaining event is available at once
    * (the input is unchanged; only its release is). */
  @volatile var releaseAll: Boolean = false
  /** Clock.micros() of the last planning-side availability poll, i.e. the
    * start of the trigger being planned. */
  @volatile var lastPollMicros: Long = 0L

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1), independent per (seed, g, stream). */
  def unit(seed: Long, g: Long, stream: Int): Double =
    (mix(mix(seed * 31 + stream) ^ g) >>> 11) * (1.0 / (1L << 53))

  final class Zipf(keys: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(keys - 1, if (i >= 0) i else -i - 1)
    }
  }
  @volatile private var zipfCache: (Int, Double, Zipf) = (0, 0.0, null)
  def zipf(s: GenSpec): Zipf = {
    val c = zipfCache
    if (c._3 != null && c._1 == s.keys && c._2 == s.zipfS) c._3
    else { val z = new Zipf(s.keys, s.zipfS); zipfCache = (s.keys, s.zipfS, z); z }
  }

  /** Records of partition `p` available now. */
  def available(s: GenSpec, p: Int): Long =
    if (!s.openLoop || releaseAll) s.perPartition(p)
    else {
      val due = s.dueBy(Clock.micros() - startMicros)
      math.max(0L, (due - p + s.partitions - 1) / s.partitions)
    }

  /** `value` carries `key,dueMicros`; `event_time` carries the event time. */
  def message(s: GenSpec, g: Long): PullMessage =
    PullMessage(s"${s.key(g)},${s.dueMicros(g)}", s.eventTimeMs(g))

  def pack(slot: Long, key: Int): Long = (slot << KeyBits) | key
  def slotOf(eventMs: Long): Long = Math.floorDiv(eventMs, StepMs)

  /** Expected count per (window, key), computed per step slot and summed
    * over the slots each window spans; `upTo(p)` bounds partition p's
    * records. Window w (start slot s) covers slots s .. s + WindowsPerEvent - 1. */
  def expectedCounts(s: GenSpec, upTo: Int => Long): LongCounts = {
    val slots = new LongCounts(1 << 16)
    foreachEvent(s, upTo)(g => slots.add(pack(slotOf(s.eventTimeMs(g)), s.key(g)), 1))
    val windows = new LongCounts(slots.size * 2)
    slots.foreach { (k, n) =>
      val slot = k >> KeyBits
      val key = (k & ((1L << KeyBits) - 1)).toInt
      var j = 0
      while (j < WindowsPerEvent) { windows.add(pack(slot - j, key), n); j += 1 }
    }
    windows
  }

  /** The same counts, one increment per (event, window containing it). */
  def bruteForceCounts(s: GenSpec, upTo: Int => Long): LongCounts = {
    val out = new LongCounts(1 << 16)
    foreachEvent(s, upTo) { g =>
      val t = s.eventTimeMs(g)
      val key = s.key(g)
      var w = Math.floorDiv(t, StepMs) * StepMs
      while (w > t - WindowMs) { out.add(pack(Math.floorDiv(w, StepMs), key), 1); w -= StepMs }
    }
    out
  }

  private def foreachEvent(s: GenSpec, upTo: Int => Long)(f: Long => Unit): Unit = {
    var p = 0
    while (p < s.partitions) {
      val n = math.min(upTo(p), s.perPartition(p))
      var o = 0L
      while (o < n) { f(o * s.partitions + p); o += 1 }
      p += 1
    }
  }
}

/** The benchmark's event source, plugged into
  * `graft.streaming.GraftSource.replayablePull`. */
class GenSource extends ReplayablePullDataSource {
  override def open(partitionId: Int): Unit = ()
  override def available(partitionId: Int): Long = {
    if (partitionId == 0) Gen.lastPollMicros = Clock.micros()
    Gen.available(Gen.spec, partitionId)
  }
  override def read(partitionId: Int, offset: Long): PullMessage = {
    val s = Gen.spec
    Gen.message(s, offset * s.partitions + partitionId)
  }
  override def close(): Unit = ()
}

/** One monotonic microsecond clock shared by the query planner and the local
  * executors, so due times and emission times subtract exactly. */
object Clock {
  private val origin = System.nanoTime()
  def micros(): Long = (System.nanoTime() - origin) / 1000
}

/** Open-addressing Long -> Long map (keys >= 0), for the (window, key)
  * tables of millions of entries a boxed map would not hold cheaply. */
final class LongCounts(initial: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initial) * 2 - 1)
  private var keys = Array.fill(cap)(-1L)
  private var vals = new Array[Long](cap)
  private var n = 0
  def size: Int = n

  private def slot(k: Long): Int = {
    var i = (Gen.mix(k) & (cap - 1)).toInt
    while (keys(i) != -1L && keys(i) != k) i = (i + 1) & (cap - 1)
    i
  }
  def add(k: Long, d: Long): Unit = { val i = find(k); vals(i) += d }
  def put(k: Long, v: Long): Unit = { val i = find(k); vals(i) = v }
  def get(k: Long): Long = { val i = slot(k); if (keys(i) == k) vals(i) else 0L }
  def contains(k: Long): Boolean = keys(slot(k)) == k

  private def find(k: Long): Int = {
    var i = slot(k)
    if (keys(i) != k) {
      if ((n + 1) * 2 > cap) { grow(); i = slot(k) }
      keys(i) = k; n += 1
    }
    i
  }
  private def grow(): Unit = {
    val (ok, ov) = (keys, vals)
    cap *= 2; keys = Array.fill(cap)(-1L); vals = new Array[Long](cap)
    var j = 0
    while (j < ok.length) {
      if (ok(j) != -1L) { val i = slot(ok(j)); keys(i) = ok(j); vals(i) = ov(j) }
      j += 1
    }
  }
  def clear(): Unit = { java.util.Arrays.fill(keys, -1L); java.util.Arrays.fill(vals, 0L); n = 0 }
  def foreach(f: (Long, Long) => Unit): Unit = {
    var j = 0
    while (j < cap) { if (keys(j) != -1L) f(keys(j), vals(j)); j += 1 }
  }

  /** Entries whose value differs, counting keys missing from either side. */
  def mismatches(other: LongCounts): Long = {
    var bad = 0L
    foreach((k, v) => if (other.get(k) != v || !other.contains(k)) bad += 1)
    other.foreach((k, _) => if (!contains(k)) bad += 1)
    bad
  }
}
