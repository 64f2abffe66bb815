package graft.flowbench

import scala.collection.mutable

/** What one pass over a workload's operations measured. `samples` hold
  * per-operation values (latencies, sizes), `counts` hold per-pass totals. */
final class Pass(val traced: Boolean) {
  /** Σ of the pass's timed operations, in seconds. */
  var wallS = 0.0
  /** CPU the pass's operations used, in seconds (see [[Cpu]]). */
  var cpuS = 0.0
  /** The end-to-end per-operation latency samples (ms). */
  val opMs = mutable.ArrayBuffer[Double]()
  /** The CPU time of each operation (ms), in no particular order. */
  val opCpuMs = mutable.ArrayBuffer[Double]()
  /** CPU times of the [[Reference]] runs between the pass's operations (ms). */
  val refMs = mutable.ArrayBuffer[Double]()

  /** Runs the reference once, outside every timer, and keeps its CPU time. */
  def reference(): Unit = refMs += Reference.runNs() / 1e6

  /** Scales the pass's CPU times to the reference speed: by
    * Reference.NominalMs ÷ the median reference run of this pass. */
  def toReferenceSpeed(): Unit = {
    val f = Reference.NominalMs / Stats.median(refMs.toSeq)
    cpuS *= f
    opCpuMs.mapInPlace(_ * f)
  }
  val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  def add(name: String, v: Double): Unit = counts(name) += v
}

/** CPU clocks. Thread CPU time leaves out the time a thread waited, and
  * the time the host's hypervisor ran another guest on its core (steal),
  * which wall-clock time on a shared host cannot. */
object Cpu {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of the calling thread, in ns. */
  def threadNs(): Long = threads.getCurrentThreadCpuTime

  /** CPU time of the whole process, every thread (JIT compiler and GC
    * included), in ns. */
  def processNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

object Stats {
  /** Percentile, interpolated linearly between the closest ranks; NaN
    * for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Pooled per-operation samples of `name` over the given passes. */
  def pooled(passes: Seq[Pass], name: String): Seq[Double] =
    passes.flatMap(_.samples.getOrElse(name, Nil))

  /** Mean per-pass total of `name` over the given passes. */
  def perPass(passes: Seq[Pass], name: String): Double =
    if (passes.isEmpty) 0.0 else passes.map(_.counts(name)).sum / passes.size

  /** Length of the union of [start, end] intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** A fixed piece of JVM work that uses none of the program's code:
  * string building, hashing, map updates and a sort, the mix of allocation,
  * pointer chasing and virtual calls that plan walks are made of. Its CPU
  * time tracks how fast the host runs this process at the moment: a core
  * whose sibling hyperthread or caches another guest is using runs every
  * thread slower, and thread CPU time counts that. */
object Reference {
  @volatile private var sink = 0L

  /** One run's CPU time on an idle 4-vCPU machine, in ms: CPU times scaled
    * to reference speed read as they would there. */
  val NominalMs = 5.0

  /** Runs it until the JIT has compiled it. */
  def warmUp(): Unit = (1 to 200).foreach(_ => runNs())

  def runNs(): Long = {
    val c0 = Cpu.threadNs()
    val m = new java.util.HashMap[String, java.lang.Integer]()
    var i = 0
    while (i < 20000) {
      m.merge("k" + (i * 7919 % 5003), 1, (a: java.lang.Integer, b: java.lang.Integer) => a + b)
      i += 1
    }
    val keys = m.keySet.toArray(new Array[String](0))
    java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
    val t = new java.util.TreeMap[String, java.lang.Integer](m)
    sink += keys.length + t.firstKey.length
    Cpu.threadNs() - c0
  }
}
