package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One client operation as the closed-loop client saw it. `pass` is -1
  * for the setup rounds. */
final case class OpResult(pass: Int, key: String, kind: String, ms: Double, cpuMs: Double,
    ok: Boolean, startMs: Double, endMs: Double, id: Int, traced: Boolean)

/** The closed-loop client: runs one operation at a time, times it, counts
  * it, and turns an exception or a wrong answer into a failed operation
  * (never into a fast timing). */
final class Harness(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  val results = ArrayBuffer[OpResult]()
  var attempted = 0L
  var failed = 0L
  var pass = -1
  private var nextId = 0

  private def now(): Double = System.nanoTime() / 1e6 + Tracer.clockOffsetMs

  def op(key: String, kind: String)(body: Int => Boolean): Boolean = {
    val id = nextId; nextId += 1
    val c0 = Harness.cpuNs()
    val t0 = now()
    val ok =
      try tracer.span(key, id, parent = "")(body(id))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $key failed: ${e.toString.linesIterator.nextOption().getOrElse("")}")
        false
      }
    val t1 = now()
    val cpuMs = (Harness.cpuNs() - c0) / 1e6
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $key: wrong or failed (pass $pass)")
    }
    results += OpResult(pass, key, kind, t1 - t0, cpuMs, ok, t0, t1, id, tracer.enabled)
    ok
  }

  /** Counts a whole-result check as one more attempted operation. */
  def verdict(ok: Boolean, what: String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** Empties Spark's storage the way graft.Bench does between queries:
    * the SQL cache registry plus every persisted or checkpointed RDD. */
  def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Harness {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time used by the whole JVM (driver, executor, JIT and GC
    * threads); unlike wall time it does not grow while other processes
    * hold the cores. */
  def cpuNs(): Long = os.getProcessCpuTime
}

object Stats {
  /** Median (mean of the middle two for an even count); NaN when empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.length / 2
    if (s.isEmpty) Double.NaN else if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)
}
