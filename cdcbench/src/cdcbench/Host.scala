package cdcbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host-noise sentinel and environment record. */
object Host {

  /** Seconds for a fixed pure-JVM loop (integer mixing over a 4 MB array,
    * no allocation, no Spark). Run before and after each workload: a host
    * short of CPU shows in both readings. Slow phases that hit only file
    * I/O or thread scheduling do not. */
  def calibrate(): Double = {
    val a = new Array[Long](1 << 19)
    var x = 0x9E3779B97F4A7C15L
    def pass(): Long = {
      var i = 0; var acc = 0L
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        val j = (x & (a.length - 1)).toInt
        a(j) += x; acc += a(j)
        i += 1
      }
      acc
    }
    pass() // warm the JIT so the timed pass measures the host, not the compiler
    val t0 = System.nanoTime()
    val sink = pass()
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.print("")
    dt
  }

  def peakHeapMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Git commit when run from a work tree, else the source hash `run.py`
    * computed over the compiled sources (a benchmark checkout has no .git). */
  private def commit(): String = {
    val head = Paths.get(".git", "HEAD")
    if (!Files.exists(head)) return "none"
    val h = Files.readString(head).trim
    if (!h.startsWith("ref: ")) h
    else {
      val ref = Paths.get(".git").resolve(h.stripPrefix("ref: "))
      if (Files.exists(ref)) Files.readString(ref).trim else h
    }
  }

  def environment(nproc: Int, workload: String, seed: Long, seconds: Int, trace: Boolean,
                  calibBefore: Double, calibAfter: Double): String = {
    val fields = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> trace.toString, "nproc" -> nproc.toString, "task_slots" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> s""""${System.getProperty("java.version")}"""",
      "scala" -> s""""${scala.util.Properties.versionNumberString}"""",
      "spark" -> s""""${org.apache.spark.SPARK_VERSION}"""",
      "git_commit" -> s""""${commit()}"""",
      "source_hash" -> s""""${sys.props.getOrElse("cdcbench.sourceHash", "unknown")}"""",
      "calib_before_s" -> Common.fmt(calibBefore), "calib_after_s" -> Common.fmt(calibAfter),
      "input_hashes" -> SelfTest.hashes.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}"))
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}
