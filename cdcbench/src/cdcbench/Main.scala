package cdcbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** `cdcbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * runs one workload in this JVM and prints one JSON result as the last
  * line of stdout. `--selftest` runs only the self-tests. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_ingest" -> Ingest.run,
    "es_serving" -> Serving.run,
    "cdc_live" -> Live.run,
    "llm_prep" -> Prep.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--selftest")) {
      val failures = SelfTest.run()
      failures.foreach(f => System.err.println(s"selftest FAILED: $f"))
      println(if (failures.isEmpty) "selftest ok" else s"selftest failed: ${failures.size}")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val base = Paths.get(opts.getOrElse("workdir", ".bench_build/cdcbench")).toAbsolutePath

    val work = base.resolve("work").resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    Common.log("start")
    val calibBefore = Host.calibrate()
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = graft.Sessions.configure(
        SparkSession.builder().master(s"local[$nproc]"), nproc.toString)
      .config("spark.local.dir", base.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", base.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, tracer, work)

    Common.log("session up")
    val selfFailures = SelfTest.quick(seed)
    Common.log("self-tests done")
    val out = try run(ctx) catch {
      case e: Exception =>
        e.printStackTrace()
        val o = new Outcome; o.attempted = 1; o.failed = 1; o.check("workload_completed", ok = false, e.toString); o
    }
    Common.log("workload done")
    selfFailures.foreach(f => out.check(s"selftest:$f", ok = false))
    val calibAfter = Host.calibrate()
    val peakHeapMb = Host.peakHeapMb()

    // Spark substrate, per traced op: counted only while a traced op runs
    tracer.filter(_.ops > 0).foreach { tr =>
      val L = out.layer
      val w = tr.total
      val n = tr.ops.toDouble
      L.set("spark.executor_cpu_s", "s", w.cpuNs / 1e9 / n)
      L.set("spark.cpu_util", "ratio", if (tr.seconds > 0) w.cpuNs / 1e9 / (tr.seconds * nproc) else 0.0)
      L.set("spark.gc_s", "s", w.gcMs / 1000.0 / n)
      L.set("spark.tasks", "count", w.tasks / n)
      L.set("spark.shuffle_read_bytes", "bytes", w.shuffleRead / n)
      L.set("spark.shuffle_write_bytes", "bytes", w.shuffleWrite / n)
      L.set("spark.spill_bytes", "bytes", w.spill / n)
      tr.writeSpans(base.resolve("traces").resolve(s"$workload-$seed.spans.jsonl"))
      tr.writeSites(base.resolve("traces").resolve(s"$workload-$seed.sites.tsv"))
    }
    if (trace) {
      out.layer.set("spark.peak_heap_mb", "MB", peakHeapMb)
      out.layer.set("host.calib_s", "s", calibBefore)
      out.layer.set("host.calib_after_s", "s", calibAfter)
    }
    spark.stop()
    Common.deleteTree(work)

    val env = Host.environment(nproc, workload, seed, seconds, trace, calibBefore, calibAfter)
    System.err.println(s"cdcbench env $env")
    out.notes.foreach(n => System.err.println(s"cdcbench note: $n"))
    out.checks.foreach { case (k, ok) => System.err.println(s"cdcbench check $k: ${if (ok) "ok" else "FAILED"}") }
    // every metric the run measured, with its unit; run.py picks the ones BENCHMARK.json names
    val metrics = (if (trace) out.layer else out.e2e).json
    val correct = out.checks.values.forall(identity) && out.failed == 0 && out.attempted > 0
    Files.createDirectories(base.resolve("results"))
    val line = s"""{"correct":$correct,"attempted":${math.max(1L, out.attempted)},""" +
      s""""failed":${out.failed},"metrics":$metrics}"""
    Files.write(base.resolve("results").resolve(s"$workload-$seed-trace${if (trace) 1 else 0}.json"),
      s"""{"env":$env,"result":$line}""".getBytes("UTF-8"))
    println(line)
  }
}
