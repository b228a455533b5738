package cdcbench

import graft.Model
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One run's settings. `tracer` is set only with `--trace 1`. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Option[Tracer], val work: Path) {

  /** Ops a run measures: as many as take `seconds` at the workload's
    * nominal op time on a 4-core host, at least two. A count fixed by
    * `--seconds` (not a wall-clock cut-off) puts every run at the same
    * point of the JVM's warm-up: Spark's planner code keeps getting faster
    * for the first dozen jobs, and a cut-off that lets a fast run fit one
    * more op than a slow one turns host speed into warm-up drift. */
  def ops(nominalOpSeconds: Double): Int =
    math.max(2, math.round(seconds / nominalOpSeconds).toInt)

  /** Time `f` under a span when traced; plain otherwise. */
  def span[T](name: String, req: Long = -1)(f: => T): T = tracer match {
    case Some(t) => t.span(name, req)(f)
    case None => f
  }

  /** Runs `n` ops and returns their times as (untraced, traced).
    *
    * Untraced run: `op(i, timer)` for i in 0 until n. Traced run: n/2
    * pairs; pair p runs op p once untraced and once traced, untraced first
    * in even pairs and traced first in odd ones. Both ops of a pair share
    * the JVM's warm-up state and the host's load of the moment, so the
    * median ratio over the pairs is the tracing overhead. An op does its
    * untimed preparation and checks itself and passes only the measured
    * call to `timer`; for a traced op, the tracer's listeners and spans
    * are on inside that call only. The first exception is recorded in
    * `out` and ends the loop. */
  def measure(n: Int, out: Outcome)(op: (Int, Timer) => Unit): (Seq[Double], Seq[Double]) = {
    val plain = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    def one(i: Int, t: Boolean): Boolean = {
      out.attempted += 1
      val timer = new Timer(if (t) tracer else None)
      try {
        op(i, timer)
        (if (t) traced else plain) += timer.seconds
        true
      } catch {
        case e: Exception =>
          out.failed += 1; out.notes += s"op $i${if (t) " (traced)" else ""}: $e"; false
      }
    }
    tracer match {
      case None => var i = 0; while (i < n && one(i, false)) i += 1
      case Some(_) =>
        var p = 0; var ok = true
        while (p < math.max(1, n / 2) && ok) {
          ok = Seq(p % 2 == 1, p % 2 == 0).forall(one(p, _))
          p += 1
        }
    }
    (plain.toSeq, traced.toSeq)
  }
}

/** Times the one measured call of an op; traced when given a tracer. */
final class Timer(tracer: Option[Tracer]) {
  var seconds = 0.0
  def traced: Boolean = tracer.isDefined
  def apply[T](f: => T): T = {
    tracer.foreach(_.begin())
    val t0 = System.nanoTime()
    try f
    finally {
      seconds = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.end())
    }
  }
}

/** Named metrics with their units, in the order they were set. */
final class MetricSet {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def set(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  def get(name: String): Option[Double] = values.get(name).map(_._1)
  def contains(name: String): Boolean = values.contains(name)
  def json: String = values.map { case (k, (v, u)) =>
    s""""$k":{"value":${Common.fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
}

/** What a workload reports: op counts, named correctness checks and the
  * end-to-end (`e2e`) and per-layer (`layer`) metrics it measured. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val e2e = new MetricSet
  val layer = new MetricSet
  val notes = mutable.ArrayBuffer[String]()
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) { failed += 1; notes += s"check $name failed $detail" }
  }

  /** The traced run's overhead: median over the pairs of traced / untraced op time, minus 1. */
  def overhead(plain: Seq[Double], traced: Seq[Double]): Unit =
    if (traced.nonEmpty) layer.set("trace.overhead_frac", "ratio",
      Stats.median(plain.zip(traced).map { case (u, t) => t / u }) - 1)
}

object Common {

  /** Hash buckets of every index the benchmark builds. The streaming shell
    * defaults to 256; on a 4-core host each bucket file costs ~10 ms to
    * write and to list, and 256 made a 10k batch take ~7 s and a read ~1.4 s,
    * leaving too few samples in a run. 32 keeps both regimes (a 10k batch
    * touches every bucket, a small live batch only some) and keeps a read's
    * path list at Spark's serial-listing threshold
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`, 32). */
  val Buckets = 32

  /** The mutation schema with every field nullable: generated malformed
    * rows carry a null key, which the pipeline must quarantine. */
  val looseSchema: StructType = StructType(Model.mutationSchema.fields.map(_.copy(nullable = true)))

  def rows(muts: Seq[Mut]): java.util.List[Row] = muts.map { m =>
    Row(m.key, m.op, new java.sql.Timestamp(m.tsMicros / 1000), m.seq,
      m.cells.map { case (q, v) => Row("f", q, v) })
  }.asJava

  def mutDf(spark: SparkSession, muts: Seq[Mut]): DataFrame =
    spark.createDataFrame(rows(muts), looseSchema)

  /** Land `muts` as one parquet file directory, as a change-capture
    * writer would, and return its path. */
  def land(spark: SparkSession, muts: Seq[Mut], dir: Path): Path = {
    mutDf(spark, muts).coalesce(1).write.mode("overwrite").parquet(dir.toString)
    dir
  }

  /** The parquet part file a one-partition Spark write left under `dir`. */
  def partFile(dir: Path): Path = {
    val s = Files.list(dir)
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  private val t0 = System.nanoTime() -
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  /** Progress line on stderr with the seconds since the JVM started, to see where a run's time goes. */
  def log(msg: String): Unit = System.err.println(f"cdcbench ${(System.nanoTime() - t0) / 1e9}%7.2f s $msg")

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Path → size of every regular file under the given roots. */
  def files(roots: Path*): Map[String, Long] = roots.filter(Files.exists(_)).flatMap { r =>
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toVector
    finally s.close()
  }.toMap

  def bytes(roots: Path*): Long = files(roots: _*).values.sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  /** Run `setup` `n` times, each in a fresh directory, keeping the last
    * result; returns it with the median set-up time. Repeating lets the
    * reported figure skip a one-off JIT or disk hiccup. */
  def setupRepeated[T](ctx: Ctx, n: Int, discard: T => Unit = (_: T) => ())(
      setup: Path => T): (T, Double) = {
    var last: Option[(T, Path)] = None
    val times = (0 until n).map { i =>
      val dir = ctx.work.resolve(s"setup$i")
      val (r, dt) = seconds(setup(dir))
      log(f"setup $i took $dt%.2f s")
      last.foreach { case (prev, prevDir) => discard(prev); deleteTree(prevDir) }
      last = Some(r -> dir)
      dt
    }
    (last.get._1, Stats.median(times))
  }

  /** The LWW model of the reference: per mutation in commit order, a
    * delete removes the whole document and a put merges its cells into
    * it, last write wins (MergeModelSpec's shape). */
  final class LwwModel {
    val docs = mutable.HashMap[String, Map[String, String]]()
    def apply(muts: Iterable[Mut]): Unit = muts.foreach { m =>
      if (!m.malformed) m.op match {
        case "D" => docs.remove(m.key)
        case "U" => docs(m.key) = docs.getOrElse(m.key, Map.empty) ++ m.cells
      }
    }
  }

  def indexMap(df: DataFrame): Map[String, Map[String, String]] =
    df.collect().map { r =>
      r.getString(0) -> Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty)
    }.toMap

  def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
