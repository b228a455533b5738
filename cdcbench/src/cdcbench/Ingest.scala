package cdcbench

import graft.streaming.{BucketedIndex, Pipeline, SketchTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable

/** `cdc_ingest`: closed loop, one writer, through the streaming shell.
  * `Pipeline.startIncremental` watches a landing directory with the
  * change-log stream reader (`ChangeLog.readStreamMutations`); one op
  * lands one 10k-mutation parquet file there and waits until the stream
  * has applied it (`Pipeline.applyIncrementalBatch`) and published it. */
object Ingest {

  /** The reference's bulk-size trigger (A9 in Pipeline.scala). */
  val BatchSize = 10000
  /** Vacuum cadence in stream batches: with the bootstrap as batch 0 and
    * one warm-up batch, the third measured batch vacuums, and traced pairs
    * alternate their order, so vacuum batches fall on traced and untraced
    * ops alike. */
  val VacuumEvery = 3
  /** Set-ups per run; `setup_s` is their median. The first runs in a cold
    * JVM (~14 s on a 4-core host, ~5 s warm), so two keep a run's fixed
    * cost inside the time a benchmark run may take. */
  val SetupRepeats = 2
  /** Untimed batches before measuring: the first merge into a non-empty
    * index runs ~30% slower until codegen and the JIT settle. */
  val WarmupBatches = 1
  /** Seconds a warm 10k batch takes on a 4-core host (sets ops per run). */
  val NominalBatchSeconds = 2.0

  /** No trigger interval: the stream starts the next micro-batch as soon as
    * a file lands, so an op's time is the shell's own latency. */
  def config(root: Path): Pipeline.Config = Pipeline.Config(
    changeLogDir = root.resolve("landing").toString, indexDir = root.resolve("index").toString,
    checkpointDir = root.resolve("checkpoint").toString,
    quarantineDir = Some(root.resolve("quarantine").toString),
    sketchDir = Some(root.resolve("sketch").toString),
    triggerSeconds = 0, maxFilesPerTrigger = 1, vacuumEveryBatches = VacuumEvery)

  final class State(val root: Path, val cfg: Pipeline.Config, val gen: Gen.ChangeLog,
                    val model: Common.LwwModel, val query: StreamingQuery,
                    var goodUpserts: Long, var malformed: Long, var nextBatch: Long)

  /** Write `muts` as one parquet file outside the landing directory. */
  def stage(ctx: Ctx, root: Path, muts: Seq[Mut], name: String): Path =
    Common.partFile(Common.land(ctx.spark, muts, root.resolve("staging").resolve(name)))

  /** Move a staged file into the landing directory (atomic, as a
    * change-capture writer publishes) and block until the stream has
    * published `batch` in the index header. */
  def landAndWait(st: State, file: Path, batch: Long): Unit = {
    Files.move(file, Paths.get(st.cfg.changeLogDir, f"m$batch%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    // processAllAvailable can return on an empty trigger that listed the
    // directory just before the move; the header is the ground truth.
    while (!BucketedIndex.readHeader(st.cfg.indexDir).get("appliedBatch").contains(batch.toString)) {
      require(st.query.isActive, s"stream stopped: ${st.query.exception}")
      st.query.processAllAvailable()
    }
  }

  /** Start the streaming shell on the seeded bootstrap log and wait until
    * it has published it as stream batch 0. */
  def bootstrap(ctx: Ctx, root: Path): State = {
    val cfg = config(root)
    Files.createDirectories(Paths.get(cfg.changeLogDir))
    val gen = new Gen.ChangeLog(ctx.seed)
    val boot = gen.bootstrap()
    val model = new Common.LwwModel
    model(boot)
    val q = Pipeline.startIncremental(ctx.spark, cfg, Common.Buckets)
    val st = new State(root, cfg, gen, model, q, boot.count(m => !m.malformed && m.op == "U"),
      boot.count(_.malformed), 1L)
    try landAndWait(st, stage(ctx, root, boot, "boot"), 0L)
    catch { case e: Exception => q.stop(); throw e }
    st
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val (st, setupS) = Common.setupRepeated[State](ctx, SetupRepeats, _.query.stop())(bootstrap(ctx, _))
    try measureAndVerify(ctx, st, setupS, out) finally st.query.stop()
    out
  }

  def measureAndVerify(ctx: Ctx, st: State, setupS: Double, out: Outcome): Unit = {
    val cfg = st.cfg
    val dirs = Seq(cfg.indexDir, cfg.sketchDir.get, cfg.quarantineDir.get).map(Paths.get(_))
    var logBytes = 0L; var written = 0L; var reclaimed = 0L; var touched = 0L
    val tracedBatches = mutable.Set[Long]()

    def batch(timer: Timer): Unit = {
      val b = st.nextBatch; st.nextBatch += 1
      val muts = st.gen.batch(BatchSize)
      val file = stage(ctx, st.root, muts, s"b$b")
      val size = Files.size(file)
      val before = Common.files(dirs: _*)
      timer(ctx.span("streaming.batch")(landAndWait(st, file, b)))
      Common.log(f"batch $b took ${timer.seconds}%.2f s${if (timer.traced) " (traced)" else ""}")
      st.model(muts)
      st.goodUpserts += muts.count(m => !m.malformed && m.op == "U")
      st.malformed += muts.count(_.malformed)
      val after = Common.files(dirs: _*)
      logBytes += size
      written += after.collect { case (p, s) if !before.contains(p) => s }.sum
      reclaimed += before.collect { case (p, s) if !after.contains(p) => s }.sum
      touched += BucketedIndex.readManifest(cfg.indexDir).values.count(_ == b)
      if (timer.traced) tracedBatches += b
    }

    (0 until WarmupBatches).foreach(_ => batch(new Timer(None)))
    logBytes = 0; written = 0; reclaimed = 0; touched = 0
    Common.log("measuring")
    val (plain, traced) = ctx.measure(ctx.ops(NominalBatchSeconds), out)((_, timer) => batch(timer))
    Common.log(s"measured ${plain.size + traced.size} batches")
    val n = (plain.size + traced.size).toDouble
    if (plain.nonEmpty) {
      out.e2e.set("setup_s", "s", setupS)
      out.e2e.set("op_s_p50", "s", Stats.median(plain))
    }

    val L = out.layer
    L.set("streaming.buckets_touched", "count", touched / n)
    L.set("streaming.bytes_written", "bytes", written / n)
    L.set("streaming.vacuum_reclaimed_bytes", "bytes", reclaimed / n)
    L.set("streaming.space_amp", "ratio", spaceAmp(cfg.indexDir))
    L.set("e2e.write_amp", "ratio", written.toDouble / logBytes)
    ctx.tracer.filter(_ => traced.nonEmpty).foreach { tr =>
      val k = traced.size.toDouble
      out.overhead(plain, traced)
      L.set("e2e.batch_s_p50", "s", Stats.median(traced))
      L.set("e2e.ingest_mut_per_s", "1/s", k * BatchSize / traced.sum)
      L.set("e2e.samples", "count", k)
      L.set("streaming.batch_s", "s", Stats.median(traced))
      L.set("streaming.jobs_per_batch", "count", tr.total.jobs / k)
      L.set("streaming.driver_s", "s", (traced.sum - tr.total.jobMs / 1000.0) / k)
      // jobs by what they write: quarantine, sketches, index buckets; the
      // one job that writes nothing is the fold (the touched-bucket collect)
      L.set("streaming.quarantine_write_s", "s", tr.sites(s"write:${cfg.quarantineDir.get}").jobMs / 1000.0 / k)
      L.set("streaming.sketch_update_s", "s", tr.sites(s"write:${cfg.sketchDir.get}").jobMs / 1000.0 / k)
      L.set("streaming.bucket_write_s", "s", tr.sites(s"write:${cfg.indexDir}").jobMs / 1000.0 / k)
      val fold = tr.sitesWhere(!_.startsWith("write:"))
      L.set("merge.fold_s", "s", fold.jobMs / 1000.0 / k)
      L.set("merge.fold_shuffle_bytes", "bytes", fold.shuffleWrite / k)
      // the stream engine's own phases, from its progress reports
      val progress = st.query.recentProgress.filter(p => tracedBatches.contains(p.batchId))
      def phaseMs(key: String): Double =
        if (progress.isEmpty) 0.0
        else progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum / progress.length
      L.set("changelog.latest_offset_ms", "ms", phaseMs("latestOffset"))
      L.set("changelog.get_batch_ms", "ms", phaseMs("getBatch"))
      L.set("streaming.query_planning_ms", "ms", phaseMs("queryPlanning"))
      L.set("streaming.add_batch_ms", "ms", phaseMs("addBatch"))
      L.set("streaming.wal_commit_ms", "ms", phaseMs("walCommit"))
      L.set("streaming.commit_offsets_ms", "ms", phaseMs("commitOffsets"))
      // rows the stream source delivered per mutation landed: how many times
      // a batch is scanned (quarantine, sketches, fold each read it)
      L.set("changelog.rows_read_per_mutation", "ratio", progress.map(_.numInputRows).sum / (k * BatchSize))
    }
    verify(ctx, st, out)
  }

  /** On-disk index bytes over the bytes the current manifest references. */
  def spaceAmp(indexDir: String): Double = {
    val root = Paths.get(indexDir)
    val live = BucketedIndex.readManifest(indexDir).toSeq.map { case (k, v) =>
      Common.bytes(root.resolve(s"batches/b$v/bucket=$k"))
    }.sum
    val all = Common.bytes(root.resolve("batches"))
    if (live == 0) 0.0 else all.toDouble / live
  }

  /** Outside the timed region: index == LWW model, quarantine count ==
    * generated malformed rows, HDR sketch total == good upserts. */
  def verify(ctx: Ctx, st: State, out: Outcome): Unit = {
    val spark = ctx.spark
    val cfg = st.cfg
    val got = Common.indexMap(BucketedIndex.read(spark, cfg.indexDir))
    val want = st.model.docs.toMap
    val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    out.check("index_equals_lww_model", diff == 0, s"$diff keys differ of ${want.size}")
    val q = spark.read.parquet(cfg.quarantineDir.get + "/*").count()
    out.check("quarantine_count", q == st.malformed, s"quarantined $q, generated ${st.malformed}")
    val hdr = SketchTable.readHdr(spark, cfg.sketchDir.get).agg(sum("c")).collect()(0)
    val hdrTotal = if (hdr.isNullAt(0)) 0L else hdr.getLong(0)
    out.check("hdr_total_equals_good_upserts", hdrTotal == st.goodUpserts,
      s"hdr $hdrTotal, upserts ${st.goodUpserts}")
  }
}
