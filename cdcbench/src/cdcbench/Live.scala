package cdcbench

import graft.dsl.EsQueryJson
import graft.streaming.{BucketedIndex, Pipeline}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `cdc_live`: open loop. A generator thread lands change-log parquet
  * files at a fixed rate into the directory `Pipeline.startIncremental`
  * watches; each file carries one probe mutation. The client (this
  * thread) times each probe from its file's scheduled landing time to the
  * first pinned ES-JSON read that returns it, and runs the serving mix in
  * between. */
object Live {

  val TriggerSeconds = 1
  /** One file every 0.5 s of 8 mutations + 1 probe: ~18 rows a trigger,
    * which touch ~14 of the 32 buckets, so the manifest fans out. The row
    * rate is far below the capacity cdc_ingest measures (~thousands of
    * mutations/s), but a trigger costs ~3 s whatever its size, so files
    * queue ~10 deep between triggers and freshness reads several seconds. */
  val LandEveryMs = 500L
  val FileMutations = 8
  val CompactAfterDirs = 4
  val VacuumEvery = 4
  /** Grace window for pinned readers: a scroll walk spans at most a couple
    * of publishes at this trigger rate. */
  val KeepManifests = 6
  val SetupRepeats = 3
  /** How long after the last landing a probe may take to show up. */
  val DrainSeconds = 30

  def config(root: Path): Pipeline.Config = Pipeline.Config(
    changeLogDir = root.resolve("landing").toString, indexDir = root.resolve("index").toString,
    checkpointDir = root.resolve("checkpoint").toString,
    quarantineDir = Some(root.resolve("quarantine").toString),
    triggerSeconds = TriggerSeconds, vacuumEveryBatches = VacuumEvery,
    sketchDir = Some(root.resolve("sketch").toString),
    vacuumKeepManifests = KeepManifests, compactAfterDirs = CompactAfterDirs)

  final case class Staged(file: Path, probe: String, value: String)

  final class State(val root: Path, val cfg: Pipeline.Config, val gen: Gen.ChangeLog,
                    val model: Common.LwwModel, val query: StreamingQuery) {
    var nextFile = 0
  }

  private def moveIn(src: Path, cfg: Pipeline.Config, name: String): Unit =
    Files.move(src, java.nio.file.Paths.get(cfg.changeLogDir, name), StandardCopyOption.ATOMIC_MOVE)

  def setup(ctx: Ctx, root: Path): State = {
    val cfg = config(root)
    Files.createDirectories(java.nio.file.Paths.get(cfg.changeLogDir))
    val gen = new Gen.ChangeLog(ctx.seed)
    val boot = gen.bootstrap()
    val model = new Common.LwwModel
    model(boot)
    val staged = Common.land(ctx.spark, boot, root.resolve("staging/boot"))
    moveIn(Common.partFile(staged), cfg, "f-boot.parquet")
    val q = Pipeline.startIncremental(ctx.spark, cfg, Common.Buckets)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!BucketedIndex.readHeader(cfg.indexDir).get("appliedBatch").contains("0")) {
      require(System.nanoTime() < deadline && q.isActive, s"bootstrap batch never published: ${q.exception}")
      Thread.sleep(20)
    }
    new State(root, cfg, gen, model, q)
  }

  /** Write the next `n` files (untimed) in one Spark job, each with its probe. */
  def stage(ctx: Ctx, st: State, n: Int): Seq[Staged] = {
    val first = st.nextFile
    val files = (first until first + n).map { k =>
      val muts = st.gen.batch(FileMutations)
      val last = muts.last
      val probe = f"p$k%06d"
      val value = s"v${ctx.seed}-$k"
      (k, muts :+ Mut(probe, "U", last.tsMicros, last.seq, Vector("probe" -> value)), probe, value)
    }
    st.nextFile += n
    files.foreach { case (_, muts, _, _) => st.model(muts) }
    val schema = Common.looseSchema.add("file", org.apache.spark.sql.types.IntegerType)
    val rows = files.flatMap { case (k, muts, _, _) =>
      Common.rows(muts).asScala.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ k))
    }
    val dir = st.root.resolve(s"staging/s$first")
    ctx.spark.createDataFrame(rows.asJava, schema)
      .repartition(col("file")).write.partitionBy("file").parquet(dir.toString)
    files.map { case (k, _, probe, value) => Staged(Common.partFile(dir.resolve(s"file=$k")), probe, value) }
  }

  final class Progress(val atNs: Long, val rows: Long, val durations: Map[String, Long])

  final class Segment {
    val freshness = mutable.ArrayBuffer[Double]()
    val liveQuery = mutable.ArrayBuffer[Double]()
    val scheduled = mutable.ArrayBuffer[Long]()
    val actual = mutable.ArrayBuffer[Long]()
    val manifestDirs = mutable.ArrayBuffer[Double]()
    val visible = mutable.ArrayBuffer[Long]()
    var missing = 0
  }

  /** One measured window: land `files` on schedule, poll probes, serve. */
  def window(ctx: Ctx, st: State, files: Seq[Staged], reqs: Gen.Requests, out: Outcome,
             label: String): Segment = {
    val seg = new Segment
    val t0 = System.nanoTime() + 200L * 1000000L
    val sched = files.indices.map(i => t0 + i * LandEveryMs * 1000000L)
    val landedAt = new Array[Long](files.size)
    val gen = new Thread(() => {
      files.zipWithIndex.foreach { case (f, i) =>
        val wait = sched(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        moveIn(f.file, st.cfg, s"f-${f.probe}.parquet")
        landedAt(i) = System.nanoTime()
      }
    }, "cdcbench-generator")
    gen.setDaemon(true)
    gen.start()

    val seen = mutable.Map[Int, Long]()
    val windowEnd = sched.last + LandEveryMs * 1000000L
    val deadline = windowEnd + DrainSeconds * 1000000000L
    var i = 0L
    while (seen.size < files.size && System.nanoTime() < deadline) {
      val now = System.nanoTime()
      val due = files.indices.filter(k => !seen.contains(k) && sched(k) <= now)
      if (due.nonEmpty) {
        out.attempted += 1
        try ctx.span(s"$label.probe") {
          val m = BucketedIndex.readManifest(st.cfg.indexDir)
          seg.manifestDirs += m.values.toSet.size
          val df = BucketedIndex.readAt(ctx.spark, st.cfg.indexDir, m)
          val body = s"""{"query":{"ids":{"values":[${due.map(k => "\"" + files(k).probe + "\"").mkString(",")}]}},"size":${due.size}}"""
          val rows = EsQueryJson.search(df, body).collect()
          val done = System.nanoTime()
          rows.foreach { r =>
            val id = r.getAs[String]("id")
            val k = due.find(files(_).probe == id).get
            val v = Option(r.getAs[scala.collection.Map[String, String]]("info")).flatMap(_.get("probe"))
            if (v.contains(files(k).value)) seen(k) = done
            else { out.failed += 1; out.notes += s"probe $id has value $v, want ${files(k).value}" }
          }
        } catch { case e: Exception => out.failed += 1; out.notes += s"probe poll: $e" }
      }
      if (System.nanoTime() < windowEnd) {
        val req = reqs.next()
        out.attempted += 1
        try {
          val (_, dt) = Common.seconds(ctx.span(label, i)(Serving.execute(ctx, st.cfg.indexDir, req)))
          seg.liveQuery += dt
        } catch { case e: Exception => out.failed += 1; out.notes += s"live ${req.family}: $e" }
        i += 1
      } else if (due.isEmpty) Thread.sleep(10)
    }
    gen.join()
    files.indices.foreach { k =>
      seen.get(k) match {
        case Some(t) => seg.freshness += Stats.openLoopLatency(sched(k), t)
        case None => seg.missing += 1
      }
    }
    seg.scheduled ++= sched
    seg.actual ++= landedAt
    seg.visible ++= files.indices.map(seen.getOrElse(_, Long.MaxValue))
    out.attempted += files.size
    out.failed += seg.missing
    seg
  }

  def filesPerWindow(seconds: Double): Int = (seconds * 1000 / LandEveryMs).toInt

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    // a traced run measures an untraced window, then a traced one
    val windowS = if (ctx.tracer.isDefined) ctx.seconds / 2.0 else ctx.seconds.toDouble
    def stop(s: State): Unit = { s.query.stop(); s.query.awaitTermination(30000) }
    val ((state, files), setupS) =
      Common.setupRepeated[(State, Seq[Staged])](ctx, SetupRepeats, p => stop(p._1)) { root =>
        val s = setup(ctx, root)
        (s, stage(ctx, s, filesPerWindow(windowS)))
      }
    try {
      val reqs = new Gen.Requests(ctx.seed)
      // untimed warm-up of the request path, once per family
      Gen.FamilyCycle.distinct.foreach(_ => Serving.execute(ctx, state.cfg.indexDir, reqs.next()))
      Common.log("measuring")
      val seg = window(ctx, state, files, reqs, out, "untraced")
      Common.log(s"measured ${seg.freshness.size} probes, ${seg.liveQuery.size} requests")
      out.check("every_probe_visible_with_its_value", seg.missing == 0, s"${seg.missing} missing")
      out.e2e.set("setup_s", "s", setupS)
      out.e2e.set("op_s_p50", "s", Stats.median(seg.freshness))

      ctx.tracer.foreach { tr =>
        val more = stage(ctx, state, filesPerWindow(windowS))
        val progress = mutable.ArrayBuffer[Progress]()
        val listener = new StreamingQueryListener {
          def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            progress.synchronized(progress += new Progress(System.nanoTime(),
              p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
          }
        }
        tr.begin()
        ctx.spark.streams.addListener(listener)
        val tseg = try window(ctx, state, more, reqs, out, "dsl.request") finally tr.end()
        ctx.spark.streams.removeListener(listener)
        out.check("every_probe_visible_with_its_value_traced", tseg.missing == 0, s"${tseg.missing} missing")
        layerMetrics(tseg, progress.synchronized(progress.toSeq), out)
        // compactions write a batch dir with an odd id (the even/odd id scheme)
        val batches = s"write:${state.cfg.indexDir}/batches/b"
        val compact = tr.sitesWhere(k => k.startsWith(batches) && k.last.isDigit && (k.last - '0') % 2 == 1)
        out.layer.set("streaming.compact_s", "s", compact.jobMs / 1000.0)
      }
      state.query.processAllAvailable()
      val got = Common.indexMap(BucketedIndex.read(ctx.spark, state.cfg.indexDir))
      val want = state.model.docs.toMap
      val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
      out.check("index_equals_lww_model", diff == 0, s"$diff keys differ")
      out.layer.set("streaming.live_files", "count", Serving.liveFiles(state.cfg.indexDir))
      out.layer.set("streaming.space_amp", "ratio", Ingest.spaceAmp(state.cfg.indexDir))
      require(state.query.exception.isEmpty, s"stream failed: ${state.query.exception}")
    } finally stop(state)
    out
  }

  /** Layer figures of the traced window. No `trace.overhead_frac`: an
    * open-loop window cannot be split into paired traced and untraced ops. */
  def layerMetrics(seg: Segment, progress: Seq[Progress], out: Outcome): Unit = {
    val L = out.layer
    L.set("e2e.freshness_s_p50", "s", Stats.median(seg.freshness))
    val (tailP, tailV) = Stats.tail(seg.freshness)
    if (tailP > 0) L.set(s"e2e.freshness_s_p${tailP.toInt}", "s", tailV)
    L.set("e2e.live_query_s_p50", "s", Stats.median(seg.liveQuery))
    L.set("e2e.samples", "count", seg.freshness.size.toDouble)
    L.set("host.gen_lag_s", "s", Stats.lateness(seg.scheduled.toSeq, seg.actual.toSeq)._1)
    L.set("streaming.manifest_dirs", "count", if (seg.manifestDirs.isEmpty) 0.0 else Stats.median(seg.manifestDirs.toSeq))
    val withData = progress.filter(_.rows > 0)
    def med(k: String) = { val xs = progress.flatMap(_.durations.get(k)).map(_.toDouble); if (xs.isEmpty) 0.0 else Stats.median(xs) }
    L.set("changelog.latest_offset_ms", "ms", med("latestOffset"))
    L.set("streaming.wal_commit_ms", "ms", med("walCommit"))
    L.set("streaming.add_batch_ms", "ms", med("addBatch"))
    L.set("streaming.batch_s", "s", if (withData.isEmpty) 0.0
      else Stats.median(withData.flatMap(_.durations.get("triggerExecution")).map(_ / 1000.0)))
    // backlog at each progress event: files landed minus files whose probe
    // a reader already sees (the source's row count cannot stand in for
    // files: each batch is read several times, see cdc_ingest)
    val backlog = progress.map { p =>
      val landedNow = seg.actual.count(a => a > 0 && a <= p.atNs)
      (p.atNs / 1e9, (landedNow - seg.visible.count(_ <= p.atNs)).toDouble)
    }
    L.set("changelog.backlog_files_max", "count", if (backlog.isEmpty) 0.0 else backlog.map(_._2).max)
    L.set("changelog.backlog_files_slope", "1/s", Stats.slope(backlog))
  }
}
