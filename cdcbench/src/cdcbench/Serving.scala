package cdcbench

import graft.dsl.{EsQueryJson, EsScroll}
import graft.streaming.BucketedIndex
import org.apache.spark.sql.{DataFrame, Row}
import java.nio.file.Path
import scala.collection.mutable

/** `es_serving`: closed loop, one client, the seeded ES request mix over
  * an index the write path built; each request resolves the manifest
  * itself (`readManifest` + `readAt`), as a pinned reader does. */
object Serving {

  /** Small batches after the bootstrap: each touches at most 20 of the
    * 32 buckets, so the manifest fans out over 4 batch dirs, as live
    * ingest without compaction leaves it. */
  val SmallBatches = 3
  val SmallBatchSize = 20
  /** Set-ups per run (`setup_s` is their median); the first runs in a cold JVM. */
  val SetupRepeats = 2
  /** Seconds a warm pass over the request mix (one of each entry of
    * `Gen.FamilyCycle`, 9 requests) takes on a 4-core host (sets passes per run). */
  val NominalPassSeconds = 2.0

  type Doc = Map[String, String]

  final class State(val dir: String, val ref: Map[String, Doc], val modelOk: Boolean)

  def build(ctx: Ctx, root: Path): State = {
    val spark = ctx.spark
    val dir = root.resolve("index").toString
    val gen = new Gen.ChangeLog(ctx.seed)
    val model = new Common.LwwModel
    val boot = gen.bootstrap()
    BucketedIndex.applyBatch(spark, dir, Common.mutDf(spark, boot), 0L, Common.Buckets)
    model(boot)
    for (b <- 1 to SmallBatches) {
      val muts = gen.batch(SmallBatchSize).filterNot(_.malformed)
      BucketedIndex.applyBatch(spark, dir, Common.mutDf(spark, muts), b.toLong, Common.Buckets)
      model(muts)
    }
    // the reference evaluation's input: the index, collected once
    val ref = Common.indexMap(BucketedIndex.read(spark, dir))
    new State(dir, ref, ref == model.docs.toMap)
  }

  /** What one request returned, reduced to what the reference checks. */
  sealed trait Res
  final case class Hits(rows: Seq[(String, Double, Doc)]) extends Res
  final case class Count(n: Long) extends Res
  final case class Aggs(frames: Map[String, Seq[Map[String, Any]]]) extends Res
  final case class Walk(ids: Seq[String]) extends Res

  private def asMaps(rows: Array[Row]): Seq[Map[String, Any]] =
    rows.toSeq.map(r => r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap)

  private def hits(df: DataFrame, ctx: Ctx): Hits = {
    val rows = ctx.span("dsl.exec")(df.collect())
    Hits(rows.toSeq.map { r =>
      val names = r.schema.fieldNames
      val score = if (names.contains("_score")) r.getAs[Any]("_score") match {
        case d: Double => d; case f: Float => f.toDouble; case _ => 0.0
      } else 0.0
      val info = Option(r.getAs[scala.collection.Map[String, String]]("info")).map(_.toMap)
        .getOrElse(Map.empty)
      (r.getAs[String]("id"), score, info)
    })
  }

  /** One request, timed by the caller. */
  def execute(ctx: Ctx, dir: String, req: Gen.Req): Res = {
    val spark = ctx.spark
    def resolve(): DataFrame = ctx.span("dsl.index_resolve")(
      BucketedIndex.readAt(spark, dir, BucketedIndex.readManifest(dir)))
    req match {
      case w: Gen.ScrollWalk =>
        val (id, first) = ctx.span("dsl.scroll_open")(EsScroll.open(spark, dir, w.body))
        try {
          val ids = mutable.ArrayBuffer[String]()
          var page = first.collect()
          while (page.nonEmpty) {
            ids ++= page.map(_.getAs[String]("id"))
            page = ctx.span("dsl.scroll_next")(EsScroll.next(spark, id).collect())
          }
          Walk(ids.toSeq)
        } finally EsScroll.clear(id)
      case b: Gen.BoolFilter if b.countOnly =>
        val df = resolve()
        val c = ctx.span("dsl.build")(EsQueryJson.countApi(df, b.body))
        Count(ctx.span("dsl.exec")(c.collect())(0).getLong(0))
      case r @ (_: Gen.AggTerms | _: Gen.AggCardPct) =>
        val df = resolve()
        val aggs = ctx.span("dsl.build")(EsQueryJson.aggregations(df, r.body))
        Aggs(aggs.map { case (k, v) => k -> asMaps(ctx.span("dsl.exec")(v.collect())) })
      case r =>
        val df = resolve()
        hits(ctx.span("dsl.build")(EsQueryJson.search(df, r.body)), ctx)
    }
  }

  // ---- reference evaluation (plain Scala over the collected index) --------

  private def num(a: Any): Double = a match {
    case d: Double => d; case l: Long => l.toDouble; case i: Int => i.toDouble
    case f: Float => f.toDouble; case s: String => s.toDouble
    case b: java.math.BigDecimal => b.doubleValue()
    case null => Double.NaN
    case other => other.toString.toDouble
  }
  private def close(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  def tokens(s: String): Seq[String] = s.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq

  /** Lucene BM25 (k1 1.2, b 0.75) over every doc, as ES scores `match`. */
  def bm25(ref: Map[String, Doc], terms: Seq[String]): Seq[(String, Double)] = {
    val k1 = 1.2; val b = 0.75
    val toks = ref.map { case (id, d) => id -> d.get("title").map(tokens) }
    val n = ref.size.toDouble
    val lens = toks.values.flatten.map(_.size.toDouble)
    val avgdl = lens.sum / lens.size
    val df = terms.map(t => t -> toks.values.count(_.exists(_.contains(t))).toDouble).toMap
    toks.toSeq.flatMap { case (id, ot) => ot.map { ts =>
      val dl = ts.size.toDouble
      val s = terms.map { t =>
        val tf = ts.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
        idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
      }.sum
      id -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }}.filter(_._2 > 0)
  }

  /** Spark's exact `percentile`: linear interpolation at p·(n−1). */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  /** Empty when the result equals the reference; else what differs. */
  def verify(ref: Map[String, Doc], req: Gen.Req, res: Res): Option[String] = (req, res) match {
    case (Gen.TermGet(ids), Hits(rows)) =>
      val want = ids.distinct.filter(ref.contains).map(i => i -> ref(i)).toMap
      val got = rows.map(r => r._1 -> r._3).toMap
      if (got == want && rows.size == want.size) None else Some(s"ids got ${got.keySet} want ${want.keySet}")
    case (b: Gen.BoolFilter, r) =>
      val m = ref.filter { case (_, d) =>
        d.get("etype").contains(b.etype) && d.get("amt").exists(a => a >= b.lo && a < b.hi) &&
          !d.get("tag").contains(b.notTag)
      }
      r match {
        case Count(n) => if (n == m.size) None else Some(s"count $n want ${m.size}")
        case Hits(rows) =>
          val want = m.toSeq.sortBy { case (id, d) => (d("amt"), id) }(
            Ordering.Tuple2(Ordering.String.reverse, Ordering.String))
            .slice(b.from, b.from + b.size).map(_._1)
          val got = rows.map(_._1)
          if (got == want) None else Some(s"page got $got want $want")
        case other => Some(s"unexpected result $other")
      }
    case (Gen.MatchText(terms, size), Hits(rows)) =>
      val want = bm25(ref, terms).sortBy { case (id, s) => (-s, id) }.take(size)
      val ok = rows.size == want.size && rows.zip(want).forall { case (g, w) =>
        g._1 == w._1 && close(g._2, w._2, 1e-5)
      }
      if (ok) None else Some(s"match got ${rows.map(r => r._1 -> r._2)} want $want")
    case (Gen.AggTerms(lo), Aggs(frames)) =>
      val scope = ref.values.filter(_.get("amt").exists(_ >= lo))
      val want = scope.filter(_.contains("etype")).groupBy(_("etype")).map { case (k, ds) =>
        val amts = ds.flatMap(_.get("amt")).map(_.toDouble).toSeq
        k -> (ds.size.toLong, amts)
      }
      val got = frames.getOrElse("by_etype", Nil)
      val ok = got.size == want.size && got.forall { row =>
        val key = row.getOrElse("by_etype", row.getOrElse("key", null))
        want.get(String.valueOf(key)).exists { case (cnt, amts) =>
          num(row("doc_count")) == cnt &&
            close(num(row("amt_count")), amts.size) &&
            close(num(row("amt_min")), amts.min) && close(num(row("amt_max")), amts.max) &&
            close(num(row("amt_sum")), amts.sum) && close(num(row("amt_avg")), amts.sum / amts.size, 1e-5)
        }
      }
      if (ok) None else Some(s"terms agg got $got want $want")
    case (Gen.AggCardPct(etype, percents), Aggs(frames)) =>
      val scope = ref.values.filter(_.get("etype").contains(etype))
      val tags = scope.flatMap(_.get("tag")).toSet.size
      val amts = scope.flatMap(_.get("amt")).map(_.toDouble).toIndexedSeq.sorted
      val card = frames.get("tags").flatMap(_.headOption).map(_.values.head).map(num)
      val pct = frames.get("amt_pct").flatMap(_.headOption).getOrElse(Map.empty)
      val cardOk = card.exists(c => math.abs(c - tags) <= 0.05 * tags + 1)
      val pctOk = percents.forall { p =>
        val v = pct.collectFirst { case (k, x) if k.endsWith(s"p${p.toLong}") => num(x) }
        v.exists(x => close(x, BigDecimal(percentile(amts, p / 100)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble, 1e-6))
      }
      if (cardOk && pctOk) None else Some(s"card/pct got $frames want card $tags")
    case (w: Gen.ScrollWalk, Walk(ids)) =>
      val want = ref.collect { case (id, d)
        if d.get("tag").contains(w.tag) && d.get("amt").exists(_ >= w.lo) => id }.toSeq.sorted
      if (ids == want) None else Some(s"scroll got ${ids.size} ids want ${want.size}")
    case (r, x) => Some(s"no reference for $r -> $x")
  }

  final case class Done(pass: Int, req: Gen.Req, res: Res, seconds: Double)

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val (st, setupS) = Common.setupRepeated[State](ctx, SetupRepeats)(build(ctx, _))
    out.check("index_equals_lww_model", st.modelOk)
    val gen = new Gen.Requests(ctx.seed)
    val cycle = Gen.FamilyCycle.size
    // untimed warm-up: one pass over every family's parse and plan path
    Seq.fill(cycle)(gen.next()).foreach(execute(ctx, st.dir, _))
    Common.log("warm-up requests done")
    // One op is one pass over the family cycle, so every op has the same
    // mix. A median over single requests sat on the cost step between the
    // cheap families (point gets, filtered pages) and the dearer ones, and
    // jumped ~15% between seeds.
    val passes = Vector.fill(ctx.ops(NominalPassSeconds))(Vector.fill(cycle)(gen.next()))
    val done = mutable.ArrayBuffer[Done]()
    val tracedDone = mutable.ArrayBuffer[Done]()
    val (plain, traced) = ctx.measure(passes.size, out) { (i, timer) =>
      val ds = timer(passes(i).zipWithIndex.map { case (r, j) =>
        val (res, dt) = Common.seconds(ctx.span("dsl.request", i * cycle + j)(execute(ctx, st.dir, r)))
        Done(i, r, res, dt)
      })
      done ++= ds
      if (timer.traced) tracedDone ++= ds
      Common.log(f"pass $i took ${timer.seconds}%.2f s${if (timer.traced) " (traced)" else ""}")
    }
    Common.log(s"measured ${done.size} requests")
    if (plain.nonEmpty) {
      out.e2e.set("setup_s", "s", setupS)
      out.e2e.set("op_s_p50", "s", Stats.median(plain))
    }
    ctx.tracer.filter(_ => traced.nonEmpty).foreach { tr =>
      out.overhead(plain, traced)
      layerMetrics(tr, tracedDone.toSeq, out)
    }
    out.layer.set("streaming.manifest_dirs", "count", BucketedIndex.readManifest(st.dir).values.toSet.size)
    out.layer.set("streaming.live_files", "count", liveFiles(st.dir))
    verifyAll(st.ref, done.toSeq, out)
    out
  }

  /** Checks every request; a pass with a wrong result is a failed op. */
  def verifyAll(ref: Map[String, Doc], done: Seq[Done], out: Outcome): Unit = {
    val wrong = done.flatMap(d => verify(ref, d.req, d.res).map(w => d.pass -> s"${d.req.family}: $w"))
    out.failed += wrong.map(_._1).distinct.size
    wrong.take(5).foreach(w => out.notes += w._2)
    out.checks("requests_match_reference") = out.checks.getOrElse("requests_match_reference", true) && wrong.isEmpty
  }

  def liveFiles(dir: String): Double = BucketedIndex.readManifest(dir).toSeq.map { case (k, v) =>
    Common.files(java.nio.file.Paths.get(dir, s"batches/b$v/bucket=$k")).keys
      .count(_.endsWith(".parquet"))
  }.sum.toDouble

  /** dsl.* layer figures from the traced requests. */
  def layerMetrics(tr: Tracer, traced: Seq[Done], out: Outcome): Unit = {
    val L = out.layer
    val n = math.max(1, traced.size).toDouble
    val times = traced.map(_.seconds)
    def spanMean(name: String) = { val s = tr.spansNamed(name); if (s.isEmpty) 0.0 else s.map(_.seconds).sum / s.size }
    L.set("dsl.build_s", "s", spanMean("dsl.build"))
    L.set("dsl.exec_s", "s", spanMean("dsl.exec"))
    L.set("dsl.index_resolve_s", "s", spanMean("dsl.index_resolve"))
    L.set("dsl.scroll_open_s", "s", spanMean("dsl.scroll_open"))
    L.set("dsl.scroll_next_s", "s", spanMean("dsl.scroll_next"))
    tr.synchronized {
      val q = math.max(1L, tr.queries).toDouble
      L.set("dsl.analyze_ms", "ms", tr.analysisMs / q)
      L.set("dsl.optimize_ms", "ms", tr.optimizationMs / q)
      L.set("dsl.plan_ms", "ms", tr.planningMs / q)
      L.set("dsl.files_read", "count", tr.filesRead / n)
      L.set("dsl.bytes_read", "bytes", tr.bytesRead / n)
      val hitsReturned = traced.map(_.res match {
        case Hits(r) => r.size.toLong; case Count(c) => c; case Walk(ids) => ids.size.toLong
        case Aggs(f) => f.values.map(_.size.toLong).sum
      }).sum
      L.set("dsl.rows_scanned_per_hit", "ratio", tr.rowsScanned.toDouble / math.max(1L, hitsReturned))
      L.set("dsl.jobs_per_query", "count", tr.total.jobs / n)
    }
    traced.groupBy(_.req.family).toSeq.sortBy(_._1).foreach { case (f, ds) =>
      L.set(s"dsl.${f}_s_p50", "s", Stats.median(ds.map(_.seconds)))
    }
    L.set("e2e.query_s_p50", "s", Stats.median(times))
    L.set("e2e.queries_per_s", "1/s", traced.size / times.sum)
    L.set("e2e.samples", "count", traced.size.toDouble)
  }
}
