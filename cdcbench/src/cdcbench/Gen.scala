package cdcbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** One generated change-log record. `key` is null and `op` may be "X" for
  * the malformed rows the pipeline must quarantine. */
final case class Mut(key: String, op: String, tsMicros: Long, seq: Long,
                     cells: Vector[(String, String)]) {
  def malformed: Boolean = key == null || (op != "U" && op != "D")
  def canon: String =
    s"$key|$op|$tsMicros|$seq|" + cells.map { case (q, v) => s"$q=$v" }.mkString(";")
}

/** Seeded input generators. Every parameter is fixed here, next to the
  * reason it has its value; the seed only picks which values are drawn,
  * so two seeds give inputs of the same shape and size. */
object Gen {

  // ---- change log ---------------------------------------------------------

  /** Live keys after the bootstrap: ~160 docs in each of the 32 buckets.
    * Small enough that the index rewrite, not the row count, dominates a
    * batch; large enough that a 10k batch's thousands of distinct keys
    * reach every bucket. */
  val KeySpace = 5000
  /** Zipf exponent of key popularity. 0.9 gives a hot head (the top 1% of
    * keys take ~30% of updates) without collapsing a batch onto a few keys. */
  val ZipfS = 0.9
  /** Share of deletes: the ~5% of the reference's observed delete traffic. */
  val DeleteFrac = 0.05
  /** Share of malformed rows (null key or unknown op), routed to quarantine. */
  val MalformedFrac = 0.002
  /** Share of mutations on keys never seen before (inserts). */
  val NewKeyFrac = 0.03
  /** Longest `blob` payload; lengths are log-uniform on [1, MaxBlob] so the
    * HDR payload sketch fills many buckets. */
  val MaxBlob = 512
  /** Event-time span of one ingest batch; ts grows monotonically across
    * batches, as a change-capture stream's commit order does. */
  val BatchSpanMicros = 3600L * 1000000L
  val T0Micros = 1700000000000000L

  val Etypes = Vector("purchase", "click", "view", "cart", "refund")
  val Tags: Vector[String] = (0 until 40).map(i => f"t$i%02d").toVector
  /** Title vocabulary: a fixed word list, so match queries have a stable
    * mix of common and rare terms whatever the seed. */
  val Vocab: Vector[String] = Vector(
    "spark", "stream", "index", "merge", "bucket", "query", "shard", "delta",
    "table", "row", "column", "scan", "sort", "hash", "join", "filter",
    "group", "window", "batch", "fast", "slow", "value", "key", "data",
    "log", "commit", "offset", "replica", "segment", "cache", "page", "node",
    "lucene", "search", "token", "score", "vector", "graph", "region", "store")

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF; rank r maps to key
    * `perm(r)` so the hot keys are spread over the key space. */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    private val perm = {
      val r = new SplittableRandom(seed)
      val p = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
      p
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      perm(lo)
    }
  }

  def keyName(k: Int): String = f"k$k%06d"
  def amt(r: SplittableRandom): String = f"${r.nextInt(1000000)}%06d"
  def title(r: SplittableRandom, minW: Int = 3, maxW: Int = 12): String =
    Vector.fill(minW + r.nextInt(maxW - minW + 1))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
  def blob(r: SplittableRandom): String =
    "x" * math.exp(r.nextDouble() * math.log(MaxBlob.toDouble)).toInt.max(1)

  /** Every qualifier, as the bootstrap writes it for a fresh key. */
  def fullCells(r: SplittableRandom): Vector[(String, String)] = Vector(
    "etype" -> Etypes(r.nextInt(Etypes.size)), "amt" -> amt(r),
    "tag" -> Tags(r.nextInt(Tags.size)), "title" -> title(r), "blob" -> blob(r))

  /** A partial update: each qualifier present with probability 0.6 (at
    * least one), so the fold's field-merge path is exercised. */
  def partialCells(r: SplittableRandom): Vector[(String, String)] = {
    val all = fullCells(r)
    val keep = all.filter(_ => r.nextDouble() < 0.6)
    if (keep.isEmpty) Vector(all(r.nextInt(all.size))) else keep
  }

  /** The stateful change-log generator: a bootstrap that writes every key
    * once, then batches in commit order. Same seed, same sequence. */
  final class ChangeLog(seed: Long) {
    private val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    private val zipf = new Zipf(KeySpace, ZipfS, seed * 31 + 7)
    private var seq = 0L
    private var nextNew = KeySpace
    private var batchNo = 0

    def bootstrap(): Vector[Mut] = {
      val ts0 = T0Micros - BatchSpanMicros
      Vector.tabulate(KeySpace) { k =>
        seq += 1
        Mut(keyName(k), "U", ts0 + k, seq, fullCells(r))
      }
    }

    /** The next batch of `n` mutations. Malformed rows are exactly
      * `round(n * MalformedFrac)` (at least 1 in a batch of 500 or more),
      * placed at seeded positions, so the quarantine count is known. */
    def batch(n: Int): Vector[Mut] = {
      val b = batchNo; batchNo += 1
      val tsBase = T0Micros + b * BatchSpanMicros
      val nBad = math.round(n * MalformedFrac).toInt
      val badAt = scala.collection.mutable.Set[Int]()
      while (badAt.size < nBad) badAt += r.nextInt(n)
      Vector.tabulate(n) { i =>
        seq += 1
        // ts non-decreasing with ties every few rows: the seq tiebreak matters
        val ts = tsBase + (i / 3) * (BatchSpanMicros / (n / 3 + 1))
        if (badAt(i)) {
          if (r.nextBoolean()) Mut(null, "U", ts, seq, partialCells(r))
          else Mut(keyName(zipf.sample(r)), "X", ts, seq, partialCells(r))
        } else {
          val u = r.nextDouble()
          if (u < NewKeyFrac) { nextNew += 1; Mut(f"n$nextNew%07d", "U", ts, seq, fullCells(r)) }
          else if (u < NewKeyFrac + DeleteFrac) Mut(keyName(zipf.sample(r)), "D", ts, seq, Vector.empty)
          else Mut(keyName(zipf.sample(r)), "U", ts, seq, partialCells(r))
        }
      }
    }
  }

  // ---- serving request mix -------------------------------------------------

  sealed trait Req { def family: String; def body: String }
  final case class TermGet(ids: Vector[String]) extends Req {
    val family = "term_get"
    def body: String =
      s"""{"query":{"ids":{"values":[${ids.map(q).mkString(",")}]}},"size":${ids.size}}"""
  }
  final case class BoolFilter(etype: String, lo: String, hi: String, notTag: String,
                              from: Int, size: Int, countOnly: Boolean) extends Req {
    val family = "bool_filter"
    def query: String =
      s"""{"bool":{"filter":[{"term":{"info.etype":${q(etype)}}},""" +
        s"""{"range":{"info.amt":{"gte":${q(lo)},"lt":${q(hi)}}}}],""" +
        s""""must_not":[{"term":{"info.tag":${q(notTag)}}}]}}"""
    def body: String =
      if (countOnly) s"""{"query":$query}"""
      else s"""{"query":$query,"sort":[{"info.amt":{"order":"desc"}},{"id":{"order":"asc"}}],""" +
        s""""from":$from,"size":$size}"""
  }
  final case class MatchText(terms: Vector[String], size: Int) extends Req {
    val family = "match_text"
    def body: String =
      s"""{"query":{"match":{"info.title":${q(terms.mkString(" "))}}},""" +
        s""""sort":[{"_score":{"order":"desc"}},{"id":{"order":"asc"}}],"size":$size}"""
  }
  final case class AggTerms(lo: String) extends Req {
    val family = "agg_terms"
    def body: String =
      s"""{"size":0,"query":{"range":{"info.amt":{"gte":${q(lo)}}}},""" +
        s""""aggs":{"by_etype":{"terms":{"field":"info.etype","size":10},""" +
        s""""aggs":{"amt":{"stats":{"field":"info.amt"}}}}}}"""
  }
  final case class AggCardPct(etype: String, percents: Vector[Double]) extends Req {
    val family = "agg_card_pct"
    def body: String =
      s"""{"size":0,"query":{"term":{"info.etype":${q(etype)}}},""" +
        s""""aggs":{"tags":{"cardinality":{"field":"info.tag"}},""" +
        s""""amt_pct":{"percentiles":{"field":"info.amt","percents":[${percents.mkString(",")}]}}}}"""
  }
  final case class ScrollWalk(tag: String, lo: String, pageSize: Int) extends Req {
    val family = "scroll_walk"
    def body: String =
      s"""{"query":{"bool":{"filter":[{"term":{"info.tag":${q(tag)}}},""" +
        s"""{"range":{"info.amt":{"gte":${q(lo)}}}}]}},"sort":["id"],"size":$pageSize}"""
  }

  private def q(s: String) = "\"" + s + "\""

  /** Family cycle of the serving mix. A fixed cycle (not a seeded draw)
    * keeps each family's share equal across seeds, so the mix median does
    * not move with the seed; point gets and filtered pages dominate, as in
    * an ES serving tier. */
  val FamilyCycle: Vector[String] = Vector(
    "term_get", "bool_filter", "match_text", "term_get", "agg_terms",
    "bool_filter", "agg_card_pct", "term_get", "scroll_walk")

  final class Requests(seed: Long) {
    private val r = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    private val zipf = new Zipf(KeySpace, ZipfS, seed * 31 + 7)
    private var i = 0
    private def pick[T](v: Vector[T]): T = v(r.nextInt(v.size))
    def next(): Req = {
      val fam = FamilyCycle(i % FamilyCycle.size); i += 1
      fam match {
        case "term_get" => TermGet(Vector.fill(1 + r.nextInt(4))(keyName(zipf.sample(r))).distinct)
        case "bool_filter" =>
          // the cycle's two bool_filter entries: a sorted page, then a _count,
          // so every pass costs the same mix of query shapes
          val lo = r.nextInt(800000)
          BoolFilter(pick(Etypes), f"$lo%06d", f"${lo + 100000 + r.nextInt(100000)}%06d",
            pick(Tags), r.nextInt(3) * 10, 10,
            countOnly = (i - 1) % FamilyCycle.size == FamilyCycle.lastIndexOf("bool_filter"))
        case "match_text" => MatchText(Vector(pick(Vocab), pick(Vocab)).distinct, 10)
        case "agg_terms" => AggTerms(f"${r.nextInt(500000)}%06d")
        case "agg_card_pct" => AggCardPct(pick(Etypes), Vector(50.0, 90.0, 99.0))
        case "scroll_walk" => ScrollWalk(pick(Tags), f"${r.nextInt(300000)}%06d", 100)
      }
    }
  }

  // ---- LLM-prep corpus -------------------------------------------------------

  /** Base documents; with the planted copies the corpus is ~900 docs. The
    * job's ~6 s on 4 cores is mostly per-stage Spark overhead, so a larger
    * corpus would add time without exercising more code (twice this size
    * took ~8.5 s and left a run no time for a second measured job). */
  val BaseDocs = 750
  /** Exact copies (same text, new id) and near-duplicates (one or two words
    * replaced), each planted for 10% of base documents: ~75 pairs apiece,
    * so recall reads to about a percent and a half. */
  val ExactCopyFrac = 0.1
  val NearDupFrac = 0.1
  /** 600 base vectors of 64 dimensions, the shape of the sf0.1
    * `embeddings` table at a size that keeps the banded self-join and
    * the kNN cross join under a second each. */
  val BaseVecs = 600
  val Dim = 64
  /** Embedding twins: base vector plus N(0, 0.02) noise per coordinate,
    * cosine ~0.99; random base pairs sit near cosine 0 in 64 dimensions. */
  val TwinFrac = 0.05
  val TwinNoise = 0.02
  /** Top-10 neighbours of a handful of queries, as the c06 kNN bench row asks. */
  val KnnQueries = 8
  val KnnK = 10

  /** Stop words mixed into a quarter of the text, for Gopher's stop-word rule. */
  val Stop: Vector[String] = Vector("the", "of", "and", "to", "in", "is", "that", "for")

  final case class Doc(id: Long, text: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)
  final case class Corpus(docs: Vector[Doc], evalDocs: Vector[Doc],
                          exactCopies: Vector[(Long, Long)], nearDups: Vector[(Long, Long)],
                          vecs: Vector[Vec], twins: Vector[(Long, Long)], knnQueries: Vector[Long]) {
    def canon: String =
      (docs.map(d => s"${d.id}|${d.source}|${d.text}") ++ evalDocs.map(d => s"e${d.id}|${d.text}") ++
        vecs.map(v => s"${v.id}|${v.label}|" + v.v.mkString(",")) ++
        knnQueries.map(_.toString)).mkString("\n")
  }

  def corpus(seed: Long): Corpus = {
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    def text(): String = {
      // 40-120 words mixing the vocabulary with stop words, so Gopher's
      // stop-word rule passes most docs and fails the short ones
      val n = 30 + r.nextInt(91)
      Vector.fill(n)(if (r.nextInt(4) == 0) Stop(r.nextInt(Stop.size)) else Vocab(r.nextInt(Vocab.size)))
        .mkString(" ")
    }
    val base = Vector.tabulate(BaseDocs)(i => Doc(i.toLong, text(), s"src${r.nextInt(4)}"))
    var next = BaseDocs.toLong
    val exact = Vector.newBuilder[(Long, Long)]
    val near = Vector.newBuilder[(Long, Long)]
    val planted = Vector.newBuilder[Doc]
    base.foreach { d =>
      if (r.nextDouble() < ExactCopyFrac) {
        planted += Doc(next, d.text, d.source); exact += d.id -> next; next += 1
      }
      if (r.nextDouble() < NearDupFrac) {
        val w = d.text.split(" ")
        val edits = 1 + r.nextInt(2)
        for (_ <- 0 until edits) w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size))
        planted += Doc(next, w.mkString(" "), d.source); near += d.id -> next; next += 1
      }
    }
    val evalDocs = Vector.tabulate(20)(i => Doc(100000L + i, text(), "eval"))
    val vbase = Vector.tabulate(BaseVecs) { i =>
      Vec(i.toLong, Array.fill(Dim)(r.nextGaussian().toFloat), r.nextInt(8))
    }
    var nv = BaseVecs.toLong
    val twins = Vector.newBuilder[(Long, Long)]
    val vplanted = Vector.newBuilder[Vec]
    vbase.foreach { v =>
      if (r.nextDouble() < TwinFrac) {
        vplanted += Vec(nv, v.v.map(x => (x + r.nextGaussian() * TwinNoise).toFloat), v.label)
        twins += v.id -> nv; nv += 1
      }
    }
    val vecs = vbase ++ vplanted.result()
    val queries = Vector.fill(KnnQueries)(vecs(r.nextInt(vecs.size)).id).distinct
    Corpus(base ++ planted.result(), evalDocs, exact.result(), near.result(),
      vecs, twins.result(), queries)
  }

  def sha256(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
