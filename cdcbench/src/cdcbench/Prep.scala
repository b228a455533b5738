package cdcbench

import graft.ext.{Corpus, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `llm_prep`: the batch job over a seeded corpus with planted exact
  * copies, near-duplicates and embedding twins. One op is the whole job,
  * input files to complete result. */
object Prep {

  /** Set-ups per run (`setup_s` is their median): a corpus build takes
    * ~0.6 s warm and varies by a quarter between runs, so five are cheap
    * and steady the median. */
  val SetupRepeats = 5
  /** Seconds a job takes on a 4-core host once warm (sets jobs per run). */
  val NominalJobSeconds = 5.0
  /** Near-duplicate thresholds: MinHash-LSH Jaccard (the library default)
    * and banded-embedding cosine (twins sit at ~0.99, random pairs near 0). */
  val LshThreshold = 0.5
  val EmbThreshold = 0.9

  final class Input(val corpus: Gen.Corpus, val docs: String, val evalDocs: String, val vecs: String)

  def setup(ctx: Ctx, root: Path): Input = {
    val spark = ctx.spark
    val c = Gen.corpus(ctx.seed)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    def writeDocs(ds: Seq[Gen.Doc], p: Path): String = {
      spark.createDataFrame(ds.map(d => Row(d.id, d.text, d.source)).asJava, docSchema)
        .coalesce(1).write.parquet(p.toString)
      p.toString
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val vp = root.resolve("embeddings").toString
    spark.createDataFrame(c.vecs.map(v => Row(v.id, v.v.toSeq, v.label)).asJava, vecSchema)
      .coalesce(1).write.parquet(vp)
    new Input(c, writeDocs(c.docs, root.resolve("documents")),
      writeDocs(c.evalDocs, root.resolve("eval")), vp)
  }

  final case class Result(prep: Seq[Long], pairs: Seq[(Long, Long, Double)], comps: Map[Long, Long],
                          kept: Set[Long], embPairs: Seq[(Long, Long, Double)],
                          knn: Map[Long, Seq[(Long, Double)]])

  /** The whole job; each stage's result is collected (the job's output). */
  def job(ctx: Ctx, in: Input): Result = {
    val spark = ctx.spark
    val docs = spark.read.parquet(in.docs)
    val evalDocs = spark.read.parquet(in.evalDocs)
    val emb = spark.read.parquet(in.vecs)
    try {
      val prep = ctx.span("ext.prep_pipeline")(Corpus.prepPipeline(
        docs, col("doc_id"), col("text"), col("source"), evalDocs, col("text"),
        nGram = 4, alpha = 0.6, targetTotal = 600L, minWords = 40, minMeanLen = 3.0,
        maxMeanLen = 8.0, minStopwords = 2, maxTopTokFrac = 0.15).collect()).map(_.getLong(0))
      val pairsDf = Dedup.minhashLsh(docs, col("doc_id"), col("text"), threshold = LshThreshold).persist()
      val pairs = ctx.span("ext.minhash_lsh")(pairsDf.collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val comps = ctx.span("ext.components")(Dedup.connectedComponentsFast(pairsDf).collect())
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kept = ctx.span("ext.remove_near_dups")(
        Dedup.removeNearDuplicates(docs, col("doc_id"), pairsDf).select("doc_id").collect())
        .map(_.getLong(0)).toSet
      pairsDf.unpersist()
      val embPairs = ctx.span("ext.emb_neardup")(
        Similarity.embeddingNearDupsBanded(emb, threshold = EmbThreshold).collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val knn = ctx.span("ext.knn")(Similarity.knnBrute(
        emb.filter(col("vec_id").isin(in.corpus.knnQueries: _*)), emb, Gen.KnnK).collect())
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
      Result(prep.toSeq, pairs.toSeq, comps, kept, embPairs.toSeq, knn)
    } finally graft.CachedFrames.dropScratch()
  }

  // ---- reference checks --------------------------------------------------

  def grams(text: String): Set[String] =
    text.toLowerCase.split("\\W+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Checks one job result; returns (recalls, failures). */
  def verify(in: Input, r: Result): (Map[String, Double], Seq[String]) = {
    val c = in.corpus
    val fails = mutable.ArrayBuffer[String]()
    val text = c.docs.map(d => d.id -> d.text).toMap
    val g = text.map { case (id, t) => id -> grams(t) }
    // every planted exact copy is removed, by the prep dedup and by LSH removal
    val copies = c.exactCopies.map(_._2).toSet
    if ((copies & r.kept).nonEmpty) fails += s"${(copies & r.kept).size} exact copies survive near-dup removal"
    if ((copies & r.prep.toSet).nonEmpty) fails += s"${(copies & r.prep.toSet).size} exact copies selected by prep"
    // every reported pair is a true near-duplicate with its exact Jaccard
    val badPairs = r.pairs.filterNot { case (a, b, j) =>
      val t = jaccard(g(a), g(b)); t >= LshThreshold && math.abs(round6(t) - j) <= 1e-6
    }
    if (badPairs.nonEmpty) fails += s"${badPairs.size} LSH pairs fail exact verification, e.g. ${badPairs.head}"
    val found = r.pairs.map(p => (p._1, p._2)).toSet
    val planted = (c.nearDups ++ c.exactCopies).filter { case (a, b) => jaccard(g(a), g(b)) >= LshThreshold }
    val lshRecall = if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size
    if (lshRecall < 0.9) fails += s"LSH recall $lshRecall of planted near-duplicates"
    // components: both ends of every pair share a cluster, the min id
    val uf = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = uf.getOrElse(x, x); if (p == x) x else { val q = find(p); uf(x) = q; q } }
    r.pairs.foreach { case (a, b, _) => val (x, y) = (find(a), find(b)); if (x != y) uf(math.max(x, y)) = math.min(x, y) }
    val nodes = r.pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val compsOk = r.comps.keySet == nodes && nodes.forall(n => r.comps(n) == find(n))
    if (!compsOk) fails += "connected components differ from union-find over the pairs"
    // near-dup removal keeps exactly the docs that are never the larger id of a pair
    val wantKept = c.docs.map(_.id).toSet -- r.pairs.map(_._2)
    if (r.kept != wantKept) fails += s"removeNearDuplicates kept ${r.kept.size}, want ${wantKept.size}"
    // embedding near-dups: verified cosines, twins recalled
    val vec = c.vecs.map(v => v.id -> v.v).toMap
    val badEmb = r.embPairs.filterNot { case (a, b, s) =>
      val t = cosine(vec(a), vec(b)); t >= EmbThreshold - 1e-6 && math.abs(t - s) <= 1e-5
    }
    if (badEmb.nonEmpty) fails += s"${badEmb.size} embedding pairs fail verification"
    val embFound = r.embPairs.map(p => (p._1, p._2)).toSet
    val embRecall = if (c.twins.isEmpty) 1.0 else c.twins.count(embFound).toDouble / c.twins.size
    if (embRecall < 0.9) fails += s"embedding twin recall $embRecall"
    // kNN equals brute force, up to order among cosines tied within 1e-6
    var exact = 0
    c.knnQueries.foreach { q =>
      val want = c.vecs.filter(_.id != q).map(v => v.id -> round6(cosine(vec(q), v.v)))
        .sortBy { case (id, s) => (-s, id) }
      val got = r.knn.getOrElse(q, Nil)
      val top = want.take(Gen.KnnK)
      if (got.map(_._1) == top.map(_._1)) exact += 1
      else {
        val kth = top.last._2
        val ok = got.size == top.size && got.zip(top).forall { case ((gi, gs), (_, ws)) =>
          math.abs(gs - ws) <= 1e-5 && math.abs(round6(cosine(vec(q), vec(gi))) - gs) <= 1e-5
        } && got.forall { case (_, s) => s >= kth - 1e-5 }
        if (!ok) fails += s"kNN for query $q differs from brute force"
      }
    }
    (Map("ext.lsh_recall" -> lshRecall, "ext.emb_recall" -> embRecall,
      "ext.knn_exact_frac" -> exact.toDouble / math.max(1, c.knnQueries.size)), fails.toSeq)
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val (in, setupS) = Common.setupRepeated[Input](ctx, SetupRepeats)(setup(ctx, _))
    job(ctx, in) // untimed warm-up: JIT and codegen of every stage
    Common.log("warm-up job done")
    val results = mutable.ArrayBuffer[Result]()
    val (plain, traced) = ctx.measure(ctx.ops(NominalJobSeconds), out) { (_, timer) =>
      results += timer(job(ctx, in))
      Common.log(f"job took ${timer.seconds}%.2f s${if (timer.traced) " (traced)" else ""}")
    }
    Common.log(s"measured ${results.size} jobs")
    if (plain.nonEmpty) {
      out.e2e.set("setup_s", "s", setupS)
      out.e2e.set("op_s_p50", "s", Stats.median(plain))
    }
    ctx.tracer.filter(_ => traced.nonEmpty).foreach { tr =>
      val n = traced.size.toDouble
      val L = out.layer
      out.overhead(plain, traced)
      Seq("prep_pipeline", "minhash_lsh", "components", "remove_near_dups", "emb_neardup", "knn")
        .foreach(s => L.set(s"ext.${s}_s", "s", tr.spansNamed(s"ext.$s").map(_.seconds).sum / n))
      L.set("ext.shuffle_bytes", "bytes", tr.total.shuffleWrite / n)
      L.set("ext.spill_bytes", "bytes", tr.total.spill / n)
      L.set("e2e.prep_s", "s", Stats.median(traced))
      L.set("e2e.samples", "count", n)
    }
    // every job's output is checked, outside the timed region
    results.zipWithIndex.foreach { case (r, i) =>
      val (recalls, fails) = verify(in, r)
      if (i == 0) recalls.foreach { case (k, v) => out.layer.set(k, "ratio", v) }
      fails.foreach(f => out.notes += f)
      if (fails.nonEmpty) out.failed += 1
      out.checks("prep_matches_reference") = out.checks.getOrElse("prep_matches_reference", true) && fails.isEmpty
    }
    out
  }
}
