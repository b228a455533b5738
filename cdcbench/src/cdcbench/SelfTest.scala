package cdcbench

import scala.util.Try

/** Self-tests run at the start of every run (and alone with `--selftest`):
  * generator determinism and the accounting rules. Each returns the names
  * of the failed assertions. */
object SelfTest {

  /** Content hashes of this run's generated inputs, printed with the run. */
  @volatile var hashes: Seq[(String, String)] = Nil

  def logHash(seed: Long): String = {
    val g = new Gen.ChangeLog(seed)
    Gen.sha256((g.bootstrap() ++ g.batch(Ingest.BatchSize) ++ g.batch(Live.FileMutations))
      .iterator.map(_.canon))
  }
  def requestHash(seed: Long): String = {
    val r = new Gen.Requests(seed)
    Gen.sha256(Iterator.fill(200)(r.next().body))
  }
  def corpusHash(seed: Long): String = Gen.sha256(Iterator(Gen.corpus(seed).canon))

  def generators(seed: Long): Seq[String] = {
    val gens = Seq[(String, Long => String)](
      "changelog" -> logHash, "requests" -> requestHash, "corpus" -> corpusHash)
    val found = gens.map { case (name, h) => (name, h(seed), h(seed), h(seed + 1)) }
    hashes = found.map { case (n, a, _, _) => n -> a }
    found.flatMap { case (n, a, b, c) =>
      (if (a != b) Seq(s"$n: same seed gave different inputs") else Nil) ++
        (if (a == c) Seq(s"$n: different seeds gave identical inputs") else Nil)
    }
  }

  def accounting(): Seq[String] = {
    val fails = Seq.newBuilder[String]
    def expect(name: String)(ok: => Boolean): Unit =
      if (!Try(ok).getOrElse(false)) fails += name
    val xs = (1 to 100).map(_.toDouble)
    // nearest rank: p90 of 1..100 is the 90th value, with 10 samples beyond it
    expect("p90 of 100 samples is the 90th")(Stats.percentile(xs, 90) == 90.0)
    expect("p95 of 100 samples is refused")(Try(Stats.percentile(xs, 95)).isFailure)
    expect("p50 of 19 samples is refused")(Try(Stats.percentile(xs.take(19), 50)).isFailure)
    expect("tail of 100 samples is p90")(Stats.tail(xs) == (90.0, 90.0))
    expect("no tail from 30 samples")(Stats.tail(xs.take(30)) == ((0.0, 0.0)))
    expect("tail of 40 samples is p75")(Stats.tail(xs.take(40)) == ((75.0, 30.0)))
    expect("tail of 200 samples is p95")(Stats.tail((1 to 200).map(_.toDouble))._1 == 95.0)
    expect("median is exempt from the rule")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    // open-loop latency counts from the scheduled time, not the late send
    val scheduled = 1000000000L; val sent = 1500000000L; val seen = 1700000000L
    expect("open-loop latency from schedule")(
      math.abs(Stats.openLoopLatency(scheduled, seen) - 0.7) < 1e-9 &&
        Stats.openLoopLatency(scheduled, seen) > Stats.openLoopLatency(sent, seen))
    expect("generator lateness reported")(
      Stats.lateness(Seq(0L, 1000000000L), Seq(200000000L, 1000000000L)) == ((0.2, 0.1)))
    fails.result()
  }

  def quick(seed: Long): Seq[String] = generators(seed) ++ accounting()

  def run(): Seq[String] = quick(1) ++ quick(2)
}
