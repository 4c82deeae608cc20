package crawlbench

import org.apache.spark.sql.functions._
import graft.corpus.{Corpus, Fixtures}
import graft.functions.CrawlFunctions.hostBucket
import graft.model.{CrawlConfig, Status}
import graft.oracle.RefOracle

/**
 * The benchmark's own tests (run by test.py): the seeded generator, the
 * metric names, failure counting and the attribution check. Prints one line
 * per test and the metric names; exits non-zero on the first failure.
 */
object SelfTest {
  private def check(name: String)(ok: => Boolean): Unit = {
    if (!ok) { System.err.println(s"FAIL $name"); sys.exit(1) }
    println(s"ok   $name")
  }

  def main(args: Array[String]): Unit = {
    names()
    counting()
    attribution()
    generator()
    println("names " + (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1).mkString(","))
  }

  def names(): Unit = {
    val all = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    check("metric names match [A-Za-z0-9_.-]+ and fit 64 characters")(
      all.forall(n => n.matches(Metrics.NamePattern) && n.length <= 64 && n.head.isLetterOrDigit))
    check("metric names are unique")(all.distinct.size == all.size)
  }

  /** One mismatching or missing URL or output row is one failed operation. */
  def counting(): Unit = {
    val o = RefOracle.crawl(Fixtures.site3, Fixtures.site3Seeds, CrawlConfig())
    val all = 100L // cycles: more than the oracle needs, so the crawl is finished
    val layerOf = o.visitedByLayer.zipWithIndex.flatMap { case (us, i) => us.map(_ -> i) }.toMap
    val frontier = o.tasks.values.toSeq.map(t => Check.FrontierRow(t.url, t.depth, t.status,
      t.reason, layerOf.get(t.url).map(_ + 2L).getOrElse(-1L)))
    val output = o.outputImages.map { case (id, url, d) => Check.OutputRow(id, url, d, 99.0, true) }
    val clean = Check.crawl(frontier, output, o, all)
    check("a crawl equal to the oracle fails nothing")(clean.failed == 0 && clean.attempted > 0)
    val (stuff, rest) = frontier.partition(_.url == "http://host0.test/stuff")
    check("one wrong status is one failure")(
      Check.crawl(stuff.map(_.copy(status = Status.WithError)) ++ rest, output, o, all).failed == 1)
    check("one missing URL and its image are two failures")(
      Check.crawl(rest, output.filter(_.srcUrl != stuff.head.url), o, all).failed == 2)
    check("one output row under 40 dB is one failure")(
      Check.crawl(frontier, output.head.copy(psnr = 30.0) +: output.tail, o, all).failed == 1)
    val thrown = Check.thrown(o)
    check("a crawl that throws fails every URL")(
      thrown.failed == thrown.attempted && thrown.attempted == o.tasks.size)

    // every page seeded, one fetch per host per cycle: after two cycles
    // (robots, then the root page) the other two seeds are still pending
    val seeds = Fixtures.site3.map(_.url)
    val one = RefOracle.crawl(Fixtures.site3, seeds, CrawlConfig(hostBudget = 1))
    val root = seeds.head
    val capped = one.tasks.values.toSeq.map(t =>
      if (t.url == root) Check.FrontierRow(t.url, t.depth, t.status, t.reason, 2L)
      else Check.FrontierRow(t.url, t.depth, Status.New, null, -1L))
    val rootImage = one.outputImages.filter(_._2 == root)
      .map { case (id, url, d) => Check.OutputRow(id, url, d, 99.0, true) }
    check("a capped crawl equal to the oracle's first cycles fails nothing")(
      Check.crawl(capped, rootImage, one, 2L).failed == 0)
    check("one dropped pending seed is one failure")(
      Check.crawl(capped.filter(_.url != seeds(1)), rootImage, one, 2L).failed == 1)
  }

  /** The traced run's attribution check. */
  def attribution(): Unit = {
    def ok(unattributed: Double, frac: Double) = Metrics.attributed(Map(
      "trace.unattributed_jobs" -> unattributed, "trace.task_s_attributed_frac" -> frac))
    check("attribution passes with every job in a span")(ok(0, 0.99))
    check("one job outside a span fails attribution")(!ok(1, 1.0))
    check("under 95% of task time attributed fails attribution")(!ok(0, 0.94))
  }

  /** Same seed, same corpus; another seed, other hash buckets. */
  def generator(): Unit = {
    val dir = new java.io.File(".bench_build/selftest")
    val spark = Main.session(dir)
    try {
      val spec = Corpus.WebSpec(16, 400)
      def corpusHash(seed: Long): Long = Web.pages(spark, spec, seed)
        .select(expr("bit_xor(xxhash64(url, host, status, body, redirect_to))"))
        .head().getLong(0)
      def histogram(seed: Long): Map[Int, Long] = Web.pages(spark, spec, seed)
        .groupBy(hostBucket(col("host"), 32)).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      check("the same seed gives the same corpus")(corpusHash(7) == corpusHash(7))
      check("another seed gives another corpus")(corpusHash(7) != corpusHash(8))
      check("another seed gives another bucket histogram")(histogram(7) != histogram(8))
      val names = Web.pages(spark, spec, 0).select("url").collect().map(_.getString(0)).toSet
      check("seed 0 keeps the original host names")(
        names.contains(Corpus.pageUrl(3, 0)) && Web.hostName(3, 0) == Corpus.hostName(3))
      check("a seeded name keeps its shape")(
        Web.hostName(3, 7).matches("h3\\.s[0-9a-z]{4}\\.test"))
    } finally { spark.stop(); Disk.delete(dir) }
  }
}
