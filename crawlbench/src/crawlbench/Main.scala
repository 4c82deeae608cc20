package crawlbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.driver.CrawlEngine
import graft.functions.SeenSketch
import graft.model.{PageRow, Status}
import graft.oracle.RefOracle
import graft.plans.SnapTable

/**
 * The crawl benchmark.
 *
 *   crawlbench.Main --workload polite|mega --seed N --seconds S --trace 0|1
 *
 * Set-up starts a Spark session, synthesizes the seeded corpus
 * ([[Web]]) and runs `prepareCorpus`. Then one whole crawl of the workload
 * runs: it seeds every page into a fresh snapshot store through `initSeeds`
 * and runs `drive`, with a [[TimedStore]] marking the cycle boundaries. A
 * run always measures exactly one crawl (about 30 s on a 4-core host), so
 * every run is in the same regime however fast the engine gets; `--seconds`
 * is accepted for the command-line contract and does not change the work.
 * After the crawl, outside the timed region, its frontier and output are
 * checked against [[RefOracle]] ([[Check]]).
 *
 * `--trace 0` prints the end-to-end metrics; `--trace 1` traces the crawl
 * and prints the per-layer metrics ([[Metrics]]). The last line of standard
 * output is one JSON object; progress goes to standard error.
 */
object Main {
  private val Cores = math.min(4, Runtime.getRuntime.availableProcessors())
  private val jvmStart = System.nanoTime()

  final case class Opts(workload: Workload, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = a.getOrElse(k, usage(s"missing $k"))
    val w = Workload.all.getOrElse(need("--workload"), usage("unknown workload"))
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace takes 0 or 1")
    }
    Opts(w, need("--seed").toLong, need("--seconds").toInt, trace)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"crawlbench: $msg\nusage: --workload " +
      Workload.all.keys.toSeq.sorted.mkString("|") + " --seed N --seconds S --trace 0|1")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val base = new File(s".bench_build/runs/${opts.workload.name}-${opts.seed}-" +
      ProcessHandle.current().pid())
    Disk.delete(base)
    try println(Json.result(run(opts, base)))
    finally Disk.delete(base)
  }

  /** Progress, on standard error. */
  def note(msg: String): Unit =
    System.err.println(f"[crawlbench ${(System.nanoTime() - jvmStart) / 1e9}%7.1fs] $msg")

  def session(base: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$base/spark-local")
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The session and corpus the crawl runs on. */
  final case class Setup(spark: SparkSession, dir: String, secs: Double,
      synthSecs: Double, prepareSecs: Double, trace: Trace)

  def setup(w: Workload, seed: Long, base: File, traced: Boolean): Setup = {
    val t0 = System.nanoTime()
    val spark = session(base)
    val tr = new Trace(spark.sparkContext, traced)
    val dir = s"$base/corpus"
    def timed(f: => Unit): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9 }
    val synth = timed(tr.span("Corpus.synth") {
      Web.pages(spark, w.spec, seed).write.parquet(s"$dir/pages")
      Web.images(spark, w.spec).write.parquet(s"$dir/images")
    })
    val prepare = timed(tr.span("Corpus.prepare") {
      new CrawlEngine(spark, w.config, spark.read.parquet(s"$dir/pages"),
        spark.read.parquet(s"$dir/images"), dir).prepareCorpus()
    })
    tr.close()
    val secs = (System.nanoTime() - t0) / 1e9
    note(f"setup: $secs%.2fs (synth $synth%.2fs, prepare $prepare%.2fs)")
    Setup(spark, dir, secs, synth, prepare, tr)
  }

  /** One measured crawl and what was observed about it. */
  final case class Crawl(wallSecs: Double, taskSecs: Double, traceSecs: Double,
      peakRssMb: Double, fetched: Long, cycleSecs: Seq[Double], stateBytes: Long, frontierRows: Long,
      check: Check.Result, trace: Trace, store: TimedStore,
      driveMs: (Long, Long), deferredPolite: Long, sketch: Option[(Double, Double)])

  def run(o: Opts, base: File): Result = {
    val w = o.workload
    val set = setup(w, o.seed, base, o.trace)
    val spark = set.spark
    import spark.implicits._
    val pages = spark.read.parquet(s"${set.dir}/pages")
    val images = spark.read.parquet(s"${set.dir}/images")
    val seeds = pages.filter(!col("url").endsWith("/robots.txt")).select(col("url").as("raw"))
    lazy val oracle = RefOracle.crawl(pages.as[PageRow].collect().toSeq,
      seeds.as[String].collect().toSeq, w.config)

    val c = try crawl(spark, w, pages, images, seeds, set.dir, s"$base/crawl", o.trace,
      () => oracle)
    catch { case e: Exception =>
      note(s"crawl threw: $e")
      val failed = Check.thrown(oracle)
      return Result(correct = false, failed.attempted, failed.failed, Nil)
    }
    note(f"crawl: ${c.wallSecs}%.2fs, " +
      s"${c.fetched} fetched in ${c.cycleSecs.size} cycles " +
      c.cycleSecs.map(x => f"$x%.2f").mkString("[", " ", "]") +
      s", ${c.check.failed} of ${c.check.attempted} checks failed")
    Metrics.result(set, c, o.trace)
  }

  def crawl(spark: SparkSession, w: Workload, pages: DataFrame, images: DataFrame,
      seeds: DataFrame, corpusDir: String, dir: String, traced: Boolean,
      oracle: () => RefOracle.Outcome): Crawl = {
    import spark.implicits._
    val tr = new Trace(spark.sparkContext, traced)
    val store = new TimedStore(new SnapTable(spark, s"$dir/state"), s"$dir/state", tr)
    val engine = new CrawlEngine(spark, w.config, pages, images, corpusDir, store)
    val t0 = System.nanoTime()
    tr.span("CrawlEngine.init")(engine.initSeeds(seeds))
    store.live = true
    val d0 = System.nanoTime()
    val dms0 = System.currentTimeMillis()
    tr.span("CrawlEngine.cycle")(engine.drive(w.maxCycles))
    val t1 = System.nanoTime()
    val dms1 = System.currentTimeMillis()
    // the crawl's peak, before the check's collects and oracle add their own
    val rss = Metrics.peakRssMb()
    store.live = false
    tr.drain()
    val taskSecs = tr.taskSeconds
    val traceSecs = tr.selfSeconds + store.traceNanos / 1e9
    val bounds = d0 +: store.commits.map(_.endNanos).toSeq

    tr.span("bench.check") {
      val frontier = engine.frontierNow
        .select("url", "depth", "status", "reason", "started").as[Check.FrontierRow].collect().toSeq
      val output = engine.outputNow
        .select($"image_id".as("imageId"), $"src_url".as("srcUrl"), $"depth", $"psnr",
          $"caption_ok".as("captionOk")).as[Check.OutputRow].collect().toSeq
      val check = Check.crawl(frontier, output, oracle(), store.commits.size)
      val latest = store.latest.get
      val (_, stateBytes) = Disk.usage(
        (latest.tables.values.flatMap(_.values) ++ latest.appended.values.flatten)
          .toSeq.map(new File(_)))
      val deferred =
        if (!traced) 0L
        else engine.lineageNow.groupBy("cycle").agg(max("deferred_polite"))
          .as[(Long, Long)].collect().map(_._2).sum
      val sketch = if (!traced) None else Some(sketchProbe(engine, frontier.size, tr))
      tr.close()
      Crawl((t1 - t0) / 1e9, taskSecs, traceSecs, rss,
        frontier.count(r => r.status == Status.Completed || r.status == Status.WithError),
        bounds.sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toSeq,
        stateBytes, frontier.size, check, tr, store, (dms0, dms1), deferred, sketch)
    }
  }

  /** (build seconds, false-positive share): the seen-sketch the engine keeps
    * over its frontier, built over the final frontier at the engine's own
    * sizing, probed with URLs that were never enqueued. */
  private def sketchProbe(engine: CrawlEngine, rows: Long, tr: Trace): (Double, Double) = {
    val items = math.max(rows * 4, 1L << 20)
    val t0 = System.nanoTime()
    val sk = tr.span("SeenSketch.build")(
      SeenSketch.build(engine.frontierNow, "url", engine.config.seenSketch, items, 0.01))
    val secs = (System.nanoTime() - t0) / 1e9
    val probes = 200000
    val hits = (0 until probes).count(i => sk.mightContain(s"http://probe$i.invalid/never$i"))
    (secs, hits.toDouble / probes)
  }
}
