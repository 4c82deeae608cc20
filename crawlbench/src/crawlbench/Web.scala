package crawlbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.image.ImageCodec
import graft.model.CrawlConfig

/**
 * The benchmark's inputs: the deterministic [[Corpus]] web with every host
 * name renamed by a seed-chosen suffix (`h12.test` becomes `h12.sXXXX.test`
 * in the url, host, body and redirect_to columns, robots rows included).
 * Renaming moves hosts between hash buckets and changes hash order while
 * the web's shape (pages, links, statuses) stays the same. Seed 0 keeps the
 * original names.
 */
object Web {
  def suffix(seed: Long): String =
    if (seed == 0) ""
    else ".s" + java.lang.Long.toString(
      math.floorMod(ImageCodec.mix64(seed ^ 0x5eedL), 1679616L) + 1679616L, 36).drop(1)

  private val HostPattern = "(h[0-9]+)\\.test"

  def rename(c: Column, sfx: String): Column =
    if (sfx.isEmpty) c else regexp_replace(c, HostPattern, "$1" + sfx + ".test")

  def hostName(i: Int, seed: Long): String =
    Corpus.hostName(i).replaceAll(HostPattern, "$1" + suffix(seed) + ".test")

  /** pages(url, host, status, content_type, body, image_id, redirect_to). */
  def pages(spark: SparkSession, spec: Corpus.WebSpec, seed: Long): DataFrame = {
    val sfx = suffix(seed)
    Corpus.pages(spark, spec).toDF().select(
      rename(col("url"), sfx).as("url"), rename(col("host"), sfx).as("host"),
      col("status"), col("content_type"), rename(col("body"), sfx).as("body"),
      col("image_id"), rename(col("redirect_to"), sfx).as("redirect_to"))
  }

  def images(spark: SparkSession, spec: Corpus.WebSpec): DataFrame =
    Corpus.images(spark, spec).toDF()
}

/** One crawl shape: every page of the web seeded at depth 0, then
  * `maxCycles` micro-cycles. */
final case class Workload(name: String, hosts: Int, pages: Int, config: CrawlConfig,
    maxCycles: Int) {
  def spec: Corpus.WebSpec = Corpus.WebSpec(hosts, pages)
}

object Workload {
  // Both shapes stop after two cycles: the first fetches every host's
  // robots.txt (all pages wait for it), the second fetches pages.
  val all: Map[String, Workload] = Seq(
    // politeness-bounded: at most 10 fetches per host per cycle
    Workload("polite", 256, 6400, CrawlConfig(hostBudget = 10, maxDepth = 2), maxCycles = 2),
    // every page fetched in one wave; at this size the wave adds a few
    // seconds to a cycle's fixed cost (CrawlEngine.page_cycle_s against
    // robots_cycle_s), so it is not yet bound by data volume
    Workload("mega", 256, 50000, CrawlConfig(hostBudget = Int.MaxValue / 2, maxDepth = 2),
      maxCycles = 2)
  ).map(w => w.name -> w).toMap
}
