package crawlbench

import graft.model.Status
import graft.oracle.RefOracle

/**
 * Output correctness against [[RefOracle]]. One compared URL or output row
 * is one operation; any disagreement on it is one failed operation.
 */
object Check {
  final case class FrontierRow(url: String, depth: Int, status: String,
      reason: String, started: Long)
  final case class OutputRow(imageId: String, srcUrl: String, depth: Int,
      psnr: Double, captionOk: Boolean)
  final case class Result(attempted: Long, failed: Long) {
    def +(o: Result): Result = Result(attempted + o.attempted, failed + o.failed)
  }

  /** A crawl that throws fails every URL the oracle visits. */
  def thrown(oracle: RefOracle.Outcome): Result =
    Result(oracle.tasks.size, oracle.tasks.size)

  /** Completed URLs grouped by claim cycle, as a url -> layer-index map. */
  private def layers(frontier: Seq[FrontierRow]): Map[String, Int] = {
    val done = frontier.filter(_.status == Status.Completed)
    val order = done.map(_.started).distinct.sorted.zipWithIndex.toMap
    done.map(r => r.url -> order(r.started)).toMap
  }

  private def oracleLayers(o: RefOracle.Outcome, n: Int): Map[String, Int] =
    o.visitedByLayer.take(n).zipWithIndex.flatMap { case (us, i) => us.map(_ -> i) }.toMap

  /**
   * A crawl stopped after `cycles` micro-cycles (its cap), or finished. Each
   * URL is one operation, failed unless: it is in the frontier exactly when
   * the oracle has it by then (a seed, or a link found in one of the first
   * `cycles` cycles), it was completed in the same layer (claim cycle) as in
   * the oracle's first layers, it has the oracle's depth, and, once settled
   * (Completed or WithError), the oracle's status and reason. Each output row
   * is one operation, failed unless it is one of the oracle's images for
   * those layers, with PSNR >= 40 dB and an equal caption.
   */
  def crawl(frontier: Seq[FrontierRow], output: Seq[OutputRow],
      oracle: RefOracle.Outcome, cycles: Long): Result = {
    val lay = layers(frontier)
    val n = if (lay.isEmpty) oracle.visitedByLayer.size else lay.values.max + 1
    val want = oracleLayers(oracle, n)
    // the oracle numbers cycles from 1 and gives a link the cycle it was found in
    val due = oracle.tasks.values.filter(_.prio <= cycles).map(_.url).toSet
    val have = frontier.map(_.url).toSet
    def rowOk(r: FrontierRow) = oracle.tasks.get(r.url).exists { t =>
      val settled = r.status == Status.Completed || r.status == Status.WithError
      t.depth == r.depth &&
        (!settled || (t.status == r.status && Option(t.reason) == Option(r.reason)))
    }
    val urls = lay.keySet ++ want.keySet ++ due ++ have
    val badUrls = urls.filter(u => lay.get(u) != want.get(u) || due(u) != have(u)) ++
      frontier.filterNot(rowOk).map(_.url)
    val wantImages = oracle.outputImages.filter(o => want.contains(o._2)).toSet
    def key(r: OutputRow) = (r.imageId, r.srcUrl, r.depth)
    val gotImages = output.map(key).toSet
    val good = output.filter(r => r.psnr >= 40.0 && r.captionOk).map(key).toSet & wantImages
    // a duplicated output row is one failure per extra copy
    val images = (gotImages ++ wantImages).size + output.size - gotImages.size
    Result(urls.size + images, badUrls.size + images - good.size)
  }
}
