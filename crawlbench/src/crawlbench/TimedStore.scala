package crawlbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.plans.{Snapshot, SnapshotStore}

/**
 * A [[SnapshotStore]] that delegates to the engine's real store and records
 * what the crawl loop does through it. Each `commit` is the end of a
 * micro-cycle (the one eager call the store receives), so its end times are
 * the cycle boundaries; reads are counted, and under tracing every call is a
 * span of its own and each commit's new data files are measured on disk.
 */
final class TimedStore(inner: SnapshotStore, root: String, trace: Trace)
    extends SnapshotStore {
  final case class Commit(endNanos: Long, secs: Double, metrics: Map[String, Double],
      files: Int, bytes: Long)

  val commits = mutable.ArrayBuffer.empty[Commit]
  var reads = 0
  /** Time spent measuring commits on disk: tracing's cost to the crawl. */
  var traceNanos = 0L
  /** Calls are recorded only while live (the benchmark turns it on for
    * `drive`, so seeding's commit is not a cycle). */
  var live = false

  def latestVersion: Option[Long] = inner.latestVersion
  def readSnapshot(version: Long): Snapshot = inner.readSnapshot(version)

  def readTable(snap: Snapshot, table: String): Option[DataFrame] =
    read(inner.readTable(snap, table))
  def readTableBuckets(snap: Snapshot, table: String, buckets: Set[Int]): Option[DataFrame] =
    read(inner.readTableBuckets(snap, table, buckets))
  def readAppended(snap: Snapshot, table: String): Option[DataFrame] =
    read(inner.readAppended(snap, table))

  private def read(f: => Option[DataFrame]): Option[DataFrame] =
    if (!live) f else trace.span("SnapTable.read") { reads += 1; f }

  def commit(cycle: Long, fullTables: Map[String, DataFrame],
      cowTables: Map[String, (DataFrame, String, Set[Int])],
      appends: Map[String, DataFrame], metrics: Map[String, Double]): Snapshot =
    if (!live) inner.commit(cycle, fullTables, cowTables, appends, metrics)
    else trace.span("SnapTable.commit") {
      val t0 = System.nanoTime()
      val s = inner.commit(cycle, fullTables, cowTables, appends, metrics)
      val t1 = System.nanoTime()
      val (files, bytes) =
        if (!trace.traced) (0, 0L)
        else Disk.usage(new File(s"$root/data").listFiles().toSeq
          .map(t => new File(t, s"v${s.version}")))
      traceNanos += System.nanoTime() - t1
      commits += Commit(t1, (t1 - t0) / 1e9, metrics, files, bytes)
      s
    }
}

object Disk {
  /** (regular files, bytes) under the given paths; missing paths count 0. */
  def usage(paths: Seq[File]): (Int, Long) = {
    var files = 0
    var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { files += 1; bytes += f.length() }
    paths.foreach(walk)
    (files, bytes)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
