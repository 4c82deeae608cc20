package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Fixtures
import graft.driver.CrawlEngine
import graft.model.{CrawlConfig, ImageRow, PageRow}

/**
 * The engine plans its own jobs statically: every call that runs crawl jobs
 * runs with adaptive query execution off and hands the caller's setting
 * back, the commit's pool-thread writes run in the caller's job group, and
 * `drive` and `resume` share one cycle loop.
 */
class StaticPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val sc = spark.sparkContext
  private val Aqe = "spark.sql.adaptive.enabled"
  private val NoGroup = "<none>"

  private def engine(pages: Seq[PageRow], cfg: CrawlConfig, dir: String,
      images: Seq[ImageRow] = Nil): CrawlEngine =
    new CrawlEngine(spark, cfg, spark.createDataset(pages).toDF(),
      spark.createDataset(images).toDF(), dir)

  private def callerAqe: Option[String] = spark.conf.getAll.get(Aqe)

  private def setAqe(v: Option[String]): Unit = v match {
    case Some(s) => spark.conf.set(Aqe, s)
    case None => spark.conf.unset(Aqe)
  }

  /** The Spark job group of every job `f` runs, in submission order. */
  private def jobGroups(f: => Unit): Seq[String] = {
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.put(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(NoGroup))
    }
    sc.addSparkListener(listener)
    try {
      f
      // the bus delivers a listener's events in order: once a marker job
      // (run from its own thread, so the caller's group stays as it was)
      // has been seen, so has every job `f` ran
      val marker = s"marker-${System.nanoTime()}"
      val t = new Thread(() => {
        sc.setJobGroup(marker, marker)
        sc.parallelize(Seq(1), 1).count(): Unit
      })
      t.start(); t.join()
      val out = ArrayBuffer.empty[String]
      var g = seen.poll(2, TimeUnit.MINUTES)
      while (g != marker) {
        assert(g != null, "listener events did not arrive")
        out += g
        g = seen.poll(2, TimeUnit.MINUTES)
      }
      out.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("engine calls plan with AQE off and restore the caller's setting, also when a cycle throws") {
    val saved = callerAqe
    try for (setting <- Seq(Some("true"), Some("false"), None)) {
      setAqe(setting)
      val dir = Files.createTempDirectory("graft-aqe").toString
      val e = engine(Fixtures.site3, CrawlConfig(), dir)
      e.init(Fixtures.site3Seeds)
      assert(callerAqe === setting, "after initSeeds")
      e.runCycle(1)
      assert(callerAqe === setting, "after runGroup")
      e.addSeeds(Seq("http://host0.test/stuff"))
      assert(callerAqe === setting, "after addSeeds")
      e.prepareResume()
      assert(callerAqe === setting, "after prepareResume")
      var inCycle = Option.empty[String]
      val failing = engine(Fixtures.site3, CrawlConfig(fetcher = Some { _ =>
        inCycle = Some(spark.conf.get(Aqe))
        sys.error("fetch failed")
      }), dir)
      val err = intercept[RuntimeException](failing.resume())
      assert(err.getMessage === "fetch failed")
      assert(inCycle === Some("false"), s"the cycle must plan with AQE off (caller: $setting)")
      assert(callerAqe === setting, "after a cycle that threw")
    } finally setAqe(saved)
  }

  test("commit writes run in the caller's job group, not the pool thread's") {
    val dir = Files.createTempDirectory("graft-jobgroup").toString
    val e = engine(Fixtures.site3, CrawlConfig(), dir, Fixtures.imagesFor(Fixtures.site3))
    e.init(Fixtures.site3Seeds)
    try {
      // pool threads created now inherit a group unrelated to the cycle's
      import scala.concurrent.ExecutionContext.Implicits.global
      sc.setJobGroup("stale", "stale")
      Await.result(Future.sequence((1 to 16).map(_ => Future(Thread.sleep(20)))),
        Duration(1, "minute"))
      sc.setJobGroup("cycle", "cycle")
      val groups = jobGroups((1L to 2L).foreach(e.runCycle))
      assert(groups.nonEmpty)
      assert(groups.forall(_ == "cycle"), s"job groups seen: ${groups.distinct}")
    } finally sc.clearJobGroup()
  }

  test("site3 jobs per runGroup stay at or below the static-plan counts") {
    val dir = Files.createTempDirectory("graft-jobs").toString
    val e = engine(Fixtures.site3, CrawlConfig(), dir, Fixtures.imagesFor(Fixtures.site3))
    e.init(Fixtures.site3Seeds)
    val counts = ArrayBuffer.empty[Int]
    var cycle = 1L
    var going = true
    while (going) {
      var progressed, pending = 0L
      counts += jobGroups {
        val (_, p, q) = e.runCycle(cycle)
        progressed = p; pending = q
      }.size
      going = progressed > 0 && pending > 0
      cycle += 1
    }
    info(s"jobs per runGroup: ${counts.mkString(", ")}")
    assert(e.visited.count() === 3)
    // robots cycle, the seed page's cycle, its two children's cycle
    val measured = Seq(16, 19, 18)
    assert(counts.size === measured.size)
    counts.zip(measured).foreach { case (got, max) =>
      assert(got <= max, s"jobs per runGroup ${counts.mkString(", ")} over ${measured.mkString(", ")}")
    }
  }

  test("drive and resume share one cycle loop: resume(1) after drive(1) commits one cycle") {
    val dir = Files.createTempDirectory("graft-loop").toString
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5)
    val e1 = engine(Fixtures.hotHost, cfg, dir)
    e1.init(Fixtures.hotHostSeeds)
    val driven = e1.drive(1)
    assert(driven.cycle === 1L)
    val resumed = engine(Fixtures.hotHost, cfg, dir).resume(1)
    assert(resumed.cycle === driven.cycle + 1)
    assert(resumed.version === driven.version + 1)
  }
}
