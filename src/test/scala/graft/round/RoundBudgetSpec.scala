package graft.round

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.CrawlConfig
import graft.corpus.{CorpusGen, CorpusTable}
import graft.frontier.SnapshotStore

/** Per-round job budget of the shipped configuration (delta layout,
  * bucketed corpus staging, bloom seen filter): one leasing delta round at
  * test scale, counted by a SparkListener. The bound is the count measured
  * when the one-scan state reads landed; a change that needs more jobs per
  * round must show why, not raise the bound. */
class RoundBudgetSpec extends AnyFunSuite with SparkSpec {

  /** Jobs one delta round may run (measured: 43 on local[4] with 4 shuffle
    * partitions; the same round ran 64, 12 of them schema inference, when
    * every state part was read on its own). */
  private val JobBudget = 43

  test("a delta round stays within its job budget and runs no schema-inference job") {
    val dir = Files.createTempDirectory("graft-budget").toString
    val spec = CorpusGen.Spec()
    val corpus = CorpusTable.create(spark, spec)
    // zero politeness: every round leases, so the measured round is never
    // an empty tick jump
    val cfg = CrawlConfig(hostBudgetPerRound = 2, roundBudget = 12, maxRounds = 3,
      politenessCenterTicks = 0, politenessRadiusTicks = 0,
      frontierLayout = "delta", corpusStaging = "bucketed", seenFilter = true, seenShards = 4)
    val store = new SnapshotStore(dir, spark)
    CrawlEngine.crawl(spark, store, corpus, CorpusGen.seeds(spec), cfg)
    val version = store.latestVersion.get
    assert(version == 3, s"set-up crawl should commit 3 rounds, committed $version")
    val meta = store.readMeta(version)
    // the crawl's own inputs, warmed outside the window as a running
    // crawl has them: the staged corpus and the cached robots rules
    val corpusN = CrawlEngine.corpusStagedBucketed(spark, corpus, dir)
    val rulesDf = CrawlEngine.stagedRobotsRules(spark, dir).flatten.map(_.persist())
    rulesDf.foreach(_.count())

    // per job: the query that ran it and that query's call site (AQE
    // stage jobs carry no site of their own), and the job's own long site
    final case class Job(query: String, site: String, longSite: String)
    val jobs = mutable.ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      private val querySite = mutable.Map.empty[Long, String]
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart => querySite(q.executionId) = q.description
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val own = js.stageInfos.sortBy(_.stageId).lastOption
        val query = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobs += Job(query.fold("-")(_.toString),
          query.flatMap(querySite.get).orElse(own.map(_.name)).getOrElse("?"),
          own.map(_.details).getOrElse(""))
      }
    }
    org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try {
        val o = CrawlEngine.runRound(spark, store, corpusN, rulesDf, cfg, version,
          meta("nextRound").toInt, meta("nextId").toLong)
        org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
        o
      } finally spark.sparkContext.removeSparkListener(listener)
    rulesDf.foreach(_.unpersist(blocking = true))

    assert(out.exists(_.selectedCount > 0), "the measured round leased nothing")
    assert(store.readMeta(version + 1)("frontierFormat") == "delta",
      "the measured round must be a delta commit")
    // jobs per query, in the order the queries ran
    val byQuery = jobs.groupBy(j => (j.query, j.site)).toSeq
      .sortBy { case (_, js) => jobs.indexOf(js.head) }
      .map { case ((q, site), js) => s"${js.size} × $site (query $q)" }.mkString("\n  ")
    // a read's schema-inference job; a write's job is "parquet at" too
    val inference = jobs.filter(j =>
      j.site.startsWith("parquet at SnapshotStore") && j.longSite.contains("DataFrameReader"))
    assert(inference.isEmpty,
      s"${inference.size} schema-inference jobs in the round:\n  $byQuery")
    assert(jobs.size <= JobBudget,
      s"${jobs.size} jobs in one delta round (budget $JobBudget):\n  $byQuery")
  }
}
