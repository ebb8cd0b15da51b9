package graft.round

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.CrawlConfig
import graft.corpus.{CorpusGen, CorpusTable}
import graft.frontier.SnapshotStore

/** Fault injection into a real crawl's commit: the seen-shard write, which
  * runs as a concurrent commit unit beside the frontier/hosts/results
  * writes, fails mid-commit. The round must not seal, and a resumed crawl
  * must equal an uninterrupted one. */
class CommitFaultSpec extends AnyFunSuite with SparkSpec {

  private val spec = CorpusGen.Spec()
  private val cfg = CrawlConfig(hostBudgetPerRound = 2, roundBudget = 12, maxRounds = 6,
    frontierLayout = "delta", corpusStaging = "bucketed", seenFilter = true, seenShards = 4)

  private def fetches(dir: String): Seq[(Int, Int, String, String)] =
    new SnapshotStore(dir, spark).allResults().get
      .select("round", "seq", "urlNorm", "outcome").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Cancels every job of a query started from `SnapshotStore.writeSeen`
    * while armed, so that unit's write throws inside the commit. */
  private final class FailSeenWrite extends SparkListener {
    @volatile var armed = true
    val cancelled = new java.util.concurrent.atomic.AtomicInteger()
    private val seenQueries = mutable.Set.empty[Long]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: SparkListenerSQLExecutionStart if q.details.contains("SnapshotStore.writeSeen") =>
        seenQueries += q.executionId
      case _ =>
    }
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val query = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      if (armed && query.exists(seenQueries.contains)) {
        cancelled.incrementAndGet()
        spark.sparkContext.cancelJob(js.jobId)
      }
    }
  }

  test("a concurrent commit unit that throws leaves no manifest; the resumed crawl is identical") {
    val clean = Files.createTempDirectory("graft-fault-clean").toString
    val faulty = Files.createTempDirectory("graft-fault-resumed").toString
    val corpus = CorpusTable.create(spark, spec)
    CrawlEngine.crawl(spark, new SnapshotStore(clean, spark), corpus, CorpusGen.seeds(spec), cfg)

    CrawlEngine.crawl(spark, new SnapshotStore(faulty, spark), corpus, CorpusGen.seeds(spec),
      cfg.copy(maxRounds = 2))
    val store = new SnapshotStore(faulty, spark)
    val before = store.latestVersion.get
    val fault = new FailSeenWrite
    spark.sparkContext.addSparkListener(fault)
    try {
      intercept[Exception] {
        CrawlEngine.crawl(spark, new SnapshotStore(faulty, spark), corpus, CorpusGen.seeds(spec), cfg)
      }
    } finally {
      fault.armed = false
      spark.sparkContext.removeSparkListener(fault)
    }
    assert(fault.cancelled.get > 0, "the seen-shard write never ran")
    val k = before + 1
    assert(store.latestVersion.contains(before), s"round $k sealed despite a failed unit")
    assert(!Files.exists(Paths.get(s"$faulty/manifest-$k.json")))
    // whether the sibling writes completed depends on which unit first
    // computed the round's shared caches (a cancelled unit can take them
    // down too); that every unit is awaited is pinned in SnapshotStoreSpec

    CrawlEngine.crawl(spark, new SnapshotStore(faulty, spark), corpus, CorpusGen.seeds(spec), cfg)
    assert(fetches(faulty) == fetches(clean))
    def finalFrontier(dir: String) = {
      val st = new SnapshotStore(dir, spark)
      st.readFrontier(st.latestVersion.get).select("id", "urlNorm", "status", "attempt")
        .collect().map(_.toSeq.mkString("|")).toSet
    }
    assert(finalFrontier(faulty) == finalFrontier(clean))
  }
}
