package crawlbench

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.frontier.SnapshotStore
import graft.functions.expressions.{ParseExpressions, UrlExpressions}
import graft.seen.BloomShards

/** Per-layer metrics of a traced run, derived from the probe's job
  * attribution over the measured window, the committed manifests and timed
  * calls into the layers' public entry points. */
object Layers {
  import Common._

  /** One `CrawlEngine.crawl` call inside the window: when it was entered
    * and the commits it sealed. */
  final case class Call(entryNs: Long, commits: Vector[Commit])

  /** Corpus set-up figures, medians over the run's set-up repetitions. */
  final case class SetupTimes(generateS: Double, stageS: Double, stageBytes: Long)

  def metrics(ctx: Ctx, call: Call, store: SnapshotStore, corpusPath: String,
              capacity: Long, setup: SetupTimes): Seq[(String, Double, String)] = {
    val probe = ctx.probe
    val stateDir = store.baseDir
    val commits = call.commits
    val n = math.max(commits.size, 1).toDouble
    val fetches = math.max(commits.map(_.selected).sum, 1L).toDouble
    def jobs(layer: String) = probe.layerTotals(layer).jobs / n
    val round = probe.layerTotals("round")
    val frontier = probe.layerTotals("frontier")
    val seen = probe.layerTotals("seen")
    val rankJobs = probe.jobs.count(j => j.layer == "round" && j.frame.contains("withGlobalSeq"))

    // wall time inside commit intervals with no Spark job running
    val jobSpans = probe.jobs.map(j => (j.startMs * 1000000L,
      (if (j.endMs < 0) j.startMs else j.endMs) * 1000000L)).sortBy(_._1)
    def covered(a: Long, b: Long): Long = {
      var total = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      jobSpans.foreach { case (s0, e0) =>
        val s = math.max(s0, a); val e = math.min(e0, b)
        if (e > s) {
          if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
          else curE = math.max(curE, e)
        }
      }
      total + math.max(0L, curE - curS)
    }
    val bounds = call.entryNs +: commits.map(_.sealNs)
    val gapNs = bounds.zip(bounds.tail).map { case (a, b) => (b - a) - covered(a, b) }.sum
    val emptyRounds = commits.zip(commits.tail).map { case (a, b) => b.round - a.round - 1 }.sum
    val filesWritten = commits.map { c =>
      parquetFiles(s"$stateDir/v=${c.v}/frontier") + parquetFiles(s"$stateDir/v=${c.v}/hosts") +
        parquetFiles(s"$stateDir/results/v=${c.v}")
    }.sum
    val fanin = commits.map(c => c.v - c.meta.getOrElse("frontierBase", c.v.toString).toInt)

    // timed reads of the latest merged state (listing + schema inference
    // are paid when the DataFrame is built)
    val latest = commits.last.v
    val readS = median((1 to 3).map(_ => ctx.trace("frontier.read") {
      timed { store.readFrontier(latest); store.readHosts(latest) }._2
    }))
    val fill = ctx.trace("seen.saturation") {
      BloomShards.saturationDf(store.readSeen(latest), capacity)
        .agg(max(col("fillRatio"))).head().getDouble(0)
    }
    val (parseNs, normNs) = ctx.trace("functions.kernels")(kernels(ctx, store, latest, corpusPath))
    Seq(
      ("round.jobs_per_commit", jobs("round"), "jobs"),
      ("round.rank_count_jobs_per_commit", rankJobs / n, "jobs"),
      ("round.driver_gap_s_per_commit", gapNs / 1e9 / n, "s"),
      ("round.empty_rounds", emptyRounds.toDouble, "rounds"),
      ("round.exec_cpu_s_per_url", round.cpuNs / 1e9 / fetches, "s/url"),
      ("round.shuffle_bytes_per_url", round.shuffleBytes / fetches, "B/url"),
      ("round.spill_bytes", round.spillBytes.toDouble, "B"),
      ("frontier.jobs_per_commit", jobs("frontier"), "jobs"),
      ("frontier.exec_cpu_s_per_commit", frontier.cpuNs / 1e9 / n, "s"),
      ("frontier.bytes_written_per_commit", frontier.outBytes / n, "B"),
      ("frontier.files_written_per_commit", filesWritten / n, "files"),
      ("frontier.merge_fanin", if (fanin.isEmpty) 0.0 else median(fanin.map(_.toDouble)), "versions"),
      ("frontier.read_call_s", readS, "s"),
      ("seen.jobs_per_commit", jobs("seen"), "jobs"),
      ("seen.exec_cpu_s_per_commit", seen.cpuNs / 1e9 / n, "s"),
      ("seen.bytes_written_per_commit", seen.outBytes / n, "B"),
      ("seen.fill_ratio", fill, "ratio"),
      ("functions.jobs_per_commit", jobs("functions"), "jobs"),
      ("functions.html_parse_ns_per_page", parseNs, "ns"),
      ("functions.url_normalize_ns_per_url", normNs, "ns"),
      ("corpus.jobs_per_commit", jobs("corpus"), "jobs"),
      ("corpus.generate_s", setup.generateS, "s"),
      ("corpus.stage_s", setup.stageS, "s"),
      ("corpus.stage_bytes", setup.stageBytes.toDouble, "B"),
      ("spark.unattributed_jobs_per_commit", jobs(JobProbe.Unattributed), "jobs"),
      ("spark.jobs_per_commit", probe.totals.jobs / n, "jobs"))
  }

  /** ns per call of the kernels behind `graft_html_parse` (over the
    * workload's own pages) and `graft_url_normalize` (over its frontier's
    * urls), single-threaded on the driver: the median of five passes. */
  private def kernels(ctx: Ctx, store: SnapshotStore, v: Int, corpusPath: String): (Double, Double) = {
    val pages = ctx.spark.read.parquet(corpusPath).select("html", "url").limit(2000).collect()
      .map(r => (UTF8String.fromBytes(r.getAs[Array[Byte]](0)),
        UTF8String.fromString(graft.core.UrlNormalizer.hostOf(r.getString(1)))))
    val urls = store.readFrontier(v).select("url").limit(4000).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    def nsPer(items: Int)(pass: => Unit): Double = {
      pass // warm
      median((1 to 5).map { _ =>
        var reps = 0
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 50000000L || reps == 0) { pass; reps += 1 }
        (System.nanoTime() - t0).toDouble / reps / math.max(items, 1)
      })
    }
    var sink = 0L
    val parse = nsPer(pages.length) {
      pages.foreach { case (h, host) => sink += ParseExpressions.parseHtml(h, host).numFields }
    }
    val norm = nsPer(urls.length) {
      urls.foreach { u => val x = UrlExpressions.normalizeOrNull(u); if (x != null) sink += 1 }
    }
    if (sink == 42) ctx.log("") // keep the results live
    (parse, norm)
  }
}
