package crawlbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{CrawlConfig, Outcome => FetchOutcome}
import graft.corpus.{CorpusGen, CorpusTable}
import graft.frontier.SnapshotStore
import graft.round.CrawlEngine
import graft.sim.ReferenceSimulator

/** A workload: seeded set-up (four times, median of the last three
  * reported), a measured `CrawlEngine.crawl` call on the shipped
  * configuration, then the output check and the metrics of the run's mode. */
trait Workload {
  def run(ctx: Ctx, seconds: Int): Outcome
}

object Workloads {
  import Common._

  val all: Map[String, Workload] = Map(
    "bulk_lease" -> BulkLease, "polite_discovery" -> PoliteDiscovery)

  /** Commits the measured crawl makes: about `seconds` of crawling at a
    * nominal 7 s per commit (a 4-core box), at least three (the resume and
    * two commit intervals). A fixed count, not a wall-clock stop, so every
    * run of a seed does the same work. */
  def commitsFor(seconds: Int): Int = math.max(3, math.ceil(seconds / 7.0).toInt)

  /** One set-up: the seeded corpus written as a parquet table, staged
    * bucketed in the state dir, and the v0 frontier committed. */
  final case class Prepared(base: String, corpusPath: String, store: SnapshotStore,
                            generateS: Double, stageS: Double, bootstrapS: Double) {
    def stateDir: String = store.baseDir
    def stageBytes: Long = dirBytes(s"$stateDir/corpus_bucketed")
    def setupS: Double = generateS + stageS + bootstrapS
  }

  def prepare(ctx: Ctx, base: String, cfg: CrawlConfig, seeds: => Seq[(String, Int)])
             (write: String => Unit): Prepared = {
    val spark = ctx.spark
    deleteTree(base)
    val corpusPath = s"$base/corpus"
    val (_, genS) = timed(ctx.trace("corpus.generate")(write(corpusPath)))
    val corpus = spark.read.parquet(corpusPath)
    val store = new SnapshotStore(s"$base/state", spark)
    val (corpusN, stageS) = timed(ctx.trace("corpus.stage") {
      CrawlEngine.corpusStagedBucketed(spark, corpus, store.baseDir)
    })
    val (_, bootS) = timed(ctx.trace("round.bootstrap") {
      val rules = CrawlEngine.stagedRobotsRules(spark, store.baseDir).flatten
      CrawlEngine.bootstrap(spark, store, corpusN, rules, seeds, cfg)
    })
    Prepared(base, corpusPath, store, genS, stageS, bootS)
  }

  /** Set up four times in fresh dirs and keep the last. The first set-up
    * runs cold: it warms JIT for the set-up code and Spark's own and is
    * not counted; `setup_s` is the median of the other three. */
  def prepareReps(ctx: Ctx, name: String)(one: String => Prepared): (Prepared, Seq[Prepared]) = {
    val all = (0 to 3).map { i =>
      val p = ctx.trace(if (i == 0) "warmup" else "setup")(one(ctx.dir(s"$name-setup$i")))
      ctx.log(f"$name set-up $i: generate ${p.generateS}%.2f s, stage ${p.stageS}%.2f s, " +
        f"bootstrap ${p.bootstrapS}%.2f s")
      if (i < 3) deleteTree(p.base)
      p
    }
    (all.last, all.tail)
  }

  def setupTimes(reps: Seq[Prepared]): Layers.SetupTimes =
    Layers.SetupTimes(median(reps.map(_.generateS)), median(reps.map(_.stageS)),
      reps.last.stageBytes)

  /** Enter `crawl` on an existing state dir; the commits it sealed. */
  def crawlCall(ctx: Ctx, p: Prepared, cfg: CrawlConfig): Layers.Call = {
    val before = p.store.latestVersion.get
    val entry = nowNs
    ctx.trace("round.crawl") {
      CrawlEngine.crawl(ctx.spark, p.store, ctx.spark.read.parquet(p.corpusPath), Nil, cfg)
    }
    val call = Layers.Call(entry, commits(p.store, before))
    ctx.log(f"crawl call: ${call.commits.size} commits, ${call.commits.map(_.selected).sum} " +
      f"fetches, ${(nowNs - entry) / 1e9}%.2f s")
    call
  }

  /** Bytes of crawl state on disk (snapshots, results, manifests), without
    * the staged corpus. */
  def stateBytes(stateDir: String): Long =
    dirBytes(stateDir) - dirBytes(s"$stateDir/corpus_bucketed") - dirBytes(s"$stateDir/robots_rules")

  /** End-to-end metrics of the measured crawl call. */
  def endToEnd(setupS: Double, call: Layers.Call, w: Window, store: SnapshotStore)
      : (Seq[(String, Double, String)], String) = {
    val commits = call.commits
    require(commits.size >= 2, s"the measured crawl sealed ${commits.size} commits, not 2+")
    val fetches = commits.map(_.selected).sum.toDouble
    // intervals between successive commits; the first commit also pays the
    // resume (crawl entry) and is reported as resume_s
    val intervals = commits.zip(commits.tail).map { case (a, b) => (b.sealNs - a.sealNs) / 1e9 }
    val frontierRows = store.readFrontier(commits.last.v).count().toDouble
    // the rounds after the first commit: fetches, wall time, executor CPU
    val measured = commits.tail.map(_.selected).sum.toDouble
    val measuredCpuS = w.cpuSecondsBetween(commits.head.sealNs / 1000000L,
      commits.last.sealNs / 1000000L)
    (Seq(
      ("setup_s", setupS, "s"),
      ("crawl_urls_per_s", measured / intervals.sum, "urls/s"),
      ("urls_per_cpu_s", measured / measuredCpuS, "urls/cpu-s"),
      ("round_s.p50", median(intervals), "s"),
      ("resume_s", (commits.head.sealNs - call.entryNs) / 1e9, "s"),
      ("write_bytes_per_url", w.outBytes / fetches, "B/url"),
      ("state_bytes_per_url", stateBytes(store.baseDir) / frontierRows, "B/url"),
      ("cache_peak_mb", w.cachePeakBytes / 1e6, "MB")),
      s"round_s.p50 is the median of ${intervals.size} commit intervals: " +
        intervals.map(i => f"$i%.2f").mkString(", "))
  }

  /** The bulk seed list: every corpus url at priority 0, in page order. */
  def bulkSeeds(ctx: Ctx, corpusPath: String): Seq[(String, Int)] =
    ctx.spark.read.parquet(corpusPath).select("url").collect().map(_.getString(0))
      .sortBy(u => u.substring(u.lastIndexOf("/p") + 2).toLong).map(_ -> 0).toSeq

  def prepareBulk(ctx: Ctx, base: String, cfg: CrawlConfig, pages: Long, nHosts: Int): Prepared =
    prepare(ctx, base, cfg, bulkSeeds(ctx, s"$base/corpus")) { path =>
      BulkCorpus.generate(ctx.spark, pages, nHosts, ctx.seed).write.parquet(path)
    }

  /** The result of a run: its mode's metrics, the other mode's as a note. */
  def outcome(ctx: Ctx, attempted: Int, failed: Int, e2e: (Seq[(String, Double, String)], String),
              layer: => Seq[(String, Double, String)], notes: Seq[String]): Outcome =
    if (ctx.traced) Outcome(attempted, failed, layer,
      notes :+ e2e._2 :+ ("end-to-end under tracing: " +
        e2e._1.map { case (k, v, u) => f"$k=$v%.4g $u" }.mkString(", ")))
    else Outcome(attempted, failed, e2e._1, notes :+ e2e._2)

  /** Engine fetch records of committed versions 1..upTo, with `v`. */
  def fetchRows(ctx: Ctx, store: SnapshotStore, upTo: Int): DataFrame =
    ctx.spark.read.parquet((1 to upTo).map(v => s"${store.baseDir}/results/v=$v"): _*)
      .withColumn("v", regexp_extract(input_file_name(), "/results/v=(\\d+)/", 1).cast("int"))

  /** Success rows whose text differs from the corpus text column. */
  def textMismatches(ctx: Ctx, results: DataFrame, corpusPath: String): Long = {
    val corpus = ctx.spark.read.parquet(corpusPath)
      .select(graft.functions.expressions.UrlFunctions.urlNormalize(col("url")).as("urlNorm"),
        col("text"))
    results.filter(col("outcome") === FetchOutcome.Success)
      .join(corpus, Seq("urlNorm"), "left")
      .filter(col("text").isNull || col("extractedText").isNull ||
        col("text") =!= col("extractedText"))
      .count()
  }
}

/** Large leases on a bulk corpus: the whole corpus is the v0 frontier,
  * politeness 0, and the round budget (not the host cap) binds. */
object BulkLease extends Workload {
  import Common._
  import Workloads._

  val Hosts = 256
  val Budget = 8000

  def run(ctx: Ctx, seconds: Int): Outcome = {
    val rounds = commitsFor(seconds)
    // one lease more than the measured rounds, so every round fetches
    // corpus pages (discovered links enter behind them)
    val pages = (rounds + 1).toLong * Budget
    val cfg = shipped(CrawlConfig(
      hostBudgetPerRound = math.max(64, 2 * Budget / Hosts), roundBudget = Budget,
      politenessCenterTicks = 0, politenessRadiusTicks = 0, maxRounds = rounds,
      seenExpectedPerShard = math.max(1L << 16, 2L * pages / 16)))
    val (p, reps) = prepareReps(ctx, "bulk")(prepareBulk(ctx, _, cfg, pages, Hosts))
    val (call, w) = measure(ctx)(crawlCall(ctx, p, cfg))
    val e2e = endToEnd(median(reps.map(_.setupS)), call, w, p.store)
    lazy val layer = Layers.metrics(ctx, call, p.store, p.corpusPath,
      cfg.seenExpectedPerShard, setupTimes(reps))

    // output check: per round, selected = outcome rows = Σ outcome.*, no
    // url fetched more than maxAttempts times, Success text = corpus text
    val results = fetchRows(ctx, p.store, call.commits.last.v).cache()
    val rowsByV = results.groupBy("v").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val badRounds = call.commits.filter { c =>
      val outcomeSum = c.meta.collect { case (k, v) if k.startsWith("outcome.") => v.toLong }.sum
      rowsByV.getOrElse(c.v, 0L) != c.selected || outcomeSum != c.selected
    }
    val overFetched = results.groupBy("urlNorm").count()
      .filter(col("count") > cfg.maxAttempts).count()
    val textBad = textMismatches(ctx, results, p.corpusPath)
    results.unpersist()
    val notes = badRounds.map(c => s"round v=${c.v}: selected ${c.selected} != outcome rows") ++
      (if (overFetched > 0) Seq(s"$overFetched urls fetched more than ${cfg.maxAttempts} times") else Nil) ++
      (if (textBad > 0) Seq(s"$textBad Success texts differ from the corpus") else Nil)
    val failed = math.min(call.commits.size,
      badRounds.size + (if (overFetched > 0) 1 else 0) + (if (textBad > 0) 1 else 0))
    outcome(ctx, call.commits.size, failed, e2e, layer, notes)
  }
}

/** Seeds-only crawl of a Zipf-host corpus with politeness ticks, robots.txt
  * and the failure taxonomy, checked against the reference simulator. */
object PoliteDiscovery extends Workload {
  import Common._
  import Workloads._

  def run(ctx: Ctx, seconds: Int): Outcome = {
    val spec = CorpusGen.Spec(nHosts = 48, pagesPerHost = 64, seed = ctx.seed)
    val simCorpus = CorpusGen.simCorpus(spec)
    val base = shipped(CrawlConfig(hostBudgetPerRound = 2, roundBudget = 16))
    // stop after the round of the n-th commit; the reference simulator
    // knows which rounds commit (the others are empty tick jumps)
    val fetchRounds = ReferenceSimulator.run(simCorpus, CorpusGen.seeds(spec),
      base.copy(maxRounds = 1 << 20)).fetches.map(_.round).distinct
    val cfg = base.copy(maxRounds = fetchRounds.take(commitsFor(seconds)).last + 1)
    val (p, reps) = prepareReps(ctx, "polite") { dir =>
      prepare(ctx, dir, cfg, CorpusGen.seeds(spec)) { path =>
        CorpusTable.write(ctx.spark, spec, path)
      }
    }
    val (call, w) = measure(ctx)(crawlCall(ctx, p, cfg))
    val e2e = endToEnd(median(reps.map(_.setupS)), call, w, p.store)
    lazy val layer = Layers.metrics(ctx, call, p.store, p.corpusPath,
      cfg.seenExpectedPerShard, setupTimes(reps))

    // output check: the (round, seq, urlNorm, outcome) sequence and the
    // final frontier equal the reference simulator's for the same rounds,
    // and Success text is byte-identical to the corpus text
    val sim = ReferenceSimulator.run(simCorpus, CorpusGen.seeds(spec), cfg)
    val engine = fetchRows(ctx, p.store, call.commits.last.v)
      .select("round", "seq", "urlNorm", "outcome", "extractedText").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), Option(r.getString(4))))
      .sortBy(t => (t._1, t._2)).toVector
    val engineByRound = engine.groupBy(_._1).map { case (r, xs) => r -> xs.map(t => (t._2, t._3, t._4)) }
    val simByRound = sim.fetches.groupBy(_.round).map { case (r, xs) =>
      r -> xs.map(f => (f.seq, f.urlNorm, f.outcome)) }
    val badRounds = (engineByRound.keySet ++ simByRound.keySet).toSeq.sorted
      .filter(r => engineByRound.get(r) != simByRound.get(r))
    val badText = engine.filter(t => t._4 == FetchOutcome.Success &&
      !simCorpus.get(t._3).map(_.text).contains(t._5.getOrElse("\u0000")))
    val engineFrontier = p.store.readFrontier(call.commits.last.v)
      .select("urlNorm", "status", "attempt", "id").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    val simFrontier = sim.frontier.map(e => e.urlNorm -> ((e.status, e.attempt, e.id))).toMap
    val frontierBad = engineFrontier != simFrontier
    val notes = badRounds.map(r => s"round $r diverges from the reference simulator") ++
      badText.map(t => s"Success text differs for ${t._3}") ++
      (if (frontierBad) Seq("final frontier differs from the reference simulator") else Nil)
    val failed = math.min(call.commits.size,
      badRounds.size + badText.map(_._1).distinct.size + (if (frontierBad) 1 else 0))
    outcome(ctx, call.commits.size, failed, e2e, layer, notes)
  }
}
