package crawlbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftSparkAccess
import org.apache.spark.sql.SparkSession
import graft.core.CrawlConfig
import graft.frontier.SnapshotStore

/** What every workload gets: the session, the probe, the trace and a
  * private directory under the run's work dir. */
final case class Ctx(spark: SparkSession, probe: JobProbe, trace: Trace, work: Path,
                     seed: Long, traced: Boolean) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
  def drain(): Unit = GraftSparkAccess.drainListenerBus(spark.sparkContext)
  /** Drain, then zero the probe: nothing queued before this point counts. */
  def resetCounters(): Unit = { drain(); probe.reset() }
  def log(msg: String): Unit = {
    val up = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[crawlbench $up%6.1f s] $msg")
  }
}

/** The listener totals over one measured window, read after a drain:
  * output bytes, the cache peak and each stage's (completion ms, CPU ns). */
final case class Window(outBytes: Long, cachePeakBytes: Long, stageCpu: Vector[(Long, Long)]) {
  /** Executor CPU seconds of the stages that completed in (fromMs, toMs]. */
  def cpuSecondsBetween(fromMs: Long, toMs: Long): Double =
    stageCpu.iterator.filter(s => s._1 > fromMs && s._1 <= toMs).map(_._2).sum / 1e9
}

/** One committed manifest: version, seal time (manifest mtime, epoch ns)
  * and its keys. */
final case class Commit(v: Int, sealNs: Long, meta: Map[String, String]) {
  def round: Int = meta("round").toInt
  def selected: Long = meta("selected").toLong
}

/** The result line: every metric of the run's mode, plus the counts of
  * checked operations and of those that failed. */
final case class Outcome(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)],
                         notes: Seq[String] = Nil)

object Common {

  /** The shipped configuration, set explicitly (not through env knobs, not
    * through defaults that may change): delta frontier layout, bucketed
    * on-disk corpus staging, bloom seen filter. */
  def shipped(cfg: CrawlConfig): CrawlConfig =
    cfg.copy(frontierLayout = "delta", corpusStaging = "bucketed", seenFilter = true)

  def nowNs: Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }

  /** Run `f` as a measured window: counters zeroed before, read after. */
  def measure[T](ctx: Ctx)(f: => T): (T, Window) = {
    ctx.resetCounters()
    val out = f
    ctx.drain()
    ctx.probe.freeze()
    val t = ctx.probe.totals
    (out, Window(t.outBytes, ctx.probe.cachePeakBytes, ctx.probe.stageCpuTimes))
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Committed manifests with version in (after, upTo], oldest first. */
  def commits(store: SnapshotStore, after: Int, upTo: Int = Int.MaxValue): Vector[Commit] = {
    val latest = store.latestVersion.getOrElse(-1)
    ((after + 1) to math.min(latest, upTo)).flatMap { v =>
      val p = Paths.get(store.baseDir, s"manifest-$v.json")
      if (!Files.exists(p)) None
      else Some(Commit(v,
        Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS),
        store.readMeta(v)))
    }.toVector
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def parquetFiles(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0
    else Files.list(p).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
