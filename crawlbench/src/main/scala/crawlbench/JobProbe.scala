package crawlbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The benchmark's SparkListener. Always on: stage-total counters (executor
  * CPU, output bytes, shuffle bytes, spill) and the peak of cached RDD block
  * bytes. Traced runs also attribute every job to a layer of the crawl path
  * and keep each job's (start, end) so driver gaps can be measured.
  *
  * All callbacks run on Spark's single listener-bus thread. The benchmark
  * reads the counters only after `GraftSparkAccess.drainListenerBus`, which
  * gives the happens-before edge. */
final class JobProbe(traced: Boolean) extends SparkListener {
  import JobProbe._

  final class Totals {
    var jobs = 0L
    var cpuNs = 0L
    var outBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      cpuNs += m.executorCpuTime
      outBytes += m.outputMetrics.bytesWritten
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  @volatile private var all = new Totals
  // (completion time ms, executor CPU ns) of every stage counted
  private var stageCpu = mutable.ArrayBuffer.empty[(Long, Long)]
  private var byLayer = mutable.Map.empty[String, Totals]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val execCallSite = mutable.Map.empty[Long, String]
  private var jobRecs = mutable.ArrayBuffer.empty[JobRec]
  private val jobIndex = mutable.Map.empty[Int, JobRec]
  // cached RDD blocks currently stored (memory + disk bytes) and their peak
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  // set at the end of a measured window: later jobs (checks, reads) count
  // nowhere until the next reset
  @volatile private var frozen = false

  /** Stop counting. Call only after draining the listener bus. */
  def freeze(): Unit = frozen = true

  /** Zero every counter and start counting. Call only after draining the
    * listener bus. */
  def reset(): Unit = {
    frozen = false
    all = new Totals
    stageCpu = mutable.ArrayBuffer.empty
    byLayer = mutable.Map.empty
    jobRecs = mutable.ArrayBuffer.empty
    jobIndex.clear()
    cachedPeak = cachedNow
  }

  def totals: Totals = all
  def stageCpuTimes: Vector[(Long, Long)] = stageCpu.toVector
  def layerTotals(layer: String): Totals = byLayer.getOrElse(layer, new Totals)
  def jobs: Seq[JobRec] = jobRecs.toSeq
  def cachePeakBytes: Long = cachedPeak

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if traced => execCallSite(e.executionId) = e.details
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (!frozen) {
    all.jobs += 1
    if (traced) {
      // the job's own call site is that of its final stage; jobs submitted
      // off the query thread (AQE query stages, broadcasts) carry no graft
      // frame there, so fall back to the SQL execution that owns them
      val own = js.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val exec = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execCallSite.get(id.toLong)).getOrElse("")
      val (layer, frame) = attribute(own).orElse(attribute(exec)).getOrElse((Unattributed, ""))
      val rec = JobRec(js.jobId, layer, frame, js.time, -1L)
      jobRecs += rec
      jobIndex(js.jobId) = rec
      byLayer.getOrElseUpdate(layer, new Totals).jobs += 1
      js.stageIds.foreach(s => if (!stageLayer.contains(s)) stageLayer(s) = layer)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    if (traced) jobIndex.get(je.jobId).foreach(_.endMs = je.time)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val m = sc.stageInfo.taskMetrics
    if (m != null && !frozen) {
      all.add(m)
      stageCpu += ((sc.stageInfo.completionTime.getOrElse(System.currentTimeMillis()),
        m.executorCpuTime))
      if (traced)
        byLayer.getOrElseUpdate(stageLayer.getOrElse(sc.stageInfo.stageId, Unattributed),
          new Totals).add(m)
    }
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = {
    val info = bu.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      cachedNow -= blocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        blocks(key) = size
        cachedNow += size
      } else blocks.remove(key)
      if (!frozen) cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }
}

object JobProbe {
  /** One job: its layer, the frame that decided it, and its interval. */
  final case class JobRec(id: Int, layer: String, frame: String, startMs: Long, var endMs: Long)

  val Unattributed = "spark.unattributed"
  val Layers: Seq[String] = Seq("round", "frontier", "seen", "functions", "corpus")

  private val FrameRe = """^\s*(?:at\s+)?(graft\.[\w$.]+)\(([^)]*)\)""".r
  // Two entry points sit in another layer's file: corpus staging lives in
  // CrawlEngine but belongs to the corpus layer, and the seen shards are
  // persisted through SnapshotStore but belong to the seen layer. Either
  // entry anywhere on the graft part of the stack decides the layer.
  private val CorpusEntry = """graft\.round\.CrawlEngine\$\.(corpusStagedBucketed|corpusStaged|stagedRobotsRules|hostRules)""".r
  private val SeenEntry = """graft\.frontier\.SnapshotStore\.(writeSeen|readSeen|hasSeen)""".r

  /** (layer, deciding frame) for a long call site: a corpus or seen entry
    * point anywhere on its graft frames, else the package of the first
    * `graft.*` frame. None when the stack holds no graft frame. */
  def attribute(callSite: String): Option[(String, String)] = {
    val frames = callSite.linesIterator.collect {
      case FrameRe(method, file) => (method, s"$method($file)")
    }.toVector
    frames.collectFirst {
      case (CorpusEntry(_), f) => ("corpus", f)
      case (SeenEntry(_), f) => ("seen", f)
    }.orElse(frames.headOption.map { case (m, f) => (layerOf(m), f) })
  }

  def layerOf(method: String): String = method.split('.') match {
    case Array("graft", pkg, _*) if Layers.contains(pkg) => pkg
    case _ => Unattributed
  }
}
