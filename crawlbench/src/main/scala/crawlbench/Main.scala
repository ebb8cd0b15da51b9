package crawlbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Crawl benchmark entry point (started by run.py).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work-dir <dir> --out-dir <dir>
  *
  * Prints progress on stderr and, as the last line of stdout, one JSON
  * object: correct, attempted, failed and the metrics of the mode (the
  * end-to-end metrics untraced, the per-layer metrics traced). Exits 1
  * when the output check fails, 2 on bad arguments. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val name = opt("workload")
    val workload = Workloads.all.getOrElse(name, usage(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work-dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"crawlbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new JobProbe(traced)
    spark.sparkContext.addSparkListener(probe)
    val runId = s"$name-$seed-${if (traced) "traced" else "plain"}"
    val trace = new Trace(traced, runId)
    val ctx = Ctx(spark, probe, trace, work, seed, traced)

    ctx.log("session up")
    val result =
      try trace(s"workload.$name")(workload.run(ctx, seconds))
      finally spark.stop()
    ctx.log("done")
    trace.write(Paths.get(opt("out-dir"), s"trace-$runId.jsonl").toAbsolutePath)

    result.notes.foreach(n => println(s"# $n"))
    val bad = result.metrics.filterNot(m => java.lang.Double.isFinite(m._2))
    require(bad.isEmpty, s"metrics without a finite value: ${bad.map(_._1).mkString(", ")}")
    val metrics = result.metrics.map { case (k, v, u) =>
      s""""$k":{"value":${java.lang.Double.toString(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${result.failed == 0},"attempted":${result.attempted},""" +
      s""""failed":${result.failed},"metrics":{$metrics}}""")
    if (result.failed > 0) sys.exit(1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"crawlbench: $msg")
    System.err.println("usage: Main --workload <bulk_lease|polite_discovery> --seed <n> " +
      "--seconds <s> --trace <0|1> --work-dir <dir> --out-dir <dir>")
    sys.exit(2)
  }
}
