package graft.frontier

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Snapshot-layer unit contract: manifest escaping, orphan robustness
  * (round-3 VERDICT wrong #2 + ADVICE), the single-scan merge-on-read
  * reader against the per-part union it replaced, and commit failure
  * semantics. */
class SnapshotStoreSpec extends AnyFunSuite with SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-store-$tag").toString

  private def df2(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("manifest round-trips keys/values with quotes, backslashes and newlines") {
    val store = new SnapshotStore(tmp("esc"), spark)
    val nasty = Map(
      "nextRound" -> "0", "nextId" -> "1",
      """resource.used.px-"q"""" -> "3",
      "resource" -> "a\\b\nc\t\"d\"",
      "plain" -> "value")
    store.commit(0, df2(Seq(1L -> "a")), df2(Nil), None, nasty)
    val back = store.readMeta(0)
    nasty.foreach { case (k, v) =>
      assert(back.get(k).contains(v), s"key $k: got ${back.get(k)}, want $v")
    }
    assert(back("version") == "0" && back("hasResults") == "false")
  }

  test("allResults survives a truncated part file in a crash-orphaned results dir") {
    val dir = tmp("orphan")
    val store = new SnapshotStore(dir, spark)
    store.commit(0, df2(Seq(1L -> "a")), df2(Nil), Some(df2(Seq(10L -> "r0"))),
      Map("nextRound" -> "0", "nextId" -> "1"))
    store.commit(1, df2(Seq(1L -> "a")), df2(Nil), Some(df2(Seq(11L -> "r1"))),
      Map("nextRound" -> "1", "nextId" -> "1"))
    // crash artifact: an UNCOMMITTED results/v=2 with a truncated part file.
    // Reading the results ROOT let parquet schema inference sample it and
    // fail until manually cleaned; listing only committed dirs must not.
    val orphan = Paths.get(s"$dir/results/v=2")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-00000-trunc.snappy.parquet"),
      "PAR1 this is not a parquet file".getBytes("UTF-8"))
    val all = store.allResults().get.collect().map(_.getLong(0)).sorted
    assert(all.toSeq == Seq(10L, 11L))
  }

  // ---- single-scan reader ≡ the K-way per-part union it replaced ----

  /** The reader the single scan replaced: one inferred read per part
    * base..v, `__v` a literal, unioned by name (missing columns null),
    * newest row per key kept. */
  private def perPartMerge(baseDir: String, table: String, key: String, vs: Seq[Int]): DataFrame =
    vs.map(k => spark.read.parquet(s"$baseDir/v=$k/$table").withColumn("__v", lit(k)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .withColumn("__rn", row_number().over(Window.partitionBy(col(key)).orderBy(col("__v").desc)))
      .filter(col("__rn") === 1)
      .drop("__v", "__rn")

  private def assertSameTable(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType),
      s"schema: got ${got.schema.simpleString}, want ${want.schema.simpleString}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  /** Commit v with the delta layout over base 0 (v = 0 is the full base). */
  private def commitDelta(store: SnapshotStore, v: Int, frontier: DataFrame, hosts: DataFrame): Unit = {
    val fmt = if (v == 0) "full" else "delta"
    store.commit(v, frontier, hosts, None, Map("nextRound" -> v.toString, "nextId" -> "0",
      "frontierFormat" -> fmt, "frontierBase" -> "0", "hostsFormat" -> fmt, "hostsBase" -> "0"))
  }

  private def frontierRows(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("id", "urlNorm", "status")
  }

  private def hostRows(rows: Seq[(String, Long, Int)]) = {
    import spark.implicits._
    rows.toDF("host", "nextTick", "failCount")
  }

  private def assertMergedLikePerPart(dir: String, v: Int, vs: Seq[Int]): Unit = {
    val store = new SnapshotStore(dir, spark)
    assertSameTable(store.readFrontier(v), perPartMerge(dir, "frontier", "id", vs))
    assertSameTable(store.readHosts(v), perPartMerge(dir, "hosts", "host", vs))
  }

  test("single-scan reader: a column only later parts hold (source) null-fills earlier rows") {
    val dir = tmp("src-later")
    val store = new SnapshotStore(dir, spark)
    val h = hostRows(Seq(("a", 1L, 0)))
    commitDelta(store, 0, frontierRows(Seq((1L, "u1", "w"), (2L, "u2", "w"), (3L, "u3", "w"))), h)
    commitDelta(store, 1, frontierRows(Seq((1L, "u1", "f"))).withColumn("source", lit("text1")), h)
    commitDelta(store, 2, frontierRows(Seq((2L, "u2", "f"), (4L, "u4", "w")))
      .withColumn("source", lit(null).cast("string")), hostRows(Seq(("b", 3L, 1))))
    assertMergedLikePerPart(dir, 2, 0 to 2)
    assert(store.readFrontier(2).filter(col("id") === 1L).head().getAs[String]("source") == "text1")
    assert(store.sparseColumns("frontier", 2) == Set("source"))
    assert(store.sparseColumns("frontier", 0).isEmpty)
  }

  test("single-scan reader: pre-round-3 parts without projectId/taskType/failCount") {
    import spark.implicits._
    val dir = tmp("pre-r3")
    val store = new SnapshotStore(dir, spark)
    commitDelta(store, 0, frontierRows(Seq((1L, "u1", "w"), (2L, "u2", "w"))),
      Seq(("a", 1L)).toDF("host", "nextTick"))
    commitDelta(store, 1,
      frontierRows(Seq((2L, "u2", "f"), (5L, "u5", "w")))
        .withColumn("projectId", lit("p")).withColumn("taskType", lit("t")),
      hostRows(Seq(("a", 4L, 2), ("b", 2L, 0))))
    assertMergedLikePerPart(dir, 1, 0 to 1)
    assert(store.sparseColumns("frontier", 1) == Set("projectId", "taskType"))
    assert(store.sparseColumns("hosts", 1) == Set("failCount"))
  }

  test("single-scan reader: delta parts with zero rows or no data file at all") {
    val dir = tmp("empty-part")
    val store = new SnapshotStore(dir, spark)
    val h = hostRows(Seq(("a", 1L, 0)))
    commitDelta(store, 0, frontierRows(Seq((1L, "u1", "w"), (2L, "u2", "w"))), h)
    // v=1: a delta that touched nothing (Spark writes a schema-only file)
    commitDelta(store, 1, frontierRows(Nil), hostRows(Nil))
    commitDelta(store, 2, frontierRows(Seq((1L, "u1", "f"))), hostRows(Seq(("a", 5L, 1))))
    assertMergedLikePerPart(dir, 2, 0 to 2)
    // v=3: a delta part dir with no data file left (e.g. cleaned by hand):
    // it adds no rows. The per-part reader cannot read such a dir at all
    // (nothing to infer a schema from), so it is compared without it.
    commitDelta(store, 3, frontierRows(Seq((2L, "u2", "f"))), hostRows(Seq(("c", 2L, 0))))
    Seq("frontier", "hosts").foreach { t =>
      Files.list(Paths.get(s"$dir/v=3/$t")).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).foreach(Files.delete)
    }
    intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(s"$dir/v=3/frontier"))
    assertMergedLikePerPart(dir, 3, 0 to 2)
  }

  test("single-scan reader: a base dir that itself contains /v=<n>/") {
    val root = tmp("nested")
    val dir = s"$root/v=7/state"
    val store = new SnapshotStore(dir, spark)
    commitDelta(store, 0, frontierRows(Seq((1L, "u1", "w"), (2L, "u2", "w"))), hostRows(Seq(("a", 1L, 0))))
    commitDelta(store, 1, frontierRows(Seq((1L, "u1", "x"))), hostRows(Seq(("a", 2L, 0))))
    commitDelta(store, 2, frontierRows(Seq((1L, "u1", "f"))), hostRows(Seq(("a", 3L, 1))))
    assertMergedLikePerPart(dir, 2, 0 to 2)
    assert(store.readFrontier(2).filter(col("id") === 1L).head().getAs[String]("status") == "f")
  }

  test("single-scan reader: an orphan v=latest+1 dir is never read") {
    val dir = tmp("orphan-part")
    val store = new SnapshotStore(dir, spark)
    commitDelta(store, 0, frontierRows(Seq((1L, "u1", "w"))), hostRows(Seq(("a", 1L, 0))))
    commitDelta(store, 1, frontierRows(Seq((2L, "u2", "w"))), hostRows(Seq(("b", 1L, 0))))
    // crash artifact: v=2 data written, manifest never sealed — one part
    // holds a newer row for id 1, the other a truncated file
    frontierRows(Seq((1L, "u1", "orphan"))).write.parquet(s"$dir/v=2/frontier")
    Files.createDirectories(Paths.get(s"$dir/v=2/hosts"))
    Files.write(Paths.get(s"$dir/v=2/hosts/part-00000-trunc.snappy.parquet"),
      "PAR1 this is not a parquet file".getBytes("UTF-8"))
    assert(store.latestVersion.contains(1))
    assertMergedLikePerPart(dir, 1, 0 to 1)
    assert(!store.readFrontier(1).collect().exists(_.getAs[String]("status") == "orphan"))
  }

  // ---- commit failure semantics ----

  test("a failing concurrent unit fails the commit only after every unit finished; no manifest") {
    val dir = tmp("unit-fail")
    val store = new SnapshotStore(dir, spark)
    store.commit(0, df2(Seq(1L -> "a")), df2(Nil), None, Map("nextRound" -> "0", "nextId" -> "1"))
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      store.commit(1, df2(Seq(1L -> "b")), df2(Nil), Some(df2(Seq(7L -> "r"))),
        Map("nextRound" -> "1", "nextId" -> "1"),
        concurrent = Seq(
          () => throw new IllegalStateException("injected unit failure"),
          () => { Thread.sleep(1500); slowDone.set(true) },
          () => throw new IllegalStateException("second failure")))
    }
    assert(ex.getMessage == "injected unit failure", "the first failure in unit order is rethrown")
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("second failure"))
    assert(slowDone.get, "the commit rethrew before a sibling unit finished")
    // the table writes ran to completion; only the seal is missing
    Seq("v=1/frontier", "v=1/hosts", "results/v=1")
      .foreach(d => assert(Files.exists(Paths.get(s"$dir/$d/_SUCCESS")), d))
    assert(!Files.exists(Paths.get(s"$dir/manifest-1.json")))
    assert(store.latestVersion.contains(0))
  }
}
