package graft.seen

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Partitioned bloom-filter URL-seen set (north-star R7; SURVEY.md §2.K).
  *
  * The reference realizes "seen" as queue-key uniqueness enforced by the DB
  * (`SqlQueueTaskProvider.scala:59-77`). At 10^10 URLs a single filter
  * doesn't fit one task's memory and a naive `df.stat.bloomFilter` pulls the
  * build to the driver, so the seen set is SHARDED: key k lives in shard
  * `pmod(xxhash64(k), nShards)`; shards build in parallel (one
  * `mapPartitions` per shard group after a hash repartition) and probe via a
  * broadcast of all shard bytes.
  *
  * Membership semantics: bloom is a PRE-FILTER only — `probe` keeps every
  * true member (no false negatives, asserted in BloomShardsSpec) and the
  * caller confirms survivors with an exact anti-join (C2), so the URL-seen
  * set stays exact while the anti-join's shuffle input drops by the filter's
  * ~99% rejection rate.
  */
object BloomShards {

  final case class Shards(nShards: Int, bytes: Array[Array[Byte]]) extends Serializable {
    @transient lazy val filters: Array[BloomFilter] =
      bytes.map(b => BloomFilter.readFrom(new ByteArrayInputStream(b)))
    def mightContain(key: String): Boolean = {
      val s = graft.core.Det.pmod(graft.core.Det.xxhash64(key), nShards.toLong).toInt
      filters(s).mightContainString(key)
    }
  }

  /** Build shards from a string-key column of `df`, distributed: shuffle
    * keys to their shard partition, build one filter per partition, collect
    * only the (small) filter bytes. */
  def build(df: DataFrame, keyCol: String, nShards: Int,
            expectedPerShard: Long = 1L << 16, fpp: Double = 0.01): Shards = {
    val spark = df.sparkSession
    import spark.implicits._
    // keys are canonicalized to string so build-side shard routing
    // (Spark xxhash64 over the string) and probe-side Det.xxhash64 agree —
    // hashing the native type here would route a bigint to a different
    // shard than its string form probes (no-false-negative invariant!)
    val built = df
      .select(col(keyCol).cast("string").as("k"))
      .where(col("k").isNotNull)
      .withColumn("shard", pmod(xxhash64(col("k")), lit(nShards.toLong)).cast("int"))
      .repartition(nShards, col("shard"))
      .select(col("shard"), col("k"))
      .as[(Int, String)]
      .mapPartitions { it =>
        val byShard = scala.collection.mutable.Map.empty[Int, BloomFilter]
        it.foreach { case (s, k) =>
          byShard.getOrElseUpdate(s, BloomFilter.create(expectedPerShard, fpp)).putString(k)
        }
        byShard.iterator.map { case (s, f) =>
          val bos = new ByteArrayOutputStream(); f.writeTo(bos); (s, bos.toByteArray)
        }
      }
      .collect()
    val arr = Array.fill[Array[Byte]](nShards) {
      val bos = new ByteArrayOutputStream()
      BloomFilter.create(1, fpp).writeTo(bos); bos.toByteArray
    }
    // a shard may be split across partitions only if the shuffle placed two
    // groups together — merge via mergeInPlace for safety
    val merged = scala.collection.mutable.Map.empty[Int, BloomFilter]
    built.foreach { case (s, b) =>
      val f = BloomFilter.readFrom(new ByteArrayInputStream(b))
      merged.get(s) match {
        case Some(m) => m.mergeInPlace(f)
        case None => merged(s) = f
      }
    }
    merged.foreach { case (s, f) =>
      val bos = new ByteArrayOutputStream(); f.writeTo(bos); arr(s) = bos.toByteArray
    }
    Shards(nShards, arr)
  }

  /** An always-empty shard set (bootstrap). */
  def empty(nShards: Int, expectedPerShard: Long = 1L << 12, fpp: Double = 0.01): Shards = {
    val bytes = Array.fill[Array[Byte]](nShards) {
      val bos = new ByteArrayOutputStream()
      BloomFilter.create(math.max(expectedPerShard, 1L), fpp).writeTo(bos)
      bos.toByteArray
    }
    Shards(nShards, bytes)
  }

  /** Shards → (shard, bytes) rows for snapshot persistence. */
  def toDF(spark: SparkSession, shards: Shards): DataFrame = {
    import spark.implicits._
    shards.bytes.zipWithIndex.map { case (b, i) => (i, b) }.toSeq.toDF("shard", "bytes")
  }

  /** (shard, bytes) rows → Shards. Validates that shard ids are exactly
    * 0..n-1 with non-null bytes: a partially-written or duplicated shard
    * row would otherwise silently change the probe modulus and break the
    * no-false-negative invariant (round-1 ADVICE). ALWAYS pass
    * `expectedShards` when restoring persisted shards whose intended count
    * you know (e.g. from a manifest): without it, a snapshot truncated to
    * a smaller-but-contiguous prefix would pass the 0..n-1 check yet probe
    * with the wrong modulus. The engine path doesn't use this bridge — it
    * keeps shards as a Dataset and pins the count via the snapshot
    * manifest (CrawlEngine's seenShards guard). */
  def fromDF(df: DataFrame, expectedShards: Option[Int] = None): Shards = {
    val rows = df.select(col("shard"), col("bytes")).collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1))
    val n = rows.length
    expectedShards.foreach(e => require(n == e,
      s"seen-shard snapshot has $n rows, manifest says $e — refusing a wrong probe modulus"))
    require(rows.map(_._1).sorted.sameElements(0 until n),
      s"seen-shard ids are not exactly 0..${n - 1}: ${rows.map(_._1).sorted.mkString(",")}")
    require(rows.forall(_._2 != null), "seen-shard snapshot contains null filter bytes")
    val arr = new Array[Array[Byte]](n)
    rows.foreach { case (i, b) => arr(i) = b }
    Shards(n, arr)
  }

  /** Merge a set of new string keys into existing shards, distributed: new
    * keys shuffle to their shard partition, each partition deserializes
    * ONE old shard, inserts, re-serializes. Untouched shards pass through.
    * Per-round cost ∝ new keys, never ∝ seen-set size. */
  def update(old: Shards, newKeys: DataFrame, keyCol: String): Shards = {
    val spark = newKeys.sparkSession
    import spark.implicits._
    val oldB = spark.sparkContext.broadcast(old)
    val touched = newKeys
      .select(col(keyCol).cast("string").as("k"))
      .where(col("k").isNotNull)
      .withColumn("shard", pmod(xxhash64(col("k")), lit(old.nShards.toLong)).cast("int"))
      .repartition(old.nShards, col("shard"))
      .select(col("shard"), col("k"))
      .as[(Int, String)]
      .mapPartitions { it =>
        val byShard = scala.collection.mutable.Map.empty[Int, BloomFilter]
        it.foreach { case (s, k) =>
          byShard.getOrElseUpdate(s,
            BloomFilter.readFrom(new ByteArrayInputStream(oldB.value.bytes(s)))).putString(k)
        }
        byShard.iterator.map { case (s, f) =>
          val bos = new ByteArrayOutputStream(); f.writeTo(bos); (s, bos.toByteArray)
        }
      }
      .collect()
    val arr = old.bytes.clone()
    // defensive: merge if a shard's keys were split across partitions
    val seen = scala.collection.mutable.Map.empty[Int, BloomFilter]
    touched.foreach { case (s, b) =>
      val f = BloomFilter.readFrom(new ByteArrayInputStream(b))
      seen.get(s) match {
        case Some(m) => m.mergeInPlace(f)
        case None => seen(s) = f
      }
    }
    // shards updated on two different partitions would each start from the
    // OLD bytes; mergeInPlace of bloom bitsets is a union, and both contain
    // the old bits, so the merge is still exact
    seen.foreach { case (s, f) =>
      val bos = new ByteArrayOutputStream(); f.writeTo(bos); arr(s) = bos.toByteArray
    }
    Shards(old.nShards, arr)
  }

  /** Probe column: true iff `key` MIGHT be in the seen set.
    *
    * The shard bytes ride the UDF closure, NOT an explicit broadcast: a
    * Column has no lifecycle seam where library code could `destroy()` a
    * broadcast after the caller's action, so an explicit one leaks — one
    * orphan per call (round-2 VERDICT). Spark ships the task binary (and
    * with it this closure) as its own internally-managed torrent broadcast
    * and the ContextCleaner reclaims it when the query's RDDs are GC'd, so
    * repeated calls accumulate nothing. Operator-path shard sets are small
    * (the 10^10-scale path is [[probeFlagsDf]], where bytes stay a
    * Dataset); BloomShardsSpec pins the no-new-user-broadcast behavior. */
  def probeCol(spark: SparkSession, shards: Shards, key: Column): Column = {
    val probeUdf = udf((k: String) => k != null && shards.mightContain(k))
    probeUdf(key.cast("string"))
  }

  // ------------------------------------------------------------------
  // Fully-distributed shard lifecycle (engine path). The driver-side
  // Shards object above is fine for operator-sized seen sets; at the
  // north-rule scale (10^10 URLs ⇒ ~12 GB of filter bytes at 1% FPP) the
  // whole set must NEVER be resident on the driver or broadcast per round.
  // Here shards stay a (shard, bytes) Dataset end to end: keys shuffle to
  // their shard's partition and meet the filter bytes in a cogroup, so
  // per-round network cost is ∝ keys probed/inserted + touched shard
  // bytes — never ∝ total seen-set size, and driver memory is O(1).
  // ------------------------------------------------------------------

  private def withShard(df: DataFrame, keyCol: String, nShards: Int) =
    df.select(col(keyCol).cast("string").as("k"))
      .where(col("k").isNotNull)
      .withColumn("shard", pmod(xxhash64(col("k")), lit(nShards.toLong)).cast("int"))

  /** All-empty shard table, built distributed (one row per shard id).
    * Besides the filter bytes each row carries `inserts` — the cumulative
    * number of keys ever inserted into the shard (duplicates included:
    * it's a cheap upper bound on distinct insertions). A bloom filter
    * sized for `expectedPerShard` keys degrades its FPP silently past that
    * capacity (still CORRECT — bloom is a pre-filter, the exact anti-join
    * confirms — but the anti-join traffic grows), so the counter is the
    * saturation signal [[saturationDf]] and the engine's manifest warning
    * read. */
  def emptyDf(spark: SparkSession, nShards: Int,
              expectedPerShard: Long = 1L << 16, fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    spark.range(nShards).as[Long].map { s =>
      val bos = new ByteArrayOutputStream()
      BloomFilter.create(math.max(expectedPerShard, 1L), fpp).writeTo(bos)
      (s.toInt, bos.toByteArray, 0L)
    }.toDF("shard", "bytes", "inserts")
  }

  /** Shard rows with the optional `inserts` counter normalized in: legacy
    * snapshots (pre-round-4) lack the column — their counts restart at 0,
    * making `inserts` a lower bound there (documented; the signal is a
    * heuristic, membership stays exact either way). */
  private def withInserts(shards: DataFrame): DataFrame =
    if (shards.columns.contains("inserts"))
      shards.select(col("shard").cast("int"), col("bytes"),
        coalesce(col("inserts").cast("long"), lit(0L)).as("inserts"))
    else shards.select(col("shard").cast("int"), col("bytes"), lit(0L).as("inserts"))

  /** Saturation report: (shard, inserts, capacity, fillRatio) per shard.
    * fillRatio ≥ 1.0 means the shard has absorbed more keys than its
    * filter was sized for — FPP is now worse than configured and the
    * remedy is a rebuild ([[buildDf]]) with a larger `expectedPerShard`. */
  def saturationDf(shards: DataFrame, expectedPerShard: Long): DataFrame =
    withInserts(shards).select(col("shard"), col("inserts"),
      lit(expectedPerShard).as("capacity"),
      (col("inserts").cast("double") / lit(math.max(expectedPerShard, 1L).toDouble))
        .as("fillRatio"))

  /** Insert `newKeys` into a shard Dataset: keys shuffle to their shard,
    * each touched shard deserializes once, inserts its keys, re-serializes;
    * untouched shards pass through byte-for-byte (the cogroup is full-outer
    * on shard id). Throws if a key's shard row is missing — a truncated
    * snapshot must never silently shrink the probe modulus. */
  def updateDf(shards: DataFrame, newKeys: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val keysKV = withShard(newKeys, keyCol, nShards)
      .as[(String, Int)].groupByKey(_._2)
    val shardsKV = withInserts(shards)
      .as[(Int, Array[Byte], Long)].groupByKey(_._1)
    shardsKV.cogroup(keysKV) { (sid, bs, ks) =>
      val existing = bs.toList
      if (existing.isEmpty)
        throw new IllegalStateException(s"seen-shard $sid missing from snapshot")
      if (existing.sizeIs > 1)
        throw new IllegalStateException(s"seen-shard $sid duplicated in snapshot")
      if (ks.isEmpty) Iterator.single(existing.head)
      else {
        val f = BloomFilter.readFrom(new ByteArrayInputStream(existing.head._2))
        var n = 0L
        ks.foreach { case (k, _) => f.putString(k); n += 1 }
        val bos = new ByteArrayOutputStream(); f.writeTo(bos)
        Iterator.single((sid, bos.toByteArray, existing.head._3 + n))
      }
    }.toDF("shard", "bytes", "inserts")
  }

  /** Like [[updateDf]] but emits ONLY the shards that received at least
    * one new key — the delta-commit write set (round-2 scale-killer A: a
    * full rewrite of every shard's bytes per round is ~12 GB of parquet at
    * 10^10 URLs @1% FPP no matter how few shards changed). Untouched
    * shards are neither read nor rewritten; the snapshot layer merges
    * keep-latest-by-shard over base..v on read, so the probe modulus never
    * shrinks (a missing shard row still fails loudly at merge time via
    * [[updateDf]]/[[probeFlagsDf]] existence checks). */
  def updateTouchedDf(shards: DataFrame, newKeys: DataFrame, keyCol: String,
                      nShards: Int): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val keysKV = withShard(newKeys, keyCol, nShards)
      .as[(String, Int)].groupByKey(_._2)
    val shardsKV = withInserts(shards)
      .as[(Int, Array[Byte], Long)].groupByKey(_._1)
    shardsKV.cogroup(keysKV) { (sid, bs, ks) =>
      if (ks.isEmpty) Iterator.empty // untouched: pass-through is implicit in merge-on-read
      else {
        val existing = bs.toList
        if (existing.isEmpty)
          throw new IllegalStateException(s"seen-shard $sid missing from snapshot")
        if (existing.sizeIs > 1)
          throw new IllegalStateException(s"seen-shard $sid duplicated in snapshot")
        val f = BloomFilter.readFrom(new ByteArrayInputStream(existing.head._2))
        var n = 0L
        ks.foreach { case (k, _) => f.putString(k); n += 1 }
        val bos = new ByteArrayOutputStream(); f.writeTo(bos)
        Iterator.single((sid, bos.toByteArray, existing.head._3 + n))
      }
    }.toDF("shard", "bytes", "inserts")
  }

  /** Build a shard Dataset from scratch over a key column. */
  def buildDf(keys: DataFrame, keyCol: String, nShards: Int,
              expectedPerShard: Long = 1L << 16, fpp: Double = 0.01): DataFrame =
    updateDf(emptyDf(keys.sparkSession, nShards, expectedPerShard, fpp),
      keys, keyCol, nShards)

  /** Distributed probe: every row of `rows` plus a boolean `maybe`, true
    * iff its `keyCol` MIGHT be in the seen set (false for a null key).
    * Rows shuffle to their key's shard and meet the filter bytes in a
    * cogroup — each group deserializes its filter once and streams its
    * rows through it — so a caller that needs the rest of the row does not
    * join (key, flag) pairs back onto it. */
  def probeFlagsDf(rows: DataFrame, keyCol: String, shards: DataFrame, nShards: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.BooleanType
    val spark = shards.sparkSession
    import spark.implicits._
    val width = rows.schema.length
    val rowsKV = rows
      .withColumn("__k", col(keyCol).cast("string"))
      .withColumn("__shard", pmod(xxhash64(col("__k")), lit(nShards.toLong)).cast("int"))
      .groupByKey((r: Row) => r.getInt(width + 1))
    val shardsKV = shards.select(col("shard").cast("int"), col("bytes"))
      .as[(Int, Array[Byte])].groupByKey(_._1)
    shardsKV.cogroup(rowsKV) { (sid, bs, rs) =>
      if (rs.isEmpty) Iterator.empty
      else {
        val existing = bs.map(_._2).toList
        if (existing.isEmpty)
          throw new IllegalStateException(s"seen-shard $sid missing from snapshot")
        val f = BloomFilter.readFrom(new ByteArrayInputStream(existing.head))
        rs.map { r =>
          val k = r.getString(width)
          Row.fromSeq(r.toSeq.take(width) :+ (k != null && f.mightContainString(k)))
        }
      }
    }(Encoders.row(rows.schema.add("maybe", BooleanType, nullable = false)))
  }

  /** The full exact-seen pattern: rows of `candidates` whose `keyCol` is NOT
    * in `seen` — bloom pre-filter kills the bulk, exact anti-join confirms.
    * Result is identical to a plain anti-join (bloom has no false
    * negatives); only the shuffle volume changes. */
  def notSeen(candidates: DataFrame, seen: DataFrame, keyCol: String, nShards: Int = 16): DataFrame = {
    val spark = candidates.sparkSession
    val shards = build(seen, keyCol, nShards)
    // no persist: the two branches of the union share the candidate
    // subplan's exchanges (ReuseExchange); only the narrow probe re-runs,
    // and library code must not leak caches past return (round-1 ADVICE)
    val withFlag = candidates
      .withColumn("__maybe", probeCol(spark, shards, col(keyCol)))
    // definite-new rows skip the join entirely; only possible members are
    // confirmed by the exact anti-join (bloom FP safety)
    val sure = withFlag.filter(not(col("__maybe"))).drop("__maybe")
    val check = withFlag.filter(col("__maybe")).drop("__maybe")
      .join(seen.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    sure.unionByName(check)
  }
}
