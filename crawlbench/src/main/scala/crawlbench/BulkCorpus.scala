package crawlbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded bulk corpus in the shape of `CorpusTable.createLarge` (url,
  * warc_ts, html, text, lang; 20% of pages on host0, the rest striped over
  * `nHosts`), generated distributed from `spark.range`. Unlike
  * createLarge it takes a seed, has page-sized bodies (152-296 words) and
  * links each page to itself (an already-seen url: a bloom "maybe" that the
  * exact anti-join drops) and to one url outside the corpus (a new link per
  * fetch). 1% of pages fail generically (retried up to maxAttempts). */
object BulkCorpus {
  val Words: Seq[String] = Seq("web", "crawl", "frontier", "spark", "parquet", "shard",
    "queue", "lease", "politeness", "robots", "anchor", "index", "page", "data",
    "graph", "link", "host", "fetch", "parse", "text")

  val SkewPct = 20

  def generate(spark: SparkSession, nPages: Long, nHosts: Int, seed: Long): DataFrame = {
    val words = array(Words.map(lit): _*)
    val h = when(pmod(xxhash64(col("id"), lit(seed)), lit(100)) < SkewPct, lit(0))
      .otherwise(pmod(col("id"), lit(nHosts.toLong)))
    // a seeded 8-word phrase repeated 19-37 times: 152-296 words per page
    val phrase = concat_ws(" ", (0 until 8).map(k =>
      element_at(words, (pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(Words.size)) + 1)
        .cast("int"))): _*)
    val reps = lit(19) + pmod(xxhash64(col("id"), lit(seed), lit("len")), lit(19)).cast("int")
    spark.range(nPages)
      .select(col("id"), h.as("h"))
      .select(
        col("id"),
        concat(lit("https://host"), col("h"), lit(".example/p"), col("id")).as("url"),
        timestamp_micros(lit(1767225600000000L) +
          pmod(xxhash64(col("id"), lit(seed), lit("ts")), lit(86400000L)) * 1000L).as("warc_ts"),
        rtrim(repeat(concat(phrase, lit(" ")), reps)).as("text"),
        when(pmod(xxhash64(col("id"), lit(seed), lit("gen")), lit(100)) === 0, lit("xx-gen"))
          .otherwise(element_at(array(lit("en"), lit("ru"), lit("de")),
            (pmod(col("id"), lit(3)) + 1).cast("int"))).as("lang"))
      .select(
        col("url"), col("warc_ts"),
        // HtmlCodec.synth layout; the words need no html escaping
        concat(lit("<html><head><title>p"), col("id"), lit("</title></head><body><article>"),
          col("text"), lit("</article><nav><a href=\"/p"), col("id"),
          lit("\">l</a><a href=\"/n"), col("id"), lit("\">l</a></nav></body></html>"))
          .cast("binary").as("html"),
        col("text"), col("lang"))
  }
}
