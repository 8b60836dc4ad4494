package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch ingest stage: feed snapshots -> typed news rows, deduplicated
  * against the processed-ID state (SURVEY.md §2.1-2.2, S1-S5/T1-T3).
  *
  * The reference fetches RSS over HTTP and parses with feedparser
  * (collector.py:86); here the network boundary is externalized — a
  * fetcher drops feed snapshots as JSON lines into a directory, and
  * ingest reads them with the declared schema (no inference: schema
  * drift should fail loudly, and on a cluster inference would cost an
  * extra pass over the input).
  */
object Ingest {

  /** Read feed-entry snapshots (JSON lines) with the fixed schema.
    * DROPMALFORMED: a corrupt line must not become an all-null row — a
    * null guid can never match the state anti-join, so it would be
    * re-ingested on EVERY run (found by probing; the reference's
    * feedparser path simply skips unparseable entries). */
  def readFeedSnapshots(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schemas.feedEntry)
      .option("mode", "DROPMALFORMED")
      .json(dir)

  /** Feed entries -> news rows (collector.py:96-111): RFC-1123 timestamp
    * parse (collector.py:65-72), guid -> id, per-feed literal category
    * (collector.py:110). Spark 4's datetime parser can't PARSE a
    * day-of-week field ('E' is format-only), so the "Mon, " prefix is
    * stripped first — it's redundant with the date anyway. Day pattern is
    * 'd' (1-2 digits): real feeds emit both "5 Mar" and "05 Mar", and the
    * strict parser's 'dd' would null out — and thus silently drop — the
    * single-digit form. */
  def toNews(entries: DataFrame): DataFrame =
    entries.select(
      col("title"),
      parsePublished(col("published")).as("published_time"),
      col("description"),
      col("link"),
      col("guid").as("id"),
      col("media_thumbnail").as("thumbnail_url"),
      col("feed").as("category"))
      // enforce the declared non-nullable key/time columns: a null id
      // breaks dedup (see readFeedSnapshots), a null event time breaks
      // the streaming watermark
      .filter(col("id").isNotNull && col("published_time").isNotNull)

  /** RFC-822 `published` parse, shared by [[toNews]] and the quality
    * metrics (which min/max over the PARSED time — lexicographic bounds
    * over the raw string would order by weekday name).
    *
    * RFC 822 allows a zone NAME ("GMT") or a NUMERIC offset ("+0000");
    * java-time 'z' only parses names, so try both forms — and use
    * try_to_timestamp so an unparseable date degrades to null (a dropped
    * row in toNews) instead of failing the job under ANSI mode. */
  def parsePublished(c: Column): Column = {
    val stripped = regexp_replace(c, "^[A-Za-z]{3}, ", "")
    coalesce(
      try_to_timestamp(stripped, lit("d MMM yyyy HH:mm:ss zzz")),
      try_to_timestamp(stripped, lit("d MMM yyyy HH:mm:ss Z")),
      // RFC 822 allows omitting :ss ("14:30 GMT") — real feeds do
      try_to_timestamp(stripped, lit("d MMM yyyy HH:mm zzz")),
      try_to_timestamp(stripped, lit("d MMM yyyy HH:mm Z")))
  }

  /** Drop entries whose id is already in state — the reference's
    * processed-GUID check (collector.py:87-89) as a left-anti join.
    * At scale the state side is a table partitioned on id; the anti-join
    * shuffles both sides on id (or broadcasts state while it is small). */
  def newEntries(news: DataFrame, state: DataFrame): DataFrame =
    news.join(state, Seq("id"), "left_anti")

  /** Load the state table, or an empty one on first run
    * (collector.py:49-55's missing-file branch). */
  def loadState(spark: SparkSession, sink: TableSink): DataFrame =
    if (sink.exists(spark, "state")) sink.read(spark, "state")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.state)
}
