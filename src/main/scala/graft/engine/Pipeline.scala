package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

/** Batch end-to-end wiring (SURVEY.md §3.1): the reference's
  * `main.py` -> `process_feeds()` flow as one lazy Spark job graph.
  *
  * ingest -> anti-join state -> write raw -> curate -> write curated ->
  * analyze -> explode -> write actors, all through the TableSink.
  *
  * The reference executes the source graph twice (raw at collector.py:234,
  * curated at 235-236). Here the new rows of a batch are computed once:
  * ONE action caches them and returns the row count and the batch key
  * together, and then every write of the commit (raw, curated, actors,
  * state) reads that cache. The actor rows come from
  * [[Analyze.analyses]] with no join; the self-join in
  * [[Analyze.withAnalysis]] cost one more broadcast job per poll and
  * adds nothing here, since the batch holds each id once. Re-running
  * on the same snapshots appends nothing: the state anti-join (T1/T2)
  * makes the pipeline idempotent at the batch level.
  *
  * The writes are shaped from the materialized batch ([[writeShape]]):
  * raw, curated and state are written from the cache coalesced to
  * `ceil(cached bytes / 128 MiB)` partitions, so a poll lands one file
  * per table instead of one per cached partition. Actors keeps the
  * batch's partitioning: its analyzer runs in `mapPartitions` (an HTTP
  * or LLM client in a deployment), and a coalesce above it would cap
  * its request concurrency.
  */
object Pipeline {

  /** The write shape of a cached batch after the action that loaded it:
    * a coalesce to `ceil(cached bytes / target)` partitions
    * ([[VersionedParquetSink.sizedPartitions]] at the sink's write
    * target), never more than the cache holds. The size is the cache's
    * measured size, not a plan estimate. Only a fully loaded cache is
    * shaped: a coalesce is narrow, so above a partition that is not
    * cached yet it would compute that partition's upstream (the stateful
    * dedup, the ingest scan) in fewer tasks. Anything else writes
    * unshaped. */
  def writeShape(cached: DataFrame): DataFrame => DataFrame =
    cached.queryExecution.optimizedPlan match {
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        val n = VersionedParquetSink.sizedPartitions(r.stats.sizeInBytes,
          VersionedParquetSink.WriteTargetBytes,
          r.cacheBuilder.cachedColumnBuffers.getNumPartitions)
        _.coalesce(n)
      case _ => identity
    }

  case class Result(newArticles: Long,
      quality: Map[String, Any] = Map.empty)

  def run(spark: SparkSession, feedsDir: String, sink: TableSink,
      analyzer: Analyze.TextAnalyzer = Analyze.RuleBasedAnalyzer): Result = {
    // quality observes the RAW entries, BEFORE toNews filters null
    // ids/times away — observing after the filter would report
    // null_keys=0 forever, hiding exactly the feed regressions the
    // metric exists to surface (same placement as the streaming path)
    val (entries, obs) = Quality.observeIngest(
      Ingest.readFeedSnapshots(spark, feedsDir),
      keyCol = "guid", tsCol = "published",
      // min/max freshness over the PARSED time — the raw RFC-1123 string
      // starts with the weekday name, so its lexicographic bounds are
      // meaningless; null counters stay on the raw column
      tsRange = Some(Ingest.parsePublished(col("published"))))
    val news = Ingest.toNews(entries)
    val state = Ingest.loadState(spark, sink)
    // dropDuplicates(id): the SAME new guid can appear in two snapshot
    // files of one run (normal RSS-poll overlap) — the state anti-join
    // only removes PREVIOUSLY seen ids (streaming path handles this with
    // dropDuplicatesWithinWatermark)
    val fresh = Ingest.newEntries(news, state).dropDuplicates("id").cache()
    try {
      // ONE action before the commit: it materializes the cache, fires
      // the observe() accumulators (quality comes for free with it), and
      // returns both the empty-batch guard's row count and the batch key.
      // Content-derived batch key: a crash between the appends and the
      // state write re-runs the same logical batch (same fresh-id set ->
      // same key), and appendOnce makes the re-appends no-ops on a
      // versioned sink — exactly-once. On the plain parquet sink
      // appendOnce degrades to at-least-once (documented on the trait),
      // which matches the reference's own crash window
      // (collector.py:113-115 writes state after storing).
      // 60-bit md5-derived id-set digest (order-independent sum): crc32
      // sums collide at birthday-of-2^16 rates, enough to silently no-op
      // a real batch via appendOnce; md5 prefix sums push that to ~2^30
      val head = fresh.agg(count(lit(1)), sum(expr(
          "cast(conv(substr(md5(cast(id as binary)), 1, 15), 16, 10) as decimal(20,0))")))
        .head()
      val n = head.getLong(0)
      if (n == 0) return Result(0, obs.get) // T3 empty-batch short-circuit
      val batchKey = s"ingest-$n-${head.getDecimal(1)}"
      val curated = Curate(fresh)
      // the action above loaded every partition of the cache
      val shape = writeShape(fresh)
      // ONE cross-table commit for the whole batch: on the versioned
      // sink the four tables land all-or-none (a crash between table
      // writes can no longer leave raw ahead of curated), their writes
      // staged side by side and claimed in table order; on the plain
      // parquet sink this degrades to the per-table at-least-once the
      // reference itself has (collector.py:113-115)
      sink.multiAppendOnce(Seq(
        shape(fresh) -> "raw",
        shape(curated) -> "curated",
        Analyze.explodeActors(Analyze.analyses(spark, curated, analyzer))
          -> "actors",
        shape(fresh.select("id")) -> "state"), batchKey)
      Result(n, obs.get)
    } finally fresh.unpersist()
  }
}
