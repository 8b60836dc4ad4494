package graft.engine

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The row-wise text-analysis stage (SURVEY.md §2.6): per-article actor/
  * category extraction producing nested output, then relational
  * flattening.
  *
  * The reference calls OpenAI per row, sequentially, and validates the
  * nested response with Pydantic (processor.py:63-121) — its acknowledged
  * bottleneck (README.md:112). Here the analyzer is a pluggable trait:
  * the default implementation is deterministic and rule-based (no
  * network in this environment, and correctness gates need reproducible
  * output; SURVEY.md §7.4 risk 2). It runs via `mapPartitions` — batched
  * and parallel across partitions, which is the fix for the reference's
  * sequential loop: an LLM-backed implementation would issue concurrent
  * requests per partition behind the same interface.
  */
object Analyze {

  case class Actor(name: String, role: String)
  case class Analysis(
      main_actors: Seq[Actor], other_actors: Seq[Actor], category: String)

  /** Pluggable per-article analyzer (processor.py:63-121 semantics:
    * None on failure -> row skipped downstream). Implementations must be
    * serializable — they ship to executors. */
  trait TextAnalyzer extends Serializable {
    def analyze(title: String, description: String): Option[Analysis]

    /** Partition-level hook: I/O-bound implementations override this to
      * issue concurrent requests over a whole partition (see
      * [[HttpAnalyzer]]) instead of blocking once per row — the
      * distributed+concurrent fix for the reference's sequential per-row
      * loop (README.md:112). Must emit one result per input, in order. */
    def analyzeBatch(rows: Iterator[(String, String, String)])
        : Iterator[(String, Option[Analysis])] =
      rows.map { case (id, title, desc) => (id, analyze(title, desc)) }
  }

  /** Deterministic extractor: capitalized-word runs become actors (first
    * = main, rest = other), roles and category from keyword dictionaries
    * mirroring the reference's 5-value enum (processor.py:31-35). */
  object RuleBasedAnalyzer extends TextAnalyzer {
    private val ActorPattern = "(?:[A-Z][a-z]+)(?: [A-Z][a-z]+)*".r
    private val roleKeywords = Seq(
      "minister" -> "politician", "president" -> "politician",
      "ceo" -> "executive", "chief" -> "executive",
      "police" -> "authority", "court" -> "authority",
      "reporter" -> "journalist")
    private val categoryKeywords = Seq(
      "election" -> "Political Turmoil", "protest" -> "Political Turmoil",
      "parliament" -> "Political Turmoil",
      "launch" -> "New Product Announced", "unveil" -> "New Product Announced",
      "product" -> "New Product Announced",
      "resign" -> "Leadership Change", "appoint" -> "Leadership Change",
      "successor" -> "Leadership Change",
      "housing" -> "Housing Issues", "rent" -> "Housing Issues",
      "mortgage" -> "Housing Issues")

    override def analyze(title: String, description: String): Option[Analysis] = {
      if (title == null || title.isEmpty) return None // processor.py:110-111
      val text = s"$title\n$description" // concat as collector.py:182
      val lower = text.toLowerCase
      val names = ActorPattern.findAllIn(text).toSeq.distinct
        .filterNot(n => n.length < 3) // drop sentence-initial "A", "The"
      if (names.isEmpty) return None
      val role = roleKeywords.collectFirst {
        case (k, r) if lower.contains(k) => r
      }.getOrElse("unknown")
      val category = categoryKeywords.collectFirst {
        case (k, c) if lower.contains(k) => c
      }.getOrElse("Others") // enum constraint U4
      Some(Analysis(
        main_actors = Seq(Actor(names.head, role)),
        other_actors = names.tail.map(Actor(_, role)),
        category = category))
    }
  }

  /** news -> `(id, analysis)`, one row per input row (`analysis` null =
    * failed row, U2). The analyzer runs via `mapPartitions`, which
    * batches rows per partition: the distributed replacement for the
    * reference's sequential per-row loop. The plan is a projection of
    * `news` and the analyzer, with no join, so over a cached `news` it
    * reads the cache. The pipelines feed [[explodeActors]] from this
    * frame directly: their batches hold each `id` once, and
    * [[explodeActors]] reads only `id` and `analysis`, so the actor
    * rows equal those of [[withAnalysis]]. */
  def analyses(
      spark: SparkSession, news: DataFrame,
      analyzer: TextAnalyzer = RuleBasedAnalyzer): DataFrame =
    news
      .select("id", "title", "description").as(inputEncoder)
      .mapPartitions(analyzer.analyzeBatch)(outputEncoder)
      .toDF("id", "analysis")

  // derived once: `spark.implicits._` derives a product encoder by Scala
  // runtime reflection on every call, and [[analyses]] runs once per
  // poll and per micro-batch, on the driver, before the commit
  private lazy val inputEncoder: Encoder[(String, String, String)] =
    Encoders.product
  private lazy val outputEncoder: Encoder[(String, Option[Analysis])] =
    Encoders.product

  /** news -> news + nested `analysis` struct column: `news` left-joined
    * to [[analyses]] on `id`. This is a self-join of `news`, and one of
    * its sides can plan outside `news`'s cache (a foreachBatch
    * micro-batch measured that way: the actors write re-ran the
    * stateful dedup), so the pipelines do not use it. It serves callers
    * that need the other `news` columns next to the analysis. */
  def withAnalysis(
      spark: SparkSession, news: DataFrame,
      analyzer: TextAnalyzer = RuleBasedAnalyzer): DataFrame =
    news.join(analyses(spark, news, analyzer), Seq("id"), "left")

  /** Flatten nested actor lists to rows (collector.py:168-213): one row
    * per actor, main flagged true — pure built-ins (explode = Catalyst
    * Generator), no UDTF needed (SURVEY.md §2.6 U3). */
  def explodeActors(analyzed: DataFrame): DataFrame =
    analyzed
      .filter(col("analysis").isNotNull) // U2: failed rows skipped
      .select(col("id").as("news_id"),
        explode(concat(
          transform(col("analysis.main_actors"),
            a => struct(a.getField("name").as("name"),
              a.getField("role").as("role"), lit(true).as("is_main"))),
          transform(col("analysis.other_actors"),
            a => struct(a.getField("name").as("name"),
              a.getField("role").as("role"), lit(false).as("is_main")))))
          .as("actor"))
      .select(col("news_id"),
        col("actor.name").as("actor_name"),
        col("actor.role").as("actor_role"),
        col("actor.is_main").as("is_main_actor"))
}
