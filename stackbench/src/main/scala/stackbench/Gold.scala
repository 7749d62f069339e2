package stackbench

import graft.gold.Schemas
import graft.views.{EntityAnomalies, EntityDailyMetrics, EntityWeeklyRollup}
import org.apache.spark.sql.{DataFrame, SparkSession}

import Canon._

/** Checks of the gold tables and views against the committed goldens. */
object Gold {

  /** gold table -> golden file */
  val goldenNames: Seq[(String, String)] = Seq(
    "serp_feature_daily" -> "serp_feature_daily_mv",
    "serp_feature_control_daily" -> "serp_feature_control_daily_mv",
    "serp_feature_daily_index" -> "serp_feature_daily_index_mv",
    "serp_feature_control_daily_index" -> "serp_feature_control_daily_index_mv",
    "article_daily_counts" -> "article_daily_counts_mv",
    "serp_daily_counts" -> "serp_daily_counts_mv",
    "negative_summary" -> "negative_articles_summary_mv")

  val tables: Seq[String] = goldenNames.map(_._1)

  val itemColumns: Seq[String] = Schemas.serpFeatureItems.fieldNames.toSeq

  /** index table -> (entity-grain table, count columns) */
  private val indexOf = Seq(
    "serp_feature_daily_index" ->
      ("serp_feature_daily", Seq("total_count", "positive_count", "neutral_count", "negative_count")),
    "serp_feature_control_daily_index" ->
      ("serp_feature_control_daily", Seq("total_count", "controlled_count")))

  def collect(df: DataFrame): Seq[R] = df.collect().toSeq.map(fromRow)

  def read(spark: SparkSession, gold: String, t: String): Seq[R] =
    collect(spark.read.parquet(s"$gold/$t"))

  /** `views.EntityDailyMetrics` over the gold directory `gold` and the
    * bronze tables of the stack `data`, wired as the dashboard wires it. */
  def edm(spark: SparkSession, data: String, gold: String): DataFrame = {
    def g(n: String) = spark.read.parquet(s"$gold/$n")
    def t(n: String) = spark.read.parquet(s"$data/$n")
    EntityDailyMetrics.build(g("article_daily_counts"), g("serp_daily_counts"),
      EntityDailyMetrics.articleCrisis(t("company_article_mentions_daily"),
        t("ceo_article_mentions_daily"), t("company_article_mentions"),
        t("ceo_article_mentions"), t("ceos")),
      EntityDailyMetrics.topStoriesSentiment(g("serp_feature_daily"), t("companies"), t("ceos")),
      EntityDailyMetrics.topStoriesControl(g("serp_feature_control_daily")))
  }

  def views(spark: SparkSession, data: String, gold: String): Seq[(String, DataFrame)] = {
    // built once for the three checks; they run after the timed phase
    val edm = this.edm(spark, data, gold).persist()
    Seq("entity_daily_metrics_v" -> edm, "entity_weekly_rollup_v" -> EntityWeeklyRollup.build(edm),
      "entity_anomalies_v" -> EntityAnomalies.build(edm))
  }

  /** Index rows must equal the sum of their entity-grain rows. */
  def indexSums(rows: Map[String, Seq[R]]): Option[String] = indexOf.iterator.map {
    case (idx, (ent, counts)) =>
      def key(r: R) = (norm(r("date")), r("entity_type"), r("feature_type"))
      val summed = rows(ent).groupBy(key).map { case (k, rs) =>
        k -> counts.map(c => norm(rs.map(r => num(r(c))).sum)) }
      val got = rows(idx).map(r => key(r) -> counts.map(c => norm(r(c)))).toMap
      if (got != summed) Some(s"$idx is not the sum of $ent") else None
  }.find(_.nonEmpty).flatten

  /** Every gold table (entity grain: per copy; index grain: K times the
    * golden) plus the index-sum rule. `want` maps table -> copy-0 rows. */
  def checkTables(rows: Map[String, Seq[R]], want: Map[String, Seq[R]], copies: Int)
      : Option[String] =
    tables.iterator.map { t =>
      val res = if (t.endsWith("_index")) {
        val scaled = want(t).map(r => r.map { case (c, v) =>
          c -> (if (c.endsWith("_count")) num(v) * copies else v) })
        if (rows(t).map(line).sorted != scaled.map(line).sorted) Some("differs from K x golden")
        else None
      } else Compare.perCopy(rows(t), want(t), copies)
      res.map(m => s"$t: $m")
    }.find(_.nonEmpty).flatten.orElse(indexSums(rows))
}
