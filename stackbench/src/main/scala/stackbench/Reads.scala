package stackbench

import java.time.LocalDate

import graft.api.{Api, Insights, SerpFeatures}
import graft.views.EntityAnomalies
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Canon._

/** One endpoint read. `k` is the stack copy it targets; the other
  * fields are the endpoint's arguments (unused ones stay at defaults). */
final case class Req(
    ep: String,
    k: Int,
    et: String = "brand",
    entity: Int = 0,
    days: Int = 30,
    date: String = "",
    metric: String = "",
    flag: Boolean = false,
    limit: Int = 0,
    offset: Int = 0,
    features: Seq[String] = Nil)

/** A read's expected answer: its rows in order; whether they are in copy-0
  * terms (the answer is mapped back before comparing); the sort keys; and
  * the limit that may have cut them. */
final case class Expected(rows: Seq[R], perCopy: Boolean, keys: Seq[Key], limit: Option[Int])

/** The read mix, the calls into the program, and the benchmark's own
  * expected answer for each read, derived from the committed goldens and
  * fixtures with no call into the program. */
final class Reads(fixtures: String, goldens: String, val copies: Int) {

  private def fx(n: String) = readJsonl(s"$fixtures/$n.jsonl")
  private def gd(n: String) = readJsonl(s"$goldens/$n.jsonl")

  lazy val companies: Seq[R] = fx("companies")
  lazy val ceos: Seq[R] = fx("ceos")
  private lazy val items = fx("serp_feature_items")
  private lazy val runs = fx("serp_runs").map(r => s(r, "id") -> r).toMap
  private lazy val results = fx("serp_results")

  lazy val golden: Map[String, Seq[R]] = (Gold.goldenNames.map { case (t, g) => t -> gd(g) } ++
    Seq("entity_daily_metrics_v", "entity_weekly_rollup_v", "entity_anomalies_v",
      "insights_crisis_patterns", "insights_crisis_patterns_all").map(n => n -> gd(n))).toMap

  def entities(et: String): Seq[R] = if (et == "ceo") ceos else companies
  def entityId(q: Req): String = s(entities(q.et)(q.entity), "id")
  def entityName(q: Req): String = s(entities(q.et)(q.entity), "name")
  private def s(r: R, c: String): String = r.getOrElse(c, null).asInstanceOf[String]

  private val asOf = LocalDate.parse(Stack.AsOf.toString)
  private def since(days: Int, cap: Int) = asOf.minusDays(math.min(math.max(days, 1), cap)).toString
  private def etOk(et: String, v: Any) =
    if (et == "brand" || et == "company") v == "brand" || v == "company" else v == et

  private lazy val itemDates: Map[(String, String), Seq[String]] =
    items.groupBy(r => (s(r, "entity_type"), s(r, "entity_id")))
      .map { case (k, rs) => k -> rs.map(s(_, "date")).distinct.sorted.reverse }
  private lazy val runDates: Seq[String] =
    runs.values.map(r => s(r, "run_at").take(10)).toSeq.distinct.sorted.reverse
  private lazy val summaryDates: Seq[String] =
    golden("negative_summary").map(r => s(r, "date")).distinct.sorted.reverse

  val endpoints: Seq[String] = Seq("dailyCounts", "screen", "trendSummary", "anomalies",
    "serpFeatureSeries", "negativeSummary", "processedSerps", "serpFeatureItems",
    "serpFeatures", "serpFeaturesIndex", "serpFeatureControls", "serpFeatureControlsIndex",
    "crisisPatterns")

  /** The timed read mix of `dashboard_read`: every endpoint that reads gold
    * tables or insights rows directly. The three readers of the entity
    * views (screen, trendSummary, anomalies) cost 3-6 s each on their own;
    * the override workload times `screen` as its read-back, and the
    * self-test checks all three and the views. */
  val dashboardMix: Seq[String] =
    endpoints.filterNot(Set("screen", "trendSummary", "anomalies"))

  /** Seeded request. The reference's request log is not available, so the
    * arguments follow a stated assumption, not measured traffic: the copy
    * and the entity are uniform (brands and ceos in their fixture ratio),
    * a date is uniform over the latest 7 days that have data, and a
    * lookback is one of the dashboard's window choices inside ApiLimits. */
  def next(rnd: scala.util.Random, ep: String): Req = {
    var copy = rnd.nextInt(copies)
    val pickEntity = rnd.nextInt(companies.size + ceos.size)
    val (et, entity) =
      if (pickEntity < companies.size) ("brand", pickEntity) else ("ceo", pickEntity - companies.size)
    def recent(ds: Seq[String]) = ds(rnd.nextInt(math.min(7, ds.size)))
    def pick[T](xs: T*) = xs(rnd.nextInt(xs.size))
    val q = Req(ep, copy, et, entity)
    ep match {
      case "dailyCounts" => q.copy(days = pick(7, 14, 30, 60))
      case "screen" =>
        if (copy == 0) copy = 1 + rnd.nextInt(copies - 1)
        val end = recent(Seq.tabulate(30)(i => asOf.minusDays(i).toString))
        q.copy(k = copy, days = pick(7, 14, 30), date = end,
          metric = pick("article_negative_count", "serp_negative_count",
            "top_stories_negative_count", "crisis_risk_count"))
      case "trendSummary" => q
      case "anomalies" => q.copy(days = pick(30, 90, 180))
      case "serpFeatureSeries" => q.copy(days = pick(14, 30, 60),
        features = pick(Nil, Seq("top_stories_items"), Seq("organic", "top_stories_items")))
      case "negativeSummary" => q.copy(date = recent(summaryDates))
      case "processedSerps" =>
        q.copy(date = recent(runDates), limit = pick(50, 200), offset = pick(0, 100))
      case "serpFeatureItems" =>
        val id = entityId(q)
        q.copy(date = recent(itemDates((et, id))))
      case "serpFeatures" | "serpFeatureControls" | "serpFeaturesIndex" |
           "serpFeatureControlsIndex" => q.copy(days = pick(14, 30, 60))
      case "crisisPatterns" => q.copy(flag = rnd.nextBoolean())
    }
  }

  // ------------------------------------------------------------ program calls

  /** The program's answer to `q` as a DataFrame over the gold directory. */
  def call(spark: SparkSession, data: String, gold: String, q: Req): DataFrame = {
    def g(n: String) = spark.read.parquet(s"$gold/$n")
    def t(n: String) = spark.read.parquet(s"$data/$n")
    val asOfCol = lit(Stack.AsOf)
    def edm() = Gold.edm(spark, data, gold)
    val k = q.k
    val scope = Some(companies.map(c => KeyMap.id(s(c, "id"), k)))
    val id = KeyMap.id(entityId(q), k)
    val name = KeyMap.name(entityName(q), k)
    q.ep match {
      case "dailyCounts" =>
        Api.dailyCounts(g("article_daily_counts"), q.et, q.days, scope, asOfCol)
      case "screen" =>
        val end = LocalDate.parse(q.date)
        Api.screen(edm(), t("companies"), q.metric, q.et,
          lit(java.sql.Date.valueOf(end.minusDays(q.days - 1L))), lit(java.sql.Date.valueOf(end)),
          sectorContains = Some(s"[k$k]"))
      case "trendSummary" => Api.trendSummary(edm(), q.et, id)
      case "anomalies" => Api.anomalies(EntityAnomalies.build(edm()), q.et, id, q.days, 12, asOfCol)
      case "serpFeatureSeries" =>
        Api.serpFeatureSeries(g("serp_feature_daily"), q.et, name, q.features, q.days, asOfCol)
      case "negativeSummary" =>
        Api.negativeSummary(g("negative_summary"), lit(java.sql.Date.valueOf(q.date)), scope)
      case "processedSerps" =>
        val rows = t("serp_runs").join(t("serp_results").withColumnRenamed("id", "result_id"),
          col("serp_run_id") === col("id"))
          .select(to_date(col("run_at")).as("date"),
            when(col("entity_type") === "company", "brand").otherwise(col("entity_type"))
              .as("entity_type"),
            when(col("entity_type") === "company", col("company_id")).otherwise(col("ceo_id"))
              .as("entity_id"),
            col("query_text").as("entity_name"), col("rank"), col("url"), col("title"),
            col("sentiment_label"), col("control_class"))
        Api.processedSerps(rows, lit(java.sql.Date.valueOf(q.date)), q.et, q.limit, q.offset)
      case "serpFeatureItems" =>
        Api.serpFeatureItems(t("serp_feature_items"), lit(java.sql.Date.valueOf(q.date)), q.et,
          lit(id))
      case "serpFeatures" =>
        SerpFeatures.serpFeatures(g("serp_feature_daily"), q.et, q.days,
          entityName = Some(name), asOf = asOfCol)
      case "serpFeaturesIndex" =>
        SerpFeatures.serpFeaturesIndex(g("serp_feature_daily_index"), q.et, q.days, asOf = asOfCol)
      case "serpFeatureControls" =>
        SerpFeatures.serpFeatureControls(g("serp_feature_control_daily"), q.et, q.days,
          entityName = Some(name), asOf = asOfCol)
      case "serpFeatureControlsIndex" =>
        SerpFeatures.serpFeatureControlsIndex(g("serp_feature_control_daily_index"), q.et,
          q.days, asOf = asOfCol)
      case "crisisPatterns" =>
        Insights.aggregateCrisisPatterns(t("narrative_rows"), lit(Stack.InsightsEnd), "brand",
          q.flag, 10)
    }
  }

  // --------------------------------------------------------- expected answers

  private def c(n: String) = Canon.field(n)
  private def desc(n: String) = Key(c(n), desc = true)
  private def asc(n: String) = Key(c(n))
  private val featureCounts = Seq("total_count", "positive_count", "neutral_count", "negative_count")
  private val controlCounts = Seq("total_count", "controlled_count")
  private val trendMetrics = Seq("article_negative_count", "article_total_count",
    "serp_negative_count", "serp_uncontrolled_count", "top_stories_negative_count",
    "top_stories_uncontrolled_count", "crisis_risk_count")

  /** The expected answer to `q`, from the goldens and fixtures. */
  def expected(q: Req): Expected = {
    val id = entityId(q)
    val name = entityName(q)
    def win(t: String, days: Int, cap: Int, upTo: Boolean) = golden(t).filter { r =>
      etOk(q.et, r("entity_type")) && s(r, "date") >= since(days, cap) &&
        (!upTo || s(r, "date") <= asOf.toString)
    }
    def byDateFeature = Seq(asc("date"), asc("feature_type"))
    q.ep match {
      case "dailyCounts" =>
        val keys = Seq(asc("date"), asc("company"))
        Expected(win("article_daily_counts", q.days, 365, upTo = false).sorted(ordering(keys)),
          true, keys, None)
      case "screen" =>
        val end = LocalDate.parse(q.date)
        val start = end.minusDays(q.days - 1L).toString
        val sector = companies.map(r => r("id") -> r("sector")).toMap
        val rows = golden("entity_daily_metrics_v").filter { r =>
          r("entity_type") == q.et && s(r, "date") >= start && s(r, "date") <= end.toString &&
            sector.contains(r("company_id"))
        }
        val grouped = rows.groupBy(r => Seq("entity_type", "entity_id", "company_id", "ceo_id")
          .map(r(_))).values.map { rs =>
          val m = rs.map(r => num(r(q.metric)))
          val latest = rs.filter(r => s(r, "date") == end.toString).map(r => num(r(q.metric)))
          Map[String, Any]("entity_type" -> rs.head("entity_type"),
            "entity_id" -> rs.head("entity_id"), "company_id" -> rs.head("company_id"),
            "ceo_id" -> rs.head("ceo_id"),
            "entity_name" -> rs.map(s(_, "entity_name")).max,
            "company" -> rs.map(s(_, "company")).max, "ceo" -> rs.map(s(_, "ceo")).max,
            "sector" -> sector(rs.head("company_id")), "window_value" -> m.sum,
            "latest_value" -> latest.maxOption.orNull, "peak_value" -> m.max,
            "signal_days" -> m.count(_ > 0))
        }.filter(r => num(r("window_value")) >= 1).toSeq
        val keys = Seq(desc("window_value"),
          Key(c("latest_value"), desc = true, nullsFirst = Some(true)), asc("entity_name"))
        Expected(grouped.sorted(ordering(keys)).take(25), true, keys, Some(25))
      case "trendSummary" =>
        val rows = golden("entity_daily_metrics_v")
          .filter(r => etOk(q.et, r("entity_type")) && r("entity_id") == id)
          .sortBy(r => s(r, "date")).reverse
        if (rows.isEmpty) Expected(Nil, true, Nil, None)
        else {
          val (cur, prior) = (rows.take(7), rows.slice(7, 14))
          def tot(rs: Seq[R], m: String) = rs.map(r => num(r(m))).sum
          val sums = trendMetrics.flatMap { m =>
            Seq(s"${m}_7d" -> tot(cur, m), s"${m}_prior_7d" -> tot(prior, m),
              s"${m}_delta" -> (tot(cur, m) - tot(prior, m)))
          }.toMap
          def v(m: String) = sums(s"${m}_7d")
          val news = v("article_negative_count") >= 7
          val negSearch = v("serp_negative_count") >= 3 || v("top_stories_negative_count") >= 4
          val unc = v("serp_uncontrolled_count") >= 5 || v("top_stories_uncontrolled_count") >= 4
          val impact =
            if (negSearch && news) "news_and_search_negative" else if (negSearch) "search_negative"
            else if (unc && news) "news_and_search_uncontrolled"
            else if (unc) "search_uncontrolled" else if (news) "news_only" else "muted"
          val nuance =
            if (negSearch && unc) "negative_visibility_and_control_gap"
            else if (negSearch) "negative_visibility"
            else if (unc) "control_gap_without_negative_visibility"
            else "low_or_controlled_search_signal"
          Expected(Seq(sums ++ Map("entity_type" -> rows.head("entity_type"), "entity_id" -> id,
            "search_impact" -> impact, "search_nuance" -> nuance)), true, Nil, None)
        }
      case "anomalies" =>
        val keys = Seq(desc("date"), desc("severity_score"))
        val rows = golden("entity_anomalies_v").filter(r => etOk(q.et, r("entity_type")) &&
          r("entity_id") == id && s(r, "date") >= since(q.days, 180))
        Expected(rows.sorted(ordering(keys)).take(12), true, keys, Some(12))
      case "serpFeatureSeries" =>
        val rows = win("serp_feature_daily", q.days, 365, upTo = false).filter(r =>
          s(r, "entity_name").toLowerCase == name.toLowerCase &&
            (q.features.isEmpty || q.features.contains(r("feature_type"))))
        Expected(rows.sorted(ordering(byDateFeature)), true, byDateFeature, None)
      case "negativeSummary" =>
        val keys = Seq(desc("negative_count"), asc("company"))
        val rows = golden("negative_summary").filter(r => s(r, "date") == q.date &&
          (num(r("negative_count")) > 0 || num(r("crisis_risk_count")) > 0))
        Expected(rows.sorted(ordering(keys)), true, keys, None)
      case "processedSerps" =>
        val keys = Seq(asc("entity_name"), asc("rank"))
        val base = results.flatMap { res =>
          val run = runs(s(res, "serp_run_id"))
          val et = if (run("entity_type") == "company") "brand" else s(run, "entity_type")
          if (s(run, "run_at").take(10) != q.date || !etOk(q.et, et)) Nil
          else Seq((run, res, et))
        }
        val all = for (k <- 0 until copies; (run, res, et) <- base) yield Map[String, Any](
          "date" -> q.date, "entity_type" -> et,
          "entity_id" -> KeyMap.id(s(run, if (et == "brand") "company_id" else "ceo_id"), k),
          "entity_name" -> KeyMap.name(s(run, "query_text"), k),
          "rank" -> res("rank"), "url" -> res("url"), "title" -> res("title"),
          "sentiment_label" -> res("sentiment_label"), "control_class" -> res("control_class"))
        val page = all.sorted(ordering(keys)).slice(q.offset, q.offset + q.limit)
        Expected(page, false, keys, Some(q.offset + q.limit))
      case "serpFeatureItems" =>
        val keys = Seq(asc("feature_type"), Key(c("position"), nullsFirst = Some(false)),
          asc("sentiment_label"))
        val rows = items.filter(r => etOk(q.et, r("entity_type")) && r("date") == q.date &&
          r("entity_id") == id).map(r => Gold.itemColumns.map(f => f -> r.getOrElse(f, null)).toMap)
        Expected(rows.sorted(ordering(keys)), true, keys, None)
      case "serpFeatures" | "serpFeatureControls" =>
        val (t, counts) = if (q.ep == "serpFeatures") ("serp_feature_daily", featureCounts)
          else ("serp_feature_control_daily", controlCounts)
        val rows = win(t, q.days, 365, upTo = true).filter(r => r("entity_name") == name)
          .map(r => (Seq("date", "entity_name", "feature_type") ++ counts).map(f => f -> r(f)).toMap)
        Expected(rows.sorted(ordering(byDateFeature)), true, byDateFeature, None)
      case "serpFeaturesIndex" | "serpFeatureControlsIndex" =>
        val (t, counts) = if (q.ep == "serpFeaturesIndex") ("serp_feature_daily_index", featureCounts)
          else ("serp_feature_control_daily_index", controlCounts)
        val rows = win(t, q.days, 365, upTo = true).groupBy(r => (r("date"), r("feature_type")))
          .map { case ((d, f), rs) =>
            Map[String, Any]("date" -> d, "entity_name" -> "Index", "feature_type" -> f) ++
              counts.map(n => n -> rs.map(r => num(r(n))).sum * copies)
          }.toSeq
        Expected(rows.sorted(ordering(byDateFeature)), false, byDateFeature, None)
      case "crisisPatterns" =>
        // every copy repeats copy 0's patterns: counts scale by K, durations
        // do not, and the top-3 samples are the copies of copy 0's first
        // sample in name order (no fixture name is a prefix of another, so
        // copies of different entities never interleave)
        val g = golden(if (q.flag) "insights_crisis_patterns_all" else "insights_crisis_patterns")
        val scaled = Set("brands_affected", "episode_count", "active_entities_latest",
          "total_negative_items")
        val rows = g.map { r =>
          val first = r("sample_entities").asInstanceOf[Seq[Any]].head.asInstanceOf[String]
          r.map { case (f, v) => f -> (if (scaled(f)) num(v) * copies else v) } +
            ("sample_entities" -> (0 until copies).map(KeyMap.name(first, _))
              .sortBy(_.toLowerCase).take(3))
        }
        val keys = Seq(desc("brands_affected"), desc("episode_count"),
          desc("total_negative_items"), Key(r => s(r, "tag").toLowerCase))
        Expected(rows, false, keys, None)
    }
  }
}
