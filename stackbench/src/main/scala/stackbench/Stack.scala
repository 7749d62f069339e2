package stackbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.gold.{GoldRefresh, Schemas}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The scaled reference-schema stack: K key-shifted copies of the
  * reference fixtures (the `.jsonl` files under `src/test/resources/fixtures`).
  *
  * Copy 0 is the fixtures themselves. Copy k > 0 suffixes every id with
  * `~k<k>` and carves every entity name, alias and sector with ` [k<k>]`;
  * dates, labels, ranks and url hashes are unchanged. Each copy is therefore
  * an isomorphic image of copy 0, and [[KeyMap]] maps any output row of
  * copy k back onto the committed goldens. The bulk data depends on K only,
  * so it is generated once per checkout; the seed drives the request and
  * override streams.
  */
object Stack {

  /** The last date in the fixtures; every read pins its clock here. */
  val AsOf: java.sql.Date = java.sql.Date.valueOf("2025-04-14")
  /** The window end the crisis-pattern goldens were produced for. */
  val InsightsEnd: java.sql.Date = java.sql.Date.valueOf("2025-03-28")

  val narrativeSchema: StructType = StructType(Seq(
    StructField("date", DateType), StructField("company_id", StringType),
    StructField("entity_id", StringType), StructField("entity_name", StringType),
    StructField("company", StringType), StructField("ceo", StringType),
    StructField("sector", StringType),
    StructField("narrative_primary_tag", StringType),
    StructField("narrative_primary_group", StringType),
    StructField("narrative_is_crisis", BooleanType),
    StructField("negative_item_count", LongType)))

  /** fixture name -> (schema, id columns, name columns) */
  val tables: Seq[(String, StructType, Seq[String], Seq[String])] = Seq(
    ("companies", Schemas.companies, Seq("id"), Seq("name", "sector")),
    ("ceos", Schemas.ceos, Seq("id", "company_id"), Seq("name", "alias")),
    ("articles", Schemas.articles, Seq("id"), Nil),
    ("company_article_mentions", Schemas.companyArticleMentions,
      Seq("company_id", "article_id"), Nil),
    ("ceo_article_mentions", Schemas.ceoArticleMentions, Seq("ceo_id", "article_id"), Nil),
    ("company_article_mentions_daily", Schemas.companyArticleMentionsDaily,
      Seq("company_id", "article_id"), Nil),
    ("ceo_article_mentions_daily", Schemas.ceoArticleMentionsDaily,
      Seq("ceo_id", "article_id"), Nil),
    ("company_article_overrides", Schemas.companyArticleOverrides,
      Seq("company_id", "article_id"), Nil),
    ("ceo_article_overrides", Schemas.ceoArticleOverrides, Seq("ceo_id", "article_id"), Nil),
    ("serp_runs", Schemas.serpRuns, Seq("id", "company_id", "ceo_id"), Seq("query_text")),
    ("serp_results", Schemas.serpResults, Seq("id", "serp_run_id"), Nil),
    ("serp_result_overrides", Schemas.serpResultOverrides, Seq("serp_result_id"), Nil),
    ("serp_feature_items", Schemas.serpFeatureItems, Seq("id", "entity_id"), Seq("entity_name")),
    ("serp_feature_item_overrides", Schemas.serpFeatureItemOverrides,
      Seq("serp_feature_item_id"), Nil),
    ("serp_feature_url_overrides", Schemas.serpFeatureUrlOverrides, Seq("entity_id"), Nil),
    ("narrative_rows", narrativeSchema, Seq("company_id", "entity_id"),
      Seq("entity_name", "company", "ceo", "sector")))

  def fixture(spark: SparkSession, fixtures: String, name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(s"$fixtures/$name.jsonl")

  private def shiftId(c: Column, k: Column): Column =
    when(k === 0 || c.isNull, c).otherwise(concat(c, lit("~k"), k.cast("string")))

  private def carve(c: Column, k: Column): Column =
    when(k === 0 || c.isNull || c === "", c)
      .otherwise(concat(c, lit(" [k"), k.cast("string"), lit("]")))

  /** Writes K copies of every fixture as parquet under `out`, plus
    * ROWS.json (per-table row counts) and CHECKSUM (see [[checksum]]). */
  def generate(spark: SparkSession, fixtures: String, out: String, copies: Int): Unit = {
    val ks = spark.range(copies).select(col("id").cast("int").as("__k"))
    val files = math.max(1, math.min(8, copies / 64))
    val counts = tables.map { case (name, schema, ids, names) =>
      val base = fixture(spark, fixtures, name, schema)
      val k = col("__k")
      val scaled = base.crossJoin(ks).select(schema.fieldNames.map { f =>
        if (ids.contains(f)) shiftId(col(f), k).as(f)
        else if (names.contains(f)) carve(col(f), k).as(f)
        else col(f)
      }: _*)
      // a fixed file count and a total order keep the bytes reproducible
      scaled.repartition(files).sortWithinPartitions(schema.fieldNames.map(col): _*)
        .write.mode("overwrite").parquet(s"$out/$name")
      name -> spark.read.parquet(s"$out/$name").count()
    }
    val manifest = counts.map { case (n, c) => s"""  "$n": $c""" }.mkString(",\n")
    Files.writeString(Paths.get(out, "ROWS.json"), s"{\n  \"copies\": $copies,\n$manifest\n}\n")
    Files.writeString(Paths.get(out, "CHECKSUM"), checksum(out) + "\n")
  }

  /** sha256 over every parquet file's relative path and bytes, in path order. */
  def checksum(dir: String): String = {
    val root = Paths.get(dir)
    val md = MessageDigest.getInstance("SHA-256")
    val paths = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      .map(p => root.relativize(p).toString).sorted
    paths.foreach { rel =>
      md.update(rel.getBytes("UTF-8"))
      md.update(Files.readAllBytes(root.resolve(rel)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The generated stack's tables, opened once. */
  def open(spark: SparkSession, data: String): Map[String, DataFrame] =
    tables.map { case (n, _, _, _) => n -> spark.read.parquet(s"$data/$n") }.toMap

  /** The program's bronze inputs over the opened stack, with the override
    * rows a run has appended (`appended`: table -> rows) unioned onto their
    * tables. */
  def bronze(t: Map[String, DataFrame], appended: Map[String, Seq[Row]] = Map.empty)
      : GoldRefresh.BronzeInputs = {
    def o(n: String) = appended.get(n).filter(_.nonEmpty).map(rows =>
      t(n).unionByName(t(n).sparkSession.createDataFrame(rows.asJava, t(n).schema)))
      .getOrElse(t(n))
    GoldRefresh.BronzeInputs(
      companies = t("companies"), ceos = t("ceos"), articles = t("articles"),
      companyMentions = t("company_article_mentions"), ceoMentions = t("ceo_article_mentions"),
      companyMentionsDaily = t("company_article_mentions_daily"),
      ceoMentionsDaily = t("ceo_article_mentions_daily"),
      companyArticleOverrides = o("company_article_overrides"),
      ceoArticleOverrides = o("ceo_article_overrides"),
      serpRuns = t("serp_runs"), serpResults = t("serp_results"),
      serpResultOverrides = o("serp_result_overrides"),
      serpFeatureItems = t("serp_feature_items"),
      serpFeatureItemOverrides = o("serp_feature_item_overrides"),
      serpFeatureUrlOverrides = t("serp_feature_url_overrides"))
  }

  def copyTree(from: Path, to: Path): Unit = {
    val it = Files.walk(from).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Inverse of the copy carving: maps a value of copy k back onto copy 0
  * and reports k. */
object KeyMap {
  private val IdSuffix = "^(.*)~k(\\d+)$".r
  private val NameSuffix = "^(.*) \\[k(\\d+)\\]$".r

  /** columns whose values carry a copy suffix */
  val keyed: Set[String] = Set("id", "entity_id", "company_id", "ceo_id", "article_id",
    "serp_run_id", "serp_result_id", "serp_feature_item_id", "entity_name", "company", "ceo",
    "alias", "sector", "query_text")

  /** (copy-0 value, copy) for one value. */
  def unmap(v: Any): (Any, Int) = v match {
    case s: String => s match {
      case IdSuffix(b, k) => (b, k.toInt)
      case NameSuffix(b, k) => (b, k.toInt)
      case _ => (s, 0)
    }
    case other => (other, 0)
  }

  def id(v: String, k: Int): String = if (k == 0 || v == null) v else s"$v~k$k"
  def name(v: String, k: Int): String =
    if (k == 0 || v == null || v.isEmpty) v else s"$v [k$k]"

  /** Maps a row back onto copy 0; returns the row and its copy, or None
    * when its keyed columns disagree about the copy. */
  def toCopy0(row: Map[String, Any]): Option[(Map[String, Any], Int)] = {
    var copy = -1
    var consistent = true
    val out = row.map { case (c, v) =>
      if (keyed(c) && v != null && v != "") {
        val (b, k) = unmap(v)
        if (copy == -1) copy = k else if (copy != k) consistent = false
        c -> b
      } else c -> v
    }
    if (consistent) Some(out -> math.max(copy, 0)) else None
  }
}
