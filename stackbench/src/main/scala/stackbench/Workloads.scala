package stackbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.gold.{GoldRefresh, OverrideRefresh}
import graft.api.{Api, SerpFeatures}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import Canon._
import Main.{Ctx, Result, median, quantile}

/** The two workloads. Each sets up, times its operations for the run's
  * seconds, then checks every output against the benchmark's expectations. */
object Workloads {

  /** timed override rounds per run, at the least */
  val MinRounds = 3

  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  /** Metrics a traced run reports for every workload; a layer the workload
    * does not use reports 0. */
  private def zeroLayers(res: Result, reads: Reads): Unit = {
    res.layer("Sessions.start_ms") = (0.0, "ms")
    res.layer("gold.full.total_s") = (0.0, "s")
    Gold.tables.foreach(t => res.layer(s"gold.full.${t}_s") = (0.0, "s"))
    Seq("jobs", "shuffle_bytes", "spill_bytes").foreach(m =>
      res.layer(s"gold.full.$m") = (0.0, if (m == "jobs") "count" else "bytes"))
    reads.dashboardMix.foreach(e => res.layer(s"api.$e.p50_ms") = (0.0, "ms"))
    Seq("p90_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
      "sched_wait_ms" -> "ms").foreach { case (m, u) => res.layer(s"api.read.$m") = (0.0, u) }
    res.layer("gold.read.files_scanned") = (0.0, "count")
    res.layer("gold.read.rows_scanned_per_returned") = (0.0, "ratio")
    res.layer("Caching.size_after") = (0.0, "count")
    res.layer("spark.persisted_rdds_after") = (0.0, "count")
    OverrideRefresh.Dependencies.values.flatten.toSeq.distinct.sorted.foreach(t =>
      res.layer(s"gold.override.${t}_ms") = (0.0, "ms"))
    res.layer("gold.override.partitions_rewritten") = (0.0, "count")
    res.layer("gold.override.files_written") = (0.0, "count")
    res.layer("gold.override.bytes_written") = (0.0, "bytes")
    res.layer("api.read_after_write_ms") = (0.0, "ms")
  }

  /** A full refresh as the layer metrics see it: per-table seconds and the
    * job, shuffle and spill counts of its job group. */
  private def fullLayers(ctx: Ctx, res: Result, group: String, times: Seq[(String, Double)])
      : Unit = {
    times.foreach { case (t, s) => res.layer(s"gold.full.${t}_s") = (s, "s") }
    ctx.tracer.foreach { tr =>
      val c = tr.counts(group)
      res.layer("gold.full.jobs") = (c.jobs.get.toDouble, "count")
      res.layer("gold.full.shuffle_bytes") = (c.shuffleWrite.get.toDouble, "bytes")
      res.layer("gold.full.spill_bytes") = (c.spill.get.toDouble, "bytes")
    }
  }

  /** Set-up, as a user of a fresh JVM pays it: the gold directory (the
    * stack's prebuilt gold, or a private copy of it when the workload
    * writes), then the workload's warm-up on it. `setup_s` runs from JVM
    * start to the end of the warm-up, where the first timed operation
    * starts. */
  def setup(ctx: Ctx, res: Result, writable: Boolean)(warm: String => Unit): String = {
    val gold = if (writable) s"${ctx.work}/gold" else ctx.opts("gold")
    if (writable) Stack.copyTree(Paths.get(ctx.opts("gold")), Paths.get(gold))
    val t0 = System.nanoTime()
    ctx.scoped("warmup")(warm(gold))
    res.e2e("setup_s") = ((System.currentTimeMillis() - ctx.jvmStartMs) / 1e3, "s")
    zeroLayers(res, ctx.reads)
    res.layer("Sessions.start_ms") = (ctx.sessionMs, "ms")
    System.err.println(f"[stackbench] set-up: session ${ctx.sessionMs}%.0f ms, warm-up ${ms(t0)}%.0f ms")
    gold
  }

  // ------------------------------------------------------------ dashboard_read

  final case class Done(q: Req, rows: Seq[R], ms: Double, planMs: Double = 0, execMs: Double = 0,
      files: Long = 0, scanned: Long = 0, cached: Int = 0, persisted: Int = 0,
      group: String = "", err: Throwable = null)

  private def read(ctx: Ctx, gold: String, q: Req, group: String): Done = {
    val t0 = System.nanoTime()
    try {
      if (!ctx.trace) {
        val rows = ctx.reads.call(ctx.spark, ctx.data, gold, q).collect().toSeq.map(fromRow)
        Done(q, rows, ms(t0))
      } else ctx.scoped(group) {
        val df = ctx.reads.call(ctx.spark, ctx.data, gold, q)
        df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        val rows = df.collect().toSeq.map(fromRow)
        val done = ms(t0)
        val (files, scanned) = PlanScan.scanned(df.queryExecution.executedPlan)
        Done(q, rows, done, (t1 - t0) / 1e6, ms(t1), files, scanned, graft.Caching.size,
          ctx.spark.sparkContext.getPersistentRDDs.size, group)
      }
    } catch { case e: Exception => Done(q, null, ms(t0), err = e) }
  }

  /** Runs `body(c)` on `n` threads and waits for all of them. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val threads = (0 until n).map(c => new Thread(() => body(c)))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Runs closed-loop clients until the deadline; returns when each ended.
    * Client `c` walks the endpoint list in a fixed order from its own
    * offset, so every run reads the same mix; only the arguments come from
    * the seed. */
  private def clientLoop(ctx: Ctx, clients: Int, deadline: Long)(op: Req => Unit): Array[Long] = {
    val ends = new Array[Long](clients)
    val eps = ctx.reads.dashboardMix
    parallel(clients) { c =>
      val rnd = new scala.util.Random(ctx.seed * 1000 + c)
      var i = c * eps.size / clients
      do {
        op(ctx.reads.next(rnd, eps(i % eps.size)))
        i += 1
      } while (System.nanoTime() < deadline)
      ends(c) = System.nanoTime()
    }
    ends
  }

  def dashboardRead(ctx: Ctx, res: Result): Unit = {
    val clients = math.min(ctx.cores, 4)
    // warm-up: each endpoint once, spread over the clients
    val gold = setup(ctx, res, writable = false) { g =>
      val next = new java.util.concurrent.atomic.AtomicInteger
      parallel(clients) { _ =>
        var e = next.getAndIncrement()
        while (e < ctx.reads.dashboardMix.size) {
          val q = ctx.reads.next(new scala.util.Random(e), ctx.reads.dashboardMix(e))
          ctx.reads.call(ctx.spark, ctx.data, g, q).collect()
          e = next.getAndIncrement()
        }
      }
    }
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]
    val ids = new java.util.concurrent.atomic.AtomicLong
    val start = System.nanoTime()
    val ends = clientLoop(ctx, clients, start + (ctx.seconds * 1e9).toLong) { q =>
      done.add(read(ctx, gold, q, s"read-${ids.incrementAndGet()}"))
    }
    val wall = (ends.max - start) / 1e9
    val all = done.asScala.toSeq
    val ok = all.filter(_.err == null)
    res.attempted = all.size
    res.failed = all.size - ok.size
    all.filter(_.err != null).take(3).foreach(d => res.problems += s"${d.q}: ${d.err}")
    val lat = ok.map(_.ms)
    res.e2e("op_p50_ms") = (median(lat), "ms")
    res.e2e("ops_per_s") = (ok.size / wall, "1/s")
    System.err.println(f"[stackbench] ${all.size} reads by $clients clients in $wall%.2f s")

    ctx.tracer.foreach { tr =>
      Thread.sleep(2000) // let the listener bus deliver the last task events
      ctx.reads.dashboardMix.foreach(e =>
        res.layer(s"api.$e.p50_ms") = (median(ok.filter(_.q.ep == e).map(_.ms)), "ms"))
      val n = ok.size.toDouble
      val counts = ok.map(d => tr.counts(d.group))
      res.layer("api.read.p90_ms") = (quantile(lat, 0.9), "ms")
      res.layer("api.read.plan_ms") = (median(ok.map(_.planMs)), "ms")
      res.layer("api.read.exec_ms") = (median(ok.map(_.execMs)), "ms")
      res.layer("api.read.jobs") = (counts.map(_.jobs.get).sum / n, "count")
      res.layer("api.read.tasks") = (counts.map(_.tasks.get).sum / n, "count")
      res.layer("api.read.sched_wait_ms") =
        (median(counts.flatMap(_.schedWaitMs.asScala.map(_.toDouble))), "ms")
      res.layer("gold.read.files_scanned") = (ok.map(_.files).sum / n, "count")
      res.layer("gold.read.rows_scanned_per_returned") =
        (ok.map(_.scanned).sum.toDouble / math.max(1, ok.map(_.rows.size).sum), "ratio")
      res.layer("Caching.size_after") = (ok.map(_.cached).sum / n, "count")
      res.layer("spark.persisted_rdds_after") = (ok.map(_.persisted).sum / n, "count")
    }

    // checks, after the timed phase
    val expect = mutable.Map.empty[Req, Expected]
    ok.foreach { d =>
      val want = expect.getOrElseUpdate(d.q.copy(k = 0), ctx.reads.expected(d.q))
      val got = d.rows.map(_ - "rn")
      if (got.isEmpty && want.rows.nonEmpty) {
        res.failed += 1
        res.problems += s"${d.q}: no rows, expected ${want.rows.size}"
      } else res.check(d.q.toString)(readProblem(d.q, got, want))
    }
    res.check("gold")(Gold.checkTables(readGold(ctx, gold), ctx.reads.golden, ctx.copies))
  }

  /** None when a read's rows (without the page's row number) are right. */
  def readProblem(q: Req, got: Seq[R], want: Expected): Option[String] = {
    val mapped = if (!want.perCopy) Some(got) else {
      val m = got.map(KeyMap.toCopy0)
      if (m.forall(_.exists(_._2 == q.k))) Some(m.flatten.map(_._1)) else None
    }
    mapped match {
      case None => Some("rows from another copy")
      case Some(g) => Compare.ordered(g, want.rows, want.keys, want.limit)
    }
  }

  /** Collects the gold tables on parallel threads. */
  def readGold(ctx: Ctx, gold: String): Map[String, Seq[R]] = {
    val tables = Gold.tables
    val out = new java.util.concurrent.ConcurrentHashMap[String, Seq[R]]
    val next = new java.util.concurrent.atomic.AtomicInteger
    parallel(math.min(ctx.cores, 4)) { _ =>
      var i = next.getAndIncrement()
      while (i < tables.size) {
        out.put(tables(i), Gold.read(ctx.spark, gold, tables(i)))
        i = next.getAndIncrement()
      }
    }
    out.asScala.toMap
  }

  /** The three entity views over `gold`, collected on parallel threads. */
  def readViews(ctx: Ctx, gold: String): Map[String, Seq[R]] = {
    val views = Gold.views(ctx.spark, ctx.data, gold)
    val rows = new java.util.concurrent.ConcurrentHashMap[String, Seq[R]]
    parallel(views.size)(i => rows.put(views(i)._1, Gold.collect(views(i)._2)))
    rows.asScala.toMap
  }

  // ---------------------------------------------------------- override_refresh

  /** One override: the row to append, the refresh it needs, and the read
    * that must show it with the values it must show. */
  final case class Op(mentionType: String, copy: Int, table: String, row: Row,
      dates: Seq[String], readKey: (String, String, String, String), want: Map[String, BigDecimal])

  private val labels = Seq("positive", "neutral", "negative")
  private val editedAt = java.sql.Timestamp.valueOf("2025-04-21 10:00:00")

  /** The seeded override stream, rotating over the four mention types. Each
    * override targets a (copy, row) pair not overridden before, so its
    * effect on the gold row is exactly one label moved. */
  final class Overrides(reads: Reads, fixtures: String, seed: Long) {
    private def fx(n: String) = readJsonl(s"$fixtures/$n.jsonl")
    private def s(r: R, c: String): String = r.getOrElse(c, null).asInstanceOf[String]
    private val rnd = new scala.util.Random(seed)
    private val used = mutable.Set.empty[(String, Int, String)]
    /** running deltas on gold rows: (table, copy, row key) -> column -> delta */
    private val delta = mutable.Map.empty[(String, Int, Any), Map[String, BigDecimal]]
      .withDefaultValue(Map.empty)

    private def single(daily: String, key: String, ov: String) = {
      val o = fx(ov).map(r => (s(r, key), s(r, "article_id"))).toSet
      fx(daily).groupBy(r => (s(r, key), s(r, "article_id"))).collect {
        case (p, Seq(r)) if !o(p) => r
      }.toSeq.sortBy(r => (s(r, key), s(r, "article_id")))
    }
    private lazy val companyRows = single("company_article_mentions_daily", "company_id",
      "company_article_overrides")
    private lazy val ceoRows = single("ceo_article_mentions_daily", "ceo_id", "ceo_article_overrides")
    private lazy val runs = fx("serp_runs").map(r => s(r, "id") -> r).toMap
    private lazy val results = {
      val o = fx("serp_result_overrides").map(s(_, "serp_result_id")).toSet
      fx("serp_results").filterNot(r => o(s(r, "id")))
    }
    private lazy val urlOv = fx("serp_feature_url_overrides").map(r =>
      (s(r, "entity_type"), s(r, "entity_id"), s(r, "feature_type"), s(r, "url_hash")) ->
        s(r, "override_sentiment_label")).toMap
    private lazy val items = {
      val o = fx("serp_feature_item_overrides").map(s(_, "serp_feature_item_id")).toSet
      fx("serp_feature_items").filterNot(r => o(s(r, "id")))
    }
    private lazy val edm = reads.golden("entity_daily_metrics_v")
      .map(r => (s(r, "date"), s(r, "entity_type"), s(r, "entity_id")) -> r).toMap
    private lazy val adc = reads.golden("article_daily_counts")
      .map(r => (s(r, "date"), s(r, "entity_type"), s(r, "entity_id")) -> r).toMap
    private lazy val sfd = reads.golden("serp_feature_daily")
      .map(r => (s(r, "date"), s(r, "entity_type"), s(r, "entity_id"), s(r, "feature_type")) -> r)
      .toMap

    private def flip(eff: String) = if (eff == "negative") "positive" else "negative"
    private def pick(mt: String, n: Int): (Int, Int) = {
      var c = (0, 0)
      do c = (1 + rnd.nextInt(reads.copies - 1), rnd.nextInt(n)) while (!used.add((mt, c._1, c._2.toString)))
      c
    }
    private def moved(from: String, to: String, cols: Map[String, String]) =
      Map(cols.getOrElse(from, "") -> BigDecimal(-1), cols(to) -> BigDecimal(1)) - ""

    /** applies `d` to the gold row `key` of `table` and returns its
      * expected values for `cols` */
    private def expectRow(table: String, k: Int, key: Any, base: R, d: Map[String, BigDecimal],
        cols: Seq[String]): Map[String, BigDecimal] = {
      val dk = (table, k, key)
      delta(dk) = (delta(dk).keySet ++ d.keySet).map(c =>
        c -> (delta(dk).getOrElse(c, BigDecimal(0)) + d.getOrElse(c, BigDecimal(0)))).toMap
      cols.map(c => c -> (num(base(c)) + delta(dk).getOrElse(c, BigDecimal(0)))).toMap
    }

    def next(i: Int): Op = Seq("company_article", "ceo_article", "serp_result",
        "serp_feature_item")(i % 4) match {
      case mt @ ("company_article" | "ceo_article") =>
        val (key, rows, et, table) =
          if (mt == "company_article") ("company_id", companyRows, "brand", "company_article_overrides")
          else ("ceo_id", ceoRows, "ceo", "ceo_article_overrides")
        val (k, j) = pick(mt, rows.size)
        val r = rows(j)
        val (eff, date, eid) = (s(r, "sentiment_label"), s(r, "date"), s(r, key))
        val to = flip(eff)
        val row = Row(KeyMap.id(eid, k), KeyMap.id(s(r, "article_id"), k), to, null, null, null,
          "stackbench", editedAt)
        val cols = Map("positive" -> "positive", "neutral" -> "neutral", "negative" -> "negative")
        val rk = (date, et, eid)
        Op(mt, k, table, row, Seq(date), ("adc", date, et, KeyMap.id(eid, k)),
          expectRow("article_daily_counts", k, rk, adc(rk), moved(eff, to, cols),
            Seq("positive", "neutral", "negative", "total")))
      case mt @ "serp_result" =>
        val (k, j) = pick(mt, results.size)
        val r = results(j)
        val run = runs(s(r, "serp_run_id"))
        val et = if (s(run, "entity_type") == "company") "brand" else "ceo"
        val eid = s(run, if (et == "brand") "company_id" else "ceo_id")
        val date = s(run, "run_at").take(10)
        val eff = Option(s(r, "llm_sentiment_label")).getOrElse(s(r, "sentiment_label"))
        val to = flip(eff)
        val row = Row(KeyMap.id(s(r, "id"), k), to, null, null, "stackbench", editedAt)
        val rk = (date, et, eid)
        val d = if (eff == "negative") BigDecimal(-1) else if (to == "negative") BigDecimal(1)
          else BigDecimal(0)
        Op(mt, k, "serp_result_overrides", row, Seq(date), ("screen", date, et, KeyMap.id(eid, k)),
          expectRow("entity_daily_metrics_v", k, rk, edm(rk), Map("serp_negative_count" -> d),
            Seq("serp_negative_count")))
      case mt @ "serp_feature_item" =>
        val (k, j) = pick(mt, items.size)
        val r = items(j)
        val (et, eid, ft, date) = (s(r, "entity_type"), s(r, "entity_id"), s(r, "feature_type"),
          s(r, "date"))
        val eff = urlOv.get((et, eid, ft, s(r, "url_hash")))
          .orElse(Option(s(r, "llm_sentiment_label"))).getOrElse(s(r, "sentiment_label"))
        val to = flip(eff)
        val row = Row(KeyMap.id(s(r, "id"), k), to, null, null, "stackbench", editedAt)
        val cols = Map("positive" -> "positive_count", "neutral" -> "neutral_count",
          "negative" -> "negative_count")
        val rk = (date, et, eid, ft)
        Op(mt, k, "serp_feature_item_overrides", row, Seq(date),
          ("features", date, et, KeyMap.name(s(r, "entity_name"), k) + "\u0000" + ft),
          expectRow("serp_feature_daily", k, rk, sfd(rk), moved(eff, to, cols),
            Seq("total_count", "positive_count", "neutral_count", "negative_count")))
    }
  }

  /** The endpoint read that must show an override, as (rows, value columns). */
  private def readBack(ctx: Ctx, gold: String, op: Op): (DataFrame, Seq[String]) = {
    def g(n: String) = ctx.spark.read.parquet(s"$gold/$n")
    def t(n: String) = ctx.spark.read.parquet(s"${ctx.data}/$n")
    val (kind, date, et, who) = op.readKey
    val day = lit(java.sql.Date.valueOf(date))
    kind match {
      case "adc" =>
        val company = if (et == "brand") who else KeyMap.id(ctx.reads.ceos
          .find(c => KeyMap.id(c("id").toString, op.copy) == who).get("company_id").toString, op.copy)
        (Api.dailyCounts(g("article_daily_counts"), et, 60, Some(Seq(company)), lit(Stack.AsOf))
          .filter(col("date") === day && col("entity_id") === who),
          Seq("positive", "neutral", "negative", "total"))
      case "screen" =>
        (Api.screen(Gold.edm(ctx.spark, ctx.data, gold), t("companies"), "serp_negative_count",
          et, day, day, minTotal = 0L, sectorContains = Some(s"[k${op.copy}]"))
          .filter(col("entity_id") === who)
          .withColumnRenamed("window_value", "serp_negative_count"), Seq("serp_negative_count"))
      case "features" =>
        val Array(name, ft) = who.split("\u0000")
        (SerpFeatures.serpFeatures(g("serp_feature_daily"), et, 90, Some(date), Some(name),
          Some(ft), asOf = lit(Stack.AsOf)),
          Seq("total_count", "positive_count", "neutral_count", "negative_count"))
    }
  }

  /** One override on the gold directory `gold`: appends its row to the
    * bronze input, refreshes its dates, and collects the read that must show
    * it. Returns the refresh's per-table seconds, the read's rows and value
    * columns, and the read's milliseconds. */
  final case class Applied(times: Seq[(String, Double)], rows: Seq[R], cols: Seq[String],
      readMs: Double)

  def applyOverride(ctx: Ctx, gold: String, op: Op): Applied = {
    ctx.appended(op.table) = ctx.appended.getOrElse(op.table, Vector.empty) :+ op.row
    val times = ctx.scoped("gold.override")(OverrideRefresh.refreshAfterOverride(
      ctx.bronze, gold, op.mentionType, op.dates.map(java.sql.Date.valueOf)))
    val t1 = System.nanoTime()
    val (df, cols) = readBack(ctx, gold, op)
    val rows = ctx.scoped("api.read_after_write")(df.collect().toSeq.map(fromRow))
    Applied(times, rows, cols, ms(t1))
  }

  /** None when the read-back is one row showing the values the override
    * stream expects. */
  def readBackProblem(op: Op, rows: Seq[R], cols: Seq[String]): Option[String] =
    if (rows.size != 1) Some(s"${rows.size} rows read back")
    else {
      val got = cols.map(c => c -> num(rows.head(c))).toMap
      if (got != op.want) Some(s"read $got, want ${op.want}") else None
    }

  /** None when the incremental state equals the closing full rebuild.
    * Overrides do not refresh `negative_summary`, so it must still equal its
    * goldens. */
  def incrementalProblem(inc: Map[String, Seq[R]], rebuilt: Map[String, Seq[R]],
      golden: Map[String, Seq[R]], copies: Int): Option[String] =
    Gold.tables.iterator.map { t =>
      if (t == "negative_summary")
        Compare.perCopy(inc(t), golden(t), copies).map(m => s"$t after overrides: $m")
      else if (inc(t).map(line).sorted != rebuilt(t).map(line).sorted)
        Some(s"$t: incremental state differs from the full rebuild")
      else None
    }.find(_.nonEmpty).flatten

  /** Whether the data file `p`, relative to the gold dir, lies outside
    * every date partition its table's refreshes `touched`. */
  def untouched(p: String, touched: Map[String, Set[String]]): Boolean = {
    val path = Paths.get(p)
    val (table, date) =
      (path.getName(0).toString, path.getParent.getFileName.toString.stripPrefix("date="))
    !touched.getOrElse(table, Set.empty).contains(date)
  }

  /** None when every untouched file of `before` has the same size and
    * mtime in `after`. */
  def untouchedProblem(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)],
      touched: Map[String, Set[String]]): Option[String] =
    before.keys.toSeq.sorted.collectFirst {
      case p if untouched(p, touched) && !after.get(p).contains(before(p)) =>
        s"$p was rewritten outside the touched dates"
    }

  /** relative path -> (size, mtime) of every data file under `dir` */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).map { p =>
      root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
  }

  def overrideRefresh(ctx: Ctx, res: Result): Unit = {
    val stream = new Overrides(ctx.reads, ctx.opts("fixtures"), ctx.seed)
    var before = Map.empty[String, (Long, Long)]
    val lat = mutable.Buffer.empty[Double]
    val readMs = mutable.Buffer.empty[Double]
    val tableMs = mutable.Map.empty[String, mutable.Buffer[Double]]
    val written = mutable.Buffer.empty[(Double, Double, Double)]
    val touched = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    var i = 0

    /** append one override, refresh its dates, read it back; returns ms */
    def apply(gold: String): Double = {
      val op = stream.next(i)
      i += 1
      val pre = if (ctx.trace) listing(gold) else Map.empty[String, (Long, Long)]
      ctx.scoped(s"override-$i") {
        val t0 = System.nanoTime()
        val a = applyOverride(ctx, gold, op)
        val took = ms(t0)
        readMs += a.readMs
        a.times.foreach { case (t, s) =>
          tableMs.getOrElseUpdate(t, mutable.Buffer.empty) += s * 1e3
          touched(t) = touched(t) ++ op.dates
        }
        res.check(s"${op.mentionType} on copy ${op.copy}")(readBackProblem(op, a.rows, a.cols))
        if (ctx.trace) {
          val fresh = listing(gold).filter { case (p, v) => !pre.get(p).contains(v) }
          written += ((fresh.keys.map(p => Paths.get(p).getParent.toString).toSet.size.toDouble,
            fresh.size.toDouble, fresh.values.map(_._1).sum.toDouble))
        }
        took
      }
    }

    // warm-up: one override of each mention type, checked but not timed
    val gold = setup(ctx, res, writable = true) { g =>
      before = listing(g)
      (1 to 4).foreach(_ => apply(g))
    }
    readMs.clear(); tableMs.clear(); written.clear()
    // timed: whole rounds of the four mention types until the deadline, at
    // least three, so that the median always sees the same mix
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || i % 4 != 0 || i < 4 * (1 + MinRounds)) {
      res.attempted += 1
      try lat += apply(gold)
      catch {
        case e: Exception =>
          res.failed += 1
          res.problems += e.toString
      }
    }
    val wall = (System.nanoTime() - start) / 1e9
    res.e2e("op_p50_ms") = (median(lat.toSeq), "ms")
    res.e2e("ops_per_s") = (lat.size / wall, "1/s")
    System.err.println(f"[stackbench] ${res.attempted} overrides in $wall%.2f s")

    // the closing full rebuild of the final inputs
    val full = s"${ctx.work}/full"
    val t0 = System.nanoTime()
    val times = ctx.scoped("gold.full.closing")(GoldRefresh.refreshToParquet(ctx.bronze, full))
    res.layer("gold.full.total_s") = (ms(t0) / 1e3, "s")

    ctx.tracer.foreach { _ =>
      Thread.sleep(2000)
      fullLayers(ctx, res, "gold.full.closing", times)
      tableMs.foreach { case (t, xs) => res.layer(s"gold.override.${t}_ms") = (median(xs.toSeq), "ms") }
      res.layer("gold.override.partitions_rewritten") = (median(written.map(_._1).toSeq), "count")
      res.layer("gold.override.files_written") = (median(written.map(_._2).toSeq), "count")
      res.layer("gold.override.bytes_written") = (median(written.map(_._3).toSeq), "bytes")
      res.layer("api.read_after_write_ms") = (median(readMs.toSeq), "ms")
    }

    // checks: incremental state against the closing full rebuild, and no
    // file outside a touched date partition rewritten
    res.check("overrides")(incrementalProblem(readGold(ctx, gold), readGold(ctx, full),
      ctx.reads.golden, ctx.copies))
    res.check("overrides")(untouchedProblem(before, listing(gold), touched.toMap))
  }
}
