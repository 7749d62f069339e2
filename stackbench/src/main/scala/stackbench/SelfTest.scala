package stackbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.gold.GoldRefresh

import Canon._
import Main.{Ctx, Result}

/** Planted-fault test of the benchmark's own checks: each check must pass
  * on the program's real output and fail once one value of that output is
  * corrupted. The corruption is applied to the collected rows, never to the
  * program. `attempted` counts planted faults, `failed` the ones missed. */
object SelfTest {

  private def corrupt(rows: Seq[R], i: Int, col: String, f: Any => Any): Seq[R] =
    rows.updated(i, rows(i) + (col -> f(rows(i)(col))))

  def run(ctx: Ctx, res: Result): Unit = {
    val gold = ctx.opts("gold")
    def expect(name: String, clean: Option[String], planted: Option[String]): Unit = {
      res.attempted += 1
      if (clean.nonEmpty) res.fail(s"$name: clean output rejected: ${clean.get}")
      if (planted.isEmpty) { res.failed += 1; res.problems += s"$name: planted fault not caught" }
      System.err.println(s"[selftest] $name: clean=${clean.getOrElse("ok")} " +
        s"planted=${planted.getOrElse("MISSED")}")
    }

    // 1. a gold row with one label moved (positive -> negative)
    val rows = Gold.tables.map(t => t -> Gold.read(ctx.spark, gold, t)).toMap
    val adc = rows("article_daily_counts")
    val i = adc.indexWhere(r => num(r("positive")) > 0)
    val flipped = corrupt(corrupt(adc, i, "positive", v => num(v) - 1), i, "negative",
      v => num(v) + 1)
    expect("gold row with a flipped label",
      Gold.checkTables(rows, ctx.reads.golden, ctx.copies),
      Gold.checkTables(rows.updated("article_daily_counts", flipped), ctx.reads.golden, ctx.copies))

    // 2. a view row with one value changed
    val views = Workloads.readViews(ctx, gold)
    views.toSeq.sortBy(_._1).foreach { case (v, vr) =>
      val c = vr.head.collectFirst { case (c, _: Number) => c }.get
      def check(rs: Seq[R]) = Compare.perCopy(rs, ctx.reads.golden(v), ctx.copies)
      expect(s"view $v", check(vr), check(corrupt(vr, 0, c, x => num(x) + 1)))
    }

    // 3. one wrong row in a read answer, for every endpoint
    val rnd = new scala.util.Random(ctx.seed)
    ctx.reads.endpoints.foreach { e =>
      val q = Iterator.continually(ctx.reads.next(rnd, e)).find { q =>
        ctx.reads.expected(q).rows.nonEmpty
      }.get
      val got = Gold.collect(ctx.reads.call(ctx.spark, ctx.data, gold, q)).map(_ - "rn")
      val want = ctx.reads.expected(q)
      val wrong = got.head.find { case (c, v) => v.isInstanceOf[Number] }
        .map { case (c, _) => corrupt(got, 0, c, v => num(v) + 1) }
        .getOrElse(corrupt(got, 0, got.head.keys.toSeq.sorted.head, v => s"$v!"))
      expect(s"read $e", Workloads.readProblem(q, got, want), Workloads.readProblem(q, wrong, want))
    }

    // 4. the override checks, on overrides of each mention type applied to
    // a private copy of the served gold and a full rebuild of their inputs
    val work = s"${ctx.work}/gold"
    Stack.copyTree(Paths.get(gold), Paths.get(work))
    val before = Workloads.listing(work)
    val stream = new Workloads.Overrides(ctx.reads, ctx.opts("fixtures"), ctx.seed)
    val touched = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    (0 until 4).foreach { i =>
      val op = stream.next(i)
      val a = Workloads.applyOverride(ctx, work, op)
      a.times.foreach { case (t, _) => touched(t) = touched(t) ++ op.dates }
      def check(rs: Seq[R]) = Workloads.readBackProblem(op, rs, a.cols)
      expect(s"read-back of a ${op.mentionType} override", check(a.rows),
        check(corrupt(a.rows, 0, a.cols.head, v => num(v) + 1)))
    }
    val full = s"${ctx.work}/full"
    GoldRefresh.refreshToParquet(ctx.bronze, full)
    val (inc, rebuilt) = (Workloads.readGold(ctx, work), Workloads.readGold(ctx, full))
    def incremental(rs: Map[String, Seq[R]]) =
      Workloads.incrementalProblem(rs, rebuilt, ctx.reads.golden, ctx.copies)
    expect("incremental state vs full rebuild", incremental(inc),
      incremental(inc.updated("serp_daily_counts",
        corrupt(inc("serp_daily_counts"), 0, "negative_serp", v => num(v) + 1))))
    val after = Workloads.listing(work)
    val spared = before.keys.toSeq.sorted.find(Workloads.untouched(_, touched.toMap)).get
    val (size, mtime) = after(spared)
    def rewritten(ls: Map[String, (Long, Long)]) =
      Workloads.untouchedProblem(before, ls, touched.toMap)
    expect("files outside the touched dates", rewritten(after),
      rewritten(after.updated(spared, (size, mtime + 1000))))
  }
}
