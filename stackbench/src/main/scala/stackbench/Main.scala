package stackbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Sessions
import graft.gold.GoldRefresh
import org.apache.spark.sql.{DataFrame, Row, SparkSession}


/** Entry point. Modes:
  *  - `gen <fixtures> <out> <copies>`: write the scaled stack;
  *  - `gold <stack> <out>`: the program's full gold refresh of the stack;
  *  - `run key=value...`: one benchmark run, result JSON to `result=`;
  *  - `selftest key=value...`: the planted-fault check of the checks.
  */
object Main {

  final class Ctx(val opts: Map[String, String]) {
    val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: String = opts.getOrElse("workload", "")
    val seed: Long = opts.getOrElse("seed", "1").toLong
    val seconds: Double = opts.getOrElse("seconds", "10").toDouble
    val trace: Boolean = opts.getOrElse("trace", "0") == "1"
    val data: String = opts("data")
    val work: String = opts("work")
    val copies: Int = """"copies": (\d+)""".r
      .findFirstMatchIn(Files.readString(Paths.get(data, "ROWS.json"))).get.group(1).toInt
    val cores: Int = Runtime.getRuntime.availableProcessors()
    val reads = new Reads(opts("fixtures"), opts("goldens"), copies)

    private val t = System.nanoTime()
    val spark: SparkSession = Sessions.local(cores.toString)
    val sessionMs: Double = (System.nanoTime() - t) / 1e6
    val sessionReadyMs: Long = System.currentTimeMillis()
    val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark.sparkContext)) else None

    /** override rows appended by the run, per override table */
    val appended: mutable.Map[String, Vector[Row]] = mutable.Map.empty
    lazy val stack: Map[String, DataFrame] = Stack.open(spark, data)
    def bronze: GoldRefresh.BronzeInputs = Stack.bronze(stack, appended.toMap)

    /** runs `body` as a span and under job group `group`; the enclosing
      * group is restored afterwards */
    def scoped[T](group: String)(body: => T): T = {
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(group, group)
      try tracer.map(_.span(group)(body)).getOrElse(body)
      finally outer.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
    }
  }

  /** what a run reports: end-to-end metrics, per-layer metrics, counts */
  final class Result {
    var correct = true
    var attempted = 0L
    var failed = 0L
    val problems: mutable.Buffer[String] = mutable.Buffer.empty
    val e2e: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
    val layer: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
    def fail(msg: String): Unit = { correct = false; if (problems.size < 20) problems += msg }
    def check(what: String)(r: Option[String]): Unit = r.foreach(m => fail(s"$what: $m"))

    def json(trace: Boolean): String = {
      val ms = (if (trace) layer else e2e).map { case (n, (v, u)) =>
        s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (pos - lo)
  }

  private def parse(args: Seq[String]): Map[String, String] =
    args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val spark = Sessions.local(Runtime.getRuntime.availableProcessors().toString)
      try Stack.generate(spark, args(1), args(2), args(3).toInt) finally spark.stop()
    case Some("gold") =>
      val spark = Sessions.local(Runtime.getRuntime.availableProcessors().toString)
      try GoldRefresh.refreshToParquet(Stack.bronze(Stack.open(spark, args(1))), args(2))
      finally spark.stop()
    case Some(mode @ ("run" | "selftest")) =>
      val ctx = new Ctx(parse(args.tail.toSeq))
      val out = new File(ctx.work)
      Stack.deleteTree(out)
      Files.createDirectories(out.toPath)
      val res = new Result
      try {
        if (mode == "selftest") SelfTest.run(ctx, res)
        else ctx.workload match {
          case "dashboard_read" => Workloads.dashboardRead(ctx, res)
          case "override_refresh" => Workloads.overrideRefresh(ctx, res)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        res.problems.foreach(p => System.err.println(s"[stackbench] check failed: $p"))
        if (ctx.trace) {
          System.err.println("[stackbench] end-to-end in the traced run: " + res.json(trace = false))
        }
        for (t <- ctx.tracer; p <- ctx.opts.get("spans"))
          Files.writeString(Paths.get(p), t.json.mkString("", "\n", "\n"))
        Files.writeString(Paths.get(ctx.opts("result")), res.json(ctx.trace) + "\n")
      } finally {
        ctx.spark.stop()
        Stack.deleteTree(out)
      }
    case _ =>
      System.err.println("usage: Main gen|run|selftest ...")
      sys.exit(2)
  }
}
