package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}

import graft.io.SnapshotStore
import graft.ops.{DocTextOps, TranscriptOps}
import graft.plans.SegmentPlans
import graft.schema.{ConvRule, Turn}

/** One workload: its input shape, its pacing, and the operations it attempts
  * per timed iteration. */
sealed trait Workload {
  def name: String
  def shape: Shape
  def pace: Pace
  /** Operations attempted per timed iteration (the timed call plus any
    * operation attempted beside it). */
  def opsPerIteration: Int = 1
}
/** Warm-up runs calls for at least `minWarmS` seconds and then until it is
  * settled, giving up at `maxWarmS`; the timed region makes at least
  * `minTimed` calls. */
final case class Pace(minWarmS: Double, maxWarmS: Double, minTimed: Int)

final case class SegmentWorkload(name: String, shape: Shape, pace: Pace, attemptCatalyst: Boolean)
    extends Workload {
  override def opsPerIteration: Int = if (attemptCatalyst) 2 else 1
}
final case class CurateWorkload(name: String, shape: Shape, pace: Pace) extends Workload

object Main {

  val Workloads: Map[String, Workload] = Seq(
    SegmentWorkload("segment_mixed", Plain(1500), Pace(18, 30, 3), attemptCatalyst = true),
    SegmentWorkload("segment_monster", Monster(8, 150), Pace(12, 25, 3), attemptCatalyst = false),
    CurateWorkload("curate_pipeline", Plain(100), Pace(30, 45, 2))
  ).map(w => w.name -> w).toMap

  /** Input materializations per run; `setup_s` takes their median. */
  val SetupReps = 3
  /** Warm-up is settled when its last two calls lie within `SettleRatio` of
    * each other. */
  val SettleRatio = 1.10

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload required"))
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.keys.toSeq.sorted.mkString(", ")})")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1")
  }

  import Num.{median, secs}
  private def cpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val wl = Workloads(args.workload)
    val bench = Paths.get(".bench_work").toAbsolutePath
    val work = bench.resolve(s"run-${ProcessHandle.current().pid()}")
    deleteTree(work)
    Files.createDirectories(work)
    HeapWatch.install()
    val trace = new Tracer(args.trace)

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = trace("session.start") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", (4 * cores).toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(System.nanoTime() - t0)

    // ---- setup: the input tables, materialized SetupReps times ----
    val genS = (0 until SetupReps).map { i =>
      val dir = work.resolve(s"input-$i")
      Num.time(trace("gen.materialize")(Inputs.materialize(spark, wl.shape, args.seed, dir)))
    }
    (0 until SetupReps - 1).foreach(i => deleteTree(work.resolve(s"input-$i")))
    val input = work.resolve(s"input-${SetupReps - 1}")
    val setupS = sessionS + median(genS)
    val convs = Inputs.local(wl.shape, args.seed)
    val nTurns = convs.iterator.map(_.turns.size.toLong).sum

    val ctx = new Ctx(spark, input, work)
    val verdict = new Verdict
    val counters = new CallCounters
    if (args.trace) spark.sparkContext.addSparkListener(counters)

    // ---- warm-up until settled, then timed iterations ----
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pace = wl.pace
    def settled: Boolean = warm.size >= 2 && {
      val w = warm.takeRight(2)
      w.max / w.min <= SettleRatio
    }
    var iter = 0
    val warmStart = System.nanoTime()
    def warmS = secs(System.nanoTime() - warmStart)
    while (warmS < pace.minWarmS || (!settled && warmS < pace.maxWarmS)) {
      val (out, ns) = ctx.call(wl, iter)
      out.dispose()
      warm += secs(ns)
      iter += 1
    }
    val wallS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var cpuS = 0.0
    var failed = 0
    val heapMb = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: Outcome = null
    val timedStart = System.nanoTime()
    while (wallS.size < pace.minTimed || secs(System.nanoTime() - timedStart) < args.seconds) {
      HeapWatch.begin()
      val c0 = cpuNs
      val (out, ns) = CallCounters.tagged(spark.sparkContext, s"call-$iter") {
        trace(s"e2e.${wl.name}")(ctx.call(wl, iter))
      }
      cpuS += secs(cpuNs - c0)
      wallS += secs(ns)
      heapMb += HeapWatch.end() / 1048576.0
      wl match {
        case SegmentWorkload(_, _, _, true) =>
          if (!trace("route.catalyst")(ctx.catalystAttempt(nRulesOf(convs)))) failed += 1
        case _ =>
      }
      if (last != null) last.dispose()
      last = out
      iter += 1
    }
    val calls = wallS.size
    val turnsPerS = nTurns / median(wallS.toSeq)

    // ---- checks, outside the timed region ----
    Checks.golden(verdict, Paths.get("src/test/resources/golden/demarcation_cases.json"))
    val ex = trace("extract.pass")(Checks.extract(convs))
    Checks.extraction(verdict, convs, ex, args.seed)
    val quarantine = Checks.expectedQuarantine(convs)
    verdict.check(ex.quarantined == quarantine, s"extraction quarantined ${ex.quarantined}, expected $quarantine")
    last match {
      case s: SegOutcome =>
        Checks.segments(verdict, spark, s.store, s.segSnap, s.linSnap, s.reported, convs, quarantine)
      case c: CurateOutcome =>
        Checks.curation(verdict, c.rows, convs, TranscriptOps.ConvForkMod, DocTextOps.DefaultPackBudget)
    }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("turns_per_s", turnsPerS, "turns/s"),
        ("setup_s", setupS, "s"),
        ("cpu_s_per_mturn", cpuS / (nTurns.toDouble * calls) * 1e6, "s/Mturn"),
        ("heap_peak_mb", median(heapMb.toSeq), "MB"))
      else {
        counters.settle()
        val layers = new Layers(ctx, convs, ex, trace)
        val m = Seq(("gen.materialize_s", median(genS), "s")) ++ layers.sparkCounters(counters) ++
          layers.all(last, args.seed)
        TraceFile.write(bench.resolve("traces"), wl.name, args.seed, trace, m,
          Map("traced_turns_per_s" -> turnsPerS, "timed_calls" -> calls.toDouble,
            "warmup_calls" -> warm.size.toDouble, "input_turns" -> nTurns.toDouble))
        m
      }

    if (last != null) last.dispose()
    spark.stop()
    deleteTree(work)
    verdict.failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    System.err.println(f"${wl.name}: warm-up ${warm.map(x => f"$x%.2f").mkString(" ")} | timed ${wallS.map(x => f"$x%.2f").mkString(" ")}")
    val attempted = calls * wl.opsPerIteration
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${verdict.ok}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    System.exit(if (verdict.ok) 0 else 1)
  }

  def nRulesOf(convs: Vector[GenConv]): Long = convs.iterator.map(_.rules.size.toLong).sum

  def jsonNum(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }
}

/** The output of one end-to-end call, kept until the next call replaces it. */
sealed trait Outcome { def dispose(): Unit = () }
final case class SegOutcome(store: SnapshotStore, dir: Path, segSnap: Long, linSnap: Long, reported: Long)
    extends Outcome {
  override def dispose(): Unit = Main.deleteTree(dir)
}
final case class CurateOutcome(rows: Array[Row]) extends Outcome

/** The session, the materialized input tables and the run's scratch space. */
final class Ctx(val spark: SparkSession, val input: Path, val work: Path) {
  val turnsPath: String = input.resolve("turns").toString
  val rulesPath: String = input.resolve("rules").toString

  def turns: Dataset[Turn] = spark.read.schema(Encoders.product[Turn].schema).parquet(turnsPath).as(Encoders.product[Turn])
  def rules: Dataset[ConvRule] =
    spark.read.schema(Encoders.product[ConvRule].schema).parquet(rulesPath).as(Encoders.product[ConvRule])
  def turnsDf: DataFrame = turns.toDF()

  private val Reported = """"segments_snapshot":(\d+),"lineage_snapshot":(\d+),"segments":(\d+)""".r.unanchored

  /** One end-to-end call of the workload's entry point, timed. */
  def call(wl: Workload, i: Int): (Outcome, Long) = wl match {
    case _: SegmentWorkload =>
      val dir = work.resolve(s"store-$i")
      val buf = new ByteArrayOutputStream()
      val t0 = System.nanoTime()
      Console.withOut(new PrintStream(buf, true, StandardCharsets.UTF_8)) {
        graft.SubmitMain.main(Array("--turns", turnsPath, "--rules", rulesPath, "--out", dir.toString))
      }
      val ns = System.nanoTime() - t0
      val out = new String(buf.toByteArray, StandardCharsets.UTF_8)
      out match {
        case Reported(s, l, n) => (SegOutcome(new SnapshotStore(dir.toString), dir, s.toLong, l.toLong, n.toLong), ns)
        case _ => sys.error(s"SubmitMain printed no summary: $out")
      }
    case _: CurateWorkload =>
      val t0 = System.nanoTime()
      val rows = TranscriptOps.transcriptPipeline(turnsDf).collect()
      (CurateOutcome(rows), System.nanoTime() - t0)
  }

  /** `SegmentPlans.segmentJoin(turns, rules).count()`; true when it returns
    * the rule count. */
  def catalystAttempt(nRules: Long): Boolean =
    Try(SegmentPlans.segmentJoin(turns, rules).count()).toOption.contains(nRules)
}
