package perfbench

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.seg.Demarcator
import graft.io.SnapshotStore
import graft.ops.TranscriptOps
import graft.pipeline.{PartitionStatsAcc, Pipeline}
import graft.plans.SegmentPlans

object Num {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def secs(ns: Long): Double = ns / 1e9
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    secs(System.nanoTime() - t0)
  }
  val MB: Double = 1048576.0
}

/** The traced run's per-layer measurements. Each layer is called through its
  * public functions, `Reps` times, and reported as the median; every call
  * runs inside a span. */
final class Layers(ctx: Ctx, convs: Vector[GenConv], first: Extraction, trace: Tracer) {
  import Num._

  val Reps = 3
  type Metric = (String, Double, String)

  private def reps(name: String)(body: => Unit): Double =
    median((1 to Reps).map(_ => time(trace(name)(body))))

  private def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Spark counters per end-to-end call (median over the timed calls). */
  def sparkCounters(c: CallCounters): Seq[Metric] = {
    val calls = c.calls("call-")
    def med(f: c.Acc => Double): Double = median(calls.map(f))
    def p50Ms(a: c.Acc): Double = math.max(1.0, median(a.taskMs.map(_.toDouble).toSeq))
    Seq(
      ("spark.jobs", med(_.jobs.toDouble), "count"),
      ("spark.stages", med(_.stages.toDouble), "count"),
      ("spark.tasks", med(_.tasks.toDouble), "count"),
      ("shuffle.write_mb", med(_.shuffleWrite / MB), "MB"),
      ("shuffle.read_mb", med(_.shuffleRead / MB), "MB"),
      ("spill.mb", med(_.spill / MB), "MB"),
      ("task.max_s", med(_.taskMs.max / 1e3), "s"),
      ("task.p50_s", med(p50Ms(_) / 1e3), "s"),
      ("task.skew", med(a => a.taskMs.max / p50Ms(a)), "ratio"),
      ("executor.cpu_s", med(_.cpuNs / 1e9), "s"),
      ("executor.gc_s", med(_.gcMs / 1e3), "s"))
  }

  /** graft.core.extract / html / pdf: one thread, no Spark, the workload's
    * own turns. */
  def extraction: Seq[Metric] = {
    val passes = first +: (2 to Reps).map(_ => trace("extract.pass")(Checks.extract(convs)))
    Seq(
      ("extract.html_s", median(passes.map(p => secs(p.htmlNs))), "s"),
      ("extract.pdf_s", median(passes.map(p => secs(p.pdfNs))), "s"),
      ("extract.passthrough_s", median(passes.map(p => secs(p.passNs))), "s"),
      ("extract.turns", first.turns.toDouble, "count"),
      ("extract.quarantined", first.quarantined.toDouble, "count"))
  }

  /** graft.core.seg / text: one thread over the pages extracted above. */
  def fold: Seq[Metric] = {
    val rules = convs.map(_.rules.map(Pipeline.toCoreRule))
    val passes = (1 to Reps).map { _ =>
      trace("fold.pass") {
        var norm, total = 0L
        var found = 0
        convs.indices.foreach { k =>
          val pages = first.pages(k)
          val t0 = System.nanoTime()
          new Demarcator.Doc(pages)
          val t1 = System.nanoTime()
          val (rows, _) = Demarcator.demarcateIsolated(pages, rules(k))
          val t2 = System.nanoTime()
          norm += t1 - t0
          total += t2 - t1
          found += rows.count(_.FromPageNumber > 0)
        }
        (secs(norm), secs(total - norm), found)
      }
    }
    val nRules = rules.iterator.map(_.size).sum
    val found = passes.head._3
    Seq(
      ("fold.normalize_s", median(passes.map(_._1)), "s"),
      ("fold.scan_s", median(passes.map(_._2)), "s"),
      ("fold.rules", nRules.toDouble, "count"),
      ("fold.found", found.toDouble, "count"),
      ("fold.found_ratio", found.toDouble / nRules, "ratio"))
  }

  /** graft.pipeline / graft.plans at the session's parallelism. */
  def plans: Seq[Metric] = {
    val parts = ctx.spark.sessionState.conf.numShufflePartitions
    def payload = ctx.turnsDf.select("conv_id", "turn_idx", "tool", "text")
    Seq(
      ("scan.s", reps("scan")(consume(payload)), "s"),
      ("exchange.s", reps("exchange")(consume(
        payload.repartition(parts, col("conv_id")).sortWithinPartitions("conv_id", "turn_idx"))), "s"),
      ("route.segment_s", reps("route.segment")(Pipeline.segmentAuto(ctx.turns, ctx.rules).count()), "s"),
      ("route.catalyst_s",
        reps("route.catalyst")(Try(SegmentPlans.segmentJoin(ctx.turns, ctx.rules).count())), "s"))
  }

  /** graft.io: appending segment rows and lineage computed beforehand. */
  def commit: Seq[Metric] = {
    val stats = new PartitionStatsAcc
    ctx.spark.sparkContext.register(stats, "perfbench.commit_lineage")
    val seg = Pipeline.segmentAuto(ctx.turns, ctx.rules, stats = Some(stats)).toDF().localCheckpoint(true)
    val lin = Pipeline.lineageFromStats(ctx.spark, "segment", stats.value, 1L).toDF().localCheckpoint(true)
    var bytes = 0L
    var i = 0
    val s = reps("commit") {
      val dir = ctx.work.resolve(s"commit-$i")
      i += 1
      val store = new SnapshotStore(dir.toString)
      store.append(seg, Map("table" -> "segments"))
      store.append(lin, Map("table" -> "lineage"))
      bytes = Files.walk(dir.resolve("data")).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    }
    Seq(("commit.s", s, "s"), ("commit.mb", bytes / MB, "MB"))
  }

  /** graft.ops: the curation stages on their own, and the pipeline's counts,
    * on the curate_pipeline input of the run's seed (materialized here unless
    * this run is that workload). */
  def curation(last: Outcome, seed: Long): Seq[Metric] = {
    val (on, rows) = last match {
      case c: CurateOutcome => (ctx, c.rows)
      case _ =>
        val dir = ctx.work.resolve("curate-input")
        trace("gen.materialize")(Inputs.materialize(ctx.spark, Main.Workloads("curate_pipeline").shape, seed, dir))
        val cc = new Ctx(ctx.spark, dir, ctx.work)
        (cc, trace("curate.pipeline")(TranscriptOps.transcriptPipeline(cc.turnsDf).collect()))
    }
    Seq(
      ("curate.dedup_s", reps("curate.dedup")(consume(TranscriptOps.convDedup(on.turnsDf))), "s"),
      ("curate.echo_s", reps("curate.echo")(consume(TranscriptOps.echoDetect(on.turnsDf))), "s"),
      ("curate.rows", rows.length.toDouble, "count"),
      ("curate.selected", rows.count(_.getAs[Boolean]("selected")).toDouble, "count"))
  }

  def all(last: Outcome, seed: Long): Seq[Metric] =
    extraction ++ fold ++ plans ++ commit ++ curation(last, seed)
}
