package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.gen.SyntheticTranscripts
import graft.schema.{ConvRule, Turn}

/** One conversation of a workload's input: its turns in `turn_idx` order,
  * its rules, and for every turn the generator coordinates it came from
  * (corpus conversation index, turn index within that conversation), so the
  * checks can ask `SyntheticTranscripts.plan` what was planted where. */
final case class GenConv(turns: Vector[Turn], rules: Vector[ConvRule], origin: Vector[(Long, Int)])

/** The shape of a workload's input table: how many conversations it holds
  * and how conversation `u` is generated from the workload seed. Pure in
  * `(seed, u)`, so the Spark materialization and the in-JVM copy the
  * checks use are the same rows. */
sealed trait Shape extends Serializable {
  def units: Long
  def turns(seed: Long, u: Long): Vector[Turn]
  def rules(seed: Long, u: Long): Vector[ConvRule]
  def conv(seed: Long, u: Long): GenConv
}

/** Ordinary synthetic conversations `0 until n`: 8–24 turns, every 97th
  * twelve times longer, 40/30/30 html/pdf/passthrough, 2–5 rules. */
final case class Plain(n: Long) extends Shape {
  def units: Long = n
  def turns(seed: Long, u: Long): Vector[Turn] = SyntheticTranscripts.turnsFor(seed, u).toVector
  def rules(seed: Long, u: Long): Vector[ConvRule] = SyntheticTranscripts.rulesFor(seed, u).toVector
  def conv(seed: Long, u: Long): GenConv = {
    val ts = turns(seed, u)
    GenConv(ts, rules(seed, u), ts.map(t => (u, t.turn_idx)))
  }
}

/** `n` very long conversations. Monster `m` concatenates the synthetic
  * conversations `m * perConv until (m + 1) * perConv` under one conv_id,
  * renumbering `turn_idx` (consecutive from 1) and `Sequence` (consecutive
  * from 1 in source order), so every rule keeps its planted pages. */
final case class Monster(n: Long, perConv: Int) extends Shape {
  def units: Long = n
  def id(m: Long): String = f"monster-$m%04d"
  private def parts(m: Long): Iterator[Long] = (0 until perConv).iterator.map(j => m * perConv + j)

  def turns(seed: Long, m: Long): Vector[Turn] = conv(seed, m).turns

  def rules(seed: Long, m: Long): Vector[ConvRule] = {
    var off = 0
    parts(m).flatMap { idx =>
      val rs = SyntheticTranscripts.rulesFor(seed, idx)
      val base = off
      off += rs.size
      rs.map(r => r.copy(conv_id = id(m), Sequence = (base + r.Sequence.trim.toInt).toString))
    }.toVector
  }

  def conv(seed: Long, m: Long): GenConv = {
    val ts = Vector.newBuilder[Turn]
    val origin = Vector.newBuilder[(Long, Int)]
    var off = 0
    parts(m).foreach { idx =>
      val sub = SyntheticTranscripts.turnsFor(seed, idx)
      sub.foreach { t =>
        ts += t.copy(conv_id = id(m), turn_idx = off + t.turn_idx)
        origin += ((idx, t.turn_idx))
      }
      off += sub.size
    }
    GenConv(ts.result(), rules(seed, m), origin.result())
  }
}

object Inputs {

  /** Writes the workload's turns and rules as parquet tables under `dir`
    * (`dir/turns`, `dir/rules`), generated in parallel by the session. */
  def materialize(spark: SparkSession, shape: Shape, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val sh = shape
    spark.range(0, sh.units, 1, par).flatMap(u => sh.turns(seed, u))
      .write.parquet(dir.resolve("turns").toString)
    spark.range(0, sh.units, 1, par).flatMap(u => sh.rules(seed, u))
      .write.parquet(dir.resolve("rules").toString)
  }

  /** The same conversations, generated in the JVM for the checks and the
    * single-thread layer timings. */
  def local(shape: Shape, seed: Long): Vector[GenConv] =
    (0L until shape.units).iterator.map(u => shape.conv(seed, u)).toVector
}
