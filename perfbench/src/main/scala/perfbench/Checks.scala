package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.core.extract.Extractor
import graft.core.seg.{Demarcator, Rule, SegmentRow}
import graft.gen.SyntheticTranscripts
import graft.io.SnapshotStore
import graft.schema.{ConvSegment, PartitionLineage}

/** Collects failed checks; a run with any failure reports `correct: false`
  * and exits non-zero. */
final class Verdict {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && failures.size < 50) failures += what
  def ok: Boolean = failures.isEmpty
}

/** One single-thread extraction pass over a workload's turns: the extracted
  * page texts per conversation, the quarantine flags, and the time spent per
  * tool. */
final case class Extraction(pages: Vector[Vector[String]], errors: Vector[Vector[Boolean]],
                            htmlNs: Long, pdfNs: Long, passNs: Long) {
  def turns: Int = pages.iterator.map(_.size).sum
  def quarantined: Int = errors.iterator.map(_.count(identity)).sum
}

object Checks {

  def extract(convs: Vector[GenConv]): Extraction = {
    var html, pdf, pass = 0L
    val pages = Vector.newBuilder[Vector[String]]
    val errors = Vector.newBuilder[Vector[Boolean]]
    convs.foreach { c =>
      val ps = Vector.newBuilder[String]
      val es = Vector.newBuilder[Boolean]
      c.turns.foreach { t =>
        val t0 = System.nanoTime()
        val (ex, err) = Extractor.safeExtract(t.tool, t.text)
        val dt = System.nanoTime() - t0
        t.tool match {
          case Extractor.ToolHtml => html += dt
          case Extractor.ToolPdf => pdf += dt
          case _ => pass += dt
        }
        ps += ex.text
        es += err
      }
      pages += ps.result()
      errors += es.result()
    }
    Extraction(pages.result(), errors.result(), html, pdf, pass)
  }

  /** html/pdf turns whose generator coordinates mark them corrupt. */
  def expectedQuarantine(convs: Vector[GenConv]): Int =
    convs.iterator.map { c =>
      c.turns.indices.count { i =>
        val t = c.turns(i)
        val (ci, idx) = c.origin(i)
        (t.tool == Extractor.ToolHtml || t.tool == Extractor.ToolPdf) &&
          SyntheticTranscripts.isCorruptTurn(ci, idx)
      }
    }.sum

  /** Every phrase the generator planted in a turn is in that turn's
    * extracted text, passthrough turns come back unchanged, and exactly the
    * corrupt html/pdf turns are quarantined. */
  def extraction(v: Verdict, convs: Vector[GenConv], ex: Extraction, seed: Long): Unit = {
    val plans = mutable.Map.empty[Long, SyntheticTranscripts.ConvPlan]
    convs.indices.foreach { k =>
      val c = convs(k)
      c.turns.indices.foreach { i =>
        val t = c.turns(i)
        val (ci, idx) = c.origin(i)
        val text = ex.pages(k)(i)
        val err = ex.errors(k)(i)
        val parsed = t.tool == Extractor.ToolHtml || t.tool == Extractor.ToolPdf
        val corrupt = parsed && SyntheticTranscripts.isCorruptTurn(ci, idx)
        v.check(err == corrupt, s"${t.conv_id} turn ${t.turn_idx}: quarantined=$err, corrupt=$corrupt")
        if (!parsed) v.check(text == t.text, s"${t.conv_id} turn ${t.turn_idx}: passthrough changed")
        if (!corrupt) {
          val plan = plans.getOrElseUpdate(ci, SyntheticTranscripts.plan(seed, ci))
          plan.exactPages.get(idx) match {
            case Some(phrase) => v.check(text == phrase, s"${t.conv_id} turn ${t.turn_idx}: exact page changed")
            case None =>
              plan.plants.getOrElse(idx, Vector.empty).foreach { ph =>
                v.check(text.contains(ph), s"${t.conv_id} turn ${t.turn_idx}: planted '$ph' missing")
              }
          }
        }
      }
    }
  }

  /** The committed segments and lineage, read back from the store. */
  def segments(v: Verdict, spark: SparkSession, store: SnapshotStore, segSnap: Long,
               linSnap: Long, reported: Long, convs: Vector[GenConv], quarantine: Int): Unit = {
    import spark.implicits._
    val nRules = convs.iterator.map(_.rules.size.toLong).sum
    v.check(store.rowCount(segSnap).contains(nRules),
      s"manifest row_count ${store.rowCount(segSnap)} != $nRules rules")
    v.check(reported == nRules, s"SubmitMain reported $reported segments, $nRules rules")
    val byConv = store.read(spark, segSnap).as[ConvSegment].collect().groupBy(_.conv_id)
    v.check(byConv.keySet == convs.map(_.turns.head.conv_id).toSet, "segment conversations != input conversations")
    convs.foreach { c =>
      val cid = c.turns.head.conv_id
      val total = c.turns.size
      val out = byConv.getOrElse(cid, Array.empty[ConvSegment]).toVector
      v.check(out.map(r => (r.DocumentTypeId, r.Sequence)).sorted ==
        c.rules.map(r => (r.DocumentTypeID, r.Sequence)).sorted, s"$cid: rows are not one per rule")
      out.foreach { r =>
        v.check(r.TotalNumberOfpages == total, s"$cid: TotalNumberOfpages ${r.TotalNumberOfpages} != $total")
        if (r.FromPageNumber > 0)
          v.check(r.FromPageNumber <= r.ToPageNumber && r.ToPageNumber <= total &&
            r.NoOfPages == r.ToPageNumber - r.FromPageNumber + 1,
            s"$cid seq ${r.Sequence}: bad range ${r.FromPageNumber}-${r.ToPageNumber}/${r.NoOfPages}")
        else
          v.check(r.ToPageNumber == 0 && r.NoOfPages == 0, s"$cid seq ${r.Sequence}: half-zeroed row")
      }
      out.filter(_.FromPageNumber > 0).sortBy(_.FromPageNumber).sliding(2).foreach {
        case Seq(a, b) => v.check(a.ToPageNumber < b.FromPageNumber, s"$cid: ranges overlap")
        case _ =>
      }
      val nowhere = c.rules.filter(_.StartingIdentifier.startsWith("zqnowhere")).map(_.Sequence).toSet
      out.filter(r => nowhere(r.Sequence)).foreach { r =>
        v.check(r.FromPageNumber == 0 && r.ToPageNumber == 0, s"$cid seq ${r.Sequence}: unfindable rule found")
      }
    }
    val lin = store.read(spark, linSnap).as[PartitionLineage].collect()
    val nTurns = convs.iterator.map(_.turns.size.toLong).sum
    v.check(lin.map(_.rows_in).sum == nTurns, s"lineage rows_in ${lin.map(_.rows_in).sum} != $nTurns turns")
    v.check(lin.map(_.errors).sum == quarantine, s"lineage errors ${lin.map(_.errors).sum} != $quarantine corrupt turns")
  }

  /** The reference-generated demarcation cases replay exactly. */
  def golden(v: Verdict, file: Path): Unit = {
    v.check(Files.isRegularFile(file), s"missing $file")
    if (Files.isRegularFile(file)) {
      val cases = new ObjectMapper().readTree(Files.readAllBytes(file)).elements().asScala.toVector
      v.check(cases.nonEmpty, "no golden demarcation cases")
      cases.foreach { c =>
        val pages = c.get("pages").elements().asScala.map(_.asText()).toIndexedSeq
        val rules = c.get("rules").elements().asScala.map(goldenRule).toVector
        val expected = c.get("expected").elements().asScala.map(goldenRow).toVector
        v.check(Demarcator.demarcate(pages, rules) == expected, s"golden case ${c.get("name").asText()} differs")
      }
    }
  }

  private def optStr(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText())
  private def optLong(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong())

  private def goldenRule(n: JsonNode): Rule = Rule(
    documentTypeId = optStr(n, "DocumentTypeID"),
    documentTypeName = n.get("DocumentTypeName").asText(),
    startingIdentifier = n.get("StartingIdentifier").asText(),
    startingIdentifierPlus1 = n.get("StartingIdentifierPlus1").asText(),
    endingIdentifier = n.get("EndingIdentifier").asText(),
    endingIdentifierMinus1 = n.get("EndingIdentifierMinus1").asText(),
    noOfPages = n.get("NoOfPages").asInt(),
    occurence = n.get("Occurence").asInt(),
    startingMinusN = n.get("StartingMinusN").asText(),
    endingMinusN = n.get("EndingMinusN").asText(),
    sequence = optStr(n, "Sequence"),
    docReceivedId = optLong(n, "DocReceivedId"),
    firmFile = optStr(n, "FirmFile"),
    uploadDatasheetId = optLong(n, "UploadDatasheetid"),
    sessionId = optStr(n, "SessionId"))

  private def goldenRow(n: JsonNode): SegmentRow = SegmentRow(
    DocReceivedId = optLong(n, "DocReceivedId"),
    FromPageNumber = n.get("FromPageNumber").asInt(),
    ToPageNumber = n.get("ToPageNumber").asInt(),
    FileNumber = optStr(n, "FileNumber"),
    DocumentTypeId = optStr(n, "DocumentTypeId"),
    UploadDataSheetId = optLong(n, "UploadDataSheetId"),
    TotalNumberOfpages = n.get("TotalNumberOfpages").asInt(),
    NoOfPages = n.get("NoOfPages").asInt(),
    Sequence = optStr(n, "Sequence"),
    SessionId = optStr(n, "SessionId"))

  /** `h32`: the first four bytes of the MD5 of the id, unsigned. */
  private def h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Tokens of a rendered turn: one for the role, plus the pieces of the
    * text split on single spaces. */
  private def turnTokens(text: String): Long = 2L + text.count(_ == ' ')

  /** The curation output against the benchmark's own fork universe, token
    * counts and packing prefix sum. */
  def curation(v: Verdict, rows: Array[Row], convs: Vector[GenConv], forkMod: Long, budget: Long): Unit = {
    val inputs = convs.map(c => c.turns.head.conv_id -> c).toMap
    val tokens = mutable.Map.empty[String, Long]
    convs.foreach { c =>
      val id = c.turns.head.conv_id
      val all = c.turns.map(t => turnTokens(t.text))
      tokens(id) = all.sum
      if (forkMod > 0 && h32(id) % forkMod == 0 && c.turns.size >= 2)
        tokens(id + "~f") = all.sum - turnTokens(c.turns.maxBy(_.turn_idx).text)
    }
    val ids = rows.map(_.getAs[String]("conv_id"))
    v.check(ids.length == ids.distinct.length, "curation: duplicate conversation rows")
    v.check(ids.toSet == tokens.keySet, s"curation: ${ids.length} rows, expected ${tokens.size} conversations and forks")
    rows.foreach { r =>
      val id = r.getAs[String]("conv_id")
      val fork = id.endsWith("~f")
      v.check(r.getAs[Boolean]("is_fork") == fork, s"$id: is_fork wrong")
      if (fork) v.check(inputs.contains(id.stripSuffix("~f")), s"$id: fork of no input conversation")
      val sel = r.getAs[Boolean]("selected")
      v.check(sel == (r.getAs[Boolean]("dedup_keep") && r.getAs[Boolean]("echo_keep")), s"$id: selected != dedup_keep AND echo_keep")
      if (sel)
        v.check(!r.isNullAt(r.fieldIndex("n_tokens")) && tokens.get(id).contains(r.getAs[Long]("n_tokens")),
          s"$id: n_tokens ${r.getAs[Any]("n_tokens")} != ${tokens.get(id)}")
      else
        v.check(r.isNullAt(r.fieldIndex("pack_id")) && r.isNullAt(r.fieldIndex("pack_offset")),
          s"$id: not selected but carries pack coordinates")
    }
    def key(id: String): Long =
      id.dropWhile(!_.isDigit).takeWhile(_.isDigit).toLong + (if (id.endsWith("~f")) 1000000000L else 0L)
    var before = 0L
    rows.filter(_.getAs[Boolean]("selected"))
      .sortBy(r => (-tokens(r.getAs[String]("conv_id")), key(r.getAs[String]("conv_id"))))
      .foreach { r =>
        val id = r.getAs[String]("conv_id")
        val got = (Option(r.getAs[java.lang.Long]("pack_id")).map(_.longValue),
          Option(r.getAs[java.lang.Long]("pack_offset")).map(_.longValue))
        v.check(got == (Some(before / budget), Some(before % budget)),
          s"$id: pack ${got} != (${before / budget}, ${before % budget})")
        before += tokens(id)
      }
  }
}
