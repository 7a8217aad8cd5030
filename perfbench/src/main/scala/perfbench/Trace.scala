package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into each layer: name, start,
  * end and parent, kept in memory and written out when the run ends. A
  * disabled tracer runs the body and records nothing. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 1
  val originNs: Long = System.nanoTime()

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0 - originNs, System.nanoTime() - originNs)
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.toSeq
}

/** Spark counters per end-to-end call, from a listener. The calling thread
  * tags each call with a local property; jobs carry it in their start event,
  * and stages and tasks are attributed through their job. */
final class CallCounters extends SparkListener {
  final class Acc {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var cpuNs = 0L
    var gcMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val stageCall = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Set.empty[Int]
  private val acc = mutable.LinkedHashMap.empty[String, Acc]

  private def of(tag: String): Acc = acc.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(CallCounters.Key)))
    tag.foreach { t =>
      openJobs += e.jobId
      of(t).jobs += 1
      e.stageIds.foreach(stageCall(_) = t)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { openJobs -= e.jobId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCall.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCall.get(e.stageId).foreach { t =>
      val a = of(t)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }
  }

  /** Waits until the listener has seen the end of every tagged job it saw
    * start (events arrive asynchronously, in order, after the action). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val ok = synchronized(openJobs.isEmpty)
      stable = if (ok) stable + 1 else 0
    }
  }

  def calls(prefix: String): Seq[Acc] = synchronized(acc.collect {
    case (k, v) if k.startsWith(prefix) => v
  }.toSeq)
}

object CallCounters {
  val Key = "perfbench.call"

  def tagged[A](sc: SparkContext, tag: String)(body: => A): A = {
    sc.setLocalProperty(Key, tag)
    try body
    finally sc.setLocalProperty(Key, null)
  }
}

/** Peak heap occupancy of one call, garbage included: the most heap in use
  * at any point between `begin` and `end`, read before each collection (from
  * the JVM's GC notifications) and at the end. `begin` first collects, so
  * every call starts from the same live set instead of inheriting the
  * previous call's garbage, and the figure repeats from run to run. */
object HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageBeforeGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }

  def install(): Unit = {
    heapPools
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def begin(): Unit = {
    armed = false
    System.gc()
    Thread.sleep(50) // notifications of that collection arrive asynchronously
    peak = 0L
    armed = true
  }

  /** Bytes. */
  def end(): Long = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Thread.sleep(50)
    armed = false
    math.max(peak, now)
  }
}

/** Writes the traced run's spans, per-layer metrics and run facts as JSON. */
object TraceFile {
  def write(dir: Path, workload: String, seed: Long, trace: Tracer,
            metrics: Seq[(String, Double, String)], facts: Map[String, Double]): Path = {
    Files.createDirectories(dir)
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spans = trace.spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, "start_s": ${Main.jsonNum(s.startNs / 1e9)}, "end_s": ${Main.jsonNum(s.endNs / 1e9)}}"""
    }
    val ms = metrics.map { case (k, v, u) => s"""${str(k)}: {"value": ${Main.jsonNum(v)}, "unit": ${str(u)}}""" }
    val fs = facts.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${Main.jsonNum(v)}" }
    val json =
      s"""{"workload": ${str(workload)}, "seed": $seed,
         |"facts": {${fs.mkString(", ")}},
         |"metrics": {${ms.mkString(",\n  ")}},
         |"spans": [${spans.mkString(",\n  ")}]}
         |""".stripMargin
    val out = dir.resolve(s"$workload-seed$seed.json")
    Files.write(out, json.getBytes(StandardCharsets.UTF_8))
    out
  }
}
