package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary. `op` is the batch or query
  * the span belongs to; `parent` is the enclosing span, -1 at the top. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the Spark runtime did for one operation, as seen by a listener:
  * jobs with their wall intervals (epoch ms), tasks, and bytes. */
final class OpRuntime {
  var jobs = 0
  var tasks = 0
  var inputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener that attributes every job and task to the operation whose
  * id the driver thread set as the `perfbench.op` local property, and
  * tracks live broadcast blocks from block-update events. */
final class RuntimeListener extends SparkListener {
  val byOp = mutable.Map.empty[Int, OpRuntime]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val liveBroadcast = mutable.Set.empty[String]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(RuntimeListener.OpKey)))
      .map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      byOp.getOrElseUpdate(op, new OpRuntime).jobs += 1
      jobStart(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, start) =>
      byOp(op).jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val r = byOp.getOrElseUpdate(op, new OpRuntime)
      r.tasks += 1
      Option(e.taskMetrics).foreach(r.inputBytes += _.inputMetrics.bytesRead)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isBroadcast) {
        if (b.storageLevel.isValid) liveBroadcast += b.blockId.name
        else liveBroadcast -= b.blockId.name
      }
    }

  /** Distinct broadcasts that still hold a block (block names are
    * `broadcast_<id>_piece<n>`). */
  def liveBroadcasts: Int =
    synchronized(liveBroadcast.map(_.split("_")(1)).size)
}

object RuntimeListener { val OpKey = "perfbench.op" }

/** Spans, per-operation FS counts and the runtime listener. Disabled,
  * every method runs its body and records nothing, so the untimed run
  * pays for no bookkeeping. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1
  val listener = new RuntimeListener
  /** Counts per operation: the FS counter deltas, plus what `count`
    * adds. */
  val countsByOp = mutable.Map.empty[Int, Map[String, Long]]

  if (enabled) spark.sparkContext.addSparkListener(listener)

  def toEpochMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  /** Run `body` as operation `op`: the root span of that operation,
    * with its jobs and FS calls attributed to it. */
  def op[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val before = CountingFileSystem.snapshot()
      currentOp = op
      sc.setLocalProperty(RuntimeListener.OpKey, op.toString)
      try record(name)(body)
      finally {
        sc.setLocalProperty(RuntimeListener.OpKey, null)
        currentOp = -1
        val after = CountingFileSystem.snapshot()
        countsByOp(op) = after.map { case (k, v) => k -> (v - before(k)) }
      }
    }

  /** Record `n` as operation `op`'s count of `key`. */
  def count(op: Int, key: String, n: Long): Unit =
    if (enabled)
      countsByOp(op) = countsByOp.getOrElse(op, Map.empty) + (key -> n)

  /** A child span inside the current operation; outside an operation
    * (set-up) nothing is recorded. */
  def span[T](name: String)(body: => T): T =
    if (currentOp < 0) body else record(name)(body)

  private def record[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, currentOp, parent, s, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Forget every operation recorded so far (the warm-up's). */
  def reset(): Unit = if (enabled) {
    drain()
    spans.clear()
    countsByOp.clear()
    listener.synchronized(listener.byOp.clear())
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (enabled) PerfbenchAccess.drainListeners(spark.sparkContext)

  def runtime(op: Int): OpRuntime =
    listener.synchronized(listener.byOp.getOrElse(op, new OpRuntime))

  /** Seconds of `span` during which at least one of its operation's
    * jobs was running. */
  def busySeconds(s: Span): Double = {
    val lo = toEpochMs(s.startNs)
    val hi = toEpochMs(s.endNs)
    val iv = runtime(s.op).jobIntervals
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var end = Double.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) busy += b - from
      end = math.max(end, b)
    }
    busy / 1e3
  }

  /** Self time by span name: duration minus the part of it covered by
    * child spans, summed over every span of that name. */
  def selfTimes(): Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(_.seconds).sum
      val self = ss.map { s =>
        s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
      }.sum
      (name, ss.size, total, self)
    }.sortBy(-_._4)
  }

  /** Spans, counts per operation, the per-layer metrics and the
    * end-to-end figures as traced, as one JSON object. */
  def writeArtifact(path: java.nio.file.Path, counts: Seq[(String, Double)],
      endToEnd: Seq[(String, Double)]): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"name":"${s.name}","op":${s.op},""" +
        s""""parent":${s.parent},"start_ms":${toEpochMs(s.startNs)},""" +
        s""""end_ms":${toEpochMs(s.endNs)}}""")
    }
    sb.append("],\"counts_by_op\":{")
    sb.append(countsByOp.toSeq.sortBy(_._1).map { case (op, m) =>
      s""""$op":""" + Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> v.toDouble })
    }.mkString(","))
    sb.append("},\"counts\":").append(Json.obj(counts))
    sb.append(",\"end_to_end\":").append(Json.obj(endToEnd)).append('}')
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** Total collector time so far, seconds. */
  def gcSeconds(): Double =
    gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** Flush the set-up's written files to disk (`sync`), so their
    * write-back does not land in the timed phase. */
  def sync(): Unit = new ProcessBuilder("sync").inheritIO().start().waitFor()

  /** Used heap after forcing full collections, MB. */
  def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }
}
