package graftbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed call into graft: construction (the query-construction or
  * maintenance call) then execution (the action on its result). */
final case class Sample(pass: Int, seq: Long, name: String, family: String,
                        construct: Double, execute: Double, wall: Double,
                        startMs: Double, endMs: Double)

/** A trace span; times are epoch microseconds. `op` ties every span of
  * one operation together. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      start: Long, end: Long, op: Long)

/** Per-pass record: wall time and (traced passes) the listener counters
  * of every op group run in the pass. */
final case class PassRecord(pass: Int, wall: Double, traced: Boolean,
                            groups: Map[String, GroupStats])

/** Old-generation occupancy after garbage collections while armed, from
  * the JVM's GC notifications, which carry every memory pool's usage
  * right after each collection. The peak is the largest after any
  * collection, young ones included, so it also sees what lives only
  * while an operation runs (a driver-side collect, a broadcast build,
  * Spark's execution pages) whenever a collection happens to find it.
  * The live heap is what is left after full collections at the end:
  * what the operations retained. */
final class HeapWatch extends NotificationListener {
  @volatile var armed = false
  private var peak = 0L
  private var last = 0L
  private var seen = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  private def oldGen(pool: String) =
    pool.contains("Old Gen") || pool.contains("Tenured")

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (armed && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val used = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (p, u) if oldGen(p) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used); last = used; seen += 1 }
    }

  /** Run three full collections 100 ms apart, disarm, and return
    * (peak, live) in MB. The live heap is the least of the three: Spark's
    * cleaner thread releases some state only after the first one. */
  def close(): (Double, Double) = {
    val live = (1 to 3).map { _ =>
      val before = collections
      System.gc()
      val until = System.nanoTime() + 2000000000L
      while (collections == before && System.nanoTime() < until)
        Thread.sleep(10)
      Thread.sleep(100)
      synchronized { last }
    }.min
    armed = false
    val p = synchronized { peak }
    (p / 1048576.0, live / 1048576.0)
  }

  private def collections: Long = synchronized { seen }
}

/** Runs and times the benchmark's calls into graft, one after another
  * (a closed loop with one client). */
final class Runner(val traced: Boolean) {
  var spark: SparkSession = _
  val probe = new Probe
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  val passes = mutable.ArrayBuffer.empty[PassRecord]
  var attempted = 0L
  /** Spans are recorded only while this is set. */
  var tracing = false
  var pass = 0
  private var seq = 0L
  private var spanSeq = 0L
  private var passSpan = 0L
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  val runSpan: Long = newSpanId()
  val runStart: Long = nowUs

  private def newSpanId(): Long = { spanSeq += 1; spanSeq }
  /** Epoch microseconds on the monotonic clock. */
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def fail(name: String, why: String): Unit = {
    attempted += 1
    failures += s"$name: $why"
    System.err.println(s"[graftbench] FAILED $name: $why")
  }

  /** Time `construct`, then `execute` on its result, under two job
    * groups (`op<seq>.c`, `op<seq>.x`) the listener keys its counters by.
    * Errors are counted as failures, never rethrown. */
  def op[T](name: String, family: String)(construct: => T)
           (execute: T => Unit): Option[T] = {
    attempted += 1
    seq += 1
    val sc = spark.sparkContext
    val s0 = nowUs
    val t0 = System.nanoTime()
    var t1 = 0L
    var s1 = 0L
    var out: Option[T] = None
    try {
      sc.setJobGroup(s"op$seq.c", name, interruptOnCancel = false)
      val v = construct
      t1 = System.nanoTime(); s1 = nowUs
      sc.setJobGroup(s"op$seq.x", name, interruptOnCancel = false)
      execute(v)
      out = Some(v)
    } catch {
      case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        failures += s"$name: $msg"
        System.err.println(s"[graftbench] FAILED $name: $msg")
    } finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    val s2 = nowUs
    if (t1 == 0L) { t1 = t2; s1 = s2 }
    samples += Sample(pass, seq, name, family, (t1 - t0) / 1e9,
      (t2 - t1) / 1e9, (t2 - t0) / 1e9, s0 / 1000.0, s2 / 1000.0)
    System.err.println(f"[graftbench] pass $pass%d ${name}%-24s " +
      f"${(t1 - t0) / 1e9}%.3f + ${(t2 - t1) / 1e9}%.3f s")
    if (tracing) {
      val id = newSpanId()
      spans += Span(id, passSpan, name, "op", s0, s2, seq)
      spans += Span(newSpanId(), id, "construct", "queries.construct", s0, s1, seq)
      spans += Span(newSpanId(), id, "execute", "queries.execute", s1, s2, seq)
    }
    out
  }

  /** Run one pass with `body` and record its wall time. */
  def runPass(n: Int, traceThis: Boolean)(body: => Unit): PassRecord = {
    pass = n
    tracing = traceThis
    if (traceThis) {
      spark.sparkContext.addSparkListener(probe)
      passSpan = newSpanId()
    }
    val s0 = nowUs
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val s1 = nowUs
    val groups =
      if (traceThis) {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        val g = probe.takeAll()
        spans += Span(passSpan, runSpan, s"pass$n", "pass", s0, s1, 0L)
        addStageSpans(g)
        g
      } else Map.empty[String, GroupStats]
    tracing = false
    val rec = PassRecord(n, wall, traceThis, groups)
    passes += rec
    rec
  }

  /** Stages become children of the construct/execute span whose job
    * group launched them. */
  private def addStageSpans(groups: Map[String, GroupStats]): Unit = {
    val parents = spans.filter(s => s.kind.startsWith("queries."))
      .map(s => (s"op${s.op}.${if (s.kind == "queries.construct") "c" else "x"}", s))
      .toMap
    for ((g, st) <- groups; p <- parents.get(g); (a, b, id) <- st.stageSpans)
      spans += Span(newSpanId(), p.id, s"stage$id", "spark.stage",
        a * 1000L, b * 1000L, p.op)
  }

  /** Close the run span. */
  def finish(): Unit =
    spans += Span(runSpan, 0L, "run", "run", runStart, nowUs, 0L)
}
