package ocsfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import graft.ShuffleAudit
import graft.functions.ShingleGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. Spans (name, start, end, parent,
  * root operation, run id) are kept in memory and written out once at
  * the end. With tracing off, [[span]] only runs its body.
  *
  * Spans are recorded from the benchmark's own code, around calls into
  * the library's public functions; none are recorded inside the library.
  */
final class Tracer(runId: String) {
  import Tracer.Span

  /** Spans are recorded only while this is set. */
  @volatile var enabled: Boolean = false

  private val spans  = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack  = new ThreadLocal[List[(Int, Int)]] { override def initialValue() = Nil }
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(body: => A): A = span(name, enabled)(body)

  /** A span recorded when `on` holds, whatever [[enabled]] reads by the
    * time `body` runs (for work handed to another thread). */
  def span[A](name: String, on: Boolean)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val outer = stack.get
      val (parent, root) = outer.headOption.getOrElse((0, id))
      stack.set((id, root) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        synchronized { spans += Span(id, name, parent, root, t0, t1) }
      }
    }

  /** Add `v` to a counter recorded at a layer boundary. */
  def count(name: String, v: Double): Unit =
    if (enabled) synchronized { counts(name) = counts.getOrElse(name, 0.0) + v }

  def counter(name: String): Double = synchronized(counts.getOrElse(name, 0.0))

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  private def selfTimes: Seq[(Span, Double)] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      covered += hi - lo
      s -> (s.endNs - s.startNs - covered) / 1e9
    }
  }

  /** Per root operation, the self seconds spent in spans named `name`. */
  def selfPerOp(name: String): Seq[Double] = selfByRoot(name).values.toSeq

  /** Root operation id -> self seconds spent in spans named `name`. */
  def selfByRoot(name: String): Map[Int, Double] =
    selfTimes.filter(_._1.name == name).groupBy(_._1.root).map { case (r, v) => r -> v.map(_._2).sum }

  /** Root operation id of each span named `name`, in order. */
  def roots(name: String): Seq[Int] = synchronized(spans.filter(_.name == name).map(_.root).toSeq)

  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},"root":${s.root},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    })
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, root: Int, startNs: Long, endNs: Long)
}

/** Engine-side counters for the traced run: Catalyst phase time,
  * shuffle bytes and `ShingleRewrite` firings per executed query (through
  * a `QueryExecutionListener`, `qe.tracker` and
  * [[ShuffleAudit.shuffleBytesOf]]), and job, task and scan-input counts
  * from a `SparkListener`. Listener delivery is
  * asynchronous, so [[settle]] waits for the counts to stop moving. */
final class EngineCounters(spark: SparkSession) {
  val planningS    = new DoubleAdder
  val shuffleBytes = new AtomicLong
  val queries      = new AtomicLong
  val jobs         = new AtomicLong
  val tasks        = new AtomicLong
  val inputBytes   = new AtomicLong
  /** Native shingle generators the optimizer put into executed plans:
    * `ShingleRewrite` is the only rule that introduces one. */
  val shingleRewrites = new AtomicLong

  private def shingleGens(p: LogicalPlan): Int =
    p.collect { case g: Generate if g.generator.isInstanceOf[ShingleGen] => 1 }.sum

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planningS.add(qe.tracker.phases.values.map(_.durationMs).sum / 1000.0)
      shuffleBytes.addAndGet(ShuffleAudit.shuffleBytesOf(Seq(qe)))
      shingleRewrites.addAndGet(math.max(0, shingleGens(qe.optimizedPlan) - shingleGens(qe.withCachedData)))
      queries.incrementAndGet()
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m => inputBytes.addAndGet(m.inputMetrics.bytesRead))
    }
  }

  def start(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(jobListener)
  }

  def stop(): Unit = {
    settle()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** Wait (at most 3 s) until the listener-fed counts stop changing. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 3000
    var last     = -1L
    var stable   = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      val now = queries.get + tasks.get
      if (now == last) stable += 1 else stable = 0
      last = now
      Thread.sleep(40)
    }
  }
}

/** Peak heap in use right after a garbage collection, summed over the
  * heap pools, from the collectors' notifications: the live set plus what
  * the collection could not yet reclaim, without the garbage that only
  * shows how far the young generation was let fill. */
final class HeapAfterGc {
  private val peak   = new AtomicLong
  private val heap   = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val beans  = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  val collections    = new AtomicLong

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info  = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (p, u) if heap(p) => u.getUsed }.sum
        peak.accumulateAndGet(after, math.max)
        collections.incrementAndGet()
        ()
      }
  }

  private var on = false

  def start(): Unit = { beans.foreach(_.addNotificationListener(listener, null, null)); on = true }
  def stop(): Unit  = if (on) { beans.foreach(_.removeNotificationListener(listener)); on = false }
  def peakMb: Double = peak.get / 1e6
}
