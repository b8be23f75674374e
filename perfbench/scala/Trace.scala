package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._

/** One traced call into a module's public functions. Spark work is credited
  * to the innermost open span through the `perfbench.span` local property
  * (inheritable, so pool threads a call spawns carry it); Hadoop-filesystem
  * counters are diffed over the span's interval, which is sound because one
  * client thread drives the load. */
final class Span(val id: Long, val name: String, val parent: Option[Span], val startMs: Long) {
  val startNs: Long = System.nanoTime()
  @volatile var endMs: Long = startMs
  @volatile var buildMs: Double = 0.0
  val jobs, tasks, taskMs, shuffleBytes, codegenMs, codegenClasses = new AtomicLong
  var fsBytesRead, fsBytesWritten = 0L
  @volatile var childMs: Long = 0L
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]
  def wallMs: Long = endMs - startMs

  /** Span time with no task of this span running: driver work and
    * scheduler waits. */
  def idleMs: Long = {
    val iv = taskIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, wallMs - covered)
  }
}

/** Span recorder. Disabled (the untraced run), `span` is a plain call and no
  * listener or hook is installed. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val byId = new ConcurrentHashMap[Long, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val nextId = new AtomicLong
  private var stack: List[Span] = Nil
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        spanOf(Option(e.properties).flatMap(p => Option(p.getProperty(Key)))).foreach { s =>
          s.jobs.incrementAndGet()
          e.stageIds.foreach(st => stageSpan.put(st, s))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get(e.stageId)).foreach { s =>
          s.tasks.incrementAndGet()
          if (e.taskInfo != null)
            s.taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (e.taskMetrics != null) {
            s.taskMs.addAndGet(e.taskMetrics.executorRunTime)
            s.shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          }
        }
    })
    installCodegenHook(this)
  }

  private def spanOf(id: Option[String]): Option[Span] =
    id.flatMap(v => scala.util.Try(v.toLong).toOption).flatMap(v => Option(byId.get(v)))

  /** Credit one Janino compile to the span of the compiling thread: a task
    * thread reads its TaskContext's properties, a driver thread the
    * SparkContext's inheritable local properties. */
  private[perfbench] def onCompile(ms: Long): Unit = {
    val id = Option(TaskContext.get()).flatMap(t => Option(t.getLocalProperty(Key)))
      .orElse(Option(sc.getLocalProperty(Key)))
    spanOf(id).foreach { s => s.codegenMs.addAndGet(ms); s.codegenClasses.incrementAndGet() }
  }

  /** Time `body` as span `name`. Unless [[built]] marks the moment the
    * call returned its DataFrame, the whole span counts as build time. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val s = new Span(nextId.incrementAndGet(), name, parent, System.currentTimeMillis())
    byId.put(s.id, s)
    val fs0 = fsCounters()
    val prevProp = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    stack = s :: stack
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      if (s.buildMs == 0.0) s.buildMs = (System.nanoTime() - s.startNs) / 1e6
      stack = stack.tail
      sc.setLocalProperty(Key, prevProp)
      val fs1 = fsCounters()
      s.fsBytesRead = fs1._1 - fs0._1
      s.fsBytesWritten = fs1._2 - fs0._2
      parent.foreach(p => p.childMs += s.wallMs)
      done.synchronized(done += s)
    }
  }

  /** Run `call`, which returns a DataFrame: the current span's `build_ms`
    * is the time from its start until the call returns. */
  def built[T](call: => T): T =
    try call
    finally stack.headOption.foreach(s => s.buildMs = (System.nanoTime() - s.startNs) / 1e6)

  /** Ids of the spans finished so far. */
  def doneIds(): Set[Long] = done.synchronized(done.map(_.id).toSet)

  /** Finished spans, after the listener bus has caught up: events are
    * delivered asynchronously, so wait until the task count stops moving. */
  def finished(): Seq[Span] = {
    if (!enabled) return Nil
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(200)
      val now = done.synchronized(done.map(_.tasks.get).sum)
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    done.synchronized(done.toList)
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** (bytes read, bytes written) summed over every Hadoop filesystem
    * scheme this JVM has opened. (The local filesystem does not count read
    * operations, so there is no read-op counter.) */
  def fsCounters(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  /** Spark records each Janino compile in the `CodegenMetrics` compilation
    * time histogram; forward its updates to the tracer by swapping the
    * histogram's reservoir for a delegating one. */
  private def installCodegenHook(t: Tracer): Unit = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val f = classOf[com.codahale.metrics.Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    val inner = f.get(h).asInstanceOf[com.codahale.metrics.Reservoir]
    f.set(h, new com.codahale.metrics.Reservoir {
      def size(): Int = inner.size()
      def update(v: Long): Unit = {
        inner.update(v)
        try t.onCompile(v) catch { case _: Exception => } // never fail a compile
      }
      def getSnapshot(): com.codahale.metrics.Snapshot = inner.getSnapshot
    })
  }
}
