package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, made from the benchmark's own code. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, op: Long)

/** One timed operation of the closed loop (a tick, a read, a probe). */
final case class Op(id: Long, kind: String, startNs: Long, endNs: Long, ok: Boolean,
                    traced: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times every operation; when tracing, also records spans and attributes
  * Spark's work to operations.
  *
  * Jobs are attributed through a local property set on the calling thread
  * (Spark copies local properties into every job the thread submits,
  * including jobs from threads it spawns). Catalyst phases arrive on the
  * listener bus without that property, so a query is attributed to the
  * operation open when its planning phase ended (one client, so at most
  * one is open). File-system call counts come from [[CountingFileSystem]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[Op]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (op id, span id)

  // --- listener-side state; written on the bus thread, read after drain ---
  final class JobRec(val id: Int, val op: Long, val desc: String, val startMs: Long) {
    var endMs: Long = startMs
    var ended = false
    var stages: Int = 0
    var tasks: Int = 0
    var taskRunMs: Long = 0
    var taskGcMs: Long = 0
    var shuffleRead: Long = 0
    var shuffleWrite: Long = 0
    var outRows: Long = 0
    var outBytes: Long = 0
    var peakMem: Long = 0
  }
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  final case class Query(endMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  val queries = new ConcurrentLinkedQueue[Query]()
  final case class FsDelta(reads: Long, writes: Long)
  val fsByOp = new java.util.concurrent.ConcurrentHashMap[Long, FsDelta]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(-1L)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, op, desc, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.ended = true }
      jobs.notifyAll()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskRunMs += m.executorRunTime
        j.taskGcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.outRows += m.outputMetrics.recordsWritten
        j.outBytes += m.outputMetrics.bytesWritten
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val end = ph.get("planning").orElse(ph.get("analysis")).map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      queries.add(Query(end, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  /** Run one closed-loop operation, traced when the tracer is enabled and
    * `trace` holds. Never throws: a failure is recorded as a failed op (and
    * its exception returned) so the loop carries on. */
  def op[T](kind: String, trace: Boolean = true)(f: => T): Either[Throwable, T] = {
    val id = ids.incrementAndGet()
    val on = enabled && trace
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(OpProperty)
    if (on) sc.setLocalProperty(OpProperty, id.toString)
    val prev = current.get()
    current.set(if (on) (id, id) else null)
    val fs0 = if (on) fsOps() else (0L, 0L)
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    if (on) {
      val fs1 = fsOps()
      fsByOp.put(id, FsDelta(fs1._1 - fs0._1, fs1._2 - fs0._2))
      spans.add(Span(id, kind, t0, t1, 0L, id))
    }
    current.set(prev)
    sc.setLocalProperty(OpProperty, prevProp)
    ops.add(Op(id, kind, t0, t1, r.isRight, on))
    r
  }

  /** A child span inside the current op (recorded only when it is traced). */
  def span[T](name: String)(f: => T): T =
    if (current.get() == null) f
    else {
      val (opId, parent) = current.get()
      val id = ids.incrementAndGet()
      current.set((opId, id))
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, opId))
        current.set((opId, parent))
      }
    }

  /** Block until the listener bus has delivered every event posted so
    * far: the bus is FIFO, so once a marker job's end arrives, every
    * earlier job's and task's events have been seen. */
  def drain(): Unit = if (enabled) {
    val sc = spark.sparkContext
    val token = s"perfbench drain ${System.nanoTime()}"
    val prevProp = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, null)
    sc.setJobDescription(token)
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.setJobDescription(null); sc.setLocalProperty(OpProperty, prevProp) }
    jobs.synchronized {
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.values.exists(j => j.desc == token && j.ended) &&
             System.currentTimeMillis() < deadline) jobs.wait(100)
    }
    // the query listener has its own bus queue: give it a moment
    Thread.sleep(200)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Process-wide `file:` (read calls, write calls) so far. */
  def fsOps(): (Long, Long) = (CountingFileSystem.reads.get, CountingFileSystem.writes.get)
}
