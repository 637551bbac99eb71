package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.vt.MetaStore

/** One timed client operation. `traced` ops carry child spans; untraced ops
  * only their latency. Times are epoch milliseconds with sub-ms precision
  * (a nanoTime clock anchored to the wall clock once), so they line up with
  * the millisecond timestamps of Spark's listener events. */
final class OpSpan(val id: Long, val kind: String, val cls: String, val seed: Long,
                   val traced: Boolean, val startMs: Double) {
  @volatile var endMs: Double = startMs
  @volatile var ok: Boolean = true
  /** Rows the op returned to the client (for scanned-per-returned ratios). */
  @volatile var rowsReturned: Long = 0L
  def wallMs: Double = endMs - startMs
}

/** A child span: a layer's interval caused by an op. `layer` is one of
  * `vt` (a public VersionedTable/Registry call made by the benchmark),
  * `metastore`, `catalyst`, `spark`. */
final case class Child(op: Long, layer: String, name: String, startMs: Double, endMs: Double,
                       attrs: Map[String, Double] = Map.empty)

/** In-memory span recorder plus the listeners that feed it. Tracing is
  * switched per op (`traced`): untraced ops record latency only and set no
  * Spark local property, so their cost is what a user sees; the listeners
  * exist only in `--trace 1` runs. Everything stays in memory until
  * [[writeSpans]] at the end of the run. */
final class Tracer(val enabled: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val ids = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpSpan]()
  val children = new ConcurrentLinkedQueue[Child]()
  private val current = new ThreadLocal[OpSpan]()
  private val active = new java.util.concurrent.ConcurrentHashMap[Long, OpSpan]()

  val OpProperty = "perfbench.op"

  /** Run one client op; exceptions propagate after the span is closed. */
  def op[T](spark: SparkSession, kind: String, cls: String, seed: Long, traced: Boolean)
           (f: OpSpan => T): T = {
    val t = traced && enabled
    val s = new OpSpan(ids.incrementAndGet(), kind, cls, seed, t, nowMs)
    if (t) {
      spark.sparkContext.setLocalProperty(OpProperty, s.id.toString)
      active.put(s.id, s)
    }
    current.set(s)
    try f(s)
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.endMs = nowMs
      current.remove()
      if (t) {
        active.remove(s.id)
        spark.sparkContext.setLocalProperty(OpProperty, null)
      }
      ops.add(s)
    }
  }

  /** The traced op the calling thread runs, or — for work a program pool
    * thread does on an op's behalf — the single traced op in flight. */
  private def owner(): Option[OpSpan] = {
    val s = current.get()
    if (s != null) Some(s).filter(_.traced)
    else if (active.size == 1) active.values.asScala.headOption
    else None
  }

  /** Time a public program call made inside the current op. */
  def call[T](name: String)(f: => T): T = owner() match {
    case None => f
    case Some(s) =>
      val t0 = nowMs
      try f finally children.add(Child(s.id, "vt", name, t0, nowMs))
  }

  /** Time one MetaStore call. */
  def metastore[T](name: String, bytes: Long)(f: => T): T = record(name, bytes, f, (_: T) => false)

  /** Time one put-if-absent; a `false` answer is a lost commit race. */
  def cas(bytes: Long)(f: => Boolean): Boolean = record("cas", bytes, f, (won: Boolean) => !won)

  private def record[T](name: String, bytes: Long, f: => T, lost: T => Boolean): T =
    owner() match {
      case None => f
      case Some(s) =>
        val t0 = nowMs
        val r = f
        children.add(Child(s.id, "metastore", name, t0, nowMs,
          Map("bytes" -> bytes.toDouble, "lost" -> (if (lost(r)) 1.0 else 0.0))))
        r
    }

  // ---- Spark listener: jobs, stages, tasks ---------------------------------

  final class JobRec(val jobId: Int, val op: Long, val startMs: Double) {
    @volatile var endMs: Double = startMs
    @volatile var ended = false
  }
  final class TaskAgg {
    var tasks = 0L; var stages = 0L; var runMs = 0.0; var cpuMs = 0.0; var waitMs = 0.0
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var outputBytes = 0L
  }
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageOp = TrieMap.empty[Int, Long]
  private val stageSubmitted = TrieMap.empty[Int, Long]
  val taskAgg = TrieMap.empty[Long, TaskAgg]
  private val sqlExecOp = TrieMap.empty[Long, Long]
  @volatile var lastEventMs: Double = 0

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = nowMs
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(-1L)
      val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, op, e.time.toDouble))
      if (op >= 0) {
        e.stageIds.foreach(st => stageOp.put(st, op))
        if (sql >= 0) sqlExecOp.put(sql, op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = nowMs
      jobs.get(e.jobId).foreach { j => j.endMs = e.time.toDouble; j.ended = true }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
      agg(e.stageInfo.stageId).foreach(a => a.synchronized { a.stages += 1 })
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = nowMs
      agg(e.stageId).foreach { a =>
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuMs += m.executorCpuTime / 1e6
            a.inputBytes += m.inputMetrics.bytesRead
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.outputBytes += m.outputMetrics.bytesWritten
          }
          for (sub <- stageSubmitted.get(e.stageId) if e.taskInfo != null)
            a.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        }
      }
    }
    private def agg(stage: Int): Option[TaskAgg] =
      stageOp.get(stage).map(op => taskAgg.getOrElseUpdate(op, new TaskAgg))
  }

  // ---- Catalyst: one record per executed action ----------------------------

  final case class ExecRec(qeId: Long, phases: Map[String, (Double, Double)],
                           files: Long, rows: Long, scanMs: Double, endMs: Double)
  val execs = new ConcurrentLinkedQueue[ExecRec]()

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      lastEventMs = nowMs
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> ((v.startTimeMs.toDouble, v.endTimeMs.toDouble)) }
      var files = 0L; var rows = 0L; var scanMs = 0.0
      try scans(qe.executedPlan).foreach { p =>
        val m = p.metrics
        m.get("numFiles").foreach(x => files += x.value)
        m.get("numOutputRows").foreach(x => rows += x.value)
        m.get("scanTime").foreach(x => scanMs += x.value)
      } catch { case _: Exception => }
      execs.add(ExecRec(qe.id, phases, files, rows, scanMs, nowMs))
    }
  }

  /** Leaf scan nodes of an executed plan, through adaptive query stages;
    * a reused exchange is not scanned twice. */
  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case leaf if leaf.children.isEmpty => Seq(leaf)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for the asynchronous listener bus to deliver every event of the
    * ops run so far: all started jobs ended and no event for a quiet gap. */
  def drain(): Unit = if (enabled) {
    val deadline = nowMs + 10000
    while (nowMs < deadline &&
      (jobs.values.exists(!_.ended) || nowMs - lastEventMs < 300)) Thread.sleep(50)
  }

  /** The op an executed action belongs to: through its SQL execution id
    * when one of its jobs carried the op property, else the traced op whose
    * interval contains the action's analysis. */
  def execOp(e: ExecRec, traced: Seq[OpSpan]): Option[Long] =
    sqlExecOp.get(e.qeId).orElse {
      val t = e.phases.values.map(_._1).minOption.getOrElse(e.endMs)
      traced.find(s => s.startMs <= t && t <= s.endMs).map(_.id)
    }

  /** All spans as JSON lines: every op, then every child span keyed by its
    * op id (metastore calls, vt calls, Catalyst phases, Spark jobs). */
  def writeSpans(path: Path): Unit = {
    val traced = ops.asScala.filter(_.traced).toSeq
    val sb = new StringBuilder
    def num(d: Double) = f"$d%.3f"
    ops.asScala.foreach { s =>
      sb ++= s"""{"span":"op","id":${s.id},"kind":"${s.kind}","class":"${s.cls}","seed":${s.seed},""" +
        s""""traced":${s.traced},"ok":${s.ok},"start_ms":${num(s.startMs)},"end_ms":${num(s.endMs)}}""" + "\n"
    }
    children.asScala.foreach { c =>
      val attrs = c.attrs.map { case (k, v) => s""","$k":${num(v)}""" }.mkString
      sb ++= s"""{"span":"${c.layer}","op":${c.op},"name":"${c.name}","start_ms":${num(c.startMs)},""" +
        s""""end_ms":${num(c.endMs)}$attrs}""" + "\n"
    }
    execs.asScala.foreach { e =>
      val op = execOp(e, traced).getOrElse(-1L)
      e.phases.foreach { case (ph, (a, b)) =>
        sb ++= s"""{"span":"catalyst","op":$op,"name":"$ph","start_ms":${num(a)},"end_ms":${num(b)}}""" + "\n"
      }
    }
    jobs.values.foreach { j =>
      sb ++= s"""{"span":"spark","op":${j.op},"name":"job-${j.jobId}","start_ms":${num(j.startMs)},""" +
        s""""end_ms":${num(j.endMs)}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** A [[MetaStore]] decorator that records every control-plane call as a
  * child span of the op that caused it. Handed to `VersionedTable.create` /
  * `open` in traced runs only. */
final class TracingMetaStore(under: MetaStore, tr: Tracer) extends MetaStore {
  def putIfAbsent(key: Path, content: String): Boolean =
    tr.cas(content.length)(under.putIfAbsent(key, content))
  def put(key: Path, content: String): Unit =
    tr.metastore("write", content.length)(under.put(key, content))
  def read(key: Path): String = tr.metastore("read", 0)(under.read(key))
  def exists(key: Path): Boolean = tr.metastore("exists", 0)(under.exists(key))
  def delete(key: Path): Boolean = tr.metastore("delete", 0)(under.delete(key))
  def list(dir: Path): Vector[Path] = tr.metastore("list", 0)(under.list(dir))
  def lastModified(key: Path): Long = tr.metastore("lastModified", 0)(under.lastModified(key))
  def ensurePrefix(dir: Path): Unit = under.ensurePrefix(dir)
}
