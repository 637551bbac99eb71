package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** JVM figures over a run: GC time, and the peak of used heap sampled every
  * 50 ms by a daemon thread. */
final class JvmProbe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val memory = ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  private val sampler = new Thread(() => {
    while (true) {
      peak = math.max(peak, memory.getHeapMemoryUsage.getUsed)
      Thread.sleep(50)
    }
  }, "perfbench-heap-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def heapPeakMb: Double = peak / 1048576.0
  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

/** Turns the spans of a run into the two metric sets. */
object Report {
  private def latencies(tr: Tracer, cls: String): Seq[Double] =
    tr.ops.asScala.filter(s => s.cls == cls && s.ok).map(_.wallMs).toSeq

  /** The gated metrics. Latencies are means over each class: a class mixes
    * op kinds of very different cost in fixed proportions, and its median
    * falls inside one kind's band and takes on that kind's run-to-run noise
    * (medians and tails are reported with the per-layer metrics). */
  def endToEnd(tr: Tracer, out: Outcome): mutable.LinkedHashMap[String, (Double, String)] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    m("setup_s") = (Stats.median(out.setupS.toSeq), "s")
    m("ops_per_s") = (tr.ops.asScala.count(s => s.cls != "warmup" && s.ok) / out.measuredS, "1/s")
    m("read_mean_ms") = (mean(latencies(tr, "read")), "ms")
    m("write_mean_ms") = (mean(latencies(tr, "write")), "ms")
    m("store_bytes_per_live_byte") = (out.storeRatio, "ratio")
    m
  }

  /** Per class: the median, the tail — the highest whole percentile with at
    * least ten samples beyond it, and its value (0 when there are ten
    * samples or fewer) — and the sample count. */
  def latency(tr: Tracer): mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    Seq("read", "write").foreach { c =>
      val xs = latencies(tr, c)
      val p = if (xs.size > 10) math.floor(100.0 * (xs.size - 10) / xs.size) else 0.0
      m(s"${c}_p50_ms") = (Stats.median(xs), "ms")
      m(s"${c}_tail_ms") = (if (p > 0) Stats.pct(xs, p) else 0.0, "ms")
      m(s"${c}_tail_pct") = (p, "percentile")
      m(s"${c}_samples") = (xs.size.toDouble, "count")
    }
    m
  }

  /** Per-layer figures from the traced ops of a `--trace 1` run. Counts and
    * times are per traced op unless the name says otherwise; per-call
    * figures are medians over the calls made. */
  def perLayer(tr: Tracer, out: Outcome, jvm: JvmProbe, gcMs: Double): mutable.LinkedHashMap[String, (Double, String)] = {
    val measured = tr.ops.asScala.filter(_.cls != "warmup").toSeq
    val traced = measured.filter(_.traced)
    val untraced = measured.filter(!_.traced)
    val ids = traced.map(_.id).toSet
    val nOps = math.max(1, traced.size).toDouble
    val children = tr.children.asScala.filter(c => ids.contains(c.op)).toSeq
    val meta = children.filter(_.layer == "metastore")
    val calls = children.filter(_.layer == "vt")
    val jobs = tr.jobs.values.filter(j => ids.contains(j.op)).toSeq
    val jobsByOp = jobs.groupBy(_.op)
    val execs = tr.execs.asScala.toSeq.flatMap(e => tr.execOp(e, traced).filter(ids.contains).map(_ -> e))
    val execsByOp = execs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val aggs = tr.taskAgg.filter { case (op, _) => ids.contains(op) }.values.toSeq
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def perOp(name: String, v: Double, unit: String) = m(name) = (v / nOps, unit)

    def metaCount(n: String) = meta.count(_.name == n).toDouble
    def metaMs(n: String) = meta.filter(_.name == n).map(c => c.endMs - c.startMs).sum
    perOp("vt.metastore.reads", metaCount("read"), "count/op")
    perOp("vt.metastore.read_ms", metaMs("read"), "ms/op")
    perOp("vt.metastore.writes", metaCount("write"), "count/op")
    perOp("vt.metastore.write_ms", metaMs("write"), "ms/op")
    perOp("vt.metastore.cas", metaCount("cas"), "count/op")
    perOp("vt.metastore.cas_ms", metaMs("cas"), "ms/op")
    perOp("vt.metastore.cas_lost", meta.count(_.attrs.getOrElse("lost", 0.0) > 0).toDouble, "count/op")
    perOp("vt.metastore.lists", metaCount("list"), "count/op")
    perOp("vt.metastore.list_ms", metaMs("list"), "ms/op")
    perOp("vt.metastore.exists", metaCount("exists"), "count/op")
    perOp("vt.metastore.exists_ms", metaMs("exists"), "ms/op")

    def callMs(n: String) = Stats.median(calls.filter(_.name == n).map(c => c.endMs - c.startMs))
    Seq("head", "write", "readWhere", "readVersion", "read", "countRows", "deleteWithVectors",
      "createBranch", "merge", "diffFiles", "mergeInto").foreach { n =>
      m(s"vt.${n}_ms") = (callMs(s"vt.$n"), "ms")
    }
    // a commit call's own time: its wall minus the Spark jobs inside it
    val commitCalls = calls.filter(c => Set("vt.write", "vt.deleteWithVectors", "vt.merge",
      "vt.mergeInto", "vt.createBranch").contains(c.name))
    m("vt.commit_self_ms") = (Stats.median(commitCalls.map { c =>
      (c.endMs - c.startMs) - Stats.covered(jobsByOp.getOrElse(c.op, Nil).map(j => (j.startMs, j.endMs)),
        c.startMs, c.endMs)
    }), "ms")
    m("vt.refusals_per_commit") = (out.refusals.toDouble / math.max(1L, out.commits), "ratio")
    Seq("vt.meta_bytes_per_commit" -> "bytes", "vt.manifest_files" -> "count",
      "vt.live_manifests" -> "count", "vt.history_depth" -> "count").foreach { case (k, u) =>
      m(k) = (out.layer.getOrElse(k, 0.0), u)
    }

    // sources: the scan nodes of the executed plans of read ops
    val readIds = traced.filter(_.cls == "read").map(_.id).toSet
    val readExecs = execs.filter(x => readIds.contains(x._1)).map(_._2)
    val nReads = math.max(1, readIds.size).toDouble
    m("sources.snapshot_files") = (out.layer.getOrElse("sources.snapshot_files", 0.0), "count")
    m("sources.files_scanned_per_read") = (readExecs.map(_.files).sum / nReads, "count/op")
    val returned = traced.filter(_.cls == "read").map(_.rowsReturned).sum
    m("sources.rows_scanned_per_row_returned") =
      (readExecs.map(_.rows).sum.toDouble / math.max(1L, returned), "ratio")
    m("sources.scan_ms") = (readExecs.map(_.scanMs).sum / nReads, "ms/op")

    // catalyst
    val allExecs = execs.map(_._2)
    def phase(p: String) = allExecs.flatMap(_.phases.get(p)).map(x => x._2 - x._1).sum
    perOp("catalyst.actions_per_op", allExecs.size.toDouble, "count/op")
    perOp("catalyst.analysis_ms", phase("analysis"), "ms/op")
    perOp("catalyst.optimization_ms", phase("optimization"), "ms/op")
    perOp("catalyst.planning_ms", phase("planning"), "ms/op")

    // driver: op wall time not covered by any of its Spark jobs
    val gaps = traced.map { s =>
      s.wallMs - Stats.covered(jobsByOp.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
    }
    perOp("driver.gap_ms", gaps.sum, "ms/op")
    m("driver.gap_share") = (gaps.sum / math.max(1e-9, traced.map(_.wallMs).sum), "ratio")

    // self time per layer: a span minus the part of it its children cover
    val byOp = children.groupBy(_.op)
    var selfOp = 0.0; var selfVt = 0.0; var selfMeta = 0.0; var selfCat = 0.0; var selfSpark = 0.0
    traced.foreach { s =>
      val ch = byOp.getOrElse(s.id, Nil)
      val js = jobsByOp.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs))
      val ph = execsByOp.getOrElse(s.id, Nil).flatMap(_.phases.values)
      val ms = ch.filter(_.layer == "metastore").map(c => (c.startMs, c.endMs))
      val vts = ch.filter(_.layer == "vt")
      selfOp += s.wallMs - Stats.covered(vts.map(c => (c.startMs, c.endMs)) ++ ms ++ ph ++ js, s.startMs, s.endMs)
      vts.foreach(c => selfVt += (c.endMs - c.startMs) - Stats.covered(ms ++ ph ++ js, c.startMs, c.endMs))
      selfMeta += Stats.covered(ms, s.startMs, s.endMs)
      selfCat += Stats.covered(ph ++ js, s.startMs, s.endMs) - Stats.covered(js, s.startMs, s.endMs)
      selfSpark += Stats.covered(js, s.startMs, s.endMs)
    }
    perOp("self.client_ms", selfOp, "ms/op")
    perOp("self.vt_ms", selfVt, "ms/op")
    perOp("self.metastore_ms", selfMeta, "ms/op")
    perOp("self.catalyst_ms", selfCat, "ms/op")
    perOp("self.spark_ms", selfSpark, "ms/op")

    // spark
    perOp("spark.jobs_per_op", jobs.size.toDouble, "count/op")
    perOp("spark.tasks_per_op", aggs.map(_.tasks).sum.toDouble, "count/op")
    perOp("spark.stages", aggs.map(_.stages).sum.toDouble, "count/op")
    perOp("spark.job_ms", traced.map(s => Stats.covered(jobsByOp.getOrElse(s.id, Nil)
      .map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)).sum, "ms/op")
    perOp("spark.executor_run_ms", aggs.map(_.runMs).sum, "ms/op")
    perOp("spark.executor_cpu_ms", aggs.map(_.cpuMs).sum, "ms/op")
    perOp("spark.task_wait_ms", aggs.map(_.waitMs).sum, "ms/op")
    perOp("spark.input_bytes", aggs.map(_.inputBytes).sum.toDouble, "bytes/op")
    perOp("spark.shuffle_read_bytes", aggs.map(_.shuffleRead).sum.toDouble, "bytes/op")
    perOp("spark.shuffle_write_bytes", aggs.map(_.shuffleWrite).sum.toDouble, "bytes/op")
    perOp("spark.output_bytes", aggs.map(_.outputBytes).sum.toDouble, "bytes/op")

    // ops: the vdt jobs (whole op wall, median) and the per-pass sums
    Fixtures.VdtQueries.foreach { q =>
      m(s"ops.${q}_ms") = (Stats.median(measured.filter(_.kind == q).map(_.wallMs)), "ms")
    }
    Seq("ops.pipelines_s", "ops.snapshot_read_s", "ops.commit_s").foreach { k =>
      m(k) = (out.layer.getOrElse(k, 0.0), "s")
    }

    m("jvm.gc_ms") = (gcMs / math.max(1, measured.size), "ms/op")
    m("jvm.heap_peak_mb") = (jvm.heapPeakMb, "MB")

    // tracing overhead: per op kind, traced median over untraced median
    val kinds = traced.map(_.kind).distinct
    val ratios = kinds.flatMap { k =>
      val a = traced.filter(s => s.kind == k && s.ok).map(_.wallMs)
      val b = untraced.filter(s => s.kind == k && s.ok).map(_.wallMs)
      if (a.nonEmpty && b.nonEmpty) Some((Stats.median(a), Stats.median(b))) else None
    }
    m("trace.overhead_share") = (Stats.median(ratios.map { case (a, b) => a / b - 1 }), "ratio")
    m("trace.overhead_ms") = (Stats.median(ratios.map { case (a, b) => a - b }), "ms/op")
    m("trace.traced_ops") = (traced.size.toDouble, "count")
    m ++= latency(tr)
  }
}
