package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.vt.{LocalFsMetaStore, MetaStore, VersionedTable}

/** Everything a workload needs: the session, the tracer, the run's seed and
  * length, and its private work directory inside the checkout. */
final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long, seconds: Double,
                     cpus: Int, work: Path, data: Path) {

  /** The store a handle is opened with: the plain local store for untraced
    * ops, the recording decorator for traced ones. */
  def store(traced: Boolean): MetaStore =
    if (traced && tr.enabled) new TracingMetaStore(LocalFsMetaStore, tr) else LocalFsMetaStore

  /** In a traced run, ops alternate between untraced and traced blocks of
    * `block` ops (the untraced ones give the tracing-overhead baseline); an
    * untraced run never traces. */
  def tracedAt(i: Long, block: Int): Boolean = tr.enabled && (i / block) % 2 == 1

  /** The measured window: a fixed number of whole op cycles, so every run
    * does the same work in the same mix: `seconds` over the workload's
    * nominal cycle time, rounded, at least one. Returns the seconds taken. */
  def cycles(nominalS: Double)(runOne: => Unit): Double = {
    val t0 = System.nanoTime()
    for (_ <- 0 until math.max(1, math.round(seconds / nominalS).toInt)) runOne
    (System.nanoTime() - t0) / 1e9
  }

  /** One handle pair on a table root: plain and (in traced runs) decorated. */
  def handles(root: Path): Boolean => VersionedTable = {
    val plain = VersionedTable.open(root.toString, store(false))
    val traced = if (tr.enabled) VersionedTable.open(root.toString, store(true)) else plain
    t => if (t) traced else plain
  }
}

/** What a workload hands back besides the spans the tracer holds. */
final class Outcome {
  val setupS = mutable.ArrayBuffer.empty[Double]
  var measuredS = 0.0
  var attempted = 0L
  var failed = 0L
  var refusals = 0L
  var commits = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Bytes the table owns or references ÷ bytes of its head snapshot's live
    * rows, taken at the same point of every run (after warm-up). */
  var storeRatio = 0.0
  /** Workload-specific per-layer figures (table shape, per-pass medians). */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += msg
  }
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(LakeOps, LakeAnalytics, ContendedCommits)

  def timedS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes the table owns (everything under its root) plus the bytes of
    * data files it references outside its root (a shallow clone's source),
    * over the live bytes of the head snapshot: each head file's size scaled
    * by its live-row share, computed from the metadata row counts. */
  def storeRatio(spark: SparkSession, vt: VersionedTable, branch: String = "main"): Double = {
    val head = vt.head(branch).get
    val root = vt.root.toAbsolutePath.normalize
    val external = history(vt, branch).flatMap(_.files).distinct
      .map(f => java.nio.file.Paths.get(f)).filter(p => p.isAbsolute && !p.normalize.startsWith(root))
    val owned = Util.treeBytes(root) + external.map(p => java.nio.file.Files.size(p)).sum
    val physRows = head.files.map(f => head.rowCounts.getOrElse(f, 0L)).sum.toDouble
    val headBytes = head.files.map(f => head.fileSizes.getOrElse(f, 0L)).sum.toDouble
    val live = vt.countRows(spark, branch).toDouble
    owned / (headBytes * (if (physRows > 0) live / physRows else 1.0))
  }

  /** The head's first-parent chain, newest first. */
  def history(vt: VersionedTable, branch: String = "main"): Vector[graft.vt.Commit] = {
    val out = Vector.newBuilder[graft.vt.Commit]
    var c = vt.head(branch)
    while (c.isDefined) {
      out += c.get
      c = c.get.parent.map(vt.loadCommit)
    }
    out.result()
  }

  /** Table-shape figures recorded with every traced run: files in the head
    * snapshot, history depth, live manifests (against the 512-entry manifest
    * cache) and manifest files on disk, and control-plane bytes per commit
    * (commit records, refs, manifests). */
  def shape(vt: VersionedTable, out: Outcome, branch: String = "main"): Unit = {
    val head = vt.head(branch).get
    val hist = history(vt, branch)
    val root = vt.root
    val manifestFiles = Util.list(root.resolve("data")).filter(_.getFileName.toString.endsWith(".manifest"))
    val metaBytes = Util.treeBytes(root.resolve("commits")) + Util.treeBytes(root.resolve("refs")) +
      manifestFiles.map(java.nio.file.Files.size).sum
    out.layer("sources.snapshot_files") = head.files.size.toDouble
    out.layer("vt.history_depth") = hist.size.toDouble
    out.layer("vt.live_manifests") = head.manifests.size.toDouble
    out.layer("vt.manifest_files") = manifestFiles.size.toDouble
    out.layer("vt.meta_bytes_per_commit") =
      metaBytes.toDouble / math.max(1, Util.list(root.resolve("commits")).size)
  }
}
