package perfbench

import java.util.ConcurrentModificationException
import java.util.concurrent.CyclicBarrier

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.vt.{Commit, VersionedTable}

/** `cpus` client threads, each with its own `VersionedTable.open` handle on
  * one table, each writing only its own key range: 50-row appends
  * alternating with single-key deletion-vector deletes, and every sixth op
  * a 20-key point read of its own range checked against the thread's model.
  * A refused commit (`ConcurrentModificationException`) is retried, as a
  * Delta client would, up to [[MaxRetries]] times; only an exhausted retry
  * or another exception fails the op. After the window, COUNT and
  * time-travel reads at seeded versions are checked against the union of
  * the threads' commit logs. */
object ContendedCommits extends Workload {
  val name = "contended_commits"
  val SetupReps = 5
  val BaseRows = 200
  val AppendRows = 50
  val Window = 20
  val MaxRetries = 20
  val WarmupOps = 5
  /** Each thread's op cycle: appends alternate with deletes, and every
    * sixth op reads back part of the thread's own range. */
  val Cycle = Seq("append", "delete", "append", "delete", "append", "read")
  val Range = 1000000000L

  val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType),
    StructField("s", StringType)))

  /** One thread's keys: base keys exist from the set-up version on. */
  final class Model(t: Int, v0: Long) {
    val lo: Long = t * Range
    var next: Long = lo + BaseRows
    val added = mutable.LongMap.empty[Long]
    val deleted = mutable.LongMap.empty[Long]
    def liveAt(k: Long, v: Long): Boolean =
      (if (k < lo + BaseRows) v >= v0 else added.get(k).exists(_ <= v)) && !deleted.get(k).exists(_ <= v)
    def live(v: Long): Iterator[Long] = (lo until next).iterator.filter(liveAt(_, v))
  }

  def rows(spark: org.apache.spark.sql.SparkSession, keys: Seq[Long]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(keys.map(k => Row(k, k * 31, s"row-$k")): _*), schema)

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tr}
    val out = new Outcome
    val threads = ctx.cpus
    val base = rows(spark, (0 until threads).flatMap(t => (0 until BaseRows).map(t * Range + _)))

    var root: java.nio.file.Path = null
    for (i <- 0 until SetupReps) {
      root = ctx.work.resolve(s"contended_$i")
      val (_, s) = Workload.timedS {
        VersionedTable.create(root.toString).write(base, "main", "base", mode = "overwrite",
          statsCols = Seq("k"))
        (0 until threads).map(_ => VersionedTable.open(root.toString))
      }
      out.setupS += s
    }
    Util.phase("set-up done")
    val v0 = VersionedTable.open(root.toString).head("main").get.version
    val models = (0 until threads).map(new Model(_, v0))
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    versions.add(v0)

    val ready = new CyclicBarrier(threads + 1)
    val go = new CyclicBarrier(threads + 1)
    @volatile var deadline = Long.MaxValue

    def client(t: Int): Runnable = () => {
      val vt = ctx.handles(root)
      val m = models(t)
      val rng = new java.util.Random(ctx.seed * 1000003L + t)
      var i = 0L
      def commit(traced: Boolean)(f: VersionedTable => Commit): Commit = {
        var tries = 0
        var result: Commit = null
        while (result == null) {
          try result = f(vt(traced))
          catch {
            case _: ConcurrentModificationException if tries < MaxRetries =>
              out.synchronized { out.refusals += 1 }
              tries += 1
          }
        }
        versions.add(result.version)
        out.synchronized { out.commits += 1 }
        result
      }
      def step(cls: String): Unit = {
        val traced = cls != "warmup" && ctx.tracedAt(i, 2)
        val opSeed = rng.nextLong()
        out.synchronized { out.attempted += 1 }
        try Cycle((i % Cycle.size).toInt) match {
          case "append" =>
            val keys = m.next until m.next + AppendRows
            m.next += AppendRows
            val df = rows(spark, keys)
            tr.op(spark, "append", if (cls == "warmup") cls else "write", opSeed, traced) { _ =>
              val c = commit(traced)(v => tr.call("vt.write")(
                v.write(df, "main", s"append t$t", mode = "append", statsCols = Seq("k"))))
              keys.foreach(m.added.update(_, c.version))
            }
          case "delete" =>
            val live = m.live(Long.MaxValue).toVector
            val k = live(rng.nextInt(live.size))
            tr.op(spark, "delete", if (cls == "warmup") cls else "write", opSeed, traced) { _ =>
              val c = commit(traced)(v => tr.call("vt.deleteWithVectors")(
                v.deleteWithVectors(spark, s"k = $k")))
              m.deleted.update(k, c.version)
            }
          case "read" =>
            val lo = m.lo + (rng.nextDouble() * (m.next - m.lo - Window)).toLong
            tr.op(spark, "readWhere", if (cls == "warmup") cls else "read", opSeed, traced) { s =>
              val got = tr.call("vt.readWhere")(vt(traced).readWhere(spark, "main", "k", lo, lo + Window - 1))
                .select("k").collect().map(_.getLong(0)).sorted.toSeq
              s.rowsReturned = got.size
              val want = (lo until lo + Window).filter(m.liveAt(_, Long.MaxValue))
              if (got != want) { s.ok = false; out.fail(s"t$t readWhere($lo): $got != $want") }
            }
        } catch { case e: Exception => out.fail(s"t$t op $i: $e") }
        i += 1
      }
      try {
        for (_ <- 0 until WarmupOps) step("warmup")
        ready.await()
        go.await()
        while (System.nanoTime() < deadline) step("measured")
      } catch { case e: Exception => out.fail(s"client $t: $e") }
    }

    val pool = (0 until threads).map(t => new Thread(client(t), s"perfbench-client-$t"))
    pool.foreach(_.start())
    ready.await()
    val plain = VersionedTable.open(root.toString)
    out.storeRatio = Workload.storeRatio(spark, plain)
    Util.phase("warm-up done")
    val t0 = System.nanoTime()
    deadline = t0 + (ctx.seconds * 1e9).toLong
    go.await()
    pool.foreach(_.join())
    out.measuredS = (System.nanoTime() - t0) / 1e9
    Util.phase("measured")

    // checks over the union of the threads' commit logs
    val live = models.map(_.live(Long.MaxValue).size.toLong).sum
    val n = plain.countRows(spark, "main")
    if (n != live) out.fail(s"countRows $n != $live")
    val vs = scala.jdk.CollectionConverters.CollectionHasAsScala(versions).asScala.toVector.distinct.sorted
    val rng = new java.util.Random(ctx.seed)
    for (_ <- 0 until 3) {
      val v = vs(rng.nextInt(vs.size))
      val want = models.map(_.live(v).foldLeft((0L, 0L)) { case ((c, s), k) => (c + 1, s + k) })
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      val r = plain.readVersion(spark, "main", v).agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)))
        .collect().head
      if ((r.getLong(0), r.getLong(1)) != want)
        out.fail(s"readVersion($v): (${r.getLong(0)}, ${r.getLong(1)}) != $want")
    }
    if (tr.enabled) Workload.shape(plain, out)
    out
  }
}
