package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.vt.VersionedTable

/** One closed-loop client doing small versioning ops on a table of about
  * 2×10⁴ small files (orders, [[Fixtures.KeysPerFile]] keys per file),
  * imported metadata-only from a Delta log. Half reads (point reads over a
  * 20-key window, time-travel point reads at seeded versions up to
  * [[VersionsBack]] back, metadata
  * COUNT), half writes (50-row appends, point deletes through deletion
  * vectors, branch → append → diff → merge cycles). Every read is checked
  * against an in-memory model of which keys were live at which version. */
object LakeOps extends Workload {
  val name = "lake_ops"
  val SetupReps = 5
  /** One cycle of the op mix; each cycle runs these in a seeded order, so
    * every run sees the same proportions. Within each class the cheapest
    * kind is under a third of the ops, so the class median falls inside
    * one kind's band instead of on the edge between two. */
  val Cycle: Seq[String] = Seq.fill(3)("readWhere") ++ Seq.fill(6)("readVersion") ++
    Seq("countRows") ++ Seq.fill(3)("append") ++ Seq.fill(6)("delete") ++ Seq("branch_cycle")
  val Window = 20
  val AppendRows = 50
  val TraceBlock = 4
  /** About how long one cycle takes on a 4-core machine at this commit;
    * `--seconds` / this = cycles measured. */
  val NominalCycleS = 7.0
  /** Time-travel reads go up to this many versions back from the head. */
  val VersionsBack = 16

  /** Keys live at each version: base keys from the import's version, appended
    * keys from their commit's version, minus deletes from theirs. */
  final class Model(baseKeys: Long, v0: Long) {
    val added = mutable.LongMap.empty[Long]
    val deleted = mutable.LongMap.empty[Long]
    val versions = mutable.ArrayBuffer(v0)
    var nextKey: Long = baseKeys
    var live: Long = baseKeys
    def head: Long = versions.last
    def liveAt(k: Long, v: Long): Boolean =
      (if (k < baseKeys) v >= v0 else added.get(k).exists(_ <= v)) && !deleted.get(k).exists(_ <= v)
    def window(lo: Long, v: Long): Seq[Long] = (lo until lo + Window).filter(liveAt(_, v))
    def commit(v: Long): Unit = {
      require(v > head, s"commit version $v not after ${head}")
      versions += v
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tr}
    val out = new Outcome
    val rng = new java.util.Random(ctx.seed)
    val delta = Fixtures.ordersDelta(ctx.data).toString

    var root: Path = null
    for (i <- 0 until SetupReps) {
      root = ctx.work.resolve(s"orders_$i")
      val (_, s) = Workload.timedS {
        VersionedTable.create(root.toString).shallowCloneFromDelta(spark, delta)
      }
      out.setupS += s
    }
    val vt = ctx.handles(root)
    Util.phase("set-up done")
    val c0 = vt(false).head("main").get
    val baseKeys = c0.rowCounts.values.sum
    val model = new Model(baseKeys, c0.version)
    val schema = spark.read.parquet(c0.files.head).schema

    def rows(keys: Seq[Long]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(keys.map { k =>
        Row(k, (k * 7919) % 15000, "O", 1000.0 + rng.nextInt(100000) / 100.0,
          java.sql.Timestamp.valueOf("1998-01-01 00:00:00"), Fixtures.Priorities(rng.nextInt(5)))
      }: _*), schema)

    def check(ok: Boolean, msg: => String, s: OpSpan): Unit =
      if (!ok) { s.ok = false; out.fail(msg) }

    def liveKey(): Long = {
      var k = (rng.nextDouble() * model.nextKey).toLong
      while (!model.liveAt(k, model.head)) k = (k + 1) % model.nextKey
      k
    }

    var i = 0L
    var cycle = Seq.empty[String]
    def step(cls: String): Unit = {
      val traced = cls != "warmup" && ctx.tracedAt(i, TraceBlock)
      val t = vt(traced)
      if (cycle.isEmpty) cycle = scala.util.Random.javaRandomToRandom(rng).shuffle(Cycle)
      val kind = cycle.head
      cycle = cycle.tail
      val opSeed = rng.nextLong()
      def op(kind: String, c: String)(f: OpSpan => Unit): Unit = {
        out.attempted += 1
        try tr.op(spark, kind, if (cls == "warmup") cls else c, opSeed, traced)(f)
        catch { case e: Exception => out.fail(s"$kind: $e") }
      }
      if (kind == "readWhere") {
        val lo = (rng.nextDouble() * (model.nextKey - Window)).toLong
        op("readWhere", "read") { s =>
          val df = tr.call("vt.readWhere")(t.readWhere(spark, "main", "o_orderkey", lo, lo + Window - 1))
          val got = df.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
          s.rowsReturned = got.size
          check(got == model.window(lo, model.head), s"readWhere($lo) at head: $got", s)
        }
      } else if (kind == "readVersion") {
        val v = model.versions(math.max(0, model.versions.size - 1 - rng.nextInt(VersionsBack)))
        val lo = (rng.nextDouble() * (model.nextKey - Window)).toLong
        op("readVersion", "read") { s =>
          val h = tr.call("vt.head")(t.head("main")).get
          check(h.version == model.head, s"head version ${h.version} != ${model.head}", s)
          val df = tr.call("vt.readVersion")(t.readVersion(spark, "main", v))
          val got = df.where(col("o_orderkey").between(lo, lo + Window - 1))
            .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
          s.rowsReturned = got.size
          check(got == model.window(lo, v), s"readVersion($v, $lo): $got", s)
        }
      } else if (kind == "countRows") {
        op("countRows", "read") { s =>
          val n = tr.call("vt.countRows")(t.countRows(spark, "main"))
          s.rowsReturned = 1
          check(n == model.live, s"countRows $n != ${model.live}", s)
        }
      } else if (kind == "append") {
        val keys = model.nextKey until model.nextKey + AppendRows
        model.nextKey += AppendRows
        val df = rows(keys)
        op("append", "write") { _ =>
          val c = tr.call("vt.write")(t.write(df, "main", "append", mode = "append",
            statsCols = Seq("o_orderkey")))
          out.commits += 1
          model.commit(c.version)
          keys.foreach(model.added.update(_, c.version))
          model.live += keys.size
        }
      } else if (kind == "delete") {
        val k = liveKey()
        op("delete", "write") { _ =>
          val c = tr.call("vt.deleteWithVectors")(t.deleteWithVectors(spark, s"o_orderkey = $k"))
          out.commits += 1
          model.commit(c.version)
          model.deleted.update(k, c.version)
          model.live -= 1
        }
      } else {
        val keys = model.nextKey until model.nextKey + AppendRows
        model.nextKey += AppendRows
        val df = rows(keys)
        val branch = s"b$i"
        op("branch_cycle", "write") { s =>
          tr.call("vt.createBranch")(t.createBranch(branch, "main"))
          val c = tr.call("vt.write")(t.write(df, branch, "append on branch", mode = "append",
            statsCols = Seq("o_orderkey")))
          val diff = tr.call("vt.diffFiles")(t.diffFiles(branch, "main"))
          check(diff.nonEmpty && diff.forall(_._2 == "added"), s"diffFiles($branch): $diff", s)
          val m = tr.call("vt.merge")(t.merge(branch, "main"))
          out.commits += 2
          check(m.id == c.id, s"merge($branch) did not fast-forward", s)
          model.commit(m.version)
          keys.foreach(model.added.update(_, m.version))
          model.live += keys.size
        }
      }
      i += 1
    }

    // warm-up: one full cycle
    Cycle.foreach(_ => step("warmup"))
    out.storeRatio = Workload.storeRatio(spark, vt(false))
    Util.phase("warm-up done")
    out.measuredS = ctx.cycles(NominalCycleS)(Cycle.foreach(_ => step("measured")))
    Util.phase("measured")

    // final check, outside the measured window
    val n = vt(false).countRows(spark, "main")
    if (n != model.live) out.fail(s"final countRows $n != ${model.live}")
    if (tr.enabled) Workload.shape(vt(false), out)
    out
  }
}
