package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Registry
import graft.vt.{MergeClause, VersionedTable}

/** Repeated analytics passes over the star tables. Each pass runs the four
  * `vdt` jobs through the query registry, then works a 16-file versioned
  * `lineitem`: seeded deletion-vector deletes, the same aggregate through
  * `read` (merge-on-read), through the `vt` SQL catalog (the DSv2 path) and
  * at version 0 (time travel), and a seeded ~1% MERGE upsert. Job results
  * are checked against their oracle checksums, aggregates against an
  * in-memory copy of `lineitem` with the same deletes and upserts applied. */
object LakeAnalytics extends Workload {
  val name = "lake_analytics"
  val SetupReps = 3
  val Files = 16
  val DeleteOrders = 20
  val UpsertShare = 0.01
  /** About how long one cycle takes on a 4-core machine at this commit;
    * `--seconds` / this = cycles measured. */
  val NominalCycleS = 20.0

  /** (rows, Σ l_quantity, Σ round(l_extendedprice·100)) of the live rows. */
  final case class Agg(n: Long, qty: Long, cents: Long)

  /** Live rows of the versioned lineitem, kept in driver arrays. */
  final class Model(orderkey: Array[Long], linenumber: Array[Int], qty0: Array[Long], cents0: Array[Long]) {
    val ok = mutable.ArrayBuffer.from(orderkey)
    val ln = mutable.ArrayBuffer.from(linenumber)
    val qty = mutable.ArrayBuffer.from(qty0)
    val cents = mutable.ArrayBuffer.from(cents0)
    val dead = mutable.BitSet.empty
    val byOrder = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    ok.indices.foreach(i => byOrder.getOrElseUpdate(ok(i), mutable.ArrayBuffer.empty) += i)
    val v0 = agg()
    var maxOrder: Long = ok.max

    def agg(): Agg = {
      var n = 0L; var q = 0L; var c = 0L
      ok.indices.foreach { i => if (!dead(i)) { n += 1; q += qty(i); c += cents(i) } }
      Agg(n, q, c)
    }
    def liveRow(rng: java.util.Random): Int = {
      var i = rng.nextInt(ok.size)
      while (dead(i)) i = (i + 1) % ok.size
      i
    }
    def add(o: Long, l: Int, q: Long, c: Long): Unit = {
      ok += o; ln += l; qty += q; cents += c
      byOrder.getOrElseUpdate(o, mutable.ArrayBuffer.empty) += (ok.size - 1)
    }
  }

  private def aggOf(df: DataFrame): Agg = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("l_quantity")), lit(0.0)),
      coalesce(sum(round(col("l_extendedprice") * 100).cast("bigint")), lit(0L))).collect().head
    Agg(r.getLong(0), r.getDouble(1).toLong, r.getLong(2))
  }

  /** One round of snapshot work: a deletion-vector delete, then the same
    * aggregate through merge-on-read, the SQL catalog and version 0. */
  val Round: Seq[(String, String)] = Seq("deleteWithVectors" -> "write", "mor_read" -> "read",
    "sql_read" -> "read", "time_travel_read" -> "read")

  /** One cycle of steps: the four jobs, each followed by a snapshot round,
    * and the upsert. */
  val Cycle: Seq[(String, String)] =
    Seq("q_vdt1", "q_vdt2_scalable", "q_vdt3_scalable", "q_vdt4_scalable")
      .flatMap(q => (q -> "pipeline") +: Round) :+ ("mergeInto" -> "write")

  /** A star directory, its oracle, and a versioned `lineitem` with its model. */
  final class Lane(val star: String, val oracle: Map[String, (Long, Long)],
                   val root: java.nio.file.Path, val vt: Boolean => VersionedTable, val model: Model)

  def run(ctx: Ctx): Outcome = {
    import ctx.{spark, tr}
    val out = new Outcome
    val rng = new java.util.Random(ctx.seed)
    spark.conf.set("spark.sql.catalog.vt", classOf[graft.sources.VtCatalog].getName)

    def lineitem(star: String) = spark.read.parquet(s"$star/lineitem.parquet")
    def modelOf(star: String): Model = {
      val rows = lineitem(star).select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("bigint")).collect()
      new Model(rows.map(_.getLong(0)), rows.map(_.getInt(1)), rows.map(_.getDouble(2).toLong),
        rows.map(_.getLong(3)))
    }
    def createTable(star: String, root: java.nio.file.Path): Unit =
      VersionedTable.create(root.toString).write(lineitem(star).repartition(Files), "main", "v0",
        mode = "overwrite", statsCols = Seq("l_orderkey"))

    // warm-up lane: the same steps over the small star, untimed
    val tinyStar = Fixtures.tinyStar(ctx.data).toString
    val tinyRoot = ctx.work.resolve("lineitem_warmup")
    createTable(tinyStar, tinyRoot)
    val warm = new Lane(tinyStar, Oracle.load(Fixtures.tinyOracleFile(ctx.data)), tinyRoot,
      ctx.handles(tinyRoot), modelOf(tinyStar))

    val star = Fixtures.star(ctx.data).toString
    val model = modelOf(star)
    var root: java.nio.file.Path = null
    for (i <- 0 until SetupReps) {
      root = ctx.work.resolve(s"lineitem_$i")
      val (_, s) = Workload.timedS(createTable(star, root))
      out.setupS += s
    }
    val lane = new Lane(star, Oracle.load(Fixtures.oracleFile(ctx.data)), root, ctx.handles(root), model)
    Util.phase("set-up done")

    def check(ok: Boolean, msg: => String, s: OpSpan): Unit =
      if (!ok) { s.ok = false; out.fail(msg) }

    var step = 0L
    def runStep(l: Lane, kind: String, cls: String, measured: Boolean): Double = {
      val m = l.model
      val traced = measured && ctx.tracedAt(step, 1)
      step += 1
      out.attempted += 1
      // inputs and expected answers are worked out before the op starts
      val input: Any = kind match {
        case "deleteWithVectors" => Seq.fill(DeleteOrders)(m.ok(m.liveRow(rng))).distinct
        case "mergeInto" => upsert(l, rng)
        case "mor_read" | "sql_read" => m.agg()
        case _ => null
      }
      val t = l.vt(traced)
      val t0 = System.nanoTime()
      try tr.op(spark, kind, if (measured) cls else "warmup", ctx.seed, traced) { s =>
        kind match {
          case q if q.startsWith("q_vdt") =>
            val got = Fixtures.checksum(Registry.byName(q).impl(spark, l.star))
            s.rowsReturned = got._1
            check(got == l.oracle(q), s"$q checksum $got != oracle ${l.oracle(q)}", s)
          case "deleteWithVectors" =>
            val orders = input.asInstanceOf[Seq[Long]]
            tr.call("vt.deleteWithVectors")(t.deleteWithVectors(spark,
              s"l_orderkey IN (${orders.mkString(",")})"))
            out.commits += 1
            orders.foreach(o => m.byOrder(o).foreach(m.dead += _))
          case "mor_read" =>
            val got = aggOf(tr.call("vt.read")(t.read(spark, "main")))
            s.rowsReturned = got.n
            check(got == input, s"MOR aggregate $got != $input", s)
          case "sql_read" =>
            val got = aggOf(spark.sql("SELECT l_quantity, l_extendedprice FROM vt.`" + l.root + "`"))
            s.rowsReturned = got.n
            check(got == input, s"SQL-catalog aggregate $got != $input", s)
          case "time_travel_read" =>
            val got = aggOf(tr.call("vt.readVersion")(t.readVersion(spark, "main", 0)))
            s.rowsReturned = got.n
            check(got == m.v0, s"version-0 aggregate $got != ${m.v0}", s)
          case "mergeInto" =>
            val u = input.asInstanceOf[Upsert]
            tr.call("vt.mergeInto")(t.mergeInto(spark, u.source,
              "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber",
              matched = Seq(MergeClause.update(Map("l_quantity" -> "s.l_quantity"))),
              notMatched = Seq(MergeClause.insert(u.source.columns.map(f => f -> s"s.$f").toMap))))
            out.commits += 1
            u.apply()
        }
      } catch { case e: Exception => out.fail(s"$kind: $e") }
      (System.nanoTime() - t0) / 1e9
    }

    Cycle.foreach { case (k, c) => runStep(warm, k, c, measured = false) }
    out.storeRatio = Workload.storeRatio(spark, warm.vt(false))
    Util.phase("warm-up done")

    // measured: whole cycles; each also gives per-class sums
    val cycles = mutable.ArrayBuffer.empty[Map[String, Double]]
    out.measuredS = ctx.cycles(NominalCycleS) {
      cycles += Cycle.groupMapReduce(_._2) { case (k, c) => runStep(lane, k, c, measured = true) }(_ + _)
    }
    Util.phase("measured")

    out.layer("ops.pipelines_s") = Stats.median(cycles.map(_.getOrElse("pipeline", 0.0)).toSeq)
    out.layer("ops.snapshot_read_s") = Stats.median(cycles.map(_.getOrElse("read", 0.0)).toSeq)
    out.layer("ops.commit_s") = Stats.median(cycles.map(_.getOrElse("write", 0.0)).toSeq)
    if (tr.enabled) Workload.shape(lane.vt(false), out)
    out
  }

  /** A seeded ~1% upsert: half updates of live (orderkey, linenumber) rows,
    * half inserts of new orders; `apply` records it in the model. */
  final class Upsert(val source: DataFrame, val apply: () => Unit)

  private def upsert(l: Lane, rng: java.util.Random): Upsert = {
    val m = l.model
    val n = math.max(1, (m.ok.size * UpsertShare / 2).toInt)
    val updates = Iterator.continually(m.liveRow(rng)).distinct.take(n).toVector
    val newQty = updates.map(_ => 1L + rng.nextInt(50))
    val inserts = (1 to n).map(j => m.maxOrder + j)
    val insertCents = inserts.map(_ => 100000L + rng.nextInt(1000000))
    val ts = java.sql.Timestamp.valueOf("1999-01-01 00:00:00")
    def row(o: Long, ln: Int, q: Long, cents: Long) =
      Row(o, o % 20000, o % 1000, ln, q.toDouble, cents / 100.0, 0.05, 0.02, "N", "O", ts)
    val spark = org.apache.spark.sql.SparkSession.active
    val schema = spark.read.parquet(s"${l.star}/lineitem.parquet").schema
    val source = spark.createDataFrame(java.util.Arrays.asList(
      (updates.indices.map(j => row(m.ok(updates(j)), m.ln(updates(j)), newQty(j), 0L)) ++
        inserts.indices.map(j => row(inserts(j), 1, 7L, insertCents(j)))): _*), schema)
    new Upsert(source, () => {
      updates.indices.foreach(j => m.qty(updates(j)) = newQty(j))
      inserts.indices.foreach(j => m.add(inserts(j), 1, 7L, insertCents(j)))
      m.maxOrder += n
    })
  }
}

object Oracle {
  /** `{"q": [rows, hashsum], ...}` as written by [[Fixtures.prepare]]. */
  def load(p: java.nio.file.Path): Map[String, (Long, Long)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    """"(\w+)": \[(\d+), (\d+)\]""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }
}
