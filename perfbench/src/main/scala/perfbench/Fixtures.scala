package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Registry
import graft.vt.DeltaLogFixture

/** Input generation, kept out of every timed phase. The base tables are a
  * deterministic TPC-H-shaped star (customer, orders, lineitem) generated
  * from [[FixtureSeed]] with hash expressions, so the same rows come out at
  * any parallelism. They are built once per checkout under the data
  * directory; each run's `--seed` drives everything the program is asked to
  * do on top of them (op order, keys, versions, appended rows, deletes,
  * upserts).
  *
  *  - `star/`: the analytics tables at scale factor [[StarSf]].
  *  - `orders_delta/`: orders at [[OrdersSf]], [[KeysPerFile]] keys per
  *    parquet file (one file per key bucket), described by a one-commit
  *    Delta log carrying per-file `o_orderkey` stats — the many-small-files
  *    table `lake_ops` imports metadata-only.
  *  - `oracle.json`: per `q_vdt*` query, the checksum of its registered
  *    oracle SQL run by Spark over the raw `star/` parquet. */
object Fixtures {
  val FixtureSeed = 42L
  val StarSf = 0.05
  val OrdersSf = 0.1
  val KeysPerFile = 8
  val VdtQueries = Seq("q_vdt1", "q_vdt2_scalable", "q_vdt3_scalable", "q_vdt4_scalable")

  /** The small star the analytics warm-up runs its steps on. */
  val TinyStarSf = 0.002

  def star(data: Path): Path = data.resolve("star")
  def tinyStar(data: Path): Path = data.resolve("star_tiny")
  def tinyOracleFile(data: Path): Path = data.resolve("oracle_tiny.json")
  def ordersDelta(data: Path): Path = data.resolve("orders_delta")
  def oracleFile(data: Path): Path = data.resolve("oracle.json")

  /** Deterministic non-negative integer in [0, n) from a row key and salt. */
  private def h(key: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(key, lit(FixtureSeed), lit(salt)), lit(n))

  private def pick(key: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(key, salt, values.size.toLong) + 1).cast(IntegerType))

  private def day(key: Column, salt: Int): Column =
    to_timestamp(date_add(lit("1992-01-01").cast(DateType), h(key, salt, 3650).cast(IntegerType)))

  def customers(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    spark.range(0, (150000 * sf).toLong).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(id, 1, 25).cast(IntegerType).as("c_nationkey"),
      (h(id, 2, 1100000) / 100.0 - 1000.0).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
  }

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def orders(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    spark.range(0, (1500000 * sf).toLong).select(
      id.as("o_orderkey"),
      h(id, 11, (150000 * sf).toLong).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      (h(id, 13, 50000000) / 100.0 + 900.0).as("o_totalprice"),
      day(id, 14).as("o_orderdate"),
      pick(id, 15, Priorities).as("o_orderpriority"))
  }

  /** 1–7 lines per order (about 4 on average); (l_orderkey, l_linenumber)
    * is unique, so MERGE keys on it are well defined. */
  def lineitem(spark: SparkSession, sf: Double): DataFrame = {
    val o = col("o")
    val ln = col("ln")
    val row = concat(o.cast(StringType), lit(":"), ln.cast(StringType))
    spark.range(0, (1500000 * sf).toLong).select(col("id").as("o"))
      .select(o, explode(sequence(lit(1L), h(o, 20, 7) + 1)).as("ln"))
      .select(
        o.as("l_orderkey"),
        h(row, 21, (200000 * sf).toLong).as("l_partkey"),
        h(row, 22, (10000 * sf).toLong).as("l_suppkey"),
        ln.cast(IntegerType).as("l_linenumber"),
        (h(row, 23, 50) + 1).cast(DoubleType).as("l_quantity"),
        (h(row, 24, 10000000) / 100.0 + 900.0).as("l_extendedprice"),
        (h(row, 25, 11) / 100.0).as("l_discount"),
        (h(row, 26, 9) / 100.0).as("l_tax"),
        pick(row, 27, Seq("A", "N", "R")).as("l_returnflag"),
        pick(row, 28, Seq("F", "O")).as("l_linestatus"),
        day(row, 29).as("l_shipdate"))
  }

  /** Order-insensitive checksum of a result: row count plus the sum of a
    * 31-bit hash of every row (doubles rounded to 6 places first, so the
    * two engines' last-bit differences cannot matter). */
  def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }
    val r = df.select(pmod(xxhash64(cols: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** The registered oracle SQL is written for DuckDB; these rewrites make
    * it run on Spark SQL unchanged in meaning. */
  def sparkOracleSql(sql: String): String =
    sql.replaceAll("""strftime\(([\w.]+), '%Y%m%d'\)""", "date_format($1, 'yyyyMMdd')")
      .replace("AS VARCHAR)", "AS STRING)")

  /** Builds whatever part of the fixtures is missing or was generated with
    * other parameters; each part carries a marker naming its parameters. */
  def prepare(spark: SparkSession, data: Path, cpus: Int): Unit = {
    Files.createDirectories(data)
    part(data.resolve("star.READY"), s"star sf=$StarSf seed=$FixtureSeed") {
      writeStar(spark, star(data), StarSf, cpus)
      writeOracle(spark, star(data), oracleFile(data))
    }
    part(data.resolve("star_tiny.READY"), s"star sf=$TinyStarSf seed=$FixtureSeed") {
      writeStar(spark, tinyStar(data), TinyStarSf, cpus)
      writeOracle(spark, tinyStar(data), tinyOracleFile(data))
    }
    part(data.resolve("orders_delta.READY"),
      s"orders sf=$OrdersSf keysPerFile=$KeysPerFile seed=$FixtureSeed") {
      writeOrdersDelta(spark, ordersDelta(data), cpus)
    }
  }

  private def part(marker: Path, params: String)(build: => Unit): Unit = {
    val have = if (Files.exists(marker)) new String(Files.readAllBytes(marker), "UTF-8") else ""
    if (have != params) {
      Files.deleteIfExists(marker)
      build
      Files.write(marker, params.getBytes("UTF-8"))
    }
  }

  def writeStar(spark: SparkSession, s: Path, sf: Double, cpus: Int): Unit = {
    val t0 = System.nanoTime()
    Util.deleteTree(s)
    customers(spark, sf).coalesce(1).write.parquet(s.resolve("customer.parquet").toString)
    orders(spark, sf).coalesce(1).write.parquet(s.resolve("orders.parquet").toString)
    lineitem(spark, sf).repartition(cpus).write.parquet(s.resolve("lineitem.parquet").toString)
    System.err.println(f"[perfbench] star tables written in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Checksums of the registered oracle SQL over the raw star parquet. */
  def writeOracle(spark: SparkSession, s: Path, out: Path): Unit = {
    val t0 = System.nanoTime()
    Seq("customer", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s.resolve(s"$t.parquet").toString).createOrReplaceTempView(t)
    }
    val oracle = VdtQueries.map { q =>
      val sql = Registry.byName(q).oracle.getOrElse(sys.error(s"$q has no oracle SQL"))
      q -> checksum(spark.sql(sparkOracleSql(sql)))
    }
    Files.write(out, oracle.map { case (q, (n, hs)) =>
      s"""  "$q": [$n, $hs]""" }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    System.err.println(f"[perfbench] oracle checksums in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** One parquet file per bucket of [[KeysPerFile]] consecutive order keys,
    * written by `cpus` tasks, then a Delta log whose add actions carry the
    * per-file stats — so the import is metadata-only. */
  def writeOrdersDelta(spark: SparkSession, root: Path, cpus: Int): Unit = {
    val t0 = System.nanoTime()
    val tmp = root.resolveSibling("orders_delta_tmp")
    Util.deleteTree(root)
    Util.deleteTree(tmp)
    val n = (1500000 * OrdersSf).toLong
    orders(spark, OrdersSf)
      .withColumn("b", (col("o_orderkey") / KeysPerFile).cast(LongType))
      .repartition(cpus, col("b"))
      .write.partitionBy("b").parquet(tmp.toString)
    Files.createDirectories(root)
    val schemaJson = orders(spark, OrdersSf).schema.json
    val adds = Util.list(tmp).filter(_.getFileName.toString.startsWith("b=")).map { dir =>
      val b = dir.getFileName.toString.stripPrefix("b=").toLong
      val parts = Util.list(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1, s"bucket $b produced ${parts.size} files")
      val name = f"part-$b%06d.parquet"
      Files.move(parts.head, root.resolve(name))
      val lo = b * KeysPerFile
      val hi = math.min(lo + KeysPerFile, n) - 1
      val stats = s"""{"numRecords":${hi - lo + 1},"minValues":{"o_orderkey":$lo},""" +
        s""""maxValues":{"o_orderkey":$hi},"nullCount":{"o_orderkey":0}}"""
      DeltaLogFixture.addLine(name, Files.size(root.resolve(name)), stats = Some(stats))
    }
    Util.deleteTree(tmp)
    DeltaLogFixture.writeCommit(root, 0L,
      Seq(DeltaLogFixture.protocolLine(), DeltaLogFixture.metaDataLine(schemaJson, Nil),
        DeltaLogFixture.commitInfoLine(0L)) ++ adds)
    System.err.println(f"[perfbench] orders_delta: ${adds.size} files in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

object Util {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def phase(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def list(p: Path): Vector[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toVector finally st.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally st.close()
  }

  /** Total bytes of regular files under `p`. */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }
}
