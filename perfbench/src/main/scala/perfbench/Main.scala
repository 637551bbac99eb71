package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, launched by `perfbench/run.py`:
  *
  * {{{
  *   perfbench.Main prepare --data DIR --cpus N
  *   perfbench.Main run --workload W --seed S --seconds T --trace 0|1
  *                      --data DIR --work DIR --cpus N [--spans FILE]
  * }}}
  *
  * `run` prints one line `RESULT {...}` carrying the metrics, the op counts
  * and the check outcome; run.py turns it into the benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opts("cpus").toInt
    val work = Paths.get(opts.getOrElse("work", opts("data"))).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(cpus, work)
    Util.phase("spark session up")
    val code =
      try args(0) match {
        case "prepare" => Fixtures.prepare(spark, Paths.get(opts("data")).toAbsolutePath, cpus); 0
        case "run" => run(spark, opts, cpus, work)
      } finally spark.stop()
    System.exit(code)
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(spark: SparkSession, opts: Map[String, String], cpus: Int, work: Path): Int = {
    val name = opts("workload")
    val w = Workload.all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
    val trace = opts("trace") == "1"
    val tr = new Tracer(trace)
    tr.install(spark)
    val jvm = new JvmProbe
    val ctx = Ctx(spark, tr, opts("seed").toLong, opts("seconds").toDouble, cpus, work,
      Paths.get(opts("data")).toAbsolutePath)
    val gc0 = jvm.gcMs
    val out = w.run(ctx)
    val gcMs = (jvm.gcMs - gc0).toDouble
    Util.phase("checks done")
    tr.drain()
    val metrics = if (trace) Report.perLayer(tr, out, jvm, gcMs) else Report.endToEnd(tr, out)
    opts.get("spans").filter(_ => trace).foreach(p => tr.writeSpans(Paths.get(p)))

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ops = scala.jdk.CollectionConverters.CollectionHasAsScala(tr.ops).asScala.toSeq
    val measured = ops.filter(_.cls != "warmup")
    val counts = measured.groupBy(_.cls).map { case (c, s) => s""""$c":${s.size}""" }.mkString(",")
    val kinds = measured.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, s) =>
      s""""$k":{"n":${s.size},"p50_ms":${num(Stats.median(s.map(_.wallMs)))}}""" }.mkString(",")
    def json(ms: Iterable[(String, (Double, String))]) =
      ms.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val fails = out.failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ") + "\"").mkString(",")
    println(s"""RESULT {"correct":${out.failed == 0},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{${json(metrics)}},"latency":{${json(Report.latency(tr))}},""" +
      s""""samples":{$counts},"kinds":{$kinds},""" +
      s""""setup_runs_s":[${out.setupS.map(num).mkString(",")}],"measured_s":${num(out.measuredS)},""" +
      s""""heap_max_mb":${num(jvm.heapMaxMb)},"failures":[$fails]}""")
    if (out.failed == 0) 0 else 1
  }
}
