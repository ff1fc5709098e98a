package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload hands back to `Main`. `endToEnd` always carries the
  * metrics BENCHMARK.json lists; `named` carries the workload's own
  * metric names (ingest_p50_ms, sql_p50_ms, ...) for the meta line.
  */
final case class Outcome(
    correct: Boolean,
    tally: Tally,
    endToEnd: Seq[(String, Double, String)],
    named: Seq[(String, Double, String, Int)],
    perLayer: Seq[(String, Double, String)] = Seq.empty,
    meta: Seq[(String, Any)] = Seq.empty)

/** Everything a workload needs from the command line and the JVM. */
final case class Env(
    spark: SparkSession,
    sessionBootS: Double,
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dataDir: Path,
    workDir: Path) {
  private val counter = new java.util.concurrent.atomic.AtomicInteger()

  /** A fresh, empty directory under the run's work dir. */
  def freshDir(label: String): Path = {
    val d = workDir.resolve(s"$label-${counter.incrementAndGet()}")
    Files.createDirectories(d)
    d
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR`. Prints a meta line and then the result line.
  */
object Main {
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(workDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "16000")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val dataDir = Paths.get(opt("data")).toAbsolutePath
    val workDir = Paths.get(opt("work")).toAbsolutePath
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (one of ${Workloads.names.mkString(", ")})")
    Files.createDirectories(workDir)

    val loadStart = Host.loadAvg1m
    val ticksStart = Host.cpuTicks
    val t0 = System.nanoTime()
    val spark = session(workDir)
    val env = Env(spark, (System.nanoTime() - t0) / 1e9, workload, seed, seconds, trace,
      dataDir, workDir)
    val (gcMs0, gcN0) = Host.gcTotals
    val out = Workloads.run(env)
    val (gcMs1, gcN1) = Host.gcTotals
    val peakRss = Host.peakRssMb
    val liveHeap = Host.liveHeapMb()

    val t = out.tally
    val meta = Host.facts() ++ Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "load_1m_start" -> loadStart, "load_1m_end" -> Host.loadAvg1m,
      "cpu_steal_frac" -> Host.stealFrac(ticksStart, Host.cpuTicks),
      "session_boot_s" -> env.sessionBootS, "peak_rss_mb" -> peakRss,
      "live_heap_mb" -> liveHeap,
      "jvm_gc_ms" -> (gcMs1 - gcMs0), "jvm_gc_count" -> (gcN1 - gcN0),
      "failed_frac" -> t.failedFrac, "failed_by_route" -> t.failedByRoute,
      "metrics" -> Json.obj(out.named.map { case (n, v, u, count) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u, "n" -> count)) })) ++ out.meta
    println(Json.value(Map("meta" -> Json.obj(meta))))

    val metrics =
      if (trace) out.perLayer ++ Seq(
        ("jvm.gc_ms", (gcMs1 - gcMs0).toDouble, "ms"), ("jvm.gc_count", (gcN1 - gcN0).toDouble, "count"))
      else out.endToEnd
    val result = Json.obj(Seq(
      "correct" -> out.correct,
      "attempted" -> math.max(1L, t.attempted),
      "failed" -> t.failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> v, "unit" -> u)) })))
    println(Json.value(result))
    System.out.flush()
    spark.stop()
    // HttpApi.stop() leaves its request executor's threads running, so
    // the JVM would never exit on its own; end it explicitly.
    System.exit(if (out.correct) 0 else 1)
  }
}
