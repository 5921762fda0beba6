package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run inside the JVM.
  *
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --run-dir <dir> --data <fixture dir>
  *   [--stmts <file> --seed-rows <n> --warm <n> --block <n>]`
  *
  * Runs one workload against the engine and writes its raw figures (every
  * sample, every span, the host counters) to `<run-dir>/result.json`. The
  * Python side (perfbench/run.py) turns those into metrics and checks the
  * outputs the run dumped next to them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val runDir = Paths.get(opts("run-dir"))
    val data = opts("data")

    val tracer = if (traced) Some(new Tracer) else None
    Trace.current = tracer
    val catalogClass =
      if (traced) classOf[TracedGraftCatalog].getName
      else classOf[graft.catalog.GraftCatalog].getName
    val spark = Session.build(runDir, catalogClass)
    tracer.foreach(_.install(spark))
    // JVM start to a usable session: the part of set-up paid once per run
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val result: Map[String, Any] = try workload match {
      case "analytics" => Analytics.run(spark, data, runDir, seed, seconds, tracer)
      case "lakehouse_dml" =>
        Lakehouse.run(spark, data, runDir, Paths.get(opts("stmts")), opts("seed-rows").toInt,
          opts("warm").toInt, opts("block").toInt, seconds, tracer)
      case "stream_score" => StreamScore.run(spark, data, runDir, seed, seconds, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally tracer.foreach(_.uninstall(spark))

    val out = Map(
      "workload" -> workload,
      "session_s" -> sessionS,
      "result" -> result,
      "trace" -> tracer.map(_.dump()).getOrElse(Map.empty))
    Files.writeString(runDir.resolve("result.json"), Json(out))
    spark.stop()
  }
}

/** The session every workload runs on: the engine's benchmarked config
  * (the same settings graft.Bench uses) on local[<cores>], with every
  * directory a run writes placed under the run's own directory. */
object Session {
  def build(runDir: Path, catalogClass: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.catalog.graft_cat", catalogClass)
      .config("spark.sql.catalog.graft_cat.warehouse",
        runDir.resolve("graftcat").toString)
      // every micro-batch's progress is kept for the latency join
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      // one sink-log file per batch, so each output file maps to its batch
      .config("spark.sql.streaming.fileSink.log.compactInterval", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Host and JVM contention signals, the same ones graft.Bench records. */
object Host {
  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (busy, steal, total) jiffies over all CPUs from /proc/stat. */
  def procStat(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      val steal = if (f.length > 7) f(7) else 0L
      (f.sum - idle, steal, f.sum)
    } catch { case _: Exception => (0L, 0L, 0L) }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def procCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Snapshot at the start of a measured window; `since` gives the deltas. */
  final case class Mark(load: Double, stat: (Long, Long, Long), gc: Long, cpu: Double) {
    def since(): Map[String, Any] = {
      val (b1, s1, t1) = procStat()
      val dt = math.max(1L, t1 - stat._3)
      Map(
        "load_avg.start" -> load,
        "load_avg.end" -> loadAvg(),
        "host.busy_pct" -> 100.0 * (b1 - stat._1) / dt,
        "host.steal_pct" -> 100.0 * (s1 - stat._2) / dt,
        "jvm.gc_ms" -> (gcMs() - gc).toDouble,
        "proc.cpu_s" -> (procCpuS() - cpu))
    }
  }
  def mark(): Mark = Mark(loadAvg(), procStat(), gcMs(), procCpuS())
}

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** JSON for the run's raw results (Jackson, as shipped with Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
