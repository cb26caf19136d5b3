package pipebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run measured: its set-up after the session started
  * (`setupS`, from the rounds in `setupRoundsS`) and every end-to-end
  * metric but setup_s. */
final case class Result(attempted: Long, failed: Long, setupS: Double, setupRoundsS: Seq[Double],
                        endToEnd: Map[String, Double], perLayer: Map[String, (Double, String)],
                        accounting: Map[String, Any])

/** One benchmark run in its own JVM; run.py launches it and prints the
  * final record. Prints an `accounting` line and a `result` line. */
object Main {
  /** `rate` (live_feed's events/s) and `cores` (local[n]) default to the
    * reference's rate and every core; the README's capacity figures vary
    * them. */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, t0Ms: Long, rate: Int, cores: Int)

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "cpu_ms_per_op" -> "ms", "peak_heap_mb" -> "MB")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("t0-ms").toLong,
      kv.get("rate").map(_.toInt).getOrElse(Feed.MixTotal),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load1 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(a.cores)
    val sessionS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val obs = new Observer
    spark.streams.addListener(obs)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val r = try a.workload match {
      case "live_feed" | "backlog_drain" => new Streams(spark, a, tracer, obs).run()
      case "core_catalog" => new Catalog(spark, a, tracer).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
    val setupS = sessionS + r.setupS
    val env = Map("nproc" -> cores, "spark_cores" -> a.cores, "load1_at_start" -> load1,
      "spark" -> spark.version, "jvm" -> System.getProperty("java.runtime.version"),
      "session_s" -> sessionS, "setup_rounds_s" -> r.setupRoundsS)
    println("accounting " + Json(Map("workload" -> a.workload, "seed" -> a.seed,
      "environment" -> env) ++ r.accounting))
    val metrics: Map[String, Map[String, Any]] =
      if (a.trace) r.perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      else (r.endToEnd + ("setup_s" -> setupS)).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> Units(k))
      }
    println("result " + Json(Map("attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metrics)))
    spark.stop()
  }

  /** The benchmark's session: the settings graft.Bench and graft.Verify
    * use (shuffle partitions = cores, 4m split size, UTC, nanosAsLong),
    * local[cores], logging at WARN. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap in use right after a full collection, in MB: live data only. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Every regular file under `root`. */
  def files(root: String): Seq[File] = {
    val f = new File(root)
    if (!f.exists()) Seq.empty
    else Files.walk(f.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq
  }

  def writeString(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), s)
  }
}
