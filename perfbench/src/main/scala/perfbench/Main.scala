package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** What one run measured and whether its outputs were right. */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    e2e: ListMap[String, Double],
    perLayer: ListMap[String, Double],
    detail: ListMap[String, Any])

/**
 * One run of one workload. Launched by `run.py`, which builds this program,
 * prepares the curation replica, and prints the result line.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --root DIR --out FILE
 *   perfbench.Main --dump-oracle FILE
 */
object Main {
  implicit val formats: Formats = DefaultFormats
  val Workloads = Seq("forward-retry", "curation-2x")

  /** Progress note in the run log, stamped with seconds since launch. */
  @volatile var launchMs: Long = System.currentTimeMillis()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1000.0}%8.3f s  $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("dump-oracle") match {
      case Some(path) =>
        val sql = ListMap(Curation.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)): _*)
        Files.write(Paths.get(path), Serialization.write(sql).getBytes("UTF-8"))
        return
      case None =>
    }
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (known: ${Workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val root = Paths.get(opts("root")).toAbsolutePath
    val out = Paths.get(opts("out"))
    opts.get("launch-ms").foreach(ms => launchMs = ms.toLong)
    val build = root.resolve(".bench_build")
    val work = build.resolve("work")
    Files.createDirectories(work)

    log(s"starting $workload seed=$seed seconds=$seconds trace=$traced")
    val spark = session(work)
    log("session ready")
    val outcome = try workload match {
      case "forward-retry" => Forward.run(spark, seed, seconds, traced, work, launchMs)
      case w =>
        val scale = "x" + w.stripPrefix("curation-").stripSuffix("x")
        Curation.run(spark, seconds, traced, build.resolve(s"data/$scale").toString, scale,
          Curation.loadExpected(root.resolve("perfbench/expected.json")), launchMs)
    } finally {
      if (traced) Trace.write(build.resolve(s"traces/$workload-seed$seed.jsonl"))
    }
    spark.stop()

    // bare values: run.py attaches each metric's unit from BENCHMARK.json;
    // a value that could not be measured (NaN) is written as null
    val metrics = if (traced) outcome.perLayer else outcome.e2e
    val result = ListMap(
      "correct" -> outcome.correct,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) null else v) },
      "detail" -> outcome.detail)
    Files.write(out, Serialization.write(result).getBytes("UTF-8"))
    sys.exit(if (outcome.correct) 0 else 1)
  }

  /** `local[nproc]`, with graft's own extensions and the settings its
    * benchmark sessions use; every file Spark writes stays under `work`. */
  def session(work: Path): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
