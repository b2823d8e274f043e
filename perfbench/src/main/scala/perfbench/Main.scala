package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-run settings handed to every workload. */
final case class Ctx(
    workload: String,
    seed: Long,
    seconds: Int,
    traced: Boolean,
    dataDir: String,
    workDir: Path,
    expected: Map[String, String],
    plant: String)

/** Everything a run reports: counts, end-to-end metrics, per-layer
  * metrics and human-readable report lines. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  val e2e: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  val layers: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap()
  val report: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()

  def fail(msg: String): Unit = { failed += 1; errors += msg }
  /** A check that is not one of the counted operations (an invariant). */
  def violation(msg: String): Unit = { attempted += 1; fail(msg) }
  def say(line: String): Unit = report += line

  private def q(s: String) =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
  private def num(d: Double) =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
      .mkString("{", ",", "}")

  def json: String =
    s"""{"attempted":$attempted,"failed":$failed,"e2e":${obj(e2e)},""" +
      s""""layers":${obj(layers)},"report":${report.map(q).mkString("[", ",", "]")},""" +
      s""""errors":${errors.take(50).map(q).mkString("[", ",", "]")}}"""
}

/** Benchmark entry point, launched by run.py in a fresh JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *  <workDir> <expectedDigests> <resultFile> <plant>`. */
object Main {
  val Cores = 4

  def session(master: String, workDir: Path): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  /** The same JIT/codegen and parquet-reader warm-up graft.Bench runs
    * before its first timed query. */
  def warmup(spark: SparkSession, dataDir: String): Unit = {
    spark.range(200000).selectExpr("id % 10 AS k", "id * 1.0 AS v")
      .groupBy("k").sum("v").count()
    spark.read.parquet(s"$dataDir/region.parquet").count()
  }

  def readExpected(file: String): Map[String, String] =
    if (file == "-" || !Files.exists(Paths.get(file))) Map.empty
    else new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\t"); n -> d }.toMap

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, workDir, expected, resultFile, plant) = args
    val ctx = Ctx(workload, seed.toLong, seconds.toInt, trace == "1", dataDir,
      Paths.get(workDir), readExpected(expected), plant)
    Files.createDirectories(ctx.workDir)
    val res = new Result
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up, once and cold: JVM start to session + extensions ready,
    // then the warm-up. A JVM starts cold only once, so a run has one
    // sample; rebuilding the session in the same JVM would time a warm
    // path that no user waits for.
    val spark = session(s"local[$Cores]", ctx.workDir)
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.currentTimeMillis()
    warmup(spark, dataDir)
    val t2 = System.currentTimeMillis()
    res.e2e("setup_s") = ((t2 - jvmStartMs) / 1000.0, "s")
    Layers.set(res, "setup.session_ms", (t1 - jvmStartMs).toDouble)
    Layers.set(res, "setup.warmup_ms", (t2 - t1).toDouble)
    res.say(f"setup: ${(t2 - jvmStartMs) / 1000.0}%.3f s from JVM start (session " +
      f"${(t1 - jvmStartMs) / 1000.0}%.3f s, warm-up ${(t2 - t1) / 1000.0}%.3f s)")

    try Workloads.byName(workload)(spark, ctx, res)
    catch {
      case e: Throwable =>
        res.violation(s"$workload aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    // Peak RSS follows the JVM's heap sizing more than the workload (its
    // run-to-run spread reached 49 % on stream_open), so it is reported
    // per layer, without a bound, rather than gated end to end.
    val rss = peakRssMb()
    Layers.set(res, "mem.peak_rss_mb", rss)
    res.say(f"peak_rss_mb = $rss%.1f MB")
    if (ctx.traced) Layers.complete(res)
    SparkSession.getActiveSession.foreach { s => s.streams.active.foreach(_.stop()); s.stop() }
    Files.write(Paths.get(resultFile), res.json.getBytes(StandardCharsets.UTF_8))
    // a stream an aborted workload left running must not keep the JVM alive
    sys.exit(0)
  }
}
