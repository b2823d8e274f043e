package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Records the expected digests `batch_heavy` checks against.
  *
  * `perfbench.Record <dataDir> <outDir> <workDir>` runs
  * [[Workloads.Heavy]] once on the benchmark's session settings and
  * writes, per query:
  *  - the result as parquet under `<outDir>/<name>` plus
  *    `<outDir>/oracle_sql.json`, the layout `tools/check.py` compares
  *    against DuckDB;
  *  - `<outDir>/record.tsv`: name, live digest, digest of the parquet
  *    read back.
  *
  * record.py keeps a query's digest only when the oracle check passed
  * and the live and read-back digests agree. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, workDir) = args
    val spark = Main.session(s"local[${Main.Cores}]", Paths.get(workDir))
    spark.sparkContext.setLogLevel("WARN")
    Main.warmup(spark, dataDir)
    Files.createDirectories(Paths.get(outDir))
    val names = Workloads.Heavy
    val rows = names.map { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, dataDir)
        val (live, _) = Digest.render(Digest.frame(df))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val (back, _) = Digest.render(Digest.frame(spark.read.parquet(s"$outDir/$name")))
        s"$name\t$live\t$back"
      } catch {
        case e: Throwable =>
          System.err.println(s"[record] $name failed: ${e.getMessage}")
          s"$name\tERROR\tERROR"
      }
    }
    Files.write(Paths.get(s"$outDir/record.tsv"),
      rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracle = graft.SparkEntry.oracleSql.filter(e => names.contains(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), oracle.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
