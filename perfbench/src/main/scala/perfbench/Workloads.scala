package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's workloads by name. */
object Workloads {

  /** Heavy sf0.1 queries, one per mechanism later work targets:
    * connected components (iteration rounds over eager snapshots, jobs
    * fired while the query is constructed), LSH candidate generation,
    * IVF nearest-neighbour search (a driver-collected codebook, then a
    * wide join), distinct counts under windows (the HLL query) and
    * near-duplicate detection (a shingle self-join over a threshold
    * sweep). Execution and construction-phase jobs dominate; planning is
    * a small share. */
  val Heavy: Seq[String] = Seq(
    "q_graph_components", "q_lsh_tuning", "q_knn_ivf",
    "q_win_distinct_hll", "q_dedup_threshold_curve")

  val byName: Map[String, (SparkSession, Ctx, Result) => Unit] = Map(
    "batch_heavy" -> Batch.run(Heavy),
    "stream_open" -> OpenStream.run,
    "stream_bulk" -> BulkStream.run)
}
