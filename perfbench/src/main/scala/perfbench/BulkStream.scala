package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import graft.streaming.{KafkaSource, OffsetLedger, Streams}

/** `stream_bulk`: a closed loop. The stream drains a bounded `graft-docs`
  * corpus (4 topic partitions, positioned by a seeded `startingOffset`
  * JSON) `RowsPerBatch` rows per trigger through `Streams.decontamStream`
  * against a seeded holdout shingle set, into `OffsetLedger.kvSink` — the
  * graft-kv two-phase commit. A drain ends when every row of the window
  * is committed. (`Trigger.AvailableNow` would drain it in one epoch:
  * graft-docs does not implement `SupportsTriggerAvailableNow`, so Spark
  * falls back to a single batch.) The first drain warms the JVM; then
  * one drain is measured per [[DrainSeconds]] of the run. */
object BulkStream {
  val Rows = 200000L
  val RowsPerBatch = 50000L
  val TopicPartitions = 4
  /** Each topic partition starts at a seeded position below this. */
  val StartReach = 2000
  /** Holdout: documents whose seeded hash falls below this, per 100000. */
  val HoldoutPer100k = 25L
  val Topic = "docs"
  private val KvSchema = StructType.fromDDL("key LONG, value STRING")

  def startOffsets(seed: Long): Map[Int, Long] = {
    val r = new Random(seed)
    (0 until TopicPartitions).map(p => p -> r.nextInt(StartReach).toLong).toMap
  }

  def windowRows(seed: Long): Long = Rows - startOffsets(seed).values.sum

  private def corpus(spark: SparkSession): DataFrame =
    spark.read.format("graft-docs").option("rows", Rows).option("partitions", 4).load()

  /** The batch read of the window the stream drains. */
  def window(spark: SparkSession, seed: Long): DataFrame = {
    val starts = startOffsets(seed)
    val startOf = element_at(array((0 until TopicPartitions).map(p => lit(starts(p))): _*),
      (col("doc_id") % TopicPartitions + 1).cast("int"))
    corpus(spark).filter(floor(col("doc_id") / TopicPartitions) >= startOf)
  }

  /** Seeded holdout shingles, collected once into a local table so each
    * micro-batch re-reads a small static side, not the corpus. */
  def holdout(spark: SparkSession, seed: Long): DataFrame = {
    val rows = corpus(spark)
      .filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(100000L)) < HoldoutPer100k)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(words) - 3), i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"))
        .as("shingle"))
      .collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType.fromDDL("lang STRING, shingle STRING"))
  }

  def toKv(docs: DataFrame, ho: DataFrame): DataFrame =
    Streams.decontamStream(docs, ho).select(col("doc_id").as("key"), col("text").as("value"))

  final case class Drain(dirs: StreamDirs, ps: Seq[StreamingQueryProgress], startMs: Double, wallMs: Double) {
    def rows: Long = ps.map(_.numInputRows).sum
    def data: Seq[StreamingQueryProgress] = ps.filter(_.numInputRows > 0)
  }

  def drain(spark: SparkSession, ctx: Ctx, ho: DataFrame, name: String, tracer: Option[Tracer],
            res: Result): Drain = {
    val dirs = new StreamDirs(ctx.workDir.resolve(name))
    val progress = tracer.map(_ => new ProgressListener(spark))
    val docs = spark.readStream.format("graft-docs")
      .option("rows", Rows).option("rowsPerBatch", RowsPerBatch)
      .option("topicPartitions", TopicPartitions).option("partitions", 4)
      .option("startingOffset", KafkaSource.startingOffsetsJson(Topic, startOffsets(ctx.seed)))
      .load()
    val t0 = Tracer.wallMs
    val q = toKv(docs, ho).writeStream
      .option("checkpointLocation", dirs.ckpt)
      .foreachBatch(dirs.wrap(OffsetLedger.kvSink(dirs.out, dirs.ledger) _, tracer) _)
      .start()
    // drained: every window row admitted and its last epoch committed
    val target = windowRows(ctx.seed)
    val deadline = System.nanoTime() + 120L * 1000000000L
    def admitted = q.recentProgress.filter(p => dirs.calls.containsKey(p.batchId)).map(_.numInputRows).sum
    while (q.isActive && admitted < target && System.nanoTime() < deadline) Thread.sleep(10)
    if (admitted < target) res.violation(s"$name admitted $admitted of $target rows in time")
    val wall = (dirs.calls.values.asScala.map(_.endMs).maxOption.getOrElse(Tracer.wallMs)) - t0
    Streaming.stop(q, res)
    val ps = progress.map { l => l.close(); l.all.filter(_.runId == q.runId) }
      .getOrElse(q.recentProgress.toSeq)
    Drain(dirs, ps.sortBy(_.batchId), t0, wall)
  }

  /** The kv files each ledgered epoch's `_SUCCESS` manifest lists, with rows. */
  def manifest(dirs: StreamDirs, epoch: Long): Seq[(String, Long)] = {
    val m = Paths.get(dirs.out, s"epoch=$epoch", "_SUCCESS")
    if (!Files.exists(m)) Seq.empty
    else new String(Files.readAllBytes(m), StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
      .map { l => val i = l.lastIndexOf(':'); (Paths.get(dirs.out, s"epoch=$epoch", l.take(i)).toString, l.drop(i + 1).toLong) }
      .toSeq
  }

  /** Ledger invariants, then the kv output read back through the
    * manifests must equal `want` — the batch read of the same window
    * through the same filter — as a multiset (equal digests). */
  def verify(spark: SparkSession, ctx: Ctx, d: Drain, want: String, res: Result): Unit = {
    val led = Streaming.ledger(spark, d.dirs.ledger)
    val files = led.map { case (e, _) => e -> manifest(d.dirs, e) }
    Streaming.checkLedger(led, files.map { case (e, fs) => e -> fs.map(_._2).sum }.toMap, res)
    val paths = files.flatMap(_._2.map(_._1))
    val got =
      if (paths.isEmpty) spark.createDataFrame(java.util.List.of[Row](), KvSchema)
      else spark.read.schema(KvSchema)
        .option("escape", "\"").option("multiLine", "true").csv(paths: _*)
    val gotDigest = Digest.render(Digest.frame(got))._1
    res.attempted += 1
    if (gotDigest != want) res.fail(s"kv output digest $gotDigest != batch window digest $want")
    if (d.rows != windowRows(ctx.seed))
      res.violation(s"drained ${d.rows} source rows, window holds ${windowRows(ctx.seed)}")
  }

  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val t0 = System.nanoTime()
    val ho = holdout(spark, ctx.seed)
    val hoMs = (System.nanoTime() - t0) / 1e6
    val want = Digest.render(Digest.frame(toKv(window(spark, ctx.seed), ho)))._1
    val warm = drain(spark, ctx, ho, "bulk-warm", None, res)
    verify(spark, ctx, warm, want, res)
    val drains = repeat(ctx) { i =>
      val d = drain(spark, ctx, ho, s"bulk-$i", None, res)
      verify(spark, ctx, d, want, res)
      d
    }
    val walls = drains.map(_.wallMs / 1000)
    val rates = drains.map(d => d.rows / (d.wallMs / 1000))
    val trig = drains.flatMap(_.data.map(Streaming.dur(_, "triggerExecution")))
    val lags = drains.flatMap(d => d.data.flatMap(p => Option(d.dirs.calls.get(p.batchId)))
      .map(_.endMs - d.startMs))
    res.e2e("wall_s") = (Stats.median(walls), "s")
    res.e2e("op_ms_p50") = (Stats.median(trig), "ms")
    res.e2e("commit_lag_ms_p50") = (Stats.median(lags), "ms")
    res.e2e("rows_per_s") = (Stats.median(rates), "1/s")
    res.say(f"stream_bulk: ${drains.head.rows} source rows per drain (of a $Rows-row corpus, " +
      f"${RowsPerBatch} rows per trigger), ${ho.count()} holdout shingles; " +
      s"${drains.size} measured drain(s): ${walls.map(w => f"$w%.3f").mkString(", ")} s")
    res.say(f"rows_per_s = ${Stats.median(rates)}%.0f at ${drains.head.rows} rows; " +
      f"trigger_ms_p50 = ${Stats.median(trig)}%.1f ms (n=${trig.size})")

    if (ctx.traced) {
      val tracer = new Tracer(spark.sparkContext)
      val traced = repeat(ctx) { i =>
        val d = drain(spark, ctx, ho, s"bulk-traced-$i", Some(tracer), res)
        verify(spark, ctx, d, want, res)
        d
      }
      val n = traced.size.toDouble
      Layers.set(res, "ops.construct_ms", hoMs)
      Streaming.triggerLayers(res, traced.flatMap(_.ps))
      traced.foreach(d => Streaming.epochSpans(tracer, d.ps, d.dirs))
      val dataCalls = traced.flatMap(d => Streaming.callsOf(d.dirs, d.data))
      Streaming.ledgerLayers(res, tracer, dataCalls, traced.flatMap(d => Streaming.callsOf(d.dirs, d.ps)), n)
      Layers.exec(res, Streaming.sinkWork(tracer, dataCalls), math.max(1, dataCalls.size).toDouble)
      Layers.set(res, "docs.rows_read", traced.map(_.rows).sum / n)
      // the kv write is the last job of each sink call (after the stats job)
      val writes = dataCalls.flatMap(_.span.flatMap(s => tracer.listener.jobsOf(s.id).lastOption))
      Layers.set(res, "kv.write_task_ms", writes.map(_._2.taskMs).sum / n)
      val kvFiles = traced.flatMap(d => Streaming.ledger(spark, d.dirs.ledger).flatMap(e => manifest(d.dirs, e._1)))
      Layers.set(res, "kv.files_written", kvFiles.size / n)
      Layers.set(res, "kv.bytes_written", kvFiles.map(f => Files.size(Paths.get(f._1))).sum / n)
      // the source on its own: a batch scan of the same window
      tracer.span("docs-scan", None)(window(spark, ctx.seed).write.format("noop").mode("overwrite").save())
      Layers.set(res, "docs.scan_task_ms", tracer.work(_.name == "docs-scan").taskMs)
      val after = repeat(ctx)(i => drain(spark, ctx, ho, s"bulk-after-$i", None, new Result))
      Layers.overhead(res, "drain wall", Stats.median(walls) * 1000,
        Stats.median(traced.map(_.wallMs)), Stats.median(after.map(_.wallMs)))
      Layers.writeSpans(tracer, ctx, res)
      tracer.close()

      // single-threaded baseline for the parallel speed-up
      val hoRows = ho.collect()
      spark.stop()
      val one = Main.session("local[1]", ctx.workDir)
      val hoOne = one.createDataFrame(java.util.Arrays.asList(hoRows: _*), ho.schema)
      val base = drain(one, ctx, hoOne, "bulk-local1", None, res)
      verify(one, ctx, base, want, res)
      val baseRate = base.rows / (base.wallMs / 1000)
      res.say(f"parallel speed-up: ${Stats.median(rates) / baseRate}%.2fx = local[4] " +
        f"${Stats.median(rates)}%.0f rows/s over local[1] base $baseRate%.0f rows/s")
    }
  }

  /** A run measures one drain per this many of its seconds (at least
    * one). One drain per 8 s keeps 22 runs of every workload inside a
    * comparison's time budget. */
  val DrainSeconds = 8

  private def repeat(ctx: Ctx)(body: Int => Drain): Seq[Drain] =
    (0 until math.max(1, ctx.seconds / DrainSeconds)).map(body)
}
