package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{OffsetLedger, Streams}

/** `stream_open`: an open loop over the reference's real use. Spark's
  * `rate` source creates events on a wall-clock schedule that does not
  * slow when the engine does; its `timestamp` is each event's creation
  * time. The benchmark maps each row onto the `Ev` shape and, from the
  * seed, turns a share of rows into redeliveries of an earlier
  * `event_id` and a share into events older than the 10-minute
  * watermark. Pipeline: `Streams.dedupWithinWatermark` →
  * `Streams.enrich` (16-row dim) → `OffsetLedger.sink`.
  *
  * The rate source advances its offset once per second, so each second
  * of events lands in one data epoch. A run measures `seconds` data
  * epochs after a JIT warm-up run and [[WarmEpochs]] warm-up epochs. */
object OpenStream {
  val RowsPerSecond = 10000
  val ReplayPerMille = 20
  val LatePerMille = 10
  /** A redelivery repeats one of the 1000 events before it. */
  val ReplayReach = 1000
  val WarmEpochs = 2
  /** Micro-batches of the JIT warm-up run (see [[warmup]]). */
  val WarmBatches = 6
  /** An epoch committed later than this after its oldest event fails. */
  val LagLimitMs = 10000.0

  private def cls(v: Column, seed: Long) = pmod(xxhash64(v, lit(seed)), lit(1000))
  def isLate(v: Column, seed: Long): Column = cls(v, seed) < LatePerMille
  def isReplay(v: Column, seed: Long): Column =
    cls(v, seed) >= LatePerMille && cls(v, seed) < LatePerMille + ReplayPerMille && v >= ReplayReach
  /** The `event_id` row `v` carries. */
  def eventId(v: Column, seed: Long): Column =
    when(isReplay(v, seed), v - 1 - pmod(xxhash64(v, lit(seed + 1)), lit(ReplayReach.toLong)))
      .otherwise(v)

  /** Rate rows (value, timestamp) → Ev columns plus the source offset
    * and the creation time, which the checks read back. */
  def events(rate: DataFrame, seed: Long): DataFrame = {
    val v = col("value")
    val id = eventId(v, seed)
    rate.select(
      id.as("event_id"),
      when(isLate(v, seed), col("timestamp") - expr("INTERVAL 15 MINUTES"))
        .otherwise(col("timestamp")).as("ts"),
      (id % 16).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase")), (id % 3 + 1).cast("int"))
        .as("event_type"),
      (id % 100).cast("double").as("value"),
      v.as("src_offset"),
      col("timestamp").as("created"))
  }

  /** dedup → enrich (16-row dim, as in Soak) over rate-shaped rows. */
  def pipeline(spark: SparkSession, rate: DataFrame, seed: Long): DataFrame = {
    val dim = spark.range(16).select(col("id").as("user_id"),
      concat(lit("seg_"), (col("id") % 4).cast("string")).as("segment"))
    Streams.enrich(Streams.dedupWithinWatermark(events(rate, seed)), dim, "user_id")
  }

  /** Runs the pipeline until `seconds` data epochs past the warm-up have
    * committed; returns the progress reports and construct time. A traced
    * run takes the reports from a StreamingQueryListener, the public hook
    * an operator would register; an untraced one polls recentProgress. */
  def runOnce(spark: SparkSession, ctx: Ctx, dirs: StreamDirs, tracer: Option[Tracer],
              res: Result): (Seq[StreamingQueryProgress], Double) = {
    val progress = tracer.map(_ => new ProgressListener(spark))
    val t0 = System.nanoTime()
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", RowsPerSecond).option("numPartitions", Main.Cores).load()
    val stream = pipeline(spark, rate, ctx.seed)
    val constructMs = (System.nanoTime() - t0) / 1e6
    val q = stream.writeStream
      .option("checkpointLocation", dirs.ckpt)
      .foreachBatch(dirs.wrap(OffsetLedger.sink(dirs.out, dirs.ledger) _, tracer) _)
      .start()
    val want = WarmEpochs + ctx.seconds
    val deadline = System.nanoTime() + (3L * want + 30) * 1000000000L
    def ledgeredData = q.recentProgress.count(p => p.numInputRows > 0 && dirs.calls.containsKey(p.batchId))
    while (q.isActive && ledgeredData < want && System.nanoTime() < deadline) Thread.sleep(50)
    if (ledgeredData < want) res.violation(s"only $ledgeredData of $want data epochs committed in time")
    Streaming.stop(q, res)
    val ps = progress.map { l => l.close(); l.all.filter(_.runId == q.runId) }
      .getOrElse(q.recentProgress.toSeq)
    (ps, constructMs)
  }

  /** Correctness of one run, and the per-epoch commit lags. */
  def verify(spark: SparkSession, ctx: Ctx, dirs: StreamDirs, ps: Seq[StreamingQueryProgress],
             res: Result): Map[Long, Double] = {
    val led = Streaming.ledger(spark, dirs.ledger)
    if (Plant.streamKinds(ctx.plant)) Plant(spark, ctx.plant, dirs, led)
    val out = spark.read.parquet(dirs.out).withColumn("epoch", col("epoch").cast("long"))
    val sunk = out.groupBy("epoch").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Streaming.checkLedger(led, sunk, res)
    val committed = out.filter(col("epoch").isin(led.map(_._1): _*))

    // Which source offsets each epoch read, and whether late events were
    // dropped in it: the late-event filter of a batch uses the watermark
    // the previous batch ran with.
    val byBatch = ps.map(p => p.batchId -> p).toMap
    def hasWatermark(batch: Long) = byBatch.get(batch)
      .flatMap(p => Option(p.eventTime.get("watermark"))).exists(_ != "1970-01-01T00:00:00.000Z")
    val ranges = led.map(_._1).flatMap(byBatch.get).filter(_.numInputRows > 0).map { p =>
      val s = p.sources.head
      (p.batchId, offset(s.startOffset) * RowsPerSecond, offset(s.endOffset) * RowsPerSecond,
        hasWatermark(p.batchId - 1))
    }
    // Every event of those ranges, with its fate: a late event is
    // dropped once a watermark exists, every other id commits once.
    import spark.implicits._
    val gen = ranges.map { case (e, lo, hi, hasWm) =>
      spark.range(lo, hi).select(
        eventId(col("id"), ctx.seed).as("event_id"),
        (isLate(col("id"), ctx.seed) && lit(hasWm)).as("dropped"),
        lit(e).as("epoch"))
    }
    val checkedEpochs = ranges.map(_._1)
    val got = committed.filter(col("epoch").isin(checkedEpochs: _*))
    if (gen.nonEmpty) {
      val want = gen.reduce(_ union _).filter(!col("dropped")).select("event_id").distinct()
      val dups = got.groupBy("event_id").count().filter(col("count") > 1).count()
      val missing = want.except(got.select("event_id")).count()
      val extra = got.select("event_id").except(want).count()
      res.attempted += 1
      if (dups + missing + extra > 0)
        res.fail(s"committed ids: $dups duplicated, $missing missing, $extra unexpected")
    } else res.violation("no data epoch to check")

    // Commit lag: oldest event of the epoch created → its marker committed.
    val oldest = committed.groupBy("epoch").agg(min(col("created")).as("c"))
      .select(col("epoch"), (col("c").cast("double") * 1000).as("ms"))
      .as[(Long, Double)].collect().toMap
    checkedEpochs.flatMap { e =>
      for (o <- oldest.get(e); c <- Option(dirs.calls.get(e))) yield e -> (c.endMs - o)
    }.toMap
  }

  /** The same pipeline over `rate-micro-batch`, which emits its batches
    * as fast as the engine takes them, so the JIT is warm for these plans
    * before the open loop starts. Its output is not measured. */
  def warmup(spark: SparkSession, ctx: Ctx): Unit = {
    val dirs = new StreamDirs(ctx.workDir.resolve("open-warm"))
    val rate = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", RowsPerSecond).option("numPartitions", Main.Cores).load()
    val q = pipeline(spark, rate, ctx.seed).writeStream.option("checkpointLocation", dirs.ckpt)
      .foreachBatch(OffsetLedger.sink(dirs.out, dirs.ledger) _).start()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (q.isActive && q.recentProgress.length < WarmBatches && System.nanoTime() < deadline)
      Thread.sleep(20)
    q.stop()
  }

  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    warmup(spark, ctx)
    val plain = new StreamDirs(ctx.workDir.resolve("open-untraced"))
    val (ps, _) = runOnce(spark, ctx, plain, None, res)
    val lags = verify(spark, ctx, plain, ps, res)
    val ms = Streaming.measured(ps, WarmEpochs, ctx.seconds)
    val data = ms.filter(_.numInputRows > 0)
    val lagMs = data.flatMap(p => lags.get(p.batchId))
    lagMs.foreach { l =>
      res.attempted += 1
      if (l > LagLimitMs) res.fail(f"commit lag $l%.0f ms over the $LagLimitMs%.0f ms limit")
    }
    if (data.nonEmpty && lagMs.nonEmpty) {
      val busy = ms.map(Streaming.dur(_, "triggerExecution")).sum / 1000
      val trig = data.map(Streaming.dur(_, "triggerExecution"))
      res.e2e("wall_s") = (busy, "s")
      res.e2e("op_ms_p50") = (Stats.median(trig), "ms")
      res.e2e("commit_lag_ms_p50") = (Stats.median(lagMs), "ms")
      res.e2e("rows_per_s") = (data.map(_.numInputRows).sum / busy, "1/s")
      res.say(f"stream_open: $RowsPerSecond rows/s offered, ${data.size} measured data epochs of " +
        f"${ms.size} epochs; engine busy $busy%.3f s")
      res.say(s"trigger_ms/rows per epoch: " +
        ms.map(p => f"${Streaming.dur(p, "triggerExecution")}%.0f/${p.numInputRows}").mkString(" "))
      report(res, "trigger_ms", trig)
      report(res, "commit_lag_ms", lagMs)
    }
    if (ctx.traced) {
      val dirs = new StreamDirs(ctx.workDir.resolve("open-traced"))
      val tracer = new Tracer(spark.sparkContext)
      val (tps, constructMs) = runOnce(spark, ctx, dirs, Some(tracer), res)
      verify(spark, ctx, dirs, tps, res)
      tracer.close()
      val tms = Streaming.measured(tps, WarmEpochs, ctx.seconds)
      val tdata = tms.filter(_.numInputRows > 0)
      Layers.set(res, "ops.construct_ms", constructMs)
      Streaming.triggerLayers(res, tms)
      Streaming.epochSpans(tracer, tms, dirs)
      Streaming.ledgerLayers(res, tracer, Streaming.callsOf(dirs, tdata),
        Streaming.callsOf(dirs, tms), 1.0)
      Layers.exec(res, Streaming.sinkWork(tracer, Streaming.callsOf(dirs, tdata)),
        math.max(1, tdata.size).toDouble)
      val states = tms.flatMap(_.stateOperators.headOption)
      states.lastOption.foreach { s =>
        Layers.set(res, "state.rows_total", s.numRowsTotal.toDouble)
        Layers.set(res, "state.memory_bytes", s.memoryUsedBytes.toDouble)
      }
      if (states.nonEmpty) {
        Layers.set(res, "state.commit_ms", Stats.median(states.map(_.commitTimeMs.toDouble)))
        Layers.set(res, "state.dup_rows_dropped", states.map { s =>
          Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.doubleValue).getOrElse(0.0)
        }.sum)
        Layers.set(res, "state.late_rows_dropped", states.map(_.numRowsDroppedByWatermark.toDouble).sum)
      }
      backlog(spark, dirs, tms).foreach(b => Layers.set(res, "source.backlog_rows", b))
      val again = new StreamDirs(ctx.workDir.resolve("open-untraced-after"))
      val (aps, _) = runOnce(spark, ctx, again, None, new Result)
      val adata = Streaming.measured(aps, WarmEpochs, ctx.seconds).filter(_.numInputRows > 0)
      def p50(ps: Seq[StreamingQueryProgress]) = Stats.median(ps.map(Streaming.dur(_, "triggerExecution")))
      if (data.nonEmpty && tdata.nonEmpty && adata.nonEmpty)
        Layers.overhead(res, "trigger p50", p50(data), p50(tdata), p50(adata))
      Layers.writeSpans(tracer, ctx, res)
    }
  }

  /** Rows the generator had created but no trigger had admitted, at the
    * end of each trigger (p50). Creation time is the `created` of offset 0. */
  private def backlog(spark: SparkSession, dirs: StreamDirs, ms: Seq[StreamingQueryProgress]): Option[Double] = {
    val base = spark.read.parquet(dirs.out).filter(col("src_offset") === 0)
      .select((col("created").cast("double") * 1000)).collect().headOption.map(_.getDouble(0))
    base.filter(_ => ms.nonEmpty).map { c0 =>
      Stats.median(ms.map { p =>
        val end = Progress.startMs(p) + Streaming.dur(p, "triggerExecution")
        val created = (end - c0) / 1000 * RowsPerSecond
        math.max(0.0, created - offset(p.sources.head.endOffset) * RowsPerSecond)
      })
    }
  }

  /** The rate source's offset: whole seconds since it started. */
  private def offset(json: String): Long = Option(json).map(_.trim.toLong).getOrElse(0L)

  private def report(res: Result, name: String, xs: Seq[Double]): Unit = {
    res.say(f"${name}_p50 = ${Stats.median(xs)}%.1f ms (n=${xs.size})")
    Stats.tail(xs, 0.90) match {
      case Right(v) => res.say(f"${name}_p90 = $v%.1f ms (n=${xs.size})")
      case Left(why) => res.say(s"${name}_p90 not reported: $why")
    }
  }
}

/** Defects planted into a committed epoch, so a run can prove its checks
  * reject them: `dup_row` copies one row, `missing_row` drops one. */
object Plant {
  val streamKinds = Set("dup_row", "missing_row")

  def apply(spark: SparkSession, what: String, dirs: StreamDirs, led: Seq[(Long, Long)]): Unit = {
    val target = led.find(_._2 > 1).map(_._1)
      .getOrElse(throw new IllegalStateException("no committed epoch to plant into"))
    val dir = java.nio.file.Paths.get(dirs.out, s"epoch=$target")
    val tmp = java.nio.file.Paths.get(dirs.out + "_plant")
    val df = spark.read.parquet(dir.toString)
    val planted = what match {
      case "dup_row" => df.union(df.limit(1))
      case "missing_row" => df.orderBy("event_id").limit(df.count().toInt - 1)
      case other => throw new IllegalArgumentException(s"unknown plant $other")
    }
    planted.write.parquet(tmp.toString)
    Streaming.deleteTree(dir)
    Files.move(tmp, dir)
  }
}
