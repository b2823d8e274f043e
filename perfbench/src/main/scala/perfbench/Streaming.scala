package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** What the benchmark's wrapper around a ledger sink saw for one epoch. */
final case class SinkCall(epoch: Long, startMs: Double, endMs: Double, replay: Boolean,
                          span: Option[Span])

/** One stream run's directories and the ledger sink calls it made. */
final class StreamDirs(root: Path) {
  val out: String = root.resolve("out").toString
  val ledger: String = root.resolve("ledger").toString
  val ckpt: String = root.resolve("ckpt").toString
  val calls = new ConcurrentHashMap[Long, SinkCall]()

  /** foreachBatch body: times the ledger sink call and, when traced,
    * opens a `sink` span so the sink's Spark jobs attach to it. */
  def wrap(sink: (DataFrame, Long) => Unit, tracer: Option[Tracer])(df: DataFrame, epoch: Long): Unit = {
    val replay = Files.exists(Paths.get(ledger, f"epoch_$epoch%09d.json"))
    val t0 = Tracer.wallMs
    val span = tracer.map(_.open(s"sink:$epoch", None))
    span.fold(sink(df, epoch))(s => tracer.get.within(s)(sink(df, epoch)))
    calls.put(epoch, SinkCall(epoch, t0, Tracer.wallMs, replay, span))
  }
}

object Streaming {

  /** The epochs from the data epoch after the first `warm` ones through
    * the `count`-th data epoch after them, in batch order. */
  def measured(ps: Seq[StreamingQueryProgress], warm: Int, count: Int): Seq[StreamingQueryProgress] = {
    val sorted = ps.sortBy(_.batchId)
    val data = sorted.filter(_.numInputRows > 0).slice(warm, warm + count)
    if (data.isEmpty) Seq.empty
    else sorted.filter(p => p.batchId >= data.head.batchId && p.batchId <= data.last.batchId)
  }

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Stop a query and wait for it; a stream error counts as a violation. */
  def stop(q: StreamingQuery, res: Result): Unit = {
    val err = q.exception
    q.stop()
    err.foreach(e => res.violation(s"stream failed: ${e.getMessage.take(300)}"))
  }

  /** Ledger markers as (epoch, n_rows). */
  def ledger(spark: SparkSession, dir: String): Seq[(Long, Long)] =
    graft.streaming.OffsetLedger.read(spark, dir).select("epoch_id", "n_rows").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Soak's ledger invariants: epochs contiguous from 0, each marker's
    * n_rows equal to its epoch's sink rows, and at most one trailing
    * unledgered epoch. `sunk` maps epoch → rows found in the sink. */
  def checkLedger(led: Seq[(Long, Long)], sunk: Map[Long, Long], res: Result): Unit = {
    val epochs = led.map(_._1)
    if (epochs != epochs.indices.map(_.toLong))
      res.violation(s"ledger epochs not contiguous from 0: ${epochs.take(20).mkString(",")}")
    led.foreach { case (e, n) =>
      res.attempted += 1
      val got = sunk.getOrElse(e, 0L)
      if (got != n) res.fail(s"epoch $e: sink holds $got rows, marker says $n")
    }
    val unledgered = sunk.keySet -- epochs.toSet
    val last = epochs.lastOption.getOrElse(-1L)
    if (unledgered.exists(_ <= last) || unledgered.size > 1)
      res.violation(s"unledgered epochs beyond the in-flight one: ${unledgered.mkString(",")}")
  }

  /** Trigger-phase p50s over the measured data epochs. */
  def triggerLayers(res: Result, ms: Seq[StreamingQueryProgress]): Unit = {
    val data = ms.filter(_.numInputRows > 0)
    Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")
      .foreach { k =>
        if (data.nonEmpty) Layers.set(res, s"trigger.${k}_ms", Stats.median(data.map(dur(_, k))))
      }
    if (ms.nonEmpty) Layers.set(res, "trigger.data_epoch_ratio", data.size.toDouble / ms.size)
    if (data.nonEmpty) Layers.set(res, "plan.plan_ms", Stats.median(data.map(dur(_, "queryPlanning"))))
  }

  /** Epoch spans from progress, holding their trigger phases laid out
    * in execution order and the measured `sink` span. */
  def epochSpans(tracer: Tracer, ps: Seq[StreamingQueryProgress], dirs: StreamDirs): Unit =
    ps.foreach { p =>
      val start = Progress.startMs(p)
      val epoch = tracer.open(s"epoch:${p.batchId}", None, start)
      epoch.end = start + dur(p, "triggerExecution")
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = dur(p, k)
          if (d > 0) { val s = tracer.open(k, Some(epoch), t); s.end = t + d; t += d }
        }
      Option(dirs.calls.get(p.batchId)).flatMap(_.span).foreach { s =>
        s.parent = epoch.id; s.trace = epoch.trace
      }
    }

  /** Ledger sink p50s (over data epochs' sink calls) and epoch counts. */
  def ledgerLayers(res: Result, tracer: Tracer, dataCalls: Seq[SinkCall], all: Seq[SinkCall],
                   per: Double): Unit = {
    tracer.listener.drain()
    if (dataCalls.nonEmpty) {
      Layers.set(res, "ledger.sink_ms", Stats.median(dataCalls.map(c => c.endMs - c.startMs)))
      Layers.set(res, "ledger.sink_jobs",
        Stats.median(dataCalls.flatMap(_.span).map(s => tracer.listener.jobsOf(s.id).size.toDouble)))
    }
    Layers.set(res, "ledger.epochs", all.size / per)
    Layers.set(res, "ledger.replayed_epochs", all.count(_.replay) / per)
  }

  /** Spark work that ran inside the `sink` spans of `calls` only, so
    * warm-up and no-data epochs do not count towards a data epoch. */
  def sinkWork(tracer: Tracer, calls: Seq[SinkCall]): Work = {
    val ids = calls.flatMap(_.span).map(_.id).toSet
    tracer.work(s => ids(s.id))
  }

  /** The sink calls of `ps`'s epochs. */
  def callsOf(dirs: StreamDirs, ps: Seq[StreamingQueryProgress]): Seq[SinkCall] =
    ps.flatMap(p => Option(dirs.calls.get(p.batchId)))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }
}
