package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The batch workloads: queries of `graft.SparkEntry`, each timed as
  * construct (`QueryDef.fn`), plan (forcing `executedPlan` of the digest
  * action, which execution then reuses) and execute (collecting the
  * digest), then checked against its recorded digest. */
object Batch {

  final case class Timing(name: String, constructMs: Double, planMs: Double, execMs: Double,
                          rows: Long) {
    def totalMs: Double = constructMs + planMs + execMs
  }

  /** One query: Left(error) or Right(timing). `tracer` adds the span
    * tree query → construct / plan / execute. */
  def runQuery(spark: SparkSession, ctx: Ctx, name: String,
               tracer: Option[Tracer]): Either[String, Timing] = {
    def phase[T](label: String, parent: Option[Span])(body: => T): T =
      tracer.fold(body)(_.span(label, parent)(body))
    val fn = graft.SparkEntry.queries(name)
    val root = tracer.map(_.open(s"query:$name", None))
    try {
      val t0 = System.nanoTime()
      val df = phase("construct", root)(fn(spark, ctx.dataDir))
      val t1 = System.nanoTime()
      val dg = phase("plan", root) { val d = Digest.frame(df); d.queryExecution.executedPlan; d }
      val t2 = System.nanoTime()
      val (digest, rows) = phase("execute", root)(Digest.render(dg))
      val t3 = System.nanoTime()
      val want = ctx.expected.get(name).map { d =>
        if (ctx.plant == "wrong_digest") "0:0:0" else d
      }
      want match {
        case None => Left(s"$name: no expected digest recorded")
        case Some(w) if w != digest => Left(s"$name: digest $digest != expected $w")
        case _ => Right(Timing(name, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, rows))
      }
    } catch {
      case e: Throwable => Left(s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally root.foreach(_.end = Tracer.wallMs)
  }

  /** Untimed passes over the sf0.001 tables before the first measured one. */
  val WarmPasses = 2

  /** A run measures one pass per this many of its seconds (at least
    * one); a pass of [[Workloads.Heavy]] takes about this long on 4 cores. */
  val PassSeconds = 20

  /** The measured passes: the seeded order, then alternately its
    * reverse. A query's time depends on which queries ran before it in
    * the JVM, so mirrored passes keep that from varying with the seed. */
  def passes(spark: SparkSession, ctx: Ctx, res: Result, names: Seq[String],
             tracer: Option[Tracer]): Seq[(Double, Seq[Timing])] = {
    val seeded = new Random(ctx.seed).shuffle(names)
    (0 until math.max(1, ctx.seconds / PassSeconds)).map { i =>
      val order = if (i % 2 == 0) seeded else seeded.reverse
      val t0 = System.nanoTime()
      val ts = order.flatMap { n =>
        res.attempted += 1
        runQuery(spark, ctx, n, tracer) match {
          case Right(t) =>
            System.err.println(f"[perfbench] $n%-32s ${t.constructMs}%9.1f ${t.planMs}%8.1f ${t.execMs}%9.1f ms")
            Some(t)
          case Left(err) => res.fail(err); None
        }
      }
      ((System.nanoTime() - t0) / 1e9, ts)
    }
  }

  def run(names: Seq[String])(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    // Warm-up: the same queries on the sf0.001 tables, so the JIT and the
    // codegen cache are warm for these plans and no query pays the
    // first-in-JVM cost for the others (the seeded order would otherwise
    // decide which one does). The JIT is still compiling after one such
    // pass; a second one halved the run-to-run spread of the measured
    // pass time (IQR/median 0.17 -> 0.09 over six interleaved seeds on a
    // 4-core VM) for about 4 s per run.
    val warmDir = java.nio.file.Paths.get(ctx.dataDir).resolveSibling("sf0.001").toString
    for (_ <- 0 until WarmPasses; n <- new Random(ctx.seed).shuffle(names))
      Digest.render(Digest.frame(graft.SparkEntry.queries(n)(spark, warmDir)))
    val untraced = passes(spark, ctx, res, names, None)
    endToEnd(untraced, res)
    if (ctx.traced) {
      val tracer = new Tracer(spark.sparkContext)
      val traced = passes(spark, ctx, res, names, Some(tracer))
      tracer.close()
      val kids = (label: String) => tracer.spans.filter(s => s.parent != 0 && s.name == label)
      val nPass = traced.size.toDouble
      val construct = tracer.work(s => s.name == "construct")
      val all = tracer.work(_ => true)
      Layers.set(res, "ops.construct_ms", kids("construct").map(s => s.end - s.start).sum / nPass)
      Layers.set(res, "ops.construct_jobs", construct.jobs / nPass)
      Layers.set(res, "plan.plan_ms", kids("plan").map(s => s.end - s.start).sum / nPass)
      Layers.exec(res, all, nPass)
      val after = passes(spark, ctx, new Result, names, None)
      Layers.overhead(res, "wall per pass", Stats.median(untraced.map(_._1)) * 1000,
        Stats.median(traced.map(_._1)) * 1000, Stats.median(after.map(_._1)) * 1000)
      Layers.writeSpans(tracer, ctx, res)
      res.say(f"traced: ${tracer.spans.count(_.parent == 0)} query spans over ${traced.size} pass(es); " +
        f"self time construct ${kids("construct").map(tracer.selfMs).sum / nPass}%.0f ms, " +
        f"plan ${kids("plan").map(tracer.selfMs).sum / nPass}%.0f ms, " +
        f"execute ${kids("execute").map(tracer.selfMs).sum / nPass}%.0f ms per pass")
    }
  }

  private def endToEnd(ps: Seq[(Double, Seq[Timing])], res: Result): Unit = {
    val walls = ps.map(_._1)
    val qms = ps.flatMap(_._2.map(_.totalMs))
    val wall = Stats.median(walls)
    res.e2e("wall_s") = (wall, "s")
    if (qms.nonEmpty) {
      res.e2e("op_ms_p50") = (Stats.median(qms), "ms")
      // a batch query's input is available at submission: its commit
      // lag is its latency
      res.e2e("commit_lag_ms_p50") = (Stats.median(qms), "ms")
    }
    val perPass = ps.head._2.size
    // rows delivered: the output rows the digest consumed, per second
    res.e2e("rows_per_s") = (Stats.median(ps.map { case (w, ts) => ts.map(_.rows).sum / w }), "1/s")
    res.say(f"wall_s per pass: ${walls.map(w => f"$w%.3f").mkString(", ")} (median $wall%.3f s, " +
      s"${ps.size} pass(es) of ${perPass} queries)")
    res.say(f"query_ms_p50 = ${Stats.median(qms)}%.1f ms (n=${qms.size})")
    Seq(0.90, 0.97).foreach { q =>
      Stats.tail(qms, q) match {
        case Right(v) => res.say(f"query_ms_p${q * 100}%.0f = $v%.1f ms (n=${qms.size})")
        case Left(why) => res.say(f"query_ms_p${q * 100}%.0f not reported: $why")
      }
    }
  }
}
