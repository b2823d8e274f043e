package perfbench

import java.nio.file.Paths

/** The harness's own unit checks (`run.py --selfcheck`): the sample-size
  * rule must refuse a tail percentile with fewer than 10 samples beyond
  * it, and the digest must fold values the oracle check treats as equal
  * while telling real differences apart. Exits nonzero on any miss. */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val fails = scala.collection.mutable.ArrayBuffer[String]()
    def check(ok: Boolean, what: String): Unit = if (!ok) fails += what

    val xs = (1 to 99).map(_.toDouble)
    check(Stats.tail(xs, 0.90).isLeft, "p90 of 99 samples (9 beyond) was reported")
    check(Stats.tail(xs :+ 100.0, 0.90) == Right(90.0), "p90 of 100 samples (10 beyond) was refused")
    check(Stats.tail((1 to 333).map(_.toDouble), 0.97).isLeft, "p97 of 333 samples was reported")
    check(Stats.tail((1 to 334).map(_.toDouble), 0.97).isRight, "p97 of 334 samples was refused")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")

    val spark = Main.session("local[1]", Paths.get(args(0)))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def digest(df: org.apache.spark.sql.DataFrame) = Digest.render(Digest.frame(df))._1
    val base = Seq((1L, 0.0, "a"), (2L, Double.NaN, null)).toDF("k", "v", "s")
    val negZero = Seq((2L, Double.NaN, null), (1L, -0.0, "a")).toDF("k", "v", "s")
    check(digest(base) == digest(negZero), "-0.0 / row order changed the digest")
    check(digest(Seq(Tuple1(Seq(-0.0, 1.0))).toDF("a")) == digest(Seq(Tuple1(Seq(0.0, 1.0))).toDF("a")),
      "-0.0 inside an array changed the digest")
    check(digest(base) != digest(Seq((1L, 0.5, "a"), (2L, Double.NaN, null)).toDF("k", "v", "s")),
      "a changed value kept the digest")
    check(digest(Seq((Option(1L), Option.empty[Long])).toDF("a", "b")) !=
      digest(Seq((Option.empty[Long], Option(1L))).toDF("a", "b")), "a moved null kept the digest")
    check(digest(base) != digest(base.union(base.limit(1))), "a duplicated row kept the digest")
    spark.stop()

    fails.foreach(f => System.err.println(s"selfcheck FAILED: $f"))
    println(if (fails.isEmpty) "selfcheck: all unit checks pass" else s"selfcheck: ${fails.size} failed")
    if (fails.nonEmpty) sys.exit(1)
  }
}
