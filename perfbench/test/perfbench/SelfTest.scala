package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Tests of the benchmark's own pure parts: the percentile rule, the seeded
  * generators and the result line's JSON round trip. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def assertEq[A](got: A, want: A, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("quantile interpolates linearly between order statistics") {
      assertEq(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5), 2.5, "median of 1..4")
      assertEq(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75), 4.0, "p75 of 1..5")
      assertEq(Stats.quantile(Seq(7.0), 0.9), 7.0, "single sample")
    }

    test("tail takes the highest level with at least ten samples beyond it") {
      val hundred = (1 to 100).map(_.toDouble)
      val t = Stats.tail(hundred)
      assertEq(t.level, 0.9, "level for n=100")
      assertEq(t.beyond, 10, "samples beyond p90 of 100")
      assertEq(t.n, 100, "reported count")
      assertEq(t.value, Stats.quantile(hundred, 0.9), "p90 value")
      val forty = Stats.tail((1 to 40).map(_.toDouble))
      assertEq((forty.level, forty.beyond, forty.n), (0.75, 10, 40), "n=40 supports p75")
      assertEq(Stats.tail((1 to 1000).map(_.toDouble)).level, 0.99, "n=1000 supports p99")
    }

    test("tail of a small sample is its maximum, with no samples beyond") {
      val t = Stats.tail(Seq(3.0, 9.0, 1.0, 4.0, 2.0))
      assertEq((t.level, t.value, t.beyond, t.n), (1.0, 9.0, 0, 5), "n=5")
      assertEq(Stats.tail((1 to 39).map(_.toDouble)).beyond, 0, "n=39 supports no level")
    }

    test("slope of a linear series is its step; of a flat series zero") {
      assertEq(Stats.slope(Seq(40.0, 45.0, 50.0, 55.0)), 5.0, "slope")
      assertEq(Stats.slope(Seq(3.0, 3.0, 3.0)), 0.0, "flat")
    }

    test("covered time is the union of intervals clipped to the span") {
      assertEq(Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L), 30L, "union")
      assertEq(Tracer.covered(Seq((0L, 10L), (5L, 20L)), 8L, 15L), 7L, "clipped")
      assertEq(Tracer.covered(Nil, 0L, 10L), 0L, "empty")
    }

    test("the result line survives a json4s write/read round trip") {
      val s = Summary(correct = true, attempted = 5, failed = 0, ListMap(
        "setup_s" -> Metric(0.8127019283746, "s"),
        "run_s" -> Metric(31.41592653589793, "s"),
        "work_per_s" -> Metric(123456.789, "1/s")))
      val back = Summary.parse(s.render)
      assertEq(back, s, "round trip")
      assertEq(back.metrics.keys.toList, s.metrics.keys.toList, "metric order")
    }

    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    try {
      test("uniform edges: same seed same edges, other seed other edges") {
        val a = rows(Gen.uniformEdges(spark, 7L, 64L, 200L))
        assertEq(rows(Gen.uniformEdges(spark, 7L, 64L, 200L)), a, "same seed")
        if (rows(Gen.uniformEdges(spark, 8L, 64L, 200L)) == a)
          throw new AssertionError("seeds 7 and 8 gave the same edges")
        if (a.exists(r => r(0) == r(1))) throw new AssertionError("self-loop generated")
      }

      test("change log: deterministic per seed; removals name added edges once") {
        val shape = Gen.LogShape(nV = 64, base = 100, addBatches = 2, addSize = 20,
          removeBatches = 2, removeModulus = 5)
        val a = rows(Gen.changeLog(spark, 3L, shape).orderBy("batch", "src", "dst", "op"))
        assertEq(rows(Gen.changeLog(spark, 3L, shape).orderBy("batch", "src", "dst", "op")),
          a, "same seed")
        val b = rows(Gen.changeLog(spark, 4L, shape).orderBy("batch", "src", "dst", "op"))
        if (a == b) throw new AssertionError("seeds 3 and 4 gave the same log")
        def canon(r: Seq[Any]) = {
          val (x, y) = (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])
          (math.min(x, y), math.max(x, y))
        }
        val added = a.filter(_(3) == "add").map(canon).toSet
        val removed = a.filter(_(3) == "remove")
        assertEq(removed.map(canon).toSet.size, removed.size, "distinct removals")
        if (!removed.map(canon).forall(added)) throw new AssertionError("removal of absent edge")
        val batches = a.map(_(0).asInstanceOf[Int]).toSet
        assertEq(batches, (0 until shape.batches).toSet, "every batch present")
        val lastAdd = a.filter(_(3) == "add").map(_(0).asInstanceOf[Int]).max
        val firstRemove = removed.map(_(0).asInstanceOf[Int]).min
        if (firstRemove <= lastAdd) throw new AssertionError("removal before an add batch")
      }
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
