package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** The as-of family against a brute-force Scala reference of the oracle
  * SQL semantics, on generated series heavy in tied, null and negative
  * timestamps, null payload fields, empty sides, tolerances from 0 to far
  * beyond the span, and duplicated left rows:
  *  - nearest: min |Δt| within tolerance, then right ts, then payload
  *  - backward: max (ts, payload) over [t − tol, t]
  *  - forward: min (ts, payload) over [t, t + tol]
  *  - interp: the backward and forward rows of the value series as the
  *    bracket, y0 on an exact hit, null when a bracket is missing
  * Payload order is Spark's struct order: field by field, null first.
  * Every case runs with whole-stage codegen on and off, and left rows map
  * 1:1 to output rows. */
class AsofPropertySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  type L = (Long, Option[Long])                       // (lid, lts)
  type R = (Option[Long], Option[Long], Option[Double]) // (rid, rts, rv)

  private val ts = Gen.frequency(1 -> Gen.const(None),
    9 -> Gen.choose(-40L, 40L).map(Some(_)))
  private val left: Gen[Seq[L]] = for {
    n <- Gen.choose(0, 10)
    base <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 5L), ts))
    dups <- Gen.someOf(base)
  } yield base ++ dups
  private val right: Gen[Seq[R]] = for {
    n <- Gen.choose(0, 14)
    rs <- Gen.listOfN(n, Gen.zip(
      Gen.option(Gen.choose(0L, 3L)), ts,
      Gen.option(Gen.oneOf(0.5, 1.5, 2.5, -3.0))))
  } yield rs
  private val tolerance = Gen.oneOf(0L, 1L, 2L, 5L, 13L, 1000L)
  private val cases = Gen.zip(left, right, tolerance)

  private val optL = Ordering.Option(Ordering.Long)
  private val optD = Ordering.Option(Ordering.Double.TotalOrdering)
  /** rts, then the payload (rid, rv) in Spark struct order, null first. */
  private val byTsPayload: Ordering[R] =
    Ordering.by[R, (Option[Long], Option[Long], Option[Double])](
      r => (r._2, r._1, r._3))(Ordering.Tuple3(optL, optL, optD))

  private def v(o: Option[Any]): Any = o.getOrElse(null)
  private def row(l: L, r: Option[R]): Seq[Any] =
    Seq(l._1, v(l._2), v(r.flatMap(_._1)), v(r.flatMap(_._2)), v(r.flatMap(_._3)))

  private def within(t: Long, lo: Long, hi: Long, rs: Seq[R]) =
    rs.filter(r => r._2.exists(x => x >= t - lo && x <= t + hi))

  private def refNearest(ls: Seq[L], rs: Seq[R], tol: Long) = ls.map { l =>
    row(l, l._2.flatMap { t =>
      within(t, tol, tol, rs).minOption(Ordering.by[R, (Long, R)](r =>
        (math.abs(t - r._2.get), r))(Ordering.Tuple2(Ordering.Long, byTsPayload)))
    })
  }
  private def refBackward(ls: Seq[L], rs: Seq[R], tol: Long) = ls.map { l =>
    row(l, l._2.flatMap(t => within(t, tol, 0L, rs).maxOption(byTsPayload)))
  }
  private def refForward(ls: Seq[L], rs: Seq[R], tol: Long) = ls.map { l =>
    row(l, l._2.flatMap(t => within(t, 0L, tol, rs).minOption(byTsPayload)))
  }
  private def refInterp(ls: Seq[L], rs: Seq[R], tol: Long) = ls.map { l =>
    // interp sees only (rts, rv): the bracket order is (ts, value)
    val vs = rs.map(r => (None, r._2, r._3): R)
    val out = l._2.flatMap { t =>
      val lo = within(t, tol, 0L, vs).maxOption(byTsPayload)
      val hi = within(t, 0L, tol, vs).minOption(byTsPayload)
      (lo, hi) match {
        case (Some((_, Some(t0), y0)), Some((_, Some(t1), y1))) =>
          if (t1 == t0) y0
          else for (a <- y0; b <- y1)
            yield a + (b - a) * ((t - t0).toDouble / (t1 - t0).toDouble)
        case _ => None
      }
    }
    Seq(l._1, v(l._2), v(out))
  }

  private def frames(ls: Seq[L], rs: Seq[R]): (DataFrame, DataFrame) = {
    import spark.implicits._
    (ls.toDF("lid", "lts").repartition(3), rs.toDF("rid", "rts", "rv"))
  }

  private def multiset(rows: Seq[Seq[Any]]) =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  /** Runs `op` under both codegen modes; true iff both outputs equal the
    * reference as multisets. */
  private def agrees(op: (DataFrame, DataFrame, Long) => DataFrame,
                     ref: (Seq[L], Seq[R], Long) => Seq[Seq[Any]])
                    (ls: Seq[L], rs: Seq[R], tol: Long): Boolean = {
    val want = multiset(ref(ls, rs, tol))
    Seq("true", "false").forall { ws =>
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      try {
        val (l, r) = frames(ls, rs)
        val got = op(l, r, tol).collect().toSeq.map((_: Row).toSeq)
        val ok = multiset(got) == want
        if (!ok) info(s"wholeStage=$ws tol=$tol left=$ls right=$rs\n" +
          s"  got  ${got.mkString(" ")}\n  want ${ref(ls, rs, tol).mkString(" ")}")
        ok
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  private def check(op: (DataFrame, DataFrame, Long) => DataFrame,
                    ref: (Seq[L], Seq[R], Long) => Seq[Seq[Any]]): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(30).withInitialSeed(20261018L),
      Prop.forAllNoShrink(cases) { case (ls, rs, tol) => agrees(op, ref)(ls, rs, tol) })
    assert(res.passed, res.status.toString)
  }

  test("asofNearest matches the reference (codegen and interpreted)") {
    check(Align.asofNearest(_, _, "lts", "rts", _), refNearest)
  }

  test("asofBackward matches the reference (codegen and interpreted)") {
    check(Align.asofBackward(_, _, "lts", "rts", _), refBackward)
  }

  test("asofForward matches the reference (codegen and interpreted)") {
    check(Align.asofForward(_, _, "lts", "rts", _), refForward)
  }

  test("interpLinear matches the reference (codegen and interpreted)") {
    check(Align.interpLinear(_, _, "lts", "rts", "rv", _, "out"), refInterp)
  }

  test("duplicated left rows stay 1:1, tied right rows break by payload") {
    val ls = Seq((1L, Some(10L)), (1L, Some(10L)), (1L, Some(10L)),
      (2L, Some(-7L)), (2L, Some(-7L)))
    val rs = Seq((Some(3L), Some(10L), Some(1.5)), (Some(1L), Some(10L), None),
      (Some(1L), Some(10L), Some(0.5)), (None, Some(-8L), Some(2.5)),
      (Some(2L), Some(-6L), Some(2.5)))
    val (l, r) = frames(ls, rs)
    val near = Align.asofNearest(l, r, "lts", "rts", 1L).collect()
      .map(_.toSeq).toSeq
    assert(near.length == 5)
    assert(near.count(_ == Seq(1L, 10L, 1L, 10L, null)) == 3)
    // -7 is 1 from both -8 and -6: the earlier right row wins
    assert(near.count(_ == Seq(2L, -7L, null, -8L, 2.5)) == 2)
    for ((op, ref) <- Seq[((DataFrame, DataFrame, Long) => DataFrame,
        (Seq[L], Seq[R], Long) => Seq[Seq[Any]])](
      (Align.asofBackward(_, _, "lts", "rts", _), refBackward),
      (Align.asofForward(_, _, "lts", "rts", _), refForward),
      (Align.interpLinear(_, _, "lts", "rts", "rv", _, "out"), refInterp)))
      assert(agrees(op, ref)(ls, rs, 1L))
  }

  test("each op builds lazily and plans a single exchange") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // jobs started while building; a marker job run afterwards flushes
    // the (FIFO) listener bus, so every earlier job start has been counted
    val built = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") ==
            "asof-marker")) flushed.countDown()
        else built.incrementAndGet()
    }
    val (l, r) = frames(Seq((1L, Some(1L))), Seq((Some(1L), Some(2L), Some(1.0))))
    spark.sparkContext.addSparkListener(listener)
    try {
      for (df <- Seq(Align.asofNearest(l, r, "lts", "rts", 5L),
                     Align.asofBackward(l, r, "lts", "rts", 5L),
                     Align.asofForward(l, r, "lts", "rts", 5L),
                     Align.interpLinear(l, r, "lts", "rts", "rv", 5L, "out"))) {
        // the physical plan without adaptive re-planning; the other
        // exchange is this test's own left repartition
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val plan = try df.queryExecution.executedPlan
          finally spark.conf.unset("spark.sql.adaptive.enabled")
        assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 2,
          plan.treeString)
      }
      spark.sparkContext.setJobGroup("asof-marker", "listener flush")
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(built.get() == 0, s"${built.get()} Spark jobs while building")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
