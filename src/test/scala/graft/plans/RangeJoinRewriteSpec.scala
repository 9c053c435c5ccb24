package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkSpec}

class RangeJoinRewriteSpec extends AnyFunSuite with SparkSpec {

  private def withExtendedSession[T](f: SparkSession => T): T =
    f(GraftSession.withExtensions(spark))

  private def points(s: SparkSession): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize((0L until 200L).map(i => Row(i, i * 7L % 500L)), 3),
      StructType(Seq(StructField("pid", LongType), StructField("p", LongType))))

  private def intervals(s: SparkSession): DataFrame =
    s.createDataFrame(
      // includes one INVERTED interval (hi < lo): empty by definition —
      // the rewrite must filter it, not explode a descending sequence
      s.sparkContext.parallelize(
        (0L until 30L).map(i => Row(i, i * 17L, i * 17L + 25L)) :+
          Row(99L, 400L, 100L), 2),
      StructType(Seq(StructField("iid", LongType),
        StructField("lo", LongType), StructField("hi", LongType))))

  private def expected(s: SparkSession): Set[(Long, Long)] =
    points(s).crossJoin(intervals(s))
      .filter(col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("naive non-equi range join is rewritten to a binned equi-join") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val joined = points(s).join(intervals(s),
        col("p") >= col("lo") && col("p") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"rule did not rewrite the non-equi join:\n$plan")
      assert(plan.contains("Generate"), "expected the interval bin explode")
      val got = joined.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet === expected(s))
      assert(got.length === got.toSet.size, "rewrite introduced duplicate pairs")
    }
  }

  test("mirrored orientation (intervals on the left) also rewrites") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val joined = intervals(s).join(points(s),
        col("p") >= col("lo") && col("p") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      assert(joined.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === expected(s))
    }
  }

  test("degenerate interval spans raise instead of materializing") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "1")
      s.conf.set("spark.graft.rangeJoin.maxBinsPerInterval", "1000")
      try {
        val wide = s.createDataFrame(
          s.sparkContext.parallelize(Seq(Row(1L, 0L, 100000000L)), 1),
          StructType(Seq(StructField("iid", LongType),
            StructField("lo", LongType), StructField("hi", LongType))))
        val err = intercept[Exception] {
          points(s).join(wide,
            col("p") >= col("lo") && col("p") <= col("hi")).count()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
        assert(msgs(err).exists(m => m != null && m.contains("RangeJoinRewrite")),
          s"expected the guard's message, got: ${msgs(err)}")
      } finally s.conf.unset("spark.graft.rangeJoin.maxBinsPerInterval")
    }
  }

  test("without the config the rule is inert") {
    withExtendedSession { s =>
      val joined = points(s).join(intervals(s),
        col("p") >= col("lo") && col("p") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"),
        s"expected the naive plan without opt-in:\n$plan")
    }
  }

  /** Collect WARN+ messages logged to `loggerName` while `f` runs.
    * The shared test session sets the ROOT level to ERROR, so the
    * logger is temporarily raised to WARN for the capture.
    */
  private def captureWarnings[T](loggerName: String)(f: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LogEvent
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val msgs = scala.collection.mutable.ArrayBuffer[String]()
    val appender = new AbstractAppender(
      s"graft-test-capture-${System.identityHashCode(msgs)}",
      null, null, false, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        msgs.synchronized { msgs += event.getMessage.getFormattedMessage }
    }
    appender.start()
    Configurator.setLevel(loggerName, Level.WARN)
    val logger = LogManager.getLogger(loggerName)
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    logger.addAppender(appender)
    try (f, msgs.synchronized(msgs.toSeq))
    finally {
      logger.removeAppender(appender); appender.stop()
      Configurator.setLevel(loggerName, null: Level) // back to inherited
    }
  }

  private def leftExpected(s: SparkSession): Set[(Long, Option[Long])] = {
    val matched = expected(s)
    val matchedPids = matched.map(_._1)
    matched.map { case (p, i) => (p, Some(i): Option[Long]) } ++
      points(s).collect().map(_.getLong(0)).filterNot(matchedPids)
        .map(p => (p, None: Option[Long]))
  }

  test("LEFT OUTER range join (points preserved) is rewritten and keeps unmatched points") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val joined = points(s).join(intervals(s),
        col("p") >= col("lo") && col("p") <= col("hi"), "left")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"rule did not rewrite the left outer non-equi join:\n$plan")
      assert(plan.contains("Generate"), "expected the interval bin explode")
      val got = joined.select("pid", "iid").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      assert(got.toSet === leftExpected(s))
      assert(got.length === got.toSet.size,
        "rewrite changed left-outer multiplicities")
    }
  }

  test("RIGHT OUTER with points on the right is rewritten equivalently") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val joined = intervals(s).join(points(s),
        col("p") >= col("lo") && col("p") <= col("hi"), "right")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      val got = joined.select("pid", "iid").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      assert(got.toSet === leftExpected(s))
    }
  }

  test("outer-preserved INTERVAL side passes through with a warning") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val joined = intervals(s).join(points(s),
        col("p") >= col("lo") && col("p") <= col("hi"), "left")
      val (plan, warnings) = captureWarnings("graft.plans.RangeJoinRewrite") {
        joined.queryExecution.executedPlan.toString
      }
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"),
        s"an interval-preserved outer join must NOT be rewritten:\n$plan")
      assert(warnings.exists(_.contains("NOT rewritten")),
        s"expected a skip warning, got: $warnings")
      // and the naive plan is still correct: every interval preserved
      val got = joined.select("iid", "pid").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      val matched = expected(s).map { case (p, i) => (i, Some(p): Option[Long]) }
      val matchedIids = matched.map(_._1)
      val exp = matched ++ intervals(s).collect().map(_.getLong(0))
        .filterNot(matchedIids).map(i => (i, None: Option[Long]))
      assert(got.toSet === exp)
    }
  }

  test("non-integral range-shaped joins pass through with a warning") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val pt = points(s).withColumn("p", col("p").cast("double"))
      val iv = intervals(s)
        .withColumn("lo", col("lo").cast("double"))
        .withColumn("hi", col("hi").cast("double"))
      val joined = pt.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
      val (plan, warnings) = captureWarnings("graft.plans.RangeJoinRewrite") {
        joined.queryExecution.executedPlan.toString
      }
      assert(!plan.contains("Generate"), s"must not rewrite doubles:\n$plan")
      assert(warnings.exists(_.contains("integral")),
        s"expected the integral-types warning, got: $warnings")
    }
  }

  test("a malformed maxBinsPerInterval names the key instead of a bare parse error") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      s.conf.set("spark.graft.rangeJoin.maxBinsPerInterval", "lots")
      try {
        val err = intercept[Exception] {
          points(s).join(intervals(s),
            col("p") >= col("lo") && col("p") <= col("hi")).count()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
        assert(msgs(err).exists(m => m != null &&
          m.contains("spark.graft.rangeJoin.maxBinsPerInterval") &&
          m.contains("lots")), s"got: ${msgs(err)}")
      } finally s.conf.unset("spark.graft.rangeJoin.maxBinsPerInterval")
    }
  }

  test("a Long.MaxValue sentinel bound raises the guard, not a generic Sequence error") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "1")
      s.conf.set("spark.graft.rangeJoin.maxBinsPerInterval", "1000")
      try {
        // hiBin - loBin + 1 would wrap negative here; the span check
        // without the +1 (plus the negative-span clause) must still fire
        val sentinel = s.createDataFrame(
          s.sparkContext.parallelize(Seq(Row(1L, Long.MinValue + 10L, Long.MaxValue - 10L)), 1),
          StructType(Seq(StructField("iid", LongType),
            StructField("lo", LongType), StructField("hi", LongType))))
        val err = intercept[Exception] {
          points(s).join(sentinel,
            col("p") >= col("lo") && col("p") <= col("hi")).count()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
        assert(msgs(err).exists(m => m != null && m.contains("RangeJoinRewrite")),
          s"expected the guard's message, got: ${msgs(err)}")
      } finally s.conf.unset("spark.graft.rangeJoin.maxBinsPerInterval")
    }
  }

  private def rightIntervals(s: SparkSession): DataFrame =
    s.createDataFrame(
      // includes one WIDE interval [0, 1000]: it satisfies the overlap
      // predicate even against the INVERTED left interval (400, 100) —
      // the row a blind decomposition would drop
      s.sparkContext.parallelize(
        (0L until 40L).map(i => Row(i, i * 11L, i * 11L + 30L)) :+
          Row(98L, 0L, 1000L), 3),
      StructType(Seq(StructField("jid", LongType),
        StructField("lo2", LongType), StructField("hi2", LongType))))

  test("interval-overlap joins rewrite when both sides prove lo <= hi") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val l = intervals(s).filter(col("lo") <= col("hi"))
      val r = rightIntervals(s).filter(col("lo2") <= col("hi2"))
      val joined = l.join(r,
        col("lo") <= col("hi2") && col("lo2") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"overlap rewrite did not fire:\n$plan")
      assert(plan.contains("Generate"), "expected both-side bin explodes")
      val got = joined.select("iid", "jid").collect()
        .map(x => (x.getLong(0), x.getLong(1)))
      val exp = l.crossJoin(r)
        .filter(col("lo") <= col("hi2") && col("lo2") <= col("hi"))
        .select("iid", "jid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(got.toSet === exp)
      assert(got.length === got.toSet.size,
        "canonical meeting bin failed: duplicate pairs")
    }
  }

  test("interval-overlap joins WITHOUT proven bounds pass through with a warning") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      // no .filter(lo <= hi): an inverted row could satisfy the
      // predicate, so the rewrite must refuse — and the naive plan
      // must keep the inverted left interval's matches
      val joined = intervals(s).join(rightIntervals(s),
        col("lo") <= col("hi2") && col("lo2") <= col("hi"))
      val (plan, warnings) = captureWarnings("graft.plans.RangeJoinRewrite") {
        joined.queryExecution.executedPlan.toString
      }
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"),
        s"must NOT rewrite without the constraint:\n$plan")
      assert(warnings.exists(w => w.contains("overlap") && w.contains("PROVE")),
        s"expected the unproven-bounds warning, got: $warnings")
      // the naive result still contains pairs for the INVERTED
      // interval (iid=99, lo=400 > hi=100) — the rows a blind
      // decomposition would have dropped
      val got = joined.select("iid", "jid").collect()
        .map(x => (x.getLong(0), x.getLong(1)))
      assert(got.exists(_._1 == 99L),
        "test premise broken: inverted interval matched nothing")
    }
  }

  test("joins with an equality conjunct are left untouched") {
    withExtendedSession { s =>
      s.conf.set("spark.graft.rangeJoin.binWidth", "32")
      val iv = intervals(s).withColumn("ik", col("iid") % 3)
      val pt = points(s).withColumn("pk", col("pid") % 3)
      val joined = pt.join(iv,
        col("pk") === col("ik") &&
          col("p") >= col("lo") && col("p") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Generate"),
        s"rule should not fire when an equi key exists:\n$plan")
      // and correctness unchanged
      val exp = pt.crossJoin(iv.withColumnRenamed("ik", "ik2"))
        .filter(col("pk") === col("ik2") &&
          col("p") >= col("lo") && col("p") <= col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(joined.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === exp)
    }
  }
}
