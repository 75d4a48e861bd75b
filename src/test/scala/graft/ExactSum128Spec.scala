package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused spec for the r15 LONG-path exact sums
  * ([[graft.plans.DoubleToScaledLong]] / [[graft.plans.Int128ProductSum]] /
  * [[graft.plans.PairMomentsAgg]]) that replaced the DECIMAL accumulators
  * in NumFns.exactSum/exactAvg and Relational.correlationMatrix. What must
  * hold (the optimization's equality contract):
  *
  *  1. exactSum == the old `sum(cast(x as decimal(28,s))).cast(double)`
  *     bit-for-bit on adversarial doubles (ties, negatives, full-mantissa
  *     values), including across repartitionings (order independence);
  *  2. null semantics unchanged: all-null/empty groups give NULL, null
  *     rows are skipped;
  *  3. correlationMatrix == the old decimal formulation on data WITH nulls
  *     (pairwise deletion) — r values bit-identical;
  *  4. overflow poisons to NULL (the decimal path's overflow-to-NULL
  *     class), never a silently wrapped wrong value — also when a merged
  *     partial's high word is Long.MaxValue and the low words carry;
  *  5. out-of-range |v| >= 1e(18-s) fails LOUDLY (the decimal cast
  *     silently NULLed such rows; the operators' range asserts made that
  *     an abort — the throw keeps the abort, earlier and clearer).
  */
class ExactSum128Spec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def oldExactSum(x: org.apache.spark.sql.Column, scale: Int) =
    sum(x.cast(org.apache.spark.sql.types.DecimalType(28, scale))).cast("double")

  test("exactSum equals the decimal path bit-for-bit on adversarial doubles, any partitioning") {
    val rnd = new scala.util.Random(7)
    val vals: Seq[(Int, java.lang.Double)] =
      Seq[(Int, java.lang.Double)]((0, 0.125), (0, -0.125), (0, 2.675), (0, -2.675),
        (1, 0.005), (1, -0.005), (1, 99999.995), (2, null)) ++
        (1 to 5000).map(i => (i % 4, java.lang.Double.valueOf((rnd.nextLong() % 10000000L) / 100.0 + rnd.nextInt(3) * 0.005))) ++
        (1 to 2000).map(i => (i % 4, java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 2e13)))
    for (parts <- Seq(1, 3, 17)) {
      val df = vals.toDF("g", "x").repartition(parts)
      val got = df.groupBy($"g")
        .agg(graft.functions.NumFns.exactSum($"x", 2).as("s"),
          oldExactSum($"x", 2).as("o"))
        .collect()
      got.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2),
          s"null disagreement at g=${r.getInt(0)}, parts=$parts")
        if (!r.isNullAt(1))
          assert(r.getDouble(1) == r.getDouble(2),
            s"g=${r.getInt(0)} parts=$parts: long-path ${r.getDouble(1)} != decimal ${r.getDouble(2)}")
      }
    }
  }

  test("empty and all-null groups are NULL; exactAvg of an empty slice is NULL") {
    val df = Seq((1, Some(2.5)), (1, Some(3.0)), (2, None: Option[Double]))
      .toDF("g", "x")
    val got = df.groupBy($"g")
      .agg(graft.functions.NumFns.exactSum($"x", 2).as("s"),
        graft.functions.NumFns.exactAvg(when($"x" > 100.0, $"x"), 2).as("a"))
      .orderBy($"g").collect()
    assert(got(0).getDouble(1) == 5.5)
    assert(got(0).isNullAt(2), "no x > 100: exactAvg must be NULL, not NaN/0")
    assert(got(1).isNullAt(1), "all-null group must sum to NULL")
  }

  test("correlationMatrix equals the old decimal formulation on null-bearing data") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 20000).map { i =>
      (if (i % 7 == 0) null else java.lang.Double.valueOf((i % 5000) / 100.0 + rnd.nextInt(3) * 0.005),
        if (i % 5 == 0) null else java.lang.Double.valueOf((i % 997) / 100.0),
        java.lang.Double.valueOf(rnd.nextInt(1000) / 100.0))
    }
    val df = rows.toDF("a", "b", "c").repartition(5)
    val cols = Seq("a" -> $"a", "b" -> $"b", "c" -> $"c")
    val neu = graft.operators.Relational.correlationMatrix(df, cols)
      .orderBy("x_col", "y_col").collect()
    // the r14 decimal formulation, inlined
    val dt = org.apache.spark.sql.types.DecimalType(18, 2)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    val aggs = pairs.zipWithIndex.flatMap { case (((_, xc), (_, yc)), i) =>
      val both = xc.isNotNull && yc.isNotNull
      val dx = when(both, xc.cast("double")).cast(dt)
      val dy = when(both, yc.cast("double")).cast(dt)
      Seq(count(when(both, lit(1))).as(s"_n_$i"),
        sum(dx).cast("double").as(s"_sx_$i"), sum(dy).cast("double").as(s"_sy_$i"),
        sum(dx * dy).cast("double").as(s"_sxy_$i"),
        sum(dx * dx).cast("double").as(s"_sxx_$i"),
        sum(dy * dy).cast("double").as(s"_syy_$i"))
    }
    val o = df.agg(aggs.head, aggs.tail: _*).head()
    pairs.zipWithIndex.foreach { case (((xn, _), (yn, _)), i) =>
      val n = o.getLong(i * 6).toDouble
      val (sx, sy, sxy, sxx, syy) = (o.getDouble(i * 6 + 1), o.getDouble(i * 6 + 2),
        o.getDouble(i * 6 + 3), o.getDouble(i * 6 + 4), o.getDouble(i * 6 + 5))
      val den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
      val expected: Option[Double] =
        if (den2 > 0) Some(math.floor((n * sxy - sx * sy) / math.sqrt(den2) * 10000.0 + 0.5) / 10000.0)
        else None
      val r = neu(i)
      assert(r.getString(0) == xn && r.getString(1) == yn)
      assert(r.getLong(2) == o.getLong(i * 6), s"n mismatch for $xn-$yn")
      (expected, if (r.isNullAt(3)) None else Some(r.getDouble(3))) match {
        case (Some(e), Some(g)) => assert(e == g, s"$xn-$yn: corr $g != decimal-path $e")
        case (None, None) =>
        case (e, g) => fail(s"$xn-$yn: null disagreement new=$g old=$e")
      }
    }
  }

  test("128-bit overflow poisons the moment sums to NULL, never a wrapped value") {
    // v = 9.9e15 passes the |v| < 1e16 guard; lx = 9.9e17, lx² ≈ 9.8e35 —
    // 400 such rows push Σx² past 2^127 ≈ 1.7e38, latching the poison flag.
    // The old decimal path overflowed its 38-digit buffer on the same input
    // (to NULL, non-ANSI); the contract is null-not-wrong either way.
    val df = (1 to 400).map(_ => (9.9e15, 1.0)).toDF("a", "b").repartition(3)
    val got = graft.operators.Relational.correlationMatrix(
      df, Seq("a" -> $"a", "b" -> $"b")).collect()
    assert(got.length == 1)
    assert(got(0).getLong(2) == 400L, "n must still count")
    assert(got(0).isNullAt(3), "overflowed moments must yield NULL corr")
  }

  test("out-of-range values fail loudly instead of silently vanishing from the sum") {
    val df = Seq(1.0, 1.0e17).toDF("x")
    val e = intercept[Exception] {
      df.agg(graft.functions.NumFns.exactSum($"x", 2)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("graft_double_to_scaled_long")),
      s"want the scaled-long range message in the failure chain, got: ${messages(e)}")
  }

  test("merging a partial whose high word is Long.MaxValue detects a carried overflow") {
    // hi = Long.MaxValue plus a carry out of the low words wraps `bHi + carry`;
    // the overflow predicate must read the true 128-bit sum, both ways
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Literal}
    import org.apache.spark.sql.types.Decimal
    val agg = graft.plans.Int128ProductSum(Literal(1L), Literal(1L), 0)
    val mergeInput = agg.aggBufferAttributes ++ agg.inputAggBufferAttributes
    val merge = agg.mergeExpressions.map(BindReferences.bindReference(_, mergeInput))
    val result = BindReferences.bindReference(agg.evaluateExpression, agg.aggBufferAttributes)
    // buffers are (hi, lo, seen, ovf); the value is hi·2^64 + unsigned lo
    def merged(a: (Long, Long), b: (Long, Long)): Any = {
      val in = InternalRow(a._1, a._2, true, false, b._1, b._2, true, false)
      result.eval(InternalRow.fromSeq(merge.map(_.eval(in))))
    }
    // (2^127 - 2^64 - 1) + (2^127 - 2^64 + 1) = 2^128 - 2^65: overflow -> NULL
    assert(merged((Long.MaxValue, -1L), (Long.MaxValue, 1L)) == null,
      "a carried overflow past 2^127 must poison the sum to NULL")
    // (-2^127 + 2^64 - 1) + (2^127 - 2^64 + 1) = 0: no overflow
    assert(merged((Long.MinValue, -1L), (Long.MaxValue, 1L)) == Decimal(0),
      "a carried sum back in range must not be flagged as overflow")
  }
}
