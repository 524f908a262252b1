package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.GlobalRank

/** [[GlobalRank.percentileValues]] must be BIT-IDENTICAL to Spark's exact
  * `percentile` aggregate — it replaces ungrouped percentile call sites
  * (q116's median, q133's tercile cuts, q152's exact_p50, the temporal
  * split and RFM cutoffs) whose oracle parity was established against
  * that aggregate's interpolation arithmetic. Randomized trials compare
  * raw doubles with ==, not a tolerance.
  */
class GlobalRankSpec extends SparkSpec {

  test("percentileValues == percentile aggregate, randomized (25 rounds, bit-exact)") {
    import spark.implicits._
    val genVals = for {
      n <- Gen.choose(1, 200)
      // heavy ties: values drawn from a small integer lattice plus a few
      // arbitrary doubles, so lower==higher and hk==lk branches all fire
      vs <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(0, 9).map(_.toDouble),
        Gen.choose(-1e6, 1e6)))
    } yield vs
    val probs = Seq(0.0, 0.1, 1.0 / 3, 0.5, 0.75, 0.9, 1.0)
    val params = Gen.Parameters.default
    for (round <- 0 until 25) {
      val vs = genVals.apply(params, Seed(round.toLong))
        .getOrElse(sys.error(s"gen failed at $round"))
      val df = vs.zipWithIndex.toDF("v", "id")
      val expected = df
        .agg(percentile(col("v"), array(probs.map(lit): _*)).as("p"))
        .collect()(0).getSeq[Double](0)
      val got = GlobalRank.percentileValues(df, "v", "id", probs).get
      assert(got.length == expected.length)
      got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e,
          s"round $round prob ${probs(i)}: got $g expected $e (n=${vs.length})")
      }
      // the distributed tier (gate forced off) must agree bit-for-bit too
      val gotDist = GlobalRank.percentileValues(df, "v", "id", probs, 0L).get
      got.zip(gotDist).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e, s"round $round prob ${probs(i)}: tiers diverge")
      }
    }
  }

  test("percentileValues ignores nulls, like the aggregate") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1.0, 1), Row(null, 2), Row(3.0, 3), Row(null, 4)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType, true),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType, false))))
    val expected = df.agg(percentile(col("v"), lit(0.5))).collect()(0).getDouble(0)
    val got = GlobalRank.percentileValues(df, "v", "id", Seq(0.5)).get
    assert(got(0) == expected)
  }

  test("percentileValues on an empty / all-null frame is None (aggregate's NULL)") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Int)].toDF("v", "id")
    assert(GlobalRank.percentileValues(empty, "v", "id", Seq(0.5)).isEmpty)
    val literals = GlobalRank.percentileLiterals(empty, "v", "id", Seq(0.5), Seq("m"))
    val r = literals.collect()(0)
    assert(r.isNullAt(0) && literals.columns.sameElements(Array("m")))
  }

  test("percentileValues single row: every prob returns that value") {
    import spark.implicits._
    val df = Seq((42.5, 0)).toDF("v", "id")
    val got = GlobalRank.percentileValues(df, "v", "id", Seq(0.0, 0.3, 1.0)).get
    assert(got.forall(_ == 42.5))
  }

  test("percentileValues releases its pinned cache (including empty input)") {
    import spark.implicits._
    spark.catalog.clearCache()
    val df = (1 to 500).map(i => (i.toDouble, i)).toDF("v", "id")
    GlobalRank.percentileValues(df, "v", "id", Seq(0.5, 0.9))
    // the internal range-partitioned frame is persisted to pin sampled
    // boundaries; after the positional collect nothing may stay cached
    // (the r11 leak: unpersisting the derived ranked frame was a no-op)
    assert(spark.sharedState.cacheManager.isEmpty,
      "percentileValues left a cached frame pinned")
    val empty = Seq.empty[(Double, Int)].toDF("v", "id")
    GlobalRank.percentileValues(empty, "v", "id", Seq(0.5))
    assert(spark.sharedState.cacheManager.isEmpty,
      "n==0 early return left a cached frame pinned")
  }

  test("groupedPercentileTable == grouped percentile aggregate, randomized (15 rounds, bit-exact)") {
    // the bounded replacement for df.groupBy(g).agg(percentile(...)) —
    // the r12 VERDICT's "weak" grouped family. Few groups × many rows is
    // exactly the regime it targets; 4 shuffle partitions force every
    // group to straddle several range buckets, exercising the offset
    // arithmetic.
    import spark.implicits._
    val probs = Seq(0.0, 0.05, 0.5, 0.95, 1.0)
    val genRows = for {
      n <- Gen.choose(1, 300)
      rows <- Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c", "d")
        v <- Gen.oneOf(Gen.choose(0, 9).map(_.toDouble), Gen.choose(-1e6, 1e6))
      } yield (g, v))
    } yield rows
    val params = Gen.Parameters.default
    for (round <- 0 until 15) {
      val rows = genRows.apply(params, Seed(1000L + round))
        .getOrElse(sys.error(s"gen failed at $round"))
      val df = rows.toDF("g", "v").repartition(5)
      val expected = df.groupBy(col("g"))
        .agg(percentile(col("v"), array(probs.map(lit): _*)).as("p"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val got = GlobalRank.groupedPercentileTable(df, "g", "v", probs,
        probs.indices.map(i => s"p$i"))
        .collect().map(r => r.getString(0) ->
          probs.indices.map(i => r.getDouble(1 + i))).toMap
      assert(got.keySet == expected.keySet, s"round $round group sets differ")
      got.foreach { case (g, vs) =>
        vs.zip(expected(g)).zipWithIndex.foreach { case ((a, e), i) =>
          assert(a == e, s"round $round group $g prob ${probs(i)}: got $a expected $e")
        }
      }
      // the range-bucket tier (histogram gate forced off) must agree too
      val gotDist = GlobalRank.groupedPercentileTable(df, "g", "v", probs,
        probs.indices.map(i => s"p$i"), 0L)
        .collect().map(r => r.getString(0) ->
          probs.indices.map(i => r.getDouble(1 + i))).toMap
      assert(gotDist == got, s"round $round: tiers diverge")
    }
  }

  test("groupedPercentileTable tiers agree on null groups/values (gate on and off)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType, true),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType, true)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row("a", 1.0), Row("a", 3.0), Row("b", null), Row("b", null),
      Row(null, 10.0), Row(null, 20.0)), schema)
    def run(limit: Long) =
      GlobalRank.groupedPercentileTable(df, "g", "v", Seq(0.5), Seq("m"), limit)
        .collect().map(r => Option(r.get(0)) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(run(1L << 18) == run(0L))
  }

  test("groupedPercentileTable: all-null group gets a null row; NULL group key ranks") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType, true),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType, true)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row("a", 1.0), Row("a", 3.0), Row("b", null), Row("b", null),
      Row(null, 10.0), Row(null, 20.0)), schema)
    val t = GlobalRank.groupedPercentileTable(df, "g", "v", Seq(0.5), Seq("m"))
      .collect().map(r => Option(r.get(0)) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(t == Map(Some("a") -> Some(2.0), Some("b") -> None, None -> Some(15.0)))
  }

  test("groupedPercentileTable releases its pinned cache") {
    import spark.implicits._
    spark.catalog.clearCache()
    val df = (1 to 400).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    GlobalRank.groupedPercentileTable(df, "g", "v", Seq(0.05, 0.95), Seq("lo", "hi"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "groupedPercentileTable left a cached frame pinned")
  }

  test("groupedPercentileAuto: exact under the cell budget, KLL at-rank above it") {
    import spark.implicits._
    val df = (1 to 400).map(i => (s"g${i % 3}", i.toDouble)).toDF("g", "v")
    val probs = Seq(0.0, 0.5, 1.0)
    val names = Seq("p0", "p50", "p100")
    def toMap(rows: Array[Row]) = rows
      .map(r => r.getString(0) -> (1 to 3).map(r.getDouble).toSeq).toMap
    // under the budget: bit-identical to the exact table (same path)
    val exact = toMap(GlobalRank.groupedPercentileTable(
      df, "g", "v", probs, names).collect())
    val auto = toMap(GlobalRank.groupedPercentileAuto(
      df, "g", "v", probs, names).collect())
    assert(auto == exact)
    // maxCells = 1 forces the regime where the exact path's guard would
    // refuse: the sketch path answers instead. sketchK above every group
    // size means the KLL buffer never compacts, so value-at-rank
    // ceil(p*n) is the EXACT order statistic — deterministic to assert.
    val sk = toMap(GlobalRank.groupedPercentileAuto(
      df, "g", "v", probs, names, sketchK = 1024, maxCells = 1L).collect())
    // g0 = {3,6,...,399} (n=133), g1 = {1,4,...,400} (n=134),
    // g2 = {2,5,...,398} (n=133); p50 rank = ceil(n/2) = 67
    assert(sk == Map(
      "g0" -> Seq(3.0, 201.0, 399.0),
      "g1" -> Seq(1.0, 199.0, 400.0),
      "g2" -> Seq(2.0, 200.0, 398.0)))
  }

  test("percentileLiterals column names and one-row shape") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toDouble, i)).toDF("v", "id")
    val lits = GlobalRank.percentileLiterals(df, "v", "id", Seq(0.25, 0.5), Seq("a", "b"))
    val expected = df.agg(
      percentile(col("v"), lit(0.25)), percentile(col("v"), lit(0.5))).collect()(0)
    val r = lits.collect()
    assert(r.length == 1 && lits.columns.sameElements(Array("a", "b")))
    assert(r(0).getDouble(0) == expected.getDouble(0))
    assert(r(0).getDouble(1) == expected.getDouble(1))
  }

  test("weightedPrefixSumsMulti tiers agree row-for-row (randomized, 15 rounds)") {
    // the r19 local spine gate: while the histogram fits one driver page
    // the prefix sums fold in-process. Rows, prefix values, and totals
    // must be IDENTICAL to the distributed range-partition pass — prefix
    // sums of longs are order-free exact integers, so equality is ==.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val params = Gen.Parameters.default
    val genHist = for {
      n <- Gen.choose(1, 250)
      vs <- Gen.pick(n, (-300 to 300).map(_.toDouble / 7))
      ws <- Gen.listOfN(n, Gen.oneOf(
        Gen.const[java.lang.Long](null),
        Gen.choose(0L, 50L).map(java.lang.Long.valueOf)))
      w2 <- Gen.listOfN(n, Gen.choose(0L, 9L).map(java.lang.Long.valueOf))
    } yield vs.toSeq.zip(ws.zip(w2))
    val schema = StructType(Seq(
      StructField("v", DoubleType, nullable = true),
      StructField("w", LongType, nullable = true),
      StructField("w2", LongType, nullable = true),
      StructField("payload", StringType, nullable = true)))
    for (round <- 0 until 15) {
      val hist = genHist.apply(params, Seed(1000L + round))
        .getOrElse(sys.error(s"gen failed at $round"))
      val rows = hist.map { case (v, (w, w2)) =>
        Row(v, w, java.lang.Long.valueOf(w2), s"p$v")
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      val weights = Seq("w" -> "pw", "w2" -> "pw2")
      val (loc, locTots, _) =
        GlobalRank.weightedPrefixSumsMultiHandle(df, "v", weights)
      val (dist, distTots, pinned) =
        GlobalRank.weightedPrefixSumsMultiHandle(df, "v", weights,
          localSpineLimit = 0L)
      assert(locTots == distTots, s"round $round: totals diverge")
      def key(r: Row) = r.getDouble(0)
      val lRows = loc.collect().sortBy(key)
      val dRows = dist.collect().sortBy(key)
      assert(lRows.length == dRows.length, s"round $round: row counts diverge")
      lRows.zip(dRows).foreach { case (l, d) =>
        assert(l == d, s"round $round: $l != $d")
      }
      assert(loc.columns.sameElements(dist.columns),
        s"round $round: column order diverges")
      pinned.unpersist(false)
      spark.catalog.clearCache()
    }
  }

  test("weightedPrefixSums local tier: null order key sorts first, like the range sort") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("v", DoubleType, nullable = true),
      StructField("w", LongType, nullable = false)))
    val rows = Seq(Row(2.0, 5L), Row(null, 3L), Row(1.0, 7L))
    val df = spark.createDataFrame(rows.asJava, schema)
    val (loc, tots, _) =
      GlobalRank.weightedPrefixSumsMultiHandle(df, "v", Seq("w" -> "p"))
    val (dist, dTots, pinned) =
      GlobalRank.weightedPrefixSumsMultiHandle(df, "v", Seq("w" -> "p"),
        localSpineLimit = 0L)
    val l = loc.collect().sortBy(r => Option(r.get(0)).fold(-1e18)(_.asInstanceOf[Double]))
    val d = dist.collect().sortBy(r => Option(r.get(0)).fold(-1e18)(_.asInstanceOf[Double]))
    assert(tots == dTots && l.sameElements(d))
    // null first: its prefix is 0; 1.0 sees the null's weight before it
    assert(l.find(_.isNullAt(0)).get.getLong(2) == 0L)
    assert(l.find(r => !r.isNullAt(0) && r.getDouble(0) == 1.0).get.getLong(2) == 3L)
    pinned.unpersist(false)
    spark.catalog.clearCache()
  }

  test("weightedPrefixSumsMulti: an IntegerType weight on a small frame sums like its long cast") {
    // the local tier folds weights with getLong; a non-long weight must
    // take the distributed tier under the gate too, not throw there only
    import spark.implicits._
    val df = Seq((3.0, 4), (1.0, 2), (2.0, 7), (4.0, 0)).toDF("v", "w")
    def prefixes(in: org.apache.spark.sql.DataFrame) = {
      val (out, tots) = GlobalRank.weightedPrefixSumsMulti(in, "v", Seq("w" -> "p"))
      (out.select("v", "p").as[(Double, Long)].collect().sortBy(_._1).toSeq, tots)
    }
    val asInt = prefixes(df)
    assert(asInt == prefixes(df.withColumn("w", col("w").cast("long"))))
    assert(asInt == (Seq(1.0 -> 0L, 2.0 -> 2L, 3.0 -> 9L, 4.0 -> 13L), Seq(13L)))
    spark.catalog.clearCache()
  }

  test("weightedPrefixSums local tier leaves nothing cached") {
    import spark.implicits._
    spark.catalog.clearCache()
    val df = (1 to 100).map(i => (i.toDouble, 1L)).toDF("v", "w")
    GlobalRank.weightedPrefixSums(df, "v", "w", "p").collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "wps local tier left a cached frame pinned")
  }
}
