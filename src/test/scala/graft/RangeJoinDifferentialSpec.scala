package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Differential harness for the range-join family: every form of the
  * API is compared, as a multiset of rows, with its native Spark
  * formulation over fixed-seed ScalaCheck data:
  *
  *  - point probe: the nested-loop join on `x >= lo AND x <= hi`;
  *  - interval probe: the nested-loop join on `lo <= e AND hi >= s`;
  *  - keyed point probe, inner and left outer: the equi-join with the
  *    range predicate inside the join condition.
  *
  * The generated data carries nulls in every column, duplicate keys,
  * reversed probe and build intervals, Double bounds drawn from a pool
  * holding -0.0, 0.0 and NaN, and empty input partitions. Every case
  * runs at 1 and 7 shuffle partitions, with an empty and a non-empty
  * build side, on the size-gated plan and, for long and timestamp
  * bounds, on the forced binned plan as well. */
class RangeJoinDifferentialSpec extends AnyFunSuite {
  import RangeJoinDifferentialSpec.Domain
  private lazy val spark = TestSpark.spark

  private val seed = rng.Seed(20261017L)

  /** Deterministic samples from a Gen (fixed seed, advanced per draw). */
  private def samples[A](g: Gen[A], n: Int, salt: Long): Seq[A] = {
    var s = seed.reseed(salt)
    (0 until n).flatMap { _ =>
      s = s.next
      g.apply(Gen.Parameters.default, s)
    }
  }

  private def orNull[A](g: Gen[A]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 6 -> g)

  /** Long intervals: narrow build intervals and wider probes, so an
    * interval probe spans several buckets of the binned plan. */
  private def longIv(maxWidth: Long): Gen[(Any, Any)] = for {
    a <- Gen.choose(-40L, 40L)
    w <- Gen.choose(-4L, maxWidth)
    lo <- orNull(Gen.const(a))
    hi <- orNull(Gen.const(a + w))
  } yield (lo, hi)

  private val doublePool = Gen.oneOf(-0.0d, 0.0d, Double.NaN, -1.5d, 1.5d,
    2.0d, -2.0d, Double.PositiveInfinity)
  private val doubleIv: Gen[(Any, Any)] = for {
    lo <- orNull(doublePool)
    hi <- orNull(doublePool)
  } yield (lo, hi)

  private val domains = Seq(
    Domain("long", LongType, longIv(30L), longIv(6L), binnable = true),
    Domain("timestamp", TimestampType, longIv(30L), longIv(6L),
      binnable = true),
    Domain("double", DoubleType, doubleIv, doubleIv, binnable = false))

  private val keyGen: Gen[Any] = orNull(Gen.choose(0L, 3L))

  /** Rows as (id, key, start, end); timestamps are generated as micros. */
  private def frame(d: Domain, idName: String, loName: String,
      hiName: String, rows: Seq[(Any, Any, Any)]): DataFrame = {
    val boundDt = if (d.dt == TimestampType) LongType else d.dt
    val schema = StructType(Seq(StructField(idName, LongType),
      StructField("k", LongType), StructField(loName, boundDt),
      StructField(hiName, boundDt)))
    val data = rows.zipWithIndex.map { case ((k, lo, hi), i) =>
      Row(i.toLong, k, lo, hi)
    }
    // three of the seven input partitions are empty
    val sc = spark.sparkContext
    val df = spark.createDataFrame(
      sc.parallelize(data, 4).union(sc.parallelize(Seq.empty[Row], 3)),
      schema)
    if (d.dt != TimestampType) df
    else df.withColumn(loName, timestamp_micros(col(loName)))
      .withColumn(hiName, timestamp_micros(col(hiName)))
  }

  private def probeOf(d: Domain, salt: Long): DataFrame =
    frame(d, "pid", "s", "e", samples(Gen.zip(keyGen, d.probeIv), 60, salt)
      .map { case (k, (s, e)) => (k, s, e) })

  private def buildOf(d: Domain, salt: Long, n: Int): DataFrame =
    frame(d, "bid", "lo", "hi", samples(Gen.zip(keyGen, d.buildIv), n, salt)
      .map { case (k, (lo, hi)) => (k, lo, hi) })

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The API's output layout: probe columns, then `r_`-prefixed build
    * columns. */
  private def native(probe: DataFrame, build: DataFrame, joinType: String)(
      cond: (String => Column) => Column): DataFrame = {
    val r = build.select(build.columns.toIndexedSeq
      .map(c => col(c).as("r_" + c)): _*)
    probe.join(r, cond(c => r("r_" + c)), joinType)
  }

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  /** Runs `check(domain, forceBinned, build)` for every domain, forced
    * binned where the bound type allows it, a non-empty and an empty
    * build side, at 1 and 7 shuffle partitions. */
  private def everyCase(salt: Long)(
      check: (Domain, Boolean, DataFrame) => (Seq[String], Seq[String]))
      : Unit =
    for (parts <- Seq(1, 7); d <- domains;
         force <- if (d.binnable) Seq(false, true) else Seq(false);
         buildN <- Seq(16, 0)) {
      val build = buildOf(d, salt + 1, buildN)
      val (got, want) = withShufflePartitions(parts)(check(d, force, build))
      assert(got == want,
        s"${d.name} forceBinned=$force build=$buildN partitions=$parts")
    }

  test("point probe equals the nested-loop BETWEEN join") {
    everyCase(salt = 1L) { (d, force, build) =>
      val probe = probeOf(d, 1L)
      (rows(plans.IntervalJoin.join(probe, build, "s", "s", "lo", "hi",
          forceBinned = force)),
        rows(native(probe, build, "inner")(r =>
          col("s") >= r("lo") && col("s") <= r("hi"))))
    }
  }

  test("interval probe equals the nested-loop overlap join") {
    everyCase(salt = 2L) { (d, force, build) =>
      val probe = probeOf(d, 2L)
      (rows(plans.IntervalJoin.join(probe, build, "s", "e", "lo", "hi",
          forceBinned = force)),
        rows(native(probe, build, "inner")(r =>
          r("lo") <= col("e") && r("hi") >= col("s"))))
    }
  }

  Seq(false -> "inner", true -> "left_outer").foreach { case (outer, jt) =>
    test(s"keyed point probe ($jt) equals the equi-join with the range " +
        "predicate in the join condition") {
      everyCase(salt = if (outer) 4L else 3L) { (d, force, build) =>
        val probe = probeOf(d, 3L)
        (rows(plans.IntervalJoin.join(probe, build, "s", "s", "lo", "hi",
            Some("k" -> "k"), leftOuter = outer, forceBinned = force)),
          rows(native(probe, build, jt)(r => col("k") === r("k") &&
            col("s") >= r("lo") && col("s") <= r("hi"))))
      }
    }
  }
}

object RangeJoinDifferentialSpec {
  /** A bound domain: its Spark type, a generator of (start, end) pairs
    * (reversed pairs included), and whether the binned plan applies. */
  final case class Domain(name: String, dt: DataType,
      probeIv: Gen[(Any, Any)], buildIv: Gen[(Any, Any)], binnable: Boolean)
}
