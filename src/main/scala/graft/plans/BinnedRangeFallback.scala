package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Pmod, Subtract}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Broadcast-ceiling guard + shuffle-plan fallback for the driver-built
  * interval join ([[IntervalJoin]]) — VERDICT r11 item 1.
  *
  * The exec builds its lo-sorted interval index ON THE DRIVER inside
  * the BroadcastExchange (the HashedRelationBroadcastMode precedent —
  * see [[RangeIndexSupport]]). That is the right plan while the build
  * side is dimension-sized, but a build side that outgrows the driver
  * heap / broadcast ceiling at 100× kills the exchange with an OOM or
  * a broadcast-size error instead of degrading. This object is the
  * escape hatch the API routes to BY SIZE: when Catalyst's logical size
  * estimate for the build side exceeds
  * `spark.graft.rangeJoin.maxBuildBytes` (default 256 MB — comfortable
  * 3× index-copy headroom on a 4-8 GB driver, far under Spark's 8 GB
  * broadcast hard cap), the join is planned as the standard BINNED
  * EQUI-JOIN instead: both sides get a W-wide bucket key (W = the build
  * side's max interval width + 1, computed by one metadata-sized
  * aggregate over the build side), the build intervals explode into the
  * ≤ 2 buckets they can touch, the probe intervals into the buckets
  * they span (one for a point), bucket (and key) equality
  * hash-partitions the pair space, and the original range predicate
  * stays as the residual filter — the [[BinTimeRangeJoin]] rewrite
  * generalized from the fixed-width time band to data-derived W. No
  * driver index, no broadcast: the plan is shuffle-bound and scales
  * with executors.
  *
  * Exactness: a point probe lives in exactly one bucket, so each
  * qualifying pair meets once. An interval probe can share several
  * buckets with a build interval, so the join keeps the pair only in
  * the canonical bucket of `greatest(s, lo)` — a point inside both
  * intervals' PHYSICAL spans whenever they overlap. Reversed
  * intervals: a reversed build interval (hi < lo) matches `lo <= e AND
  * hi >= s` exactly when the probe spans the whole reversal
  * (s <= hi < lo <= e), so interval probes keep such rows, binned over
  * their physical span [min(lo,hi), max(lo,hi)] with their absolute
  * width counting toward W; the canonical point greatest(s, lo) is then
  * `lo`, inside both spans. A point probe can never span a reversal, so
  * point probes drop reversed build rows before the explosion, which
  * keeps W to the joinable widths. A reversed PROBE interval (s > e)
  * can only match a build that spans the whole reversal
  * (`lo <= e < s <= hi`); the canonical point is `s`, inside both spans.
  * The output is row-identical (as a multiset) to the broadcast exec,
  * pinned both sides of the threshold by RangeJoinSpec and
  * RangeJoinDifferentialSpec.
  *
  * Bucket arithmetic needs a long-valued bound domain
  * ([[supportedBoundType]]): integral types map through `cast(long)`,
  * timestamps through `unix_micros`. Other bound types keep the
  * broadcast plan regardless of size — the API gates the size-based
  * flip on `supportedBoundType` and only throws when the caller FORCES
  * the fallback on an unsupported type (pre-convert in that case). */
private[graft] object BinnedRangeFallback {
  /** Size ceiling (bytes) for the driver-built broadcast range index;
    * build sides estimated above it take the binned shuffle plan. */
  val CeilingConf = "spark.graft.rangeJoin.maxBuildBytes"
  val DefaultCeilingBytes: Long = 256L * 1024 * 1024

  /** Catalyst's logical size estimate of the build side vs the
    * ceiling. Estimates (not measurements) are exactly what Spark's
    * own broadcast-join selection runs on; an estimate that is wrong
    * at 100× fails SAFE here — over-estimating flips to the shuffle
    * plan, which is always correct, just not index-accelerated. */
  def overCeiling(build: DataFrame): Boolean = {
    val ceiling = build.sparkSession.conf
      .get(CeilingConf, DefaultCeilingBytes.toString).toLong
    build.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(ceiling)
  }

  /** Bound types the binned plan can bucket (long-valued domain). The
    * broadcast exec orders ANY comparable type (GenerateOrdering), so
    * unsupported-type builds keep the broadcast plan regardless of the
    * size estimate rather than failing plan construction — Catalyst
    * estimates RDD-backed builds at defaultSizeInBytes, which would
    * otherwise flip a small date/decimal/string-bounded build into a
    * throw (ADVICE r12). */
  def supportedBoundType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | TimestampType =>
      true
    case _ => false
  }

  /** Long view of a bound column for bucket arithmetic (comparisons in
    * the residual filter stay in the ORIGINAL type). */
  private def asLong(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast("long")
    case TimestampType => unix_micros(c)
    case other => throw new IllegalArgumentException(
      s"binned range-join fallback needs integral or timestamp bounds, " +
        s"got $other — cast the bound columns to long first")
  }

  /** Bucket start: v rounded down to a multiple of w (pmod handles
    * negatives) — equality of bucket starts is equality of buckets, no
    * division needed. The one definition behind both binned plans: this
    * fallback and the [[BinTimeRangeJoin]] rule. */
  def bucketStart(v: Expression, w: Long): Expression =
    Subtract(v, Pmod(v, Literal(w)))

  private val BinP = "__graft_bin_p"
  private val BinB = "__graft_bin_b"

  /** Binned form of [[IntervalJoin.join]]: same arguments, same output
    * columns, same rows. Costs one extra action, the build-side width
    * aggregate (the Databricks range-join bin size, derived instead of
    * asked for). */
  def join(probe: DataFrame, build: DataFrame, probeLo: String,
      probeHi: String, lo: String, hi: String, key: Option[(String, String)],
      prefix: String, leftOuter: Boolean): DataFrame = {
    val dt = build.schema(lo).dataType
    val renamed = build.select(
      build.columns.toIndexedSeq.map(c => col(c).as(prefix + c)): _*)
    val (bLo, bHi) = (col(prefix + lo), col(prefix + hi))
    val (bLoL, bHiL) = (asLong(bLo, dt), asLong(bHi, dt))
    val (s, e) = (col(probeLo), col(probeHi))
    val (sL, eL) = (asLong(s, dt), asLong(e, dt))
    val point = probeLo == probeHi
    val nonNull = renamed.filter(bLo.isNotNull && bHi.isNotNull)
    val joinable = if (point) nonNull.filter(bHi >= bLo) else nonNull
    val wRow = joinable.agg(max(abs(bHiL - bLoL))).head()
    val w = if (wRow.isNullAt(0)) 1L else wRow.getLong(0) + 1L
    def bucket(v: Column): Column =
      Shim.column(bucketStart(Shim.expression(v), w))
    // every bucket start the physical span [min, max] of (a, b) touches
    def span(a: Column, b: Column): Column =
      sequence(bucket(least(a, b)), bucket(greatest(a, b)), lit(w))
    val b = joinable.withColumn(BinB, explode(span(bLoL, bHiL)))
    // a point probe lives in exactly one bucket (a null one for a null
    // probe, which a left outer join pads once); an interval probe is
    // exploded into every bucket it spans, and a pair that shares
    // several buckets is kept only in the canonical one
    val (p, canonical) =
      if (point) (probe.withColumn(BinP, bucket(sL)), Nil)
      else (probe.withColumn(BinP, explode(span(sL, eL))),
        Seq(col(BinB) === bucket(greatest(sL, bLoL))))
    val cond = (key.map { case (pk, bk) => col(pk) === col(prefix + bk) } ++
      Seq(col(BinP) === col(BinB), bLo <= e, bHi >= s) ++ canonical)
      .reduce(_ && _)
    p.join(b, cond, if (leftOuter) "left_outer" else "inner")
      .select(probe.columns.toIndexedSeq.map(col) ++
        build.columns.toIndexedSeq.map(c => col(prefix + c)): _*)
  }
}
