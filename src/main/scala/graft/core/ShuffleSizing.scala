package graft.core

import org.apache.spark.sql.DataFrame

/**
 * Input-size-derived shuffle sizing for the dedup pipelines.
 *
 * Measured failure mode (SCALE.md): at 5M docs the shingle aggregations
 * sort hundreds of millions of rows; with the session default of 32
 * shuffle partitions, per-task sort state outgrew memory, spilled 11 GB
 * at 1M docs and ran a multi-hundred-GB /tmp spill into ENOSPC at 5M.
 * The remedy was a MANUAL 128-partition shuffle override — a sizing rule the
 * user had to know. This helper derives it instead: estimate the
 * operator's shuffle volume from the input plan's size statistic times a
 * measured expansion factor, and RAISE
 * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` so each
 * initial shuffle partition targets ~128 MB.
 *
 * Why this knob: with AQE + partition coalescing (the engine defaults,
 * GraftSession.builder), shuffles START at initialPartitionNum and AQE
 * merges small partitions back to the advisory size — so at small scale
 * behavior is exactly as before (the raise is invisible after coalescing),
 * while at large scale the extra initial partitions keep per-task state
 * bounded. The knob is only ever raised, never lowered, and the raise is
 * capped at [[MaxPartitions]]; when AQE or coalescing is disabled the
 * helper does nothing (initialPartitionNum would not be read — and
 * silently rewriting `spark.sql.shuffle.partitions` under a user who
 * turned AQE off would be worse than the spill).
 *
 * Plan-size statistics are driver-side only (file sizes for parquet
 * scans; no job runs). Expansion factors are calibrated from ScaleBench's
 * measured shuffle-write volumes relative to the on-disk corpus
 * (SCALE.md "Measured" tables: minhash ≈ 48 GB shuffle from a ~2 GB
 * corpus at 5M docs).
 */
object ShuffleSizing {

  val TargetPartitionBytes: Long = 128L << 20
  val MaxPartitions: Int = 4096

  private val InitKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Raise the initial shuffle partition count so `df`'s downstream
    * shuffles (≈ input size × `expansionFactor` bytes) land near the
    * 128 MB/partition target. No-op when the estimate fits the current
    * setting, when statistics are unavailable, or when AQE coalescing is
    * off. Returns the partition count now in effect (for specs/logging).
    *
    * The raise PERSISTS on the session (raise-only): the operators calling
    * this return LAZY frames, so the conf must still hold whenever the
    * caller finally runs an action — there is no moment the helper could
    * safely restore it. AQE coalescing makes the leftover setting a
    * map-side block-count cost only, never a correctness one; a raise is
    * announced through [[Warn]], and callers wanting the previous value
    * back after their action can wrap it in [[scoped]]. */
  def ensureFor(df: DataFrame, expansionFactor: Double): Int = {
    val spark = df.sparkSession
    val aqeOn = spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    val current = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val currentInit = spark.conf.getOption(InitKey)
      .flatMap(_.toIntOption).getOrElse(current)
    if (!aqeOn) return currentInit
    val est =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch {
        case t: Throwable => // a guard must never fail the operator — but
          // say so, or a stats-plumbing regression hides here silently
          Warn(s"ShuffleSizing: size estimation failed (${t.getClass.getSimpleName}: " +
            s"${t.getMessage}); leaving initialPartitionNum at $currentInit")
          return currentInit
      }
    // stat-less plans (LogicalRDD, JDBC, some views) report
    // spark.sql.defaultSizeInBytes = Long.MaxValue, not a measurement — a
    // raise from that sentinel would pin the session at MaxPartitions on
    // every such input, so treat it as "no statistics" and stand down
    val noStats = est >=
      BigInt(spark.conf.get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString))
    if (noStats) {
      Warn("ShuffleSizing: input plan has no size statistics " +
        s"(sizeInBytes=$est is the defaultSizeInBytes sentinel); leaving " +
        s"initialPartitionNum at $currentInit — size shuffles manually for " +
        "very large stat-less inputs")
      return currentInit
    }
    val needed = ((BigDecimal(est) * expansionFactor / TargetPartitionBytes)
      .toBigInt min BigInt(MaxPartitions)).toInt + 1
    if (needed > currentInit) {
      val set = math.min(needed, MaxPartitions)
      spark.conf.set(InitKey, set.toString)
      Warn(s"ShuffleSizing: raising $InitKey $currentInit -> $set " +
        s"(input ~${est / (1L << 20)} MB x $expansionFactor expansion, " +
        s"${TargetPartitionBytes >> 20} MB/partition target); the raise " +
        "persists on this session (AQE coalescing keeps small queries " +
        "unaffected) — wrap the action in ShuffleSizing.scoped to restore")
      set
    } else currentInit
  }

  /** Run `body` (the operator's terminal action) and restore the session's
    * `initialPartitionNum` to its pre-call state afterwards — for
    * long-lived multi-tenant sessions where one huge dedup should not pin
    * later queries' initial partition count. Only sound when every action
    * on the operator's frames happens INSIDE `body`. */
  def scoped[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val before = spark.conf.getOption(InitKey)
    try body
    finally before match {
      case Some(v) => spark.conf.set(InitKey, v)
      case None => spark.conf.unset(InitKey)
    }
  }
}
