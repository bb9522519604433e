package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape regression guards: the scale-critical physical properties —
 * filters reaching the parquet scan, column pruning, dimension broadcasts —
 * must not silently regress when queries are edited.
 */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q03: segment filter pushed into the customer scan, dims broadcast") {
    val plan = physicalPlan("q03_join_revenue")
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      "mktsegment filter must reach the parquet scan")
    assert(plan.contains("BroadcastHashJoin"), "dimension joins must broadcast")
  }

  test("q02: scan reads only projected columns and pushes range predicates") {
    val plan = physicalPlan("q02_filter_project")
    assert(!plan.contains("l_comment") && !plan.contains("l_tax"),
      "untouched columns must be pruned from the scan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") ||
      plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate range should push down")
  }

  test("q31: query side of ANN is broadcast, not shuffled") {
    val plan = physicalPlan("q31_ann_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "small query set must broadcast against the corpus")
  }

  test("q05: latest-version dedup is one shuffle on the partition key") {
    val plan = physicalPlan("q05_latest_event")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges\n$plan")
  }

  test("q44: IVF centroid assignment is shuffle-free; re-rank bounds the exchange") {
    val plan = physicalPlan("q44_ann_ivf")
    // assignment must not shuffle on the unique row ids; the only hash
    // exchange allowed is the final per-query top-k aggregate
    val hashExchanges = "hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(!hashExchanges.exists(_.contains("neighbor_id")),
      s"centroid assignment must not shuffle on neighbor_id:\n$plan")
    assert(!plan.contains("Window"),
      "re-rank must use the bounded top-k aggregate, not a window sort")
  }

  test("q32: sign-LSH re-rank uses the bounded top-k aggregate") {
    val plan = physicalPlan("q32_ann_lsh")
    assert(plan.contains("bounded_top_k") && !plan.contains("Window"),
      s"re-rank must be the heap aggregate, not a window sort:\n$plan")
  }

  test("q23/q45: DQ row-level checks share one scan per base table") {
    // each FileScan prints its Location once — occurrences of the file name
    // count the scans of that table in the physical plan
    def scans(plan: String, table: String): Int =
      s"$table\\.parquet".r.findAllIn(plan).size
    val p23 = physicalPlan("q23_dq_suite")
    assert(scans(p23, "customer") == 1,
      s"q23 must scan customer once (single-pass predicate checks):\n$p23")
    val p45 = physicalPlan("q45_dq_catalog")
    // customer: one predicate-metrics pass + the DQ-REF anti-join side
    assert(scans(p45, "customer") == 2,
      s"q45 must scan customer twice (metrics pass + anti-join):\n$p45")
  }

  private def countJoins(plan: String): Int =
    "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|CartesianProduct|BroadcastNestedLoopJoin)".r
      .findAllIn(plan).size

  test("q27: LSH pair stage is aggregate-expand, not a banded self-join") {
    // raw operator (warn-only guard): the only join allowed is
    // distinct-shingle hashes back to (id, shingle); a second join would
    // mean the quadratic banded self-join came back
    import graft.operators.Dedup
    val docs = core.Tables.load(core.GraftSession.install(spark), dir, "documents")
      .select("doc_id", "text")
    val raw = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleK = 3,
        numHashes = 8, bands = 4, maxBucket = 200, portable = true)
      .queryExecution.executedPlan.toString
    assert(countJoins(raw) == 1,
      s"expected exactly one join (shingle hash-back), got ${countJoins(raw)}:\n$raw")
    assert(raw.contains("collect_list"),
      s"pair generation must group per bucket and expand in-array:\n$raw")
    // engine query runs the SAME pipeline under the STRICT guard; the only
    // additions are the guard's 1-row broadcast cross-join and the guard
    // aggregate's own copy of the hash-back join (exchange-reused at run
    // time) — anything beyond +2 joins is a pair-stage regression
    val strict = physicalPlan("q27_minhash_lsh")
    // assert_true is RuntimeReplaceable — it compiles to raise_error
    assert(strict.contains("raise_error"),
      "engine q27 must carry the strict saturation guard")
    assert(countJoins(strict) == 3,
      s"expected hash-back + guard cross-join + guard's copy, got ${countJoins(strict)}:\n$strict")
  }

  test("LshGuard tap is plan-neutral: no extra exchange over the uncapped form") {
    // the saturation tap is an always-true filter fed by an accumulator —
    // it must not introduce a shuffle or block the capped pipeline's shape
    import graft.operators.Dedup
    val docs = core.Tables.load(core.GraftSession.install(spark), dir, "documents")
      .select("doc_id", "text")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val capped = Dedup.minhashLshPairs(docs, "doc_id", "text", maxBucket = 200)
    val (uncapped, _) = graft.core.Warn.capturing(
      Dedup.minhashLshPairs(docs, "doc_id", "text"))
    assert(exchanges(capped) == exchanges(uncapped),
      "the guard tap must not add an exchange")
  }

  test("q30: embedding LSH pair stage is aggregate-expand, not a bucket self-join") {
    val plan = physicalPlan("q30_embedding_neardup")
    // candidate generation must group per (band, bucket) and expand in-array;
    // the joins allowed are the two id-equi verify joins that fetch the
    // quantized vectors for the (bounded) candidate pair set, plus the
    // strict guard's 1-row broadcast cross-join (its aggregate subtree has
    // no join of its own — sign bucketing is a pure projection)
    assert(plan.contains("collect_list"),
      s"pair generation must group per bucket and expand in-array:\n$plan")
    assert(plan.contains("raise_error"),
      "engine q30 must carry the strict saturation guard")
    val joins = countJoins(plan)
    assert(joins == 3, s"expected two pair-verify fetches + guard cross-join, got $joins:\n$plan")
    val bucketJoins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[[^\\]]*bucket".r
      .findAllIn(plan).size
    assert(bucketJoins == 0, s"no join may key on the LSH bucket:\n$plan")
  }

  test("q57: column-form DMF metrics fuse into one pass per table") {
    import graft.dq.DmfCatalog
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, when}
    val cat = new DmfCatalog(spark)
    cat.setSchedule("customer", "5 MINUTE")
    cat.addColumnMetric("customer", "row_count", Seq(), count(lit(1)), "e1", "VALUE > 0")
    cat.addColumnMetric("customer", "null_name", Seq("c_name"),
      count(when(col("c_name").isNull, 1)), "e2", "VALUE = 0")
    cat.addColumnMetric("customer", "distinct_mkt", Seq("c_mktsegment"),
      countDistinct(col("c_mktsegment")), "e3", "VALUE = 5")
    // fusion contract: all column metrics on one table resolve the table
    // ONCE and run as one agg job — N metrics over 100 TB cost one scan
    var resolves = 0
    val out = cat.evaluate { _ =>
      resolves += 1
      spark.read.parquet(s"$dir/customer.parquet")
    }
    assert(resolves == 1, s"expected one resolve for three fused metrics, got $resolves")
    assert(out.count() == 3 &&
      out.filter(org.apache.spark.sql.functions.col("status") === "PASS").count() == 3)
  }

  test("incremental CDC slice prunes date partitions, not just row-filters") {
    import org.apache.spark.sql.functions.{col, to_date}
    import graft.ops.IncrementalLoad
    // date-partitioned events fixture — the reference's incremental-load
    // storage layout (connector/snowpark_connector.py:425-453,
    // docs/KIMBALL_CDC_DATA_DESIGN.md:289-296): 30 day-partitions
    val tmp = TempDirs.create("graft-events-part").toString
    graft.core.Tables.load(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(tmp)
    val part = spark.read.parquet(tmp)
    val wm = java.sql.Timestamp.valueOf("2024-01-25 12:00:00")

    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      val qe = df.queryExecution
      qe.toRdd.count() // execute THIS plan so its scan metrics populate
      qe.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    }

    // row-predicate only: no partition filter — every partition is listed
    // and read just to evaluate ts > wm (the 100 TB anti-pattern)
    val rowOnly = scanOf(
      IncrementalLoad.incrementalSlice(part, "ts", Some(wm), None)
        .select("event_id"))
    // with the derived partition predicate: PartitionFilters prunes to the
    // 6 day-partitions at or after the watermark day
    val pruned = scanOf(
      IncrementalLoad.incrementalSlice(part, "ts", Some(wm), Some("event_date"))
        .select("event_id"))
    assert(pruned.toString.contains("PartitionFilters") &&
      pruned.toString.contains("event_date"),
      s"watermark must become a partition filter:\n$pruned")
    def filesRead(f: org.apache.spark.sql.execution.FileSourceScanExec): Long =
      f.metrics("numFiles").value
    assert(filesRead(rowOnly) >= 30,
      s"fixture sanity: row-only slice reads every day-partition, got ${filesRead(rowOnly)}")
    assert(filesRead(pruned) <= 6,
      s"pruned slice must read only watermark-day+ partitions, got ${filesRead(pruned)}")
    // same rows either way — pruning is a pure scan-cost win
    assert(IncrementalLoad.incrementalSlice(part, "ts", Some(wm), Some("event_date")).count() ==
      IncrementalLoad.incrementalSlice(part, "ts", Some(wm), None).count())
  }

  test("q60: contamination check joins stream the corpus, never self-join it") {
    val plan = physicalPlan("q60_contamination")
    // rare-shingle cutoff, probe shingles, and probe sizes all broadcast
    // against the corpus shingle stream; a SortMergeJoin would mean the
    // corpus got shuffled into a join build side
    assert(!plan.contains("SortMergeJoin"),
      s"all contamination joins must broadcast the small side:\n$plan")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts == 3, s"expected 3 broadcast joins (rare, probe, sizes), got $broadcasts:\n$plan")
  }

  test("q19: as-of join has no join node at all (union + window form)") {
    val plan = physicalPlan("q19_asof_join")
    assert(!plan.contains("Join"), "asOfJoin must not materialize candidate pairs")
    assert(plan.contains("Window"), "asOfJoin carries payload via window fill")
  }

  test("QUALIFY rewrite compiles to the same plan shape as hand-written SQL") {
    import graft.reports.ClaimsPipeline
    // the SqlDialect wrap (predicate as hidden column + outer filter +
    // star-EXCEPT) must not cost anything physical: same number of Window
    // operators and hash exchanges as the hand-written subquery form —
    // Catalyst collapses the wrapper projections
    val period = ClaimsPipeline.ReportPeriod(
      "2024-01-01 00:00:00", "2024-01-20 00:00:00")
    core.Tables.load(core.GraftSession.install(spark), dir, "events")
      .createOrReplaceTempView("plan_events")
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val p = df.queryExecution.executedPlan.toString
      ("Window".r.findAllIn(p).size,
        "Exchange hashpartitioning".r.findAllIn(p).size)
    }
    val hand = shape(ClaimsPipeline.detailReportSql(spark, "plan_events", period))
    val shim = shape(ClaimsPipeline.detailReportSnowflakeSql(spark, "plan_events", period))
    assert(shim == hand,
      s"dialect-shim plan (windows, exchanges)=$shim must match hand-written $hand")
  }

  test("q76: shard packing's cumsum window is bucket-partitioned, never a global sort") {
    // the whole point of the two-phase form: the naive global-window pack
    // funnels the corpus through ONE task (Exchange SinglePartition before
    // the Window); packShards must show a window partitioned on the range
    // bucket and no single-partition exchange anywhere upstream of it.
    // (Strip the final presentation orderBy — its range exchange is the
    // query's, not the operator's.)
    val packed = graft.operators.Packing.packShards(
      core.Tables.load(core.GraftSession.install(spark), dir, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("n_chars")),
      "doc_id", "n_chars", budget = 50000, buckets = 64)
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing must not serialize through one partition\n$plan")
    assert(plan.contains("__pb"),
      s"cumsum window must partition on the range bucket\n$plan")
  }

  test("sketches: HLL aggregates combine map-side, so the exchange moves sketch rows") {
    // the 100 TB contract: a night's sketch costs one batch scan + a
    // groups×sketch-bytes exchange. That holds only if the HLL aggregate
    // partial-aggregates BEFORE the shuffle (map-side combine) — doc rows
    // must never cross the wire
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val spec = graft.operators.Sketches.SketchSpec(Seq("lang"),
      distinctCols = Seq("source"), sumCols = Seq("n_chars"))
    val plan = graft.operators.Sketches.batchSketch(docs, spec)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_hll_sketch_agg"),
      s"hll_sketch_agg must partial-aggregate before the exchange:\n$plan")
    // merging persisted state partial-unions the same way
    val st = TempDirs.create("graft-planshape-sketch").resolve("s").toString
    graft.operators.Sketches.appendNight(docs, spec, st, "n1")
    val merged = graft.operators.Sketches.mergedStats(spark, st, spec)
      .queryExecution.executedPlan.toString
    assert(merged.contains("partial_hll_union_agg"),
      s"hll_union_agg must partial-aggregate before the exchange:\n$merged")
  }

  test("bloom probe: ledger verify is shard-pruned and broadcast — the ledger never shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val idx = TempDirs.create("graft-planshape-bloom").resolve("idx").toString
    val corpus = (1 to 400).map(i => (s"key-$i", i.toLong)).toDF("k", "id")
    graft.operators.BloomIndex.save(corpus, "k", "id", idx, shards = 8,
      bitsPerShard = 1L << 14, itemsPerShard = 1024L)
    // two standing keys → at most two candidate shards
    val verdict = graft.operators.BloomIndex.probe(spark, idx,
      Seq("key-7", "key-250").toDF("k"), "k")
    val qe = verdict.queryExecution
    qe.toRdd.count() // execute so scan metrics populate
    // AQE hides scans inside materialized query stages — walk through them
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case _ => Nil
      }
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case o => o.children
      }
      here ++ kids.flatMap(scans)
    }
    val keysScans = scans(qe.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("/keys")))
    assert(keysScans.nonEmpty, "the verify must read the key ledger")
    keysScans.foreach { f =>
      assert(f.toString.contains("PartitionFilters") &&
        f.toString.contains("shard"),
        s"candidate shards must prune at the ledger scan:\n$f")
      // 8 shard dirs stand; ≤2 candidate shards may be read
      assert(f.metrics("numFiles").value <= 2,
        s"pruned ledger scan read ${f.metrics("numFiles").value} files")
    }
    val plan = qe.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the candidate set must broadcast to the ledger, not shuffle it:\n$plan")
  }
}
