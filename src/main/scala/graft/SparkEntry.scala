package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, SqlTemplate, Tables}
import graft.functions.{Dates, Text, Vectors}
import graft.merge.Upsert
import graft.operators.{BandIndex, Bm25, Dedup, Fusion, IvfIndex, Multimodal, NbClassifier, NgramLm, Similarity}
import graft.ops.{Cdc, Compaction, Periods}
import graft.reports.Feeds

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the large-scale pipeline operators), each with an
 * equivalent DuckDB oracle in `oracleSql`.
 *
 * Determinism rules used throughout (so Spark parquet output hash-matches
 * the DuckDB oracle):
 *  - every query ends in a total ORDER BY on unique keys;
 *  - sums over doubles go through DECIMAL casts (exact, order-independent)
 *    and are emitted as DOUBLE;
 *  - derived integers are emitted as BIGINT on both sides;
 *  - event timestamps are µs-truncated on both sides (nanos parquet).
 */
object SparkEntry {

  /** Scratch dirs for queries that must materialize an on-disk layout
    * (q69 compaction, q71 persisted band index), all recursively deleted
    * when the JVM exits — repeated Verify/Bench runs must not accumulate
    * table copies under java.io.tmpdir (r11 advice). */
  private object Scratch {
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    locally {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        dirs.synchronized(dirs.toList).foreach { p =>
          try {
            val walk = java.nio.file.Files.walk(p)
            try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
            finally walk.close()
          } catch { case _: Throwable => () } // exit-time best effort
        }))
    }
    def dir(prefix: String): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      dirs.synchronized { dirs += p }
      p
    }
  }

  /** decimal(18,2) cast for exact, order-independent money/qty sums. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(GraftSession.install(s), dir, name)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1/A4/A6 — grouped aggregation report (pricing summary)
    "q01_pricing_summary" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(18,6)")))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // P1/P2/P3/P5 — projection with aliases, range + IN predicates
    "q02_filter_project" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate").between(lit("1995-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")) &&
          col("l_linenumber").isin(1, 2, 3))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          col("l_returnflag").as("flag"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // J1/J7-adjacent — multi-way equi-join with broadcast dims + aggregation
    "q03_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(18,6)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    }),

    // J2 — left outer join with null handling
    "q04_left_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(dec(col("o_totalprice"))), lit(0).cast("decimal(18,2)"))
            .cast("double").as("total_spent"))
        .orderBy("c_custkey")
    }),

    // W1 — latest-version-per-key (QUALIFY ROW_NUMBER = 1)
    "q05_latest_event" -> ((s, dir) => {
      val e = t(s, dir, "events")
      Cdc.latestVersion(e, Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
        .select("user_id", "event_id", "event_type", "value", "ts")
        .orderBy("user_id")
    }),

    // W3 — effective/expiry intervals via LEAD - 1 minute
    "q06_event_intervals" -> ((s, dir) => {
      val e = t(s, dir, "events")
      Cdc.effectiveIntervals(e, Seq("user_id"), "ts", Seq(col("event_id").asc),
          sentinel = "2199-12-31 00:00:00")
        .select("user_id", "event_id", "eff_dt", "exp_dt")
        .orderBy("user_id", "event_id")
    }),

    // W6/J7/J8 — whole-table analytics + 3-sigma outliers (exact moments)
    "q07_outliers" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val stats = o.agg(
        count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("s"),
        sum(dec(col("o_totalprice")) * dec(col("o_totalprice"))).cast("double").as("ss"))
      val mean = col("s") / col("n")
      val std = sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1))
      o.crossJoin(broadcast(stats))
        .filter(abs(col("o_totalprice") - mean) > std * 1.5)
        .select(col("o_orderkey"), col("o_totalprice"),
          round((col("o_totalprice") - mean) / std, 4).as("z"))
        .orderBy("o_orderkey")
    }),

    // A3/A8 — duplicate detection via GROUP BY HAVING
    "q08_dup_groups" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("err_count"))
        .filter(col("err_count") > 2)
        .orderBy("o_custkey", "o_orderstatus")
    }),

    // A7 — rollup report with grand-total row (pandas concat → one ROLLUP)
    "q09_rollup_totals" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Feeds.groupedReport(o, "o_orderpriority", Seq("o_totalprice" -> "total_price"))
        .orderBy("row_kind", "o_orderpriority")
    }),

    // J5/J6 — anti-join (NOT EXISTS)
    "q10_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F")
      Cdc.antiIn(c, f, c("c_custkey") === f("o_custkey"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // semi-join (EXISTS)
    "q11_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      Cdc.semiIn(o, li.filter(col("l_discount") > 0.09),
          o("o_orderkey") === li("l_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // U1 — UNION (distinct)
    "q12_union_nations" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      c.select(col("c_nationkey").as("nationkey"))
        .union(su.select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")
    }),

    // J8/A10 — scalar-subquery count difference (custom DMF)
    "q13_count_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      val a = o.agg(count(lit(1)).as("n_orders"))
      val b = li.agg(countDistinct(col("l_orderkey")).as("n_lineitem_orders"))
      a.crossJoin(b).select(col("n_orders"), col("n_lineitem_orders"),
        abs(col("n_orders") - col("n_lineitem_orders")).as("diff"))
    }),

    // F1 + §2.8 conditionals — working-days UDF as closed form, flags, clamp
    "q14_working_days" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("cal_days"),
          Dates.workingDaysBetween(col("o_orderdate"), col("l_shipdate")).as("work_days"),
          when(datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")) <= 14, 1L)
            .otherwise(0L).as("within_two_weeks"),
          when(datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")) > 0,
            datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")).cast("long") - 1)
            .otherwise(0L).as("clamped_days"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // §2.8 string family — trim/substr/position/concat/upper/md5/try_cast
    "q15_string_funcs" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.select(
        col("c_custkey"),
        upper(col("c_name")).as("up_name"),
        substring_index(col("c_name"), "#", -1).as("suffix"),
        expr("try_cast(substring_index(c_name, '#', -1) AS BIGINT)").as("suffix_num"),
        md5(col("c_name").cast("binary")).as("name_md5"),
        length(col("c_name")).cast("long").as("name_len"),
        concat(col("c_mktsegment"), lit("|"), trim(col("c_name"))).as("seg_name"))
        .orderBy("c_custkey")
    }),

    // §2.8 date family — trunc/last_day/add_months/make_date/format
    "q16_date_funcs" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_trunc("quarter", col("o_orderdate")).as("quarter_start"),
        last_day(col("o_orderdate")).cast("timestamp").as("month_end"),
        add_months(col("o_orderdate"), 3).cast("timestamp").as("plus3m"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("us_date"),
        make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).cast("timestamp").as("first_of_month"))
        .orderBy("o_orderkey")
    }),

    // F4 — generated monthly report periods (00:00:00.000 / 23:59:59.997)
    "q17_periods" -> ((s, dir) =>
      Periods.monthlyPeriods(s, 2024, 2025, "CARRIER_A")
        // DATE → TIMESTAMP at the query boundary: parquet/pandas round-trips
        // of date32 vs DuckDB's datetime64 disagree on dtype, not value
        .withColumn("as_of_run_dt", col("as_of_run_dt").cast("timestamp"))
        .orderBy("report_start_date")),

    // M1 — MERGE upsert via full-outer join, with row accounting
    "q18_merge_upsert" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val target = o.filter(col("o_orderkey") % 3 =!= 0)
      val source = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + lit(10.0)).as("o_totalprice"),
          lit("U").as("o_orderstatus"))
      Upsert.merge(target, source, Seq("o_orderkey")).result
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // J10 — as-of join (latest click at or before each purchase)
    "q19_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_event_id"), col("ts").as("click_ts"))
      Cdc.asOfJoin(purchases, clicks, "user_id", "user_id", "ts", "ts",
          Seq("click_event_id", "click_ts"))
        .orderBy("event_id")
    }),

    // S3/S4/P4 — templated SQL with session vars + incremental predicate
    "q20_incremental_template" -> ((s, dir) => {
      Tables.register(GraftSession.install(s), dir, "events")
      val template =
        """SELECT event_type,
          |       COUNT(*) AS n,
          |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM {{SOURCE_TABLE}}
          |WHERE 1=1 {{AND_CONDITION}} AND value > $MIN_VALUE
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin
      val rendered = SqlTemplate.render(template,
        placeholders = Map("SOURCE_TABLE" -> "events"),
        sessionVars = Map("MIN_VALUE" -> "5.0"),
        incrementalPredicate = Some("ts > TIMESTAMP '2024-01-20 00:00:00'"))
      s.sql(rendered)
    }),

    // W3 + P8 — point-in-time snapshot over derived validity intervals
    "q21_validity_snapshot" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val asOf = lit("2024-01-15 00:00:00").cast("timestamp")
      Cdc.effectiveIntervals(e, Seq("user_id"), "ts", Seq(col("event_id").asc),
          sentinel = "2199-12-31 00:00:00")
        .filter(Cdc.validAt(asOf, col("eff_dt"), col("exp_dt")))
        .select("user_id", "event_id", "event_type", "eff_dt", "exp_dt")
        .orderBy("user_id")
    }),

    // S5/P2 — config-driven fetch: EXCLUDE + filter + order
    "q22_exclude_fetch" -> ((s, dir) => {
      val p = t(s, dir, "part")
      Feeds.fetchData(p,
        excludeColumns = Seq("p_type", "p_retailprice"),
        filterRows = Some(col("p_size").between(10, 30)),
        sortingColumns = Seq("p_partkey"))
    }),

    // DQ suite — null / duplicate / orphan / domain / negative checks.
    // Row-level predicate checks share ONE aggregation pass per base table
    // (conditional counts folded into a single agg, exploded into result
    // rows) — only the dup-group and anti-join checks run as their own jobs,
    // as they structurally must (same design as dq.DqSuite).
    "q23_dq_suite" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val m = c.agg(count(when(col("c_name").isNull || col("c_name") === "", 1)).as("m001"))
        .crossJoin(o.agg(count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("m004")))
        .crossJoin(li.agg(count(when(col("l_quantity") < 0, 1)).as("m005")))
      def row(id: String, n: Column, impact: String): Column =
        struct(lit(id).as("test_id"), n.cast("long").as("failed_rows"),
          lit(impact).as("business_impact"))
      val aggRows = m.select(explode(array(
          row("DQ-001", col("m001"), "missing customer name"),
          row("DQ-004", col("m004"), "invalid order status"),
          row("DQ-005", col("m005"), "negative quantity"))).as("r"))
        .select(col("r.test_id"),
          when(col("r.failed_rows") === 0, "PASS").otherwise("FAIL").as("status"),
          col("r.failed_rows"), col("r.business_impact"))
      def check(id: String, offending: DataFrame, impact: String): DataFrame =
        offending.agg(count(lit(1)).as("failed_rows")).select(
          lit(id).as("test_id"),
          when(col("failed_rows") === 0, "PASS").otherwise("FAIL").as("status"),
          col("failed_rows"),
          lit(impact).as("business_impact"))
      aggRows
        .unionByName(check("DQ-002",
          li.groupBy(trim(col("l_orderkey").cast("string")), col("l_linenumber"))
            .agg(count(lit(1)).as("n")).filter(col("n") > 1), "duplicate line PK"))
        .unionByName(check("DQ-003",
          li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"), "orphaned lineitem"))
        .orderBy("test_id")
    }),

    // §2.8 semi-structured — JSON props parse + OBJECT_CONSTRUCT analogue
    "q24_json_props" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        to_json(struct(col("event_id"), col("user_id"))).as("obj"))
        .orderBy("event_id")
    }),

    // ---- large-scale training-data pipeline operators (documents/embeddings)

    // exact dedup — hash-groupBy, one shuffle
    "q25_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(docsWithDupes(s, dir), "doc_id", "text")
        .orderBy("text_hash")
    }),

    // exact dedup — drop duplicates keeping min id
    "q26_dedup_drop" -> ((s, dir) => {
      Dedup.dropExactDuplicates(docsWithDupes(s, dir), "doc_id", "text")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // MinHash + LSH near-dup candidate pairs (banded buckets, no all-pairs;
    // degenerate buckets capped at LshMaxBucket docs — mirrored in the
    // oracle SQL via the same constant)
    "q27_minhash_lsh" -> ((s, dir) => {
      // strict: bucket-space saturation would silently zero recall at
      // scale — fail the job in-plan rather than warn (LshGuard r11 abort)
      Dedup.minhashLshPairs(docsWithNearDupes(s, dir), "doc_id", "text",
          shingleK = 3, numHashes = 8, bands = 4, maxBucket = LshMaxBucket,
          portable = true, strict = true)
        .orderBy("id_a", "id_b")
    }),

    // portable SimHash fingerprint (md5-digit majority vote, bit string)
    "q28_simhash" -> ((s, dir) => {
      Dedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text", bits = 16)
        .orderBy("doc_id")
    }),

    // n-gram Jaccard near-dup pairs via inverted index with df cutoff
    "q29_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(docsWithNearDupes(s, dir), "doc_id", "text",
          k = 3, threshold = 0.5, maxShingleDf = 50)
        .orderBy("id_a", "id_b")
    }),

    // embedding-cosine near-dups: banded multi-probe sign-LSH candidates
    // (capped group-and-expand, no bucket self-join) + exact quantized verify
    "q30_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .union(e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding",
          threshold = 0.95, signBits = 8, bands = 4, maxBucket = LshMaxBucket,
          strict = true)
        .orderBy("id_a", "id_b")
    }),

    // ANN baseline — brute-force cosine top-k (broadcast queries over corpus)
    "q31_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
          "embedding", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),

    // ANN scale path — sign-LSH bucketed top-k with exact re-rank
    "q32_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.signLshTopK(
          e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
          "embedding", "embedding", k = 5, bits = 6)
        .orderBy("query_id", "rank")
    }),

    // text quality metrics — token/subword counts, ratios, quality score
    "q33_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.subwordCount(col("text")).cast("long").as("n_subwords"),
        Text.punctRatio(col("text")).as("punct_ratio"),
        Text.stopwordRatio(col("text")).as("stopword_ratio"),
        Text.avgTokenLen(col("text")).as("avg_token_len"),
        Text.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // n-gram-heuristic language ID vs the labeled lang column
    "q34_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), Text.langId(col("text")).as("detected"),
          col("lang").as("actual"))
        .orderBy("doc_id")
    }),

    // rolling-hash document fingerprint (min-md5 over char 8-grams)
    "q35_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), Text.fingerprint(col("text"), 8).as("fp"))
        .orderBy("doc_id")
    }),

    // multimodal plumbing — binary payload + mapPartitions feature extraction
    "q36_media_features" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Multimodal.extractFeatures(Multimodal.asMedia(d, "doc_id", "text"))
        .toDF()
        .orderBy("media_id")
    }),

    // W2/W4/W5 — rank, first-event row_number, analytic min/count over key
    "q37_rank_min_over" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      e.select(col("user_id"), col("event_id").as("first_event_id"),
          col("event_type").as("first_event_type"),
          row_number().over(w).as("rn"),
          min(col("ts")).over(wAll).as("first_ts"),
          count(lit(1)).over(wAll).as("n_events"))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id")
    }),

    // A5/A6 — filtered aggregates + ratio-of-sums KPIs
    "q38_filtered_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          (sum(when(col("l_quantity") > 25, dec(col("l_quantity")))).cast("double") /
            count(when(col("l_quantity") > 25, lit(1)))).as("avg_large_qty"),
          (sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)) * lit(100.0) /
            count(lit(1))).as("discount_rate_pct"),
          (sum(dec(col("l_extendedprice"))).cast("double") /
            sum(dec(col("l_quantity"))).cast("double")).as("price_per_unit"))
        .orderBy("l_returnflag")
    }),

    // P7/P1 — LIKE with escaped backslash + quoted mixed-case space aliases
    "q39_string_report" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_name").like("%4") && !col("c_name").like("%\\\\%"))
        .select(
          col("c_custkey").as("Customer Key"),
          expr("substring(c_name, instr(c_name, '#') + 1)").as("Customer Number"),
          length(col("c_name")).cast("long").as("Name Length"),
          when(col("c_name").contains("#"), "Y").otherwise("N").as("Has Hash"))
        .orderBy("Customer Key")
    }),

    // S3/S4/S7 — flagship pipeline: template file → view → detail → summary
    "q40_report_pipeline" -> ((s, dir) => {
      Tables.register(GraftSession.install(s), dir, "events")
      val conn = new graft.core.GraftConnection(s)
      val sqlDir = if (java.nio.file.Files.exists(java.nio.file.Paths.get("sql")))
        "sql" else "/root/repo/sql"
      conn.sessionVars.set("MIN_VALUE", "2.0")
      conn.sessionVars.set("MAX_VALUE", "8.0")
      // dialect = false: conn.sql applies the SqlDialect pass itself — the
      // render layer must not pre-rewrite, or the path silently depends on
      // every dialect rule being idempotent
      val base = conn.sql(SqlTemplate.renderFile(s"$sqlDir/service_summary/base.sql",
        placeholders = Map("SOURCE_TABLE" -> "events"),
        incrementalPredicate = Some("ts > TIMESTAMP '2024-01-05 00:00:00'"),
        dialect = false))
      conn.saveAsView(base, "service_events_base")
      val detail = conn.sql(SqlTemplate.renderFile(s"$sqlDir/service_summary/detail.sql",
        placeholders = Map("BASE_VIEW" -> "service_events_base"), dialect = false))
      conn.saveAsView(detail, "service_events_detail")
      conn.sql(SqlTemplate.renderFile(s"$sqlDir/service_summary/summary.sql",
        placeholders = Map("DETAIL_VIEW" -> "service_events_detail"), dialect = false))
    }),

    // F4/U2 — six-frequency period view for a run date
    "q41_periods_all" -> ((s, dir) =>
      Periods.periodsFor(s, "2024-08-15").orderBy("frequency")),

    // A9 — aggregate-of-aggregate row-count reasonability
    "q42_count_reasonability" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .select(col("n_rows"), col("n_keys"), col("n_customers"),
          when(col("n_rows") === col("n_keys"), "OK").otherwise("SUSPECT").as("pk_status"))
    }),

    // J3 — join with window-rank-filtered side (first lineitem per order)
    "q43_first_line_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val li = t(s, dir, "lineitem")
      val firstLine = Cdc.latestVersion(li, Seq("l_orderkey"),
        Seq(col("l_shipdate").asc, col("l_linenumber").asc))
      o.join(firstLine, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("l_shipdate").as("first_ship_dt"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_first_ship"))
        .orderBy("o_orderkey")
    }),

    // ANN scale path 2 — IVF: nearest-centroid cells + exact in-cell re-rank
    "q44_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(
          e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
          "embedding", "embedding", k = 5, numCentroids = 8)
        .orderBy("query_id", "rank")
    }),

    // DQ catalog — the reference's 8 check categories over the star schema.
    // Scale shape: customer predicate checks share one scan; orders shares
    // one moments+range scan plus the structurally-required second pass for
    // the 3-sigma count (needs the broadcast moments); dup-group, anti-join
    // and cross-table consistency checks are their own jobs by nature.
    "q45_dq_catalog" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      def check(id: String, offending: DataFrame, impact: String): DataFrame =
        offending.agg(count(lit(1)).as("failed_rows")).select(
          lit(id).as("test_id"),
          when(col("failed_rows") === 0, "PASS").otherwise("FAIL").as("status"),
          col("failed_rows"), lit(impact).as("business_impact"))
      // orders pass 1: range check + exact moments (order-independent,
      // oracle-safe) in one aggregation
      val mo = o.agg(
        count(when(col("o_totalprice") <= 0, 1)).as("mrange"),
        count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("s"),
        sum(dec(col("o_totalprice")) * dec(col("o_totalprice"))).cast("double").as("ss"))
      val mean = col("s") / col("n")
      val std = sqrt((col("ss") - col("s") * col("s") / col("n")) / (col("n") - 1))
      // orders pass 2: 3-sigma count against the broadcast moments; carries
      // mrange through (first() over a 1-row broadcast is constant)
      val outl = o.crossJoin(broadcast(mo))
        .agg(count(when(abs(col("o_totalprice") - mean) > std * 3.0, 1)).as("mstat"),
          // empty orders: first() over zero rows is null; the check must
          // report 0/PASS like the per-check form did
          coalesce(first(col("mrange")), lit(0L)).as("mrange"))
      val m = c.agg(
          count(when(col("c_name").isNull || col("c_name") === "", 1)).as("mnull"),
          count(when(expr("try_cast(substring_index(c_name, '#', -1) AS BIGINT)").isNull, 1))
            .as("mformat"))
        .crossJoin(broadcast(outl))
      def row(id: String, n: Column, impact: String): Column =
        struct(lit(id).as("test_id"), n.cast("long").as("failed_rows"),
          lit(impact).as("business_impact"))
      val aggRows = m.select(explode(array(
          row("DQ-NULL", col("mnull"), "missing name"),
          row("DQ-FORMAT", col("mformat"), "non-numeric customer number"),
          row("DQ-RANGE", col("mrange"), "non-positive price"),
          row("DQ-STAT", col("mstat"), "3-sigma price outlier"))).as("r"))
        .select(col("r.test_id"),
          when(col("r.failed_rows") === 0, "PASS").otherwise("FAIL").as("status"),
          col("r.failed_rows"), col("r.business_impact"))

      aggRows
        .unionByName(check("DQ-DUP",
          li.groupBy(col("l_orderkey"), col("l_linenumber"))
            .agg(count(lit(1)).as("n")).filter(col("n") > 1), "duplicate PK"))
        .unionByName(check("DQ-REF",
          o.join(c, o("o_custkey") === c("c_custkey"), "left_anti"), "order without customer"))
        .unionByName(check("DQ-COMPLETE",
          o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti"), "order without lines"))
        .unionByName(check("DQ-CONSIST",
          li.join(o, li("l_orderkey") === o("o_orderkey"))
            .filter(col("l_shipdate") < col("o_orderdate")), "shipped before ordered"))
        .orderBy("test_id")
    }),

    // A7 two-level — group + category totals in ONE rollup pass (the
    // reference's pandas concat of subtotal frames, claims_reports.py:188-258)
    "q46_rollup_two_level" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          sum(dec(col("o_totalprice"))).cast("double").as("total_price"),
          count(lit(1)).as("n_rows"),
          (grouping(col("o_orderpriority")).cast("long") * 2 +
            grouping(col("o_orderstatus")).cast("long")).as("gid"))
        .select(
          // grouping() only resolves inside the agg — derive labels from gid
          when(col("gid") >= 2, "ALL").otherwise(col("o_orderpriority")).as("priority"),
          when(col("gid") % 2 === 1, "ALL").otherwise(col("o_orderstatus")).as("status"),
          col("gid"), col("total_price"), col("n_rows"))
        .orderBy("priority", "status", "gid")
    }),

    // §3.1 flagship detail report: CDC dedup → intervals → point-in-time →
    // first-decision rank → flags → quoted-alias projection, end to end
    "q47_claims_detail" -> ((s, dir) => {
      import graft.reports.ClaimsPipeline
      ClaimsPipeline.detailReport(t(s, dir, "events"),
        ClaimsPipeline.ReportPeriod("2024-01-01 00:00:00", "2024-01-20 00:00:00"))
    }),

    // bounded-heap top-k aggregate (map-side partial top-k, no window sort)
    "q48_ann_topk_agg" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopKAgg(
          e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
          "embedding", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),

    // near-dup pairs → connected-component clusters with canonical min-id
    "q49_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLshPairs(docsWithNearDupes(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 8, bands = 4, maxBucket = LshMaxBucket, portable = true)
      Dedup.dupClusters(pairs).orderBy("id")
    }),

    // deterministic hash-bucket train/test split (reproducible curation)
    "q50_hash_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Sampling.trainTestSplit(d, "doc_id", trainPct = 80)
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")
    }),

    // tumbling-window aggregation (batch form of the streaming path)
    "q51_window_agg" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // gap-based sessionization (30-minute inactivity gap)
    "q52_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events")
      Cdc.sessionize(e, "user_id", "ts", gapMinutes = 30,
          tiebreak = Seq(col("event_id").asc))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_no")
    }),

    // exact interpolated percentiles per group (median / p90)
    "q53_percentiles" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("median_price"),
          expr("percentile(o_totalprice, 0.9)").as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // full DQ suite — 24 checks, 8 categories, WARNING/INFO tiers +
    // SAMPLE_FAILURES JSON, single-scan metric pass (ref:
    // test_data_quality.sql:13-350, setup_dmf_data_quality.sql:109-148)
    "q54_dq_full" -> ((s, dir) => {
      import graft.reports.ClaimsPipeline
      val events = t(s, dir, "events")
      val report = ClaimsPipeline.detailReport(events,
        ClaimsPipeline.ReportPeriod("2024-01-01 00:00:00", "2024-01-20 00:00:00"))
      graft.dq.DqSuite.run(report, events, "2024-01-01", "2024-01-20")
    }),

    // per-stratum deterministic downsampling (language rebalancing)
    "q55_stratified_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Sampling.stratifiedSample(d, "doc_id", col("lang"),
          Map("en" -> 20, "fr" -> 60))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // leakage-safe split: exact-dup groups bucket on their canonical id,
    // so duplicates never straddle train/test
    "q56_leakage_safe_split" -> ((s, dir) => {
      graft.operators.Sampling.leakageSafeSplit(
          docsWithDupes(s, dir), "doc_id", "text", trainPct = 80)
        .select("doc_id", "canonical_id", "bucket", "split")
        .orderBy("doc_id")
    }),

    // DMF catalog end-to-end: schedule + metric/expectation registration,
    // then on-demand evaluation (each metric one distributed aggregate)
    "q57_dmf_eval" -> ((s, dir) => {
      import graft.dq.DmfCatalog
      val cat = new DmfCatalog(s)
      cat.setSchedule("customer", "USING CRON 0 8,14,20 * * * UTC")
      // column-form metrics: all three fuse into ONE scan of the table
      cat.addColumnMetric("customer", "row_count", Seq(), count(lit(1)),
        "rows_present", "VALUE > 0")
      cat.addColumnMetric("customer", "null_name", Seq("c_name"),
        count(when(col("c_name").isNull, 1)), "no_null_name", "VALUE = 0")
      cat.addColumnMetric("customer", "distinct_mkt", Seq("c_mktsegment"),
        countDistinct(col("c_mktsegment")), "five_segments", "VALUE = 5")
      cat.evaluate(_ => t(s, dir, "customer")).orderBy("metric_name")
    }),

    // minhash-LSH bucket-size histogram — the maxBucket audit for q27/q49
    "q58_lsh_bucket_stats" -> ((s, dir) =>
      Dedup.lshBucketStats(docsWithNearDupes(s, dir), "doc_id", "text",
          shingleK = 3, numHashes = 8, bands = 4, portable = true)
        .select(col("band").cast("long").as("band"),
          col("bucket_size"), col("n_buckets"))
        .orderBy("band", "bucket_size")),

    // Gopher-style repetition signals: duplicate-token ratio + top-bigram
    // coverage, doc-local zero-shuffle column expressions
    "q61_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
      val ng = toks.select(col("doc_id"), col("__toks"),
        Text.ngramsFromTokens(col("__toks"), 2).as("__ng"))
      ng.select(col("doc_id"),
          size(col("__toks")).cast("long").as("n_tokens"),
          Text.dupTokenRatio(col("__toks")).as("dup_token_ratio"),
          Text.topFreqFrac(col("__ng")).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    // cross-corpus contamination: probe (eval-set) docs whose word shingles
    // are contained in training-corpus docs — n-gram decontamination
    "q60_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probe = d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          substring(col("text"), 1, 200).as("text"))
      Dedup.containmentPairs(d, probe, "doc_id", "text",
          k = 3, minOverlap = 5, maxShingleDf = 50)
        .orderBy("doc_id", "probe_id")
    }),

    // embedding sign-LSH bucket-size histogram — the maxBucket audit for q30
    "q59_embedding_bucket_stats" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .union(e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.embeddingBucketStats(corpus, "vec_id", "embedding",
          signBits = 8, bands = 4)
        .select(col("band").cast("long").as("band"),
          col("bucket_size"), col("n_buckets"))
        .orderBy("band", "bucket_size")
    }),

    // DMF results history: two evaluation runs persisted to the metastore's
    // results log, read back via the STEP-6 trend query (newest run first)
    // — run 1 sees the pre-1995 slice (clean), run 2 the full table (drift)
    "q62_dmf_history" -> ((s, dir) => {
      import graft.dq.DmfCatalog
      import graft.meta.MetaStore
      // the scratch metastore stays per-invocation (its log is append-only,
      // so sharing one across bench iterations would accumulate runs and
      // change the result) but is deleted before returning: the ≤10-row
      // history is collected into a local relation first, so nothing lazy
      // still reads the deleted directory
      val tmp = java.nio.file.Files.createTempDirectory("graft-dmf-hist")
      try {
        val meta = new MetaStore(s, tmp.toString)
        val cat = new DmfCatalog(s)
        cat.setSchedule("orders", "USING CRON 0 8 * * * UTC")
        cat.addColumnMetric("orders", "row_count", Seq(), count(lit(1)),
          "rows_present", "VALUE > 0")
        cat.addColumnMetric("orders", "recent_orders", Seq("o_orderdate"),
          count(when(col("o_orderdate") >= lit(java.sql.Date.valueOf("1997-01-01")), 1)),
          "no_recent", "VALUE = 0")
        val orders = t(s, dir, "orders")
        cat.evaluateAndLog(
          _ => orders.filter(col("o_orderdate") < lit(java.sql.Date.valueOf("1995-01-01"))),
          meta, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
        cat.evaluateAndLog(_ => orders,
          meta, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"))
        val hist = meta.dmfResultHistory(None, limit = 10)
          .select("run_ts", "metric_name", "value", "status")
        s.createDataFrame(java.util.Arrays.asList(hist.collect(): _*), hist.schema)
      } finally {
        val walk = java.nio.file.Files.walk(tmp)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    }),

    // PII detection + redaction — the pre-release scrubbing pass of a
    // training-data pipeline: per-type match counts and the redacted text,
    // all doc-local regex columns (zero shuffle, RE2-safe patterns shared
    // verbatim with the oracle). Synthetic PII is derived from doc_id so
    // every doc exercises the patterns deterministically.
    "q63_pii_redaction" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pat = Text.PiiPatterns.toMap
      val withPii = d.select(col("doc_id"), concat(col("text"),
          lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example.com"),
          lit(" phone 415-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ssn 078-05-1120 ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")).as("text"))
      withPii.select(col("doc_id"),
          Text.piiCount(col("text"), pat("email")).cast("long").as("n_email"),
          Text.piiCount(col("text"), pat("phone")).cast("long").as("n_phone"),
          Text.piiCount(col("text"), pat("ssn")).cast("long").as("n_ssn"),
          Text.piiCount(col("text"), pat("card")).cast("long").as("n_card"),
          Text.piiCount(col("text"), pat("ip")).cast("long").as("n_ip"),
          Text.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    }),

    // composed C4/Gopher quality-filter verdict: first failing rule names
    // the drop reason; every third doc gains two duplicate lines so the
    // dup-line rule (and the others on the natural token mix) all fire
    "q64_quality_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val docs2 = d.select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\nrepeat me\nrepeat me")))
          .otherwise(col("text")).as("text"))
      val v = Text.qualityVerdict(col("text"), minTokens = 30,
        minAvgWordLen = 3.8, minStopwordFrac = 0.0, maxDupLineFrac = 0.2,
        maxDupTokenRatio = 0.6)
      docs2.select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          Text.duplicateLineFraction(col("text")).as("dup_line_frac"),
          Text.dupTokenRatio(Text.tokens(col("text"))).as("dup_token_ratio"),
          v.getField("keep").cast("long").as("keep"),
          v.getField("reason").as("reason"))
        .orderBy("doc_id")
    }),

    // the flagship report authored in the REFERENCE'S dialect (QUALIFY /
    // * EXCLUDE / double-quoted aliases / DATEADD / TO_CHAR), run through
    // the SqlDialect render-time rewrite — must reproduce q47's DataFrame
    // pipeline row-for-row
    "q65_qualify_dialect" -> ((s, dir) => {
      import graft.reports.ClaimsPipeline
      t(s, dir, "events").createOrReplaceTempView("q65_events")
      ClaimsPipeline.detailReportSnowflakeSql(s, "q65_events",
        ClaimsPipeline.ReportPeriod("2024-01-01 00:00:00", "2024-01-20 00:00:00"))
    }),

    // the production shape of q27+q58: ONE persisted banded frame feeds
    // both the candidate pairs and the bucket audit (minhashLshWithStats),
    // so the shared pipeline's cost profile is benched alongside the
    // standalone oracle-parity entries
    "q66_lsh_shared" -> ((s, dir) => {
      val (pairs, stats) = Dedup.minhashLshWithStats(
        docsWithNearDupes(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 8, bands = 4, maxBucket = LshMaxBucket,
        portable = true)
      val hist = stats.select(lit("hist").as("kind"),
        col("band").cast("long").as("band"), col("bucket_size"),
        col("n_buckets").as("n"))
      val summary = pairs.agg(count(lit(1)).as("n"))
        .select(lit("pairs").as("kind"), lit(-1L).as("band"),
          lit(-1L).as("bucket_size"), col("n"))
      hist.union(summary).orderBy("kind", "band", "bucket_size")
    }),

    // F4/U2 — the reference VIEW's last-COMPLETED-period semantics
    // (report_period_config.sql:149-188; q41 is the containing-period form)
    "q67_periods_last" -> ((s, dir) =>
      // as_of_run_dt cast to timestamp for the compare harness only — DATE
      // round-trips as python date on the Spark side but datetime64 on the
      // DuckDB side (the operator itself keeps the view's DATE type)
      Periods.lastPeriodsFor(s, "2024-08-15")
        .withColumn("as_of_run_dt", col("as_of_run_dt").cast("timestamp"))
        .orderBy("frequency")),

    // incremental dedup probe: a new batch (tail-perturbed every-7th docs)
    // probed against the standing corpus's band index — O(batch) hashing,
    // exact cross-pair parity with the full recompute (Dedup.probeBandedPairs)
    "q68_lsh_probe" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch = corpus.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" zzz extra tail")).as("text"))
      Dedup.minhashProbePairs(corpus, batch, "doc_id", "text",
          shingleK = 3, numHashes = 8, bands = 4, maxBucket = LshMaxBucket,
          portable = true, strict = true)
        .orderBy("id_a", "id_b")
    }),

    // partition-scoped small-file compaction: fragment a partitioned copy
    // of documents, bin-pack it, read it back — the oracle reads the
    // ORIGINAL table, so a hash match proves the rewrite is row-preserving
    "q69_compaction" -> ((s, dir) => {
      val tmp = Scratch.dir("graft_q69_").resolve("docs").toString
      t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("part"),
          col("text"))
        .repartition(8)
        .write.partitionBy("part").parquet(tmp)
      Compaction.compactPath(s, tmp, Seq("part"))
      s.read.parquet(tmp).select("doc_id", "part", "text").orderBy("doc_id")
    }),

    // ANN scale path 3 — IVF with DATA-ADAPTIVE k-means centroids (the
    // "plug kmeansCentroids into the same skeleton" path). The kmeans
    // input is snapped to a dyadic 1/128 grid so every distributed mean
    // is an exact double (sums of dyadic rationals are exact and
    // order-independent) — bit-identical across partition orders and
    // engines; assignment and re-rank stay on the exact 1e7 integer grid.
    "q70_ann_ivf_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val dyadic = e.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(128.0)) / lit(128.0)).as("kvec"))
      val cents = Similarity.kmeansCentroids(dyadic, "vec_id", "kvec",
        k = 8, iterations = 3)
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
          "embedding", "embedding", k = 5, centroids = Some(cents))
        .orderBy("query_id", "rank")
    }),

    // q68's probe routed through the PERSISTED band-index lifecycle
    // (BandIndex.save → probe): the standing corpus is hashed once, saved
    // partitioned by band, and the ingest batch probes the on-disk index —
    // identical oracle to q68 proves disk round-trip changes nothing.
    // BENCH NOTE: a correctness query must be self-contained, so the timed
    // cost here is index BUILD + probe; the steady-state probe a user sees
    // (index already on disk) is ScaleBench's probe tier number (O(batch):
    // 21.4 s vs 946 s full recompute at 5M docs, SCALE.md round-12).
    "q71_lsh_probe_persisted" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch = corpus.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" zzz extra tail")).as("text"))
      val idx = Scratch.dir("graft_q71_").resolve("band_index").toString
      BandIndex.save(Dedup.lshBanded(corpus, "doc_id", "text",
        shingleK = 3, numHashes = 8, bands = 4, portable = true), idx)
      BandIndex.probe(s, idx,
          Dedup.lshBanded(batch, "doc_id", "text",
            shingleK = 3, numHashes = 8, bands = 4, portable = true),
          "doc_id", maxBucket = LshMaxBucket, strict = true)
        .orderBy("id_a", "id_b")
    }),

    // q44's IVF search routed through the PERSISTED index lifecycle
    // (IvfIndex.save → probe): cells are assigned and quantized once at
    // save, partitioned by cell on disk, and the query batch reads only its
    // own cell directories — identical oracle to q44 proves the on-disk
    // round trip changes nothing.
    // BENCH NOTE: self-contained like q71, so the timed cost is index
    // BUILD + probe; the steady-state probe reads only the touched cell
    // directories (15.4% of a 5M-doc index, ScaleBench ann tier, SCALE.md).
    "q72_ann_ivf_persisted" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = Scratch.dir("graft_q72_").resolve("ivf_index").toString
      IvfIndex.save(e, "vec_id", "embedding", idx, numCentroids = 8)
      IvfIndex.probe(s, idx, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // z-order layout maintenance: rewrite documents clustered on two
    // independent keys, read the layout back — the oracle reads the
    // ORIGINAL table, so a hash match proves the rewrite is row-preserving
    // (the layout benefit itself is ZOrderSpec's rectangle assertion)
    "q73_zorder" -> ((s, dir) => {
      val tmp = Scratch.dir("graft_q73_").resolve("docs_z").toString
      graft.ops.ZOrder.zorderBy(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars"), col("text")),
          Seq("doc_id", "n_chars"), numFiles = 8)
        .write.parquet(tmp)
      s.read.parquet(tmp).orderBy("doc_id")
    }),

    // the nightly-ingest pipeline END TO END (IngestPipeline.runNight × 2):
    // probe → accept → index append → compact → DQ → execution log over two
    // synthetic nights. The oracle replays both nights' dedup algebra
    // (intra-batch pairs night 1, standing-index cross probe + intra pairs
    // night 2) in SQL, so a hash match proves the LANDED corpus — partition
    // values included — is exactly the two nights' survivor sets.
    // BENCH NOTE: the timed cost is TWO full audited nights (~12 logged
    // steps: index builds/appends, per-night compaction, the DQ re-scan,
    // per-step execution-log commits) — at bench scale that is dominated by
    // fixed small-job and commit overhead, not data; the per-operator
    // steady-state costs are the individual q68/q71/q69/q54 entries and
    // ScaleBench's probe/aging tiers.
    "q74_ingest_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 3 === 0)
        .union(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zzz extra tail")).as("text")))
      val b2 = d.filter(col("doc_id") % 3 === 1)
        .union(d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" zzz extra tail")).as("text")))
      val root = Scratch.dir("graft_q74_")
      val cfg = graft.reports.IngestPipeline.IngestConfig(
        corpusPath = root.resolve("corpus").toString,
        bandIndexPath = root.resolve("band_index").toString,
        metaDir = root.resolve("meta").toString,
        maxBucket = LshMaxBucket, strict = true)
      val n1 = graft.reports.IngestPipeline.runNight(s, b1, "n1", cfg)
      val n2 = graft.reports.IngestPipeline.runNight(s, b2, "n2", cfg)
      require(n1.dqFailures == 0 && n2.dqFailures == 0,
        s"ingest DQ must pass: $n1 / $n2")
      s.read.parquet(cfg.corpusPath)
        .select(col("doc_id"), col("load_date"))
        .orderBy("doc_id")
    }),

    // weighted corpus mixing: de ×2.5 epochs, en ×0.5, everything else ×1 —
    // deterministic md5-bucket fractional epochs, engine-portable (Mixing)
    "q75_corpus_mix" -> ((s, dir) => {
      graft.operators.Mixing.mixCorpus(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", col("lang"), Map("de" -> 2.5, "en" -> 0.5))
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }),

    // token-budget shard packing: global cumsum via the two-phase
    // distributed form (Packing), oracle = the naive single-window SQL
    "q76_shard_pack" -> ((s, dir) => {
      graft.operators.Packing.packShards(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", budget = 50000, buckets = 64)
        .select(col("doc_id"), col("n_chars"), col("token_offset"), col("shard"))
        .orderBy("doc_id")
    }),

    // deterministic shuffle-then-pack: the block-shuffle key decorrelates
    // training order (hash-bucket high digits, id low digits) and stays a
    // valid packShards key — the one-line composition a trainer pipeline
    // actually runs
    "q77_shuffled_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .withColumn("skey",
          graft.operators.Packing.shuffleKey(col("doc_id"), 1000000L))
      graft.operators.Packing.packShards(d, "skey", "n_chars",
          budget = 50000, buckets = 64)
        .select(col("doc_id"), col("skey"), col("shard"))
        .orderBy("doc_id")
    }),

    // corpus vocabulary top-k: explode → map-side-combined count → bounded
    // per-task heap (TakeOrderedAndProject — never a global sort); the
    // (count desc, token asc) order is total, so the output is deterministic
    "q78_vocab_topk" -> ((s, dir) =>
      graft.operators.Vocab.topTokens(
        t(s, dir, "documents").select(col("text")), "text", 50)),

    // adjacent-token pair frequencies — the statistic one BPE merge step
    // maximises; same explode → partial-agg → top-k heap shape as q78
    "q79_bpe_pairs" -> ((s, dir) =>
      graft.operators.Vocab.topPairs(
        t(s, dir, "documents").select(col("text")), "text", 50)),

    // overlapping character chunking (size 120, stride 80) for an
    // embedding/RAG pipeline: pure per-row explode, no shuffle; geometry is
    // integer arithmetic reproduced verbatim by the oracle
    "q80_doc_chunks" -> ((s, dir) =>
      graft.operators.Chunking.chunk(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", size = 120, stride = 80)
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_id")),

    // vocabulary coverage: fraction of all token instances the top-20
    // vocabulary covers — one persisted counts frame feeds both the top-k
    // heap and the coverage sums, so the token stream is aggregated once
    "q81_vocab_coverage" -> ((s, dir) =>
      graft.operators.Vocab.coverage(
        t(s, dir, "documents").select(col("text")), "text", 20)),

    // ANN scale path 4 — product quantization: vectors stored as m=8
    // codebook codes (PqIndex.save), queries score the code table via an
    // ADC lookup table, then the exact re-rank fetches candidates' full
    // vectors. With candidates ≥ |corpus| the re-rank covers everything,
    // so the result must equal brute force EXACTLY (q31's oracle) — the
    // hash match pins the whole train→encode→ADC→fetch→re-rank plumbing.
    // BENCH NOTE: self-contained like q71/q72 — the timed cost is codebook
    // TRAINING + encode + probe; the steady-state ADC probe a user sees is
    // ScaleBench's pq tier number.
    "q82_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = Scratch.dir("graft_q82_").resolve("pq_index").toString
      // one Lloyd iteration: the oracle equality holds for ANY codebooks
      // (the all-covering re-rank is exact); more iterations only buy ADC
      // quality, which ScaleBench's pq tier measures separately
      graft.operators.PqIndex.save(e, "vec_id", "embedding", idx,
        m = 8, ksub = 8, iterations = 1)
      graft.operators.PqIndex.probe(s, idx, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", candidates = 5000,
          rerank = Some((e, "vec_id", "embedding")), k = 10)
        .orderBy("query_id", "rank")
    }),

    // ANN scale path 5 — IVF×PQ composed (the production layout): coarse
    // cells prune which rows a probe reads (partitioned directories), PQ
    // codes shrink what each row costs. nprobe = all cells + all-covering
    // re-rank collapses to brute force — same oracle as q31/q82, so the
    // hash match proves cells, codes, LUTs, and the pruning scan are all
    // invisible in the exact path. BENCH NOTE: self-contained — timed cost
    // is build + probe; steady-state probes are ScaleBench's pq tier.
    "q83_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = Scratch.dir("graft_q83_").resolve("ivfpq_index").toString
      graft.operators.IvfPqIndex.save(e, "vec_id", "embedding", idx,
        numCells = 8, m = 8, ksub = 8, iterations = 1)
      graft.operators.IvfPqIndex.probe(s, idx, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", candidates = 5000, nprobe = 8,
          rerank = Some((e, "vec_id", "embedding")), k = 10)
        .orderBy("query_id", "rank")
    }),

    // the curation report's Quality sheet over q64's corpus variant and
    // thresholds — the sheet a curation run files is the same aggregation
    // the oracle computes from the raw rules (CurationReport.sections)
    "q84_curation_quality" -> ((s, dir) => {
      val docs2 = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\nrepeat me\nrepeat me")))
          .otherwise(col("text")).as("text"))
      graft.reports.CurationReport.sections(s, docs2,
          graft.reports.CurationReport.CurationConfig(minTokens = 30,
            minAvgWordLen = 3.8, minStopwordFrac = 0.0,
            maxDupLineFrac = 0.2))
        .toMap.apply("Quality")
    }),

    // the full training-set build plan, end to end in ONE oracle: quality
    // filter (q64's battery) → weighted mix (q75's epoch algebra) →
    // shuffle pack key (q77's block-shuffle) → two-phase distributed pack
    // (q76's cumsum). Every stage is a pure function of content hashes
    // and ids, so the composed frame is engine-portable — the hash match
    // proves the whole last mile from curated corpus to shard layout.
    // decontamination APPLIED (q60 is the detector): drop every corpus doc
    // containing ≥60% of any probe doc's rare 3-shingles — the anti-join
    // of a broadcast flagged set, the corpus itself never shuffles
    "q86_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val probe = d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          substring(col("text"), 1, 200).as("text"))
      Dedup.decontaminate(d, probe, "doc_id", "text",
          k = 3, minOverlap = 5, minContainment = 0.6, maxShingleDf = 50)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // ANN maintenance path 1 — hot-cell re-split on the COMPOSED index:
    // the hottest cell's code rows move into three sub-cells with their
    // codes byte-untouched (direct encoding's payoff), then an all-cells
    // probe + all-covering re-rank must STILL equal brute force — the
    // oracle proves maintenance is invisible in the exact path. BENCH
    // NOTE: self-contained like q83 (build + resplit + probe timed).
    "q87_ivfpq_resplit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = Scratch.dir("graft_q87_").resolve("ivfpq_index").toString
      graft.operators.IvfPqIndex.save(e, "vec_id", "embedding", idx,
        numCells = 8, m = 8, ksub = 8, iterations = 1)
      val hot = graft.operators.IvfPqIndex.cellStats(s, idx).head().getInt(0)
      graft.operators.IvfPqIndex.resplitCell(s, idx, hot, subCells = 3)
      // 8 - 1 + 3 = 10 cells now; nprobe = all of them
      graft.operators.IvfPqIndex.probe(s, idx, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", candidates = 5000, nprobe = 10,
          rerank = Some((e, "vec_id", "embedding")), k = 10)
        .orderBy("query_id", "rank")
    }),

    // ANN maintenance path 2 — single-subspace retrain: subspace 0's
    // codebook re-trains (hash-ordered seeds) and the codes column
    // refreshes, scheme/m/ksub untouched; the all-covering probe must
    // still equal brute force. BENCH NOTE: self-contained (train + encode
    // + retrain + re-encode + probe timed).
    "q88_pq_retrain" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = Scratch.dir("graft_q88_").resolve("pq_index").toString
      graft.operators.PqIndex.save(e, "vec_id", "embedding", idx,
        m = 8, ksub = 8, iterations = 1)
      graft.operators.PqIndex.retrainSubspace(e, "vec_id", "embedding",
        idx, 0, iterations = 1)
      graft.operators.PqIndex.probe(s, idx, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", candidates = 5000,
          rerank = Some((e, "vec_id", "embedding")), k = 10)
        .orderBy("query_id", "rank")
    }),

    // the production ANN layout driven end to end by the audited nightly
    // pipeline, failOnDq armed: two nights of probe→accept→verify→index
    // build a standing IVFPQ index from the survivors' embeddings
    // (bootstrap night 1, append night 2, nightly compaction), then an
    // all-cells probe + all-covering exact re-rank against the landed
    // corpus must equal brute force over the survivors — bootstrap,
    // append, compaction and the commit discipline all invisible in the
    // exact path. BENCH NOTE: self-contained like q74 (two audited nights
    // + index build + probe timed); steady-state probe costs are
    // ScaleBench's pq/ivfpqaging tiers.
    "q89_ingest_ivfpq" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val e = t(s, dir, "embeddings")
      val withEmb = d.join(
        e.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      val root = Scratch.dir("graft_q89_")
      // batches LAND as parquet and are read back — the real ingest shape
      // (a night's batch arrives as a table), and load-bearing here: the
      // live join's size estimate is left×right (~141 GB for 667 rows) and
      // localCheckpoint INHERITS it, so banding the joined frame directly
      // made ShuffleSizing raise the session to its 4096-partition max and
      // every step of both nights ran on thousands of empty tasks (2–3×
      // the whole composition). Parquet scans carry honest stats
      def land(df: DataFrame, name: String): DataFrame = {
        val p = root.resolve(name).toString
        df.write.mode("overwrite").parquet(p)
        s.read.parquet(p)
      }
      val b1 = land(withEmb.filter(col("doc_id") % 3 === 0), "batch_n1")
      val b2 = land(withEmb.filter(col("doc_id") % 3 === 1), "batch_n2")
      val cfg = graft.reports.IngestPipeline.IngestConfig(
        corpusPath = root.resolve("corpus").toString,
        bandIndexPath = root.resolve("band_index").toString,
        metaDir = root.resolve("meta").toString,
        ivfPqIndexPath = Some(root.resolve("ivfpq").toString),
        ivfPqCells = 4, ivfPqM = 8, ivfPqKsub = 8,
        maxBucket = LshMaxBucket, strict = true, failOnDq = true)
      val n1 = graft.reports.IngestPipeline.runNight(s, b1, "n1", cfg)
      val n2 = graft.reports.IngestPipeline.runNight(s, b2, "n2", cfg)
      require(n1.dqFailures == 0 && n2.dqFailures == 0,
        s"ingest DQ must pass: $n1 / $n2")
      val landed = s.read.parquet(cfg.corpusPath)
        .select(col("doc_id"), col("embedding"))
      graft.operators.IvfPqIndex.probe(s, cfg.ivfPqIndexPath.get,
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          candidates = 5000, nprobe = 4,
          rerank = Some((landed, "doc_id", "embedding")), k = 10)
        .orderBy("query_id", "rank")
    }),

    // retraction semantics end to end (q90): two band-index nights with a
    // TAKEDOWN between them (IngestPipeline.retract → tombstones → probe
    // subtraction → partition-scoped vacuum). The pinned behavior: the
    // retracted docs leave the landed corpus AND their phantom banded rows
    // stop pairing, so night 2's re-submission of the SAME content
    // (id + 30000) is accepted exactly where a standing copy would have
    // dropped it. Oracle = the shared survivor CTE with the standing index
    // minus the retracted ids. BENCH NOTE: self-contained like q74 (two
    // audited nights + the takedown timed together, by oracle necessity);
    // steady-state retraction cost is the ScaleBench retract tier
    // (SCALE.md round-15: 0.43 s removeIds + 1.71 s vacuum at 1M docs).
    "q90_retract_readmit" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 3 === 0)
      val b2 = d.filter(col("doc_id") % 3 === 1)
        .union(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      val root = Scratch.dir("graft_q90_")
      val cfg = graft.reports.IngestPipeline.IngestConfig(
        corpusPath = root.resolve("corpus").toString,
        bandIndexPath = root.resolve("band_index").toString,
        metaDir = root.resolve("meta").toString,
        maxBucket = LshMaxBucket, strict = true)
      val n1 = graft.reports.IngestPipeline.runNight(s, b1, "n1", cfg)
      require(n1.dqFailures == 0, s"ingest DQ must pass: $n1")
      val retrIds = s.read.parquet(cfg.corpusPath)
        .filter(col("doc_id") % 9 === 0).select(col("doc_id"))
      graft.reports.IngestPipeline.retract(s, retrIds, "q90", cfg)
      val n2 = graft.reports.IngestPipeline.runNight(s, b2, "n2", cfg)
      require(n2.dqFailures == 0, s"ingest DQ must pass: $n2")
      s.read.parquet(cfg.corpusPath)
        .select(col("doc_id"), col("load_date"))
        .orderBy("doc_id")
    }),

    "q85_training_set" -> ((s, dir) => {
      graft.reports.TrainingSetBuild.plan(
          t(s, dir, "documents").select(col("doc_id"), col("text"),
            col("lang"), col("n_chars")),
          graft.reports.TrainingSetBuild.BuildConfig(
            weights = Map("de" -> 2.5, "en" -> 0.5),
            maxEpochs = 100, shuffleSpan = 1000000L, budget = 50000,
            packBuckets = 64, minTokens = 30, minAvgWordLen = 3.8,
            minStopwordFrac = 0.0, maxDupLineFrac = 0.2))
        .select(col("doc_id"), col("epoch"), col("pack_key"),
          col("n_chars"), col("token_offset"), col("shard"))
        .orderBy("doc_id", "epoch")
    }),

    // exact-substring dedup, audit face (Lee et al. 2021): every 8-token
    // span occurring twice-plus anywhere in the corpus, with occurrence
    // and document counts — ONE shuffle keyed by the gram string so the
    // oracle reproduces it bit-for-bit
    "q91_dup_grams" -> ((s, dir) =>
      graft.operators.Dedup.duplicateGrams(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 8)
        .orderBy("gram")),

    // exact-substring dedup, cutter face: duplicated 8-token spans removed
    // from every occurrence but the smallest (doc_id, pos) winner; the
    // oracle rebuilds the same texts relationally (anti-join on covered
    // token positions + ordered string_agg), pinning window positions,
    // winner choice, overlap merging, and untouched-doc passthrough
    "q92_dedup_spans" -> ((s, dir) =>
      graft.operators.Dedup.removeDuplicateSpans(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", k = 8)
        .select(col("doc_id"), col("clean_text"), col("removed_tokens"))
        .orderBy("doc_id")),

    // SemDeDup (Abbas et al. 2023): k-means cells bound the pair space,
    // the exact quantized cosine verifies candidates. The q70 dyadic-grid
    // trick makes the LEARNED cells engine-portable, so the oracle
    // reproduces cells AND pairs bit-for-bit; q30's planted
    // identical-embedding copies guarantee true semantic dups (cos = 1.0)
    "q93_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .union(e.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      val dyadic = corpus.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(128.0)) / lit(128.0)).as("kvec"))
      val cents = Similarity.kmeansCentroids(dyadic, "vec_id", "kvec",
        k = 8, iterations = 3)
      graft.operators.Dedup.semanticDupPairs(corpus, "vec_id", "embedding",
          threshold = 0.9, centroids = Some(cents), maxBucket = 5000)
        .orderBy("id_a", "id_b")
    }),

    // temperature-derived mixture weights (t = 0.5 sharpens: p_d ∝ n_d²,
    // exact in doubles, so the whole chain — sum, ratios, banker's
    // rounding to mixCorpus's 1% grid — is IEEE-deterministic across
    // engines; rint ≡ DuckDB round_even)
    "q94_temperature_weights" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Mixing.temperatureWeights(
          t(s, dir, "documents"), col("lang"), t = 0.5, targetRows = 1000)
        .toSeq.sortBy(_._1).toDF("domain", "weight")
    }),

    // the drop ledger over q74's exact two-night composition: one row per
    // probe-dropped doc with the kept partner and the reason, corpus_dup
    // outranking intra_dup, smallest kept id on ties — the per-doc audit
    // answer to "why did my document disappear?" (IngestPipeline.ledger)
    "q96_drop_ledger" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 3 === 0)
        .union(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zzz extra tail")).as("text")))
      val b2 = d.filter(col("doc_id") % 3 === 1)
        .union(d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" zzz extra tail")).as("text")))
      val root = Scratch.dir("graft_q96_")
      val cfg = graft.reports.IngestPipeline.IngestConfig(
        corpusPath = root.resolve("corpus").toString,
        bandIndexPath = root.resolve("band_index").toString,
        metaDir = root.resolve("meta").toString,
        maxBucket = LshMaxBucket, strict = true, dropLedger = true)
      graft.reports.IngestPipeline.runNight(s, b1, "n1", cfg)
      graft.reports.IngestPipeline.runNight(s, b2, "n2", cfg)
      graft.reports.IngestPipeline.ledger(s, cfg)
        .select(col("doc_id"), col("kept_id"), col("reason"),
          col("load_date").cast("string").as("load_date"))
        .orderBy("load_date", "doc_id")
    }),

    // mergeable corpus-statistics sketches (Sketches): three deterministic
    // "nights" of the documents table each land O(batch) per-night state
    // (exact counts/sums + a Datasketches HLL per distinct column); the
    // merged LIFETIME stats must equal the exact one-shot aggregation the
    // oracle computes over the whole table. HLL is exact at these
    // cardinalities (coupon mode; ≤20 sources) — SketchesSpec pins the
    // estimation-mode error bound at 50k distinct. The 100 TB point:
    // lifetime profiling reads nights×groups KB of state, never the corpus.
    "q95_corpus_sketch" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val spec = graft.operators.Sketches.SketchSpec(Seq("lang"),
        distinctCols = Seq("source"), sumCols = Seq("n_chars"))
      val tmp = Scratch.dir("graft_q95_").resolve("sketches").toString
      (0 to 2).foreach(n => graft.operators.Sketches.appendNight(
        docs.filter(pmod(col("doc_id"), lit(3)) === n), spec, tmp, s"n$n"))
      graft.operators.Sketches.mergedStats(s, tmp, spec)
        .select(col("lang"), col("n_rows").as("n_docs"),
          col("sum_n_chars").as("total_chars"),
          col("distinct_source").as("n_sources"))
        .orderBy("lang")
    }),

    // sharded Bloom membership index (BloomIndex): the exact-dup gate for
    // re-crawl-heavy ingest. Probe verdicts are EXACT (bloom prefilter +
    // shard-pruned ledger verify), so the oracle is a plain min-per-key
    // left join — the bloom, the sharding, the generation rows and the
    // candidate pruning must all be invisible in the answer. The 100 TB
    // point: the definite-miss majority of a mostly-new batch costs one
    // xxhash64 and zero ledger I/O.
    "q97_bloom_membership" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 3 === 0)
      val batch = d.filter(col("doc_id") % 3 === 1)
        .union(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 50000).as("doc_id"), col("text")))
      val idx = Scratch.dir("graft_q97_").resolve("bloom_index").toString
      graft.operators.BloomIndex.save(
        corpus.select(md5(col("text").cast("binary")).as("key"),
          col("doc_id")),
        "key", "doc_id", idx, shards = 16, bitsPerShard = 1L << 16,
        itemsPerShard = 4096L)
      val keyedBatch = batch.select(col("doc_id"),
        md5(col("text").cast("binary")).as("key"))
      val verdict = graft.operators.BloomIndex.probe(s, idx,
        keyedBatch.select(col("key")), "key")
      keyedBatch.join(verdict, Seq("key"), "left")
        .select(col("doc_id"), col("kept_id"),
          col("kept_id").isNotNull.cast("int").as("is_dup"))
        .orderBy("doc_id")
    }),

    // the bloom index's incremental lifecycle as one oracle: bootstrap
    // generation + appended generation + a takedown (tombstone → vacuum →
    // bloom bits stale until rebuild) — the probe must still answer from
    // the union of the surviving ledger, exactly. Stale bloom bits of the
    // retracted keys are the deliberate hard case: they make the retracted
    // keys verify CANDIDATES, and the vacuumed ledger must still say no.
    "q98_bloom_lifecycle" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val gen1 = d.filter(col("doc_id") % 4 === 0)
      val gen2 = d.filter(col("doc_id") % 4 === 1)
      val batch = d.filter(col("doc_id") % 2 === 0) // overlaps gen1 + new
      val idx = Scratch.dir("graft_q98_").resolve("bloom_index").toString
      def keys(df: DataFrame) =
        df.select(md5(col("text").cast("binary")).as("key"), col("doc_id"))
      graft.operators.BloomIndex.save(keys(gen1), "key", "doc_id", idx,
        shards = 16, bitsPerShard = 1L << 16, itemsPerShard = 4096L)
      graft.operators.BloomIndex.append(keys(gen2), "key", "doc_id", idx)
      // takedown: every 8th doc leaves the standing set physically
      graft.operators.BloomIndex.removeIds(s, idx,
        d.filter(col("doc_id") % 8 === 0).select(col("doc_id")))
      graft.operators.BloomIndex.vacuum(s, idx)
      val keyedBatch = batch.select(col("doc_id"),
        md5(col("text").cast("binary")).as("key"))
      val verdict = graft.operators.BloomIndex.probe(s, idx,
        keyedBatch.select(col("key")), "key")
      keyedBatch.join(verdict, Seq("key"), "left")
        .select(col("doc_id"), col("kept_id"),
          col("kept_id").isNotNull.cast("int").as("is_dup"))
        .orderBy("doc_id")
    }),

    // the nightly EVAL GATE end to end (round 19): two audited nights with
    // an eval set staged as parquet — batch docs whose 3-shingle
    // containment against any eval doc reaches 0.6 (with ≥5 shared
    // shingles) drop BEFORE the probe, so eval data never lands. The
    // batches are near-dup-free by construction, so the landed corpus
    // equals the pure gate algebra (q86's detector arithmetic applied
    // per night) — exactly what the oracle computes
    "q105_ingest_eval_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          substring(col("text"), 1, 200).as("text"))
      val root = Scratch.dir("graft_q105_")
      val evalPath = root.resolve("eval_set").toString
      evalSet.write.mode("overwrite").parquet(evalPath)
      val cfg = graft.reports.IngestPipeline.IngestConfig(
        corpusPath = root.resolve("corpus").toString,
        bandIndexPath = root.resolve("band_index").toString,
        metaDir = root.resolve("meta").toString,
        evalSetPath = Some(evalPath),
        evalGateK = 3, evalGateMinOverlap = 5L,
        evalGateContainment = 0.6,
        maxBucket = LshMaxBucket, strict = true)
      graft.reports.IngestPipeline.runNight(s,
        d.filter(col("doc_id") % 3 === 0), "n1", cfg)
      graft.reports.IngestPipeline.runNight(s,
        d.filter(col("doc_id") % 3 === 1), "n2", cfg)
      s.read.parquet(cfg.corpusPath)
        .select(col("doc_id"),
          col("load_date").cast("string").as("load_date"))
        .orderBy("doc_id")
    }),

    // the maintain cadence end to end as ONE oracle: bootstrap + append
    // stack bloom generations, a heavy takedown pushes the stale-bit share
    // past the rebuild threshold, and maintain (vacuum → fold-gated
    // compact → AUTO rebuildBlooms, round 19) must leave an index whose
    // probe still answers the plain min-per-key algebra EXACTLY — the
    // generation counter, the stale tracking and the self-healing rebuild
    // all invisible in the answer
    "q104_bloom_auto_rebuild" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def keys(df: DataFrame) =
        df.select(md5(col("text").cast("binary")).as("key"), col("doc_id"))
      val idx = Scratch.dir("graft_q104_").resolve("bloom_index").toString
      graft.operators.BloomIndex.save(
        keys(d.filter(col("doc_id") % 4 === 0)), "key", "doc_id", idx,
        shards = 16, bitsPerShard = 1L << 16, itemsPerShard = 4096L)
      graft.operators.BloomIndex.append(
        keys(d.filter(col("doc_id") % 4 === 1)), "key", "doc_id", idx)
      // takedown of 3/4 of the first generation: stale share ≈ 0.375
      // crosses StaleWarnShare, so this maintain call must self-rebuild
      graft.operators.BloomIndex.removeIds(s, idx,
        d.filter(col("doc_id") % 4 === 0 && col("doc_id") % 16 =!= 0)
          .select(col("doc_id")))
      val (_, rebuilt) = graft.operators.BloomIndex.maintain(s, idx,
        minFoldGenerations = 2L)
      require(rebuilt, "the takedown must trigger the auto-rebuild")
      val keyedBatch = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("key"))
      val verdict = graft.operators.BloomIndex.probe(s, idx,
        keyedBatch.select(col("key")), "key")
      keyedBatch.join(verdict, Seq("key"), "left")
        .select(col("doc_id"), col("kept_id"),
          col("kept_id").isNotNull.cast("int").as("is_dup"))
        .orderBy("doc_id")
    }),

    // BM25 lexical retrieval (Okapi, Lucene non-negative IDF) — keyword
    // top-k over the corpus: ONE (doc,term) postings shuffle with the doc
    // length denormalized into each posting, per-term df + 2-scalar corpus
    // stats on broadcasts, top-k as TakeOrderedAndProject. The persisted
    // twin (Bm25Index, term-hash-bucket partition pruning) is spec-pinned
    // equal to this frame path
    "q106_bm25_topk" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Bm25.search(d, "doc_id", "text",
        Seq("spark", "shuffle", "broadcast"), k = 25)
    }),

    // DSIR importance weights (hashed unigram+bigram bag models, add-0.5
    // smoothing, 8192 md5 buckets): target = the English slice, raw = the
    // whole corpus. Two 8192-row histograms + one broadcast-join score agg
    "q107_dsir_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dsir.importanceWeights(
          d, d.filter(col("lang") === "en"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // stratified DSIR selection: top-20 docs by importance weight WITHIN
    // each language (rank window partitioned by lang — no global sort),
    // the deterministic counterpart of the paper's Gumbel resampling
    "q108_dsir_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val w = graft.operators.Dsir.importanceWeights(
        d, d.filter(col("lang") === "en"), "doc_id", "text",
        carry = Seq("lang"))
      graft.operators.Dsir.selectStratified(w, "doc_id", "lang",
          perStratum = 20)
        .select(col("lang"), col("doc_id"), col("logw"))
        .orderBy(col("lang"), col("logw").desc, col("doc_id"))
    }),

    // hybrid retrieval: a BM25 lexical arm and a dense cosine-ANN arm
    // fused by reciprocal-rank fusion (rrf = SUM 1/(60+rank)) — ranks
    // only, no score calibration. Both arms are top-k frames before the
    // fusion union; the tiny rank windows run over ≤20 rows
    "q109_hybrid_rrf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e = t(s, dir, "embeddings")
      val lex = Fusion.ranked(
        Bm25.search(d, "doc_id", "text",
          Seq("spark", "shuffle", "broadcast"), k = 20),
        "doc_id", "score")
      val dense = Similarity.bruteForceTopK(
          e.filter(col("vec_id") === 0), e, "vec_id", "vec_id",
          "embedding", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Fusion.rrf(Seq(lex, dense), "doc_id", topK = 15)
        .orderBy(col("rrf_score").desc, col("doc_id"))
    }),

    // CCNet-style LM quality scoring: train an add-alpha bigram model on
    // the English slice, score every doc's cross-entropy under it (lower
    // = more target-like). Model state is vocabulary-sized, not
    // corpus-sized; scoring is two model joins + one per-doc agg
    "q110_lm_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = NgramLm.train(d.filter(col("lang") === "en"), "doc_id", "text")
      NgramLm.crossEntropy(d, "doc_id", "text", m)
        .orderBy("doc_id")
    }),

    // the LM quality gate driven end to end through the audited nightly
    // pipeline (q74's composition with lmModelPath configured): the bigram
    // model trains on the corpus's English slice and ships as a persisted
    // artifact; each night's batch docs past the cross-entropy ceiling
    // drop BEFORE the probe — they never land, never enter the band
    // index, and the near-dup algebra sees only the gated batches
    "q112_ingest_lm_gate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val en = t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), col("text"))
      val root = Scratch.dir("graft_q112_")
      val modelPath = root.resolve("lm_model").toString
      NgramLm.save(s, NgramLm.train(en, "doc_id", "text"), modelPath)
      val cfg = graft.reports.IngestPipeline.IngestConfig(
        corpusPath = root.resolve("corpus").toString,
        bandIndexPath = root.resolve("band_index").toString,
        metaDir = root.resolve("meta").toString,
        lmModelPath = Some(modelPath),
        lmGateMaxCe = 3.43,
        maxBucket = LshMaxBucket, strict = true)
      graft.reports.IngestPipeline.runNight(s,
        d.filter(col("doc_id") % 3 === 0), "n1", cfg)
      graft.reports.IngestPipeline.runNight(s,
        d.filter(col("doc_id") % 3 === 1), "n2", cfg)
      s.read.parquet(cfg.corpusPath)
        .select(col("doc_id"),
          col("load_date").cast("string").as("load_date"))
        .orderBy("doc_id")
    }),

    // CCNet's head/middle/tail perplexity split over the scored corpus:
    // exact tercile cutoffs (1-row agg, broadcast) — no ntile global
    // sort. Output is the per-tier audit row the keep decision reads
    "q111_ppl_tiers" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = NgramLm.train(d.filter(col("lang") === "en"), "doc_id", "text")
      val scored = NgramLm.crossEntropy(d, "doc_id", "text", m)
      NgramLm.perplexityTiers(scored, "cross_entropy")
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("cross_entropy")), 6).as("avg_ce"),
          round(min(col("cross_entropy")), 6).as("min_ce"),
          round(max(col("cross_entropy")), 6).as("max_ce"))
        .orderBy("tier")
    }),

    // GPT-3-style seed-supervised quality classifier: multinomial Naive
    // Bayes trained on a curated-vs-raw seed split (sources src0-4 vs
    // src15-19), scoring EVERY corpus doc with the smoothed log-odds. The
    // model is vocabulary-sized (one token agg + a 1-row totals frame);
    // scoring is one broadcastable join + a map-side-combinable per-doc agg
    "q113_nb_quality_score" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = NbClassifier.train(
        d.filter(col("source").isin(NbPosSeeds: _*)),
        d.filter(col("source").isin(NbNegSeeds: _*)),
        "doc_id", "text")
      NbClassifier.logOdds(d, "doc_id", "text", m).orderBy("doc_id")
    }),

    // the GPT-3 keep rule over the classifier scores: keep iff a
    // Pareto(9) draw reaches 1 - sigmoid(log_odds) — the draw
    // inverse-transformed from an ID-HASH-seeded uniform so the
    // stochastic-looking kept set is exactly reproducible for stable ids
    // (and oracle-pinnable); `>=` because the discretized draw can be
    // exactly 0; both comparison sides rounded to 6 dp so the decision
    // cannot flip on last-ulp ln/exp engine differences
    "q114_nb_pareto_keep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val m = NbClassifier.train(
        d.filter(col("source").isin(NbPosSeeds: _*)),
        d.filter(col("source").isin(NbNegSeeds: _*)),
        "doc_id", "text")
      val scored = NbClassifier.logOdds(d, "doc_id", "text", m)
      NbClassifier.paretoKeep(scored, "doc_id")
        .select(col("doc_id"), col("log_odds"), col("keep_p"), col("noise"))
        .orderBy("doc_id")
    }),

    // the exact gate driven end to end through the audited nightly
    // pipeline (q74's composition with bloomIndexPath configured):
    // night-1's byte-identical intra dups drop at the gate, night-2's
    // byte-identical re-submissions of LANDED content drop against the
    // standing bloom ledger, near-dup copies still drop in the banded
    // probe, and the landed corpus must equal the oracle's gated survivor
    // algebra — exact drops happen BEFORE banding, so the bucket counts
    // the near-dup algebra sees are the gated batch's, not the raw one's.
    // BENCH NOTE: self-contained like q74 (two audited nights + bloom
    // bootstrap/append/sweep timed together, by oracle necessity). Round
    // 19 removed the real fixture cost — the gate's survivor pin carried a
    // garbage join-product size estimate (~189 TB for a 2 MB batch) that
    // pinned ShuffleSizing at 4096 partitions for BOTH nights (fixed by
    // pinnedWithMeasuredStats; 33k→575 tasks, idle 39→20 s) — and gated
    // the per-night bloom maintenance by fragmentation. What remains over
    // q74 is the gate's own probe/append jobs at a 2k-doc fixture; at 1M
    // docs the same gate is a NET WIN (ScaleBench bloomgate tier:
    // re-crawl night 27.5 → 17.1 s, spill eliminated — SCALE.md round 18)
    "q100_bloom_gated_ingest" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 3 === 0)
        .union(d.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val b2 = d.filter(col("doc_id") % 3 === 1)
        .union(d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
        .union(d.filter(col("doc_id") % 15 === 0)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" zzz extra tail")).as("text")))
      val root = Scratch.dir("graft_q100_")
      val cfg = graft.reports.IngestPipeline.IngestConfig(
        corpusPath = root.resolve("corpus").toString,
        bandIndexPath = root.resolve("band_index").toString,
        metaDir = root.resolve("meta").toString,
        bloomIndexPath = Some(root.resolve("bloom_index").toString),
        bloomShards = 8, bloomBitsPerShard = 1L << 16,
        maxBucket = LshMaxBucket, strict = true)
      graft.reports.IngestPipeline.runNight(s, b1, "n1", cfg)
      graft.reports.IngestPipeline.runNight(s, b2, "n2", cfg)
      s.read.parquet(cfg.corpusPath)
        .select(col("doc_id"), col("load_date").cast("string").as("load_date"))
        .orderBy("doc_id")
    }),

    // multimodal byte-window sampling (Multimodal.chunkPayload): the
    // frame-sample/audio-window shape over opaque binary payloads —
    // codegen'd sequence+posexplode+substr, zero shuffle, zero UDF. The
    // oracle slices the SAME bytes through their hex encoding, so the
    // binary plumbing (offsets, overlap, tail chunks, byte counts) is
    // pinned exactly
    "q102_media_chunks" -> ((s, dir) => {
      val media = graft.operators.Multimodal.asMedia(
        t(s, dir, "documents"), "doc_id", "text")
      graft.operators.Multimodal.chunkPayload(media,
          chunkBytes = 64, stride = 48)
        .select(col("media_id"), col("chunk_no"),
          hex(col("chunk")).as("chunk_hex"),
          col("chunk_bytes").cast("int").as("chunk_bytes"))
        .orderBy("media_id", "chunk_no")
    }),

    // multimodal exact dedup (Multimodal.payloadDupGroups): byte-identical
    // payload groups keyed by md5 of the RAW bytes — the re-upload case,
    // one map-side-combined aggregation, no decode
    "q103_media_dup_groups" -> ((s, dir) => {
      val media = graft.operators.Multimodal.asMedia(
        docsWithDupes(s, dir), "doc_id", "text")
      graft.operators.Multimodal.payloadDupGroups(media)
        .orderBy("payload_md5")
    }),

    // snapshot diff (Cdc.snapshotDiff): the added/removed/changed audit
    // between two versions of a keyed table — one full outer join on the
    // key, null-safe column comparison. The compliance companion to
    // retraction ("did the takedown remove exactly the listed ids?")
    "q101_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val before = d.filter(col("doc_id") % 2 === 0)
      val after = d.filter(col("doc_id") % 2 === 0 && col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .union(d.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === 0))
      graft.ops.Cdc.snapshotDiff(before, after, "doc_id",
          Seq("text", "lang"))
        .orderBy("doc_id")
    }),

    // nightly drift verdicts from sketch state alone (Sketches.nightDrift):
    // three nights land per-group sketch rows, night n2 deliberately skews
    // (its 'de' docs are withheld), and the drift report — composition
    // ratio + per-row-mean ratio per lang, OK/DRIFT/MISSING — must equal
    // the oracle's exact arithmetic over the same corpus. The 100 TB
    // point: the verdict reads nights×groups KB of state, never a corpus
    // or batch rescan; ratios are exact-count arithmetic (IEEE-identical
    // across engines), so the whole report is engine-portable.
    "q99_night_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val spec = graft.operators.Sketches.SketchSpec(Seq("lang"),
        sumCols = Seq("n_chars"))
      val tmp = Scratch.dir("graft_q99_").resolve("sketches").toString
      graft.operators.Sketches.appendNight(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), spec, tmp, "n0")
      graft.operators.Sketches.appendNight(
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), spec, tmp, "n1")
      graft.operators.Sketches.appendNight(
        docs.filter(pmod(col("doc_id"), lit(3)) === 2 &&
          col("lang") =!= "de"), spec, tmp, "n2")
      graft.operators.Sketches.nightDrift(s, tmp, spec, "n2",
          tolerance = 1.2)
        .orderBy("metric", "lang")
    }))

  /** documents ∪ exact copies of every 10th doc (id+10000) — makes the
    * dedup operators' outputs non-trivial on a dup-free synthetic corpus. */
  private def docsWithDupes(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  /** documents ∪ tail-perturbed copies of every 7th doc (id+10000) — forces
    * genuine *near*-duplicates for the MinHash/Jaccard operators. */
  private def docsWithNearDupes(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.union(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" zzz extra tail")).as("text")))
  }

  // ------------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
        | l_extendedprice * (1.0 - l_discount) AS revenue,
        | l_returnflag AS flag
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
        |  AND l_linenumber IN (1,2,3)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_revenue" ->
      """SELECT n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS VARCHAR) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q04_left_join" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        | CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q05_latest_event" ->
      """SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q06_event_intervals" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS eff_dt,
        | CAST(COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MINUTE,
        |          TIMESTAMP '2199-12-31 00:00:00') AS TIMESTAMP) AS exp_dt
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q07_outliers" ->
      """WITH stats AS (
        |  SELECT COUNT(*) AS n,
        |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS ss
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice,
        | ROUND((o_totalprice - s/n) / sqrt((ss - s*s/n) / (n-1)), 4) AS z
        |FROM orders, stats
        |WHERE ABS(o_totalprice - s/n) > 1.5 * sqrt((ss - s*s/n) / (n-1))
        |ORDER BY o_orderkey""".stripMargin,

    "q08_dup_groups" ->
      """SELECT o_custkey, o_orderstatus, COUNT(*) AS err_count
        |FROM orders GROUP BY o_custkey, o_orderstatus
        |HAVING COUNT(*) > 2
        |ORDER BY o_custkey, o_orderstatus""".stripMargin,

    "q09_rollup_totals" ->
      """SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'Grand Total' ELSE o_orderpriority END AS o_orderpriority,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        | COUNT(*) AS n_rows,
        | CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'TOTAL' ELSE 'GROUP' END AS row_kind
        |FROM orders GROUP BY ROLLUP(o_orderpriority)
        |ORDER BY row_kind, o_orderpriority""".stripMargin,

    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q11_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
        |ORDER BY o_orderkey""".stripMargin,

    "q12_union_nations" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q13_count_diff" ->
      """SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
        | (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS n_lineitem_orders,
        | ABS((SELECT COUNT(*) FROM orders) - (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)) AS diff""".stripMargin,

    "q14_working_days" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS cal_days,
        | CAST(CASE WHEN CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE) THEN 0 ELSE
        |   (date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) + 1) // 7 * 5
        |   + (date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) + 1) % 7
        |   - CASE WHEN (date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) + 1) % 7 > (6 - isodow(CAST(o_orderdate AS DATE)) + 7) % 7 THEN 1 ELSE 0 END
        |   - CASE WHEN (date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) + 1) % 7 > (7 - isodow(CAST(o_orderdate AS DATE)) + 7) % 7 THEN 1 ELSE 0 END
        |  END AS BIGINT) AS work_days,
        | CAST(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 14 THEN 1 ELSE 0 END AS BIGINT) AS within_two_weeks,
        | CAST(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 0
        |      THEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) - 1 ELSE 0 END AS BIGINT) AS clamped_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q15_string_funcs" ->
      """SELECT c_custkey,
        | UPPER(c_name) AS up_name,
        | CASE WHEN strpos(c_name, '#') > 0 THEN substr(c_name, strpos(c_name, '#') + 1) ELSE c_name END AS suffix,
        | TRY_CAST(CASE WHEN strpos(c_name, '#') > 0 THEN substr(c_name, strpos(c_name, '#') + 1) ELSE c_name END AS BIGINT) AS suffix_num,
        | md5(c_name) AS name_md5,
        | CAST(LENGTH(c_name) AS BIGINT) AS name_len,
        | c_mktsegment || '|' || TRIM(c_name) AS seg_name
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q16_date_funcs" ->
      """SELECT o_orderkey,
        | date_trunc('month', o_orderdate) AS month_start,
        | date_trunc('quarter', o_orderdate) AS quarter_start,
        | CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mo,
        | strftime(o_orderdate, '%m/%d/%Y') AS us_date,
        | CAST(make_date(CAST(year(o_orderdate) AS BIGINT), CAST(month(o_orderdate) AS BIGINT), 1) AS TIMESTAMP) AS first_of_month
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q17_periods" ->
      """SELECT 'MONTHLY' AS frequency,
        | CAST(d AS TIMESTAMP) AS report_start_date,
        | CAST(last_day(CAST(d AS DATE)) AS TIMESTAMP) + INTERVAL 86399997 MILLISECONDS AS report_end_date,
        | CAST(last_day(CAST(d AS DATE)) AS TIMESTAMP) AS as_of_run_dt,
        | 'CARRIER_A' AS carrier_name
        |FROM generate_series(DATE '2024-01-01', DATE '2025-12-01', INTERVAL 1 MONTH) AS t(d)
        |ORDER BY report_start_date""".stripMargin,

    "q18_merge_upsert" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |     s AS (SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice, 'U' AS o_orderstatus
        |           FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        | CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus
        |FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q19_asof_join" ->
      """SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts,
        | r.event_id AS click_event_id, CAST(r.ts AS TIMESTAMP) AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "q20_incremental_template" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE 1=1 AND ts > TIMESTAMP '2024-01-20 00:00:00' AND value > 5.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q21_validity_snapshot" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS eff_dt,
        |   CAST(COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MINUTE,
        |            TIMESTAMP '2199-12-31 00:00:00') AS TIMESTAMP) AS exp_dt
        |  FROM events)
        |SELECT user_id, event_id, event_type, eff_dt, exp_dt FROM iv
        |WHERE TIMESTAMP '2024-01-15 00:00:00' >= eff_dt
        |  AND TIMESTAMP '2024-01-15 00:00:00' < exp_dt
        |ORDER BY user_id""".stripMargin,

    "q22_exclude_fetch" ->
      """SELECT * EXCLUDE (p_type, p_retailprice) FROM part
        |WHERE p_size BETWEEN 10 AND 30
        |ORDER BY p_partkey""".stripMargin,

    "q23_dq_suite" ->
      """SELECT 'DQ-001' AS test_id,
        |  CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END AS status,
        |  COUNT(*) AS failed_rows, 'missing customer name' AS business_impact
        |FROM customer WHERE c_name IS NULL OR c_name = ''
        |UNION ALL
        |SELECT 'DQ-002', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'duplicate line PK'
        |FROM (SELECT TRIM(CAST(l_orderkey AS VARCHAR)), l_linenumber FROM lineitem
        |      GROUP BY 1, 2 HAVING COUNT(*) > 1)
        |UNION ALL
        |SELECT 'DQ-003', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'orphaned lineitem'
        |FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT 'DQ-004', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'invalid order status'
        |FROM orders WHERE o_orderstatus NOT IN ('O','F','P')
        |UNION ALL
        |SELECT 'DQ-005', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'negative quantity'
        |FROM lineitem WHERE l_quantity < 0
        |ORDER BY test_id""".stripMargin,

    "q24_json_props" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | to_json({'event_id': event_id, 'user_id': user_id}) AS obj
        |FROM events ORDER BY event_id""".stripMargin,

    "q25_dedup_exact" ->
      s"""WITH all_docs AS ($DupDocsSql)
         |SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_docs
         |FROM all_docs GROUP BY 1 ORDER BY text_hash""".stripMargin,

    "q26_dedup_drop" ->
      s"""WITH all_docs AS ($DupDocsSql),
         |r AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM all_docs)
         |SELECT doc_id FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q27_minhash_lsh" -> {
      val mins = (0 until 8).map(s => s"min(md5('$s ' || shingle)) AS mh$s").mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, mh${2 * b} || '|' || mh${2 * b + 1} AS bucket FROM sig")
        .mkString("\n UNION ALL ")
      s"""WITH corpus AS ($NearDupDocsSql),
         |$ShinglesSql,
         |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |banded AS (
         | $bands),
         |ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a
         |JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q28_simhash" -> {
      val bits = (0 until 16).map { b =>
        val digit = b / 4 + 1
        s"CASE WHEN sum(CASE WHEN (((strpos('0123456789abcdef', substr(md5(tok), $digit, 1)) - 1) >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      s"""WITH tok AS (SELECT doc_id, u.tok
         |  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) u(tok))
         |SELECT doc_id, $bits AS simhash
         |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q29_ngram_jaccard" ->
      s"""WITH corpus AS ($NearDupDocsSql),
         |$ShinglesSql,
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50 AND count(*) >= 2),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |           FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common, n_a, n_b, jaccard FROM (
         |  SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
         |    CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
         |  FROM common JOIN sizes sa ON common.id_a = sa.doc_id
         |              JOIN sizes sb ON common.id_b = sb.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q30_embedding_neardup" -> {
      // band b reads sign bits of dims [b*8, (b+1)*8) — mirrors
      // Similarity.signBucket(vec, 8, b*8) under Dedup.embeddingNearDupPairs
      def bucketSql(b: Int) = (0 until 8).map(j =>
        s"CASE WHEN embedding[${b * 8 + j + 1}] > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      val bandedSql = (0 until 4).map(b =>
        s"SELECT vec_id, $b AS band, ${bucketSql(b)} AS bucket FROM corpus")
        .mkString("\n UNION ALL ")
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |q AS (SELECT vec_id, $QuantizeSql AS qv FROM corpus),
         |banded AS (
         | $bandedSql),
         |ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
         |pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT id_a, id_b, $CosineSql AS cosine
         |  FROM pairs JOIN q a ON pairs.id_a = a.vec_id JOIN q b ON pairs.id_b = b.vec_id)
         |WHERE cosine >= 0.95 ORDER BY id_a, id_b""".stripMargin
    },

    "q31_ann_topk" -> BruteTopKSql,

    "q32_ann_lsh" -> {
      val bucket = (0 until 6).map(j =>
        s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      s"""WITH v AS (SELECT vec_id, $QuantizeSql AS qv, $bucket AS bucket FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $CosineSql AS cosine
         |  FROM (SELECT * FROM v WHERE vec_id < 5) a JOIN v b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "q33_text_stats" ->
      """SELECT doc_id, n_tokens, n_subwords, punct_ratio, stopword_ratio, avg_token_len,
        | round(least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) * 0.4
        |   + (CASE WHEN avg_token_len BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.5 END) * 0.4
        |   + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality
        |FROM (
        |  SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
        |   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(len(text), 1) AS punct_ratio,
        |   CAST(len(regexp_extract_all(lower(text), '\bthe\b|\ba\b|\ban\b|\band\b|\bor\b|\bof\b|\bto\b|\bin\b|\bis\b|\bit\b')) AS DOUBLE)
        |     / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS stopword_ratio,
        |   CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |     / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS avg_token_len
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q34_lang_id" -> {
      def pat(markers: Seq[String]) = markers.map(w => s"\\b$w\\b").mkString("|")
      val langs = graft.functions.Text.LangMarkers
      val scoreCols = langs.map { case (l, ms) =>
        s"len(regexp_extract_all(lt, '${pat(ms)}')) / greatest(nt, 1) AS s_$l"
      }.mkString(",\n   ")
      // replicate the fold: start at the first language, strict > on each step
      val folds = langs.tail.zipWithIndex.map { case ((l, _), i) =>
        val prev = if (i == 0) s"(SELECT *, 'de' AS bl, s_de AS bs FROM sc)"
                   else s"f$i"
        s"f${i + 1} AS (SELECT * REPLACE (CASE WHEN s_$l > bs THEN '$l' ELSE bl END AS bl, CASE WHEN s_$l > bs THEN s_$l ELSE bs END AS bs) FROM $prev)"
      }.mkString(",\n")
      s"""WITH s AS (SELECT doc_id, lang, lower(text) AS lt,
         |   CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nt FROM documents),
         |sc AS (SELECT doc_id, lang,
         |   ${scoreCols}
         | FROM s),
         |$folds
         |SELECT doc_id, CASE WHEN bs > 0 THEN bl ELSE 'und' END AS detected, lang AS actual
         |FROM f${langs.size - 1} ORDER BY doc_id""".stripMargin
    },

    "q35_fingerprint" ->
      """SELECT doc_id,
        | list_min(list_transform(range(1, greatest(len(text) - 7, 1) + 1),
        |   i -> md5(substr(text, CAST(i AS INTEGER), 8)))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q36_media_features" ->
      """SELECT media_id, n_bytes, checksum,
        | CAST(checksum AS DOUBLE) / n_bytes AS mean_byte, format FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |   CAST(len(text) AS BIGINT) AS n_bytes,
        |   CAST(list_sum(list_transform(range(1, len(text) + 1),
        |     i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS checksum,
        |   'fake/utf8' AS format
        |  FROM documents)
        |ORDER BY media_id""".stripMargin,

    "q37_rank_min_over" ->
      """SELECT user_id, first_event_id, first_event_type,
        | CAST(first_ts AS TIMESTAMP) AS first_ts, n_events FROM (
        |  SELECT user_id, event_id AS first_event_id, event_type AS first_event_type,
        |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |   MIN(ts) OVER (PARTITION BY user_id) AS first_ts,
        |   COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q38_filtered_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_quantity > 25 THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
        |   / COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS avg_large_qty,
        | SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) * CAST(100.0 AS DOUBLE) / COUNT(*) AS discount_rate_pct,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS price_per_unit
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q39_string_report" ->
      """SELECT c_custkey AS "Customer Key",
        | substr(c_name, strpos(c_name, '#') + 1) AS "Customer Number",
        | CAST(length(c_name) AS BIGINT) AS "Name Length",
        | CASE WHEN contains(c_name, '#') THEN 'Y' ELSE 'N' END AS "Has Hash"
        |FROM customer
        |WHERE c_name LIKE '%4' AND c_name NOT LIKE '%\%'
        |ORDER BY "Customer Key"""".stripMargin,

    "q40_report_pipeline" ->
      """SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE value BETWEEN 2.0 AND 8.0 AND ts > TIMESTAMP '2024-01-05 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q41_periods_all" ->
      """SELECT * FROM (
        | SELECT 'DAILY' AS frequency, TIMESTAMP '2024-08-15 00:00:00' AS report_start_date, TIMESTAMP '2024-08-15 23:59:59.997' AS report_end_date
        | UNION ALL SELECT 'WEEKLY', TIMESTAMP '2024-08-12 00:00:00', TIMESTAMP '2024-08-18 23:59:59.997'
        | UNION ALL SELECT 'MONTHLY', TIMESTAMP '2024-08-01 00:00:00', TIMESTAMP '2024-08-31 23:59:59.997'
        | UNION ALL SELECT 'QUARTERLY', TIMESTAMP '2024-07-01 00:00:00', TIMESTAMP '2024-09-30 23:59:59.997'
        | UNION ALL SELECT 'SEMI_ANNUAL', TIMESTAMP '2024-07-01 00:00:00', TIMESTAMP '2024-12-31 23:59:59.997'
        | UNION ALL SELECT 'YEARLY', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-12-31 23:59:59.997')
        |ORDER BY frequency""".stripMargin,

    "q42_count_reasonability" ->
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_keys,
        | COUNT(DISTINCT o_custkey) AS n_customers,
        | CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey) THEN 'OK' ELSE 'SUSPECT' END AS pk_status
        |FROM orders""".stripMargin,

    "q43_first_line_join" ->
      """SELECT o_orderkey, o_orderdate, l_shipdate AS first_ship_dt,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS days_to_first_ship
        |FROM orders JOIN (
        |  SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS rn
        |                 FROM lineitem) WHERE rn = 1
        |) ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q44_ann_ivf" -> IvfTopKSql,
    // identical oracle to q44: the persisted index must change nothing
    "q72_ann_ivf_persisted" -> IvfTopKSql,

    "q45_dq_catalog" ->
      """WITH stats AS (
        |  SELECT COUNT(*) AS n,
        |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS ss
        |  FROM orders)
        |SELECT * FROM (
        | SELECT 'DQ-NULL' AS test_id, CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END AS status,
        |  COUNT(*) AS failed_rows, 'missing name' AS business_impact
        | FROM customer WHERE c_name IS NULL OR c_name = ''
        | UNION ALL
        | SELECT 'DQ-DUP', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'duplicate PK'
        | FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1)
        | UNION ALL
        | SELECT 'DQ-FORMAT', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'non-numeric customer number'
        | FROM customer WHERE TRY_CAST(CASE WHEN strpos(c_name, '#') > 0 THEN substr(c_name, strpos(c_name, '#') + 1) ELSE c_name END AS BIGINT) IS NULL
        | UNION ALL
        | SELECT 'DQ-RANGE', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'non-positive price'
        | FROM orders WHERE o_totalprice <= 0
        | UNION ALL
        | SELECT 'DQ-REF', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'order without customer'
        | FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        | UNION ALL
        | SELECT 'DQ-COMPLETE', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'order without lines'
        | FROM orders WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        | UNION ALL
        | SELECT 'DQ-CONSIST', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), 'shipped before ordered'
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_shipdate < o_orderdate
        | UNION ALL
        | SELECT 'DQ-STAT', CASE WHEN COUNT(*) = 0 THEN 'PASS' ELSE 'FAIL' END, COUNT(*), '3-sigma price outlier'
        | FROM orders, stats WHERE ABS(o_totalprice - s/n) > 3.0 * sqrt((ss - s*s/n) / (n-1)))
        |ORDER BY test_id""".stripMargin,

    "q46_rollup_two_level" ->
      """SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
        | CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
        | CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        | COUNT(*) AS n_rows
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status, gid""".stripMargin,

    "q47_claims_detail" ->
      s"""$ClaimsReportSql
         |ORDER BY "Claimant Id"""".stripMargin,

    // identical semantics to q31 — the heap aggregate must reproduce the
    // window row_number form exactly
    "q48_ann_topk_agg" ->
      s"""WITH v AS (SELECT vec_id, $QuantizeSql AS qv FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $CosineSql AS cosine
         |  FROM (SELECT * FROM v WHERE vec_id < 5) a, v b
         |  WHERE a.vec_id <> b.vec_id)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q49_dedup_clusters" -> {
      val mins = (0 until 8).map(s => s"min(md5('$s ' || shingle)) AS mh$s").mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, mh${2 * b} || '|' || mh${2 * b + 1} AS bucket FROM sig")
        .mkString("\n UNION ALL ")
      s"""WITH RECURSIVE corpus AS ($NearDupDocsSql),
         |$ShinglesSql,
         |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |banded AS (
         | $bands),
         |ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |  JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |walk(id, label) AS (
         |  SELECT DISTINCT a AS id, a AS label FROM edges
         |  UNION
         |  SELECT e.a, w.label FROM walk w JOIN edges e ON w.id = e.b)
         |SELECT id, MIN(label) AS cluster FROM walk GROUP BY id ORDER BY id""".stripMargin
    },

    "q50_hash_split" ->
      """SELECT doc_id,
        | CAST(((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 100 AS INTEGER) AS bucket,
        | CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 100 < 80
        |      THEN 'train' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q51_window_agg" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q52_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR date_diff('second', CAST(LAG(ts) OVER w AS TIMESTAMP), CAST(ts AS TIMESTAMP)) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM flagged)
        |SELECT user_id, session_no, COUNT(*) AS n_events,
        | CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        | CAST(MAX(ts) AS TIMESTAMP) AS session_end
        |FROM sessions GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    "q53_percentiles" ->
      """SELECT o_orderpriority,
        | quantile_cont(o_totalprice, 0.5) AS median_price,
        | quantile_cont(o_totalprice, 0.9) AS p90_price,
        | COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the 24-check DQ suite; every scalar metric is derived in one pass over
    // the report CTE, rates/averages as exact centi-scaled BIGINTs (the
    // same IEEE double expressions as the Spark side)
    "q54_dq_full" -> {
      val pd = """CAST(try_strptime("First Decision Date", '%m/%d/%Y') AS DATE)"""
      s"""WITH report AS (
         |$ClaimsReportSql
         |),
         |m AS (
         |  SELECT COUNT(*) AS n,
         |    SUM(CASE WHEN "Claimant Id" IS NULL OR "Request Id" IS NULL OR "Request Type" IS NULL OR "First Decision Date" IS NULL THEN 1 ELSE 0 END) AS n001,
         |    SUM(CASE WHEN "Working Days To Decision" IS NULL OR "Resolved Within Two Weeks" IS NULL THEN 1 ELSE 0 END) AS n002,
         |    SUM(CASE WHEN "Request Type" = '' OR "First Decision Date" = '' THEN 1 ELSE 0 END) AS n003,
         |    SUM(CASE WHEN $pd IS NULL THEN 1 ELSE 0 END) AS n006,
         |    SUM(CASE WHEN TRY_CAST(CAST("Working Days To Decision" AS VARCHAR) AS BIGINT) IS NULL
         |           OR TRY_CAST(CAST("Resolved Within Two Weeks" AS VARCHAR) AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS n007,
         |    SUM(CASE WHEN "Working Days To Decision" < 0 THEN 1 ELSE 0 END) AS n008,
         |    SUM(CASE WHEN "Working Days To Decision" > 10 THEN 1 ELSE 0 END) AS n009,
         |    SUM(CASE WHEN $pd > DATE '2024-01-20' THEN 1 ELSE 0 END) AS n010,
         |    SUM(CASE WHEN $pd < DATE '2024-01-01' THEN 1 ELSE 0 END) AS n011,
         |    SUM(CASE WHEN ("Resolved Within Two Weeks" = 1 AND "Working Days To Decision" > 11)
         |           OR ("Resolved Within Two Weeks" = 0 AND "Working Days To Decision" < 10)
         |           OR "Resolved Within Two Weeks" NOT IN (0, 1) THEN 1 ELSE 0 END) AS n012,
         |    SUM(CASE WHEN "Clamped Value" IS NULL OR "Clamped Value" = 0.0 THEN 1 ELSE 0 END) AS n017,
         |    SUM(CASE WHEN contains("Request Type", chr(92)) THEN 1 ELSE 0 END) AS n018,
         |    SUM(CASE WHEN "Request Type" IS NULL OR "Request Type" = '' THEN 1 ELSE 0 END) AS n019,
         |    SUM(CASE WHEN $pd < DATE '2024-01-01' OR $pd > DATE '2024-01-20' THEN 1 ELSE 0 END) AS n020,
         |    COUNT(DISTINCT "Claimant Id") AS cd_claimant,
         |    COUNT(DISTINCT "Request Type") AS cd_rt,
         |    CAST(SUM("Working Days To Decision") AS BIGINT) AS sum_days,
         |    CAST(SUM("Working Days To Decision" * "Working Days To Decision") AS BIGINT) AS sum_days2,
         |    CAST(MAX("Working Days To Decision") AS BIGINT) AS max_days,
         |    CAST(SUM("Resolved Within Two Weeks") AS BIGINT) AS resolved,
         |    CAST(COALESCE(SUM(CASE WHEN "Resolved Within Two Weeks" = 1 THEN "Working Days To Decision" END), 0) AS BIGINT) AS sum_days_c,
         |    CAST(SUM(CASE WHEN "Resolved Within Two Weeks" = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         |    CAST(COALESCE(SUM(CASE WHEN "Resolved Within Two Weeks" = 0 THEN "Working Days To Decision" END), 0) AS BIGINT) AS sum_days_nc,
         |    CAST(SUM(CASE WHEN "Resolved Within Two Weeks" = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nc
         |  FROM report),
         |stats AS (
         |  SELECT m.*,
         |    CAST(sum_days AS DOUBLE) / n AS mean_days,
         |    CASE WHEN n > 1 THEN sqrt((CAST(sum_days2 AS DOUBLE) - CAST(sum_days AS DOUBLE) * CAST(sum_days AS DOUBLE) / n) / (n - 1)) ELSE 0.0 END AS std_days,
         |    COALESCE(CAST(FLOOR(CAST(resolved AS DOUBLE) * 10000 / n) AS BIGINT), -1) AS rate_centi
         |  FROM m),
         |o AS (
         |  SELECT SUM(CASE WHEN CAST("Working Days To Decision" AS DOUBLE) > mean_days + std_days * 3.0 THEN 1 ELSE 0 END) AS n021
         |  FROM report, stats),
         |c AS (SELECT * FROM stats, o)
         |SELECT * FROM (
         |SELECT 'DQ-001' AS test_id, CASE WHEN n001 = 0 THEN 'PASS' ELSE 'FAIL' END AS status, CAST(n001 AS BIGINT) AS failed_rows, 'Critical business keys must be populated' AS business_impact, CAST(NULL AS VARCHAR) AS sample_failures FROM c
         |UNION ALL SELECT 'DQ-002', CASE WHEN n002 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n002 AS BIGINT), 'Working days and two-week flag must be calculated', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-003', CASE WHEN n003 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n003 AS BIGINT), 'Empty strings should be NULL for consistency', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-004', CASE WHEN g = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(g AS BIGINT), 'Same claimant should not appear twice with same dates - data multiplication', CAST(NULL AS VARCHAR)
         |  FROM (SELECT COUNT(*) AS g FROM (SELECT "Claimant Id", "Request Id", "First Decision Date" FROM report GROUP BY 1, 2, 3 HAVING COUNT(*) > 1))
         |UNION ALL SELECT 'DQ-005', CASE WHEN g = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(g AS BIGINT), 'Claimant appears >10 times - severe data multiplication issue', CAST(NULL AS VARCHAR)
         |  FROM (SELECT COUNT(*) AS g FROM (SELECT "Claimant Id" FROM report GROUP BY 1 HAVING COUNT(*) > 10))
         |UNION ALL SELECT 'DQ-006', CASE WHEN n006 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n006 AS BIGINT), 'Dates must be in MM/DD/YYYY format for downstream systems', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-007', CASE WHEN n007 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n007 AS BIGINT), 'Calculated day counts must be valid integers', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-008', CASE WHEN n008 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n008 AS BIGINT), 'Turnaround time cannot be negative - calculation error', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-009', CASE WHEN n009 = 0 THEN 'PASS' ELSE 'WARNING' END, CAST(n009 AS BIGINT), 'Processing took >10 working days - may be valid but investigate', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-010', CASE WHEN n010 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n010 AS BIGINT), 'Decision dates after period end indicate clock issues', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-011', CASE WHEN n011 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n011 AS BIGINT), 'Decision cannot happen before report period start', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-012', CASE WHEN n012 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n012 AS BIGINT), 'Two-week flag does not match turnaround days', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-013', CASE WHEN g = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(g AS BIGINT), 'Claimants in report do not exist in source event table', CAST(NULL AS VARCHAR)
         |  FROM (SELECT COUNT(*) AS g FROM report r WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = r."Claimant Id"))
         |UNION ALL SELECT 'DQ-014', CASE WHEN g = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(g AS BIGINT), 'Request types do not match source lookup values', CAST(NULL AS VARCHAR)
         |  FROM (SELECT COUNT(*) AS g FROM report r WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.event_type = r."Request Type"))
         |UNION ALL SELECT 'DQ-015',
         |  CASE WHEN n = 0 THEN 'FAIL' WHEN n < 10 THEN 'WARNING' ELSE 'PASS' END, CAST(n AS BIGINT),
         |  'Report has ' || CAST(n AS VARCHAR) || ' rows. Expected >10 for typical report period.',
         |  CAST(to_json(struct_pack(total_rows := CAST(n AS BIGINT), unique_claimants := CAST(cd_claimant AS BIGINT), unique_request_types := CAST(cd_rt AS BIGINT))) AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-016', CASE WHEN cd_rt = 1 THEN 'PASS' ELSE 'FAIL' END, CAST(cd_rt - 1 AS BIGINT), 'Report should have a single request type per run', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-017', CASE WHEN n017 = 0 THEN 'PASS' ELSE 'WARNING' END, CAST(n017 AS BIGINT), 'Measure value missing or zero - impacts analysis', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-018', CASE WHEN n018 = 0 THEN 'PASS' ELSE 'WARNING' END, CAST(n018 AS BIGINT), 'Request type contains domain prefix - should be stripped', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-019', CASE WHEN n019 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n019 AS BIGINT), 'Request type is required for grouping and analysis', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-020', CASE WHEN n020 = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(n020 AS BIGINT), 'Decision dates should be within the report period', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-021', 'INFO', CAST(n021 AS BIGINT), 'Records with days > 3 standard deviations from mean - investigate',
         |  CAST(to_json(struct_pack(
         |    outlier_count := CAST(n021 AS BIGINT),
         |    mean_days_centi := COALESCE(CAST(FLOOR(CAST(sum_days AS DOUBLE) * 100 / n) AS BIGINT), -1),
         |    stddev_days_centi := CAST(FLOOR(std_days * 100) AS BIGINT),
         |    max_days := COALESCE(max_days, -1),
         |    threshold_centi := COALESCE(CAST(FLOOR((mean_days + std_days * 3.0) * 100) AS BIGINT), -1))) AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-022', CASE WHEN rate_centi < 5000 THEN 'WARNING' ELSE 'INFO' END, CAST(10000 - rate_centi AS BIGINT),
         |  CAST(CAST(FLOOR(rate_centi / 100) AS BIGINT) AS VARCHAR) || '.' || lpad(CAST(rate_centi % 100 AS VARCHAR), 2, '0') || '% resolved within 14 days',
         |  CAST(to_json(struct_pack(
         |    total_claims := CAST(n AS BIGINT),
         |    resolved_within_14_days := COALESCE(resolved, 0),
         |    compliance_rate_centipct := rate_centi,
         |    avg_days_centi_all := COALESCE(CAST(FLOOR(CAST(sum_days AS DOUBLE) * 100 / n) AS BIGINT), -1),
         |    avg_days_centi_compliant := COALESCE(CAST(FLOOR(CAST(sum_days_c AS DOUBLE) * 100 / (CASE WHEN n_c > 0 THEN n_c END)) AS BIGINT), -1),
         |    avg_days_centi_non_compliant := COALESCE(CAST(FLOOR(CAST(sum_days_nc AS DOUBLE) * 100 / (CASE WHEN n_nc > 0 THEN n_nc END)) AS BIGINT), -1))) AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-023', 'INFO', CAST(cd_rt AS BIGINT), 'Distribution of request types - verify expected patterns', CAST(NULL AS VARCHAR) FROM c
         |UNION ALL SELECT 'DQ-024', CASE WHEN d = 0 THEN 'PASS' ELSE 'FAIL' END, CAST(d AS BIGINT), 'Source count must match target count: 0 = match, >0 = mismatch', CAST(NULL AS VARCHAR)
         |  FROM (SELECT abs((SELECT COUNT(DISTINCT user_id) FROM events WHERE CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20 00:00:00') - (SELECT COUNT(*) FROM report)) AS d)
         |) ORDER BY test_id""".stripMargin
    },

    "q55_stratified_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${bucketSql("doc_id")} < CASE lang WHEN 'en' THEN 20 WHEN 'fr' THEN 60 ELSE 100 END
         |ORDER BY doc_id""".stripMargin,

    "q56_leakage_safe_split" ->
      s"""WITH all_docs AS ($DupDocsSql),
         |canon AS (SELECT md5(text) AS th, MIN(doc_id) AS canonical_id FROM all_docs GROUP BY 1)
         |SELECT d.doc_id, c.canonical_id,
         |  CAST(${bucketSql("c.canonical_id")} AS INTEGER) AS bucket,
         |  CASE WHEN ${bucketSql("c.canonical_id")} < 80 THEN 'train' ELSE 'test' END AS split
         |FROM all_docs d JOIN canon c ON md5(d.text) IS NOT DISTINCT FROM c.th
         |ORDER BY d.doc_id""".stripMargin,

    "q57_dmf_eval" ->
      """SELECT table_name, metric_name, expectation_name, value, status FROM (
        |  SELECT 'customer' AS table_name, 'row_count' AS metric_name,
        |    'rows_present' AS expectation_name, CAST(count(*) AS BIGINT) AS value,
        |    CASE WHEN count(*) > 0 THEN 'PASS' ELSE 'FAIL' END AS status FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'null_name', 'no_null_name',
        |    CAST(count(*) FILTER (WHERE c_name IS NULL) AS BIGINT),
        |    CASE WHEN count(*) FILTER (WHERE c_name IS NULL) = 0 THEN 'PASS' ELSE 'FAIL' END
        |  FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'distinct_mkt', 'five_segments',
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT),
        |    CASE WHEN count(DISTINCT c_mktsegment) = 5 THEN 'PASS' ELSE 'FAIL' END
        |  FROM customer
        |) ORDER BY metric_name""".stripMargin,

    "q58_lsh_bucket_stats" -> {
      val mins = (0 until 8).map(s => s"min(md5('$s ' || shingle)) AS mh$s").mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, mh${2 * b} || '|' || mh${2 * b + 1} AS bucket FROM sig")
        .mkString("\n UNION ALL ")
      s"""WITH corpus AS ($NearDupDocsSql),
         |$ShinglesSql,
         |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |banded AS (
         | $bands),
         |bs AS (SELECT band, bucket, count(*) AS bucket_size FROM banded GROUP BY 1, 2)
         |SELECT CAST(band AS BIGINT) AS band, bucket_size, count(*) AS n_buckets
         |FROM bs GROUP BY 1, 2 ORDER BY band, bucket_size""".stripMargin
    },

    "q61_repetition" ->
      """SELECT doc_id, n_tokens, dup_token_ratio, top_bigram_frac FROM (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tokens,
        |    CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1) AS dup_token_ratio,
        |    CAST(list_max(list_transform(ng, x -> len(list_filter(ng, y -> y = x)))) AS DOUBLE)
        |      / greatest(len(ng), 1) AS top_bigram_frac
        |  FROM (
        |    SELECT doc_id, t, list_transform(range(0, greatest(len(t) - 2, 0) + 1),
        |      i -> array_to_string(t[CAST(i + 1 AS INTEGER):CAST(i + 2 AS INTEGER)], ' ')) AS ng
        |    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)))
        |ORDER BY doc_id""".stripMargin,

    "q60_contamination" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |$ShinglesSql,
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
         |csh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |probe AS (SELECT doc_id + 20000 AS probe_id, substr(text, 1, 200) AS text
         |          FROM documents WHERE doc_id % 13 = 0),
         |ptoks AS (SELECT probe_id, string_split_regex(trim(text), '\\s+') AS t FROM probe),
         |psh AS (SELECT DISTINCT probe_id, u.shingle
         |        FROM ptoks, unnest(list_transform(range(0, greatest(len(t) - 3, 0) + 1),
         |          i -> array_to_string(t[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))) u(shingle)),
         |sizes AS (SELECT probe_id, count(*) AS n_probe_sh FROM psh GROUP BY 1),
         |common AS (SELECT c.doc_id, p.probe_id, count(*) AS n_common
         |           FROM csh c JOIN psh p USING (shingle) GROUP BY 1, 2)
         |SELECT doc_id, probe_id, n_common, n_probe_sh,
         |  CAST(n_common AS DOUBLE) / CAST(n_probe_sh AS DOUBLE) AS containment
         |FROM common JOIN sizes USING (probe_id)
         |WHERE n_common >= 5
         |ORDER BY doc_id, probe_id""".stripMargin,

    "q59_embedding_bucket_stats" -> {
      def bucketSql59(b: Int) = (0 until 8).map(j =>
        s"CASE WHEN embedding[${b * 8 + j + 1}] > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      val banded = (0 until 4).map(b =>
        s"SELECT vec_id, $b AS band, ${bucketSql59(b)} AS bucket FROM corpus")
        .mkString("\n UNION ALL ")
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |banded AS (
         | $banded),
         |bs AS (SELECT band, bucket, count(*) AS bucket_size FROM banded GROUP BY 1, 2)
         |SELECT CAST(band AS BIGINT) AS band, bucket_size, count(*) AS n_buckets
         |FROM bs GROUP BY 1, 2 ORDER BY band, bucket_size""".stripMargin
    },

    "q62_dmf_history" ->
      """WITH r1 AS (
        |  SELECT COUNT(*) AS rc,
        |    COUNT(*) FILTER (WHERE o_orderdate >= DATE '1997-01-01') AS rec
        |  FROM orders WHERE o_orderdate < DATE '1995-01-01'),
        |r2 AS (
        |  SELECT COUNT(*) AS rc,
        |    COUNT(*) FILTER (WHERE o_orderdate >= DATE '1997-01-01') AS rec
        |  FROM orders)
        |SELECT run_ts, metric_name, value, status FROM (
        |  SELECT TIMESTAMP '2026-01-01 00:00:00' AS run_ts,
        |    'row_count' AS metric_name, CAST(rc AS BIGINT) AS value,
        |    CASE WHEN rc > 0 THEN 'PASS' ELSE 'FAIL' END AS status FROM r1
        |  UNION ALL
        |  SELECT TIMESTAMP '2026-01-01 00:00:00', 'recent_orders',
        |    CAST(rec AS BIGINT),
        |    CASE WHEN rec = 0 THEN 'PASS' ELSE 'FAIL' END FROM r1
        |  UNION ALL
        |  SELECT TIMESTAMP '2026-01-02 00:00:00', 'row_count',
        |    CAST(rc AS BIGINT),
        |    CASE WHEN rc > 0 THEN 'PASS' ELSE 'FAIL' END FROM r2
        |  UNION ALL
        |  SELECT TIMESTAMP '2026-01-02 00:00:00', 'recent_orders',
        |    CAST(rec AS BIGINT),
        |    CASE WHEN rec = 0 THEN 'PASS' ELSE 'FAIL' END FROM r2
        |) ORDER BY run_ts DESC, metric_name""".stripMargin,

    "q63_pii_redaction" -> {
      // the SAME RE2-safe patterns as Text.PiiPatterns, in the same
      // redaction order — single source of truth on the Scala side
      // DuckDB single-quoted strings keep backslashes literal, so the Java
      // pattern text embeds verbatim
      val pats = graft.functions.Text.PiiPatterns
      def pat(n: String) = pats.toMap.apply(n)
      val redacted = pats.foldLeft("text") { case (acc, (name, p)) =>
        s"regexp_replace($acc, '$p', '<${name.toUpperCase}>', 'g')"
      }
      def cnt(n: String) = s"CAST(len(regexp_extract_all(text, '${pat(n)}')) AS BIGINT)"
      s"""WITH withpii AS (
         |  SELECT doc_id,
         |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |      || ' phone 415-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' ssn 078-05-1120 ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.7' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  ${cnt("email")} AS n_email,
         |  ${cnt("phone")} AS n_phone,
         |  ${cnt("ssn")} AS n_ssn,
         |  ${cnt("card")} AS n_card,
         |  ${cnt("ip")} AS n_ip,
         |  $redacted AS redacted
         |FROM withpii ORDER BY doc_id""".stripMargin
    },

    "q64_quality_filter" ->
      // rule order mirrors Text.qualityVerdict; the low_stopword_frac rule
      // is disabled here (minStopwordFrac = 0) and so omitted from the CASE
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || chr(10) || 'repeat me' || chr(10) || 'repeat me'
        |      ELSE text END AS text
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS awl,
        |    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        |      / greatest(len(lines), 1) AS dup_line_frac,
        |    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
        |      / greatest(len(toks), 1) AS dup_token_ratio
        |  FROM (SELECT doc_id, text,
        |      list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |        x -> x <> '') AS lines,
        |      string_split_regex(trim(text), '\s+') AS toks
        |    FROM docs2)),
        |verdict AS (
        |  SELECT doc_id, n_tokens, dup_line_frac, dup_token_ratio,
        |    CASE WHEN n_tokens < 30 THEN 'too_few_tokens'
        |         WHEN n_tokens > 100000 THEN 'too_many_tokens'
        |         WHEN awl < 3.8 OR awl > 10.0 THEN 'word_length'
        |         WHEN dup_line_frac > 0.2 THEN 'dup_lines'
        |         WHEN dup_token_ratio > 0.6 THEN 'dup_tokens'
        |         ELSE 'keep' END AS reason
        |  FROM sig)
        |SELECT doc_id, n_tokens, dup_line_frac, dup_token_ratio,
        |  CAST(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END AS BIGINT) AS keep,
        |  reason
        |FROM verdict ORDER BY doc_id""".stripMargin,

    // the dialect-shim form must land on exactly the q47 report
    "q65_qualify_dialect" ->
      s"""$ClaimsReportSql
         |ORDER BY "Claimant Id"""".stripMargin,

    // q27's pair set + q58's histogram derived from ONE banded CTE — the
    // oracle of the shared-pipeline form
    "q66_lsh_shared" -> {
      val mins = (0 until 8).map(s => s"min(md5('$s ' || shingle)) AS mh$s").mkString(", ")
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, mh${2 * b} || '|' || mh${2 * b + 1} AS bucket FROM sig")
        .mkString("\n UNION ALL ")
      s"""WITH corpus AS ($NearDupDocsSql),
         |$ShinglesSql,
         |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
         |banded AS (
         | $bands),
         |bs AS (SELECT band, bucket, count(*) AS bucket_size FROM banded GROUP BY 1, 2),
         |ok AS (SELECT band, bucket FROM bs WHERE bucket_size BETWEEN 2 AND $LshMaxBucket),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a
         |  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |  JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket)
         |SELECT 'hist' AS kind, CAST(band AS BIGINT) AS band, bucket_size,
         |       count(*) AS n
         |FROM bs GROUP BY 2, 3
         |UNION ALL
         |SELECT 'pairs', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), count(*) FROM pairs
         |ORDER BY kind, band, bucket_size""".stripMargin
    },

    "q67_periods_last" ->
      """SELECT * FROM (
        | SELECT 'DAILY' AS frequency, TIMESTAMP '2024-08-14 00:00:00' AS report_start_date, TIMESTAMP '2024-08-14 23:59:59.997' AS report_end_date
        | UNION ALL SELECT 'WEEKLY', TIMESTAMP '2024-08-05 00:00:00', TIMESTAMP '2024-08-11 23:59:59.997'
        | UNION ALL SELECT 'MONTHLY', TIMESTAMP '2024-07-01 00:00:00', TIMESTAMP '2024-07-31 23:59:59.997'
        | UNION ALL SELECT 'QUARTERLY', TIMESTAMP '2024-04-01 00:00:00', TIMESTAMP '2024-06-30 23:59:59.997'
        | UNION ALL SELECT 'SEMI_ANNUAL', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-06-30 23:59:59.997'
        | UNION ALL SELECT 'YEARLY', TIMESTAMP '2023-01-01 00:00:00', TIMESTAMP '2023-12-31 23:59:59.997')
        |CROSS JOIN (SELECT TIMESTAMP '2024-08-15 00:00:00' AS as_of_run_dt, CAST(NULL AS VARCHAR) AS carrier_name)
        |ORDER BY frequency""".stripMargin,

    // probe parity: the batch-vs-corpus CROSS subset of the full-recompute
    // pair set (corpus ids < 10000, batch ids >= 10000) under the SAME
    // combined bucket cap — exactly what probeBandedPairs computes
    "q68_lsh_probe" -> ProbeCrossPairsSql,

    // identical semantics to q68 — the Spark side routes the SAME probe
    // through the persisted band-index lifecycle (save → load → probe), so
    // a hash match proves the disk round-trip is content-preserving
    "q71_lsh_probe_persisted" -> ProbeCrossPairsSql,

    // two-night ingest pipeline: the landed corpus equals both nights'
    // survivor sets under the pipeline's dedup algebra (see the SQL's doc)
    "q74_ingest_pipeline" -> IngestTwoNightsSql,
    "q100_bloom_gated_ingest" -> IngestBloomGatedSql,
    "q96_drop_ledger" -> IngestLedgerSql,

    // weighted mix: integer-percent weights (de 250, en 50, default 100) →
    // pct//100 full epochs + md5-bucket-selected fractional epoch; the
    // epoch explode is a constant-range lateral filtered by the copy count
    "q75_corpus_mix" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN lang = 'de' THEN 250 WHEN lang = 'en' THEN 50 ELSE 100 END AS pct,
         |    ${bucketSql("doc_id")} AS bucket
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang,
         |    pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS copies
         |  FROM w)
         |SELECT doc_id, lang, CAST(t.e AS INTEGER) AS epoch
         |FROM c, range(0, 100) AS t(e)
         |WHERE t.e < c.copies
         |ORDER BY doc_id, epoch""".stripMargin,

    // shard packing: the naive single-window global cumsum — the engine's
    // two-phase distributed form must be bit-identical to it
    "q76_shard_pack" ->
      """WITH c AS (
        |  SELECT doc_id, n_chars,
        |    CAST(SUM(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS token_offset
        |  FROM documents)
        |SELECT doc_id, n_chars, token_offset,
        |  CAST(token_offset // 50000 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,

    // shuffle-then-pack: block-shuffle key (hash bucket high digits, id
    // low digits), then the same naive global-window pack in skey order
    "q77_shuffled_pack" ->
      s"""WITH s AS (
         |  SELECT doc_id, n_chars,
         |    CAST(${bucketSql("doc_id")} AS BIGINT) * 1000000 + doc_id AS skey
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, skey,
         |    CAST(SUM(n_chars) OVER (ORDER BY skey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS token_offset
         |  FROM s)
         |SELECT doc_id, skey, CAST(token_offset // 50000 AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    // kmeans IVF: 3 unrolled Lloyd iterations on the dyadic 1/128 grid
    // (means of dyadic rationals are exact → engine-portable), then the
    // q44 assignment/re-rank skeleton with the learned centroids. Dot
    // products over NON-integer vectors (iterations 2-3, against means)
    // are spelled as explicit left-associated 64-term sums to replicate
    // Spark's sequential `aggregate` fold bit-for-bit; integer-grid dots
    // use list_dot_product (exact under any summation order). Every CTE is
    // MATERIALIZED: DuckDB otherwise inlines the chained iteration CTEs
    // multiplicatively and the planner's expression tree blows past the
    // allocator (measured bad_alloc at sf0.001 on repeat runs).
    "q70_ann_ivf_kmeans" ->
      s"""WITH corpus AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
         |$KmeansAssignedSql,
         |scored AS MATERIALIZED (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${IcosSql("a.qv", "b.qv")} AS cosine
         |  FROM (SELECT * FROM assigned WHERE vec_id < 5) a
         |  JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |SELECT query_id, neighbor_id, rank, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // SemDeDup pairs: the q70 dyadic k-means cells bound the pair space;
    // every within-cell pair is scored with the exact quantized cosine
    // (q30's CosineSql) and thresholded. Planted identical-embedding
    // copies (q30's corpus) guarantee real semantic dups in every cell mix
    "q93_semantic_dedup" ->
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |$KmeansAssignedSql,
         |ok AS (SELECT cell FROM assigned GROUP BY cell HAVING count(*) BETWEEN 2 AND 5000)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, $CosineSql AS cosine
         |  FROM assigned a
         |  JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN ok ON ok.cell = a.cell)
         |WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // w_d = (n_d^(1/t) / Z) · target / n_d at the 1% grid; associativity
    // mirrors the Scala driver expression exactly
    "q94_temperature_weights" ->
      """WITH c AS (SELECT lang AS domain, CAST(count(*) AS DOUBLE) AS n
        |           FROM documents GROUP BY lang),
        |z AS (SELECT sum(pow(n, 2)) AS z FROM c)
        |SELECT domain, round_even(pow(n, 2) / z.z * 1000 / n * 100, 0) / 100 AS weight
        |FROM c, z ORDER BY domain""".stripMargin,

    // sketch-state parity: per-night mergeable sketches (counts/sums added,
    // HLL sketches unioned) must reproduce the exact one-shot aggregation —
    // HLL is exact in coupon mode at this table's ≤20 distinct sources
    "q95_corpus_sketch" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // q97: the bloom index's exact-membership contract IS the oracle — a
    // plain min-per-key left join; shards, bloom bits, generation rows and
    // candidate pruning must all be invisible in the answer
    "q97_bloom_membership" ->
      """WITH corpus AS (
        |  SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 50000, md5(text) FROM documents WHERE doc_id % 9 = 0),
        |kept AS (SELECT key, min(doc_id) AS kept_id FROM corpus GROUP BY key)
        |SELECT b.doc_id, k.kept_id,
        |       CAST(k.kept_id IS NOT NULL AS INT) AS is_dup
        |FROM batch b LEFT JOIN kept k USING (key)
        |ORDER BY doc_id""".stripMargin,

    // q102: the byte-window chunks replayed through hex encoding — byte
    // offset o of the payload is hex offset 2o+1, chunk of 64 bytes is
    // 128 hex chars; start offsets are the stride-48 multiples below the
    // byte length, chunk_no = start / stride
    "q102_media_chunks" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n
        |  FROM documents
        |  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0)
        |SELECT media_id, CAST(u.s / 48 AS INT) AS chunk_no,
        |       substr(h, CAST(u.s * 2 + 1 AS BIGINT), 128) AS chunk_hex,
        |       CAST(length(substr(h, CAST(u.s * 2 + 1 AS BIGINT), 128)) / 2 AS INT)
        |         AS chunk_bytes
        |FROM m, UNNEST(range(0, CAST(n AS BIGINT), 48)) AS u(s)
        |ORDER BY media_id, chunk_no""".stripMargin,

    // q103: byte-identical payload groups — payloads are the docs' utf8
    // bytes, so DuckDB's md5 over the text is md5 over the same bytes
    "q103_media_dup_groups" ->
      s"""WITH all_docs AS ($DupDocsSql)
         |SELECT md5(text) AS payload_md5, min(doc_id) AS canonical_id,
         |       count(*) AS n_copies
         |FROM all_docs WHERE text IS NOT NULL
         |GROUP BY 1 ORDER BY payload_md5""".stripMargin,

    // q101: the same full-outer change audit in plain SQL (null-safe
    // comparison via IS NOT DISTINCT FROM)
    "q101_snapshot_diff" ->
      """WITH before_s AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
        |after_s AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |         lang
        |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id % 3 = 0),
        |diff AS (
        |  SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
        |         CASE WHEN b.doc_id IS NULL THEN 'added'
        |              WHEN a.doc_id IS NULL THEN 'removed'
        |              WHEN NOT (b.text IS NOT DISTINCT FROM a.text)
        |                OR NOT (b.lang IS NOT DISTINCT FROM a.lang)
        |              THEN 'changed' ELSE 'unchanged' END AS change
        |  FROM before_s b FULL OUTER JOIN after_s a ON b.doc_id = a.doc_id)
        |SELECT doc_id, change FROM diff WHERE change <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    // q99: the night-drift report replayed as exact SQL — the corpus is
    // the three nights' union (n2 withholds 'de'), the night under test
    // is n2, and every ratio/status must match the state-only computation
    "q99_night_drift" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, n_chars, (doc_id % 3 = 2) AS in_night
        |  FROM documents WHERE doc_id % 3 <> 2 OR lang <> 'de'),
        |life AS (
        |  SELECT lang, COUNT(*) AS n_life, SUM(n_chars) AS s_life
        |  FROM docs GROUP BY lang),
        |nt AS (
        |  SELECT lang, COUNT(*) AS n_night, SUM(n_chars) AS s_night
        |  FROM docs WHERE in_night GROUP BY lang),
        |tot AS (
        |  SELECT COUNT(*) AS life_total,
        |         COUNT(*) FILTER (WHERE in_night) AS night_total FROM docs),
        |j AS (
        |  SELECT l.lang, n_life, s_life, n_night, s_night,
        |         life_total, night_total
        |  FROM life l LEFT JOIN nt USING (lang) CROSS JOIN tot),
        |m AS (
        |  SELECT lang, 'row_share' AS metric,
        |         CAST(n_night AS DOUBLE) / night_total AS night_value,
        |         CAST(n_life AS DOUBLE) / life_total AS lifetime_value
        |  FROM j
        |  UNION ALL
        |  SELECT lang, 'avg_n_chars' AS metric,
        |         CAST(s_night AS DOUBLE) / n_night,
        |         CAST(s_life AS DOUBLE) / n_life
        |  FROM j)
        |SELECT lang, metric, night_value, lifetime_value,
        |       night_value / lifetime_value AS ratio,
        |       CASE WHEN night_value IS NULL THEN 'MISSING'
        |            WHEN night_value / lifetime_value >= 1.0 / 1.2
        |             AND night_value / lifetime_value <= 1.2 THEN 'OK'
        |            ELSE 'DRIFT' END AS status
        |FROM m ORDER BY metric, lang""".stripMargin,

    // q98: bootstrap + appended generation + takedown — the standing set
    // is both generations MINUS the retracted ids (the stale bloom bits of
    // the retracted keys are the hard case: they verify as candidates and
    // the vacuumed ledger must still answer no)
    "q98_bloom_lifecycle" ->
      """WITH standing AS (
        |  SELECT doc_id, md5(text) AS key FROM documents
        |  WHERE doc_id % 4 IN (0, 1) AND doc_id % 8 <> 0),
        |batch AS (
        |  SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 2 = 0),
        |kept AS (SELECT key, min(doc_id) AS kept_id FROM standing GROUP BY key)
        |SELECT b.doc_id, k.kept_id,
        |       CAST(k.kept_id IS NOT NULL AS INT) AS is_dup
        |FROM batch b LEFT JOIN kept k USING (key)
        |ORDER BY doc_id""".stripMargin,

    // q105: the eval gate's flagged set (q86's detector arithmetic over
    // the raw batches — flagging is per-doc with no df cutoff) filters the
    // batches BEFORE the full two-night near-dup survivor algebra runs,
    // exactly the pipeline's step order (gate before banding)
    "q105_ingest_eval_gate" -> IngestEvalGateSql,

    // q104: standing set after the takedown = gen2 (doc_id%4=1) plus the
    // kept quarter of gen1 (doc_id%16=0); the auto-rebuild is precision
    // maintenance only, so the exact min-per-key algebra is unchanged
    "q104_bloom_auto_rebuild" ->
      """WITH standing AS (
        |  SELECT doc_id, md5(text) AS key FROM documents
        |  WHERE doc_id % 4 = 1 OR doc_id % 16 = 0),
        |batch AS (
        |  SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 2 = 0),
        |kept AS (SELECT key, min(doc_id) AS kept_id FROM standing GROUP BY key)
        |SELECT b.doc_id, k.kept_id,
        |       CAST(k.kept_id IS NOT NULL AS INT) AS is_dup
        |FROM batch b LEFT JOIN kept k USING (key)
        |ORDER BY doc_id""".stripMargin,

    // BM25: whitespace tokens (q33's oracle-parity convention), Lucene
    // non-negative idf, k1=1.2 b=0.75; (rounded score desc, doc_id) is a
    // total order so the LIMIT is deterministic across engines
    "q106_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE len(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY 1),
        |cs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
        |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
        |       WHERE term IN ('spark', 'shuffle', 'broadcast') GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |   SUM( ln((cs.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |        * tf.tf * (1.2 + 1.0)
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / cs.avgdl)) ) AS score
        | FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN cs
        | GROUP BY 1)
        |SELECT doc_id, round(score, 6) AS score FROM sc
        |ORDER BY round(score, 6) DESC, doc_id LIMIT 25""".stripMargin,

    // DSIR importance weights: the shared CTE's per-doc sum, by doc
    "q107_dsir_weights" ->
      s"""$DsirWeightsCte
         |SELECT doc_id, n_grams, round(logw, 6) AS logw FROM sc
         |ORDER BY doc_id""".stripMargin,

    // stratified DSIR selection: top-20 per language by the ROUNDED weight
    // (both engines rank the same 6-dp value; doc_id breaks ties)
    "q108_dsir_select" ->
      s"""$DsirWeightsCte
         |SELECT lang, doc_id, logw FROM (
         |  SELECT lang, doc_id, round(logw, 6) AS logw,
         |         rank() OVER (PARTITION BY lang
         |                      ORDER BY round(logw, 6) DESC, doc_id) AS rk
         |  FROM sc)
         |WHERE rk <= 20
         |ORDER BY lang, logw DESC, doc_id""".stripMargin,

    // hybrid RRF: the q106 BM25 arm and the q31 quantized-cosine arm (one
    // query vector), each ranked by its own total order, fused by
    // SUM 1/(60+rank); ranks are engine-identical because both arms order
    // by exactly-reproducible values
    "q109_hybrid_rrf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         |  FROM documents WHERE len(trim(text)) > 0),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY 1),
         |cs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
         |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
         |       WHERE term IN ('spark', 'shuffle', 'broadcast') GROUP BY 1),
         |bm AS (SELECT tf.doc_id,
         |   SUM( ln((cs.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |        * tf.tf * (1.2 + 1.0)
         |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / cs.avgdl)) ) AS score
         | FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN cs
         | GROUP BY 1),
         |lex AS (SELECT doc_id,
         |          ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
         |        FROM (SELECT doc_id, score FROM bm
         |              ORDER BY round(score, 6) DESC, doc_id LIMIT 20)),
         |v AS (SELECT vec_id, $QuantizeSql AS qv FROM embeddings),
         |dense AS (SELECT doc_id, rank FROM (
         |  SELECT b.vec_id AS doc_id,
         |         ROW_NUMBER() OVER (ORDER BY ${IcosSql("a.qv", "b.qv")} DESC, b.vec_id) AS rank
         |  FROM (SELECT qv FROM v WHERE vec_id = 0) a, v b WHERE b.vec_id <> 0)
         |  WHERE rank <= 20),
         |u AS (SELECT * FROM lex UNION ALL SELECT * FROM dense)
         |SELECT doc_id, round(SUM(1.0 / (60.0 + rank)), 6) AS rrf_score,
         |       CAST(COUNT(*) AS BIGINT) AS n_arms
         |FROM u GROUP BY 1 ORDER BY rrf_score DESC, doc_id LIMIT 15""".stripMargin,

    // bigram-LM cross-entropy, by doc
    "q110_lm_score" ->
      s"""$LmScoreCte
         |SELECT doc_id, n_bigrams, cross_entropy FROM sc
         |ORDER BY doc_id""".stripMargin,

    // CCNet head/middle/tail terciles: exact linear-interpolated cutoffs
    // over the ROUNDED scores (both engines interpolate between the same
    // 6-dp values, and a boundary tie means lower = upper — exact either
    // way), then the per-tier audit aggregates
    "q111_ppl_tiers" ->
      s"""$LmScoreCte,
         |cuts AS (SELECT quantile_cont(cross_entropy, 1.0/3.0) AS t1,
         |                quantile_cont(cross_entropy, 2.0/3.0) AS t2 FROM sc),
         |tiers AS (
         |  SELECT CASE WHEN cross_entropy <= t1 THEN 'head'
         |              WHEN cross_entropy <= t2 THEN 'middle'
         |              ELSE 'tail' END AS tier, cross_entropy
         |  FROM sc CROSS JOIN cuts)
         |SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       round(AVG(cross_entropy), 6) AS avg_ce,
         |       round(MIN(cross_entropy), 6) AS min_ce,
         |       round(MAX(cross_entropy), 6) AS max_ce
         |FROM tiers GROUP BY 1 ORDER BY tier""".stripMargin,

    // LM-gated nightly composition: flagged = docs past the cross-entropy
    // ceiling under the en-trained model; both nights' batches lose their
    // flagged docs BEFORE the survivor algebra (gate-before-banding, the
    // q105 pattern applied to the quality gate)
    "q112_ingest_lm_gate" -> IngestLmGateSql,

    // q113: the seed-supervised NB quality score, every corpus doc
    "q113_nb_quality_score" ->
      s"""$NbScoreCte
         |SELECT doc_id, n_tokens, log_odds FROM sc
         |ORDER BY doc_id""".stripMargin,

    // q114: GPT-3's pareto keep rule, the draw seeded from the doc id's
    // md5 so the kept set is deterministic; `>=` (the discretized draw
    // can be exactly 0) and both comparison sides rounded to 6 dp before
    // comparing (exactly as the Spark side does)
    "q114_nb_pareto_keep" ->
      s"""$NbScoreCte,
         |drawn AS (
         |  SELECT doc_id, log_odds,
         |         round(1.0 / (1.0 + exp(-log_odds)), 6) AS keep_p,
         |         round(pow(1.0 - (${md5DigitSql("doc_id", 1)} * 4096.0
         |                        + ${md5DigitSql("doc_id", 2)} * 256.0
         |                        + ${md5DigitSql("doc_id", 3)} * 16.0
         |                        + ${md5DigitSql("doc_id", 4)}) / 65536.0,
         |                   -1.0 / 9.0) - 1.0, 6) AS noise
         |  FROM sc)
         |SELECT doc_id, log_odds, keep_p, noise FROM drawn
         |WHERE noise >= 1.0 - keep_p ORDER BY doc_id""".stripMargin,

    // compaction parity: the compacted copy must read back exactly as the
    // original table it was built from
    "q69_compaction" ->
      """SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS part, text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // z-order parity: the clustered rewrite must read back exactly as the
    // original table
    "q73_zorder" ->
      "SELECT doc_id, n_chars, text FROM documents ORDER BY doc_id",

    // vocabulary top-k: Text.tokens' convention (trim, split \s+; empty
    // text → no tokens) as unnest(string_split_regex); (n desc, token asc)
    // is a total order, so LIMIT is deterministic
    "q78_vocab_topk" ->
      """SELECT token, n FROM (
        |  SELECT tok AS token, count(*) AS n FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY tok)
        |ORDER BY n DESC, token LIMIT 50""".stripMargin,

    // adjacent-pair frequencies: pairs via a 1-based range lateral over the
    // token list (range(1, len) is empty for 0/1-token docs, matching the
    // Spark side's size>=2 guard)
    "q79_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT pair, n FROM (
        |  SELECT pair, count(*) AS n FROM (
        |    SELECT unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS pair FROM toks)
        |  GROUP BY pair)
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    // overlapping chunk geometry, verbatim integer arithmetic:
    // n_chunks = ceil(max(len-size,0)/stride) + 1, window i at i*stride+1.
    // DuckDB 1.0's range() cannot laterally reference n_chunks (q75's
    // constraint), so the lateral is a fixed range filtered by the count —
    // 64 windows covers documents up to 120+63*80 = 5160 chars (testdata
    // max is 577; the Spark operator itself has no such bound)
    "q80_doc_chunks" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    CAST(floor((greatest(length(text) - 120, 0) + 79) / 80) AS BIGINT) + 1 AS n_chunks
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
        |  CAST(i * 80 + 1 AS INTEGER) AS chunk_start,
        |  substr(text, CAST(i * 80 + 1 AS INTEGER), 120) AS chunk_text
        |FROM g, range(0, 64) AS r(i) WHERE i < n_chunks
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // vocabulary coverage: top-20 instance coverage off one counts CTE
    "q81_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT tok AS token, count(*) AS n FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |top AS (SELECT token FROM counts ORDER BY n DESC, token LIMIT 20)
        |SELECT 20 AS vocab_size,
        |  CAST(SUM(CASE WHEN token IN (SELECT token FROM top) THEN n END) AS BIGINT) AS covered,
        |  CAST(SUM(n) AS BIGINT) AS total,
        |  CAST(SUM(CASE WHEN token IN (SELECT token FROM top) THEN n END) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE) AS coverage
        |FROM counts""".stripMargin,

    // PQ probe with an all-covering exact re-rank ≡ brute force: the codes
    // and codebooks must be invisible in the result (q31's oracle verbatim)
    "q82_ann_pq" -> BruteTopKSql,

    // IVF×PQ with nprobe = all cells + all-covering re-rank ≡ brute force
    "q83_ann_ivfpq" -> BruteTopKSql,

    // maintenance must be invisible in the exact path: a re-split index
    // (q87) and a retrained-subspace index (q88) still collapse to brute
    // force under all-covering probes
    "q87_ivfpq_resplit" -> BruteTopKSql,
    "q88_pq_retrain" -> BruteTopKSql,
    // q89: the nightly-built composed index probed all-covering equals
    // brute force over the two nights' SURVIVORS (the full pipeline
    // algebra + exact top-k in one oracle)
    "q89_ingest_ivfpq" -> IngestIvfPqSql,
    "q90_retract_readmit" -> IngestRetractSql,

    // the Quality sheet: q64's verdict battery grouped by reason with an
    // instance share; (n_docs desc, reason asc) is a total order
    "q84_curation_quality" ->
      """WITH docs2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || chr(10) || 'repeat me' || chr(10) || 'repeat me'
        |      ELSE text END AS text
        |  FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS awl,
        |    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        |      / greatest(len(lines), 1) AS dup_line_frac,
        |    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
        |      / greatest(len(toks), 1) AS dup_token_ratio
        |  FROM (SELECT doc_id, text,
        |      list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |        x -> x <> '') AS lines,
        |      string_split_regex(trim(text), '\s+') AS toks
        |    FROM docs2)),
        |verdict AS (
        |  SELECT CASE WHEN n_tokens < 30 THEN 'too_few_tokens'
        |              WHEN n_tokens > 100000 THEN 'too_many_tokens'
        |              WHEN awl < 3.8 OR awl > 10.0 THEN 'word_length'
        |              WHEN dup_line_frac > 0.2 THEN 'dup_lines'
        |              WHEN dup_token_ratio > 0.6 THEN 'dup_tokens'
        |              ELSE 'keep' END AS reason
        |  FROM sig)
        |SELECT reason, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE), 4) AS share
        |FROM (SELECT reason, count(*) AS n_docs,
        |        sum(count(*)) OVER () AS total
        |      FROM verdict GROUP BY reason)
        |ORDER BY n_docs DESC, reason""".stripMargin,

    // the training-set build: q64's verdict battery filters, q75's epoch
    // algebra mixes (de 250 / en 50 / default 100 integer percent), the
    // q77 block-shuffle keys (doc_id·100+epoch), and q76's naive global
    // cumsum packs — the engine's two-phase distributed form must match
    // the single-window SQL bit for bit
    "q85_training_set" ->
      s"""WITH sig AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS awl,
         |    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
         |      / greatest(len(lines), 1) AS dup_line_frac,
         |    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
         |      / greatest(len(toks), 1) AS dup_token_ratio
         |  FROM (SELECT doc_id, lang, n_chars, text,
         |      list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
         |        x -> x <> '') AS lines,
         |      string_split_regex(trim(text), '\\s+') AS toks
         |    FROM documents)),
         |kept AS (
         |  SELECT doc_id, lang, n_chars FROM sig
         |  WHERE NOT (n_tokens < 30 OR n_tokens > 100000
         |    OR awl < 3.8 OR awl > 10.0
         |    OR dup_line_frac > 0.2 OR dup_token_ratio > 0.6)),
         |w AS (
         |  SELECT doc_id, lang, n_chars,
         |    CASE WHEN lang = 'de' THEN 250 WHEN lang = 'en' THEN 50 ELSE 100 END AS pct,
         |    ${bucketSql("doc_id")} AS bucket
         |  FROM kept),
         |c AS (
         |  SELECT doc_id, n_chars,
         |    pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS copies
         |  FROM w),
         |m AS (
         |  SELECT doc_id, n_chars, CAST(t.e AS INTEGER) AS epoch
         |  FROM c, range(0, 100) AS t(e) WHERE t.e < c.copies),
         |k AS (
         |  SELECT doc_id, epoch, n_chars,
         |    CAST(${bucketSql("doc_id * 100 + epoch")} AS BIGINT) * 1000000
         |      + (doc_id * 100 + epoch) AS pack_key
         |  FROM m),
         |p AS (
         |  SELECT doc_id, epoch, pack_key, n_chars,
         |    CAST(SUM(n_chars) OVER (ORDER BY pack_key ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS BIGINT) AS token_offset
         |  FROM k)
         |SELECT doc_id, epoch, pack_key, n_chars, token_offset,
         |  CAST(token_offset // 50000 AS BIGINT) AS shard
         |FROM p ORDER BY doc_id, epoch""".stripMargin,

    // q60's detector wrapped as removal: corpus minus docs whose
    // containment of any probe reaches 0.6 with >= 5 shared rare shingles
    "q86_decontaminate" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |$ShinglesSql,
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
         |csh AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |probe AS (SELECT doc_id + 20000 AS probe_id, substr(text, 1, 200) AS text
         |          FROM documents WHERE doc_id % 13 = 0),
         |ptoks AS (SELECT probe_id, string_split_regex(trim(text), '\\s+') AS t FROM probe),
         |psh AS (SELECT DISTINCT probe_id, u.shingle
         |        FROM ptoks, unnest(list_transform(range(0, greatest(len(t) - 3, 0) + 1),
         |          i -> array_to_string(t[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))) u(shingle)),
         |sizes AS (SELECT probe_id, count(*) AS n_probe_sh FROM psh GROUP BY 1),
         |common AS (SELECT c.doc_id, p.probe_id, count(*) AS n_common
         |           FROM csh c JOIN psh p USING (shingle) GROUP BY 1, 2),
         |flagged AS (
         |  SELECT DISTINCT doc_id
         |  FROM common JOIN sizes USING (probe_id)
         |  WHERE n_common >= 5
         |    AND CAST(n_common AS DOUBLE) / CAST(n_probe_sh AS DOUBLE) >= 0.6)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
         |ORDER BY doc_id""".stripMargin,

    // duplicated 8-token spans: windows via list slicing (t[i:i+7] is
    // 8 tokens, DuckDB slices inclusively), grouped on the gram string
    "q91_dup_grams" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i FROM toks),
        |grams AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram FROM pos)
        |SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM grams GROUP BY gram HAVING count(*) >= 2
        |ORDER BY gram""".stripMargin,

    // exact-substring removal, relationally: rn = 1 over (doc_id, i) is
    // the keeper; covered token positions anti-join the token rows; the
    // ordered string_agg rebuilds exactly the HOF filter's concat_ws
    "q92_dedup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, t,
        |    unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i FROM toks),
        |grams AS (SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS gram FROM pos),
        |marked AS (SELECT doc_id, i,
        |    count(*) OVER (PARTITION BY gram) AS n,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
        |  FROM grams),
        |cuts AS (SELECT doc_id, i FROM marked WHERE n >= 2 AND rn > 1),
        |covered AS (SELECT DISTINCT c.doc_id, c.i + d.j AS j
        |            FROM cuts c, range(0, 8) AS d(j)),
        |tok_rows AS (SELECT doc_id, unnest(t) AS tok,
        |    unnest(generate_series(1, len(t))) AS j FROM toks),
        |kept AS (SELECT tr.doc_id, tr.j, tr.tok FROM tok_rows tr
        |  ANTI JOIN covered c ON tr.doc_id = c.doc_id AND tr.j = c.j),
        |rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS s,
        |    count(*) AS kept_n FROM kept GROUP BY doc_id),
        |cut_docs AS (SELECT DISTINCT doc_id FROM cuts)
        |SELECT t.doc_id,
        |  CASE WHEN cd.doc_id IS NULL THEN t.text
        |       ELSE coalesce(r.s, '') END AS clean_text,
        |  CAST(CASE WHEN cd.doc_id IS NULL THEN 0
        |       ELSE len(t.t) - coalesce(r.kept_n, 0) END AS BIGINT) AS removed_tokens
        |FROM toks t
        |LEFT JOIN cut_docs cd USING (doc_id)
        |LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin)

  // -------------------------------------------- shared oracle SQL fragments

  /** md5 hash bucket 0..99 of an expression — the q50 formula, reusable. */
  private def bucketSql(e: String): String =
    s"((strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), 1, 1)) - 1) * 16" +
      s" + (strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), 2, 1)) - 1)) % 100"

  /** DSIR gram bucket 0..8191 — the q50 hex-digit formula widened to the
    * first 4 md5 hex chars (Dsir.bucketOf's portable path). */
  private def dsirBucketSql(e: String): String = {
    val digits = (1 to 4).map { i =>
      val w = math.pow(16, 4 - i).toLong
      s"(strpos('0123456789abcdef', substr(md5($e), $i, 1)) - 1) * $w"
    }
    s"(${digits.mkString(" + ")}) % 8192"
  }

  /** Shared bigram-LM CTE chain ending in `sc(doc_id, n_bigrams,
    * cross_entropy)`: whitespace-token transitions, add-0.5-smoothed
    * bigram conditional trained on the English slice
    * (p = (c12+0.5)/(c1+0.5*V), c1 = SUM c12 so the conditional
    * normalizes; unseen context scores 1/V) — NgramLm.crossEntropy's
    * exact algebra. Bigrams via list_zip of the one-shorter list slices,
    * matching zip_with's convention. */
  private def lmScoreFragments(p: String): String =
    s"""${p}tox AS (
       |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS lmtoks
       |  FROM documents WHERE len(trim(text)) > 0),
       |${p}pairs AS (
       |  SELECT doc_id, lang, z[1] AS w1, z[2] AS w2 FROM (
       |    SELECT doc_id, lang,
       |           unnest(list_zip(lmtoks[1:len(lmtoks)-1], lmtoks[2:len(lmtoks)])) AS z
       |    FROM ${p}tox WHERE len(lmtoks) >= 2)),
       |${p}c12 AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c12
       |        FROM ${p}pairs WHERE lang = 'en' GROUP BY 1, 2),
       |${p}c1 AS (SELECT w1, SUM(c12) AS c1 FROM ${p}c12 GROUP BY 1),
       |${p}vv AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v
       |       FROM (SELECT unnest(lmtoks) AS t FROM ${p}tox WHERE lang = 'en')),
       |${p}logp AS (
       |  SELECT pr.doc_id,
       |         ln((coalesce(bg.c12, 0) + 0.5) /
       |            (coalesce(cx.c1, 0) + 0.5 * ${p}vv.v)) AS lp
       |  FROM ${p}pairs pr LEFT JOIN ${p}c1 cx USING (w1)
       |       LEFT JOIN ${p}c12 bg USING (w1, w2) CROSS JOIN ${p}vv),
       |${p}sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |              round(-AVG(lp), 6) AS cross_entropy
       |       FROM ${p}logp GROUP BY 1)""".stripMargin

  private lazy val LmScoreCte: String = "WITH " + lmScoreFragments("")

  /** md5 hex digit i (1-based) of an expression as 0..15 — the q50/q107
    * portable-hash digit, shared by the q114 uniform draw. */
  private def md5DigitSql(e: String, i: Int): String =
    s"(strpos('0123456789abcdef', substr(md5(CAST($e AS VARCHAR)), $i, 1)) - 1)"

  /** Shared Naive-Bayes classifier CTE chain ending in `sc(doc_id,
    * n_tokens, log_odds)`: whitespace tokens, add-0.5-smoothed multinomial
    * NB trained on the src0-4 (positive) vs src15-19 (negative) seed
    * split over the JOINT seed vocabulary, class prior from seed doc
    * counts — NbClassifier.logOdds' exact algebra. */
  private val NbScoreCte: String =
    s"""WITH seeds AS (
       |  SELECT doc_id, text,
       |         CASE WHEN source IN ('src0','src1','src2','src3','src4')
       |              THEN 1 ELSE 0 END AS p
       |  FROM documents
       |  WHERE source IN ('src0','src1','src2','src3','src4',
       |                   'src15','src16','src17','src18','src19')),
       |stok AS (
       |  SELECT p, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM seeds WHERE len(trim(text)) > 0),
       |cnt AS (SELECT token, CAST(SUM(p) AS DOUBLE) AS c_pos,
       |               CAST(SUM(1 - p) AS DOUBLE) AS c_neg
       |        FROM stok GROUP BY 1),
       |tot AS (SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg,
       |               CAST(COUNT(*) AS DOUBLE) AS v FROM cnt),
       |nd AS (SELECT CAST(SUM(p) AS DOUBLE) AS n_pos,
       |              CAST(SUM(1 - p) AS DOUBLE) AS n_neg FROM seeds),
       |ctok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
       |  FROM documents WHERE len(trim(text)) > 0),
       |lr AS (
       |  SELECT ct.doc_id,
       |         ln((coalesce(c.c_pos, 0) + 0.5) / (t.t_pos + 0.5 * t.v))
       |       - ln((coalesce(c.c_neg, 0) + 0.5) / (t.t_neg + 0.5 * t.v)) AS lr
       |  FROM ctok ct LEFT JOIN cnt c USING (token) CROSS JOIN tot t),
       |sc AS (
       |  SELECT lr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         round(ln(nd.n_pos / nd.n_neg) + SUM(lr.lr), 6) AS log_odds
       |  FROM lr CROSS JOIN nd GROUP BY lr.doc_id, nd.n_pos, nd.n_neg)""".stripMargin

  /** Shared DSIR CTE chain ending in `sc(doc_id, lang, n_grams, logw)`:
    * whitespace unigrams+bigrams, md5-hashed into 8192 buckets, add-0.5
    * smoothed log ratio of the English-slice model vs the whole corpus —
    * Dsir.importanceWeights' exact algebra (q107 reads it per-doc, q108
    * ranks it per language). Bigrams via lead() over the positional
    * unnest; lead's trailing NULL is filtered, matching zip_with's
    * one-shorter slice. */
  private val DsirWeightsCte: String =
    s"""WITH toksarr AS (
       |  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS arr
       |  FROM documents WHERE len(trim(text)) > 0),
       |pos AS (
       |  SELECT doc_id, lang, unnest(arr) AS term,
       |         unnest(range(1, len(arr) + 1)) AS pos
       |  FROM toksarr),
       |grams AS (
       |  SELECT doc_id, lang, term AS gram FROM pos
       |  UNION ALL
       |  SELECT doc_id, lang, gram FROM (
       |    SELECT doc_id, lang,
       |           term || ' ' || lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
       |    FROM pos)
       |  WHERE gram IS NOT NULL),
       |hashed AS (
       |  SELECT doc_id, lang, CAST(${dsirBucketSql("gram")} AS BIGINT) AS bucket
       |  FROM grams),
       |tgt AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM hashed
       |        WHERE lang = 'en' GROUP BY 1),
       |rawh AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS c FROM hashed GROUP BY 1),
       |tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM tgt) AS tt,
       |               (SELECT COALESCE(SUM(c), 0) FROM rawh) AS tr),
       |lr AS (
       |  SELECT rawh.bucket,
       |         ln((COALESCE(tgt.c, 0) + 0.5) / (tot.tt + 0.5 * 8192))
       |       - ln((rawh.c + 0.5) / (tot.tr + 0.5 * 8192)) AS logratio
       |  FROM rawh LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
       |sc AS (
       |  SELECT h.doc_id, h.lang, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |         SUM(lr.logratio) AS logw
       |  FROM hashed h JOIN lr USING (bucket) GROUP BY 1, 2)""".stripMargin

  /** Working-days closed form between the fixed period start (Monday
    * 2024-01-01) and ts — same formula as the q14 oracle. */
  private val WdSql =
    """CAST(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-01' THEN 0 ELSE
      | (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1) // 7 * 5
      | + (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1) % 7
      | - CASE WHEN (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1) % 7 > (6 - isodow(DATE '2024-01-01') + 7) % 7 THEN 1 ELSE 0 END
      | - CASE WHEN (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1) % 7 > (7 - isodow(DATE '2024-01-01') + 7) % 7 THEN 1 ELSE 0 END
      |END AS BIGINT)""".stripMargin

  /** The claims detail report (q47 pipeline) as a reusable DuckDB query —
    * no final ORDER BY so it can be wrapped as a CTE (q54 DQ suite). */
  private lazy val ClaimsReportSql =
    s"""WITH latest AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
       |                                 ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
       |  WHERE rn = 1),
       |intervals AS (
       |  SELECT *, CAST(ts AS TIMESTAMP) AS eff_dt,
       |    CAST(COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - INTERVAL 1 MINUTE,
       |             TIMESTAMP '9999-12-31 00:00:00') AS TIMESTAMP) AS exp_dt
       |  FROM latest),
       |valid AS (
       |  SELECT * FROM intervals
       |  WHERE TIMESTAMP '2024-01-20 00:00:00' >= eff_dt
       |    AND TIMESTAMP '2024-01-20 00:00:00' < exp_dt),
       |ranked AS (
       |  SELECT *,
       |    MIN(ts) OVER (PARTITION BY user_id) AS first_decision_ts,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS decision_rank
       |  FROM valid)
       |SELECT user_id AS "Claimant Id",
       |  event_id AS "Request Id",
       |  event_type AS "Request Type",
       |  strftime(CAST(first_decision_ts AS TIMESTAMP), '%m/%d/%Y') AS "First Decision Date",
       |  $WdSql AS "Working Days To Decision",
       |  CAST(CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) <= 14 THEN 1 ELSE 0 END AS BIGINT) AS "Resolved Within Two Weeks",
       |  CASE WHEN value > 0 THEN value - 1 ELSE 0.0 END AS "Clamped Value"
       |FROM ranked WHERE decision_rank = 1""".stripMargin

  /** LSH bucket-size cap shared by the Scala calls (q27/q30/q49) and their
    * oracle SQL strings — a single constant so the cap can't drift between
    * engine and oracle. */
  private val LshMaxBucket = 200

  /** q113/q114 classifier seed split: curated-vs-raw stand-ins over the
    * fixture's `source` buckets (the GPT-3 recipe trains curated corpora
    * against a crawl sample). */
  private val NbPosSeeds = Seq("src0", "src1", "src2", "src3", "src4")
  private val NbNegSeeds = Seq("src15", "src16", "src17", "src18", "src19")

  /** documents ∪ exact copies (mirrors docsWithDupes). */
  private val DupDocsSql =
    "SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0"

  /** documents ∪ perturbed copies (mirrors docsWithNearDupes). */
  private val NearDupDocsSql =
    "SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text || ' zzz extra tail' FROM documents WHERE doc_id % 7 = 0"

  /** Distinct word 3-shingles per doc (mirrors Dedup.wordShingles k=3). */
  private val ShinglesSql =
    """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
      |sh AS (SELECT DISTINCT doc_id, u.shingle
      |       FROM toks, unnest(list_transform(range(0, greatest(len(t) - 3, 0) + 1),
      |         i -> array_to_string(t[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))) u(shingle))""".stripMargin

  /** Probe parity (q68/q71): the batch-vs-corpus CROSS subset of the
    * full-recompute pair set (corpus ids < 10000, batch ids >= 10000)
    * under the SAME combined bucket cap — exactly what probeBandedPairs
    * computes, whether the index side is in-memory or persisted. */
  private lazy val ProbeCrossPairsSql: String = {
    val mins = (0 until 8).map(s => s"min(md5('$s ' || shingle)) AS mh$s").mkString(", ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || '|' || mh${2 * b + 1} AS bucket FROM sig")
      .mkString("\n UNION ALL ")
    s"""WITH corpus AS ($NearDupDocsSql),
       |$ShinglesSql,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |banded AS (
       | $bands),
       |ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM banded a
       |JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
       |WHERE a.doc_id < 10000 AND b.doc_id >= 10000
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The two-night ingest survivor algebra as a WITH-clause prefix (CTEs
    * `b1`/`b2` from the given subqueries through `s1`/`s2`): night 1 drops
    * the greater id of every capped intra-batch pair; night 2 drops batch
    * docs pairing with the standing index (= night-1 survivors' banded
    * rows, combined-count cap) or with a batch-mate — exactly
    * IngestPipeline.runNight's algebra. `retractSql` (ids to take down
    * BETWEEN the nights) removes those docs from the standing index night
    * 2 probes against — IngestPipeline.retract's semantics. Shared by
    * q74, q89 and q90. */
  private def ingestSurvivorsCte(b1Sql: String, b2Sql: String,
      retractSql: Option[String] = None,
      prelude: Option[String] = None): String = {
    val mins = (0 until 8).map(s => s"min(md5('$s ' || shingle)) AS mh$s").mkString(", ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || '|' || mh${2 * b + 1} AS bucket FROM sig")
      .mkString("\n UNION ALL ")
    val retrCte = retractSql
      .map(r => s"retr AS (\n  $r),\n").getOrElse("")
    val idxFilter = retractSql
      .map(_ => "\n  WHERE bd.doc_id NOT IN (SELECT doc_id FROM retr)")
      .getOrElse("")
    // prelude CTEs (e.g. the eval gate's flagged set) splice in BEFORE b1
    // so the batch SQLs can reference them — names must avoid the
    // algebra's own (corpus/toks/sh/sig/banded/bn*/ok*/drop*/s*/idx)
    val pre = prelude.map(p => s"$p,\n").getOrElse("")
    s"""WITH ${pre}b1 AS (
       |  $b1Sql),
       |b2 AS (
       |  $b2Sql),
       |corpus AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
       |$ShinglesSql,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |banded AS (
       | $bands),
       |bn1 AS (SELECT bd.* FROM banded bd JOIN b1 ON bd.doc_id = b1.doc_id),
       |ok1 AS (SELECT band, bucket FROM bn1 GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
       |drop1 AS (SELECT DISTINCT b.doc_id
       |  FROM bn1 a JOIN bn1 b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  JOIN ok1 ON ok1.band = a.band AND ok1.bucket = a.bucket),
       |s1 AS (SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM drop1)),
       |${retrCte}idx AS (SELECT bd.* FROM banded bd JOIN s1 ON bd.doc_id = s1.doc_id$idxFilter),
       |bn2 AS (SELECT bd.* FROM banded bd JOIN b2 ON bd.doc_id = b2.doc_id),
       |ok2 AS (SELECT band, bucket FROM (SELECT * FROM idx UNION ALL SELECT * FROM bn2)
       |  GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
       |drop2x AS (SELECT DISTINCT b.doc_id
       |  FROM idx a JOIN bn2 b ON a.band = b.band AND a.bucket = b.bucket
       |  JOIN ok2 ON ok2.band = a.band AND ok2.bucket = a.bucket),
       |ok2i AS (SELECT band, bucket FROM bn2 GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
       |drop2i AS (SELECT DISTINCT b.doc_id
       |  FROM bn2 a JOIN bn2 b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  JOIN ok2i ON ok2i.band = a.band AND ok2i.bucket = a.bucket),
       |s2 AS (SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM drop2x)
       |  AND doc_id NOT IN (SELECT doc_id FROM drop2i))""".stripMargin
  }

  /** Drop-ledger parity (q96): from the same survivor-algebra CTEs, the
    * per-dropped-doc audit rows — n1 intra pairs, n2 corpus pairs (idx ×
    * bn2) and n2 intra pairs — ranked per dropped doc with corpus_dup
    * outranking intra_dup and ties to the smallest kept id, exactly the
    * engine ledger's window. */
  private lazy val IngestLedgerSql: String =
    ingestSurvivorsCte(
      """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' zzz extra tail' FROM documents WHERE doc_id % 9 = 0""".stripMargin,
      """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' zzz extra tail' FROM documents WHERE doc_id % 6 = 0""".stripMargin) +
    s""",
       |raw AS (
       |  SELECT b.doc_id AS doc_id, a.doc_id AS kept_id,
       |         'intra_dup' AS reason, 'n1' AS load_date
       |  FROM bn1 a JOIN bn1 b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  JOIN ok1 ON ok1.band = a.band AND ok1.bucket = a.bucket
       |  UNION ALL
       |  SELECT b.doc_id, a.doc_id, 'corpus_dup', 'n2'
       |  FROM idx a JOIN bn2 b ON a.band = b.band AND a.bucket = b.bucket
       |  JOIN ok2 ON ok2.band = a.band AND ok2.bucket = a.bucket
       |  UNION ALL
       |  SELECT b.doc_id, a.doc_id, 'intra_dup', 'n2'
       |  FROM bn2 a JOIN bn2 b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  JOIN ok2i ON ok2i.band = a.band AND ok2i.bucket = a.bucket)
       |SELECT doc_id, kept_id, reason, load_date FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY load_date, doc_id
       |    ORDER BY CASE reason WHEN 'corpus_dup' THEN 0 ELSE 1 END, kept_id) AS rn
       |  FROM raw)
       |WHERE rn = 1 ORDER BY load_date, doc_id""".stripMargin

  /** Two-night ingest parity (q74): the landed corpus is each night's
    * survivor set under its `load_date`. */
  /** Gated-ingest parity (q100): the two-night survivor algebra with the
    * bloom exact gate applied BEFORE banding — night-1 intra-exact
    * keep-min, night-2 exact drops against the keys of night-1's LANDED
    * survivors, then the usual banded near-dup algebra over the GATED
    * batches (the bucket counts the cap sees are post-gate). */
  private lazy val IngestBloomGatedSql: String = {
    val mins = (0 until 8).map(s => s"min(md5('$s ' || shingle)) AS mh$s").mkString(", ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh${2 * b} || '|' || mh${2 * b + 1} AS bucket FROM sig")
      .mkString("\n UNION ALL ")
    s"""WITH b1r AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 9 = 0),
       |b2r AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 6 = 0
       |  UNION ALL
       |  SELECT doc_id + 40000, text || ' zzz extra tail' FROM documents WHERE doc_id % 15 = 0),
       |b1 AS (SELECT doc_id, text FROM b1r WHERE doc_id IN (
       |  SELECT min(doc_id) FROM b1r GROUP BY md5(text))),
       |b2i AS (SELECT doc_id, text FROM b2r WHERE doc_id IN (
       |  SELECT min(doc_id) FROM b2r GROUP BY md5(text))),
       |corpus AS (SELECT * FROM b1r UNION ALL SELECT * FROM b2r),
       |$ShinglesSql,
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |banded AS (
       | $bands),
       |bn1 AS (SELECT bd.* FROM banded bd JOIN b1 ON bd.doc_id = b1.doc_id),
       |ok1 AS (SELECT band, bucket FROM bn1 GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
       |drop1 AS (SELECT DISTINCT b.doc_id
       |  FROM bn1 a JOIN bn1 b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  JOIN ok1 ON ok1.band = a.band AND ok1.bucket = a.bucket),
       |s1 AS (SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM drop1)),
       |ledger AS (SELECT DISTINCT md5(b1.text) AS key
       |  FROM b1 JOIN s1 ON s1.doc_id = b1.doc_id),
       |b2 AS (SELECT b2i.* FROM b2i
       |  WHERE md5(text) NOT IN (SELECT key FROM ledger)),
       |idx AS (SELECT bd.* FROM banded bd JOIN s1 ON bd.doc_id = s1.doc_id),
       |bn2 AS (SELECT bd.* FROM banded bd JOIN b2 ON bd.doc_id = b2.doc_id),
       |ok2 AS (SELECT band, bucket FROM (SELECT * FROM idx UNION ALL SELECT * FROM bn2)
       |  GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
       |drop2x AS (SELECT DISTINCT b.doc_id
       |  FROM idx a JOIN bn2 b ON a.band = b.band AND a.bucket = b.bucket
       |  JOIN ok2 ON ok2.band = a.band AND ok2.bucket = a.bucket),
       |ok2i AS (SELECT band, bucket FROM bn2 GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND $LshMaxBucket),
       |drop2i AS (SELECT DISTINCT b.doc_id
       |  FROM bn2 a JOIN bn2 b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  JOIN ok2i ON ok2i.band = a.band AND ok2i.bucket = a.bucket),
       |s2 AS (SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM drop2x)
       |  AND doc_id NOT IN (SELECT doc_id FROM drop2i))
       |SELECT doc_id, 'n1' AS load_date FROM s1
       |UNION ALL SELECT doc_id, 'n2' AS load_date FROM s2
       |ORDER BY doc_id""".stripMargin
  }

  private lazy val IngestTwoNightsSql: String =
    ingestSurvivorsCte(
      """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' zzz extra tail' FROM documents WHERE doc_id % 9 = 0""".stripMargin,
      """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' zzz extra tail' FROM documents WHERE doc_id % 6 = 0""".stripMargin) +
    s"""
       |SELECT doc_id, 'n1' AS load_date FROM s1
       |UNION ALL SELECT doc_id, 'n2' AS load_date FROM s2
       |ORDER BY doc_id""".stripMargin

  /** Eval-gate nightly composition (q105): the contamination-flagged docs
    * (3-shingle containment ≥ 0.6 with ≥ 5 shared shingles against the
    * staged eval set — q86's detector arithmetic, per-doc because no df
    * cutoff applies) are removed from the batches FIRST, then the full
    * two-night near-dup survivor algebra runs over the gated batches —
    * the pipeline's exact step order. */
  private lazy val IngestEvalGateSql: String =
    ingestSurvivorsCte(
      "SELECT doc_id, text FROM raw1 WHERE doc_id NOT IN (SELECT doc_id FROM flagged)",
      "SELECT doc_id, text FROM raw2 WHERE doc_id NOT IN (SELECT doc_id FROM flagged)",
      prelude = Some(
        """raw1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
          |raw2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
          |rawall AS (SELECT * FROM raw1 UNION ALL SELECT * FROM raw2),
          |btoks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM rawall),
          |bsh AS (SELECT DISTINCT doc_id, u.shingle
          |        FROM btoks, unnest(list_transform(range(0, greatest(len(t) - 3, 0) + 1),
          |          i -> array_to_string(t[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))) u(shingle)),
          |eset AS (SELECT doc_id + 20000 AS probe_id, substr(text, 1, 200) AS text
          |         FROM documents WHERE doc_id % 13 = 0),
          |ptoks AS (SELECT probe_id, string_split_regex(trim(text), '\s+') AS t FROM eset),
          |psh AS (SELECT DISTINCT probe_id, u.shingle
          |        FROM ptoks, unnest(list_transform(range(0, greatest(len(t) - 3, 0) + 1),
          |          i -> array_to_string(t[CAST(i + 1 AS INTEGER):CAST(i + 3 AS INTEGER)], ' '))) u(shingle)),
          |psizes AS (SELECT probe_id, count(*) AS n_probe_sh FROM psh GROUP BY 1),
          |pcommon AS (SELECT b.doc_id, p.probe_id, count(*) AS n_common
          |            FROM bsh b JOIN psh p USING (shingle) GROUP BY 1, 2),
          |flagged AS (
          |  SELECT DISTINCT doc_id
          |  FROM pcommon JOIN psizes USING (probe_id)
          |  WHERE n_common >= 5
          |    AND CAST(n_common AS DOUBLE) / CAST(n_probe_sh AS DOUBLE) >= 0.6)""".stripMargin)) +
    s"""
       |SELECT doc_id, 'n1' AS load_date FROM s1
       |UNION ALL SELECT doc_id, 'n2' AS load_date FROM s2
       |ORDER BY doc_id""".stripMargin

  /** LM-gate parity (q112): survivors of the two-night composition where
    * each batch first loses its docs whose bigram cross-entropy under the
    * English-slice model exceeds the ceiling — the engine gates before
    * banding, so the algebra runs over the gated batches. */
  private lazy val IngestLmGateSql: String =
    ingestSurvivorsCte(
      "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)",
      "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1 AND doc_id NOT IN (SELECT doc_id FROM flagged)",
      prelude = Some(lmScoreFragments("lm") +
        ",\nflagged AS (SELECT doc_id FROM lmsc WHERE cross_entropy > 3.43)")) +
    s"""
       |SELECT doc_id, 'n1' AS load_date FROM s1
       |UNION ALL SELECT doc_id, 'n2' AS load_date FROM s2
       |ORDER BY doc_id""".stripMargin

  /** Composed-index nightly composition (q89): the survivor algebra over
    * embedded docs, then exact brute-force top-10 over the SURVIVORS'
    * embeddings — what an all-cells IVFPQ probe with all-covering exact
    * re-rank against the landed corpus must collapse to. */
  private lazy val IngestIvfPqSql: String =
    ingestSurvivorsCte(
      "SELECT d.doc_id, d.text FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id WHERE d.doc_id % 3 = 0",
      "SELECT d.doc_id, d.text FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id WHERE d.doc_id % 3 = 1") +
    s""",
       |surv AS (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2),
       |v AS (SELECT e.vec_id, $QuantizeSql AS qv FROM embeddings e JOIN surv ON surv.doc_id = e.vec_id),
       |q AS (SELECT vec_id, $QuantizeSql AS qv FROM embeddings WHERE vec_id < 5),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $CosineSql AS cosine
       |  FROM q a, v b WHERE a.vec_id <> b.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Retraction parity (q90): the takedown between the nights removes the
    * retracted docs from the landed corpus (final SELECT) AND from the
    * standing index night 2 probes against (the CTE's `retr` exclusion) —
    * so identical re-submitted content re-admits. */
  private lazy val IngestRetractSql: String =
    ingestSurvivorsCte(
      "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0",
      """SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 30000, text FROM documents WHERE doc_id % 9 = 0""".stripMargin,
      retractSql = Some("SELECT doc_id FROM s1 WHERE doc_id % 9 = 0")) +
    s"""
       |SELECT doc_id, 'n1' AS load_date FROM s1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM retr)
       |UNION ALL SELECT doc_id, 'n2' AS load_date FROM s2
       |ORDER BY doc_id""".stripMargin

  /** floor(x*1e7) long quantization (mirrors Vectors.quantize). */
  private val QuantizeSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e7) AS BIGINT))"

  /** Integer-grid cosine (exact under any summation order). */
  private def IcosSql(x: String, y: String): String =
    s"list_dot_product($x, $y)/sqrt(list_dot_product($x,$x)*list_dot_product($y,$y))"

  /** Dyadic-grid k-means (8 cells, 3 unrolled Lloyd iterations) + exact
    * quantized nearest-cell assignment, as WITH-fragments over a
    * `corpus(vec_id, embedding)` CTE — shared by q70 and q93. The input
    * snaps to a 1/128 grid so every distributed mean is an exact double
    * (sums of dyadic rationals are exact and order-independent) —
    * bit-identical across partition orders and engines; dot products
    * against non-integer means (iterations 2-3) are spelled as explicit
    * left-associated 64-term sums to replicate Spark's sequential
    * `aggregate` fold bit-for-bit, while integer-grid dots use
    * list_dot_product. Every CTE is MATERIALIZED: DuckDB otherwise
    * inlines the chained iteration CTEs multiplicatively and the
    * planner's expression tree blows past the allocator (measured
    * bad_alloc at sf0.001 on repeat runs). */
  private lazy val KmeansAssignedSql: String = {
    val D = 64
    def udot(x: String, y: String) =
      (1 to D).map(i => s"$x[$i]*$y[$i]").mkString(" + ")
    def iteration(i: Int): String = {
      val cos = s"(${udot("vn.kv", "c.cv")}) / sqrt(vn.n2 * (${udot("c.cv", "c.cv")}))"
      val means = (1 to D).map(j => s"avg(kv[$j])").mkString(", ")
      s"""a$i AS MATERIALIZED (SELECT vec_id, kv, cell FROM (
         |   SELECT vn.vec_id, vn.kv, c.cent_id AS cell,
         |     ROW_NUMBER() OVER (PARTITION BY vn.vec_id ORDER BY $cos DESC NULLS LAST, c.cent_id) AS rn
         |   FROM vn, c${i - 1} c) WHERE rn = 1),
         |m$i AS MATERIALIZED (SELECT cell, [$means] AS cv FROM a$i GROUP BY cell),
         |c$i AS MATERIALIZED (SELECT c.cent_id, COALESCE(m.cv, c.cv) AS cv FROM c${i - 1} c LEFT JOIN m$i m ON m.cell = c.cent_id)""".stripMargin
    }
    s"""v AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> floor(CAST(x AS DOUBLE)*128)/128) AS kv FROM corpus),
       |vn AS MATERIALIZED (SELECT vec_id, kv, (${udot("kv", "kv")}) AS n2 FROM v),
       |c0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cent_id, kv AS cv FROM v ORDER BY vec_id LIMIT 8),
       |${iteration(1)},
       |${iteration(2)},
       |${iteration(3)},
       |cents AS MATERIALIZED (SELECT cent_id, list_transform(cv, x -> CAST(floor(x*1e7) AS BIGINT)) AS cent FROM c3),
       |q AS MATERIALIZED (SELECT vec_id, $QuantizeSql AS qv FROM corpus),
       |assigned AS MATERIALIZED (SELECT vec_id, cell, qv FROM (
       |   SELECT q.vec_id, c.cent_id AS cell, q.qv,
       |     ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |       ORDER BY ${IcosSql("q.qv", "c.cent")} DESC NULLS LAST, c.cent_id) AS rn
       |   FROM q, cents c) WHERE rn = 1)""".stripMargin
  }

  /** IVF top-k with id-subset centroids (q44, and q72's persisted path —
    * the on-disk index must be invisible in the results). */
  /** Exact brute-force cosine top-10 for queries vec_id < 5 — q31, and
    * q82's oracle: a PQ probe whose exact re-rank covers EVERY candidate
    * must collapse to brute force, codes and codebooks invisible. */
  private lazy val BruteTopKSql: String =
    s"""WITH v AS (SELECT vec_id, $QuantizeSql AS qv FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $CosineSql AS cosine
       |  FROM (SELECT * FROM v WHERE vec_id < 5) a, v b
       |  WHERE a.vec_id <> b.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private lazy val IvfTopKSql: String = {
    def cos(x: String, y: String) =
      s"list_dot_product($x, $y) / sqrt(list_dot_product($x, $x) * list_dot_product($y, $y))"
    s"""WITH v AS (SELECT vec_id, $QuantizeSql AS qv FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, qv AS cent FROM v ORDER BY vec_id LIMIT 8),
       |assigned AS (
       |  SELECT vec_id, cell, qv FROM (
       |    SELECT v.vec_id, c.cent_id AS cell, v.qv,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cos("v.qv", "c.cent")} DESC, c.cent_id) AS rn
       |    FROM v, cents c) WHERE rn = 1),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${cos("a.qv", "b.qv")} AS cosine
       |  FROM (SELECT * FROM assigned WHERE vec_id < 5) a
       |  JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Exact-quantized cosine between a.qv and b.qv (mirrors Vectors.cosineExact). */
  private val CosineSql =
    "list_dot_product(a.qv, b.qv) / sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv))"
}
