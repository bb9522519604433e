package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/**
 * Empirical scale measurement for the dedup family — converts SCALE.md's
 * plan-shape arguments into measured numbers. Generates a synthetic corpus
 * of N documents (deterministic, column-expressions only: a vocab-hash
 * token stream, ~3% tail-perturbed near-duplicate copies, hash embeddings
 * — the same near-dup construction as SparkEntry.docsWithNearDupes, just
 * without reading a base table), writes it to scratch parquet, then runs
 * each operator once and records wall time, shuffle read/write bytes,
 * spill, and peak per-task execution memory from the task-metrics stream.
 *
 * Usage: runMain graft.ScaleBench <scratchDir> <nDocs>[,...] [op[,...]] [signBits] [runs]
 * Output: one JSON line per (scale, operator) on stdout. `runs` (default 1,
 * or SPARK_GRAFT_SCALE_RUNS) repeats each operator and reports the MEDIAN
 * wall time plus every run's time — single-run timings on a shared machine
 * swing several-fold (Bench's protocol), which made the small tiers
 * noise-dominated; shuffle bytes are from the last run (deterministic),
 * spill/peak-memory are the max across runs (the honest worst case).
 *
 * signBits defaults to 16: the 2^signBits sign-LSH bucket space must grow
 * with the corpus or every bucket exceeds the maxBucket cap and recall
 * collapses to zero — measured: signBits=8 (256 buckets/band) is fine at
 * 50k docs but drops ALL pairs at 250k; the embeddingBucketStats audit is
 * what surfaces that mis-tuning in production.
 */
object ScaleBench {

  /** Sums task metrics between `reset()` and read; peak is max over tasks. */
  private final class Metrics extends SparkListener {
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val inputRead = new AtomicLong // file-source bytes (scan-pruning proof)
    val inputRecords = new AtomicLong // rows materialized after row-group pruning
    val outputWritten = new AtomicLong // file-sink bytes (parquet commits)
    val spill = new AtomicLong
    val peakTaskMem = new AtomicLong
    val tasks = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputRead.addAndGet(m.inputMetrics.bytesRead)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        outputWritten.addAndGet(m.outputMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakTaskMem.getAndAccumulate(m.peakExecutionMemory, math.max)
        tasks.incrementAndGet()
      }
    }
    def reset(): Unit = {
      shuffleRead.set(0); shuffleWrite.set(0); inputRead.set(0)
      inputRecords.set(0); outputWritten.set(0); spill.set(0)
      peakTaskMem.set(0); tasks.set(0)
    }
  }

  /** Deterministic corpus: ~120 tokens/doc from a 5000-word vocab keyed by
    * xxhash64(src, position); every 33rd doc is a near-duplicate of its
    * predecessor (same src stream + a 3-token tail), and embeddings hash
    * off the same src so near-dup docs carry identical vectors. `seed`
    * shifts the hash stream so the aging tier can mint nightly batches of
    * GENUINELY new text (seed 0 reproduces the historical corpus exactly —
    * src + 0 = src, so every scratch parquet from earlier rounds re-reads
    * unchanged). */
  private def corpus(spark: SparkSession, n: Long, seed: Long = 0L): DataFrame = {
    val base = spark.range(n).toDF("doc_id")
      .withColumn("is_dup", col("doc_id") % 33 === 0 && col("doc_id") > 0)
      .withColumn("src",
        when(col("is_dup"), col("doc_id") - 1).otherwise(col("doc_id")) + lit(seed))
    base.select(
      col("doc_id"),
      concat(
        concat_ws(" ", transform(sequence(lit(0), lit(119)),
          i => concat(lit("w"), pmod(xxhash64(col("src"), i), lit(5000))))),
        when(col("is_dup"), lit(" zzz extra tail")).otherwise(lit(""))).as("text"),
      transform(sequence(lit(0), lit(31)),
        j => (pmod(xxhash64(col("src"), j + 1000), lit(2000)).cast("double") / 1000.0 - 1.0)
          .cast("float")).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val scratch = if (args.nonEmpty) args(0) else "/tmp/graft-scale"
    val sizes: Seq[Long] =
      (if (args.length > 1) args(1) else "250000,1000000,5000000")
        .split(",").toSeq.map(_.trim.toLong)
    val ops: Set[String] =
      (if (args.length > 2) args(2) else "all").split(",").map(_.trim).toSet
    def wanted(name: String): Boolean = ops("all") || ops(name)
    val signBits = if (args.length > 3) args(3).toInt else 16
    val runs = math.max(1,
      if (args.length > 4) args(4).toInt
      else sys.env.get("SPARK_GRAFT_SCALE_RUNS").flatMap(_.toIntOption).getOrElse(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", "graft-scalebench", cpus.toInt)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new Metrics
    spark.sparkContext.addSparkListener(metrics)

    // shared runs-loop: times `action` (which returns a row count) `runs`
    // times and emits one JSON line with the MEDIAN wall time. `setup`
    // runs BEFORE the per-run clock starts — state a run must rebuild
    // (e.g. the compact tier's re-fragmentation write) is not part of the
    // operator under measurement and must not pollute `sec` (r11 advice:
    // the fragmentation write dominated the published compact number)
    def timedRuns(scale: Long, name: String, setup: () => Unit = () => ())
        (action: () => Long): Unit = {
      var rows = 0L
      var maxSpill = 0L
      var maxPeak = 0L
      val times = (1 to runs).map { _ =>
        setup()
        // drain BEFORE reset too: TaskEnd events from the previous action
        // (corpus generation / setup / earlier run) post asynchronously and
        // would otherwise land after the reset, inflating this run's counters
        org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
        metrics.reset()
        val t0 = System.nanoTime()
        rows = action()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll()
        org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
        maxSpill = math.max(maxSpill, metrics.spill.get)
        maxPeak = math.max(maxPeak, metrics.peakTaskMem.get)
        sec
      }
      val sorted = times.sorted
      val median = // true median, as Bench: even run counts average the middles
        if (sorted.length % 2 == 1) sorted(sorted.length / 2)
        else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0
      def r2(v: Double): Double = math.rint(v * 100) / 100
      println(
        s"""{"op":"$name","docs":$scale,"rows":$rows,"sec":${r2(median)},""" +
        s""""runs_n":$runs,"run_secs":${times.map(r2).mkString("[", ",", "]")},""" +
        s""""shuffle_read_mb":${metrics.shuffleRead.get / 1048576},""" +
        s""""shuffle_write_mb":${metrics.shuffleWrite.get / 1048576},""" +
        s""""input_read_mb":${metrics.inputRead.get / 1048576},""" +
        s""""input_records":${metrics.inputRecords.get},""" +
        s""""spill_mb":${maxSpill / 1048576},""" +
        s""""peak_task_mem_mb":${maxPeak / 1048576},""" +
        s""""tasks":${metrics.tasks.get}}""")
    }

    def measured(scale: Long, name: String)(op: DataFrame => DataFrame): Unit =
      timedRuns(scale, name)(() =>
        op(spark.read.parquet(s"$scratch/docs_$scale")).count())

    sizes.foreach { n =>
      val docsPath = new org.apache.hadoop.fs.Path(s"$scratch/docs_$n")
      val fs = docsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(docsPath)) {
        val t0 = System.nanoTime()
        corpus(spark, n)
          .repartition(math.max(cpus.toInt, (n / 250000L).toInt))
          .write.mode("overwrite").parquet(s"$scratch/docs_$n")
        println(s"""{"op":"generate","docs":$n,"sec":${math.rint((System.nanoTime() - t0) / 1e7) / 100}}""")
      }

      if (wanted("exact_drop")) measured(n, "exact_drop")(d =>
        Dedup.dropExactDuplicates(d, "doc_id", "text"))
      if (wanted("minhash_lsh")) measured(n, "minhash_lsh")(d =>
        Dedup.minhashLshPairs(d, "doc_id", "text",
          shingleK = 3, numHashes = 8, bands = 4, maxBucket = 200))
      if (wanted("ngram_jaccard")) measured(n, "ngram_jaccard")(d =>
        Dedup.ngramJaccardPairs(d, "doc_id", "text",
          k = 3, threshold = 0.5, maxShingleDf = 50))
      if (wanted("embedding_neardup")) measured(n, "embedding_neardup")(d =>
        Dedup.embeddingNearDupPairs(d, "doc_id", "embedding",
          threshold = 0.95, signBits = signBits, bands = 2, maxBucket = 200))
      if (wanted("dedup_clusters")) measured(n, "dedup_clusters")(d =>
        Dedup.dupClusters(Dedup.minhashLshPairs(d, "doc_id", "text",
          shingleK = 3, numHashes = 8, bands = 4, maxBucket = 200)))
      if (wanted("merge")) mergeBench(spark, metrics, n, runs)

      // ---- mergeable corpus-statistics sketches: sketch_batch = the
      // per-night cost at batch size n (one map-side-combined aggregation
      // over the batch — the only part that scales with data);
      // sketch_merge = the lifetime-stats question, which reads ONLY the
      // persisted nights×groups state and must stay constant in corpus
      // size (the whole point — profiling without a corpus rescan)
      if (wanted("sketch")) {
        val spec = graft.operators.Sketches.SketchSpec(Seq("grp"),
          distinctCols = Seq("source"), sumCols = Seq("n_chars"))
        // 20 groups; 50k distinct sources (HLL estimation mode at every
        // tier, not coupon-exact — the honest regime for the estimate)
        def profiled(d: DataFrame): DataFrame = d.select(
          col("doc_id"),
          pmod(col("doc_id"), lit(20)).as("grp"),
          concat(lit("s"), pmod(xxhash64(col("doc_id")), lit(50000)))
            .as("source"),
          length(col("text")).as("n_chars"))
        // collect(), NOT count(): counting an aggregate frame lets the
        // optimizer PRUNE the aggregate expressions (it computes distinct
        // group keys only — doc_id, never the text), timing a plan the
        // operator never runs. collect() of the 20-row result forces every
        // sum/HLL to materialize; the driver transfer is 20 rows
        timedRuns(n, "sketch_batch") { () =>
          graft.operators.Sketches.batchSketch(
              profiled(spark.read.parquet(s"$scratch/docs_$n")), spec)
            .collect().length.toLong
        }
        val statePath = s"$scratch/sketch_state_$n"
        val stateP = new org.apache.hadoop.fs.Path(statePath)
        timedRuns(n, "sketch_merge", setup = () => {
          // 10 nights of persisted state, written ONCE (not part of the
          // merge cost under measurement)
          if (!fs.exists(stateP)) {
            val docs = profiled(spark.read.parquet(s"$scratch/docs_$n"))
            (0 until 10).foreach(k => graft.operators.Sketches.appendNight(
              docs.filter(pmod(col("doc_id"), lit(10)) === k),
              spec, statePath, s"n$k"))
          }
        }) { () =>
          graft.operators.Sketches.mergedStats(spark, statePath, spec)
            .collect().length.toLong
        }
      }

      // ---- retrieval tier: BM25 index build + query, and DSIR importance
      // weighting. Claims under test: (a) a PERSISTED BM25 query is
      // directory-pruned — its cost tracks the query's terms' postings, not
      // the corpus (vs the frames path, which rebuilds postings per query);
      // (b) DSIR is linear scans + an 8192-row broadcast — nothing pairwise
      // — and the md5 portable-hash tax vs xxhash64 is quantified.
      // build-only sub-tier for heap A/B controls (the round-20 spill
      // accounting experiment re-runs JUST the build under two heaps in
      // one session — same box, same scratch — without paying for the
      // query/DSIR ops). The bare `bm25build` name is OPT-IN ONLY (an
      // 'all' run builds through the retrieval tier, not twice).
      if (wanted("retrieval") || ops("bm25build")) {
        val idxPath = s"$scratch/bm25_idx_$n"
        timedRuns(n, "bm25_index_build")(() => {
          graft.operators.Bm25Index.save(
            spark.read.parquet(s"$scratch/docs_$n"), "doc_id", "text",
            idxPath, buckets = 64)
          spark.read.parquet(s"$idxPath/postings").count()
        })
      }
      // replay-litter fold: a 10%-of-corpus batch appends TWICE under one
      // gen key (the crash-replay shape), then `compact` folds the
      // duplicated posting rows. Claim under test: compact's input is the
      // POSTINGS (no text re-tokenize, no explode), and litter-free
      // storage returns byte-identical query behavior. Note the honest
      // scope: term-bucket partitioning means any broad-vocabulary batch
      // touches ALL buckets, so compact after a big replay is an
      // index-sized rewrite — cheaper than save-rebuild (no corpus scan /
      // explode / near-unique-key agg) but the same O(index) class.
      // Requires the standing index from bm25build/retrieval. OPT-IN
      // ONLY (never part of 'all'): the replay appends add a SECOND
      // stats generation for docs the bootstrap already counted, so the
      // scratch index's constants end ~10% inflated — running this
      // inside an 'all' sweep would poison the retrieval tier's query
      // numbers and every later session reusing the scratch. A session
      // that ran it should treat the scratch index as disposable.
      if (ops("bm25compact")) {
        val idxPath = s"$scratch/bm25_idx_$n"
        val replay = () => spark.read.parquet(s"$scratch/docs_$n")
          .filter(col("doc_id") % 10 === 0)
        // re-litter in the per-rep SETUP (outside the timed window, new
        // gen key each rep) so every rep folds the same real litter —
        // appending once up front would make rep 2+ time a no-op
        // detection scan and the filed median would understate compact
        // (round-20 review finding). Append cost itself: ~45 s for the
        // 2×100k-doc replay at 1M, zero spill (measured round 20).
        var rep = 0
        timedRuns(n, "bm25_compact", setup = () => {
          rep += 1
          val g = s"replayed_night_$rep"
          graft.operators.Bm25Index.append(replay(), "doc_id", "text",
            idxPath, gen = g)
          graft.operators.Bm25Index.append(replay(), "doc_id", "text",
            idxPath, gen = g)
        })(() => graft.operators.Bm25Index.compact(spark, idxPath, "doc_id"))
      }
      if (wanted("retrieval")) {
        val idxPath = s"$scratch/bm25_idx_$n"
        // three mid-frequency vocab terms (~2.4% of docs each)
        val q = Seq("w12", "w345", "w4999")
        timedRuns(n, "bm25_query_indexed")(() =>
          graft.operators.Bm25Index.query(spark, idxPath, "doc_id", q,
            k = 100).count())
        timedRuns(n, "bm25_query_frames")(() =>
          graft.operators.Bm25.search(
            spark.read.parquet(s"$scratch/docs_$n"), "doc_id", "text", q,
            k = 100).count())
        Seq(("dsir_weights_md5", true), ("dsir_weights_xx", false))
          .foreach { case (name, portable) =>
            timedRuns(n, name)(() => {
              val d = spark.read.parquet(s"$scratch/docs_$n")
              graft.operators.Dsir.importanceWeights(
                d, d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
                portable = portable).count()
            })
          }
      }

      // ---- lm tier: CCNet-style bigram-LM quality scoring. Claims under
      // test: (a) the model is VOCABULARY-sized (≤ V² bigram rows however
      // big the corpus — `rows` of lm_model_* reports it); (b) min-count
      // pruning cuts the Zipf hapax tail of that model; (c) train+score is
      // two linear scans + two model joins + one per-doc agg — nothing
      // pairwise, wall tracks corpus size, not corpus².
      if (wanted("lm")) {
        val target = () => spark.read.parquet(s"$scratch/docs_$n")
          .filter(col("doc_id") % 10 === 0)
        // consume c12, not just the keys (see the nb tier's modelRows)
        def lmModelRows(m: graft.operators.NgramLm.Model): Long =
          m.bigrams.agg(count(lit(1)), sum("c12")).head().getLong(0)
        timedRuns(n, "lm_model_full")(() => lmModelRows(
          graft.operators.NgramLm.train(target(), "doc_id", "text")))
        timedRuns(n, "lm_model_pruned")(() => lmModelRows(
          graft.operators.NgramLm.train(target(), "doc_id", "text")
            .prune(2)))
        // the action must CONSUME the score: a bare count() lets Catalyst
        // eliminate the left-outer model joins entirely (aggregated right
        // sides have unique keys and no referenced columns), so the timed
        // plan would skip the scoring work — the round-19 lm tier's
        // original numbers did exactly that (SCALE.md, measurement
        // lessons)
        def scoreAll(ce: DataFrame): Long =
          ce.agg(count(lit(1)), sum("cross_entropy")).head().getLong(0)
        Seq(("lm_train_score", 1L), ("lm_train_score_pruned", 2L))
          .foreach { case (name, minCount) =>
            timedRuns(n, name)(() => {
              val d = spark.read.parquet(s"$scratch/docs_$n")
              val m = graft.operators.NgramLm
                .train(target(), "doc_id", "text").prune(minCount)
              scoreAll(graft.operators.NgramLm.crossEntropy(
                d, "doc_id", "text", m))
            })
          }
        // the PRODUCTION shape (CCNet deployment: train once, ship the
        // artifact): the model loads from parquet, so the planner sees its
        // real vocabulary-sized stats and broadcasts the joins statically
        val lmModelPath = s"$scratch/lm_model_$n"
        timedRuns(n, "lm_score_indexed", setup = () => {
          val mp = new org.apache.hadoop.fs.Path(lmModelPath)
          if (!mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(mp))
            graft.operators.NgramLm.save(spark, graft.operators.NgramLm
              .train(target(), "doc_id", "text").prune(2), lmModelPath, 2L)
        })(() => scoreAll(graft.operators.NgramLm.crossEntropy(
          spark.read.parquet(s"$scratch/docs_$n"), "doc_id", "text",
          graft.operators.NgramLm.load(spark, lmModelPath))))
      }

      // ---- nb tier: seed-supervised NB quality classifier. Claims under
      // test: (a) the model is VOCABULARY-sized (one (token, class) agg
      // over the seeds — `rows` of nb_model_* reports it); (b) min-count
      // pruning keeps the score-time join build side broadcastable; (c)
      // train + score + keep is two seed scans + ONE model join + one
      // per-doc agg + per-row keep arithmetic — nothing pairwise, wall
      // tracks corpus size, not corpus².
      if (wanted("nb")) {
        val pos = () => spark.read.parquet(s"$scratch/docs_$n")
          .filter(col("doc_id") % 10 === 0)
        val neg = () => spark.read.parquet(s"$scratch/docs_$n")
          .filter(col("doc_id") % 10 === 1)
        // consume the per-class sums, not just the keys — a bare count()
        // over the (token, class) aggregate lets Catalyst prune the
        // c_pos/c_neg sum expressions from the timed plan (the lm tier's
        // scoreAll lesson, one level up)
        def modelRows(m: graft.operators.NbClassifier.Model): Long =
          m.tokenCounts.agg(count(lit(1)), sum(col("c_pos") + col("c_neg")))
            .head().getLong(0)
        timedRuns(n, "nb_model_full")(() => modelRows(
          graft.operators.NbClassifier.train(pos(), neg(), "doc_id", "text")))
        timedRuns(n, "nb_model_pruned")(() => modelRows(
          graft.operators.NbClassifier.train(pos(), neg(), "doc_id", "text")
            .prune(2)))
        // the keep filter consumes the score, so Catalyst cannot
        // join-eliminate the scoring work under the count (see the lm
        // tier's scoreAll note)
        Seq(("nb_train_score_keep", 1L), ("nb_train_score_keep_pruned", 2L))
          .foreach { case (name, minCount) =>
            timedRuns(n, name)(() => {
              val d = spark.read.parquet(s"$scratch/docs_$n")
              val m = graft.operators.NbClassifier
                .train(pos(), neg(), "doc_id", "text").prune(minCount)
              graft.operators.NbClassifier.paretoKeep(
                graft.operators.NbClassifier.logOdds(d, "doc_id", "text", m),
                "doc_id").count()
            })
          }
        // the production shape: persisted model, planner sees real
        // vocabulary-sized stats, token join broadcasts statically
        val nbModelPath = s"$scratch/nb_model_$n"
        timedRuns(n, "nb_score_keep_indexed", setup = () => {
          val mp = new org.apache.hadoop.fs.Path(nbModelPath)
          if (!mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(mp))
            graft.operators.NbClassifier.save(spark,
              graft.operators.NbClassifier
                .train(pos(), neg(), "doc_id", "text").prune(2),
              nbModelPath, 2L)
        })(() => graft.operators.NbClassifier.paretoKeep(
          graft.operators.NbClassifier.logOdds(
            spark.read.parquet(s"$scratch/docs_$n"), "doc_id", "text",
            graft.operators.NbClassifier.load(spark, nbModelPath)),
          "doc_id").count())
      }

      // ---- incremental probe tier: full recompute vs persisted-index probe
      // (the nightly-ingest story — Dedup.probeBandedPairs' reason to exist)
      if (wanted("probe") || wanted("probe_inc") || wanted("probe_full")) {
        val docs = spark.read.parquet(s"$scratch/docs_$n")
        // 1% ingest batch, half-near-dup by construction: each batch doc
        // replays an existing doc's token stream (same vocab-hash formula
        // as `corpus`) plus the perturbation tail
        val batchN = math.max(1000L, n / 100)
        val batch = spark.range(batchN).toDF("b")
          .withColumn("src", pmod(col("b") * 97, lit(n)))
          .select((col("b") + n).as("doc_id"),
            concat(concat_ws(" ", transform(sequence(lit(0), lit(119)),
              i => concat(lit("w"), pmod(xxhash64(col("src"), i), lit(5000))))),
              lit(" zzz extra tail")).as("text"))
        // one-time index build: the amortized cost a standing corpus pays
        // ONCE, after which every ingest probes the saved frame (the real
        // lifecycle — BandIndex.save partitions by band, BandIndex.probe
        // reads it back, so this measures what a nightly ingest actually runs)
        val idxPath = s"$scratch/index_$n"
        // standing-corpus semantics: build the index only when absent (the
        // amortized one-time cost); later invocations probe the saved frame
        if (!fs.exists(new org.apache.hadoop.fs.Path(idxPath))) {
          val t0 = System.nanoTime()
          graft.operators.BandIndex.save(
            Dedup.lshBanded(docs, "doc_id", "text", 3, 8, 4), idxPath)
          println(s"""{"op":"probe_index_build","docs":$n,""" +
            s""""sec":${math.rint((System.nanoTime() - t0) / 1e7) / 100}}""")
        }
        // gate each sub-tier on ITS OWN positive flag ("probe" runs both);
        // negating the sibling flag made ops=probe_inc,probe_full skip both
        if (wanted("probe") || wanted("probe_inc"))
          timedRuns(n, "probe_incremental")(() =>
            graft.operators.BandIndex.probe(spark, idxPath,
              Dedup.lshBanded(batch, "doc_id", "text", 3, 8, 4),
              "doc_id", maxBucket = 200).count())
        if (wanted("probe") || wanted("probe_full"))
          timedRuns(n, "probe_full_recompute")(() =>
            Dedup.minhashLshPairs(
              docs.select("doc_id", "text").unionByName(batch), "doc_id", "text",
              shingleK = 3, numHashes = 8, bands = 4, maxBucket = 200).count())
      }

      // ---- ANN tier: persisted IVF probe vs broadcast brute force
      // (the standing-corpus search shape — IvfIndex's reason to exist: a
      // small query batch must read O(touched cells), not O(corpus))
      if (wanted("ann")) {
        import graft.operators.{IvfIndex, Similarity}
        val docs = spark.read.parquet(s"$scratch/docs_$n")
        // 10 queries spread across the id space — few enough that cell
        // pruning matters (≤10 of 64 cell directories read per probe).
        // Eagerly pinned OUTSIDE the timed runs: a real caller HAS its
        // query batch; deriving it lazily would re-scan the corpus inside
        // both timed paths and mask the index-vs-corpus records ratio
        val queries = docs.filter(pmod(col("doc_id"), lit(n / 10)) === 7)
          .select(col("doc_id"), col("embedding")).localCheckpoint(true)
        val ivfPath = s"$scratch/ivf_$n"
        val t0 = System.nanoTime()
        IvfIndex.save(docs, "doc_id", "embedding", ivfPath, numCentroids = 64)
        val cellFiles = {
          val p = new org.apache.hadoop.fs.Path(ivfPath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val it = fs.listFiles(p, true)
          var c = 0L
          while (it.hasNext)
            if (it.next().getPath.getName.endsWith(".parquet")) c += 1
          c
        }
        println(s"""{"op":"ann_index_build","docs":$n,""" +
          s""""sec":${math.rint((System.nanoTime() - t0) / 1e7) / 100},""" +
          s""""index_files":$cellFiles}""")
        timedRuns(n, "ann_ivf_probe")(() =>
          IvfIndex.probe(spark, ivfPath, queries, "doc_id", "embedding",
            k = 10).count())
        timedRuns(n, "ann_brute_force")(() =>
          Similarity.bruteForceTopKAgg(queries, docs, "doc_id", "doc_id",
            "embedding", "embedding", k = 10).count())
      }

      // ---- PQ tier: ADC scoring over 8-code rows vs full-vector scans —
      // the bytes-read lever (IVF prunes WHICH vectors are read, PQ
      // shrinks WHAT each vector costs); input_read_mb is the headline
      // metric, recall@10 after exact re-rank the honesty check
      if (wanted("pq")) {
        import graft.operators.{PqIndex, Similarity}
        val docs = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val queries = docs.filter(pmod(col("doc_id"), lit(n / 10)) === 7)
          .localCheckpoint(true)
        val pqPath = s"$scratch/pq_$n"
        val t0 = System.nanoTime()
        // m=8 four-dim subspaces, 16 codewords each: a 32-dim float vector
        // (≈132 B of parquet) becomes 8 small ints (≈12 B encoded).
        // Codebooks train on the deterministic 10% hash sample — the
        // standard PQ discipline (they converge on a sample; the full
        // corpus only pays the one-pass encode)
        PqIndex.save(docs, "doc_id", "embedding", pqPath,
          m = 8, ksub = 16, iterations = 2, trainFraction = 0.1)
        println(s"""{"op":"pq_index_build","docs":$n,""" +
          s""""sec":${math.rint((System.nanoTime() - t0) / 1e7) / 100}}""")
        timedRuns(n, "pq_adc_probe")(() =>
          PqIndex.probe(spark, pqPath, queries, "doc_id", "embedding",
            candidates = 100).count())
        timedRuns(n, "pq_rerank_probe")(() =>
          PqIndex.probe(spark, pqPath, queries, "doc_id", "embedding",
            candidates = 100, rerank = Some((docs, "doc_id", "embedding")),
            k = 10).count())
        // composed IVF×PQ: the probe touches nprobe/64 of the corpus AND
        // pays code bytes for it — both levers in one number
        val ivfpqPath = s"$scratch/ivfpq_$n"
        val t1 = System.nanoTime()
        graft.operators.IvfPqIndex.save(docs, "doc_id", "embedding",
          ivfpqPath, numCells = 64, m = 8, ksub = 16, iterations = 2,
          trainFraction = 0.1)
        println(s"""{"op":"ivfpq_index_build","docs":$n,""" +
          s""""sec":${math.rint((System.nanoTime() - t1) / 1e7) / 100}}""")
        timedRuns(n, "ivfpq_rerank_probe")(() =>
          graft.operators.IvfPqIndex.probe(spark, ivfpqPath, queries,
            "doc_id", "embedding", candidates = 100, nprobe = 8,
            rerank = Some((docs, "doc_id", "embedding")), k = 10).count())
        // recall vs the exact answer, once per candidate budget (the
        // recall-vs-bytes tradeoff curve; untimed correctness evidence)
        val truth = Similarity.bruteForceTopKAgg(queries, docs, "doc_id",
            "doc_id", "embedding", "embedding", k = 10)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        Seq(100, 1000, 10000).foreach { cand =>
          val got = PqIndex.probe(spark, pqPath, queries, "doc_id",
              "embedding", candidates = cand,
              rerank = Some((docs, "doc_id", "embedding")), k = 10)
            .select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val recall = math.rint(1000.0 * (truth & got).size / truth.size) / 1000
          println(s"""{"op":"pq_recall_at_10","docs":$n,""" +
            s""""candidates":$cand,"recall":$recall}""")
        }
      }

      // ---- zorder tier: 2-D selective scan on z-ordered vs sorted layout
      // (row-group min/max pruning is the mechanism; input_read_mb and wall
      // time of the same filtered count on each layout are the measure)
      if (wanted("zorder")) {
        import graft.ops.ZOrder
        // two independent uniform keys over [0, n): x = doc_id, y = hash
        val keyed = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id").as("x"),
            pmod(xxhash64(col("doc_id")), lit(n)).as("y"), col("text"))
        val files = math.max(cpus.toInt, (n / 250000L).toInt)
        val byX = s"$scratch/zx_$n"; val byZ = s"$scratch/zz_$n"
        val t0 = System.nanoTime()
        keyed.repartitionByRange(files, col("x"))
          .sortWithinPartitions("x").write.mode("overwrite").parquet(byX)
        val t1 = System.nanoTime()
        ZOrder.zorderBy(keyed, Seq("x", "y"), numFiles = files)
          .write.mode("overwrite").parquet(byZ)
        val t2 = System.nanoTime()
        println(s"""{"op":"zorder_write","docs":$n,""" +
          s""""sort_sec":${math.rint((t1 - t0) / 1e7) / 100},""" +
          s""""zorder_sec":${math.rint((t2 - t1) / 1e7) / 100}}""")
        // SECONDARY-key predicate (1% of y) + payload aggregate: the x-sorted
        // layout cannot prune a y filter at all (every row group spans all
        // of y) and decompresses ~the whole text column; the z-ordered
        // layout's row groups carry narrow y ranges, so parquet's stats
        // pushdown skips most of them before touching text bytes
        def yScan(path: String) = spark.read.parquet(path)
          .filter(col("y").between(n / 2, n / 2 + n / 100))
          .agg(sum(length(col("text")))).head().getLong(0)
        timedRuns(n, "zorder_scan_sorted")(() => { yScan(byX); 1L })
        timedRuns(n, "zorder_scan_zordered")(() => { yScan(byZ); 1L })
      }

      // ---- compaction tier: bin-pack a fragmented partitioned copy
      if (wanted("compact")) {
        import graft.ops.Compaction
        val src = spark.read.parquet(s"$scratch/docs_$n")
        val path = s"$scratch/frag_$n"
        var before = 0L; var after = 0L; var parts = 0
        // re-fragment each run as UNTIMED setup (the rewrite destroys the
        // fragmentation): 50 partitions × 96 writer tasks ≈ 4800 small files
        timedRuns(n, "compact", setup = () =>
          src.withColumn("part", pmod(col("doc_id"), lit(50)).cast("int"))
            .repartition(96)
            .write.mode("overwrite").partitionBy("part").parquet(path)
        )(() => {
          val res = Compaction.compactPath(spark, path, Seq("part"))
          before = res.filesBefore; after = res.filesAfter
          parts = res.partitionsSelected
          res.filesAfter
        })
        println(s"""{"op":"compact_files","docs":$n,"partitions":$parts,""" +
          s""""files_before":$before,"files_after":$after}""")
      }

      // ---- vocab tier: corpus token counting and top-k — the explode
      // multiplies rows ~120× (docs → token instances), and the evidence
      // that the shape survives is SHUFFLE bytes: map-side partial
      // aggregation collapses the instance stream to the distinct-token
      // space per task before the exchange, and top-k goes through a
      // per-task heap (TakeOrderedAndProject), so what crosses the wire
      // is vocabulary-sized (5k synthetic words), not token-stream-sized
      if (wanted("vocab")) {
        import graft.operators.Vocab
        val docs = spark.read.parquet(s"$scratch/docs_$n").select(col("text"))
        timedRuns(n, "vocab_word_counts")(() =>
          Vocab.wordCounts(docs, "text").count())
        timedRuns(n, "vocab_top100")(() =>
          Vocab.topTokens(docs, "text", 100).count())
        // adjacent-pair space is quadratic-in-vocab at worst (~25M distinct
        // pairs possible here) — the minCount cut happens post-aggregation,
        // so the shuffle carries distinct pairs per task; measured so the
        // growth curve is on record
        timedRuns(n, "vocab_pair_counts")(() =>
          Vocab.pairCounts(docs, "text", minCount = 2).count())
        // the bounded variant: pair space cut to the top-1000 vocabulary
        // BEFORE aggregation — ≤1M keys per task instead of vocab²
        timedRuns(n, "vocab_pair_counts_v1000")(() =>
          Vocab.pairCounts(docs, "text", minCount = 2,
            vocabLimit = 1000).count())
      }

      // ---- ingestspan tier: what the opt-in batch-local span dedup
      // (IngestConfig.spanDedupK) actually costs INSIDE a night, same
      // batch with the flag off vs on — the number a deployment weighs
      // against its boilerplate rate. Fresh corpus/index dirs per run so
      // every night is a bootstrap night (the flag's cost is the delta;
      // the bootstrap baseline is identical in both arms).
      if (wanted("ingestspan")) {
        import graft.reports.IngestPipeline
        import graft.reports.IngestPipeline.IngestConfig
        val batch = corpus(spark, math.min(n / 10, 100000L), seed = 77L)
          .select(col("doc_id"), col("text"))
          .localCheckpoint(true)
        def night(tag: String, k: Option[Int], ledger: Boolean = false): Unit = {
          val root = s"$scratch/ingestspan_${n}_$tag"
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          timedRuns(n, s"ingest_night_$tag",
              setup = () => { fs.delete(new org.apache.hadoop.fs.Path(root), true); () }) {
            () =>
              IngestPipeline.runNight(spark, batch, "n1", IngestConfig(
                corpusPath = s"$root/corpus",
                bandIndexPath = s"$root/band_index",
                metaDir = s"$root/meta",
                maxBucket = 200, spanDedupK = k,
                dropLedger = ledger)).accepted
          }
        }
        night("plain", None)
        night("spank8", Some(8))
        // the drop-ledger arm: same night, dropLedger=true — the delta is
        // the two pair-frame pins + the O(drops) ledger write
        night("ledger", None, ledger = true)
      }

      // ---- bloomgate tier: the exact-dup gate on a re-crawl-heavy night.
      // A standing corpus lands OUTSIDE the clock (bootstrap night per
      // run), then the timed night ingests a batch whose majority is
      // byte-identical re-submissions of standing docs. Gate OFF pays the
      // full minhash fingerprint on every batch doc and drops the dups in
      // the banded probe; gate ON cuts them for one md5 + a bloom
      // membership test each, so the minhash stage only sees the genuinely
      // new remainder. The mostly-new arm bounds the gate's overhead when
      // it has nothing to cut.
      if (wanted("bloomgate")) {
        import graft.reports.IngestPipeline
        import graft.reports.IngestPipeline.IngestConfig
        val standingN = math.min(n / 5, 200000L)
        val batchN = math.min(n / 10, 100000L)
        val standing = corpus(spark, standingN, seed = 11L)
          .select(col("doc_id"), col("text")).localCheckpoint(true)
        def mkBatch(dupFrac: Double): DataFrame = {
          val nDups = (batchN * dupFrac).toLong
          val dups = standing.filter(col("doc_id") < lit(nDups))
            .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
          val fresh = corpus(spark, batchN - nDups, seed = 99L)
            .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
          dups.union(fresh).localCheckpoint(true)
        }
        val recrawl = mkBatch(0.6)
        val mostlyNew = mkBatch(0.1)
        def cfgAt(root: String, bloom: Boolean) = IngestConfig(
          corpusPath = s"$root/corpus", bandIndexPath = s"$root/band_index",
          metaDir = s"$root/meta", maxBucket = 200,
          bloomIndexPath = if (bloom) Some(s"$root/bloom_index") else None,
          bloomShards = 64, bloomBitsPerShard = 1L << 23)
        def arm(tag: String, bloom: Boolean, batch: DataFrame): Unit = {
          val root = s"$scratch/bloomgate_${n}_$tag"
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          timedRuns(n, s"bloomgate_night_$tag",
              setup = () => {
                fs.delete(new org.apache.hadoop.fs.Path(root), true)
                IngestPipeline.runNight(spark, standing, "n0",
                  cfgAt(root, bloom))
                ()
              }) { () =>
            IngestPipeline.runNight(spark, batch, "n1",
              cfgAt(root, bloom)).accepted
          }
        }
        arm("recrawl_off", bloom = false, recrawl)
        arm("recrawl_on", bloom = true, recrawl)
        arm("new_off", bloom = false, mostlyNew)
        arm("new_on", bloom = true, mostlyNew)
      }

      // ---- bpe tier: full tokenizer training + corpus encoding. Training
      // wall time must scale with the corpus ONLY through the one
      // distributed dictionary pass — the 200-merge loop runs driver-side
      // over the bounded word table and is corpus-size-independent.
      // Encoding measures the per-task word→subwords memo: the merge loop
      // runs once per DISTINCT word a task sees, so throughput follows the
      // token stream, not tokens × merges.
      if (wanted("bpe")) {
        import graft.operators.Vocab
        val docs = spark.read.parquet(s"$scratch/docs_$n").select(col("text"))
        timedRuns(n, "bpe_train_m200")(() =>
          Vocab.trainBpe(docs, "text", numMerges = 200).count())
        // learned table materialized OUTSIDE the encode clock (encodeBpe
        // collects it at plan-build; an un-checkpointed frame would re-run
        // training inside every timed run)
        val merges = Vocab.trainBpe(docs, "text", numMerges = 200)
          .localCheckpoint()
        timedRuns(n, "bpe_encode_m200")(() =>
          Vocab.encodeBpe(docs, "text", merges)
            .selectExpr("count(1) AS n", "sum(size(bpe_tokens))")
            .head().getLong(0))
        // the memo's control: merge loop per token INSTANCE (what a naive
        // encoder pays) — the adversarial all-unique-words bound
        timedRuns(n, "bpe_encode_m200_nomemo")(() =>
          Vocab.encodeBpe(docs, "text", merges, memoize = false)
            .selectExpr("count(1) AS n", "sum(size(bpe_tokens))")
            .head().getLong(0))
      }

      // ---- spans tier: exact-substring dedup. Unlike the vocab tier,
      // partial aggregation cannot collapse this stream — at k=8 nearly
      // every window is distinct, so the shuffle IS the token stream
      // re-keyed (the operator's inherent cost; the paper's suffix array
      // pays a global sort of the same stream). Measured so the wire-bytes
      // story is on record: dup_grams shuffles gram STRINGS (audit face),
      // dedup_spans shuffles 20-byte hashed rows (production face).
      if (wanted("spans")) {
        val docs = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("text"))
        timedRuns(n, "dup_grams_k8")(() =>
          Dedup.duplicateGrams(docs, "doc_id", "text", k = 8).count())
        timedRuns(n, "dedup_spans_k8")(() =>
          Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 8)
            .selectExpr("count(1) AS n", "sum(removed_tokens)")
            .head().getLong(0))
      }

      // ---- trainset tier: the composed last mile (quality filter → mix →
      // shuffle-key → pack → jsonl shards + manifest) as ONE wall number —
      // the components are measured in their own tiers; this is the
      // end-to-end cost a nightly training-set build pays
      if (wanted("trainset")) {
        import graft.reports.TrainingSetBuild
        val docs = spark.read.parquet(s"$scratch/docs_$n")
          .withColumn("lang",
            when(pmod(col("doc_id"), lit(3)) === 0, "web").otherwise("wiki"))
          .withColumn("n_chars", length(col("text")))
        timedRuns(n, "trainset_build")(() => {
          val s = TrainingSetBuild.run(spark, docs,
            s"$scratch/trainset_$n", s"$scratch/trainset_meta_$n",
            TrainingSetBuild.BuildConfig(
              weights = Map("web" -> 2.0, "wiki" -> 0.5),
              // synthetic docs are uniform-random tokens: disable the
              // repetition cuts that would junk the whole corpus
              minStopwordFrac = 0.0, maxDupTokenRatio = 1.0,
              minTokens = 10, budget = 1L << 22))
          s.packedRows
        })
      }

      // ---- pack tier: token-budget shard packing, two-phase distributed
      // cumsum vs the naive global window (identical output by spec; the
      // naive form funnels the corpus through ONE task — the thing
      // packShards exists to avoid). Token counts derive per-row from the
      // text so the tier measures the cumsum topology, not tokenization.
      if (wanted("pack")) {
        import graft.operators.Packing
        import org.apache.spark.sql.expressions.Window
        val toks = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        timedRuns(n, "pack_two_phase")(() =>
          Packing.packShards(toks, "doc_id", "n_tokens",
              budget = 1L << 20, buckets = 1024)
            .agg(countDistinct(col("shard"))).head().getLong(0))
        val w = Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        timedRuns(n, "pack_naive_window")(() =>
          toks.withColumn("shard",
              floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / (1L << 20)))
            .agg(countDistinct(col("shard"))).head().getLong(0))
      }

      // ---- aging tier: N nights of probe→append against ONE standing band
      // index — the longitudinal evidence for the lifecycle claims. Each
      // night probes a fresh batch (90% genuinely new hash streams, 10%
      // near-dup copies of standing docs so the drop path runs every
      // night), appends the survivors' banded rows, and records the probe
      // wall time plus the index's data-file count (the small-file litter
      // the appends accumulate). A final partition-scoped compaction pass
      // restores the file count; one more probe after it shows the
      // steady-state cost is back.
      if (wanted("aging")) {
        import graft.operators.BandIndex
        val docs = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("text"))
        val idxPath = s"$scratch/aging_idx_$n"
        val p = new org.apache.hadoop.fs.Path(idxPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true) // every invocation ages from night 0
        def fileCount(): Long = {
          val it = fs.listFiles(p, true)
          var c = 0L
          while (it.hasNext)
            if (it.next().getPath.getName.endsWith(".parquet")) c += 1
          c
        }
        val tb = System.nanoTime()
        BandIndex.save(
          Dedup.lshBanded(docs, "doc_id", "text", 3, 8, 4), idxPath)
        println(s"""{"op":"aging_build","docs":$n,""" +
          s""""sec":${math.rint((System.nanoTime() - tb) / 1e7) / 100},""" +
          s""""index_files":${fileCount()}}""")
        val nights = sys.env.get("SPARK_GRAFT_SCALE_NIGHTS")
          .flatMap(_.toIntOption).getOrElse(5)
        val batchN = math.max(1000L, n / 20) // 5% nightly growth
        def nightBatch(night: Int): DataFrame = {
          val fresh = corpus(spark, batchN, seed = night * 1000000007L)
            .select((col("doc_id") + night * 100000000L).as("doc_id"), col("text"))
          val dups = docs.filter(pmod(col("doc_id"), lit(200)) === night % 200)
            .select((col("doc_id") + night * 100000000L + 50000000L).as("doc_id"),
              concat(col("text"), lit(" zzz night tail")).as("text"))
          fresh.unionByName(dups).localCheckpoint(true)
        }
        def probeNight(night: Int, append: Boolean): Unit = {
          val batch = nightBatch(night)
          val banded = Dedup.lshBanded(batch, "doc_id", "text", 3, 8, 4).persist()
          try {
            val t0 = System.nanoTime()
            val dropIds = BandIndex.probe(spark, idxPath, banded, "doc_id",
                maxBucket = 200)
              .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
              .distinct()
            val survivors = batch
              .join(dropIds, Seq("doc_id"), "left_anti").localCheckpoint(true)
            val nSurv = survivors.count()
            val t1 = System.nanoTime()
            if (append)
              BandIndex.append(banded.join(survivors.select("doc_id"),
                Seq("doc_id"), "left_semi"), idxPath)
            val t2 = System.nanoTime()
            def r2(a: Long, b: Long) = math.rint((b - a) / 1e7) / 100
            println(s"""{"op":"aging_night","docs":$n,"night":$night,""" +
              s""""batch":${batch.count()},"survivors":$nSurv,""" +
              s""""probe_sec":${r2(t0, t1)},"append_sec":${r2(t1, t2)},""" +
              s""""index_files":${fileCount()}}""")
          } finally {
            banded.unpersist()
            graft.core.Caches.releaseAll()
          }
        }
        (1 to nights).foreach(probeNight(_, append = true))
        val tc = System.nanoTime()
        val res = graft.ops.Compaction.compactPath(spark, idxPath, Seq("band"))
        println(s"""{"op":"aging_compact","docs":$n,""" +
          s""""sec":${math.rint((System.nanoTime() - tc) / 1e7) / 100},""" +
          s""""files_before":${res.filesBefore},"files_after":${res.filesAfter},""" +
          s""""partitions":${res.partitionsSelected}}""")
        // post-maintenance probe (no append): the steady-state cost check
        probeNight(nights + 1, append = false)
      }

      // ---- pq retrain tier: the codeStats remedy's cost, measured — a
      // single-subspace retrain (Lloyd on ONE slice + the shuffle-free
      // full re-encode + codes swap) against the full save (train all m +
      // encode) it replaces. The delta is the m−1 subspace trains the
      // focused path skips; the floor is the encode pass both must pay.
      if (wanted("pqretrain")) {
        import graft.operators.PqIndex
        val emb = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val idxPath = s"$scratch/pq_retrain_idx_$n"
        val p = new org.apache.hadoop.fs.Path(idxPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val tb = System.nanoTime()
        PqIndex.save(emb, "doc_id", "embedding", idxPath,
          m = 8, ksub = 16, iterations = 3, trainFraction = 0.1)
        val buildSec = math.rint((System.nanoTime() - tb) / 1e7) / 100
        val tr = System.nanoTime()
        PqIndex.retrainSubspace(emb, "doc_id", "embedding", idxPath,
          s = 3, iterations = 3, trainFraction = 0.1)
        val retrainSec = math.rint((System.nanoTime() - tr) / 1e7) / 100
        println(s"""{"op":"pq_retrain","docs":$n,"build_sec":$buildSec,""" +
          s""""retrain_sec":$retrainSec}""")
      }

      // ---- ivfpq retrain tier: the composed layout's codebook repair,
      // measured against the full save it replaces (pqretrain's question
      // on the production layout). The focused path pays one subspace's
      // Lloyd rounds + the shuffle-free re-encode+re-assign pass; save
      // pays all m subspace trains + centroid derivation + the same
      // encode — the delta widens toward m× at production m.
      if (wanted("ivfpqretrain")) {
        import graft.operators.IvfPqIndex
        val emb = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val idxPath = s"$scratch/ivfpq_retrain_idx_$n"
        val p = new org.apache.hadoop.fs.Path(idxPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val tb = System.nanoTime()
        IvfPqIndex.save(emb, "doc_id", "embedding", idxPath,
          numCells = 64, m = 8, ksub = 16, iterations = 3,
          trainFraction = 0.1)
        val buildSec = math.rint((System.nanoTime() - tb) / 1e7) / 100
        val tr = System.nanoTime()
        IvfPqIndex.retrainSubspace(emb, "doc_id", "embedding", idxPath,
          s = 3, iterations = 3, trainFraction = 0.1)
        val retrainSec = math.rint((System.nanoTime() - tr) / 1e7) / 100
        println(s"""{"op":"ivfpq_retrain","docs":$n,"build_sec":$buildSec,""" +
          s""""retrain_sec":$retrainSec}""")
      }

      // ---- retract tier: the takedown cost story on the composed layout —
      // removeIds must be O(|ids|) regardless of corpus size, the pending
      // tombstone set must cost a probe only its broadcast anti-join, and
      // vacuum must pay for TOUCHED cells, not the index. The four probe/
      // phase timings separate those claims.
      if (wanted("retract")) {
        import graft.operators.IvfPqIndex
        val emb = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val idxPath = s"$scratch/retract_idx_$n"
        val p = new org.apache.hadoop.fs.Path(idxPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        IvfPqIndex.save(emb, "doc_id", "embedding", idxPath,
          numCells = 64, m = 8, ksub = 16, iterations = 3,
          trainFraction = 0.1)
        val queries = emb.filter(col("doc_id") % (n / 1000) === 0)
        def probeSec(): Double = {
          val t0 = System.nanoTime()
          IvfPqIndex.probe(spark, idxPath, queries, "doc_id", "embedding",
            candidates = 1, nprobe = 2).count()
          math.rint((System.nanoTime() - t0) / 1e7) / 100
        }
        val probeBefore = probeSec()
        // ~0.1% of the corpus taken down, spread across cells
        val ids = emb.filter(col("doc_id") % 1000 === 7).select(col("doc_id"))
        val t1 = System.nanoTime()
        IvfPqIndex.removeIds(spark, idxPath, ids)
        val removeSec = math.rint((System.nanoTime() - t1) / 1e7) / 100
        val probePending = probeSec() // tombstones pending: anti-join surcharge
        val t2 = System.nanoTime()
        val removed = IvfPqIndex.vacuum(spark, idxPath)
        val vacuumSec = math.rint((System.nanoTime() - t2) / 1e7) / 100
        val probeAfter = probeSec()
        println(s"""{"op":"retract","docs":$n,"removed":$removed,""" +
          s""""remove_sec":$removeSec,"vacuum_sec":$vacuumSec,""" +
          s""""probe_before_sec":$probeBefore,""" +
          s""""probe_pending_sec":$probePending,""" +
          s""""probe_after_sec":$probeAfter}""")
      }

      // ---- bloomretract tier: the bloom membership index's retraction
      // lifecycle at corpus scale — removeIds is O(|ids|) and probe-visible
      // immediately, vacuum rewrites only touched shard directories, and
      // the round-19 stale-share cadence AUTO-REBUILDS after a heavy
      // takedown (40% here): the rebuild is one ledger read + bloom write,
      // after which the probe answers from a fresh false-positive tail.
      // Probe batch = 1% of the corpus keys (re-crawl shaped).
      if (wanted("bloomretract")) {
        import graft.operators.BloomIndex
        val docs = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("text"))
        val keys = docs.select(
          md5(col("text").cast("binary")).as("key"), col("doc_id"))
        val idxPath = s"$scratch/bloomretract_idx_$n"
        val ip = new org.apache.hadoop.fs.Path(idxPath)
        val ifs = ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (ifs.exists(ip)) ifs.delete(ip, true)
        var t0 = System.nanoTime()
        BloomIndex.save(keys, "key", "doc_id", idxPath,
          shards = 64, bitsPerShard = 1L << 23,
          itemsPerShard = (1L << 23) / 10)
        val saveSec = math.rint((System.nanoTime() - t0) / 1e7) / 100
        val batch = keys.filter(col("doc_id") % 100 === 0)
          .select(col("key")).localCheckpoint(true)
        def probeSec(): Double = {
          val t = System.nanoTime()
          BloomIndex.probe(spark, idxPath, batch, "key").count()
          math.rint((System.nanoTime() - t) / 1e7) / 100
        }
        val probeBefore = probeSec()
        // 0.1% takedown: hidden immediately, physical at vacuum
        t0 = System.nanoTime()
        BloomIndex.removeIds(spark, idxPath,
          docs.filter(col("doc_id") % 1000 === 7).select(col("doc_id")))
        val removeSec = math.rint((System.nanoTime() - t0) / 1e7) / 100
        val probePending = probeSec() // tombstone anti-join surcharge
        t0 = System.nanoTime()
        val removedSmall = BloomIndex.vacuum(spark, idxPath)
        val vacuumSec = math.rint((System.nanoTime() - t0) / 1e7) / 100
        val probeAfter = probeSec()
        // HEAVY takedown (40%): stale share crosses StaleWarnShare and the
        // maintain cadence must self-heal with a rebuild
        BloomIndex.removeIds(spark, idxPath,
          docs.filter(col("doc_id") % 5 < 2).select(col("doc_id")))
        t0 = System.nanoTime()
        val (_, rebuilt) = BloomIndex.maintain(spark, idxPath)
        val maintainSec = math.rint((System.nanoTime() - t0) / 1e7) / 100
        val share = BloomIndex.staleShare(spark, idxPath)
        val probeRebuilt = probeSec()
        println(s"""{"op":"bloomretract","docs":$n,""" +
          s""""removed_small":$removedSmall,"save_sec":$saveSec,""" +
          s""""remove_sec":$removeSec,"vacuum_sec":$vacuumSec,""" +
          s""""maintain_sec":$maintainSec,"rebuilt":$rebuilt,""" +
          s""""stale_after":$share,"probe_before_sec":$probeBefore,""" +
          s""""probe_pending_sec":$probePending,""" +
          s""""probe_after_sec":$probeAfter,""" +
          s""""probe_rebuilt_sec":$probeRebuilt}""")
      }

      // ---- filecost tier: the controlled discriminator for the aging
      // tiers' per-file probe-cost hypothesis. The SAME code rows probed
      // from a compacted (~66-file) and a littered (~380-file) layout with
      // spark.sql.files.openCostInBytes pinned to 0 and maxPartitionBytes
      // sized so BOTH scans plan the same partition count (the tasks field
      // in the emitted lines proves it) — equal tasks + equal rows means
      // any wall-time delta is per-FILE work (open/footer/stream setup)
      // inside the tasks, not task-scheduling overhead or lost
      // parallelism. (openCostInBytes=0 globally collapsed probe
      // parallelism in r14's attempt; scoping it to this tier with an
      // explicit maxPartitionBytes keeps the partition count pinned.)
      if (wanted("filecost")) {
        import graft.operators.PqIndex
        val emb = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val queries = emb.filter(pmod(col("doc_id"), lit(n / 10)) === 7)
          .localCheckpoint(true)
        val fewFiles = 66
        val manyFiles = 380
        def clonedIndex(tag: String, files: Int): String = {
          val src = s"$scratch/filecost_base_$n"
          val p = new org.apache.hadoop.fs.Path(src)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(p))
            PqIndex.save(emb, "doc_id", "embedding", src,
              m = 8, ksub = 16, iterations = 1, trainFraction = 0.1)
          val dst = s"$scratch/filecost_${tag}_$n"
          val dp = new org.apache.hadoop.fs.Path(dst)
          if (fs.exists(dp)) fs.delete(dp, true)
          fs.mkdirs(dp)
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(s"$src/codebooks"), fs,
            new org.apache.hadoop.fs.Path(s"$dst/codebooks"), false,
            spark.sparkContext.hadoopConfiguration)
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(s"$src/_graft_index_meta.json"),
            fs, new org.apache.hadoop.fs.Path(s"$dst/_graft_index_meta.json"),
            false, spark.sparkContext.hadoopConfiguration)
          spark.read.parquet(s"$src/codes").repartition(files)
            .write.mode("overwrite").parquet(s"$dst/codes")
          dst
        }
        val few = clonedIndex("few", fewFiles)
        val many = clonedIndex("many", manyFiles)
        val codesBytes = {
          val p = new org.apache.hadoop.fs.Path(s"$few/codes")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength
        }
        // a heavier query batch than the pq tier's 10 (~200 queries →
        // ~n/5 × 200 ADC evaluations): per-task probe work has to be
        // material for a task-layout effect to be visible at all
        val qBatch = emb.filter(pmod(col("doc_id"), lit(math.max(1L, n / 200))) === 7)
          .localCheckpoint(true)
        println(s"""{"op":"filecost_queries","docs":$n,""" +
          s""""n_queries":${qBatch.count()}}""")
        val open0 = spark.conf.get("spark.sql.files.openCostInBytes")
        val mpb0 = spark.conf.get("spark.sql.files.maxPartitionBytes")
        def parts(path: String) =
          spark.read.parquet(s"$path/codes").rdd.getNumPartitions
        def probeRuns(tag: String, path: String, files: Int): Unit =
          timedRuns(n, s"filecost_${tag}_${files}f")(() =>
            PqIndex.probe(spark, path, qBatch, "doc_id", "embedding",
              candidates = 100).count())
        try {
          // phase 1 — PINNED: zero open cost + maxPartitionBytes sized so
          // BOTH layouts plan the same partition count (partitions ≈
          // ceil(bytes / maxPartitionBytes) regardless of the file cut).
          // Any remaining delta is per-FILE work INSIDE equal tasks.
          spark.conf.set("spark.sql.files.openCostInBytes", "0")
          spark.conf.set("spark.sql.files.maxPartitionBytes",
            math.max(codesBytes / (2L * cpus.toInt), 1L << 20).toString)
          println(s"""{"op":"filecost_layout","docs":$n,"mode":"pinned",""" +
            s""""few_files":$fewFiles,"many_files":$manyFiles,""" +
            s""""few_partitions":${parts(few)},""" +
            s""""many_partitions":${parts(many)}}""")
          probeRuns("pinned", few, fewFiles)
          probeRuns("pinned", many, manyFiles)
        } finally {
          spark.conf.set("spark.sql.files.openCostInBytes", open0)
          spark.conf.set("spark.sql.files.maxPartitionBytes", mpb0)
        }
        // phase 2 — DEFAULT packing (what the aging tiers ran under):
        // openCostInBytes=4MB charges each file into the bin, so the
        // littered layout plans a different partition count; the delta vs
        // phase 1 is the task-layout term, not in-task file cost
        println(s"""{"op":"filecost_layout","docs":$n,"mode":"default",""" +
          s""""few_files":$fewFiles,"many_files":$manyFiles,""" +
          s""""few_partitions":${parts(few)},""" +
          s""""many_partitions":${parts(many)}}""")
        probeRuns("default", few, fewFiles)
        probeRuns("default", many, manyFiles)
      }

      // ---- filecostcell tier: the filecost discriminator ON THE AGING
      // WORKLOAD'S OWN SHAPE — cell-partitioned IVFPQ layout, 55k-query
      // night-sized batch, nprobe=2, candidates=1 (exactly what regressed
      // 3.2× over five nights). Two clones of one index: compact (~1 file
      // per cell) and littered (6 sequential range-clustered appends per
      // cell ≈ the 5-night litter), probed under default confs. If the
      // per-file term lives here and not in the flat-layout experiment,
      // the mechanism is the partitioned tree × heavy broadcast-join
      // workload, not file opening per se.
      if (wanted("filecostcell")) {
        import graft.operators.IvfPqIndex
        val emb = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val src = s"$scratch/filecostcell_base_$n"
        val p = new org.apache.hadoop.fs.Path(src)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p))
          IvfPqIndex.save(emb, "doc_id", "embedding", src,
            numCells = 64, m = 8, ksub = 16, iterations = 1,
            trainFraction = 0.1)
        def fileCount(path: String): Long = {
          val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
          var c = 0L
          while (it.hasNext)
            if (it.next().getPath.getName.endsWith(".parquet")) c += 1
          c
        }
        def clone(tag: String, slices: Int): String = {
          val dst = s"$scratch/filecostcell_${tag}_$n"
          val dp = new org.apache.hadoop.fs.Path(dst)
          if (fs.exists(dp)) fs.delete(dp, true)
          fs.mkdirs(dp)
          Seq("codebooks", "centroids").foreach(d =>
            org.apache.hadoop.fs.FileUtil.copy(fs,
              new org.apache.hadoop.fs.Path(s"$src/$d"), fs,
              new org.apache.hadoop.fs.Path(s"$dst/$d"), false,
              spark.sparkContext.hadoopConfiguration))
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(s"$src/_graft_index_meta.json"),
            fs, new org.apache.hadoop.fs.Path(s"$dst/_graft_index_meta.json"),
            false, spark.sparkContext.hadoopConfiguration)
          val cells = spark.read.parquet(s"$src/cells")
          // `slices` sequential range-clustered appends ≈ one file per
          // cell per append — byte-for-byte the nightly litter shape
          (0 until slices).foreach { i =>
            cells.filter(pmod(col("vec_id"), lit(slices)) === i)
              .repartitionByRange(col("cell"))
              .write.mode("append").partitionBy("cell").parquet(s"$dst/cells")
          }
          println(s"""{"op":"filecostcell_clone","docs":$n,"tag":"$tag",""" +
            s""""slices":$slices,"files":${fileCount(s"$dst/cells")}}""")
          dst
        }
        val compactIdx = clone("compact", 1)
        val litterIdx = clone("litter", 6)
        // the night batch: ~n/18 standing docs as queries (≈55k at 1M)
        val night = emb.filter(pmod(col("doc_id"), lit(18)) === 7)
          .localCheckpoint(true)
        println(s"""{"op":"filecostcell_batch","docs":$n,""" +
          s""""n_queries":${night.count()}}""")
        timedRuns(n, "filecostcell_probe_compact")(() =>
          IvfPqIndex.probe(spark, compactIdx, night, "doc_id", "embedding",
            candidates = 1, nprobe = 2).count())
        timedRuns(n, "filecostcell_probe_litter")(() =>
          IvfPqIndex.probe(spark, litterIdx, night, "doc_id", "embedding",
            candidates = 1, nprobe = 2).count())
      }

      // ---- calibrate tier: the ADC-score-vs-exact-cosine curve per
      // geometry — the table that turns threshold picking from folklore
      // into a lookup. Sample = a hash slice of the corpus including its
      // identical-vector dup pairs (every 33rd doc), so the cosine≈1 bin
      // is populated; thresholds reported for target cosine 0.95 at 5%
      // miss quantile, for m=8 vs m=16 on the same 32-dim vectors.
      if (wanted("calibrate")) {
        import graft.operators.PqIndex
        val emb = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val sample = emb.filter(col("doc_id") < 2000).localCheckpoint(true)
        Seq(8, 16).foreach { m =>
          val idxPath = s"$scratch/calib_${m}_$n"
          val p = new org.apache.hadoop.fs.Path(idxPath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
          PqIndex.save(emb, "doc_id", "embedding", idxPath,
            m = m, ksub = 16, iterations = 2, trainFraction = 0.1)
          val t0 = System.nanoTime()
          val thr = PqIndex.adcThresholdFor(spark, idxPath, sample,
            "doc_id", "embedding", targetCosine = 0.95)
          val sec = math.rint((System.nanoTime() - t0) / 1e7) / 100
          val topBins = PqIndex.calibrate(spark, idxPath, sample,
              "doc_id", "embedding", bins = 20)
            .filter(col("cos_lo") >= 0.79).collect()
            .map(r => s"""{"cos_lo":${r.getDouble(0)},"n":${r.getLong(2)},""" +
              s""""adc_p05":${math.rint(r.getDouble(3) * 1000) / 1000},""" +
              s""""adc_p50":${math.rint(r.getDouble(4) * 1000) / 1000},""" +
              s""""adc_p95":${math.rint(r.getDouble(5) * 1000) / 1000}}""")
            .mkString("[", ",", "]")
          println(s"""{"op":"calibrate","docs":$n,"m":$m,"ksub":16,""" +
            s""""threshold_c095_q05":${math.rint(thr * 1000) / 1000},""" +
            s""""sec":$sec,"top_bins":$topBins}""")
        }
      }

      // ---- ivfpq aging tier: the aging evidence extended to the PRODUCTION
      // ANN layout — N nights of probe→append against ONE standing composed
      // (IVF+PQ) index. Each night probes a fresh embedding batch (10%
      // identical-vector copies of standing docs so the ADC drop path runs
      // every night), appends survivors' codes (touched cell directories
      // only), and logs probe/append seconds plus the index's file count;
      // then the full maintenance cycle runs — hottest-cell re-split
      // (codes move, never re-encode) and partition-scoped compaction —
      // and one more probe shows the steady-state cost after it.
      if (wanted("ivfpqaging")) {
        import graft.operators.IvfPqIndex
        val emb = spark.read.parquet(s"$scratch/docs_$n")
          .select(col("doc_id"), col("embedding"))
        val idxPath = s"$scratch/ivfpq_aging_idx_$n"
        val p = new org.apache.hadoop.fs.Path(idxPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true) // age from night 0 every run
        def fileCount(): Long = {
          val it = fs.listFiles(p, true)
          var c = 0L
          while (it.hasNext)
            if (it.next().getPath.getName.endsWith(".parquet")) c += 1
          c
        }
        val tb = System.nanoTime()
        IvfPqIndex.save(emb, "doc_id", "embedding", idxPath,
          numCells = 64, m = 8, ksub = 16, iterations = 1,
          trainFraction = 0.1)
        println(s"""{"op":"ivfpq_aging_build","docs":$n,""" +
          s""""sec":${math.rint((System.nanoTime() - tb) / 1e7) / 100},""" +
          s""""index_files":${fileCount()}}""")
        val nights = sys.env.get("SPARK_GRAFT_SCALE_NIGHTS")
          .flatMap(_.toIntOption).getOrElse(5)
        val batchN = math.max(1000L, n / 20) // 5% nightly growth
        def nightBatch(night: Int): DataFrame = {
          val fresh = corpus(spark, batchN, seed = night * 1000000007L)
            .select((col("doc_id") + night * 100000000L).as("doc_id"),
              col("embedding"))
          // identical-vector copies of standing docs: ADC scores them ≈ 1
          val dups = emb.filter(pmod(col("doc_id"), lit(200)) === night % 200)
            .select((col("doc_id") + night * 100000000L + 50000000L)
              .as("doc_id"), col("embedding"))
          fresh.unionByName(dups).localCheckpoint(true)
        }
        def probeNight(night: Int, append: Boolean): Unit = {
          val batch = nightBatch(night)
          try {
            val t0 = System.nanoTime()
            // best ADC match is candidate #1; ≥ 0.95 of the unit dot means
            // "standing twin" at these m/ksub (identical copies score ~1)
            val dropIds = IvfPqIndex.probe(spark, idxPath, batch,
                "doc_id", "embedding", candidates = 1, nprobe = 2)
              .filter(col("pq_score") >= 0.95)
              .select(col("query_id").as("doc_id"))
            val survivors = batch
              .join(dropIds, Seq("doc_id"), "left_anti").localCheckpoint(true)
            val nSurv = survivors.count()
            val t1 = System.nanoTime()
            if (append)
              IvfPqIndex.append(survivors, "doc_id", "embedding", idxPath)
            val t2 = System.nanoTime()
            def r2(a: Long, b: Long) = math.rint((b - a) / 1e7) / 100
            println(s"""{"op":"ivfpq_aging_night","docs":$n,"night":$night,""" +
              s""""batch":${batch.count()},"survivors":$nSurv,""" +
              s""""probe_sec":${r2(t0, t1)},"append_sec":${r2(t1, t2)},""" +
              s""""index_files":${fileCount()}}""")
          } finally graft.core.Caches.releaseAll()
        }
        (1 to nights).foreach(probeNight(_, append = true))
        // maintenance: split the hottest cell (codes byte-untouched), then
        // sweep the nightly append litter partition-scoped
        val hot = IvfPqIndex.cellStats(spark, idxPath).head().getInt(0)
        val tr = System.nanoTime()
        IvfPqIndex.resplitCell(spark, idxPath, hot, subCells = 4)
        println(s"""{"op":"ivfpq_aging_resplit","docs":$n,"cell":$hot,""" +
          s""""sec":${math.rint((System.nanoTime() - tr) / 1e7) / 100},""" +
          s""""index_files":${fileCount()}}""")
        val tc = System.nanoTime()
        val res = graft.ops.Compaction.compactPath(
          spark, s"$idxPath/cells", Seq("cell"))
        println(s"""{"op":"ivfpq_aging_compact","docs":$n,""" +
          s""""sec":${math.rint((System.nanoTime() - tc) / 1e7) / 100},""" +
          s""""files_before":${res.filesBefore},"files_after":${res.filesAfter},""" +
          s""""partitions":${res.partitionsSelected}}""")
        // post-maintenance probe (no append): steady-state after re-split +
        // compaction — routing now spans 67 cells and fewer files
        probeNight(nights + 1, append = false)
      }
    }
    spark.stop()
  }

  /** MERGE tier: a date-partitioned target (100 partitions) merged with a
    * 1% churn source confined to the LATEST date — the reference's nightly
    * incremental-load shape (ref: docs/KIMBALL_CDC_DATA_DESIGN.md:289-296,
    * MERGE at connector/snowpark_connector.py:919-1004). The SAME churn runs
    * through both paths of `Upsert.mergeIntoTable`: partition-scoped
    * (partition column among the merge keys → dynamic overwrite of the one
    * touched partition) and the full-rewrite fallback (partition column not
    * a key → whole-table copy-on-write). The reported `output_write_mb` gap
    * is the reason the scoped path exists. */
  private def mergeBench(spark: SparkSession, metrics: Metrics,
                         n: Long, runs: Int): Unit = {
    import graft.merge.Upsert
    val parts = 100
    val churn = math.max(2L, n / 100) // 1% of target rows
    val tbl = s"scale_merge_$n"

    def withPayload(d: DataFrame, tag: String): DataFrame = d
      .withColumn("dt", expr(s"date_add(DATE'2026-01-01', cast(id % $parts as int))"))
      .withColumn("payload",
        concat(lit(tag), md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string"))))

    def freshTarget(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      withPayload(spark.range(n).toDF("id"), "p")
        .write.partitionBy("dt").saveAsTable(tbl)
    }

    // updates: churn/2 existing keys, ALL in the last partition (ids ≡
    // parts-1 mod parts, in range while churn/2·parts ≤ n, i.e. churn ≤ 2%);
    // inserts: churn/2 brand-new keys dated into the same partition
    val updates = spark.range(churn / 2)
      .select((col("id") * parts + (parts - 1)).as("id"))
    val inserts = spark.range(churn - churn / 2).select((col("id") + n).as("id"))
    val source = withPayload(updates.unionAll(inserts), "u")
      .withColumn("dt", expr(s"date_add(DATE'2026-01-01', ${parts - 1})"))

    def run(name: String, keys: Seq[String]): Unit = {
      var inserted = 0L; var updated = 0L
      var writeMb = 0.0; var shufMb = 0L; var tasks = 0L
      val times = (1 to runs).map { _ =>
        freshTarget()
        org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
        metrics.reset()
        val t0 = System.nanoTime()
        val r = Upsert.mergeIntoTable(tbl, source, keys)
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
        inserted = r.inserted; updated = r.updated
        writeMb = math.rint(metrics.outputWritten.get / 1048576.0 * 100) / 100
        shufMb = metrics.shuffleWrite.get / 1048576
        tasks = metrics.tasks.get
        sec
      }
      val sorted = times.sorted
      val median =
        if (sorted.length % 2 == 1) sorted(sorted.length / 2)
        else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0
      def r2(v: Double): Double = math.rint(v * 100) / 100
      println(
        s"""{"op":"$name","docs":$n,"inserted":$inserted,"updated":$updated,""" +
        s""""sec":${r2(median)},"runs_n":$runs,""" +
        s""""run_secs":${times.map(r2).mkString("[", ",", "]")},""" +
        s""""output_write_mb":$writeMb,"shuffle_write_mb":$shufMb,""" +
        s""""tasks":$tasks}""")
    }

    // scoped: dt is a merge key → only the touched partition is rewritten.
    // full: dt is NOT a key → fallback path, whole-table rewrite. Same
    // post-merge contents either way (every churn row carries the last dt).
    run("merge_scoped", Seq("id", "dt"))
    run("merge_full", Seq("id"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
