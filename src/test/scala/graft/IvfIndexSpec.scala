package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, Tables}
import graft.operators.{IvfIndex, Similarity}

/**
 * Lifecycle proof for the persisted IVF index: save → probe must equal the
 * in-memory [[Similarity.ivfTopK]] exactly; append must make a new batch
 * visible to later probes under the ORIGINAL centroids; a probe must read
 * only the cell directories its queries touch (partition pruning at the
 * scan); and multi-probe recall must reach brute force at
 * nprobe = numCentroids.
 */
class IvfIndexSpec extends AnyFunSuite with SparkSpec {

  private lazy val emb =
    Tables.load(GraftSession.install(spark), "/root/testdata/sf0.001", "embeddings")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank").cast("int"), col("cosine"))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  test("save → probe equals in-memory ivfTopK exactly") {
    val path = TempDirs.create("graft-ivfindex").resolve("idx").toString
    IvfIndex.save(emb, "vec_id", "embedding", path, numCentroids = 8)
    val q = emb.filter(col("vec_id") < 5)
    val persisted = rows(IvfIndex.probe(spark, path, q, "vec_id", "embedding", k = 5))
    val inMemory = rows(Similarity.ivfTopK(q, emb, "vec_id", "vec_id",
      "embedding", "embedding", k = 5, numCentroids = 8))
    assert(persisted.nonEmpty && persisted == inMemory)
  }

  test("append makes a batch probeable under the original centroids") {
    val path = TempDirs.create("graft-ivfindex").resolve("idx2").toString
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    IvfIndex.save(half1, "vec_id", "embedding", path, numCentroids = 8)
    IvfIndex.append(half2, "vec_id", "embedding", path)
    val q = emb.filter(col("vec_id") < 5)
    val persisted = rows(IvfIndex.probe(spark, path, q, "vec_id", "embedding", k = 5))
    // reference: in-memory IVF over the FULL corpus pinned to the centroids
    // the index was built from (save derived them from half1 only)
    val expected = rows(Similarity.ivfTopK(q, emb, "vec_id", "vec_id",
      "embedding", "embedding", k = 5,
      centroids = Some(IvfIndex.loadCentroids(spark, path))))
    assert(persisted.nonEmpty && persisted == expected)
  }

  test("probe reads only the touched cell directories") {
    val path = TempDirs.create("graft-ivfindex").resolve("idx3").toString
    IvfIndex.save(emb, "vec_id", "embedding", path, numCentroids = 8)
    val nCells = IvfIndex.cellStats(spark, path).count()
    assert(nCells > 1, s"need multiple cells for a pruning test, got $nCells")
    val oneQuery = emb.filter(col("vec_id") === 0)
    val probe = IvfIndex.probe(spark, path, oneQuery, "vec_id", "embedding", k = 3)
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansIn(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansIn(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      }.flatten
    val scans = scansIn(probe.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("idx3/cells")))
    assert(scans.nonEmpty, "probe plan must scan the persisted cells")
    assert(scans.forall(_.partitionFilters.exists(_.toString.contains("cell"))),
      s"cell list must prune partitions:\n${scans.map(_.partitionFilters).mkString}")
    val filesRead = scans.map(f =>
      f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
        .flatMap(_.files).map(_.getPath.toString)).head
    val dirs = filesRead.map(_.replaceAll(".*/(cell=\\d+)/.*", "$1")).distinct
    assert(dirs.size == 1,
      s"a single query probes exactly its own cell, read: $dirs")
  }

  test("nprobe = numCentroids recovers brute-force results") {
    val path = TempDirs.create("graft-ivfindex").resolve("idx4").toString
    IvfIndex.save(emb, "vec_id", "embedding", path, numCentroids = 4)
    val q = emb.filter(col("vec_id") < 3)
    val all = rows(IvfIndex.probe(spark, path, q, "vec_id", "embedding",
      k = 5, nprobe = 4))
    val brute = rows(Similarity.bruteForceTopK(q, emb, "vec_id", "vec_id",
      "embedding", "embedding", k = 5))
    assert(all.nonEmpty && all == brute)
  }

  test("append litter compacts away with Compaction; probes unchanged") {
    val path = TempDirs.create("graft-ivfindex").resolve("idx6").toString
    val thirds = (0 to 2).map(r => emb.filter(col("vec_id") % 3 === r))
    IvfIndex.save(thirds.head, "vec_id", "embedding", path, numCentroids = 4)
    thirds.tail.foreach(IvfIndex.append(_, "vec_id", "embedding", path))
    val q = emb.filter(col("vec_id") < 5)
    val before = rows(IvfIndex.probe(spark, path, q, "vec_id", "embedding", k = 5))
    // per-append files accumulate: some cell dir holds >1 file
    def filesPerCell() = {
      val root = new java.io.File(new java.net.URI("file://" + path + "/cells"))
      root.listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(f =>
          f.getName.endsWith(".parquet"))).toMap
    }
    assert(filesPerCell().values.max > 1, s"appends must litter: ${filesPerCell()}")
    // the index is an ordinary cell-partitioned table — the engine's own
    // maintenance operator sweeps it
    val res = graft.ops.Compaction.compactPath(spark, path + "/cells",
      Seq("cell"), targetFileBytes = 512L * 1024 * 1024)
    assert(res.filesAfter < res.filesBefore, res.toString)
    assert(filesPerCell().values.max == 1, s"post-compaction: ${filesPerCell()}")
    val after = rows(IvfIndex.probe(spark, path, q, "vec_id", "embedding", k = 5))
    assert(after == before, "compaction must not change probe results")
  }

  test("non-numeric centroid ids fail with the contract error, not an NPE") {
    import graft.functions.Vectors
    val path = TempDirs.create("graft-ivfindex").resolve("idx7").toString
    // string cent_ids cast-to-long as null — must raise the partition-value
    // contract message instead of an opaque NullPointerException
    val strCents = emb.limit(4)
      .select(concat(lit("u"), col("vec_id")).as("cent_id"),
        Vectors.quantize(col("embedding")).as("__cent"))
      .withColumn("__centn", Vectors.dotQ(col("__cent"), col("__cent")))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.save(emb, "vec_id", "embedding", path, centroids = Some(strCents))
    }
    assert(e.getMessage.contains("INT partition values"), e.getMessage)
  }

  test("probe/append fail fast on dims or quantization drift (checkParams parity)") {
    val path = TempDirs.create("graft-ivfindex").resolve("idx8").toString
    IvfIndex.save(emb, "vec_id", "embedding", path, numCentroids = 4)
    val p = IvfIndex.readParams(spark, path)
    assert(p.get("kind").contains("ivf") && p.contains("dims") &&
      p.get("numCentroids").contains("4") &&
      p.get("quantization").contains(IvfIndex.QuantizationVersion), p.toString)
    // a 4-dim slice of the corpus vectors drifts from the saved geometry —
    // without the guard this throws deep in the scorer or silently mis-ranks
    val drifted = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), slice(col("embedding"), 1, 4).as("embedding"))
    val e1 = intercept[IllegalStateException] {
      IvfIndex.probe(spark, path, drifted, "vec_id", "embedding", k = 3)
    }
    assert(e1.getMessage.contains("dimensions"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      IvfIndex.append(drifted, "vec_id", "embedding", path)
    }
    assert(e2.getMessage.contains("dimensions"), e2.getMessage)
    // quantization drift: overwrite the marker (same file both index
    // families share) with a future scheme version
    graft.operators.BandIndex.recordParams(spark, path,
      p.updated("quantization", "int-1e9-v9"))
    val e3 = intercept[IllegalStateException] {
      IvfIndex.probe(spark, path, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3)
    }
    assert(e3.getMessage.contains("quantiz"), e3.getMessage)
  }

  test("resplitCell rewrites only the hot cell; probes identical; others byte-untouched") {
    import spark.implicits._
    import graft.functions.Vectors
    val path = TempDirs.create("graft-ivfindex").resolve("idx9").toString
    // three tight, well-separated clusters in 4-d: X on e1 (ids 0-9),
    // Y on e2 (even ids 100-118), Z on e3 (odd ids 101-119). Centroid c1
    // sits between Y and Z, so cell 1 holds BOTH (2/3 of the corpus — the
    // injected hot cell); interleaved ids put one k-means seed in each
    // sub-cluster (seeds are the cell's two smallest ids: 100∈Y, 101∈Z).
    def v(main: Int, i: Int) = Array.tabulate(4)(d =>
      (if (d == main) 1.0f else 0.0f) + (if (d == 3) 0.01f * (i % 5) else 0.0f))
    val corpus = ((0 until 10).map(i => (i.toLong, v(0, i))) ++
      (0 until 10).map(i => (100L + 2 * i, v(1, i))) ++
      (0 until 10).map(i => (101L + 2 * i, v(2, i)))).toDF("id", "vec")
    val cents = Seq(
        (0, Array(1.0f, 0.0f, 0.0f, 0.0f)),
        (1, Array(0.0f, 0.7f, 0.7f, 0.0f))).toDF("cent_id", "cvec")
      .select(col("cent_id"), Vectors.quantize(col("cvec")).as("__cent"))
      .withColumn("__centn", Vectors.dotQ(col("__cent"), col("__cent")))
    IvfIndex.save(corpus, "id", "vec", path, centroids = Some(cents))
    val mass = IvfIndex.cellStats(spark, path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(mass == Map(0 -> 10L, 1 -> 20L), s"hot cell must exist: $mass")

    def cell0Files() = {
      val d = new java.io.File(new java.net.URI("file://" + path + "/cells/cell=0"))
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    }
    val queries = corpus.filter(col("id").isin(0L, 100L, 101L))
    val before = rows(IvfIndex.probe(spark, path, queries, "id", "vec", k = 3))
    val cell0Before = cell0Files()

    IvfIndex.resplitCell(spark, path, cell = 1, subCells = 2)

    // the cold cell's files never moved; the hot cell is gone, replaced by
    // two sub-cells above the old id range that split its mass
    assert(cell0Files() == cell0Before, "cell 0 must be byte-untouched")
    val after = IvfIndex.cellStats(spark, path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(!after.contains(1) && after(0) == 10L &&
      after.keySet == Set(0, 2, 3) && after(2) + after(3) == 20L &&
      after(2) == 10L && after(3) == 10L,
      s"mass must re-split into the sub-cells: $after")
    // probes route through the sub-centroids to the SAME answers (each
    // query's true neighbors live in its own sub-cluster)
    assert(rows(IvfIndex.probe(spark, path, queries, "id", "vec", k = 3)) == before)
    // the marker reflects the new centroid count
    assert(IvfIndex.readParams(spark, path).get("numCentroids").contains("3"))
  }

  test("cellStats accounts for every corpus vector, largest cell first") {
    val path = TempDirs.create("graft-ivfindex").resolve("idx5").toString
    IvfIndex.save(emb, "vec_id", "embedding", path, numCentroids = 8)
    val stats = IvfIndex.cellStats(spark, path).collect()
    assert(stats.map(_.getLong(1)).sum == emb.count())
    assert(stats.map(_.getLong(1)).toSeq == stats.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("writes are cell-range-clustered: file count ~ cells, not tasks x cells") {
    // without the range cluster every upstream task writes into every cell
    // directory it touches (tasks × cells files — millions at cluster
    // scale); with it, AQE coalesces this small frame so each cell
    // directory holds ONE file after save and at most one more per append
    val path = TempDirs.create("graft-ivfindex").resolve("idx6").toString
    IvfIndex.save(emb.repartition(8), "vec_id", "embedding", path,
      numCentroids = 4)
    def perCell: Map[String, Int] =
      Option(new java.io.File(path, "cells").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    val afterSave = perCell
    assert(afterSave.nonEmpty && afterSave.values.forall(_ == 1),
      s"one clustered file per cell after save, got $afterSave")
    IvfIndex.append(emb.repartition(8)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")),
      "vec_id", "embedding", path)
    assert(perCell.values.forall(_ <= 2),
      s"at most one new file per touched cell per append, got $perCell")
  }
}
