package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product quantization (`Similarity.pqTrain` / `pqEncode` /
  * `knnPqAdc`): subspace codebooks, zero-shuffle encoding, ADC search
  * with exact re-rank. The e09/e10 gates prove the arithmetic against
  * the DuckDB oracle; here we pin the code contract, exactness at full
  * rerank width, and determinism.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8

  // two tight clusters along different axes plus outliers — 8-dim so
  // m=2 subspaces of 4
  private lazy val emb = Seq(
    (0L, Seq(1.0f, 0.9f, 0f, 0f, 1.0f, 0.9f, 0f, 0f)),
    (1L, Seq(0.9f, 1.0f, 0f, 0f, 0.9f, 1.0f, 0f, 0f)),
    (2L, Seq(0f, 0f, 1.0f, 0.9f, 0f, 0f, 1.0f, 0.9f)),
    (3L, Seq(0f, 0f, 0.9f, 1.0f, 0f, 0f, 0.9f, 1.0f)),
    (4L, Seq(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f)),
    (5L, Seq(1.0f, 0f, 0f, 1.0f, 0f, 1.0f, 1.0f, 0f))
  ).toDF("vec_id", "embedding")

  test("codebooks: m subspaces of k centroids, sub-dims wide") {
    val cb = Similarity.pqTrain(emb, m = 2, k = 3, dims = dims).collect()
    assert(cb.length == 6)
    assert(cb.map(_.getInt(0)).toSet == Set(0, 1))
    cb.foreach(r => assert(r.getSeq[Long](2).length == dims / 2))
  }

  test("codes: one index per subspace, all within [0, k)") {
    val cb = Similarity.pqTrain(emb, m = 2, k = 3, dims = dims)
    val codes = Similarity.pqEncode(emb, cb, m = 2, dims = dims).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == 6)
    codes.values.foreach { c =>
      assert(c.length == 2 && c.forall(x => x >= 0 && x < 3), s"codes $c")
    }
    // cluster mates must share codes; cross-cluster vectors must not
    assert(codes(0L) == codes(1L))
    assert(codes(2L) == codes(3L))
    assert(codes(0L) != codes(2L))
  }

  test("ADC with full-width rerank reproduces brute force exactly") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val codes = Similarity.pqEncode(corpus, cb, m = 2, dims = dims)
    val pq = Similarity.knnPqAdc(codes, cb, queries, corpus,
        k = 2, rerank = 4, m = 2, dims = dims)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toString).sorted.toSeq
    val brute = Similarity.knnBrute(corpus, queries, 2)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toString).sorted.toSeq
    assert(pq == brute)
  }

  test("narrow rerank still returns k ranked rows per query; deterministic") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val codes = Similarity.pqEncode(corpus, cb, m = 2, dims = dims)
    def run() = Similarity.knnPqAdc(codes, cb, queries, corpus,
        k = 2, rerank = 2, m = 2, dims = dims)
      .collect().map(_.toString).sorted.toSeq
    val out = run()
    assert(out.length == 4, s"2 queries × k=2: $out")
    assert(out == run())
  }

  test("on-disk index: bit-identical search, probed-cells partition pruning") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cents = Similarity.ivfTrain(corpus, k = 3)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val index = Similarity.ivfPqIndex(corpus, cents, cb, m = 2, dims = dims)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfpq").toString + "/idx"
    try {
      Similarity.writeIvfPqIndex(index, path)
      // one centroid_id=<c> directory per coarse cell
      val dirs = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
      assert(dirs.nonEmpty && dirs.forall(_.matches("centroid_id=\\d+")))

      val mem = Similarity.knnIvfPq(index, cents, cb, queries, corpus,
        k = 2, nprobe = 2, rerank = 10, m = 2, dims = dims)
      val disk = Similarity.knnIvfPqOnDisk(spark, path, cents, cb, queries,
        corpus, k = 2, nprobe = 2, rerank = 10, m = 2, dims = dims)
      assert(disk.collect().toSeq.sortBy(_.toString)
        == mem.collect().toSeq.sortBy(_.toString),
        "on-disk search must be bit-identical to the in-memory path")

      // the probe set must reach the FILE LISTING: the index scan's
      // PartitionFilters carries the probed centroid_id cells
      val scanLines = disk.queryExecution.executedPlan.toString
        .linesIterator.filter(l => l.contains("FileScan") && l.contains("idx"))
        .toSeq
      assert(scanLines.nonEmpty, "expected a FileScan of the on-disk index")
      assert(scanLines.forall(l => l.contains("PartitionFilters: [")
          && l.contains("centroid_id")),
        s"index scan must partition-prune on probed cells:\n${scanLines.mkString("\n")}")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(path).getParentFile)
    }
  }

  test("append under the frozen model equals the one-shot build") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cents = Similarity.ivfTrain(corpus, k = 3)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-app").toString
    val oneShot = root + "/one"
    val grown = root + "/grown"
    try {
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus, cents, cb, m = 2, dims = dims), oneShot)
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 2 === 0),
          cents, cb, m = 2, dims = dims), grown)
      Similarity.appendIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") % 2 === 1),
          cents, cb, m = 2, dims = dims), grown)
      // identical row sets on disk…
      def rows(p: String) = Similarity.readIvfPqIndex(spark, p)
        .collect().toSeq.sortBy(_.toString)
      assert(rows(grown) == rows(oneShot))
      // …and identical search results through the grown tree
      def search(p: String) = Similarity.knnIvfPqOnDisk(spark, p, cents,
          cb, queries, corpus, k = 2, nprobe = 2, rerank = 10, m = 2,
          dims = dims)
        .collect().toSeq.sortBy(_.toString)
      assert(search(grown) == search(oneShot))
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(root))
    }
  }

  test("non-contiguous centroid ids fail loudly, never mis-assign") {
    // the argmin-projection family uses the sorted POSITION as the
    // centroid id — a filtered/renumbered frame must be rejected, not
    // silently produce position-keyed assignments under the wrong ids
    val cents = Similarity.ivfTrain(emb, k = 3)
    val filtered = cents.filter(col("centroid_id") =!= 1)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(emb, filtered).collect()
    }
    assert(e1.getMessage.contains("contiguous"))
    val cb = Similarity.pqTrain(emb, m = 2, k = 3, dims = dims)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqEncode(emb, cb.filter(col("centroid_id") =!= 0),
        m = 2, dims = dims).collect()
    }
    assert(e2.getMessage.contains("contiguous"))
  }

  test("encode plan: zero shuffle — a pure projection over the scan") {
    val cb = Similarity.pqTrain(emb, m = 2, k = 3, dims = dims)
    val plan = Similarity.pqEncode(emb, cb, m = 2, dims = dims)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must not shuffle:\n$plan")
  }

  test("ivfPqIndex: matches ivfAssign cells + pqEncode codes, zero shuffle") {
    val cents = Similarity.ivfTrain(emb, k = 3)
    val cb = Similarity.pqTrain(emb, m = 2, k = 3, dims = dims)
    val index = Similarity.ivfPqIndex(emb, cents, cb, m = 2, dims = dims)
    val plan = index.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"index build must not shuffle:\n$plan")
    val got = index.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    val cells = Similarity.ivfAssign(emb, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val codes = Similarity.pqEncode(emb, cb, m = 2, dims = dims).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got.keySet == cells.keySet)
    got.foreach { case (id, (cell, code)) =>
      assert(cell == cells(id), s"cell mismatch for $id")
      assert(code == codes(id), s"codes mismatch for $id")
    }
  }

  test("knnIvfPq with all cells probed degrades to knnPqAdc exactly") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cents = Similarity.ivfTrain(corpus, k = 2)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val index = Similarity.ivfPqIndex(corpus, cents, cb, m = 2, dims = dims)
    val ivfpq = Similarity.knnIvfPq(index, cents, cb, queries, corpus,
        k = 2, nprobe = 2, rerank = 4, m = 2, dims = dims)
      .collect().map(_.toString).sorted.toSeq
    val adc = Similarity.knnPqAdc(
        index.select(col("vec_id"), col("codes")), cb, queries, corpus,
        k = 2, rerank = 4, m = 2, dims = dims)
      .collect().map(_.toString).sorted.toSeq
    assert(ivfpq == adc)
    // determinism
    assert(ivfpq == Similarity.knnIvfPq(index, cents, cb, queries, corpus,
      k = 2, nprobe = 2, rerank = 4, m = 2, dims = dims)
      .collect().map(_.toString).sorted.toSeq)
  }

  test("compactIvfPqIndex: many-epoch debris collapses to one file per " +
      "cell, row set and search unchanged") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cents = Similarity.ivfTrain(corpus, k = 3)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-compact").toString + "/idx"
    def filesPerCell(): Map[String, Int] = {
      val cells = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("centroid_id="))
      cells.map(c => c.getName ->
        c.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    try {
      // 4 epochs: one-shot build + 3 appends (one vector each, so
      // cluster-mates land as separate files in a shared cell)
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") === 2),
          cents, cb, m = 2, dims = dims), path)
      (3L to 5L).foreach(v => Similarity.appendIvfPqIndex(
        Similarity.ivfPqIndex(corpus.filter(col("vec_id") === v),
          cents, cb, m = 2, dims = dims), path))
      val before = filesPerCell()
      assert(before.values.exists(_ > 1),
        s"expected per-epoch file debris before compaction: $before")
      val rowsBefore = Similarity.readIvfPqIndex(spark, path)
        .collect().map(_.toString).sorted.toSeq
      val searchBefore = Similarity.knnIvfPqOnDisk(spark, path, cents, cb,
          queries, corpus, k = 2, nprobe = 2, rerank = 10, m = 2,
          dims = dims)
        .collect().map(_.toString).sorted.toSeq
      Similarity.compactIvfPqIndex(spark, path)
      val after = filesPerCell()
      assert(after.keySet == before.keySet, "compaction changed the cell set")
      assert(after.values.forall(_ == 1),
        s"compaction must leave whole-cell files: $after")
      assert(Similarity.readIvfPqIndex(spark, path)
        .collect().map(_.toString).sorted.toSeq == rowsBefore,
        "compaction changed the index row set")
      assert(Similarity.knnIvfPqOnDisk(spark, path, cents, cb, queries,
          corpus, k = 2, nprobe = 2, rerank = 10, m = 2, dims = dims)
        .collect().map(_.toString).sorted.toSeq == searchBefore,
        "compaction changed search results")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(path).getParentFile)
    }
  }

  test("a compaction swap interrupted mid-crash recovers: the index is " +
      "always reachable, never an empty path") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cents = Similarity.ivfTrain(corpus, k = 3)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-recover").toString + "/idx"
    try {
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus, cents, cb, m = 2, dims = dims), path)
      val expect = Similarity.readIvfPqIndex(spark, path)
        .collect().map(_.toString).sorted.toSeq
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      // crash between the aside-rename and the swap: dest missing, the
      // fully-staged tree present — the old delete-then-rename window
      // left NO tree here; now readIvfPqIndex finishes the swap
      fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(s"$path-compacting"))
      assert(Similarity.readIvfPqIndex(spark, path)
        .collect().map(_.toString).sorted.toSeq == expect,
        "read did not finish the interrupted swap")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path-compacting")))
      // crash between the swap and the old-tree delete: debris dropped
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path-old/garbage"))
      Similarity.appendIvfPqIndex(
        Similarity.ivfPqIndex(queries, cents, cb, m = 2, dims = dims), path)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path-old")),
        "append did not drop post-swap debris")
      assert(Similarity.readIvfPqIndex(spark, path).count() ==
        corpus.count() + queries.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(path).getParentFile)
    }
  }

  test("retrainIvfPqIndex: a stale-model tree retrained on the full " +
      "corpus equals the one-shot build; the tree carries its own model") {
    val corpus = emb
    val stale = emb.filter(col("vec_id") % 2 === 0)
    val cents0 = Similarity.ivfTrain(stale, k = 3)
    val cb0 = Similarity.pqTrain(stale, m = 2, k = 3, dims = dims)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-retrain").toString + "/idx"
    try {
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(stale, cents0, cb0, m = 2, dims = dims), path)
      Similarity.appendIvfPqIndex(
        Similarity.ivfPqIndex(emb.filter(col("vec_id") % 2 === 1),
          cents0, cb0, m = 2, dims = dims), path)
      val staleRows = Similarity.readIvfPqIndex(spark, path)
        .collect().map(_.toString).sorted.toSeq
      // a writeIvfPqIndex tree has no in-tree model: loud failure
      val err = intercept[IllegalArgumentException](
        Similarity.readIvfPqModel(spark, path))
      assert(err.getMessage.contains("_model"))
      val (centsR, cbR) = Similarity.retrainIvfPqIndex(spark, path, corpus,
        kCoarse = 3, m = 2, k = 3, dims = dims)
      // retrain == rebuild, bit for bit, under deterministic training
      val fresh = Similarity.ivfPqIndex(corpus,
          Similarity.ivfTrain(corpus, k = 3),
          Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims),
          m = 2, dims = dims)
        .collect().map(_.toString).sorted.toSeq
      val retrained = Similarity.readIvfPqIndex(spark, path)
        .collect().map(_.toString).sorted.toSeq
      assert(retrained == fresh,
        "retrained tree diverged from the one-shot full-corpus build")
      assert(retrained != staleRows,
        "retrain changed nothing — the stale model was not stale")
      // self-contained: the model read back from the tree IS the model
      // the retrain returned (and searches identically)
      val (centsT, cbT) = Similarity.readIvfPqModel(spark, path)
      assert(centsT.collect().map(_.toString).sorted.toSeq ==
        centsR.collect().map(_.toString).sorted.toSeq)
      assert(cbT.collect().map(_.toString).sorted.toSeq ==
        cbR.collect().map(_.toString).sorted.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(path).getParentFile)
    }
  }

  test("probe selectivity end-to-end: nprobe=2 of k_coarse=16 reads " +
      "exactly the probed directories") {
    val all = graft.Tables.df(spark, sf(), "embeddings")
    val corpus = all.filter(col("vec_id") >= 10)
    val queries = all.filter(col("vec_id") === 0L)
    val cents = Similarity.ivfTrain(corpus, k = 16)
    val cb64 = Similarity.pqTrain(corpus, m = 4, k = 8, dims = 64)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-probe").toString + "/idx"
    try {
      Similarity.writeIvfPqIndex(
        Similarity.ivfPqIndex(corpus, cents, cb64, m = 4, dims = 64), path)
      val cellDirs = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("centroid_id="))
        .map(d => d.getName.stripPrefix("centroid_id=").toInt -> d).toMap
      assert(cellDirs.size >= 8, s"degenerate coarse split: ${cellDirs.size}")
      val out = Similarity.knnIvfPqOnDisk(spark, path, cents, cb64,
        queries, corpus, k = 5, nprobe = 2, rerank = 20, m = 4, dims = 64)
      out.collect()
      // AQE wraps the final plan in adaptive/query-stage nodes whose
      // `children` are empty — descend explicitly to reach the scans
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: QueryStageExec => allScans(q.plan)
        case f: FileSourceScanExec => Seq(f)
      }.flatten
      val scans = allScans(out.queryExecution.executedPlan).filter(
        _.relation.location.rootPaths.exists(_.toString.contains("idx")))
      assert(scans.nonEmpty, "expected a FileScan of the on-disk index")
      val scan = scans.head
      // one query × nprobe=2 → the partition filter lists exactly the
      // two probed cells…
      val probed = "centroid_id[^\\]]*?IN \\(([-0-9,\\s]+)\\)".r
        .findFirstMatchIn(scan.toString)
        .map(_.group(1).split(",").map(_.trim.toInt).toSet)
        .getOrElse(fail(s"no IN partition filter in:\n$scan"))
      assert(probed.size == 2, s"nprobe=2 must probe 2 cells: $probed")
      // …and the scan's selected partitions / files match exactly the
      // probed directories that exist on disk
      val expectedDirs = probed.intersect(cellDirs.keySet)
      val expectedFiles = expectedDirs.toSeq
        .map(c => cellDirs(c).listFiles().count(_.getName.endsWith(".parquet")))
        .sum
      assert(scan.metrics("numPartitions").value == expectedDirs.size.toLong,
        s"selected partitions != probed dirs ($expectedDirs)")
      assert(scan.metrics("numFiles").value == expectedFiles.toLong,
        "files read != files under the probed dirs")
      assert(expectedDirs.size < cellDirs.size,
        "pruning demonstrated nothing: all cells were probed")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(path).getParentFile)
    }
  }

  test("deleteFromIvfPqIndex: exact row removal, idempotent, keeps _model, " +
      "never serves a deleted id") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val path = java.nio.file.Files
      .createTempDirectory("pq_delete").toString + "/idx"
    try {
      // a self-contained tree: _model must survive the delete swap
      Similarity.retrainIvfPqIndex(spark, path, corpus, kCoarse = 2,
        m = 2, k = 3, dims = dims)
      val before = Similarity.readIvfPqIndex(spark, path)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val takedown = Seq(3L, 5L, 999L).toDF("vec_id") // 999 absent
      Similarity.deleteFromIvfPqIndex(spark, path, takedown)
      val after = Similarity.readIvfPqIndex(spark, path)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(after == before -- Set(3L, 5L),
        s"exactly the present takedown ids vanish: $after")
      // idempotent: a re-run (the crash-recovery story) changes nothing
      Similarity.deleteFromIvfPqIndex(spark, path, takedown)
      val again = Similarity.readIvfPqIndex(spark, path)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(again == after)
      // the corpus-trained model rides through the swap and still
      // searches the survivor tree; no deleted id is ever served
      val (cents, cb) = Similarity.readIvfPqModel(spark, path)
      val out = Similarity.knnIvfPqOnDisk(spark, path, cents, cb,
        queries, corpus.filter(!col("vec_id").isin(3L, 5L)),
        k = 2, nprobe = 2, rerank = 4, m = 2, dims = dims).collect()
      assert(out.nonEmpty)
      assert(!out.exists(r => Set(3L, 5L)(r.getLong(1))),
        "a deleted vector must never be served as a neighbor")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(path).getParentFile)
    }
  }

  test("knnIvfPq narrow probe scores only probed cells") {
    val corpus = emb.filter(col("vec_id") >= 2)
    val queries = emb.filter(col("vec_id") < 2)
    val cents = Similarity.ivfTrain(corpus, k = 2)
    val cb = Similarity.pqTrain(corpus, m = 2, k = 3, dims = dims)
    val index = Similarity.ivfPqIndex(corpus, cents, cb, m = 2, dims = dims)
    val out = Similarity.knnIvfPq(index, cents, cb, queries, corpus,
        k = 4, nprobe = 1, rerank = 4, m = 2, dims = dims).collect()
    // every returned neighbor must live in a single cell per query
    val cellOf = index.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cells = rows.map(r => cellOf(r.getLong(1))).toSet
      assert(cells.size == 1, s"nprobe=1 must confine neighbors to one cell: $cells")
    }
  }

  test("trainIvfPq (concurrent) is bit-identical to the sequential pair") {
    // the r19 overlap: ivfTrain and pqTrain run on two Branches
    // threads at once — each chain's sweep sequence (and so its
    // integer-exact result) must be untouched by the scheduling
    val (cents, cb) = Similarity.trainIvfPq(emb, kCoarse = 2, m = 2,
      k = 3, dims = dims)
    val seqCents = Similarity.ivfTrain(emb, k = 2).collect().toSet
    val seqCb = Similarity.pqTrain(emb, m = 2, k = 3, dims = dims)
      .collect().toSet
    assert(cents.collect().toSet === seqCents)
    assert(cb.collect().toSet === seqCb)
  }
}
