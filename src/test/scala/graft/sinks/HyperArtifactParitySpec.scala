package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ExportFormat, Pipeline, Query, QueryBundle}
import graft.plans.{GraftSparkExtensions, SqliteBareColumnRule}

/** Golden-DATA parity with the reference's committed artifact: decode
  * `complaints_by_bank.hyper`'s column records into rows (HyperArtifact,
  * the round-6 decode of the directory record formats), run the
  * reference's two committed queries (run_main_example.py:14-23)
  * end-to-end through Pipeline over the committed workbooks, and compare
  * row multisets. This is the strongest reference-parity proof available
  * to the repo: the expected rows come from the reference's own binary
  * output, not from a re-derivation, and the run exercises the Excel
  * DSv2 source (A1), name rewrite (A7), prefix rename (A10), pivot
  * stack (A11), positional concat (A12), and the SQLite bare-column
  * rule (B7) on the reference's own data.
  *
  * Query 2 carries the `as number_of_complaints` alias — the committed
  * artifact's catalog names its columns
  * `consumer_complaints.xlsx_number_of_complaints`, so the artifact was
  * produced by the aliased query text (hyperd.log also records earlier
  * sessions of an unaliased variant whose DDL says `..._COUNT(company)`;
  * the catalog inside the committed bytes is authoritative).
  */
class HyperArtifactParitySpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  private val artifactPath = "/root/reference/complaints_by_bank.hyper"
  private val referenceDir = "/root/reference"

  private var saved: Option[SparkSession] = None

  // the committed query 1 needs the SQLite bare-column resolution rule
  // (`company` selected, only `product` grouped), so this suite builds
  // its own session with GraftSparkExtensions, like SqliteCompatSpec
  private lazy val spark: SparkSession = {
    saved = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-artifact-parity")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftSparkExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    saved.foreach { orig =>
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
    super.afterAll()
  }

  /** The committed bundle, verbatim from run_main_example.py:10-28. */
  private def committedBundle = QueryBundle(
    queries = Seq(
      Query("complaint_counts_by_company",
        "SELECT company, product, " +
          "COUNT(product) as number_of_complaints " +
          "FROM Sheet1.sheet " +
          "WHERE company='Bank of America' " +
          "GROUP BY product " +
          "HAVING COUNT(company_response_to_consumer)>10",
        pivotTable = true),
      Query("num_of_complaints_per_company",
        "SELECT company, COUNT(company) as number_of_complaints " +
          "FROM Sheet1.sheet " +
          "GROUP BY company",
        pivotTable = false)),
    fileMatches = Seq("consumer_complaints.xlsx", "consumer_complaints1.xlsx"),
    sheets = Seq("Sheet1"),
    exportFileName = "complaints_by_bank",
    format = ExportFormat.Hyper)

  /** Rows normalized for multiset comparison: strings as-is, integral
    * values widened to Long (the artifact stores Integer, Spark's COUNT
    * returns BigInt).
    */
  private def multiset(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.map(_.map {
      case i: Int => i.toLong
      case l: Long => l
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  test("artifact column records decode into the golden rows") {
    val tables = HyperArtifact.decodeTables(ReferenceInputs.file(artifactPath))
    assert(tables.map(_._1) ==
      Seq("complaint_counts_by_company", "num_of_complaints_per_company"))
    val Seq((_, s1, r1), (_, s2, r2)) = tables

    assert(s1.fieldNames.toSeq ==
      Seq("index", "company", "product", "number_of_complaints"))
    assert(r1.size == 6)
    // hyperd.log's sample-compute record for this table reproduces from
    // the decoded counts: sum 188, sum of squares 8356, sum of cubes
    // 451652, two distinct values over six rows
    val counts = r1.map(_.getInt(3))
    assert(counts.sum == 188)
    assert(counts.map(c => c * c).sum == 8356)
    assert(counts.map(c => c.toLong * c * c).sum == 451652L)
    assert(counts.distinct.sorted == Seq(17, 60))
    assert(r1.forall(_.getString(1) == "Bank of America"))
    assert(r1.map(_.getString(0)).distinct.sorted ==
      Seq("consumer_complaints", "consumer_complaints1"))
    assert(r1.map(_.getString(2)).distinct.sorted ==
      Seq("Bank account or service", "Credit card", "Mortgage"))

    assert(s2.fieldNames.toSeq == Seq(
      "consumer_complaints.xlsx_company",
      "consumer_complaints.xlsx_number_of_complaints",
      "consumer_complaints1.xlsx_company",
      "consumer_complaints1.xlsx_number_of_complaints"))
    assert(r2.size == 202)
    // twin workbooks: the two company columns decode identically, as do
    // the two count columns
    assert(r2.forall(r => r.getString(0) == r.getString(2)))
    assert(r2.forall(r => r.getInt(1) == r.getInt(3)))
    assert(r2.map(_.getString(0)).distinct.size == 202)
    assert(r2.head.getString(0) == "AES/PHEAA")
  }

  test("column binding records: exact ordinals and LZ4 flags for all 8 blocks") {
    val data = ReferenceInputs.bytes(artifactPath)
    val bindings = HyperArtifact.scanBindings(data)
    val byOffset = bindings.map(b => b.blockOffset -> b).toMap
    // every decoded column block has exactly one binding record
    val cols = HyperArtifact.scanColumns(data)
    assert(cols.size == 8)
    assert(cols.forall(c => byOffset.contains(c.offset)))
    // table 1 DDL order: index, company, product, number_of_complaints
    assert(Seq(0x2880L, 0x2900L, 0x2980L, 0x2a80L)
      .map(o => byOffset(o).ordinal) == Seq(1, 2, 3, 4))
    assert(Seq(0x2880L, 0x2900L, 0x2980L, 0x2a80L)
      .forall(o => byOffset(o).tableIndex == 0))
    // table 2 DDL order — the third column (company1) is the block that
    // overflowed past the genesis block to 0x8540
    assert(Seq(0x2bc0L, 0x4bc0L, 0x8540L, 0x4dc0L)
      .map(o => byOffset(o).ordinal) == Seq(1, 2, 3, 4))
    assert(Seq(0x2bc0L, 0x4bc0L, 0x8540L, 0x4dc0L)
      .forall(o => byOffset(o).tableIndex == 1))
    // flag bit 8 = LZ4-framed; raw + constant-string records have it clear
    assert(Seq(0x2880L, 0x2980L, 0x2a80L, 0x4bc0L, 0x4dc0L)
      .forall(o => byOffset(o).lz4))
    assert(Seq(0x2900L, 0x2bc0L, 0x8540L).forall(o => !byOffset(o).lz4))
    // slot sizes tile the layout: offset + slot lands on the next
    // block's offset for the directory-resident records
    assert(byOffset(0x2bc0L).slotSize == 0x2000 &&
      byOffset(0x2bc0L).blockOffset + byOffset(0x2bc0L).slotSize == 0x4bc0L)
  }

  test("object arena (header 0x40) walks to the artifact's complete directory") {
    val data = ReferenceInputs.bytes(artifactPath)
    // live arena: header word 0x40 → descriptor 0xa540, exponent 8,
    // 16 records, zero junk slots (a single malformed slot would void
    // the walk — readObjectArena returns empty then)
    val live = HyperArtifact.readObjectArena(data)
    assert(live.size == 16)
    assert(live.groupBy(_.objType).view.mapValues(_.size).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 10, 5 -> 2))
    // the 8 column records carried by the arena ARE the round-6 bindings
    val colRecs = live.filter(r => r.objType == 4 && r.ordinal >= 1)
    assert(colRecs.map(_.blockOffset).sorted ==
      Seq(0x2880L, 0x2900L, 0x2980L, 0x2a80L, 0x2bc0L, 0x4bc0L, 0x4dc0L, 0x8540L))
    // type 2 = the live catalog at 0x2000; type 1 = the genesis header
    assert(live.find(_.objType == 2).get.blockOffset == 0x2000L)
    assert(live.find(_.objType == 1).get.blockOffset == 0x5080L)
    // row-count objects (type 4 ord 0) point at the known records
    assert(live.filter(r => r.objType == 4 && r.ordinal == 0)
      .map(r => (r.tableIndex, r.blockOffset)).sorted ==
      Seq((0, 0x2840L), (1, 0x2b80L)))

    // genesis arena at its fixed genesis-page position 0x54c0: the same
    // geometry, holding exactly the genesis-state objects — and the
    // SAME keys land in the SAME slots as in the live arena, proving
    // slot choice is a pure key hash (the one unidentified field)
    val genesis = HyperArtifact.readObjectArenaAt(data, 0x54c0L)
    assert(genesis.size == 2)
    assert(genesis.map(r => (r.objType, r.blockOffset)).sorted ==
      Seq((1, 0x5080L), (2, 0x50c0L)))
    val liveSlotOf = live.map(r => (r.objType, r.ordinal, r.tableIndex) -> r.slot).toMap
    assert(genesis.forall(g =>
      liveSlotOf((g.objType, g.ordinal, g.tableIndex)) == g.slot))
  }

  test("native-encoding writer round-trips through the artifact decoder") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // two tables with the SAME row count: forces the binding-record
    // grouping path (row-count grouping cannot tell them apart); covers
    // inline <=3-char dictionary strings, a constant-string record,
    // LZ4-framed varchar + int blocks, and exact ordinal assignment
    val s1 = StructType(Seq(
      StructField("name", StringType), StructField("tag", StringType),
      StructField("n", IntegerType)))
    val r1 = Seq(
      Row("alpha corporation", "fixed", 17),
      Row("NY", "fixed", 60),
      Row("beta industries", "fixed", 17),
      Row("NY", "fixed", 200),
      Row("gamma holdings ltd", "fixed", 17))
    val s2 = StructType(Seq(
      StructField("v", IntegerType), StructField("k", StringType)))
    val r2 = Seq(
      Row(5, "one"), Row(1, "two"), Row(5, "three"), Row(9, "four"), Row(1, "five"))
    val path = Files.createTempDirectory("hyper-native").resolve("native.hyper").toString
    HyperArtifact.writeNative(path, Seq(("t_one", s1, r1), ("t_two", s2, r2)))

    val bindings = HyperArtifact.scanBindings(
      Files.readAllBytes(Paths.get(path)))
    assert(bindings.size == 5)
    assert(bindings.map(b => (b.tableIndex, b.ordinal)).sorted ==
      Seq((0, 1), (0, 2), (0, 3), (1, 1), (1, 2)))

    val back = HyperArtifact.decodeTables(path)
    assert(back.map(_._1) == Seq("t_one", "t_two"))
    val Seq((_, bs1, br1), (_, bs2, br2)) = back
    assert(bs1.fieldNames.toSeq == Seq("name", "tag", "n"))
    assert(bs2.fieldNames.toSeq == Seq("v", "k"))
    assert(br1.map(_.toSeq) == r1.map(_.toSeq))
    assert(br2.map(_.toSeq) == r2.map(_.toSeq))

    // r7: the written file carries BOTH arenas in the artifact's
    // geometry — the live arena (header 0x40) indexes every object type
    // exactly as the artifact does, with the frame-verified region
    // (header 0x48/0x50 = frame offset / region size) and a trailing
    // 0x1ada1ada extent record; the genesis arena sits at
    // genesisOffset + 0x440 with the two genesis-state objects
    val nData = Files.readAllBytes(Paths.get(path))
    val live = HyperArtifact.readObjectArena(nData)
    assert(live.groupBy(_.objType).view.mapValues(_.size).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 7, 5 -> 2)) // 2 rowcounts + 5 columns
    val nBuf = java.nio.ByteBuffer.wrap(nData)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(nBuf.getLong(0x48) == 0x3070L && nBuf.getLong(0x50) == 0x3080L)
    // genesis is located through the arena's type-1 object, as hyperd's
    // reader would — not through any header word
    val genesisOffset = live.find(_.objType == 1).get.blockOffset
    val gen = HyperArtifact.readObjectArenaAt(nData, genesisOffset + 0x440)
    assert(gen.map(_.objType).sorted == Seq(1, 2))
    assert(gen.find(_.objType == 1).get.blockOffset == genesisOffset)
    // corrupting one arena byte must void the frame → decodeTables
    // falls back to the scan path and still round-trips
    val arenaPtr = nBuf.getLong(0x40)
    nData((arenaPtr + 0x100).toInt) = (nData((arenaPtr + 0x100).toInt) ^ 0x7f).toByte
    val corrupt = Files.createTempDirectory("hyper-corrupt").resolve("c.hyper")
    Files.write(corrupt, nData)
    assert(HyperArtifact.readObjectArena(nData).isEmpty)
    val viaScan = HyperArtifact.decodeTables(corrupt.toString)
    assert(viaScan.map(_._1) == Seq("t_one", "t_two"))
  }

  test("Pipeline over the committed workbooks reproduces the artifact row-for-row") {
    assume(Files.exists(Paths.get(artifactPath)))
    val workDir = Files.createTempDirectory("artifact-parity").toString
    Seq("consumer_complaints.xlsx", "consumer_complaints1.xlsx").foreach { f =>
      Files.copy(Paths.get(ReferenceInputs.file(s"$referenceDir/$f")), Paths.get(workDir, f),
        StandardCopyOption.REPLACE_EXISTING)
    }

    spark.conf.set(SqliteBareColumnRule.ConfKey, "true")
    try {
      val p = new Pipeline(spark, workDir)
      val bundle = committedBundle
      val matched = p.matchDirectoryFiles(bundle.fileMatches)
      val fsheets = p.distinctFsheets(Seq(bundle), matched)
      p.registerViews(fsheets)
      val combined: Seq[(String, DataFrame)] =
        try p.combineBundle(bundle, matched)
        finally p.dropViews(fsheets)

      val decoded = HyperArtifact.decodeTables(ReferenceInputs.file(artifactPath)).map {
        case (name, schema, rows) => name -> (schema, rows)
      }.toMap

      combined.foreach { case (name, df) =>
        val (artSchema, artRows) = decoded(name)
        assert(df.columns.toSeq == artSchema.fieldNames.toSeq,
          s"$name: column names differ from the artifact's catalog")
        val ours = df.collect().toSeq.map(_.toSeq)
        val golden = artRows.map(_.toSeq)
        assert(ours.size == golden.size, s"$name: row count")
        assert(multiset(ours) == multiset(golden),
          s"$name: row multiset differs from the decoded artifact")
      }
    } finally spark.conf.unset(SqliteBareColumnRule.ConfKey)
  }
}
