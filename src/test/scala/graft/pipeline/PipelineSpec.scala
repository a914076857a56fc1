package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.sinks.{HyperBinary, HyperEquivalentSink}
import graft.sources.excel.XlsxWriter

/** End-to-end pipeline parity: reproduces the reference's committed
  * example run (run_main_example.py:10-59) — two workbooks, two queries
  * (one pivot-stacked, one positionally concatenated), exported to both
  * sinks — and asserts the golden output shapes from FIXTURES.md §1
  * (.hyper catalog DDL at hyperd.log:3513/3531).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Miniature consumer_complaints-shaped dataset. */
  private def complaintsDf = Seq(
    ("08/30/2013", "Mortgage", "Bank of America", "Closed with explanation", 511074L),
    ("09/03/2013", "Mortgage", "Bank of America", "Closed with explanation", 511080L),
    ("09/03/2013", "Credit reporting", "Bank of America", "Closed", 511090L),
    ("09/04/2013", "Credit card", "Wells Fargo & Company", "Closed", 511100L),
    ("09/05/2013", "Mortgage", "Wells Fargo & Company", "Closed", 511110L)
  ).toDF("date_received", "product", "company",
    "company_response_to_consumer", "complaint_id")

  private def setupDir(): String = {
    val dir = Files.createTempDirectory("pipeline-spec").toString
    // two byte-identical workbooks, like the committed
    // consumer_complaints.xlsx / consumer_complaints1.xlsx pair
    XlsxWriter.write(s"$dir/consumer_complaints.xlsx",
      Seq("Sheet1" -> complaintsDf))
    XlsxWriter.write(s"$dir/consumer_complaints1.xlsx",
      Seq("Sheet1" -> complaintsDf))
    // a non-Excel file that the directory matcher must ignore
    Files.write(Paths.get(dir, "notes.txt"), "ignore me".getBytes)
    dir
  }

  private def bundles = Seq(
    QueryBundle(
      queries = Seq(
        Query("complaint_counts_by_company",
          """SELECT company, product,
             COUNT(product) AS number_of_complaints
             FROM Sheet1.sheet
             WHERE company='Bank of America'
             GROUP BY company, product
             ORDER BY product""",
          pivotTable = true),
        Query("num_of_complaints_per_company",
          """SELECT company, COUNT(company) AS number_of_complaints
             FROM Sheet1.sheet GROUP BY company ORDER BY company""",
          pivotTable = false)),
      fileMatches = Seq("consumer_complaints.xlsx", "consumer_complaints1"),
      sheets = Seq("Sheet1"),
      exportFileName = "complaints_by_bank",
      format = ExportFormat.Hyper))

  test("directory matcher: extension filter, substring match, errors") {
    val dir = setupDir()
    val p = new Pipeline(spark, dir)
    val m = p.matchDirectoryFiles(Seq("consumer_complaints1", "consumer_complaints.xlsx"))
    assert(m("consumer_complaints1") == "consumer_complaints1.xlsx")
    assert(m("consumer_complaints.xlsx") == "consumer_complaints.xlsx")
    val e = intercept[IllegalArgumentException] {
      p.matchDirectoryFiles(Seq("nonexistent_match"))
    }
    assert(e.getMessage.contains("nonexistent_match"))

    val empty = Files.createTempDirectory("empty").toString
    intercept[IllegalArgumentException] {
      new Pipeline(spark, empty).matchDirectoryFiles(Seq("x"))
    }
  }

  test("sheet-ref rewrite: documented contract + punctuation edge (Q3)") {
    val q = Query("t", "SELECT * FROM Sheet1.sheet WHERE x=1", pivotTable = false)
    assert(q.formatQuery("consumer_complaints.xlsx") ==
      "SELECT * FROM consumer_complaints_Sheet1_sheet WHERE x=1")
    // trailing comma survives (the reference's split-on-space drops it)
    val q2 = Query("t", "SELECT a FROM Sheet1.sheet, Other.sheet WHERE 1=1",
      pivotTable = false)
    assert(q2.formatQuery("f.xlsx") ==
      "SELECT a FROM f_Sheet1_sheet, f_Other_sheet WHERE 1=1")
    // `.sheet` inside a longer identifier is not rewritten
    val q3 = Query("t", "SELECT sheetmetal FROM Sheet1.sheets", pivotTable = false)
    assert(q3.formatQuery("f.xlsx") == "SELECT sheetmetal FROM Sheet1.sheets")
  }

  test("full run: pivot stack + positional concat into hyper-equivalent sink") {
    val dir = setupDir()
    val outs = new Pipeline(spark, dir).run(bundles)
    assert(outs == Seq(s"$dir/complaints_by_bank.hyper"))

    val catalog = new String(Files.readAllBytes(
      Paths.get(dir, "complaints_by_bank.hyper", "catalog.json")))
    // golden DDL shapes (hyperd.log:3513 / 3531, FIXTURES.md §1)
    assert(catalog.contains(""""name":"complaint_counts_by_company""""))
    assert(catalog.contains(""""name":"index","type":"VARCHAR(1000)""""))
    assert(catalog.contains(""""name":"num_of_complaints_per_company""""))
    assert(catalog.contains(
      """"name":"consumer_complaints.xlsx_company","type":"VARCHAR(1000)""""))
    assert(catalog.contains(
      """"name":"consumer_complaints1_number_of_complaints","type":"BIGINT""""))

    // pivot table: index column carries the source file basename and the
    // two identical workbooks stack vertically
    val pivot = spark.read.parquet(
      s"$dir/complaints_by_bank.hyper/complaint_counts_by_company")
    assert(pivot.columns.toSeq ==
      Seq("index", "company", "product", "number_of_complaints"))
    val pivotRows = pivot.orderBy("index", "product").collect()
    assert(pivotRows.length == 4) // 2 files × 2 products for BofA
    assert(pivotRows(0) == Row("consumer_complaints",
      "Bank of America", "Credit reporting", 1L))
    assert(pivotRows(1) == Row("consumer_complaints",
      "Bank of America", "Mortgage", 2L))
    assert(pivotRows(2).getString(0) == "consumer_complaints1")

    // concat table: positionally aligned, match-prefixed columns
    val concat = spark.read.parquet(
      s"$dir/complaints_by_bank.hyper/num_of_complaints_per_company")
    assert(concat.columns.toSeq == Seq(
      "consumer_complaints.xlsx_company",
      "consumer_complaints.xlsx_number_of_complaints",
      "consumer_complaints1_company",
      "consumer_complaints1_number_of_complaints"))
    val concatRows = concat
      .orderBy("`consumer_complaints.xlsx_company`").collect()
    assert(concatRows.length == 2)
    assert(concatRows(0) == Row("Bank of America", 3L, "Bank of America", 3L))
    assert(concatRows(1) == Row("Wells Fargo & Company", 2L,
      "Wells Fargo & Company", 2L))

    // Q1 decision: views dropped once after the run
    assert(!spark.catalog.tableExists("consumer_complaints_Sheet1_sheet"))
  }

  /** Every entry of a zip file, name → content, in file order. Zip
    * headers carry timestamps, so workbooks compare entry by entry. */
  private def zipEntries(path: String): Seq[(String, Seq[Byte])] = {
    val zip = new java.util.zip.ZipFile(path)
    try zip.entries().asScala.map(e =>
      e.getName -> zip.getInputStream(e).readAllBytes().toSeq).toSeq
    finally zip.close()
  }

  private def bytes(path: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(path)).toSeq

  test("concurrent run writes the same bytes as the sinks called directly") {
    val dir = setupDir()
    val both = Seq(bundles.head,
      bundles.head.copy(exportFileName = "complaints_xl", format = ExportFormat.Excel))
    val outs = new Pipeline(spark, dir).run(both)
    assert(outs == Seq(s"$dir/complaints_by_bank.hyper", s"$dir/complaints_xl.xlsx"))

    // the same combined tables, handed to each sink directly
    val ref = Files.createTempDirectory("pipeline-direct").toString
    val p = new Pipeline(spark, dir)
    val matched = p.matchDirectoryFiles(both.flatMap(_.fileMatches).distinct)
    val fsheets = p.distinctFsheets(both, matched)
    p.registerViews(fsheets)
    try {
      val combined = p.combineBundle(both.head, matched)
      HyperBinary.write(s"$ref/extract.hyper", combined)
      new HyperEquivalentSink().write(s"$ref/sink.hyper", combined)
      XlsxWriter.write(s"$ref/direct.xlsx", combined)
    } finally p.dropViews(fsheets)

    val hyper = s"$dir/complaints_by_bank.hyper"
    assert(bytes(s"$hyper/extract.hyper") == bytes(s"$ref/extract.hyper"))
    assert(bytes(s"$hyper/catalog.json") == bytes(s"$ref/sink.hyper/catalog.json"))
    assert(bytes(s"$hyper/extract.hyper") == bytes(s"$ref/sink.hyper/extract.hyper"))
    assert(zipEntries(s"$dir/complaints_xl.xlsx") == zipEntries(s"$ref/direct.xlsx"))
  }

  test("a failing bundle is rethrown after the other bundle's file is complete") {
    val dir = setupDir()
    val failing = QueryBundle(
      queries = Seq(Query("boom",
        "SELECT CAST(raise_error('bundle boom') AS STRING) AS x FROM Sheet1.sheet",
        pivotTable = true)),
      fileMatches = Seq("consumer_complaints.xlsx"),
      sheets = Seq("Sheet1"),
      exportFileName = "broken",
      format = ExportFormat.Hyper)
    val good = bundles.head.copy(exportFileName = "good", format = ExportFormat.Excel)
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val viewsBefore = tempViews

    // the failing bundle comes first: run one bundle after another and
    // the good bundle would never have been written
    val err = intercept[Exception](new Pipeline(spark, dir).run(Seq(failing, good)))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("bundle boom")), err)

    val back = spark.read.format("excel")
      .option("sheet", "num_of_complaints_per_company")
      .load(s"$dir/good.xlsx")
    assert(back.count() == 2)
    assert(tempViews == viewsBefore, "no temp view outlives a failed run")
  }

  test("excel export: one sheet per query (A15)") {
    val dir = setupDir()
    val excelBundles = Seq(bundles.head.copy(format = ExportFormat.Excel))
    val outs = new Pipeline(spark, dir).run(excelBundles)
    // Q2 decision: suffix by chosen format, no `.hyper.xlsx` double suffix
    assert(outs == Seq(s"$dir/complaints_by_bank.xlsx"))
    val back = spark.read.format("excel")
      .option("sheet", "complaint_counts_by_company")
      .load(s"$dir/complaints_by_bank.xlsx")
    assert(back.count() == 4)
    val back2 = spark.read.format("excel")
      .option("sheet", "num_of_complaints_per_company")
      .load(s"$dir/complaints_by_bank.xlsx")
    assert(back2.count() == 2)
  }

  test("csv → excel utility honours the 1000-row cap (scratch.py parity)") {
    val dir = Files.createTempDirectory("csv-spec").toString
    val csv = s"$dir/in.csv"
    val lines = "id,name" +: (1 to 1500).map(i => s"$i,row$i")
    Files.write(Paths.get(csv), String.join("\n", lines: _*).getBytes)
    CsvToExcel.convert(spark, csv, s"$dir/out.xlsx")
    val back = spark.read.format("excel").load(s"$dir/out.xlsx")
    assert(back.count() == 1000)
    assert(back.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
  }
}
