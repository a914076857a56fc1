package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.{Fixtures, SparkEntry}
import graft.pipeline.{ExportFormat, Pipeline, Query, QueryBundle}
import graft.sinks.{HyperBinary, HyperEquivalentSink}
import graft.sources.excel.XlsxWriter

import Main.{Op, describe, median, timed, treeBytes}

object Workloads {
  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  /** Median over `spans` named `name` of the per-pass sum of `f`. */
  def perPass(tracer: Tracer, passes: Seq[Span], name: String)(f: Span => Double): Double =
    median(passes.map(p => tracer.subtree(p).filter(_.name == name).map(f).sum))
}

/** Excel → SQL → Hyper/xlsx: the paper's batch job, `Pipeline.run`, over
  * workbooks that [[XlsxWriter]] writes from parquet slices at set-up.
  */
final class EtlWorkload(cfg: Main.Config, node: JsonNode) extends Workload {
  import Workloads._

  private val workbooks: Seq[(String, Seq[(String, String)])] =
    node.get("workbooks").elements.asScala.map { w =>
      w.get("name").asText ->
        w.get("sheets").fields.asScala.map(e => e.getKey -> e.getValue.asText).toSeq
    }.toSeq

  private val bundles: Seq[QueryBundle] =
    node.get("bundles").elements.asScala.map { b =>
      QueryBundle(
        b.get("queries").elements.asScala.map(q =>
          Query(q.get("name").asText, q.get("sql").asText, q.get("pivot").asBoolean)).toSeq,
        strings(b.get("matches")),
        strings(b.get("sheets")),
        b.get("export").asText,
        if (b.get("format").asText == "hyper") ExportFormat.Hyper else ExportFormat.Excel)
    }.toSeq

  /** Working directory of the latest set-up: its workbooks and outputs. */
  private var dir: Path = _
  private var outputRows = 0L

  def inputs(spark: SparkSession, i: Int): Double = {
    dir = cfg.work.resolve(s"setup$i")
    Files.createDirectories(dir)
    val (s, err) = timed(workbooks.foreach { case (name, sheets) =>
      XlsxWriter.write(dir.resolve(name + ".xlsx").toString,
        sheets.map { case (sheet, parquet) => sheet -> spark.read.parquet(parquet) })
    })
    err.foreach(e => throw e)
    s
  }

  def firstPass(spark: SparkSession): Double = {
    val (s, err) = timed(new Pipeline(spark, dir.toString).run(bundles))
    err.foreach(e => throw e)
    s
  }

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer],
      ops: mutable.ArrayBuffer[Op]): Unit = {
    val (s, err) = timed(tracer match {
      case None => new Pipeline(spark, dir.toString).run(bundles)
      case Some(t) => t.span(spark, "pipeline.run")(tracedRun(spark, t))
    })
    ops += Op("pipeline.run", n, tracer.isDefined, s, err.isEmpty,
      err.map(describe).orNull)
  }

  /** `Pipeline.run` step by step through its public methods — the same
    * calls in the same order — with a span around each. */
  private def tracedRun(spark: SparkSession, t: Tracer): Unit = {
    val p = new Pipeline(spark, dir.toString)
    val matched = t.span(spark, "pipeline.match")(
      p.matchDirectoryFiles(bundles.flatMap(_.fileMatches).distinct))
    val fsheets = p.distinctFsheets(bundles, matched)
    t.span(spark, "pipeline.register")(p.registerViews(fsheets))
    try bundles.foreach { b =>
      val combined = t.span(spark, "pipeline.plan")(p.combineBundle(b, matched))
      b.format match {
        case ExportFormat.Hyper =>
          t.span(spark, "sink.hyper")(new HyperEquivalentSink().write(
            dir.resolve(b.exportFileName + ".hyper").toString, combined))
        case ExportFormat.Excel =>
          t.span(spark, "sink.xlsx")(XlsxWriter.write(
            dir.resolve(b.exportFileName + ".xlsx").toString, combined))
      }
    } finally p.dropViews(fsheets)
  }

  def layers(spark: SparkSession, t: Tracer, passes: Seq[Span],
      ops: Seq[Op]): Map[String, Double] = {
    val p = new Pipeline(spark, dir.toString)
    val matched = p.matchDirectoryFiles(bundles.flatMap(_.fileMatches).distinct)
    val fsheets = p.distinctFsheets(bundles, matched)
    // sources.excel: schema inference per sheet, then a scan of each
    // sheet across every workbook into a noop sink
    t.span(spark, "excel.infer")(fsheets.foreach { fs =>
      spark.read.format("excel").option("sheet", fs.sheet)
        .load(dir.resolve(fs.fileName).toString)
    })
    t.span(spark, "excel.scan")(fsheets.map(_.sheet).distinct.foreach { s =>
      spark.read.format("excel").option("sheet", s).load(dir.resolve("wb*.xlsx").toString)
        .write.format("noop").mode("overwrite").save()
    })
    // query + operators: the combined tables into a noop sink, over views
    // whose cache is filled first so no Excel parsing is counted here
    p.registerViews(fsheets)
    fsheets.foreach(fs => spark.table(s"`${fs.sqlTableName}`")
      .write.format("noop").mode("overwrite").save())
    t.span(spark, "query.exec")(bundles.foreach { b =>
      p.combineBundle(b, matched).foreach { case (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      }
    })
    p.dropViews(fsheets)
    t.drain()
    val all = t.all
    def named(n: String) = all.filter(_.name == n)
    def sub(n: String) = named(n).flatMap(t.subtree)
    val scanSpan = named("excel.scan").head
    val mb = 1024.0 * 1024.0
    val excelTaskS = sub("excel.scan").map(_.taskMs).sum / 1000.0
    Map(
      "excel.infer_s" -> named("excel.infer").map(_.seconds).sum,
      "excel.scan_s" -> scanSpan.seconds,
      "excel.task_s" -> excelTaskS,
      "excel.rows" -> sub("excel.scan").map(_.recordsRead).sum.toDouble,
      "excel.core_util" -> excelTaskS / (scanSpan.seconds * cfg.cores),
      "pipeline.match_s" -> perPass(t, passes, "pipeline.match")(_.seconds),
      "pipeline.register_s" -> perPass(t, passes, "pipeline.register")(_.seconds),
      "pipeline.plan_s" -> perPass(t, passes, "pipeline.plan")(_.seconds),
      "pipeline.statements" ->
        bundles.map(b => b.queries.length * b.fileMatches.length).sum.toDouble,
      "query.exec_s" -> named("query.exec").map(_.seconds).sum,
      "query.jobs" -> sub("query.exec").map(_.jobs).sum.toDouble,
      "query.shuffle_mb" -> sub("query.exec").map(_.shuffleWriteB).sum / mb,
      "sink.hyper_s" -> perPass(t, passes, "sink.hyper")(_.seconds),
      "sink.xlsx_s" -> perPass(t, passes, "sink.xlsx")(_.seconds),
      "sink.jobs" -> median(passes.map(ps => t.subtree(ps)
        .filter(_.name.startsWith("sink.")).flatMap(t.subtree).map(_.jobs).sum.toDouble)),
      "sink.rows" -> outputRows.toDouble,
      "sink.hyper_mb" -> bundles.filter(_.format == ExportFormat.Hyper)
        .map(b => treeBytes(dir.resolve(b.exportFileName + ".hyper"))).sum / mb,
      "sink.xlsx_mb" -> bundles.filter(_.format == ExportFormat.Excel)
        .map(b => treeBytes(dir.resolve(b.exportFileName + ".xlsx"))).sum / mb)
  }

  /** Decodes every output of the last pass for the checker: `.hyper`
    * extracts through [[HyperBinary.read]], `.xlsx` files through the
    * `excel` source; each table lands as parquet. */
  def outputs(spark: SparkSession): Map[String, Any] = {
    val out = cfg.work.resolve("check")
    val tables = bundles.flatMap { b =>
      val decoded: Seq[(String, org.apache.spark.sql.DataFrame)] = b.format match {
        case ExportFormat.Hyper =>
          HyperBinary.read(dir.resolve(b.exportFileName + ".hyper")
            .resolve("extract.hyper").toString).map { case (name, schema, rows) =>
            name -> spark.createDataFrame(
              rows.toSeq.map(r => Row.fromSeq(r.toSeq)).asJava, schema)
          }
        case ExportFormat.Excel =>
          b.queries.map(q => q.name -> spark.read.format("excel")
            .option("sheet", q.name)
            .load(dir.resolve(b.exportFileName + ".xlsx").toString))
      }
      decoded.map { case (name, df) =>
        val path = out.resolve(b.exportFileName).resolve(name).toString
        df.coalesce(1).write.mode("overwrite").parquet(path)
        val rows = spark.read.parquet(path).count()
        outputRows += rows
        Map("bundle" -> b.exportFileName, "table" -> name, "path" -> path, "rows" -> rows)
      }
    }
    val outBytes = bundles.map { b =>
      val ext = if (b.format == ExportFormat.Hyper) ".hyper" else ".xlsx"
      treeBytes(dir.resolve(b.exportFileName + ext))
    }.sum
    Map("tables" -> tables, "out_bytes" -> outBytes)
  }
}

/** Gate queries through `SparkEntry.queries`, each into a `noop` sink as
  * `graft.Bench` runs them, in an order the seed shuffles per pass. */
final class GatesWorkload(cfg: Main.Config, node: JsonNode) extends Workload {
  import Workloads._

  private val data = node.get("data").asText
  private val names = strings(node.get("names"))
  private val family: Map[String, String] =
    node.get("family").fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private var dir: Path = _
  private val setupFailures = mutable.ArrayBuffer.empty[Map[String, String]]

  /** Stops the state-store providers a streaming gate loaded, as
    * `graft.Bench` does after each sample; outside the timed call. */
  private def dropStreamState(): Unit =
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }

  /** Copies the generated tables into a fresh directory: fixtures are
    * memoized per data directory, so the first pass builds them anew. */
  def inputs(spark: SparkSession, i: Int): Double = {
    dir = cfg.work.resolve(s"setup$i")
    val tables = dir.resolve("data")
    val (s, err) = timed {
      Files.createDirectories(tables)
      val files = Files.list(Path.of(data))
      try files.iterator().asScala.foreach(f => Files.copy(f, tables.resolve(f.getFileName)))
      finally files.close()
    }
    err.foreach(e => throw e)
    s
  }

  /** Every gate once into parquet, as `graft.Verify` runs them: the
    * outputs the checker reads. */
  def firstPass(spark: SparkSession): Double = {
    val tables = dir.resolve("data").toString
    timed(names.foreach { g =>
      val (_, err) = timed(SparkEntry.queries(g)(spark, tables)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve("out").resolve(g).toString))
      err.foreach(e => setupFailures += Map("name" -> g, "error" -> describe(e)))
      dropStreamState()
    })._1
  }

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer],
      ops: mutable.ArrayBuffer[Op]): Unit = {
    val tables = dir.resolve("data").toString
    new Random(cfg.seed * 7919 + n + 1).shuffle(names).foreach { g =>
      def run(): Unit = SparkEntry.queries(g)(spark, tables)
        .write.format("noop").mode("overwrite").save()
      val (s, err) = timed(tracer match {
        case None => run()
        case Some(t) => t.span(spark, s"gate.$g")(run())
      })
      ops += Op(g, n, tracer.isDefined, s, err.isEmpty, err.map(describe).orNull)
      dropStreamState()
    }
  }

  def layers(spark: SparkSession, t: Tracer, passes: Seq[Span],
      ops: Seq[Op]): Map[String, Double] = {
    val perGate = names.map(g => g ->
      median(ops.filter(o => o.name == g && o.traced && o.ok).map(_.seconds))).toMap
    val gates = names.flatMap { g =>
      Seq(s"gate.${g}_s" -> perGate(g),
        s"gate.$g.jobs" -> perPass(t, passes, s"gate.$g")(sp =>
          t.subtree(sp).map(_.jobs).sum.toDouble))
    }
    val families = Seq("stream", "iter", "rel").map { f =>
      s"gates.${f}_s" -> names.filter(family(_) == f).map(perGate).sum
    }
    (gates ++ families :+
      ("fixtures.build_s" -> Fixtures.buildCosts.values.sum)).toMap
  }

  def outputs(spark: SparkSession): Map[String, Any] = Map(
    "gate_out" -> dir.resolve("out").toString,
    "data" -> dir.resolve("data").toString,
    "oracle" -> names.map(g => g -> SparkEntry.oracleSql(g)).toMap,
    "setup_failures" -> setupFailures.toSeq)
}
