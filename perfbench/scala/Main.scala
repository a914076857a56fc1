package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Fixtures, LocalSession}

/** The measuring process behind `perfbench/run.py`: one JVM, one
  * `local[cores]` session, one client in a closed loop. It reads the
  * run's configuration (JSON written by run.py), sets the workload up
  * several times, measures passes until the time is up, writes the
  * outputs the checker reads back, and leaves its raw figures in the
  * result file. run.py turns those into the reported metrics.
  *
  * Usage: Main <config.json>
  */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One timed operation: a Pipeline.run or one gate call. */
  final case class Op(name: String, pass: Int, traced: Boolean, seconds: Double,
      ok: Boolean, error: String)

  final class Config(root: JsonNode) {
    val seed: Long = root.get("seed").asLong
    val seconds: Double = root.get("seconds").asDouble
    val warmup: Double = root.get("warmup").asDouble
    val trace: Boolean = root.get("trace").asBoolean
    val cores: Int = root.get("cores").asInt
    val setups: Int = root.get("setups").asInt
    val work: Path = Paths.get(root.get("work").asText)
    val result: Path = Paths.get(root.get("result").asText)
    val spans: Path = Paths.get(root.get("spans").asText)
    val etl: Option[JsonNode] = Option(root.get("etl"))
    val gates: Option[JsonNode] = Option(root.get("gates"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Config(json.readTree(new File(args(0))))
    val workload: Workload =
      if (cfg.etl.isDefined) new EtlWorkload(cfg, cfg.etl.get)
      else new GatesWorkload(cfg, cfg.gates.get)
    val tracer = new Tracer()
    val heap = new HeapWatch
    val box = new BoxWatch

    // ---- set-up: session start and inputs, several times (the last
    // session stays for the window), then the first, cold pass
    var spark: SparkSession = null
    val rounds = (1 to cfg.setups).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = LocalSession.build(cfg.cores.toString)
      spark.sparkContext.setLogLevel("WARN")
      val session = (System.nanoTime() - t0) / 1e9
      val inputs = workload.inputs(spark, i)
      Map("total_s" -> (System.nanoTime() - t0) / 1e9, "session_s" -> session,
        "inputs_s" -> inputs)
    }
    val firstPass = workload.firstPass(spark)
    heap.sample()

    // ---- warm-up: unmeasured passes until the JIT has settled (pass -1)
    val ops = mutable.ArrayBuffer.empty[Op]
    val warmUntil = System.nanoTime() + (cfg.warmup * 1e9).toLong
    while (System.nanoTime() < warmUntil) workload.pass(spark, -1, None, ops)

    // ---- the measured window: untraced passes, or untraced and traced
    // passes alternating when tracing
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val passSpans = mutable.ArrayBuffer.empty[Span]
    box.start()
    val deadline = System.nanoTime() + (cfg.seconds * 1e9).toLong
    var pass = 0
    while (pass < (if (cfg.trace) 2 else 1) || System.nanoTime() < deadline) {
      val traced = cfg.trace && pass % 2 == 1
      if (traced) tracer.attach(spark)
      val t0 = System.nanoTime()
      if (traced) passSpans += tracer.spanned(spark, "pass")(
        workload.pass(spark, pass, Some(tracer), ops))
      else workload.pass(spark, pass, None, ops)
      passes += ((traced, (System.nanoTime() - t0) / 1e9))
      if (traced) { tracer.drain(); tracer.detach() }
      heap.sample()
      pass += 1
    }
    val cotenant = box.stop(Runtime.getRuntime.availableProcessors())

    // ---- the outputs to check, then per-layer probes (traced runs only)
    val checks = workload.outputs(spark)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (cfg.trace) {
      tracer.attach(spark)
      layers ++= workload.layers(spark, tracer, passSpans.toSeq, ops.toSeq)
      tracer.drain()
      tracer.detach()
      layers ++= spanLayers(tracer, passSpans.toSeq, cfg.cores)
      // per operation name, the median traced call against the median
      // untraced one, summed over names
      def total(traced: Boolean): Double = ops.map(_.name).distinct.map(n =>
        median(ops.filter(o => o.name == n && o.traced == traced && o.ok && o.pass >= 0)
          .map(_.seconds).toSeq)).sum
      layers("trace.overhead_frac") = total(traced = true) / total(traced = false) - 1.0
      Files.createDirectories(cfg.spans.getParent)
      Files.writeString(cfg.spans, json.writeValueAsString(tracer.spansJson()))
    }

    val result = Map(
      "setup_rounds" -> rounds,
      "first_pass_s" -> firstPass,
      "passes" -> passes.map { case (t, s) => Map("traced" -> t, "s" -> s) },
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass,
        "traced" -> o.traced, "s" -> o.seconds, "ok" -> o.ok, "error" -> o.error)),
      "live_heap_mb" -> heap.samplesMb,
      "cotenant_frac" -> cotenant,
      "layers" -> layers,
      "checks" -> checks,
      "fixtures" -> Fixtures.buildCosts)
    Files.writeString(cfg.result, json.writeValueAsString(result))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Spark-engine, streaming and log metrics of the traced passes: each
    * pass's sums, then the median over passes. */
  private def spanLayers(tracer: Tracer, passes: Seq[Span], cores: Int)
      : Map[String, Double] = {
    if (passes.isEmpty) return Map.empty
    def perPass(f: Seq[Span] => Double): Double =
      median(passes.map(p => f(tracer.subtree(p))))
    // one operation = a direct child of the pass span (a Pipeline.run or
    // one gate call); `spark.driver_s` is each operation's time outside jobs
    def ops(p: Span): Seq[Span] = tracer.all.filter(_.parent == p.id)
    val mb = 1024.0 * 1024.0
    val phases = Seq("addBatch", "latestOffset", "queryPlanning", "walCommit",
      "commitOffsets", "triggerExecution")
    Map(
      "spark.jobs" -> perPass(_.map(_.jobs).sum.toDouble),
      "spark.stages" -> perPass(_.map(_.stages).sum.toDouble),
      "spark.tasks" -> perPass(_.map(_.tasks).sum.toDouble),
      "spark.task_s" -> perPass(_.map(_.taskMs).sum / 1000.0),
      "spark.shuffle_read_mb" -> perPass(_.map(_.shuffleReadB).sum / mb),
      "spark.shuffle_write_mb" -> perPass(_.map(_.shuffleWriteB).sum / mb),
      "spark.spill_mb" -> perPass(_.map(_.spillB).sum / mb),
      "spark.driver_s" -> median(passes.map(p => ops(p).map { op =>
        val sub = tracer.subtree(op)
        val jobs = sub.flatMap(_.children.filter(_._1.startsWith("job")))
        math.max(0.0, op.seconds - Tracer.coveredS(jobs.map(c => (c._2, c._3))))
      }.sum)),
      "spark.core_util" -> median(passes.map { p =>
        tracer.subtree(p).map(_.taskMs).sum / 1000.0 / (p.seconds * cores)
      }),
      "stream.batches" -> perPass(_.map(_.batches).sum.toDouble),
      "log.error_lines" -> perPass(_.map(_.errorLines).sum.toDouble),
      "log.warn_lines" -> perPass(_.map(_.warnLines).sum.toDouble)
    ) ++ phases.map(ph => s"stream.${ph}_s" ->
      perPass(_.map(_.phasesMs.getOrElse(ph, 0L)).sum / 1000.0))
  }

  /** Bytes of a file or of every file under a directory. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    } else Files.size(p)

  /** Runs `body`, returning its seconds and its error, if any. */
  def timed(body: => Unit): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Exception => Some(e) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

/** Old-generation occupancy right after a full collection, sampled after
  * the first pass and after each measured pass: the live heap the passes
  * leave behind. */
final class HeapWatch {
  val samplesMb = mutable.ArrayBuffer.empty[Double]
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  def sample(): Unit = {
    // cached views are unpersisted asynchronously, and the ContextCleaner
    // lets go of more after the first collection: wait, then collect again
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = old.map(_.getUsage.getUsed)
      .getOrElse(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
    samplesMb += used / (1024.0 * 1024.0)
  }
}

/** Share of the machine's CPU that other processes used while the window
  * ran: (busy CPU from /proc/stat − this JVM's CPU) / (wall × cores).
  * A diagnostic that tells a noisy run from a regression; -1 where
  * /proc/stat is unreadable.
  */
final class BoxWatch {
  private def busyJiffies(): Option[Long] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  }.toOption
  private def ownNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
  private var anchor: Option[(Long, Long, Long)] = None
  def start(): Unit = anchor = busyJiffies().map(b => (b, ownNanos(), System.nanoTime()))
  def stop(cores: Int): Double = (for {
    (b0, o0, w0) <- anchor
    b1 <- busyJiffies()
  } yield {
    val wall = (System.nanoTime() - w0) / 1e9
    val other = (b1 - b0) / 100.0 - (ownNanos() - o0) / 1e9
    math.max(0.0, other / (wall * cores))
  }).getOrElse(-1.0)
}

/** What each workload supplies to [[Main]]. */
trait Workload {
  /** Set-up round `i`: writes the inputs into a fresh directory and
    * returns its seconds. The last round's inputs are the ones measured. */
  def inputs(spark: SparkSession, i: Int): Double

  /** The first pass over the last round's inputs (fixtures build here);
    * returns its seconds. */
  def firstPass(spark: SparkSession): Double

  /** One measured pass; appends its operations to `ops`. */
  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer],
      ops: mutable.ArrayBuffer[Main.Op]): Unit

  /** Per-layer figures that need their own probes or the pass spans. */
  def layers(spark: SparkSession, tracer: Tracer, passes: Seq[Span],
      ops: Seq[Main.Op]): Map[String, Double]

  /** Writes what the checker reads back; returns where it is. Runs after
    * the window and before [[layers]]. */
  def outputs(spark: SparkSession): Map[String, Any]
}
