package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. One invocation runs one workload in a fresh
  * JVM and writes one result file; `perfbench/run.py` builds the classes,
  * launches this, and prints the report.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --data <sf dir> --digests <file> --out <result.json>`
  * and optionally `--tamper expected|digest` (corrupts one expectation in
  * memory; the run must then fail) or `--record-digests` (panel/tail:
  * writes the observed digests to `--digests` instead of checking them).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Path, digests: Path, out: Path,
      tamper: Option[String], recordDigests: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", Paths.get(get("work")), Paths.get(get("data")),
      Paths.get(get("digests")), Paths.get(get("out")), m.get("tamper"),
      a.contains("--record-digests"))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Session build, extension registration and a first trivial job — the
    * program's own session shape, at local[cores]. */
  def setup(work: Path): (SparkSession, Double, Double) = {
    val t0 = Clock.nowMs
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = Clock.nowMs
    spark.range(1000).selectExpr("sum(id)").collect()
    val t2 = Clock.nowMs
    (spark, (t1 - t0) / 1e3, (t2 - t1) / 1e3)
  }

  /** JVM resident-set high-water mark, MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val run = new Run(args)
    val code =
      try {
        val workload = Workloads(args.workload, run)
        workload.prepare()
        // several set-ups, median reported; the last session stays up
        var spark: SparkSession = null
        (1 to Setups).foreach { i =>
          if (spark != null) spark.stop()
          val (s, sessionS, firstJobS) = setup(args.work)
          spark = s
          run.sample("setup.session_s", sessionS)
          run.sample("setup.first_job_s", firstJobS)
          run.sample("setup_s", sessionS + firstJobS)
        }
        run.start(spark)
        workload.measure(spark)
        if (args.trace) workload.probeLayers(spark)
        run.finish(spark, workload)
        spark.stop()
        if (run.correct) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          run.fail(s"${args.workload} aborted: $e")
          run.writeResult(None)
          2
      }
    sys.exit(code)
  }
}

/** State of one benchmark run: samples, operation outcomes, spans. */
final class Run(val args: Main.Args) {
  val recorder = new Recorder
  val probe = new Probe
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val notes = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def samplesOf(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def note(k: String, v: Any): Unit = notes(k) = v

  /** Records one operation; a false `ok` (a failed output check) counts
    * it as failed, with the reason. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; fail(what) }
  }
  def fail(why: String): Unit = { failures += why; System.err.println(s"[perfbench] FAIL $why") }
  def correct: Boolean = failed == 0 && failures.isEmpty && attempted > 0

  /** Registers the listeners a traced run needs; untraced runs register
    * none, so their timings carry no tracing cost. */
  def start(spark: SparkSession): Unit =
    if (args.trace) spark.sparkContext.addSparkListener(probe)

  def drain(spark: SparkSession): Unit =
    if (args.trace) org.apache.spark.graftbench.BusDrain(spark.sparkContext)

  private var layerValues: Map[String, Double] = Map.empty

  def finish(spark: SparkSession, w: Workload): Unit = {
    drain(spark)
    sample("peak_rss_mb", Main.peakRssMb)
    if (args.trace) layerValues = w.layerMetrics()
    writeResult(Some(w))
  }

  def writeResult(w: Option[Workload]): Unit = {
    val report = w.toSeq.flatMap(_.report).map { case (name, unit, xs) =>
      val (q1, q2, q3) = Stats.quartiles(xs)
      Json.obj("name" -> name, "unit" -> unit, "n" -> xs.length,
        "median" -> q2, "q1" -> q1, "q3" -> q3, "samples" -> xs)
    }
    val e2e = w.map(_.endToEnd).getOrElse(Map.empty)
    val out = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "cores" -> Main.cores, "correct" -> correct,
      "attempted" -> math.max(attempted, 1L),
      "failed" -> (if (correct) 0L else math.max(failed, 1L)),
      "failures" -> failures.toList,
      "end_to_end" -> e2e, "per_layer" -> layerValues,
      "report" -> report, "notes" -> notes)
    Files.writeString(args.out, Json.enc(out), UTF_8)
    if (args.trace) {
      recorder.write(args.out.resolveSibling(s"spans_${args.workload}.json"),
        Map("workload" -> args.workload, "seed" -> args.seed,
          "per_layer" -> layerValues, "end_to_end" -> e2e, "notes" -> notes))
    }
  }
}
