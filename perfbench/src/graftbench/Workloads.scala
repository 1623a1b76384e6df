package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.chess
import graft.ops.{ChessExport, OpeningEnrichment}
import graft.pipeline.ChessPipeline

object Workloads {
  /** Corpus shape shared by `pipeline` and `catchup`: 4 linearly skewed
    * sources (400 to 1,600 games) of 5 archive files each, 48 corrupt games,
    * dates over 7 years. 20 files give the catch-up 20 batches, the fewest
    * that leave 10 samples above their median. */
  val CorpusSpec = Gen.Spec(sources = 4, filesPerSource = 5, games = 4000,
    corruptPerSource = 12, newArchiveGames = 300)
  /** Timed pipeline rounds and cold/warm query pass pairs per run, at
    * least; the medians over them are what the run reports. */
  val MinRounds = 2
  val MinQueryPairs = 3
  /** Untimed, checked query passes before the timed pairs: the fresh JVM's
    * first pass takes twice as long as later ones, the second is still a
    * fifth slower, and the first pass after emptying the generated-code
    * cache was a fifth slower than later cold passes; so every warm-up
    * pass after the first starts from an empty cache. */
  val QueryWarmupPasses = 2

  /** One query per layer: scan-bound, kernel-bound, shuffle-bound, and
    * an iterative one that runs many jobs and checkpoints. */
  val Panel = Seq("q02", "q22", "q107", "q228")
  val Tail = Seq("q03", "q10", "q15", "q120", "q131", "q143", "q175", "q224",
    "q225", "q239", "q265", "q05", "q14")

  def apply(name: String, run: Run): Workload = name match {
    case "pipeline" => new PipelineWorkload(run)
    case "catchup" => new CatchupWorkload(run)
    case "panel" => new QueryWorkload(run, "panel", Panel)
    case "tail" => new QueryWorkload(run, "tail", Tail)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val LayerNames: Seq[String] = Seq(
    "setup.session_s", "setup.first_job_s",
    "scan.s", "scan.games", "scan.splits", "scan.parse_errors", "scan.files_listed",
    "kernels.normalize_s",
    "enrich.s", "enrich.hit_ratio",
    "stage.s", "stage.jobs", "stage.sources_run", "manifest.skip_s", "validate.s",
    "publish.s", "publish.files", "publish.cells", "publish.max_files_per_cell",
    "publish.out_mb", "publish.shuffle_mb",
    "stream.batches", "stream.latest_offset_s", "stream.plan_s", "stream.add_batch_s",
    "stream.commit_s", "stream.publish_s", "stream.files_per_batch",
    "query.construct_s", "query.construct_jobs", "query.plan_s",
    "codegen.compile_s", "codegen.compiles",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s",
    "spark.gc_s", "spark.sched_delay_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
    "shuffle.skew",
    "checkpoint.jobs", "checkpoint.s", "storage.after_mb", "storage.peak_mb")

  val MB = 1024.0 * 1024.0

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  /** Visible data files (no `_` or `.` prefix anywhere under `root`). */
  def dataFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && root.relativize(p).iterator().asScala
          .forall(c => !c.toString.startsWith("_") && !c.toString.startsWith("."))
      }.toList finally s.close()
    }

  def readJson(p: Path): JsonNode = new ObjectMapper().readTree(p.toFile)
}

/** Listener-derived figures of a set of time intervals (the operations of
  * one round), plus the JVM-wide codegen and file-listing counters. */
final class Window(run: Run) {
  val intervals = mutable.ArrayBuffer.empty[(Double, Double)]
  var compileNs, compiles, filesListed = 0L
  var storageAfter, storagePeak = 0L

  /** Runs `body` as part of this window. */
  def apply[T](spark: SparkSession)(body: => T): T = {
    val c0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount)
    run.probe.resetPeak()
    val a = Clock.nowMs
    try body
    finally {
      val b = Clock.nowMs
      run.drain(spark)
      intervals += ((a, b))
      compileNs += CodeGenerator.compileTime - c0._1
      compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0._2
      filesListed += HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - c0._3
      val (after, peak) = run.probe.storage
      storageAfter = after
      storagePeak = math.max(storagePeak, peak)
    }
  }

  def jobs: Seq[JobRec] =
    intervals.toSeq.flatMap { case (a, b) => run.probe.jobsIn(a, b) }.distinctBy(_.id)

  def metrics(planMs: Double): Map[String, Double] = {
    val js = jobs
    val st = run.probe.stagesOf(js)
    def union(layer: String) = Intervals.unionLength(js.filter(j => Layers.of(j.site) == layer && !j.endMs.isNaN)
      .map(j => (j.startMs, j.endMs))) / 1e3
    def stagesOfLayer(layer: String) = run.probe.stagesOf(js.filter(j => Layers.of(j.site) == layer))
    val skew = st.filter(_.taskMs.length >= 2).map { s =>
      val med = Stats.median(s.taskMs.toSeq)
      if (med <= 0) 1.0 else s.taskMs.max / med
    }
    Map(
      "scan.splits" -> st.filter(_.scan).map(_.tasks).sum.toDouble,
      "scan.files_listed" -> filesListed.toDouble,
      "stage.s" -> union("stage"),
      "stage.jobs" -> js.count(j => Layers.of(j.site) == "stage").toDouble,
      "validate.s" -> union("validate"),
      "publish.s" -> union("publish"),
      "publish.shuffle_mb" -> stagesOfLayer("publish").map(_.shufWrite).sum / Workloads.MB,
      "query.plan_s" -> planMs / 1e3,
      "codegen.compile_s" -> compileNs / 1e9,
      "codegen.compiles" -> compiles.toDouble,
      "spark.jobs" -> js.length.toDouble,
      "spark.stages" -> st.length.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_s" -> st.map(_.runMs).sum / 1e3,
      "spark.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.sched_delay_s" -> st.map(_.schedMs).sum / 1e3,
      "shuffle.write_mb" -> st.map(_.shufWrite).sum / Workloads.MB,
      "shuffle.read_mb" -> st.map(_.shufRead).sum / Workloads.MB,
      "shuffle.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> st.map(_.spill).sum / Workloads.MB,
      "shuffle.skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "checkpoint.jobs" -> js.count(j => Layers.of(j.site) == "checkpoint").toDouble,
      "checkpoint.s" -> union("checkpoint"),
      "storage.after_mb" -> storageAfter / Workloads.MB,
      "storage.peak_mb" -> storagePeak / Workloads.MB)
  }
}

/** One workload: inputs are made in `prepare` (before set-up, untimed),
  * `measure` runs the timed loop and its output checks; plus the shared
  * planning-time listener, span helpers and layer tables. */
abstract class Workload(val run: Run, val spec: Gen.Spec = Workloads.CorpusSpec) {
  def prepare(): Unit
  def measure(spark: SparkSession): Unit
  def probeLayers(spark: SparkSession): Unit = ()
  /** (name, unit, samples) for the printed report. */
  def report: Seq[(String, String, Seq[Double])]
  /** Values of the end-to-end metrics named in BENCHMARK.json. */
  def endToEnd: Map[String, Any]

  protected val args = run.args
  protected val root: Path = args.work.resolve(args.workload)
  protected val rounds = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** (end time, planning ms) per SQL execution, from the tracker phases. */
  private val planning = mutable.ArrayBuffer.empty[(Double, Double)]

  protected def registerPlanning(spark: SparkSession): Unit =
    if (args.trace) spark.listenerManager.register(new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = planning.synchronized {
        planning += ((Clock.nowMs, qe.tracker.phases.values.map(_.durationMs.toDouble).sum))
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
    })

  protected def planMs(w: Window): Double = planning.synchronized {
    planning.filter { case (t, _) => w.intervals.exists { case (a, b) => t >= a && t <= b + 50 } }
      .map(_._2).sum
  }

  /** Spans for every job (and its stages) that started inside `parents`;
    * each job hangs under the innermost parent that contains its start. */
  protected def attachJobs(parents: Seq[Span]): Unit = if (args.trace && parents.nonEmpty) {
    val from = parents.map(_.startMs).min
    val to = parents.map(_.endMs).max
    run.probe.jobsIn(from, to).foreach { j =>
      val holder = parents.filter(p => j.startMs >= p.startMs - 1 && j.startMs <= p.endMs + 1)
        .sortBy(_.durMs).headOption
      holder.foreach { p =>
        val end = if (j.endMs.isNaN) j.startMs else j.endMs
        val js = run.recorder.add(p.trace, p.id, s"job ${j.id}", Layers.of(j.site),
          j.startMs, end, Map("site" -> j.site, "job_id" -> j.id))
        run.probe.stagesOf(Seq(j)).filter(s => !s.submitMs.isNaN && !s.endMs.isNaN).foreach { s =>
          run.recorder.add(p.trace, js.id, s"stage ${s.id}", Layers.of(j.site),
            s.submitMs, s.endMs, Map("stage_id" -> s.id, "name" -> s.name,
              "tasks" -> s.tasks, "task_ms" -> s.runMs, "shuffle_write_b" -> s.shufWrite,
              "shuffle_read_b" -> s.shufRead))
        }
      }
    }
  }

  /** Another round only if one more, as long as the rounds so far took
    * on average, still ends within `--seconds`; always at least one. */
  protected def moreRounds(t0: Double, done: Int): Boolean =
    done == 0 || (Clock.nowMs - t0) / 1e3 * (done + 1) / done <= args.seconds

  protected def median(name: String): Double = Stats.median(run.samplesOf(name))

  protected def common: Seq[(String, String, Seq[Double])] = Seq(
    ("setup_s", "s", run.samplesOf("setup_s")),
    ("peak_rss_mb", "MB", run.samplesOf("peak_rss_mb")),
    ("failed_frac", "ratio", Seq(run.failed.toDouble / math.max(run.attempted, 1L))))

  protected def endToEndOf(cold: Double, warm: Double): Map[String, Any] = Json.obj(
    "setup_s" -> median("setup_s"), "cold_s" -> cold, "warm_s" -> warm,
    "peak_rss_mb" -> median("peak_rss_mb"))

  /** Every per-layer metric (traced runs only): the median over rounds of
    * each figure; zero where the layer is not on this workload's path. */
  def layerMetrics(): Map[String, Double] = {
    val base = Workloads.LayerNames.map(_ -> 0.0).toMap ++ Map(
      "setup.session_s" -> median("setup.session_s"),
      "setup.first_job_s" -> median("setup.first_job_s"))
    val keys = rounds.flatMap(_.keys).distinct
    ListMap(Workloads.LayerNames.map { k =>
      k -> (if (keys.contains(k)) Stats.median(rounds.flatMap(_.get(k)).toSeq) else base(k))
    }: _*)
  }

  // --- chess inputs ---
  private[graftbench] var expected: JsonNode = _
  protected var probes = Map.empty[String, Double]

  protected def prepareCorpus(): Unit = {
    Workloads.rmTree(root)
    Gen.corpus(root, args.seed, spec)
    expected = Workloads.readJson(root.resolve("expected.json"))
    if (args.tamper.contains("expected"))
      expected.asInstanceOf[ObjectNode].put("valid", expected.get("valid").asLong + 1)
  }
  protected def exp(k: String): Long = expected.get(k).asLong

  protected def openingsDF(spark: SparkSession, dir: Path = root): DataFrame =
    spark.read.option("header", "true").option("sep", "\t")
      .csv(dir.resolve("openings.tsv").toString)

  protected def normalized(df: DataFrame): DataFrame = df
    .withColumn("clean_movetext", chess.movesNormalize(col("movetext")))
    .withColumn("clean_timecontrol", chess.timecontrolNormalize(col("TimeControl")))

  /** Row count and non-null count of `c`, in one job. */
  protected def counts(df: DataFrame, c: String): Array[Long] = {
    val r = df.agg(count(lit(1)), count(col(c))).head()
    Array(r.getLong(0), r.getLong(1))
  }

  /** Published-tree layout: (files, cells, max files per cell, MB). */
  protected def layout(out: Path): (Int, Int, Int, Double) = {
    val files = Workloads.dataFiles(out).filter(_.toString.endsWith(".parquet"))
    val cells = files.groupBy(_.getParent)
    (files.length, cells.size, if (cells.isEmpty) 0 else cells.values.map(_.size).max,
      files.map(Files.size).sum / Workloads.MB)
  }

  /** Layer probes on the largest source: scan only, + normalize, + enrich,
    * and publish only; three repeats each, medians kept. Outside the timed
    * part and the overhead comparison. */
  protected def probeChessLayers(spark: SparkSession): Unit = {
    val key = Gen.sourceKey(spec.sources)
    val src = root.resolve(s"in/$key").toString
    val openings = openingsDF(spark)
    val staged = root.resolve("probe/staged").toString
    ChessPipeline.ingestAndEnrich(spark, ChessPipeline.Source(key, src), openings)
      .write.mode("overwrite").parquet(staged)
    def scan = spark.read.format("pgn").load(src)
    val forms: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => scan.write.format("noop").mode("overwrite").save()),
      "normalize" -> (() => normalized(scan).write.format("noop").mode("overwrite").save()),
      "enrich" -> (() => OpeningEnrichment.enrichTrie(normalized(scan), openings)
        .write.format("noop").mode("overwrite").save()),
      "publish" -> (() => ChessExport.publish(Seq(spark.read.parquet(staged)),
        root.resolve("probe/out").toString)))
    val times = forms.map { case (name, f) =>
      name -> Stats.median((1 to 3).map { i =>
        val a = Clock.nowMs
        f()
        val b = Clock.nowMs
        run.recorder.add(s"probe-$name-$i", 0, s"probe $name", "probe", a, b,
          Map("source" -> key))
        (b - a) / 1e3
      })
    }.toMap
    probes = Map(
      "scan.s" -> times("scan"),
      "kernels.normalize_s" -> (times("normalize") - times("scan")),
      "enrich.s" -> (times("enrich") - times("normalize")))
    run.note("layer_probes_s", times)
  }
}

/** `pipeline`: cold ChessPipeline.run, then an incremental re-run after one
  * new archive lands in one source, then a no-change re-run. */
final class PipelineWorkload(run: Run, corpus: Gen.Spec = Workloads.CorpusSpec)
    extends Workload(run, corpus) {
  private var streamLayers = Map.empty[String, Double]
  private var legReport = Seq.empty[(String, String, Seq[Double])]

  def prepare(): Unit = prepareCorpus()

  def measure(spark: SparkSession): Unit = {
    registerPlanning(spark)
    // One round over the same corpus, untimed but checked, before the
    // measured rounds: a first round runs a seventh to a third slower (the
    // JVM's first use of the scan, Catalyst and codegen paths), and a
    // smaller warm-up corpus still left the first timed round a sixth slow.
    val w0 = Clock.nowMs
    round(spark, 0)
    run.note("warmup_s", (Clock.nowMs - w0) / 1e3)
    val t0 = Clock.nowMs
    var done = 0
    while ((done < Workloads.MinRounds || moreRounds(t0, done)) &&
        round(spark, done + 1)) done += 1
    run.note("rounds", done)
    if (args.trace) {
      // the streaming twin of the same corpus, for the streaming layer's figures
      val leg = new CatchupWorkload(run, spec, maxDrains = 1)
      leg.expected = expected
      leg.measure(spark)
      streamLayers = leg.layerMetrics().filter(_._1.startsWith("stream."))
      legReport = leg.report.filter(_._1.startsWith("catchup_"))
    }
  }

  /** Cold run, incremental run after one new archive lands, no-change run,
    * each checked; round 0 is the untimed warm-up. False when a run threw. */
  private def round(spark: SparkSession, n: Int): Boolean = {
    val dir = root
    def e(k: String) = expected.get(k).asLong
    def eNew(k: String) = expected.get("new_archive").get(k).asLong
    val staging = dir.resolve("staging")
    val out = dir.resolve("out")
    val openings = openingsDF(spark, dir)
    val sources = (1 to spec.sources).map(Gen.sourceKey).map(k =>
      ChessPipeline.Source(k, dir.resolve(s"in/$k").toString))
    val newSrc = expected.get("new_archive").get("source").asText
    val landed = dir.resolve(s"in/$newSrc/games_new.pgn")
    val timed = n > 0
    def manifests: Map[String, Long] = sources.flatMap { s =>
      val m = staging.resolve(s"${s.key}/_graft_manifest")
      if (Files.exists(m)) Some(s.key -> Files.getLastModifiedTime(m).toMillis) else None
    }.toMap
    def fileState: Map[Path, (Long, Long)] = Workloads.dataFiles(out).map(p =>
      p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    def pipelineRun(name: String, w: Window): Double = {
      val a = Clock.nowMs
      w(spark)(ChessPipeline.run(spark, sources, openings, staging.toString, out.toString))
      val b = Clock.nowMs
      if (args.trace && timed) attachJobs(Seq(run.recorder.add(
        s"${args.workload}-r$n-$name", 0, s"pipeline $name", "pipeline", a, b)))
      (b - a) / 1e3
    }
    def sample(name: String, v: Double): Unit = if (timed) run.sample(name, v)
    /** Published and labeled games, and problems with the published tree. */
    def checkTree(games: Long, labeled: Long, cells: Long, what: String): (Long, Seq[String]) = {
      val (files, nCells, maxPerCell, _) = layout(out)
      val Array(pub, lab) = counts(spark.read.parquet(out.toString), "Opening")
      (lab, Seq(
        if (pub != games) Some(s"$what: published $pub games, expected $games") else None,
        if (lab != labeled) Some(s"$what: labeled $lab games, expected $labeled") else None,
        if (nCells != cells) Some(s"$what: $nCells Hive cells, expected $cells") else None,
        if (maxPerCell != 1 || files != nCells)
          Some(s"$what: $files files in $nCells cells, expected one per cell") else None
      ).flatten)
    }
    def verdict(problems: Seq[String]): Unit = run.op(problems.isEmpty, problems.mkString("; "))

    Workloads.rmTree(staging); Workloads.rmTree(out); Files.deleteIfExists(landed)
    val w = new Window(run)
    try {
      val cold = pipelineRun("cold", w)
      sample("pipeline_cold_s", cold)
      sample("pipeline_games_per_s", e("valid") / cold)
      val Array(scanned, parseErrors) = counts(
        spark.read.parquet(sources.map(s => staging.resolve(s.key).toString): _*), "parse_error")
      val coldLayout = layout(out)
      val (coldLabeled, coldProblems) = checkTree(e("valid"), e("labeled"), e("cells"), "cold run")
      verdict(coldProblems ++
        (if (parseErrors != e("corrupt"))
          Seq(s"cold run: $parseErrors parse errors, expected ${e("corrupt")} corrupt games")
        else Nil) ++
        (if (scanned != e("games")) Seq(s"cold run: scanned $scanned games, expected ${e("games")}")
        else Nil))

      val before = manifests
      Files.copy(dir.resolve("new_archive/games_new.pgn"), landed,
        StandardCopyOption.REPLACE_EXISTING)
      sample("pipeline_incr_s", pipelineRun("incremental", w))
      val restaged = manifests.filter { case (k, t) => !before.get(k).contains(t) }.keySet
      verdict(checkTree(e("valid") + eNew("games"), e("labeled") + eNew("labeled"),
        eNew("cells_after"), "incremental run")._2 ++
        (if (restaged != Set(newSrc))
          Seq(s"incremental run restaged ${restaged.toSeq.sorted.mkString(",")}, expected $newSrc")
        else Nil))

      val filesBefore = fileState
      val manifestsBefore = manifests
      val skip = pipelineRun("no-change", w)
      sample("manifest_skip_s", skip)
      val filesAfter = fileState
      val written = filesAfter.count { case (p, st) => !filesBefore.get(p).contains(st) } +
        filesBefore.keySet.diff(filesAfter.keySet).size
      verdict((if (written != 0) Seq(s"no-change run wrote $written data files") else Nil) ++
        (if (manifests != manifestsBefore) Seq("no-change run restaged a source") else Nil))
      Files.deleteIfExists(landed)

      if (args.trace && timed) rounds += w.metrics(planMs(w)) ++ Map(
        "scan.games" -> scanned.toDouble,
        "scan.parse_errors" -> parseErrors.toDouble,
        "enrich.hit_ratio" -> coldLabeled.toDouble / e("valid"),
        "stage.sources_run" -> (spec.sources + restaged.size).toDouble,
        "manifest.skip_s" -> skip,
        "publish.files" -> coldLayout._1.toDouble,
        "publish.cells" -> coldLayout._2.toDouble,
        "publish.max_files_per_cell" -> coldLayout._3.toDouble,
        "publish.out_mb" -> coldLayout._4)
      true
    } catch {
      case ex: Exception =>
        ex.printStackTrace()
        run.op(ok = false, s"pipeline round $n: $ex")
        false
    }
  }

  override def probeLayers(spark: SparkSession): Unit = probeChessLayers(spark)

  override def layerMetrics(): Map[String, Double] =
    super.layerMetrics() ++ probes ++ streamLayers

  def report: Seq[(String, String, Seq[Double])] = Seq(
    ("pipeline_games_per_s", "games/s", run.samplesOf("pipeline_games_per_s")),
    ("pipeline_incr_s", "s", run.samplesOf("pipeline_incr_s")),
    ("pipeline_cold_s", "s", run.samplesOf("pipeline_cold_s")),
    ("manifest_skip_s", "s", run.samplesOf("manifest_skip_s"))) ++ legReport ++ common

  def endToEnd: Map[String, Any] =
    endToEndOf(median("pipeline_cold_s"), median("pipeline_incr_s"))
}

/** `catchup`: the whole backlog as a Trigger.AvailableNow stream, one file
  * per trigger, through streaming enrichment and the partitioned streaming
  * publisher. */
final class CatchupWorkload(run: Run, corpus: Gen.Spec = Workloads.CorpusSpec,
    maxDrains: Int = Int.MaxValue) extends Workload(run, corpus) {
  private val out = root.resolve("stream_out")
  private val ckpt = root.resolve("stream_checkpoint")
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val publishMs = mutable.ArrayBuffer.empty[(Long, Double, Double)]

  def prepare(): Unit = prepareCorpus()

  /** Ids listed by the newest complete publish manifest. */
  private def committedIds: Set[Long] = {
    val ms = Option(out.toFile.list()).toSeq.flatten.filter(_.startsWith("_graft_manifest_")).sorted
    ms.lastOption.toSeq.flatMap { m =>
      Files.readAllLines(out.resolve(m), UTF_8).asScala.takeWhile(_ != "#end")
        .filter(_.nonEmpty).map(_.trim.toLong)
    }.toSet
  }

  private val gameCols = Seq("Event", "Site", "White", "Black", "Result", "WhiteTitle",
    "BlackTitle", "WhiteElo", "BlackElo", "UTCDate", "UTCTime", "ECO", "Opening",
    "Termination", "TimeControl", "Source", "movetext")

  /** (rows, labeled rows, sum of per-row hashes over the game columns):
    * equal for two trees holding the same multiset of games, whatever
    * their layout. */
  private def treeHash(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val r = df.select(col("Opening"),
        xxhash64(gameCols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), count(col("Opening")), sum(col("h"))).head()
    (r.getLong(0), r.getLong(1), r.getDecimal(2))
  }
  private var streamedHash: (Long, Long, java.math.BigDecimal) = _

  def measure(spark: SparkSession): Unit = {
    registerPlanning(spark)
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val openings = openingsDF(spark)
    val inRoot = root.resolve("in").toString
    val publish = graft.streaming.StreamingPublish
      .partitionedPublisher(Seq("DataSource", "year", "month"), out.toString)
    val t0 = Clock.nowMs
    var go = true
    var done = 0
    while (go && done < maxDrains && moreRounds(t0, done)) {
      done += 1
      Workloads.rmTree(out); Workloads.rmTree(ckpt)
      publishMs.synchronized(publishMs.clear())
      val w = new Window(run)
      try {
        val raw = normalized(spark.readStream.format("pgn")
          .option("maxFilesPerTrigger", "1").load(inRoot))
          .withColumn("DataSource", lit("all"))
        val enriched = OpeningEnrichment.enrichStreamRows(raw, openings)
        val a = Clock.nowMs
        val q = w(spark) {
          val q = enriched.writeStream
            .option("checkpointLocation", ckpt.toString)
            .foreachBatch { (batch: DataFrame, id: Long) =>
              val s = Clock.nowMs
              publish(ChessExport.exportProjection(batch), id)
              publishMs.synchronized(publishMs += ((id, s, Clock.nowMs)))
              ()
            }
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q
        }
        val drain = (Clock.nowMs - a) / 1e3
        org.apache.spark.graftbench.BusDrain(spark.sparkContext)
        val batches = progress.synchronized(progress.filter(_.progress.id == q.id).toList)
          .map(_.progress).filter(_.durationMs.containsKey("addBatch"))
        batches.foreach(b => run.sample("catchup_batch_s", b.durationMs.get("triggerExecution").doubleValue / 1e3))
        run.sample("catchup_drain_s", drain)
        run.sample("catchup_games_per_s", exp("valid") / drain)

        streamedHash = treeHash(spark.read.parquet(out.toString))
        val (n, lab, _) = streamedHash
        val committed = committedIds
        val tagged = "^b(\\d+)-.*".r
        val files = Workloads.dataFiles(out)
        val orphans = files.map(_.getFileName.toString).filter {
          case tagged(id) => !committed.contains(id.toLong)
          case _ => true
        }
        val debris = Option(out.toFile.list()).toSeq.flatten
          .filter(f => f.startsWith("_graft_stage_") || f.startsWith("_graft_batch_"))
        val problems = Seq(
          if (n != exp("valid")) Some(s"published $n games, expected ${exp("valid")}") else None,
          if (lab != exp("labeled")) Some(s"labeled $lab games, expected ${exp("labeled")}") else None,
          if (batches.length != spec.sources * spec.filesPerSource)
            Some(s"${batches.length} batches, expected one per file (${spec.sources * spec.filesPerSource})")
          else None,
          if (orphans.nonEmpty) Some(s"${orphans.length} data files outside committed batches")
          else None,
          if (debris.nonEmpty) Some(s"uncommitted debris ${debris.mkString(",")}") else None
        ).flatten
        // each micro-batch is an operation; a failed tree check fails them all
        (1 to math.max(batches.length, 1)).foreach(_ =>
          run.op(problems.isEmpty, s"catch-up drain $done: ${problems.mkString("; ")}"))

        if (args.trace) {
          val pubs = publishMs.synchronized(publishMs.toList)
          val roots = batches.map { b =>
            val start = java.time.Instant.parse(b.timestamp).toEpochMilli.toDouble
            val dur = b.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
            val s = run.recorder.add(s"${args.workload}-r$done-b${b.batchId}", 0,
              s"batch ${b.batchId}", "stream", start, start + dur("triggerExecution"),
              Map("rows" -> b.numInputRows))
            var at = start
            val phases = Seq("latestOffset", "walCommit", "queryPlanning", "addBatch",
              "commitOffsets").filter(dur.contains).map { k =>
              val p = run.recorder.add(s.trace, s.id, k, "stream", at, at + dur(k))
              at += dur(k)
              p
            }
            pubs.find(_._1 == b.batchId).foreach { case (_, ps, pe) =>
              phases.find(_.name == "addBatch").foreach(ab =>
                run.recorder.add(s.trace, ab.id, "publish", "publish", ps, pe))
            }
            s
          }
          attachJobs(run.recorder.all.filter(s => roots.exists(_.trace == s.trace)))
          def sumD(keys: String*) = batches.map(b => keys.map(k =>
            Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum).sum / 1e3
          val (nFiles, nCells, maxPerCell, outMb) = layout(out)
          rounds += w.metrics(planMs(w)) ++ Map(
            "scan.games" -> batches.map(_.numInputRows.toDouble).sum,
            "enrich.hit_ratio" -> lab.toDouble / math.max(n, 1L),
            "publish.files" -> nFiles.toDouble,
            "publish.cells" -> nCells.toDouble,
            "publish.max_files_per_cell" -> maxPerCell.toDouble,
            "publish.out_mb" -> outMb,
            "stream.batches" -> batches.length.toDouble,
            "stream.latest_offset_s" -> sumD("latestOffset"),
            "stream.plan_s" -> sumD("queryPlanning"),
            "stream.add_batch_s" -> sumD("addBatch"),
            "stream.commit_s" -> sumD("walCommit", "commitOffsets"),
            "stream.publish_s" -> pubs.map { case (_, s, e) => e - s }.sum / 1e3,
            "stream.files_per_batch" -> nFiles.toDouble / math.max(batches.length, 1))
        }
      } catch {
        case e: Exception =>
          e.printStackTrace()
          (1 to spec.sources * spec.filesPerSource).foreach(_ =>
            run.op(ok = false, s"catch-up drain $done: $e"))
          go = false
      }
    }
    // untimed: the streamed tree must hold the games the batch path
    // publishes from the same files, over the game columns
    if (go) {
      val batch = ChessExport.exportProjection(ChessPipeline.ingestAndEnrich(
        spark, ChessPipeline.Source("all", inRoot), openings))
      val b = treeHash(batch)
      if (b != streamedHash)
        run.fail(s"catch-up tree differs from the batch tree: (rows, labeled, hash sum) " +
          s"$streamedHash vs $b")
      val parseErrors = spark.read.format("pgn").load(inRoot)
        .filter(col("parse_error").isNotNull).count()
      if (parseErrors != exp("corrupt"))
        run.fail(s"scan reports $parseErrors parse errors, expected ${exp("corrupt")}")
      if (args.trace) rounds.mapInPlace(_ + ("scan.parse_errors" -> parseErrors.toDouble))
    }
    run.note("drains", run.samplesOf("catchup_drain_s").length)
    run.note("percentile_rule", Stats.supportedPercentile(spec.sources * spec.filesPerSource)
      .map(p => s"p$p").getOrElse("none"))
  }

  override def probeLayers(spark: SparkSession): Unit = probeChessLayers(spark)

  override def layerMetrics(): Map[String, Double] = super.layerMetrics() ++ probes

  /** Batch latency at the highest percentile that one drain's batches
    * support with at least ten samples beyond it (p50 of 20). */
  private def batchLatency: Double = {
    val p = Stats.supportedPercentile(spec.sources * spec.filesPerSource).getOrElse(50)
    Stats.percentile(run.samplesOf("catchup_batch_s"), p.toDouble)
  }

  def report: Seq[(String, String, Seq[Double])] = Seq(
    ("catchup_games_per_s", "games/s", run.samplesOf("catchup_games_per_s")),
    ("catchup_batch_p50_s", "s", run.samplesOf("catchup_batch_s")),
    ("catchup_drain_s", "s", run.samplesOf("catchup_drain_s"))) ++ common

  def endToEnd: Map[String, Any] = endToEndOf(median("catchup_drain_s"), batchLatency)
}

/** `panel` and `tail`: a fixed query list over the committed sf0.01 tables
  * in a seed-permuted order. Untimed warm-up passes, then timed pairs of
  * a cold pass (Spark's generated-code cache emptied first, so every query
  * is built, planned and compiled anew) and a warm pass. Every execution's
  * result is digested outside its timing and compared with the committed
  * digest. */
final class QueryWorkload(run: Run, name: String, ids: Seq[String]) extends Workload(run) {
  private val all = graft.SparkEntry.queries
  private val keys: Seq[String] = new scala.util.Random(args.seed).shuffle(ids.map { id =>
    all.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $id"))
  })
  private var committed: Map[String, String] = Map.empty
  private val observed = mutable.LinkedHashMap.empty[String, Digest.Result]
  /** The fresh JVM's first pass, reported but not gated. */
  private val first = mutable.LinkedHashMap.empty[String, Double]
  private val cold = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val warm = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Planning and codegen figures of each cold pass. */
  private val coldRounds = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** Construction intervals of the current pass, and each traced query's
    * root span with its construct, plan and execute children. */
  private val construct = mutable.ArrayBuffer.empty[(Double, Double)]
  private val spans = mutable.ArrayBuffer.empty[(Span, Seq[Span])]

  /** Tolerance for construct + plan + execute against the traced wall. */
  private val ReconcileTolMs = 1.0
  private val ReconcileTolShare = 0.01

  def prepare(): Unit = if (!args.recordDigests) {
    val node = Workloads.readJson(args.digests)
    committed = keys.map(k => k -> Option(node.get(k)).map(_.get("sha256").asText)
      .getOrElse(throw new IllegalStateException(s"no committed digest for $k"))).toMap
    if (args.tamper.contains("digest"))
      committed = committed.updated(keys.head, "0" * 64)
  }

  private def execute(spark: SparkSession, key: String, pass: String, w: Window): Double = {
    val dir = args.data.toString
    val trace = s"$name-$pass-$key"
    val (wall, problem) = w(spark) {
      val a = Clock.nowMs
      val df = all(key)(spark, dir)
      val b = Clock.nowMs
      df.queryExecution.executedPlan
      val c = Clock.nowMs
      val rows = df.collect()
      val d = Clock.nowMs
      val wallMs = Clock.nowMs - a
      if (args.trace) {
        val root = run.recorder.add(trace, 0, key, "query", a, a + wallMs, Map("pass" -> pass))
        val phases = Seq(("construct", a, b), ("plan", b, c), ("execute", c, d)).map {
          case (n, s, e) => run.recorder.add(trace, root.id, n, "query", s, e)
        }
        construct += ((a, b))
        spans += ((root, phases))
      }
      val digest = Digest.of(df.schema, rows.toSeq)
      observed(key) = digest
      val problem =
        if (args.recordDigests) None
        else if (committed(key) != digest.sha256)
          Some(s"$key pass $pass: result digest ${digest.sha256} (${digest.rows} rows) " +
            s"differs from the committed ${committed(key)}")
        else None
      (wallMs / 1e3, problem)
    }
    run.op(problem.isEmpty, problem.getOrElse(""))
    wall
  }

  /** One pass over the queries; the per-query times go to `into`. */
  private def pass(spark: SparkSession, label: String,
      into: mutable.Map[String, mutable.ArrayBuffer[Double]]): Window = {
    val w = new Window(run)
    construct.clear()
    keys.foreach(k => into.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += execute(spark, k, label, w))
    w
  }

  def measure(spark: SparkSession): Unit = {
    registerPlanning(spark)
    val w0 = Clock.nowMs
    val untimed = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    (0 until Workloads.QueryWarmupPasses).foreach { p =>
      if (p > 0) org.apache.spark.graftbench.CodegenCache.clear()
      pass(spark, s"u$p", untimed)
    }
    untimed.foreach { case (k, xs) => first(k) = xs.head }
    run.note("warmup_s", (Clock.nowMs - w0) / 1e3)
    val t0 = Clock.nowMs
    var done = 0
    while (done < Workloads.MinQueryPairs || moreRounds(t0, done)) {
      done += 1
      org.apache.spark.graftbench.CodegenCache.clear()
      val p0 = Clock.nowMs
      val cw = pass(spark, s"c$done", cold)
      if (args.trace) {
        val cm = cw.metrics(planMs(cw))
        val constructJobs = run.probe.jobsIn(p0, Clock.nowMs)
          .count(j => construct.exists { case (a, b) => j.startMs >= a - 1 && j.startMs <= b + 1 })
        coldRounds += Map(
          "query.construct_s" -> construct.map { case (a, b) => b - a }.sum / 1e3,
          "query.construct_jobs" -> constructJobs.toDouble,
          "query.plan_s" -> cm("query.plan_s"),
          "codegen.compile_s" -> cm("codegen.compile_s"),
          "codegen.compiles" -> cm("codegen.compiles"))
      }
      val ww = pass(spark, s"w$done", warm)
      if (args.trace) rounds += ww.metrics(planMs(ww))
    }
    run.note("pairs", done)
    run.note("order", keys)
    run.note("first_pass_s", first)
    run.note("cold_median_s", medians(cold))
    run.note("warm_median_s", medians(warm))
    run.note("digests", observed.map { case (k, d) => k -> Json.obj("sha256" -> d.sha256, "rows" -> d.rows) })
    if (args.recordDigests) {
      val kept = if (!Files.exists(args.digests)) Map.empty[String, Any]
        else Workloads.readJson(args.digests).fields().asScala.map { e =>
          e.getKey -> Json.obj("sha256" -> e.getValue.get("sha256").asText,
            "rows" -> e.getValue.get("rows").asLong) }.toMap
      val all = kept ++ observed.map { case (k, d) =>
        k -> Json.obj("sha256" -> d.sha256, "rows" -> d.rows) }
      Files.writeString(args.digests, Json.enc(scala.collection.immutable.TreeMap(all.toSeq: _*)), UTF_8)
    }
    if (args.trace) {
      val gaps = spans.map { case (root, phases) =>
        attachJobs(phases)
        (root, math.abs(root.durMs - phases.map(_.durMs).sum))
      }
      val reconcileBad = gaps.count { case (root, gap) =>
        gap > ReconcileTolMs + ReconcileTolShare * root.durMs }
      run.note("reconcile", Json.obj("queries" -> spans.length,
        "worst_gap_ms" -> (0.0 +: gaps.map(_._2)).max,
        "outside_tolerance" -> reconcileBad,
        "tolerance" -> s"${ReconcileTolMs} ms + ${ReconcileTolShare * 100}% of wall"))
      if (reconcileBad > 0)
        run.fail(s"$reconcileBad traced queries: construct + plan + execute differ from wall")
    }
  }

  override def layerMetrics(): Map[String, Double] = super.layerMetrics() ++
    coldRounds.flatMap(_.keys).distinct.map(k => k -> Stats.median(coldRounds.flatMap(_.get(k)).toSeq))

  private def medians(xs: mutable.Map[String, mutable.ArrayBuffer[Double]]): Map[String, Double] =
    xs.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap

  /** Per pass, the sum over queries; the gated figure is the sum over
    * queries of each query's median. */
  private def passSums(xs: mutable.Map[String, mutable.ArrayBuffer[Double]]): Seq[Double] =
    xs.values.map(_.toSeq).transpose.map(_.sum).toSeq

  def report: Seq[(String, String, Seq[Double])] = Seq(
    (s"${name}_first_pass_s", "s", Seq(first.values.sum)),
    (s"${name}_cold_pass_s", "s", passSums(cold)),
    (s"${name}_warm_pass_s", "s", passSums(warm)),
    (s"${name}_cold_s", "s", Seq(medians(cold).values.sum)),
    (s"${name}_warm_s", "s", Seq(medians(warm).values.sum))) ++ common

  def endToEnd: Map[String, Any] = endToEndOf(medians(cold).values.sum, medians(warm).values.sum)
}
