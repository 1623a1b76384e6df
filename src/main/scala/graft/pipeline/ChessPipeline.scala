package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.chess
import graft.ops.{ChessExport, OpeningEnrichment}

/** The whole-pipeline driver — Spark-native analog of the reference's DVC DAG
  * (SURVEY.md §3 E1-E3): per source `ingest → normalize → enrich → project
  * → partitioned publish` into that source's `DataSource=<key>` subtree;
  * the published tree is the union of the subtrees.
  *
  * Incrementality (the DVC content-hash analog, reference: dvc.lock)
  * reaches the publish: each source's enriched staging output carries a
  * manifest recording a hash of the input file list (path, size, mtime)
  * and of the openings dimension. When it matches, the stage is skipped and
  * the staged parquet reused — same skip granularity as the reference (per
  * source), without re-reading input bytes. The publish manifest holds the
  * same hash per published source; only a source whose hash differs is
  * republished, so an incremental run reads and writes that source's cells
  * alone. Subtrees of sources no longer listed are deleted, so the output
  * holds exactly the current sources (the reference's clean-output
  * contract, export-to-parquet.ts:51-56).
  */
object ChessPipeline {

  case class Source(key: String, pgnDir: String)

  /** One source: PGN scan → normalize columns → enrich → DataSource tag.
    * Mirrors read-pgn.ts (S1/P1) + find-openings.ts (D1/D2/J1/J2).
    */
  def ingestAndEnrich(
      spark: SparkSession,
      source: Source,
      openings: DataFrame): DataFrame = {
    val games = spark.read.format("pgn").load(source.pgnDir)
      .withColumn("clean_movetext", chess.movesNormalize(col("movetext")))
      .withColumn("clean_timecontrol", chess.timecontrolNormalize(col("TimeControl")))
      .withColumn("DataSource", lit(source.key))
    OpeningEnrichment.enrichTrie(games, openings)
  }

  /** Bounded source-stage concurrency. The per-source DAGs (scan →
    * normalize → enrich → staging write) are independent, and one
    * source's scan rarely has enough input splits to fill a cluster (the
    * 14.31 GB / 24-source measurement: serial staging kept ~2.4 of 32
    * cores busy — 15 MB/s aggregate over a corpus that scans at
    * ~150 MB/s). Submitting a bounded window of them concurrently lets
    * the scheduler fill executors with splits from several sources at
    * once — the exact behavior a multi-tenant driver has on a real
    * cluster. Bounded (not all-at-once) so a 1000-source corpus doesn't
    * hold 1000 write jobs' memory at the driver.
    *
    * The window is DERIVED from the cluster shape (r11), overridable via
    * [[SourceConcurrencyKey]]: `clamp(cores / 2, 2, 16)`. Rationale: one
    * source keeps ~2–3 cores busy at reference file sizes, so even
    * cores/4 sources nominally saturate — but the measured width sweep
    * on the 32-core box (14.31 GB / 24 sources, BASELINE.md r11) shows
    * the deeper window still wins: 2 → 420 s, 8 → 175–176 s,
    * 16 → 161–164 s (reproduced), because per-source stages have
    * scheduling gaps (manifest checks, commit barriers, small-source
    * tails) that a deeper backlog fills. The floor of 2 preserves
    * overlap on tiny boxes; the cap of 16 bounds driver-side job
    * bookkeeping however wide the cluster.
    */
  val SourceConcurrencyKey = "graft.pipeline.sourceConcurrency"

  def sourceConcurrency(spark: SparkSession): Int =
    spark.conf.getOption(SourceConcurrencyKey).map(_.toInt).getOrElse {
      val cores = spark.sparkContext.defaultParallelism
      math.min(16, math.max(2, cores / 2))
    }

  /** Full run. `stagingDir` holds per-source enriched parquet + manifests;
    * `outDir` gets the partitioned publish, one `DataSource=<key>` subtree
    * per source, and the publish manifest `outDir/_graft_manifest` with one
    * `key=<source manifest>` line per published source.
    */
  def run(
      spark: SparkSession,
      sources: Seq[Source],
      openings: DataFrame,
      stagingDir: String,
      outDir: String): Unit = {
    require(sources.nonEmpty, "no sources to export")
    val sorted = sources.sortBy(_.key) // deterministic report order (W2/J3)
    // the openings dimension is a dependency of every enrich stage (the
    // reference's DVC DAG tracks it the same way, dvc.yaml:38-50): fold its
    // content fingerprint into each manifest so an updated dimension
    // invalidates the staged enrichment
    val openingsFp = openingsFingerprint(openings)
    val manifests = sorted.map { src =>
      src.key -> (inputManifest(src.pgnDir) + ":" + openingsFp)
    }
    // a source is republished when its publish-manifest line differs (a
    // manifest from before per-source lines parses as all sources dirty)
    val published = readPublishManifest(outDir)
    val (clean, dirty) = manifests.partition { case (k, m) => published.get(k).contains(m) }
    val dirtyKeys = dirty.map(_._1).toSet
    // crash safety: the dirty sources' lines go BEFORE any subtree is
    // touched, so a publish that dies midway leaves its source dirty
    if (dirty.nonEmpty) writePublishManifest(outDir, clean)
    // stage, then publish, each source in a bounded-concurrency window;
    // each closure runs independent Spark jobs (the scheduler interleaves
    // their tasks). Validation markdown is RETURNED and printed in source
    // order below — concurrent stages must not interleave their report lines.
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(sourceConcurrency(spark), sorted.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val reports = sorted.zip(manifests).map { case (src, (_, manifest)) =>
      Future {
        val stage = s"$stagingDir/${src.key}"
        lazy val staged = spark.read.parquet(stage)
        val report =
          if (readManifest(stage).contains(manifest)) {
            s"[pipeline] skip ${src.key} (manifest match)"
          } else {
            ingestAndEnrich(spark, src, openings)
              .write.mode(SaveMode.Overwrite).parquet(stage)
            writeManifest(stage, manifest)
            validation(src.key, staged)
          }
        if (dirtyKeys(src.key)) ChessExport.publishSource(staged, src.key, outDir)
        report
      }
    }
    // every window slot finishes before a failure surfaces: no publish may
    // still be writing when the caller sees the run end
    val results = reports.map(r => scala.util.Try(Await.result(r, Duration.Inf)))
    pool.shutdown()
    results.foreach(r => println(r.get))
    val dropped = ChessExport.dropOtherSources(outDir, sorted.map(_.key))
    if (dirty.isEmpty && dropped.isEmpty) {
      println(s"[pipeline] skip publish (manifest match)")
    } else {
      writePublishManifest(outDir, manifests)
      // combined-count validation (export-to-parquet.ts:102-104)
      println("[pipeline] published:")
      println(Markdown.render(
        spark.read.parquet(outDir).agg(count(lit(1)).as("games"))))
    }
    println(s"[pipeline] → $outDir")
  }

  /** Stage-end validation tables (S10): the three statements the reference
    * renders through `duckdb -markdown` at read-pgn.ts:54-56 — total count,
    * parse-error count, and up to 20 parse-error rows. Both counts come
    * from one aggregate.
    */
  private def validation(key: String, staged: DataFrame): String = {
    val Seq(games, parseErrors) = Markdown.renderColumns(staged.agg(
      count(lit(1)).as("games"), count(col("parse_error")).as("parse_errors")))
    val bad = staged.filter(col("parse_error").isNotNull)
      .select(col("game_id"), col("Event"), col("parse_error"))
    Seq(s"[pipeline] $key:", games, parseErrors, Markdown.render(bad, maxRows = 20))
      .mkString("\n")
  }

  // --- manifest (DVC-hash analog) ---

  /** Content fingerprint of the (small) openings dimension: SHA-256 over the
    * sorted rows. ~3.5k rows at reference scale — a driver collect is fine.
    */
  private def openingsFingerprint(openings: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    openings.select("eco", "name", "pgn", "uci").collect()
      .map(r => (0 until 4).map(r.get(_)).mkString(""))
      .sorted
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def inputManifest(dir: String): String = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return "missing"
    val md = MessageDigest.getInstance("SHA-256")
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.toLowerCase.endsWith(".pgn"))
      .toSeq.sortBy(_.toString)
      .foreach { p =>
        md.update(s"$p|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}\n"
          .getBytes("UTF-8"))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  private def manifestPath(stage: String) = Paths.get(stage, "_graft_manifest")

  private def readManifest(stage: String): Option[String] = {
    val p = manifestPath(stage)
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  private def writeManifest(stage: String, m: String): Unit =
    Files.writeString(manifestPath(stage), m)

  /** Publish manifest lines `key=<source manifest>`; a line without `=`
    * (the former single fan-in hash) names no source. */
  private def readPublishManifest(outDir: String): Map[String, String] =
    readManifest(outDir).toSeq.flatMap(_.split("\n")).flatMap { line =>
      val i = line.lastIndexOf('=')
      if (i < 0) None else Some(line.substring(0, i) -> line.substring(i + 1))
    }.toMap

  /** Replaces the publish manifest atomically (temp file + move), so a
    * crash leaves the old or the new manifest, never a torn one. */
  private def writePublishManifest(outDir: String, lines: Seq[(String, String)]): Unit = {
    val p = manifestPath(outDir)
    Files.createDirectories(p.getParent)
    val tmp = Files.writeString(p.resolveSibling("_graft_manifest.tmp"),
      lines.map { case (k, m) => s"$k=$m" }.mkString("\n"))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** CLI: `runMain graft.pipeline.ChessPipelineMain <inRoot> <openingsUri> <stagingDir> <outDir>`
  * where each `<inRoot>/<sourceKey>/` directory holds that source's .pgn
  * files and `<openingsUri>` is any Hadoop-FS URI or recursive glob the
  * openings dimension lives under (see [[graft.sources.OpeningsSource]]).
  */
object ChessPipelineMain {
  def main(args: Array[String]): Unit = {
    val Array(inRoot, openingsPath, stagingDir, outDir) = args
    val spark = chess.session("graft-chess-pipeline",
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("WARN")
    import scala.jdk.CollectionConverters._
    val sources = Files.list(Paths.get(inRoot)).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(p => ChessPipeline.Source(p.getFileName.toString, p.toString))
      .toSeq
    val openings = graft.sources.OpeningsSource.load(spark, openingsPath)
    ChessPipeline.run(spark, sources, openings, stagingDir, outDir)
    spark.stop()
  }
}
