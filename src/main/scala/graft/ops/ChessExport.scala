package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Fan-in + publish (SURVEY.md §2 S7-S9, P2, P5, F6-F8; reference:
  * src/export-to-parquet.ts:40-112).
  *
  * Reference semantics reproduced:
  *  - deterministic sorted source order for the union (ts:40-42) — here the
  *    caller passes sources sorted by key and we `unionByName` in that order;
  *  - the 20-column export projection (ts:69-94) incl.
  *    `COALESCE(clean_timecontrol, TimeControl) AS TimeControl` (ts:85);
  *  - quality filter `UTCDate IS NOT NULL AND year(UTCDate) >= 1500`
  *    (ts:92-93);
  *  - derived partition columns: `year` int via year(UTCDate) and `month`
  *    zero-padded STRING via strftime '%m' (ts:89-90) — the mixed types are
  *    part of the layout contract;
  *  - Hive-partitioned parquet `DataSource=…/year=…/month=…` with clean
  *    overwrite (ts:106-112, 51-56).
  *
  * Scale notes: the reference layout produced 7.5k partitions × ~750 KB files
  * (BASELINE.md — small-file regime). The write goes through
  * [[PartitionedSink]] (r9): REBALANCE on the partition columns keeps one
  * file per Hive cell at this scale and O(cells) files at 100 TB, while
  * letting AQE split a mega source-month cell across tasks instead of
  * serializing it into one straggler, with a per-file record cap as the
  * AQE-independent bound.
  *
  * Two entry points. [[publish]] is the one-shot fan-in of the reference:
  * union every source, one write, dynamic overwrite of the cells present
  * in the data. [[publishSource]] is what the incremental pipeline uses:
  * one source's games replace its whole `DataSource=<key>` subtree (a
  * static overwrite), so a republished source keeps no cell its new data
  * lacks and the other sources' files are not read or rewritten;
  * [[dropOtherSources]] removes the subtrees of sources no longer
  * published.
  */
object ChessExport {

  /** The 20-column export projection over an enriched games DF
    * (export-to-parquet.ts:69-94; UTCDate is a data column in addition to
    * feeding the derived year/month partition values). */
  def exportProjection(games: DataFrame): DataFrame =
    games
      .filter(col("UTCDate").isNotNull && year(col("UTCDate")) >= 1500)
      .select(
        col("Event"), col("Site"), col("White"), col("Black"), col("Result"),
        col("WhiteTitle"), col("BlackTitle"), col("WhiteElo"), col("BlackElo"),
        col("UTCDate"),
        col("UTCTime"), col("ECO"), col("Opening"), col("Termination"),
        coalesce(col("clean_timecontrol"), col("TimeControl")).as("TimeControl"),
        col("Source"), col("movetext"), col("DataSource"),
        year(col("UTCDate")).as("year"),
        date_format(col("UTCDate"), "MM").as("month"))

  /** Union enriched per-source DFs (caller-sorted), project, write. */
  def publish(sources: Seq[DataFrame], outDir: String): Unit = {
    require(sources.nonEmpty, "no sources to export")
    val combined = sources.map(exportProjection).reduce(_.unionByName(_))
    // dynamic: only partitions present in this run are replaced; static
    // overwrite would wipe the whole outDir on an incremental re-publish
    PartitionedSink.write(combined, Seq("DataSource", "year", "month"),
      outDir, dynamicOverwrite = true)
  }

  /** One source's enriched games replace its whole `DataSource=<key>`
    * subtree (the key escaped the way partition discovery unescapes it),
    * partitioned by `year=/month=` below it: the published tree reads back
    * exactly as [[publish]]'s layout. */
  def publishSource(games: DataFrame, key: String, outDir: String): Unit =
    PartitionedSink.write(exportProjection(games).drop("DataSource"),
      Seq("year", "month"), s"$outDir/${subtree(key)}")

  /** Deletes every `DataSource=` subtree of a local `outDir` that is not the
    * subtree of one of `keys`; returns the deleted subtree names. */
  def dropOtherSources(outDir: String, keys: Seq[String]): Seq[String] = {
    val keep = keys.map(subtree).toSet
    val root = Paths.get(outDir)
    val stale = if (!Files.isDirectory(root)) Nil else {
      val ls = Files.list(root)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("DataSource=") && !keep(n)).toList.sorted
      finally ls.close()
    }
    stale.foreach(n => deleteTree(root.resolve(n)))
    stale
  }

  private def subtree(key: String): String =
    ExternalCatalogUtils.getPartitionPathString("DataSource", key)

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }
}
