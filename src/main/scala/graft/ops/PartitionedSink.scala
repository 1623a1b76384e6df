package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}

/** The shared Hive-partitioned parquet sink tail (r9) — one place owning
  * the layout discipline of every publisher (ChessExport's one-shot and
  * per-source publishes, the streaming publisher, the CorpusBuild corpus
  * write) instead of a bare `repartition(partCols)` each:
  *
  *  - **REBALANCE hint on the partition columns** instead of a plain
  *    repartition: same one-task-per-cell → one-file-per-cell layout in
  *    the common case (AQE coalesces small cells into shared tasks; each
  *    task still writes one file per cell it holds, so file counts stay
  *    O(cells)), but a MEGA cell — one source-month holding a large
  *    fraction of a 100 TB corpus, the straggler the r8 verdict flagged —
  *    is now SPLIT by AQE across ceil(cellBytes / advisoryPartitionSize)
  *    tasks instead of serializing into one. A plain repartition hashes
  *    every row of a cell to the same reducer by construction; no AQE
  *    rule may split it, because correctness of downstream per-partition
  *    operators could depend on the co-location. REBALANCE declares
  *    "this partitioning is for write layout only", which is exactly the
  *    license AQE needs (`RebalancePartitions` + skew-split rule).
  *
  *  - **maxRecordsPerFile** as belt-and-suspenders: even inside one
  *    task, no parquet file exceeds [[MaxRecordsPerFile]] records — so a
  *    mega cell can never produce a monolithic file a downstream reader
  *    must then split-scan, and the bound holds even with AQE disabled.
  *
  * LayoutSpec proves both halves on a deliberately skewed corpus: every
  * written file respects the cap while total file count stays O(cells).
  */
object PartitionedSink {

  /** Per-file record cap. ~1M rows ≈ 1–2 GB at the chess-game /
    * curated-document row widths — large enough that healthy cells stay
    * one file, small enough that a mega cell's files stay scannable and
    * its write parallelizable. Overridable per call (tests use small
    * caps; a 100 TB deployment tunes it with
    * `spark.sql.files.maxRecordsPerFile` semantics in mind).
    */
  val MaxRecordsPerFile = 1000000L

  /** `mode` defaults to Overwrite (the batch-publish contract);
    * streaming foreachBatch publishers pass Append — per-micro-batch
    * dynamic overwrite would WIPE a cell's earlier batches whenever two
    * micro-batches touch the same Hive cell (r10 streaming E2E gate).
    *
    * Overwrite is static unless `dynamicOverwrite`, whatever the session's
    * `spark.sql.sources.partitionOverwriteMode`: a static overwrite
    * replaces all of `outDir`, so a cell absent from `df` does not survive
    * (the per-source publish relies on it); a dynamic one replaces only
    * the cells present in `df`.
    */
  def write(df: DataFrame, partCols: Seq[String], outDir: String,
      maxRecordsPerFile: Long = MaxRecordsPerFile,
      dynamicOverwrite: Boolean = false,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(partCols.nonEmpty, "partitioned sink needs partition columns")
    df.hint("rebalance", partCols: _*)
      .write
      .mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("partitionOverwriteMode", if (dynamicOverwrite) "dynamic" else "static")
      .partitionBy(partCols: _*)
      .parquet(outDir)
  }
}
