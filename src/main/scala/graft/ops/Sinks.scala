package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output-layout control — the sink-side half of the 100 TB contract.
  * A long-running pipeline that writes per-micro-batch or
  * per-fine-partition accumulates the classic small-files problem:
  * millions of KB-scale parquet files whose open/footer overhead
  * dominates every later scan. Compaction rewrites a directory into
  * size-targeted files, optionally range-sorted so later range
  * predicates prune at the row-group level (the poor man's
  * clustering index).
  */
object Sinks {

  /** On-disk bytes under `dir` (compressed size — the right basis for
    * output-file sizing, since the rewrite re-compresses to roughly
    * the same ratio). ONE recursive content-summary call, not a
    * per-file getFileStatus loop: against an object store holding the
    * millions of small files compaction exists to fix, serial
    * driver-side HEADs per file would cost more than the rewrite. */
  def inputBytes(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Compact `inDir`'s parquet into ~`targetFileBytes` files at
    * `outDir`. With `sortCols`, data is range-repartitioned and sorted
    * within files, so each output file owns a contiguous key range —
    * min/max row-group stats then prune range scans. Returns the
    * output file count chosen. One shuffle, one pass: at corpus scale
    * this is the nightly compaction job, amortized over every
    * subsequent read. */
  def compactParquet(s: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0)
    // overwrite-while-reading the source directory deletes input files
    // mid-scan and loses data — compare fully-qualified paths so
    // relative/absolute spellings of the same dir can't slip through
    val conf = s.sparkContext.hadoopConfiguration
    def qualified(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      // URI.normalize resolves ../. segments, which Hadoop Path keeps
      p.getFileSystem(conf).makeQualified(p).toUri.normalize()
    }
    require(qualified(inDir) != qualified(outDir),
      s"compactParquet: outDir must differ from inDir ($inDir)")
    val df = Tables.read(s, inDir)
    val nFiles = math.max(1,
      math.ceil(inputBytes(s, inDir).toDouble / targetFileBytes).toInt)
    val out =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)
    out.write.mode("overwrite").parquet(outDir)
    nFiles
  }
}
