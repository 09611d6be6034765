package graft.queries

import org.apache.spark.sql.{Column, DataFrame}

/** The query layer's one rule for spreading a scan across cores.
  *
  * A parquet file with a single row group is read by a single task, so a
  * per-row kernel or a partial aggregate over it runs on one core while the
  * others idle. The test tables are such files, one per table. An input of
  * several files is split by the scan itself, one task per file at least,
  * and is left as stored: a hash spread there only re-shuffles every
  * projected column, once per consumer of the scan. So `apply` hash-spreads
  * `df` over `defaultParallelism` partitions by `keys` when it reads fewer
  * files than that, and returns it unchanged otherwise. Results of every
  * caller are partitioning-invariant (exact sums and counts, keyed joins).
  *
  * The signal is the file count, not the scan's partition count: a
  * one-row-group file still reports several byte-range partitions, only one
  * of which holds rows. Known limit: one large file with many row groups is
  * spread too, although its scan splits. */
private[queries] object ScanSpread {
  def apply(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < n) df.repartition(n, keys: _*) else df
  }
}
