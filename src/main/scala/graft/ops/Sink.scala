package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Warehouse-load sinks — the reference's BigQuery
  * `load_table_from_dataframe` (K1, etl_tools.py:67-77; table name
  * `{table}_{endpoint}` built at outreach_etl.py:217, default load
  * semantics = append) re-expressed as Spark writers.
  *
  * Scale design:
  *  - append/overwrite are committed via Spark's file commit protocol
  *    (atomic rename per task attempt) — task retries can't duplicate
  *    rows the way the reference's retry loop does
  *    (bug at outreach_etl.py:152-155, SURVEY.md §2.12);
  *  - date-partitioned layout (`ds=YYYY-MM-DD` directories) is what
  *    turns the incremental window filter into partition pruning at
  *    100 TB;
  *  - re-running a window is idempotent with dynamic partition
  *    overwrite: only the re-pulled days are replaced, concurrent
  *    other-day writers are untouched — the exactly-once upsert the
  *    reference defers to BigQuery.
  */
object Sink {

  /** Reference table naming: `{table}_{endpoint}`
    * (outreach_etl.py:217).
    */
  def tableName(base: String, endpoint: String): String = s"${base}_$endpoint"

  /** Per-row digest that is NOT null-blind: Spark's multi-arg
    * `xxhash64` folds a NULL input as a no-op, so (v, NULL) and
    * (NULL, v) would collide. Pre-hashing each column first maps NULL
    * to the fixed seed value at its POSITION, so values moving
    * between columns (or nulls swapping with values) change the
    * digest.
    */
  private def rowDigest(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    xxhash64(cols.map(c => xxhash64(col(c))): _*)
  }

  /** Order-independent table digest: (row count, Σ xxhash64(row) as
    * DECIMAL(38,0)). Partition- and sort-invariant (a commutative sum
    * of per-row hashes), so two copies of a table compare equal no
    * matter how either side was shuffled or file-split — the
    * replication-validation primitive a sync pipeline runs after a
    * warehouse load. DECIMAL(38,0) accumulation cannot overflow below
    * ~10¹⁸ rows (38 digits vs 19-digit terms).
    */
  def tableChecksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val aggs = checksumAggs(df)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO
      else r.getDecimal(1))
  }

  /** [[tableChecksum]]'s aggregates as observe-able columns: attach
    * with `df.observe(obs, checksumAggs(df): _*)` so the digest rides
    * an action the caller pays ANYWAY (a warehouse load, a staging
    * write) instead of a second full scan of the same table — the
    * write-gate queries paid digest-scan + write for the same rows
    * (guide §1.2: remove passes). Same digest expression over the same
    * rows, so the observed value is identical to a separate
    * [[tableChecksum]] pass; decode with [[checksumFromObs]].
    */
  def checksumAggs(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    Seq(count(lit(1)).as("__ck_n"),
      sum(rowDigest(df.columns.sorted.toSeq).cast("decimal(38,0)"))
        .as("__ck_sum"))
  }

  /** Attach [[checksumAggs]] to `df` under `obs` (pass-through). */
  def observeChecksum(df: DataFrame,
                      obs: org.apache.spark.sql.Observation): DataFrame = {
    val aggs = checksumAggs(df)
    df.observe(obs, aggs.head, aggs.tail: _*)
  }

  def checksumFromObs(obs: org.apache.spark.sql.Observation)
      : (Long, java.math.BigDecimal) = {
    val m = obs.get
    (m("__ck_n").asInstanceOf[Long], m("__ck_sum") match {
      case null => java.math.BigDecimal.ZERO
      case d: java.math.BigDecimal => d
      case d: scala.math.BigDecimal => d.bigDecimal
    })
  }

  /** [[overwriteLoad]] that also measures the source's
    * [[tableChecksum]] digest DURING the write job (Observation /
    * CollectMetrics — a pass-through plan node over the rows being
    * written): load + source digest were two full scans of the same
    * table in the sync gate; now the gate pays the write it needs and
    * gets the digest for free.
    */
  def overwriteLoadChecksummed(df: DataFrame, path: String)
      : (Long, java.math.BigDecimal) = {
    val obs = new org.apache.spark.sql.Observation()
    observeChecksum(df, obs).write.mode(SaveMode.Overwrite).parquet(path)
    checksumFromObs(obs)
  }

  /** CDC-style snapshot diff: classify every key as added / removed /
    * changed / unchanged between two versions of a table. ONE full
    * outer join on the key with both sides reduced to (key, row
    * digest) before the shuffle — the payload never moves, so the
    * exchange carries fixed-width rows no matter how wide the table.
    * The standard reconciliation step between warehouse loads (what a
    * sync pipeline runs to turn "overwrite everything" into an
    * incremental upsert plan).
    *
    * PRECONDITION: `keyCols` uniquely identify rows on BOTH sides —
    * duplicate keys multiply through the join and misclassify. Run
    * `df.groupBy(keyCols).count().filter(_ > 1)` once per new source
    * if uniqueness isn't guaranteed by construction.
    */
  def tableDiff(before: DataFrame, after: DataFrame,
                keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(before.columns.sorted.sameElements(after.columns.sorted),
      "tableDiff requires identical schemas")
    val valueCols = before.columns.filterNot(keyCols.contains).sorted
    // zero-arg xxhash64 fails analysis at runtime with an opaque
    // message; fail fast instead (a key-only table has no payload to
    // diff — every present key would be "unchanged" by definition)
    require(valueCols.nonEmpty,
      "tableDiff: keyCols cover every column — there are no value " +
        "columns to digest; drop a column from keyCols or compare " +
        "key presence with a semi/anti join instead")
    def digested(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+
        rowDigest(valueCols.toSeq).as(as): _*)
    digested(before, "__dig_b")
      .join(digested(after, "__dig_a"), keyCols, "full_outer")
      .select(keyCols.map(col) :+
        when(col("__dig_b").isNull, "added")
          .when(col("__dig_a").isNull, "removed")
          .when(col("__dig_a") === col("__dig_b"), "unchanged")
          .otherwise("changed").as("status"): _*)
  }

  /** Plain append load — the reference's default BigQuery semantics. */
  def appendLoad(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Full overwrite load (the reference's full-history replication
    * target state).
    */
  def overwriteLoad(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Date-partitioned incremental load: derive `ds` from `tsCol` and
    * overwrite ONLY the partitions present in this batch (dynamic
    * partition overwrite), so re-pulling a replication window is
    * idempotent instead of duplicating (the at-least-once → exactly-
    * once upgrade over the reference).
    */
  def partitionedWindowLoad(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("ds", date_format(col(tsCol), "yyyy-MM-dd"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy("ds")
      .parquet(path)

  /** Every file under `path`, at any depth, whose name does not start
    * with `_` (`_SUCCESS`, `_committed_*`), by `listStatus` recursion.
    * `FileSystem.listFiles(path, true)` would build a
    * `LocatedFileStatus` per file, whose constructor reads the file's
    * owner and permission: one `ls -ld` process per file on a local
    * filesystem without libhadoop.
    */
  def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                path: org.apache.hadoop.fs.Path): Set[String] =
    fs.listStatus(path).iterator.flatMap { st =>
      if (st.isDirectory) dataFiles(fs, st.getPath)
      else if (st.getPath.getName.startsWith("_")) Nil
      else Seq(st.getPath.toString)
    }.toSet

  /** Compact a parquet directory to ~`targetBytes` output files — the
    * small-files remedy every incremental sink needs at scale (each
    * AvailableNow tick / window re-pull appends task-count files; a
    * year of 15-minute ticks is ~35k files per partition, and file
    * listing + per-file open costs dominate reads long before data
    * size does).
    *
    * Safety properties (a maintenance op that can lose data is worse
    * than small files):
    *  - hive-partitioned layouts (`ds=.../...`) are detected from the
    *    directory structure and REWRITTEN PARTITIONED, so dynamic
    *    partition overwrite and partition pruning keep working;
    *  - single-writer assumption is ENFORCED, not assumed: the file
    *    set is snapshotted first and the swap aborts if it changed
    *    during the rewrite (a concurrent appender's files would
    *    otherwise be deleted without having been compacted);
    *  - the swap is crash-recoverable: the old directory is renamed
    *    aside before the new one is installed, and deleted only after
    *    — at every step a complete copy exists on disk (temp paths are
    *    built as SIBLINGS via the parent Path, immune to trailing
    *    slashes).
    *
    * Returns the target file count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L << 20): Int = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // hive partition columns, read off the `name=value` directory
    // levels (no catalog needed for a path-based sink)
    def partitionCols(p: Path): Seq[String] = {
      val dirs = fs.listStatus(p).filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("_"))
      dirs.headOption.map(_.getPath.getName).filter(_.contains("=")) match {
        case Some(kv) => kv.split("=", 2)(0) +:
          partitionCols(dirs.head.getPath)
        case None => Seq.empty
      }
    }

    val snapshot = dataFiles(fs, hPath)
    val bytes = fs.getContentSummary(hPath).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val parts = partitionCols(hPath)
    val tmp = new Path(hPath.getParent, hPath.getName + "__compacting")
    fs.delete(tmp, true)
    val df = spark.read.parquet(hPath.toString)
    val writer =
      (if (parts.nonEmpty) df.repartition(n, parts.map(col): _*)
       else df.repartition(n))
        .write.mode(SaveMode.Overwrite)
    (if (parts.nonEmpty) writer.partitionBy(parts: _*) else writer)
      .parquet(tmp.toString)

    require(dataFiles(fs, hPath) == snapshot,
      s"aborting compaction of $path: directory changed during rewrite " +
        "(concurrent writer?) — compacted copy left at " + tmp)
    val aside = new Path(hPath.getParent, hPath.getName + "__precompact")
    fs.delete(aside, true)
    require(fs.rename(hPath, aside), s"compaction: failed to move $hPath aside")
    require(fs.rename(tmp, hPath),
      s"compaction: failed to install $tmp (original preserved at $aside)")
    fs.delete(aside, true)
    n
  }

  /** Bucketed catalog table: rows hash-clustered (and sorted) by
    * `key` into `buckets` files per partition. Two tables bucketed the
    * same way join with ZERO Exchange — the shuffle is paid ONCE at
    * write time and amortized over every subsequent join/aggregation
    * on the key, the standard layout for a 100 TB fact table that is
    * joined daily (SinkSpec asserts the Exchange-free SortMergeJoin
    * plan). Bucketing requires the catalog (`saveAsTable`) — plain
    * `parquet(path)` writes lose the bucket metadata.
    */
  def bucketedSave(df: DataFrame, table: String, key: String,
                   buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Z-ordered layout write: range-partition + sort by the Morton key
    * of two dimension columns so every output file covers a tight
    * min/max box on BOTH columns — parquet footer stats then prune
    * files/row-groups for predicates on either dimension (the
    * data-layout play for multi-dimensional scans at 100 TB, where a
    * single-column sort leaves the second column unprunable).
    * `repartitionByRange` samples the key distribution, so files are
    * balanced even when the dimensions are skewed.
    */
  def zorderedSave(df: DataFrame, colA: String, colB: String,
                   path: String, files: Int): Unit = {
    import graft.functions.dsl.zorder_key
    val zc = "__graft_zorder_key"
    require(!df.columns.contains(zc), s"input already has a $zc column")
    df.withColumn(zc, zorder_key(col(colA), col(colB)))
      .repartitionByRange(files, col(zc))
      .sortWithinPartitions(col(zc))
      .drop(zc)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
