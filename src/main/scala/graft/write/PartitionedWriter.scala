package graft.write

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S3/S4/S5: the partitioned warehouse sinks.
  *
  * Reference semantics (`/root/reference/dags/templates/evm_load_template
  * .py`):
  *  - `INSERT OVERWRITE … PARTITION (dt = date '{ds}')` — idempotent daily
  *    overwrite of one static partition (S3);
  *  - logs/traces add dynamic `address_hash`/`selector_hash` partition
  *    columns → 100 sub-dirs per day for parse-time pruning (S4);
  *  - tokens use `INSERT INTO` append (S5).
  *
  * The reference forces one output file per partition with
  * `/*+ REPARTITION(1) */`; at 100 TB one file per (dt,bucket) partition
  * is still right-sized for logs/traces (daily volume / 100), but we
  * expose it as a knob instead of hard-coding 1.
  *
  * Overwrite uses `partitionOverwriteMode=dynamic` (as a per-write
  * option, so it holds in any session) — only partitions present in the
  * batch are replaced, and a re-run of one day never clears other days.
  */
object PartitionedWriter {

  /** Daily overwrite into dt=… (+ optional extra dynamic partition cols).
    * `filesPerPartition` replaces the reference's REPARTITION(1) hint. */
  def overwriteDaily(df: DataFrame, path: String, ds: java.sql.Date,
                     extraPartitionCols: Seq[String] = Nil,
                     filesPerPartition: Int = 1): Unit = {
    val partCols = "dt" +: extraPartitionCols
    val withDt = df.withColumn("dt", lit(ds))
    val sized =
      if (extraPartitionCols.isEmpty) withDt.repartition(filesPerPartition)
      else {
        // co-locate each (bucket) partition into `filesPerPartition`
        // tasks: hash-partition on the bucket cols plus a row-content
        // split key, so each partition dir gets at most that many files
        // instead of one per upstream task. The partition count is
        // explicit (the session's shuffle partitions): AQE never
        // coalesces a repartition-by-number, while a by-column one over
        // a small day folds into ONE task that writes every bucket dir
        // alone. Rows still route by the bucket cols, so the
        // files-per-dir bound is unchanged.
        val split =
          if (filesPerPartition <= 1) Nil
          else Seq(pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*),
            lit(filesPerPartition.toLong)))
        withDt.repartition(
          df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
          extraPartitionCols.map(col) ++ split: _*)
      }
    sized.write
      .mode(SaveMode.Overwrite)
      // per-write option, not the session conf: the "a re-run of one
      // day never clears other days" contract must hold in ANY session,
      // not only ones built by GraftSession (static overwrite here
      // silently truncates every other day's partition)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** Multi-day dynamic overwrite — the synopsis-warehouse CELL sink:
    * like [[overwriteDaily]] but `dt` comes from the DATA (`dayCol`,
    * renamed), so one backfill job lands every day it touched in one
    * pass, each under its own `dt=…` directory. Dynamic overwrite
    * keeps the daily idempotence contract day-wise: a re-run replaces
    * exactly the days present in the batch and never clears others —
    * which is what lets a 100 TB warehouse maintain per-day sketch
    * cells (rank grid / CMS / KMV) incrementally and answer any range
    * query from PARTITION-PRUNED cell scans, zero corpus I/O.
    * Day cells are synopsis-sized, so the default is one file per day
    * (the repartition on dt co-locates each day into one task). */
  def overwriteDays(df: DataFrame, path: String, dayCol: String,
                    filesPerPartition: Int = 1): Unit = {
    val withDt = df.withColumnRenamed(dayCol, "dt")
    val split =
      if (filesPerPartition <= 1) Nil
      else Seq(pmod(xxhash64(withDt.columns.toIndexedSeq.map(col): _*),
        lit(filesPerPartition.toLong)))
    withDt.repartition(col("dt") +: split: _*).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt")
      .parquet(path)
  }

  /** Retention vacuum for a dt-partitioned table (the
    * [[overwriteDays]] sink): drop every `dt=…` directory except the
    * newest `keepDays`, by PARSED partition-value order. The persisted
    * twin of [[graft.streaming.IngestStream.compactToNewestDays]]'s
    * live-state horizon — together they bound BOTH copies of the
    * synopsis warehouse's day dimension. Directory-level deletes only:
    * a surviving day's cells are untouched bytes (spec-pinned), and
    * the operation is idempotent. Returns the dropped partition
    * values (directory-name form, ascending).
    *
    * Filesystem: resolved from the PATH via the Hadoop FileSystem API
    * (`Path.getFileSystem` over the session's Hadoop conf), so the
    * same call vacuums `file:`, `hdfs:` and `s3a:` tables — the
    * storage a deployed warehouse actually lives on — instead of
    * silently no-opping off `java.io.File` on anything non-local. A
    * missing or non-directory root THROWS (a wrong path must be an
    * error, never a silent full-retention run).
    *
    * Ordering: day keys compare as VALUES, not directory-name
    * strings — ISO dates by epoch day and integers numerically, so
    * mixed-width integer keys (dt=9 vs dt=10) order correctly — and
    * the null partition (`__HIVE_DEFAULT_PARTITION__`, or any
    * unparseable key) sorts OLDEST: it is vacuumed first and can
    * never squat in the newest-`keepDays` window evicting a real
    * day. Mixing date- and integer-typed keys in one table is
    * rejected loudly (no meaningful cross-type order exists). */
  def vacuumDays(spark: SparkSession, path: String,
      keepDays: Int): Seq[String] = {
    require(keepDays >= 1, s"vacuumDays: keepDays must be >= 1: $keepDays")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"vacuumDays: table root does not exist or is not a directory: " +
        s"$path — refusing to treat a wrong path as an empty table")
    val parts = fs.globStatus(
        new org.apache.hadoop.fs.Path(root, "dt=*"))
      .toSeq.filter(_.isDirectory)
      .map(s => s.getPath -> s.getPath.getName.stripPrefix("dt="))
    // parse each key to an orderable value: ISO date → epoch day,
    // integer → itself, anything else (incl. the Hive null
    // partition) → None = oldest
    def parsed(v: String): Option[(Int, Long)] =
      scala.util.Try(("date", java.time.LocalDate.parse(v).toEpochDay))
        .orElse(scala.util.Try(("int", v.toLong))).toOption
        .map { case (t, k) => (if (t == "date") 1 else 0, k) }
    val keyed = parts.map { case (p, v) => (p, v, parsed(v)) }
    val types = keyed.flatMap(_._3).map(_._1).distinct
    require(types.size <= 1,
      s"vacuumDays: mixed date- and integer-typed dt keys under $path" +
        s" — no meaningful retention order exists across types")
    val ordered = keyed.sortBy { case (_, _, k) =>
      (k.isDefined, k.map(_._2).getOrElse(Long.MinValue))
    }
    val drop = ordered.dropRight(keepDays)
    drop.foreach { case (p, _, _) => fs.delete(p, true): Unit }
    drop.map(_._2)
  }

  /** S5 append (tokens incremental load). */
  def append(df: DataFrame, path: String, filesPerPartition: Int = 1): Unit =
    df.repartition(filesPerPartition).write
      .mode(SaveMode.Append)
      .parquet(path)
}
