package graft.lake

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The path-partitioned lake model (SURVEY.md §1.1.1, §2.1 S1-S3, §2.3 F1-F3).
  *
  * Reference layout: `<input>/<top>/SITE/PARTICIPANT/METRIC/.../
  * YYYYMMDD_HHMM[_i].csv.gz` (`collect_data_metadata.py:17-34`). Path
  * components are partition columns; the filename carries event time.
  *
  * Spark-first mapping: one recursive file listing becomes an *inventory
  * DataFrame*; path→column extraction is `regexp_extract` over the file
  * name (codegen'd, no UDF); include/exclude pruning is a plain filter on
  * those columns, which Catalyst turns into partition pruning when the
  * lake is laid out Hive-style (`site=.../participant=.../metric=...`).
  *
  * Every driver-side file listing in the engine goes through
  * [[walkFiles]], a depth-first `listStatus` walk. Hadoop's
  * `FileSystem.listFiles` is never called: it wraps each entry in a
  * `LocatedFileStatus`, whose constructor reads the file's permission,
  * owner and group — on the local filesystem without native Hadoop that
  * forks one shell `stat` per file (~4 ms each on a 4-core Linux host),
  * which made listing a few hundred files cost ~1 s. Spark's own file index skips that
  * constructor for the same reason.
  */
object PathModel {

  /** Every file under `root`, as the `FileStatus` its directory listing
    * returned (path, length, modification time), lazily and in exactly
    * the order Hadoop's `fs.listFiles(root, recursive)` yields: a
    * depth-first walk of `listStatus`, each directory listed when the
    * walk reaches it. `recursive = false` yields only the files directly
    * in `root`; a file `root` yields itself. Costs one `listStatus` per
    * directory and nothing per file.
    *
    * A missing `root` throws `FileNotFoundException` from this call; a
    * subdirectory deleted while the walk runs is skipped, as
    * `listFiles` skips it. Checksum (`.crc`) files show exactly when
    * `listFiles` shows them: the checksummed local filesystem hides them
    * from `listStatus` as from `listLocatedStatus`, the raw one shows
    * them to both.
    *
    * Trade-off: on an object store a recursive listing is cheaper as one
    * flat prefix `LIST` than as a per-directory walk. There is no branch
    * for that here: no object-store `FileSystem` is on the classpath, so
    * it would have no supported platform and no workload to measure it. */
  def walkFiles(fs: FileSystem, root: Path, recursive: Boolean = true): Iterator[FileStatus] = {
    def expand(st: FileStatus): Iterator[FileStatus] =
      if (st.isFile) Iterator.single(st)
      else if (recursive && st.isDirectory) {
        val children =
          try fs.listStatus(st.getPath)
          catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
        children.iterator.flatMap(expand)
      } else Iterator.empty
    fs.listStatus(root).iterator.flatMap(expand)
  }

  /** Filename-timestamp regex (`collect_data_metadata.py:40`):
    * `YYYYMMDD_HHMM[_i].csv.gz`. */
  val fileTsRegex = "(\\d{8}_\\d{4})(?:_(\\d+))?\\.csv\\.gz$"

  /** Is `rel` a parquet data file a Spark scan would see: no path
    * component starts with `_` or `.` (`_SUCCESS`, `_manifest`,
    * `_deletes`, staging directories, dotfiles). */
  private[graft] def isDataParquet(rel: String): Boolean =
    rel.endsWith(".parquet") &&
      !rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))

  /** S1: recursive scan of a raw lake into an inventory of file paths.
    * Listing happens on the driver, one [[walkFiles]] `listStatus` per
    * directory (no per-file call); the result is a DataFrame so all
    * downstream pruning/parsing is distributed and, at 100 TB, the
    * listing itself can be replaced by an S3 Inventory table scan. */
  def listFiles(spark: SparkSession, root: String, suffix: String = ".csv.gz"): DataFrame = {
    import spark.implicits._
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    walkFiles(fs, path).map(f => (f.getPath.toString, f.getLen))
      .filter(_._1.endsWith(suffix)).toSeq.toDF("path", "size")
  }

  /** S2+S3: parse `.../SITE/PARTICIPANT/METRIC/.../YYYYMMDD_HHMM[_i].csv.gz`
    * relative to `root` into partition columns. Files whose relative path
    * has <4 components or whose filename doesn't parse are dropped, exactly
    * like the reference returning `None` (`collect_data_metadata.py:35-63`).
    * The metric is the component *after* participant (intermediate dirs may
    * follow it — `process-overview.py:35-69`). */
  def parsePaths(inventory: DataFrame, root: String): DataFrame = {
    val rel = regexp_replace(col("path"), s"^${java.util.regex.Pattern.quote(root.stripSuffix("/"))}/", "")
    val parts = split(rel, "/")
    inventory
      .withColumn("parts", parts)
      .filter(size(col("parts")) >= 4)
      .withColumn("site", col("parts").getItem(1))
      .withColumn("participant_id", col("parts").getItem(2))
      .withColumn("metric", col("parts").getItem(3))
      .withColumn("file_ts_raw", regexp_extract(col("path"), fileTsRegex, 1))
      .withColumn("shard_idx", regexp_extract(col("path"), fileTsRegex, 2).try_cast("int"))
      .filter(col("file_ts_raw") =!= "")
      .withColumn("file_timestamp", try_to_timestamp(col("file_ts_raw"), lit("yyyyMMdd_HHmm")))
      .filter(col("file_timestamp").isNotNull)
      .drop("parts", "file_ts_raw")
  }

  /** F1: include/exclude by exact path-part match, exclude wins, include
    * requires ≥1 matching part (`process-overview.py:16-33`). Applied to
    * the inventory it prunes before any data file is opened — same effect
    * as the reference's `dirs[:] = []` recursion prune
    * (`merge-data.py:127-130`), and partition pruning at scale. */
  def includeExclude(
      inv: DataFrame,
      include: Seq[String],
      exclude: Seq[String],
      partCols: Seq[String] = Seq("site", "participant_id", "metric")): DataFrame = {
    val partsArr = array(partCols.map(col): _*)
    val afterExclude =
      if (exclude.isEmpty) inv
      else inv.filter(!arrays_overlap(partsArr, lit(exclude.toArray)))
    if (include.isEmpty) afterExclude
    else afterExclude.filter(arrays_overlap(partsArr, lit(include.toArray)))
  }

  /** F2: include by *substring* match on any path component
    * (`extract_patient_summary.py:171-176`). */
  def includeBySubstring(inv: DataFrame, includes: Seq[String]): DataFrame =
    if (includes.isEmpty) inv
    else inv.filter(
      includes.map(s => col("path").contains(s)).reduce(_ || _))
}
