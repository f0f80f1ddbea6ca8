package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max data-skipping index — the "zone map over files"
  * that Delta/Iceberg keep in their metadata layer, as a plain table.
  *
  * Why a SEPARATE index table when parquet already has row-group
  * stats: footer stats still cost one open+footer-read per file per
  * query. At 100 TB that is millions of S3 GETs before the first data
  * byte. A one-row-per-file index table is a single tiny scan, and
  * pruning happens in the PLAN (the pruned file list feeds the reader)
  * rather than at task start.
  *
  * Pairs with [[Maintenance.compact]]: z-clustering is what makes the
  * per-file [lo, hi] boxes tight enough that a point/range predicate
  * skips most files; the index is what makes that skipping cheap. The
  * index is one aggregate over the data (build-time, not query-time)
  * and stays valid until the next rewrite of a file it covers.
  */
/** One footer-derived index row. Top-level (not nested in the object):
  * Catalyst's reflective encoder generates Janino code that cannot
  * compile accessor calls on object-nested case classes
  * (`SkipIndex$FooterEntry.file()` → codegen compile error +
  * interpreted fallback on every build). */
private[lake] case class FooterEntry(
    file: String, col: String, lo: Double, hi: Double, rows: Long,
    nulls: Long, bytes: Long)

object SkipIndex {

  /** One row per (file, indexed column): lo, hi, rows. Built with a
    * single scan — `input_file_name()` groupBy, so the index build
    * shuffles only (nFiles × nCols) tiny rows.
    *
    * Precision: lo/hi are stored as double for a fixed, composable
    * schema. A 64-bit integral value beyond 2^53 rounds under that
    * cast, and a box rounded INWARD could wrongly exclude a boundary
    * file — so for integral source columns the box is widened by one
    * relative ulp-margin, but only where |v| >= 2^53 (below that the
    * double is exact and the box stays tight). Pruning is conservative
    * by contract (the residual filter re-applies the exact predicate),
    * so widening never changes results. The query-range API is itself
    * double-valued: a caller probing at exact >2^53 longs should widen
    * its range the same way. */
  def build(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "SkipIndex.build needs at least one column")
    import org.apache.spark.sql.types._
    val integral: Set[String] = cols.filter { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }.toSet
    val exactLimit = 9007199254740992.0d // 2^53: doubles exact below this
    def widenLo(e: Column, c: String): Column =
      if (!integral(c)) e
      else when(abs(e) >= exactLimit, e - abs(e) * 4e-16).otherwise(e)
    def widenHi(e: Column, c: String): Column =
      if (!integral(c)) e
      else when(abs(e) >= exactLimit, e + abs(e) * 4e-16).otherwise(e)
    val perFile = df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"),
        cols.flatMap(c => Seq(
          widenLo(min(col(c)).cast("double"), c).as(s"__lo_$c"),
          widenHi(max(col(c)).cast("double"), c).as(s"__hi_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"))): _*)
    // unpivot to (file, col, lo, hi, rows, nulls) — schema stays fixed
    // no matter which columns are indexed, so index tables compose
    val entries = cols.map(c => struct(
      lit(c).as("col"), col(s"__lo_$c").as("lo"), col(s"__hi_$c").as("hi"),
      col(s"__nn_$c").as("nulls")))
    perFile.select(col("file"), col("rows"), explode(array(entries: _*)).as("e"))
      .select(col("file"), col("e.col").as("col"),
        col("e.lo").as("lo"), col("e.hi").as("hi"), col("rows"),
        col("e.nulls").as("nulls"))
  }

  /** Metadata-only index build: the same (file, col, lo, hi, rows)
    * table as [[build]], derived from parquet FOOTER statistics — one
    * footer read per file, distributed over executors, instead of a
    * full data scan. At 100 TB this is THE build path: O(files) opens
    * once at build time vs O(rows) scanned; [[build]] remains the
    * cross-check twin (SkipIndexSpec pins value equality) and the path
    * for sources without usable footer stats.
    *
    * Conservative by construction: a column chunk with missing/unusable
    * statistics (non-numeric physical type, no non-null values
    * recorded) widens that file's box to (−∞, ∞) — the file is never
    * skipped, never wrongly. Integral boxes beyond 2^53 get the same
    * relative-ulp widening as [[build]].
    *
    * Executor tasks open footers with a fresh Hadoop `Configuration`;
    * object stores needing credentials from the session conf should
    * build driver-side (file count = listing scale) or extend this
    * with a serialized conf. */
  def buildFromFooters(spark: SparkSession, dataDir: String,
      cols: Seq[String]): DataFrame =
    buildFromFooterFiles(spark, dataFiles(spark, dataDir).toSeq.sorted, cols)

  /** [[buildFromFooters]] over an EXPLICIT file list — a [[Versioned]]
    * manifest's live files, so a metadata-only index can be built for
    * exactly one version of a lake whose directory also holds
    * superseded files. */
  def buildFromFooterFiles(spark: SparkSession, files0: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "buildFromFooters needs at least one column")
    val files = files0.map(normalize)
    require(files.nonEmpty, "buildFromFooterFiles got no files")
    val colsB = cols
    // session Hadoop conf shipped to the footer tasks (fs.* keys,
    // object-store credentials) — a fresh Configuration() only works
    // on local disk
    val hconf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val entries = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .flatMap(path => footerEntriesOf(path, hconf.value.value, colsB))
    spark.createDataFrame(entries)
      .toDF("file", "col", "lo", "hi", "rows", "nulls", "bytes")
  }

  /** ONE file's footer-derived index rows — the per-path body of
    * [[buildFromFooterFiles]], factored so a COMMIT-SIZED batch of new
    * files can run it on the driver (a footer read is ~1 ms of
    * metadata IO; scheduling a distributed job for 1–32 files costs
    * more than reading them — guide §1.2/§5) while backfills keep the
    * distributed pass. */
  private[lake] def footerEntriesOf(path: String,
      conf: org.apache.hadoop.conf.Configuration,
      cols: Seq[String]): Seq[FooterEntry] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics._
    val exactLimit = 9007199254740992.0d // 2^53, as in build()
    val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      // per-file BYTE SIZE rides every row (duplicated per column
      // — tiny, and it keeps the sidecar one flat table): binpack
      // sizing and clustering decisions become metadata-only
      // instead of one driver getFileStatus per live file
      val fBytes = inFile.getLength
      cols.map { c =>
        var lo = Double.PositiveInfinity
        var hi = Double.NegativeInfinity
        var integral = false
        var usable = blocks.nonEmpty
        // null COUNTS track separately from the min/max box: a
        // chunk with an unusable box (e.g. binary physical type)
        // can still record exact num_nulls, and vice versa. -1 =
        // unknown (any chunk without the count poisons the file's
        // total — a partial sum would under-count).
        var nulls = 0L
        var nullsKnown = blocks.nonEmpty
        blocks.foreach { b =>
          b.getColumns.asScala.filter(_.getPath.toDotString == c) match {
            case chunks if chunks.isEmpty =>
              usable = false; nullsKnown = false
            case chunks => chunks.foreach { cc =>
              val anySt = cc.getStatistics
              if (anySt != null && anySt.isNumNullsSet)
                nulls += anySt.getNumNulls
              else nullsKnown = false
              anySt match {
                case st: LongStatistics if st.hasNonNullValue =>
                  integral = true
                  lo = math.min(lo, st.genericGetMin.toDouble)
                  hi = math.max(hi, st.genericGetMax.toDouble)
                case st: IntStatistics if st.hasNonNullValue =>
                  integral = true
                  lo = math.min(lo, st.genericGetMin.toDouble)
                  hi = math.max(hi, st.genericGetMax.toDouble)
                case st: DoubleStatistics if st.hasNonNullValue =>
                  lo = math.min(lo, st.genericGetMin)
                  hi = math.max(hi, st.genericGetMax)
                case st: FloatStatistics if st.hasNonNullValue =>
                  lo = math.min(lo, st.genericGetMin.toDouble)
                  hi = math.max(hi, st.genericGetMax.toDouble)
                case _ => usable = false
              }
            }
          }
        }
        val n = if (nullsKnown) nulls else -1L
        if (!usable) FooterEntry(path, c,
          Double.NegativeInfinity, Double.PositiveInfinity, nRows, n,
          fBytes)
        else {
          val wLo = if (integral && math.abs(lo) >= exactLimit)
            lo - math.abs(lo) * 4e-16 else lo
          val wHi = if (integral && math.abs(hi) >= exactLimit)
            hi + math.abs(hi) * 4e-16 else hi
          FooterEntry(path, c, wLo, wHi, nRows, n, fBytes)
        }
      }
    } finally reader.close()
  }

  /** Files whose [lo, hi] box on `c` intersects [qLo, qHi]. The index
    * scan is tiny (rows = files × indexed cols); the collect is bounded
    * by the lake's FILE count — the same driver-side scale as the file
    * listing every query already does. */
  def candidateFiles(idx: DataFrame, c: String, qLo: Double, qHi: Double): Seq[String] =
    idx.filter(col("col") === c && col("hi") >= qLo && col("lo") <= qHi)
      .select("file").collect().map(_.getString(0)).toSeq.sorted

  /** Conjunctive multi-predicate pruning: a file survives only if its
    * box intersects EVERY predicate's range. This is where the z-order
    * layout pays off twice — each interleaved dimension has tight
    * per-file boxes, so a conjunction's survivor set is close to the
    * intersection of the single-predicate sets (a single-column sort
    * can only prune its leading column). */
  def candidateFilesMulti(idx: DataFrame,
      preds: Seq[(String, Double, Double)]): Seq[String] = {
    require(preds.nonEmpty, "candidateFilesMulti needs at least one predicate")
    // ONE index pass: each (file, col) row checks the conjunction of
    // its own column's ranges; a file survives when every predicated
    // column's row survives (build emits exactly one row per
    // (file, indexed col), so the survivor count equals the column
    // count iff all boxes intersect). One scan + one tiny shuffle
    // instead of one scan+collect per predicate.
    val byCol: Map[String, Column] = preds.groupBy(_._1).map { case (c, ps) =>
      c -> ps.map { case (_, lo, hi) => col("hi") >= lo && col("lo") <= hi }
        .reduce(_ && _)
    }
    val rowOk = byCol.foldLeft(lit(false)) { case (acc, (c, p)) =>
      when(col("col") === c, p).otherwise(acc)
    }
    // a predicate on a column the index does not track must REFUSE,
    // not prune: zero matching rows would silently drop every file —
    // an empty (wrong) result instead of a loud repair
    val tracked = idx.select("col").distinct()
      .collect().map(_.getString(0)).toSet
    val untracked = byCol.keySet -- tracked
    require(untracked.isEmpty,
      s"predicated column(s) ${untracked.toSeq.sorted.mkString(", ")} " +
        "are not tracked by this skip index (tracked: " +
        s"${tracked.toSeq.sorted.mkString(", ")}): rebuild/backfill " +
        "with them, or filter the full scan")
    idx.filter(col("col").isin(byCol.keys.toSeq: _*))
      .groupBy(col("file"))
      .agg(sum(when(rowOk, 1L).otherwise(0L)).as("__ok"))
      .filter(col("__ok") === lit(byCol.size))
      .select("file").collect().map(_.getString(0)).toSeq.sorted
  }

  /** Range-predicate read that only opens surviving files. The residual
    * filter stays on top (index pruning is file-granular, not exact),
    * so the result is identical to a full scan + filter — just without
    * opening the skipped files. An empty candidate list yields an empty
    * frame with the right schema via an always-false filter on one file
    * (cheaper than special-casing schema inference).
    */
  def prunedRead(spark: SparkSession, dataDir: String, idx: DataFrame,
      c: String, qLo: Double, qHi: Double): DataFrame =
    prunedReadMulti(spark, dataDir, idx, Seq((c, qLo, qHi)))

  /** [[prunedRead]] for a conjunction of range predicates.
    *
    * `validate` (default on) guards the pruning contract against a
    * STALE index: pruning reads only the index's surviving files, so an
    * index built before a rewrite would silently lose the rewrite's
    * rows. The guard compares the index's file set against the lake's
    * current listing and fails loudly on any drift — the listing is
    * driver-side and file-count-bounded, the same work any unversioned
    * read performs anyway. After a COW merge, [[refresh]] the index
    * (touched partitions only) instead of rebuilding it. */
  def prunedReadMulti(spark: SparkSession, dataDir: String, idx: DataFrame,
      preds: Seq[(String, Double, Double)], validate: Boolean = true): DataFrame = {
    if (validate) {
      val indexed = idx.select("file").distinct()
        .collect().map(r => normalize(r.getString(0))).toSet
      val current = dataFiles(spark, dataDir)
      val missing = current -- indexed
      val gone = indexed -- current
      require(missing.isEmpty && gone.isEmpty,
        s"stale skip index for $dataDir (" +
          s"${missing.size} unindexed file(s), ${gone.size} vanished file(s)): " +
          "refresh() it after rewrites, or rebuild")
    }
    val files = candidateFilesMulti(idx, preds)
    if (files.isEmpty)
      spark.read.parquet(dataDir).filter(lit(false))
    else {
      // basePath recovers Hive partition columns from the surviving
      // files' directory names (no-op for unpartitioned layouts)
      val df = spark.read.option("basePath", dataDir).parquet(files: _*)
      df.filter(residualFor(df, preds))
    }
  }

  /** The exact residual predicate for a pruned read. For an INTEGRAL
    * column the double range is tightened to the equivalent integer
    * range (x >= 2.5 ⟺ x >= 3 on integers) instead of comparing
    * through a cast-to-double — semantically identical, but the
    * cast-free comparison reaches the parquet reader as a pushed
    * filter, so row-group stats prune INSIDE the surviving files too
    * (the file-level index already pruned across files). */
  private def residualFor(df: DataFrame,
      preds: Seq[(String, Double, Double)]): Column = {
    import org.apache.spark.sql.types._
    preds.map { case (c, lo, hi) =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType
            if lo > Long.MinValue.toDouble && hi < Long.MaxValue.toDouble =>
          col(c) >= math.ceil(lo).toLong && col(c) <= math.floor(hi).toLong
        case _ => col(c) >= lo && col(c) <= hi
      }
    }.reduce(_ && _)
  }

  /** Incremental index maintenance after a COW merge: entries for files
    * under the TOUCHED partition directories are dropped and rebuilt
    * from those directories' current files; everything else is kept
    * as-is. Work scales with the merge batch (touched partitions), not
    * the lake — the same scope invariant as the merge itself. A
    * partition deleted outright (delete-all batch) simply contributes
    * no new entries.
    *
    * `touchedDirs` are partition-relative paths (`k=v[/k2=v2]`), i.e.
    * exactly the strings `ExternalCatalogUtils.getPartitionPathString`
    * renders for the merge's touched-partition set. */
  def refresh(spark: SparkSession, dataDir: String, idx: DataFrame,
      cols: Seq[String], touchedDirs: Seq[String]): DataFrame = {
    require(touchedDirs.nonEmpty, "refresh needs at least one touched partition")
    val touched = touchedDirs.map(d => col("file").contains(s"/$d/"))
      .reduce(_ || _)
    val survivors = idx.filter(!touched)
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = touchedDirs
      .map(d => new org.apache.hadoop.fs.Path(dataDir, d))
      .filter(fs.exists).map(_.toString)
    if (existing.isEmpty) survivors
    else survivors.unionByName(build(
      spark.read.option("basePath", dataDir).parquet(existing: _*), cols))
  }

  /** [[prunedReadMulti]] for a lake whose live-file set is EXPLICIT (a
    * [[Versioned]] manifest): the on-disk listing of such a lake
    * includes superseded files kept for time travel, so validation
    * compares the index against the given set instead. Works for ANY
    * version's (files, index) pair — pruned reads time-travel with the
    * index that described that version. */
  def prunedReadMultiFiles(spark: SparkSession, dataDir: String,
      idx: DataFrame, preds: Seq[(String, Double, Double)],
      liveFiles: Seq[String],
      pinned: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    // a PINNED schema (type widening in force) replaces footer
    // inference: survivor sets can mix pre/post-widen widths, which
    // plain inference would read under whichever footer it sampled
    def reader = pinned.fold(spark.read)(s0 => spark.read.schema(s0))
    val indexed = idx.select("file").distinct()
      .collect().map(r => normalize(r.getString(0))).toSet
    val live = liveFiles.map(normalize).toSet
    require(indexed == live,
      s"skip index does not describe this file set (" +
        s"${(live -- indexed).size} unindexed, ${(indexed -- live).size} extra): " +
        "build/refresh the index against this version's manifest")
    val files = candidateFilesMulti(idx, preds)
    if (files.isEmpty)
      reader.option("basePath", dataDir)
        .parquet(liveFiles: _*).filter(lit(false))
    else {
      val df = reader.option("basePath", dataDir).parquet(files: _*)
      df.filter(residualFor(df, preds))
    }
  }

  /** [[refresh]] for a versioned lake: rebuilt entries come from the
    * LIVE files under the touched partitions (per the manifest), never
    * from the directory listing — which still holds superseded files. */
  def refreshForFiles(spark: SparkSession, dataDir: String, idx: DataFrame,
      cols: Seq[String], touchedDirs: Seq[String],
      liveFiles: Seq[String]): DataFrame = {
    require(touchedDirs.nonEmpty, "refresh needs at least one touched partition")
    val touched = (f: Column) => touchedDirs.map(d => f.contains(s"/$d/"))
      .reduce(_ || _)
    val survivors = idx.filter(!touched(col("file")))
    val fresh = liveFiles.filter(f => touchedDirs.exists(d => f.contains(s"/$d/")))
    if (fresh.isEmpty) survivors
    else survivors.unionByName(build(
      spark.read.option("basePath", dataDir).parquet(fresh: _*), cols))
  }

  private def normalize(p: String): String = p.replaceFirst("^file:/+", "/")

  /** Shared with [[BloomIndex]] so its staleness guard matches this
    * file's normalization and listing semantics exactly. */
  private[graft] def normalizePath(p: String): String = normalize(p)
  private[lake] def dataFilesUnder(spark: SparkSession, dataDir: String): Set[String] =
    dataFiles(spark, dataDir)

  /** Driver-side recursive listing of the lake's parquet data files
    * (metadata dirs and marker files excluded), normalized paths. */
  private def dataFiles(spark: SparkSession, dataDir: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(dataDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Set.empty
    PathModel.walkFiles(fs, root).map(_.getPath.toUri.getPath)
      .filter(PathModel.isDataParquet).map(normalize).toSet
  }
}
