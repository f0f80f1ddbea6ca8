package perfbench

import java.io.{BufferedWriter, File, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.lake.{PathModel, Readers}
import graft.ops.{CatalogOps, MergeData, Overview, Presence, SummaryOps}

import Checks.diff

/** The paper's own pipeline over a generated raw lake in the reference
  * layout `raw/SITE/PARTICIPANT/METRIC/YYYYMMDD_HHMM[_i].csv.gz`.
  *
  * Chosen because it loads what the other workloads do not: driver-side
  * listing (`PathModel.listFiles`), executor csv.gz scans of ~10^3 small
  * files, and the `ops` aggregations. It never touches `lake.Versioned`
  * or the `functions` expressions, and no program cache serves the raw
  * lake, so a metadata or curation change predicts no change here.
  *
  * The generator knows every row it wrote, so each operation's output is
  * checked against counts, dates and sums computed here, never against
  * the program's earlier output. */
final class EtlWorkload(seed: Long) extends Workload {
  import EtlWorkload._

  val name = "mhm_etl"

  private var spark: SparkSession = _
  private var dir: String = _
  private def root = s"$dir/lake"
  private def out(name: String) = s"$dir/out/$name"

  /** One file the generator wrote: group, day, shard and its rows. */
  private final case class GenFile(site: String, participant: String, metric: String,
      day: LocalDate, shard: Int, hhmm: String, rows: Seq[(Long, Double)]) {
    def fileName: String = {
      val d = day.format(DateTimeFormatter.BASIC_ISO_DATE)
      if (shard == 0) s"${d}_$hhmm.csv.gz" else s"${d}_${hhmm}_$shard.csv.gz"
    }
    def relPath: String = s"raw/$site/$participant/$metric/$fileName"
  }

  private var files: Vector[GenFile] = Vector.empty
  private var inputBytes = 0L

  private def participants(site: Int) = (0 until Participants).map(p => s"p$site$p")

  /** Files of one group-day: present with probability 0.85, sometimes
    * uploaded in two shards. Deterministic in (seed, day index). */
  private def genDay(rnd: java.util.SplittableRandom, site: Int, participant: String,
      metric: String, day: LocalDate): Seq[GenFile] = {
    if (rnd.nextDouble() >= 0.85) return Nil
    val (lo, hi) = MetricRange(metric)
    val dayStart = day.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val n = 20 + rnd.nextInt(41)
    val rows = (0 until n).map(_ => dayStart + rnd.nextInt(86400).toLong).sorted
      .map(t => (t, math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0))
    val hhmm = f"${rnd.nextInt(24)}%02d${rnd.nextInt(60)}%02d"
    val s = s"site_$site"
    if (rnd.nextDouble() < 0.15) {
      val (a, b) = rows.splitAt(n / 2)
      Seq(GenFile(s, participant, metric, day, 0, hhmm, a), GenFile(s, participant, metric, day, 1, hhmm, b))
    } else Seq(GenFile(s, participant, metric, day, 0, hhmm, rows))
  }

  private def dayFiles(dayIndex: Int, sites: Seq[Int]): Seq[GenFile] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + dayIndex)
    val day = FirstDay.plusDays(dayIndex.toLong)
    for (s <- sites; p <- participants(s); m <- Metrics; f <- genDay(rnd, s, p, m, day)) yield f
  }

  private def writeFile(f: GenFile): Long = {
    val target = new File(root, f.relPath)
    target.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new java.io.FileOutputStream(target)), StandardCharsets.UTF_8))
    try {
      w.write("timestamp,value\n")
      f.rows.foreach { case (t, v) => w.write(s"$t,$v\n") }
    } finally w.close()
    target.length()
  }

  def setup(spark: SparkSession, dir: String): Unit = {
    this.spark = spark
    this.dir = dir
    files = (0 until Days).flatMap(d => dayFiles(d, 0 until Sites)).toVector
    inputBytes = files.map(writeFile).sum
  }


  def inputDigest: String = Digest.sha256(files.sortBy(_.relPath).iterator.flatMap(f =>
    Iterator(Digest.utf8(f.relPath), java.nio.file.Files.readAllBytes(new File(root, f.relPath).toPath))))


  def sizes: Map[String, Double] = Map(
    "files" -> files.size.toDouble, "rows" -> files.map(_.rows.size).sum.toDouble,
    "input_bytes" -> inputBytes.toDouble, "groups" -> groupsOf(files).size.toDouble)

  // ---- expectations, from the generator's own rows --------------------

  private type Group = (String, String, String)
  private def groupsOf(fs: Seq[GenFile]): Map[Group, Seq[GenFile]] =
    fs.groupBy(f => (f.site, f.participant, f.metric))

  private def dateOf(t: Long): LocalDate = Instant.ofEpochSecond(t).atZone(ZoneOffset.UTC).toLocalDate

  /** (row_count, sum of value in cents) per group. */
  private def mergedExpect(fs: Seq[GenFile]): Map[Group, (Long, Long)] =
    groupsOf(fs).map { case (g, gf) =>
      val rows = gf.flatMap(_.rows)
      g -> (rows.size.toLong, rows.map(r => math.round(r._2 * 100)).sum)
    }

  private val schema = StructType(Seq(
    StructField("timestamp", LongType), StructField("value", DoubleType)))

  /** The raw lake scanned from its root, lineage columns parsed from each
    * row's file path. */
  private def rawScan(): DataFrame = {
    val data = Readers.csvGzTree(spark, root, Some(schema))
      .withColumn("path", regexp_replace(input_file_name(), "^file:/+", "/"))
    PathModel.parsePaths(data, root)
  }

  private def mergedSelect(df: DataFrame): DataFrame =
    MergeData.withLineage(df)
      .select("site", "participant_id", "metric", "file_timestamp", "timestamp", "value")

  private def readMerged(): Map[Group, (Long, Long)] =
    spark.read.parquet(out("merged"))
      .groupBy("site", "participant_id", "metric")
      .agg(count(lit(1)), sum(round(col("value") * 100).cast("long")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap


  // ---- the operation cycle ---------------------------------------------

  private def catalog(ctx: OpCtx): Seq[String] = {
    val report = ctx.timed {
      val listed = ctx.call("pathmodel.listFiles")(PathModel.listFiles(spark, root))
        .withColumn("path", regexp_replace(col("path"), "^file:/+", "/"))
      val inv = PathModel.includeExclude(PathModel.parsePaths(listed, root),
        include = Nil, exclude = Seq(Withdrawn))
      val keys = inv.select(concat_ws("/", col("site"), col("participant_id"), col("metric"),
        regexp_extract(col("path"), "[^/]+$", 0)).as("key"))
      CatalogOps.summaryReport(CatalogOps.inventoryFromKeys(keys)).collect()
    }
    if (!ctx.checking) return Nil
    val got = report.map(r => (r.getAs[String]("user_id"), r.getAs[String]("measurement")) ->
      (r.getAs[Long]("file_count"), r.getAs[String]("first_date"), r.getAs[String]("last_date"),
        r.getAs[Long]("distinct_dates"))).toMap
    val want = files.filter(_.participant != Withdrawn)
      .groupBy(f => (f.participant, f.metric)).map { case (k, fs) =>
        val days = fs.map(_.day.format(DateTimeFormatter.BASIC_ISO_DATE))
        k -> (fs.size.toLong, days.min, days.max, days.distinct.size.toLong)
      }
    diff("catalog summary", got, want)
  }

  private def merge(ctx: OpCtx): Seq[String] = {
    ctx.timed(MergeData.writeMerged(spark, mergedSelect(rawScan()), out("merged")))
    if (!ctx.checking) return Nil
    diff("merged groups", readMerged(), mergedExpect(files))
  }

  private def overview(ctx: OpCtx): Seq[String] = {
    ctx.timed {
      val df = rawScan()
      Overview.writePerSiteAndCombined(
        Overview.stats(df, Seq("site", "participant_id", "metric"), Readers.eventTime(df)),
        out("overview"))
    }
    if (!ctx.checking) return Nil
    val got = spark.read.parquet(out("overview") + "/all_sites").collect().map(r =>
      (r.getAs[String]("site"), r.getAs[String]("participant_id"), r.getAs[String]("metric")) ->
        (r.getAs[Long]("row_count"), r.getAs[String]("start_date"), r.getAs[String]("end_date"),
          r.getAs[Long]("day_count"))).toMap
    val want = groupsOf(files).map { case (g, gf) =>
      val dates = gf.flatMap(_.rows).map(r => dateOf(r._1))
      g -> (dates.size.toLong, dates.min.toString, dates.max.toString, dates.distinct.size.toLong)
    }
    diff("overview stats", got, want)
  }

  private def presence(ctx: OpCtx): Seq[String] = {
    val dates = (0 until Days).map(d => FirstDay.plusDays(d.toLong).toString)
    val matrix = ctx.timed {
      val df = rawScan()
      val table = Presence.presenceTable(df, Seq("participant_id", "metric"), Readers.eventTime(df))
      Presence.pivotMatrix(table, "participant_id", "date", "metric", dates).collect()
    }
    if (!ctx.checking) return Nil
    val got = matrix.flatMap { r =>
      dates.map(d => (r.getAs[String]("participant_id"), d) -> r.getAs[Long](d))
    }.filter(_._2 > 0).toMap
    val want = files.flatMap(f => f.rows.map(r => (f.participant, dateOf(r._1).toString, f.metric)))
      .distinct.groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.size.toLong }
    diff("presence matrix", got, want)
  }

  private def summary(ctx: OpCtx): Seq[String] = {
    ctx.timed {
      val merged = spark.read.parquet(out("merged"))
      val long = Metrics.zipWithIndex.map { case (m, i) =>
        SummaryOps.featureLong(merged, SummaryOps.FeatureSpec(m, "", "timestamp", "value",
          Some("metric"), Some(m), None, i), "month")
      }.reduce(_.unionByName(_)).persist()
      try SummaryOps.writeSummaries(SummaryOps.assemble(SummaryOps.dataSummary(long),
        SummaryOps.featureStats(long), None, None, None), out("summaries"))
      finally long.unpersist()
    }
    if (!ctx.checking) return Nil
    val docs = spark.read.json(out("summaries"))
    val got = Metrics.flatMap { m =>
      docs.select(col("participant_id").cast("string"), col("time_key"),
          col(s"feature_statistics.$m.total_entries"), col(s"feature_statistics.$m.days_with_data"),
          col(s"feature_statistics.$m.mean"))
        .filter(col("total_entries").isNotNull).collect()
        .map(r => (r.getString(0), r.getString(1), m) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4)))
    }.toMap
    val want = files.flatMap(f => f.rows.map(r => (f.participant, dateOf(r._1), f.metric, r._2)))
      .groupBy(t => (t._1, t._2.toString.take(7), t._3)).map { case (k, rs) =>
        k -> (rs.size.toLong, rs.map(_._2).distinct.size.toLong,
          rs.map(_._4).sum / rs.size)
      }
    // means are summed in a different order on each side: compare to 1e-9
    diff("summary documents", got, want,
      (a: (Long, Long, Double), b: (Long, Long, Double)) =>
        a._1 == b._1 && a._2 == b._2 && math.abs(a._3 - b._3) <= 1e-9 * math.max(1.0, math.abs(b._3)))
  }

  /** A new day arrives for one site; re-catalog, then re-merge only the
    * groups it touched. The day's files are removed again afterwards, so
    * every cycle starts from the same lake. */
  private def incremental(ctx: OpCtx): Seq[String] = {
    val site = math.floorMod(ctx.cycle, Sites)
    val fresh = dayFiles(Days + 1 + math.floorMod(ctx.cycle, 7), Seq(site))
    fresh.foreach(writeFile)
    try {
      val newDay = fresh.head.day.format(DateTimeFormatter.BASIC_ISO_DATE)
      ctx.timed {
        val listed = ctx.call("pathmodel.listFiles")(PathModel.listFiles(spark, root))
          .withColumn("path", regexp_replace(col("path"), "^file:/+", "/"))
        val inv = PathModel.parsePaths(listed, root)
        val keys = Seq("site", "participant_id", "metric")
        val touched = inv.filter(regexp_extract(col("path"), PathModel.fileTsRegex, 1)
          .startsWith(newDay)).select(keys.map(col): _*).distinct()
        val paths = inv.join(touched, keys).select("path").collect().map(_.getString(0)).toSeq
        val data = Readers.csvGz(spark, paths, Some(schema))
          .withColumn("path", regexp_replace(input_file_name(), "^file:/+", "/"))
        MergeData.writeMerged(spark, mergedSelect(PathModel.parsePaths(data, root)), out("merged"))
      }
      if (!ctx.checking) return Nil
      val touchedGroups = groupsOf(fresh).keySet
      val want = mergedExpect(files ++ fresh)
      diff("incremental merge", readMerged(),
        mergedExpect(files) ++ want.filter(kv => touchedGroups(kv._1)))
    } finally fresh.foreach(f => new File(root, f.relPath).delete())
  }

  val cycle: Seq[Op] = Seq(
    Op("catalog", write = false)(catalog),
    Op("merge", write = true)(merge),
    Op("overview", write = true)(overview),
    Op("presence", write = false)(presence),
    Op("summary", write = true)(summary),
    Op("incremental", write = true)(incremental))

  def space(): (Double, Double) = (Disk.bytes(new File(s"$dir/out")).toDouble, inputBytes.toDouble)

  def finalCheck(fresh: () => SparkSession): Seq[String] = Nil

  def layerMetrics(spans: Seq[Span]): Map[String, Double] = {
    val lists = Layers.named(spans, "pathmodel.listFiles")
    val listMs = Stats.mean(lists.map(_.wallMs))
    val listed = files.size.toDouble
    val scans = Seq("op.merge", "op.overview", "op.presence").flatMap(Layers.named(spans, _))
    Map(
      "pathmodel.list_ms" -> listMs,
      "pathmodel.files_listed" -> listed,
      "pathmodel.ms_per_file" -> listMs / listed,
      "readers.files_opened" -> Layers.meanStat(scans, "fs.exec.open")) ++
      Seq("catalog", "merge", "overview", "presence", "summary", "incremental")
        .map(o => s"ops.${o}_ms" -> Layers.meanWall(spans, s"op.$o"))
  }
}

object EtlWorkload {
  val Sites = 3
  val Participants = 3
  val Metrics: Seq[String] = Seq("heart_rate", "steps", "sleep", "mood")
  val MetricRange: Map[String, (Double, Double)] = Map(
    "heart_rate" -> (48.0, 140.0), "steps" -> (0.0, 900.0),
    "sleep" -> (0.0, 1.0), "mood" -> (1.0, 10.0))
  val Days = 7
  val FirstDay: LocalDate = LocalDate.of(2024, 3, 1)
  /** A participant the catalog excludes (withdrawn consent). */
  val Withdrawn = "p12"
}
