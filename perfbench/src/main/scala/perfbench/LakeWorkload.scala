package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.Versioned

import Checks.diff

/** One versioned table under a seeded, interleaved mix of commits and
  * reads.
  *
  * Chosen because it is driver-metadata-, commit- and planning-bound with
  * little executor work: every commit resolves the table state and runs
  * the staged-write + manifest-swap protocol, and the reads resolve a
  * snapshot at the latest or a pinned version, the change feed and the
  * history. Reads sit beside writes in one cycle, so a read gain that
  * costs commits (or the reverse) shows. It calls no `functions`
  * expression and scans no raw csv lake.
  *
  * An in-memory key -> row model is updated with every commit; each read
  * is compared with it, and at the end the table is read back from its
  * files in a fresh session and compared row by row. */
final class LakeWorkload(seed: Long) extends Workload {
  import LakeWorkload._

  val name = "lake_rw"

  private var spark: SparkSession = _
  private var dir: String = _
  private def table = s"$dir/events"

  private final case class Ev(id: Long, ts: Long, user: Long, kind: String, value: Double, props: String) {
    def row: Row = Row(id, new Timestamp(ts), user, kind, value, props)
    def cents: Long = math.round(value * 100)
  }

  private var model = mutable.LongMap.empty[Ev]
  private var nextId = 0L
  private var version = -1L
  private var pinned = -1L
  private var pinnedAgg: Map[String, (Long, Long)] = Map.empty
  /** Expected change-feed action counts per committed version. */
  private val changeLog = mutable.LongMap.empty[Map[String, Long]]
  private var rnd: java.util.SplittableRandom = _

  private def newEvent(id: Long, kind: String): Ev = Ev(id,
    BaseMillis + rnd.nextLong(30L * 86400L * 1000L),
    rnd.nextInt(5000).toLong, kind, rnd.nextInt(100000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")

  private def fresh(n: Int): Seq[Ev] = (0 until n).map { _ =>
    val e = newEvent(nextId, Kinds(rnd.nextInt(Kinds.size))); nextId += 1; e
  }

  /** `n` distinct live keys, drawn from the model in key order. */
  private def liveSample(n: Int): Seq[Ev] = {
    val keys = model.keysIterator.toArray.sorted
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) picked += keys(rnd.nextInt(keys.length))
    picked.toSeq.map(model)
  }

  private def frame(evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(evs.map(_.row): _*), Schema)

  private def aggOf(evs: Iterable[Ev]): Map[String, (Long, Long)] =
    evs.groupBy(_.kind).map { case (k, es) => k -> (es.size.toLong, es.iterator.map(_.cents).sum) }

  private def aggTable(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy("event_type").agg(count(lit(1)), sum(round(col("value") * 100).cast("long")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def csvBytes(evs: Seq[Ev]): Long =
    evs.iterator.map(e => s"${e.id},${e.ts},${e.user},${e.kind},${e.value},${e.props}\n".length.toLong).sum

  def setup(spark: SparkSession, dir: String): Unit = {
    this.spark = spark
    this.dir = dir
    rnd = new java.util.SplittableRandom(seed)
    model = mutable.LongMap.empty
    nextId = 0L
    changeLog.clear()
    fresh(BaseRows).foreach(e => model(e.id) = e)
    baseDigest = Digest.sha256(model.values.toSeq.sortBy(_.id).iterator.map(e => Digest.utf8(e.toString)))
    frame(model.values.toSeq.sortBy(_.id)).repartition(4)
      .write.partitionBy("event_type").parquet(table)
    Versioned.init(spark, table)
    version = Versioned.enableChangeFeed(spark, table, Key)
    pinned = version
    pinnedAgg = aggOf(model.values)
  }


  private var baseDigest = ""
  def inputDigest: String = baseDigest


  def sizes: Map[String, Double] = Map(
    "base_rows" -> BaseRows.toDouble, "live_rows" -> model.size.toDouble,
    "version" -> version.toDouble,
    "checkpoints_crossed" -> (version / Versioned.CheckpointInterval).toDouble)

  private def committed(v: Long, actions: Map[String, Long]): Seq[String] = {
    val problems = if (v == version + 1) Nil else Seq(s"commit returned version $v, expected ${version + 1}")
    version = v
    changeLog(v) = actions
    problems
  }

  // ---- writes ------------------------------------------------------------

  private def append(ctx: OpCtx): Seq[String] = {
    val batch = fresh(AppendRows)
    val df = frame(batch)
    val v = ctx.timed(Versioned.append(spark, table, df, Seq("event_type")))
    batch.foreach(e => model(e.id) = e)
    ctx.note("batch_bytes", csvBytes(batch).toDouble)
    committed(v, Map("insert" -> batch.size.toLong))
  }

  private def merge(ctx: OpCtx): Seq[String] = {
    val updates = liveSample(MergeUpdates).map(e => e.copy(value = (e.cents + 1 + rnd.nextInt(5000)) / 100.0))
    val inserts = fresh(MergeInserts)
    val batch = updates ++ inserts
    val df = frame(batch).withColumn("__delete", lit(false))
    val v = ctx.timed(Versioned.mergeInto(spark, table, df, Seq("event_type"), Key))
    batch.foreach(e => model(e.id) = e)
    ctx.note("batch_bytes", csvBytes(batch).toDouble)
    committed(v, Map("update_preimage" -> updates.size.toLong,
      "update_postimage" -> updates.size.toLong, "insert" -> inserts.size.toLong))
  }

  private def delete(ctx: OpCtx): Seq[String] = {
    val gone = liveSample(DeleteKeys).map(_.id)
    val v = ctx.timed(Versioned.deleteWhere(spark, table,
      col("event_id").isin(gone: _*), Key))
    gone.foreach(model.remove)
    committed(v, Map("delete" -> gone.size.toLong))
  }

  private def update(ctx: OpCtx): Seq[String] = {
    val hit = liveSample(UpdateKeys)
    val v = ctx.timed(Versioned.updateWhere(spark, table, col("event_id").isin(hit.map(_.id): _*),
      Map("value" -> (col("value") + lit(UpdateDelta))), Seq("event_type")))
    hit.foreach(e => model(e.id) = e.copy(value = e.value + UpdateDelta))
    committed(v, Map("update_preimage" -> hit.size.toLong, "update_postimage" -> hit.size.toLong))
  }

  private def optimize(ctx: OpCtx): Seq[String] = {
    val v = ctx.timed(Versioned.optimize(spark, table, Seq("event_type"), targetFilesPerPartition = 1))
    committed(v, Map.empty)
  }

  // ---- reads -------------------------------------------------------------

  private def readLatest(ctx: OpCtx): Seq[String] = {
    val got = ctx.timed(aggTable(ctx.call("versioned.resolve_latest")(Versioned.snapshot(spark, table))))
    if (!ctx.checking) return Nil
    diff("latest snapshot", got, aggOf(model.values))
  }

  private def readPinned(ctx: OpCtx): Seq[String] = {
    val got = ctx.timed(aggTable(ctx.call("versioned.resolve_pinned")(
      Versioned.snapshot(spark, table, pinned))))
    if (!ctx.checking) return Nil
    diff(s"snapshot at v$pinned", got, pinnedAgg)
  }

  private def changes(ctx: OpCtx): Seq[String] = {
    val from = math.max(pinned, version - ChangeSpan)
    val got = ctx.timed(Versioned.changesBetween(spark, table, from, version)
      .groupBy("_action").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    if (!ctx.checking) return Nil
    val want = ((from + 1) to version).flatMap(v => changeLog.getOrElse(v, Map.empty[String, Long]))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }.filter(_._2 > 0)
    diff(s"changes ($from, $version]", got, want)
  }

  private def history(ctx: OpCtx): Seq[String] = {
    val rows = ctx.timed(Versioned.history(spark, table).collect())
    if (!ctx.checking) return Nil
    val versions = rows.map(_.getAs[Long]("version")).toSeq
    if (versions.sorted != (0L to version)) Seq(s"history lists ${versions.size} versions, expected 0..$version")
    else Nil
  }

  /** Merge and update rewrite the partitions they touch; the appends after
    * them leave every partition with several files, so each optimize has
    * work to do. */
  val cycle: Seq[Op] = Seq(
    Op("append", write = true)(append),
    Op("read_latest", write = false)(readLatest),
    Op("merge", write = true)(merge),
    Op("read_pinned", write = false)(readPinned),
    Op("delete", write = true)(delete),
    Op("changes", write = false)(changes),
    Op("update", write = true)(update),
    Op("append", write = true)(append),
    Op("history", write = false)(history),
    Op("optimize", write = true)(optimize))

  def space(): (Double, Double) = {
    val live = Versioned.filesAt(spark, table).map { p =>
      val f = new File(p.stripPrefix("file:"))
      if (f.isAbsolute) f else new File(table, p)
    }
    (Disk.bytes(new File(table)).toDouble, live.map(_.length()).sum.toDouble)
  }

  def finalCheck(fresh: () => SparkSession): Seq[String] = {
    val s = fresh()
    val got = Versioned.snapshot(s, table)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => r.getLong(0) -> Ev(r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3), r.getDouble(4), r.getString(5))).toMap
    diff("table read back in a fresh session", got, model.toMap)
  }

  def layerMetrics(spans: Seq[Span]): Map[String, Double] = {
    val commits = Seq("append", "merge", "delete", "update", "optimize")
      .flatMap(o => Layers.named(spans, s"op.$o"))
    val batched = Seq("append", "merge").flatMap(o => Layers.named(spans, s"op.$o"))
    val resolves = Layers.named(spans, "versioned.resolve_latest")
    Map(
      "versioned.append_ms" -> Layers.meanWall(spans, "op.append"),
      "versioned.merge_ms" -> Layers.meanWall(spans, "op.merge"),
      "versioned.delete_ms" -> Layers.meanWall(spans, "op.delete"),
      "versioned.update_ms" -> Layers.meanWall(spans, "op.update"),
      "versioned.optimize_ms" -> Layers.meanWall(spans, "op.optimize"),
      "versioned.commit_jobs" -> Layers.meanStat(commits, "exec.jobs"),
      "versioned.commit_driver_fs_calls" -> Stats.mean(commits.map(Layers.driverFsCalls)),
      "versioned.write_amp" -> batched.map(Layers.stat(_, "fs.bytes_written")).sum /
        batched.map(Layers.stat(_, "batch_bytes")).sum,
      "versioned.resolve_latest_ms" -> Stats.mean(resolves.map(_.wallMs)),
      "versioned.resolve_pinned_ms" -> Layers.meanWall(spans, "versioned.resolve_pinned"),
      "versioned.resolve_driver_fs_calls" -> Stats.mean(resolves.map(Layers.driverFsCalls)),
      "versioned.changes_ms" -> Layers.meanWall(spans, "op.changes"),
      "versioned.history_ms" -> Layers.meanWall(spans, "op.history"))
  }
}

object LakeWorkload {
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val Kinds: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val Key: Seq[String] = Seq("event_type", "event_id")
  val BaseRows = 100000
  val AppendRows = 200
  val MergeUpdates = 400
  val MergeInserts = 100
  val DeleteKeys = 50
  val UpdateKeys = 50
  val UpdateDelta = 1.25
  /** How many versions back the change-feed read starts. */
  val ChangeSpan = 4
  /** 2024-01-01T00:00:00Z in milliseconds. */
  val BaseMillis = 1704067200000L
}
