package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Per-layer metrics of the traced run. Every metric is reported for every
  * workload; a layer a workload never calls reads 0. Layer names follow the
  * program's modules (see perfbench/WORKLOADS.md for which metric should
  * move which end-to-end number). */
object Layers {
  /** Counters averaged over every operation of the traced window. */
  val PerOp: Seq[(String, String)] = Seq(
    "planning.analysis_ms" -> "ms", "planning.optimization_ms" -> "ms",
    "planning.physical_ms" -> "ms", "planning.executions" -> "count",
    "planning.aqe_updates" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_wall_ms" -> "ms", "driver.self_ms" -> "ms", "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.shuffle_read_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B", "exec.spill_bytes" -> "B",
    "exec.input_bytes" -> "B", "exec.output_bytes" -> "B",
    "fs.driver.stat" -> "count", "fs.driver.exists" -> "count", "fs.driver.open" -> "count",
    "fs.driver.list" -> "count", "fs.driver.create" -> "count",
    "fs.driver.rename" -> "count", "fs.driver.delete" -> "count",
    "fs.exec.stat" -> "count", "fs.exec.open" -> "count", "fs.exec.create" -> "count",
    "fs.bytes_written" -> "B")

  /** Metrics each workload computes from its own calls. */
  val Specific: Seq[(String, String)] = Seq(
    "pathmodel.list_ms" -> "ms", "pathmodel.files_listed" -> "count",
    "pathmodel.ms_per_file" -> "ms", "readers.files_opened" -> "count",
    "ops.catalog_ms" -> "ms", "ops.merge_ms" -> "ms", "ops.overview_ms" -> "ms",
    "ops.presence_ms" -> "ms", "ops.summary_ms" -> "ms", "ops.incremental_ms" -> "ms",
    "versioned.append_ms" -> "ms", "versioned.merge_ms" -> "ms",
    "versioned.delete_ms" -> "ms", "versioned.update_ms" -> "ms",
    "versioned.optimize_ms" -> "ms", "versioned.commit_jobs" -> "count",
    "versioned.commit_driver_fs_calls" -> "count", "versioned.write_amp" -> "1",
    "versioned.resolve_latest_ms" -> "ms", "versioned.resolve_pinned_ms" -> "ms",
    "versioned.resolve_driver_fs_calls" -> "count", "versioned.changes_ms" -> "ms",
    "versioned.history_ms" -> "ms",
    "ext.shingles_ms" -> "ms", "ext.minhash_ms" -> "ms", "ext.lsh_ms" -> "ms",
    "ext.verify_ms" -> "ms", "ext.cc_ms" -> "ms", "ext.cc_jobs" -> "count",
    "ext.ssjoin_ms" -> "ms", "ext.quality_ms" -> "ms", "ext.ann_ms" -> "ms",
    "ext.lsh_candidates" -> "count", "ext.lsh_precision" -> "1",
    "ext.ann_recall_at_10" -> "1",
    "trace.overhead_ratio" -> "1")

  val All: Seq[(String, String)] = Specific ++ PerOp

  val DriverFsOps: Seq[String] =
    Seq("stat", "exists", "open", "list", "create", "rename", "delete").map(o => s"fs.driver.$o")

  def ops(spans: Seq[Span]): Seq[Span] = spans.filter(_.parent == -1)

  def named(spans: Seq[Span], name: String): Seq[Span] = spans.filter(_.name == name)

  def meanWall(spans: Seq[Span], name: String): Double = Stats.mean(named(spans, name).map(_.wallMs))

  def stat(s: Span, key: String): Double = s.stats.getOrElse(key, 0.0)

  def meanStat(spans: Seq[Span], key: String): Double = Stats.mean(spans.map(stat(_, key)))

  def driverFsCalls(s: Span): Double = DriverFsOps.map(stat(s, _)).sum

  def common(spans: Seq[Span]): Map[String, Double] = {
    val os = ops(spans)
    PerOp.map { case (k, _) => k -> meanStat(os, k) }.toMap
  }

  /** The traced window's spans, one record per operation with the calls
    * inside it: the raw material the per-layer metrics are averaged from,
    * and what the determinism check compares between two traced runs. */
  def writeLog(dir: File, workload: String, spans: Seq[Span]): Unit = {
    val byParent = spans.groupBy(_.parent)
    val records = ops(spans).sortBy(_.id).zipWithIndex.map { case (op, i) =>
      Map("index" -> i, "op" -> op.name, "wall_ms" -> op.wallMs,
        "stats" -> op.stats.toSeq.sortBy(_._1).toMap,
        "calls" -> byParent.getOrElse(op.id, Nil).sortBy(_.id).map(c =>
          Map("name" -> c.name, "wall_ms" -> c.wallMs,
            "stats" -> c.stats.toSeq.sortBy(_._1).toMap)))
    }
    dir.mkdirs()
    Files.write(new File(dir, s"trace_$workload.json").toPath,
      Json(records).getBytes(StandardCharsets.UTF_8))
  }
}
