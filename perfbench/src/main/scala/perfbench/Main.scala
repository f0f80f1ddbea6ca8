package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (`perfbench/run.py` builds and starts it):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * One client runs the workload's operation cycle as a closed loop on
  * `local[<cores>]`, with the session settings of `graft.Bench`. An
  * untraced run reports the end-to-end metrics; a traced run installs the
  * counting filesystem and Spark listeners and reports the per-layer
  * metrics. The last stdout line is the JSON result.
  */
object Main {
  val SetupRepeats = 3

  /** One operation of the window: its latency, and its wall time
    * including input preparation and output checks. */
  final case class Rec(op: String, write: Boolean, ms: Double, wallMs: Double, problems: Seq[String])

  def session(work: String, traced: Boolean): SparkSession = {
    // drop cached FileSystem instances: the scheme's implementation class
    // is read when an instance is created, and traced and untraced
    // sessions use different ones
    org.apache.hadoop.fs.FileSystem.closeAll()
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "mhm_etl" => new EtlWorkload(seed)
    case "lake_rw" => new LakeWorkload(seed)
    case "llm_curation" => new CurationWorkload(seed)
    case "lake_curation" =>
      new CombinedWorkload("lake_curation", Seq(new LakeWorkload(seed), new CurationWorkload(seed)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Run whole cycles until the operations' own time reaches `budgetMs`.
    * `afterFirstCycle` runs once, after the first cycle. */
  def window(w: Workload, tracer: Tracer, budgetMs: Double,
      afterFirstCycle: () => Unit = () => ()): Seq[Rec] = {
    val recs = mutable.ArrayBuffer.empty[Rec]
    var used = 0.0
    var cycle = 0
    while (used < budgetMs) {
      w.cycle.foreach { op =>
        val ctx = new OpCtx(tracer, op.name, cycle)
        val t0 = System.nanoTime()
        val problems =
          try op.run(ctx)
          catch { case e: Throwable =>
            Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        val wallMs = (System.nanoTime() - t0) / 1e6
        // an operation that failed before its timed part returned has no
        // latency; its wall time still uses up the window, so a program
        // that fails every operation cannot keep the loop going forever
        val ms = if (ctx.elapsedMs >= 0) ctx.elapsedMs else wallMs
        tracer.annotateLastOp(ctx.notes)
        if (problems.nonEmpty) System.err.println(s"[perfbench] ${op.name}: ${problems.mkString("; ")}")
        recs += Rec(op.name, op.write, ms, wallMs, problems)
        used += ms
      }
      if (cycle == 0) afterFirstCycle()
      cycle += 1
    }
    recs.toSeq
  }

  private val jvmStart = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.1f s: $name done")

  /** Start the window from a collected heap, so garbage the set-up and
    * warm-up left is not collected during the first operations. */
  def settle(): Unit = System.gc()

  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val w = workload(opt("workload"), seed)
    new File(work).mkdirs()

    val result =
      if (traced) tracedRun(w, work, seconds)
      else untracedRun(w, work, seconds)
    println(result)
  }

  private def opLine(recs: Seq[Rec]): String =
    recs.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, rs) =>
      f"$op=${Stats.median(rs.map(_.ms))}%.1fms(n=${rs.size})"
    }.mkString(" ") + f"; window ${recs.map(_.ms).sum / 1000}%.1f s, with checks ${recs.map(_.wallMs).sum / 1000}%.1f s"

  def untracedRun(w: Workload, work: String, seconds: Double): String = {
    var spark: SparkSession = null
    // set-up repeated from a fresh session and an empty directory; the
    // last one's state is measured
    val setups = (1 to SetupRepeats).map { i =>
      if (i > 1) deleteRecursively(new File(work, s"setup${i - 1}"))
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work, traced = false)
      w.setup(spark, new File(work, s"setup$i").getAbsolutePath)
      (System.nanoTime() - t0) / 1e9
    }
    // one warm-up pass, after the last set-up: first-use costs (JIT,
    // codegen, caches the program fills lazily) land here and count in
    // setup_s, so work moved out of the operations into first use shows
    phase("set-ups")
    val t0 = System.nanoTime()
    w.warmup(spark)
    val warmupS = (System.nanoTime() - t0) / 1e9
    phase("warm-up")
    settle()
    var spaceAmp = Double.NaN
    val recs = window(w, new Tracer(spark, enabled = false), seconds * 1000,
      () => spaceAmp = { val (disk, live) = w.space(); disk / live })
    phase("window")
    spark.catalog.clearCache()
    val heap = heapRetainedMb()
    val finalProblems = w.finalCheck(() => { spark.stop(); spark = session(work, traced = false); spark })
    spark.stop()
    phase("final check")

    val lat = recs.map(_.ms)
    val failed = recs.count(_.problems.nonEmpty)
    val e2e = ListMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setups) + warmupS, "s"),
      "ops_per_s" -> (recs.size / (lat.sum / 1000.0), "op/s"),
      "op_p50_ms" -> (Stats.hdQuantile(lat, 0.5), "ms"),
      "read_p50_ms" -> (Stats.hdQuantile(recs.filterNot(_.write).map(_.ms), 0.5), "ms"),
      "write_p50_ms" -> (Stats.hdQuantile(recs.filter(_.write).map(_.ms), 0.5), "ms"),
      "space_amp" -> (spaceAmp, "1"),
      "heap_retained_mb" -> (heap, "MiB"))
    // printed, not in the JSON: fail_ratio is the JSON's failed/attempted,
    // and p90 needs at least 100 operations in the run
    val extra = ListMap("fail_ratio" -> (failed.toDouble / recs.size, "1")) ++
      (if (recs.size >= 100) ListMap("op_p90_ms" -> (Stats.hdQuantile(lat, 0.9), "ms")) else Nil)
    println(s"[perfbench] ${w.name}: ${recs.size} operations; ${opLine(recs)}")
    println(s"[perfbench] inputs: ${Json(w.sizes)}; set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s, warm-up ${f"$warmupS%.2f"} s")
    (e2e ++ extra).foreach { case (k, (v, u)) => println(f"[perfbench] $k%-18s $v%14.4f $u") }
    finalProblems.foreach(p => System.err.println(s"[perfbench] final check: $p"))
    Json(ListMap(
      "correct" -> (failed == 0 && finalProblems.isEmpty),
      "attempted" -> recs.size,
      "failed" -> (failed + (if (finalProblems.nonEmpty) 1 else 0)),
      "metrics" -> e2e.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }))
  }

  /** Per-layer metrics: half the window with spans recorded, then half
    * with them off on the same session (counting filesystem and
    * listeners stay installed), for `trace.overhead_ratio`. The traced
    * half starts right after set-up and warm-up, so two traced runs with
    * one seed run the same operations from the same state. */
  def tracedRun(w: Workload, work: String, seconds: Double): String = {
    var spark = session(work, traced = true)
    w.setup(spark, new File(work, "setup1").getAbsolutePath)
    w.warmup(spark)
    settle()
    val tracer = new Tracer(spark, enabled = true)
    val traced = window(w, tracer, seconds * 500)
    val plain = window(w, new Tracer(spark, enabled = false), seconds * 500)
    val finalProblems = w.finalCheck(() => { spark.stop(); spark = session(work, traced = false); spark })
    spark.stop()

    val spans = tracer.spans.toSeq
    val layers = Layers.common(spans) ++ w.layerMetrics(spans) +
      ("trace.overhead_ratio" -> Stats.hdQuantile(traced.map(_.ms), 0.5) /
        Stats.hdQuantile(plain.map(_.ms), 0.5))
    val metrics = ListMap(Layers.All.map { case (k, u) =>
      k -> ListMap("value" -> layers.getOrElse(k, 0.0), "unit" -> u) }: _*)
    Layers.writeLog(new File(work).getParentFile, w.name, spans)
    val recs = traced ++ plain
    val failed = recs.count(_.problems.nonEmpty)
    println(s"[perfbench] ${w.name} traced: ${traced.size} operations; ${opLine(traced)}")
    println(s"[perfbench] ${w.name} untraced: ${plain.size} operations; ${opLine(plain)}")
    metrics.foreach { case (k, m) => println(f"[perfbench] $k%-34s ${m("value").asInstanceOf[Double]}%16.4f ${m("unit")}") }
    finalProblems.foreach(p => System.err.println(s"[perfbench] final check: $p"))
    Json(ListMap(
      "correct" -> (failed == 0 && finalProblems.isEmpty),
      "attempted" -> recs.size,
      "failed" -> (failed + (if (finalProblems.nonEmpty) 1 else 0)),
      "metrics" -> metrics))
  }
}
