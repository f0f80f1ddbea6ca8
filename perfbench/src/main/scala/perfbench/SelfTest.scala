package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileSystem, Path}

/** Checks of the benchmark itself (`python3 perfbench/run.py --selftest`):
  *
  *  1. the counting filesystem's counts for a fixed call sequence, on the
  *     driver and inside an executor task;
  *  2. each workload's generator: the same seed gives byte-identical
  *     inputs, another seed different ones.
  *
  * Exits non-zero on the first failed check. */
object SelfTest {
  private var failures = 0

  private def check(what: String, got: Any, want: Any): Unit =
    if (got == want) println(s"[selftest] ok   $what")
    else { failures += 1; println(s"[selftest] FAIL $what: got $got, want $want") }

  private def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.filter(_._2 != 0)

  def main(args: Array[String]): Unit = {
    val work = new File(args.grouped(2).collect { case Array("--work", v) => v }.toSeq.head)
    Main.deleteRecursively(work)
    work.mkdirs()
    val spark = Main.session(work.getAbsolutePath, traced = true)
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(new File(work, "fs").getAbsolutePath)
      val fs = root.getFileSystem(conf)
      check("traced sessions use the counting filesystem", fs.getClass.getSimpleName,
        "CountingFileSystem")

      // a fixed driver-side call sequence and its exact counts
      val s0 = FsCounters.snapshot()
      Seq("a", "a/x", "b").foreach(d => fs.mkdirs(new Path(root, d)))
      Seq("a/1.csv", "a/x/2.csv", "b/3.csv").foreach { f =>
        val out = fs.create(new Path(root, f))
        out.write("hello\n".getBytes("UTF-8")); out.close()
      }
      fs.exists(new Path(root, "a/1.csv"))
      fs.exists(new Path(root, "missing"))
      fs.getFileStatus(new Path(root, "b/3.csv"))
      fs.open(new Path(root, "a/1.csv")).close()
      fs.listStatus(new Path(root, "a"))
      val it = fs.listFiles(root, true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      val located = fs.listLocatedStatus(new Path(root, "b"))
      while (located.hasNext) located.next()
      val iter = fs.listStatusIterator(new Path(root, "a"))
      while (iter.hasNext) iter.next()
      fs.globStatus(new Path(root, "*/*.csv"))
      fs.rename(new Path(root, "b/3.csv"), new Path(root, "b/4.csv"))
      fs.delete(new Path(root, "b"), true)
      check("recursive listFiles sees every file", n, 3)
      check("driver counts of the fixed sequence", delta(s0, FsCounters.snapshot()), Map(
        "fs.driver.mkdirs" -> 3.0, "fs.driver.create" -> 3.0, "fs.bytes_written" -> 18.0,
        "fs.driver.exists" -> 2.0, "fs.driver.stat" -> 1.0, "fs.driver.open" -> 1.0,
        // listStatus 1 + listFiles over root, a, a/x, b = 4 + listLocatedStatus 1
        // + listStatusIterator 1 + globStatus 1
        "fs.driver.list" -> 8.0, "fs.driver.rename" -> 1.0, "fs.driver.delete" -> 1.0))

      // the same filesystem inside a task counts on the executor side
      val target = new Path(root, "a/1.csv").toString
      val s1 = FsCounters.snapshot()
      spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
        // local mode: the task shares the driver JVM's cached instance
        val p = new Path(target)
        val tfs = FileSystem.get(p.toUri, new org.apache.hadoop.conf.Configuration())
        tfs.getFileStatus(p)
        tfs.open(p).close()
        tfs.open(p).close()
        val out = tfs.create(new Path(p.getParent, "5.csv"))
        out.write(1); out.close()
      }
      check("executor counts of a task's calls", delta(s1, FsCounters.snapshot()), Map(
        "fs.exec.stat" -> 1.0, "fs.exec.open" -> 2.0, "fs.exec.create" -> 1.0,
        "fs.bytes_written" -> 1.0))
    } finally spark.stop()

    // generators: same seed -> same inputs; another seed -> other inputs
    Seq("mhm_etl", "lake_rw", "llm_curation").foreach { name =>
      val digests = Seq(11L, 11L, 12L).zipWithIndex.map { case (seed, i) =>
        val s = Main.session(work.getAbsolutePath, traced = false)
        try {
          val w = Main.workload(name, seed)
          w.setup(s, new File(work, s"gen_${name}_$i").getAbsolutePath)
          w.inputDigest
        } finally s.stop()
      }
      check(s"$name: one seed generates byte-identical inputs", digests(0), digests(1))
      check(s"$name: another seed generates other inputs", digests(0) != digests(2), true)
    }
    Main.deleteRecursively(work)
    println(s"[selftest] ${if (failures == 0) "all checks passed" else s"$failures checks failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
