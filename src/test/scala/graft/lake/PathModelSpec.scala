package graft.lake

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs._

import graft.SparkSpec

/** S1-S3 path parsing + F1/F2 pruning (SURVEY.md §2.1, §2.3), and the
  * [[PathModel.walkFiles]] listing every driver-side listing goes
  * through. */
class PathModelSpec extends SparkSpec {

  private val root = "/lake"
  private def inv(paths: String*) =
    df(paths.map(p => (p, 100L)), "path", "size")

  test("parsePaths extracts site/participant/metric + filename timestamp") {
    val d = PathModel.parsePaths(inv(
      "/lake/top/siteA/p001/heart_rate/20241017_0930.csv.gz",
      "/lake/top/siteB/p002/steps/sub/20240101_1200_3.csv.gz"), root)
      .select("site", "participant_id", "metric", "shard_idx")
      .orderBy("site")
    assert(rowsOf(d) == Seq(
      Seq("siteA", "p001", "heart_rate", null),
      Seq("siteB", "p002", "steps", 3)))
  }

  test("parsePaths drops short paths and unparseable timestamps (reference returns None)") {
    val d = PathModel.parsePaths(inv(
      "/lake/top/siteA/short.csv.gz",                      // <4 parts
      "/lake/top/siteA/p001/hr/nodate.csv.gz",             // no timestamp
      "/lake/top/siteA/p001/hr/20241332_9999.csv.gz",      // invalid date
      "/lake/top/siteA/p001/hr/20241017_0930.csv.gz"), root)
    assert(d.count() == 1)
  }

  test("includeExclude: exclude wins over include; include needs >=1 match") {
    val parsed = PathModel.parsePaths(inv(
      "/lake/top/siteA/p001/hr/20240101_0000.csv.gz",
      "/lake/top/siteB/p002/hr/20240101_0000.csv.gz",
      "/lake/top/siteC/p003/hr/20240101_0000.csv.gz"), root)
    val both = PathModel.includeExclude(parsed, Seq("siteA", "siteB"), Seq("siteB"))
    assert(rowsOf(both.select("site")) == Seq(Seq("siteA")))
    val exclOnly = PathModel.includeExclude(parsed, Nil, Seq("p003"))
    assert(exclOnly.count() == 2)
    val all = PathModel.includeExclude(parsed, Nil, Nil)
    assert(all.count() == 3)
  }

  test("includeBySubstring matches any path component substring") {
    val parsed = PathModel.parsePaths(inv(
      "/lake/top/siteA/p001/heart_rate/20240101_0000.csv.gz",
      "/lake/top/siteB/p002/steps/20240101_0000.csv.gz"), root)
    val d = PathModel.includeBySubstring(parsed, Seq("eart"))
    assert(rowsOf(d.select("metric")) == Seq(Seq("heart_rate")))
    assert(PathModel.includeBySubstring(parsed, Nil).count() == 2)
  }

  /** A lake in the reference layout plus everything a listing must treat
    * exactly as Hadoop does: Spark-written parquet (`.crc` siblings,
    * `_SUCCESS`), `_`/`.` directories, an empty directory, and
    * directories nested below the metric level. */
  private def messyTree(): java.io.File = {
    val root = Files.createTempDirectory("graft_walk").toFile
    def touch(rel: String, bytes: Int): Unit = {
      val p = Paths.get(root.getPath, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](bytes)(1))
    }
    touch("top/siteA/p001/heart_rate/20241017_0930.csv.gz", 11)
    touch("top/siteA/p001/heart_rate/2024/10/20241018_0930_2.csv.gz", 12)
    touch("top/siteA/p002/steps/deep/er/still/20241019_0000.csv.gz", 13)
    touch("top/siteB/p003/sleep/notes.txt", 14)
    touch("_staging_x/20241017_0930.csv.gz", 15)
    touch(".hidden/20241017_0930.csv.gz", 16)
    Files.createDirectories(Paths.get(root.getPath, "top/siteB/p003/empty"))
    spark.range(20).repartition(2).write.parquet(s"$root/top/siteB/p003/pq")
    root
  }

  private def viaListFiles(fs: FileSystem, p: Path, recursive: Boolean) = {
    val it = fs.listFiles(p, recursive)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }
  private def triples(sts: Seq[FileStatus]) =
    sts.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))

  test("walkFiles lists exactly what Hadoop's listFiles lists, in its order") {
    val root = new Path(messyTree().getPath)
    val local = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the checksummed filesystem hides .crc files, the raw one shows them
    for (fs <- Seq(local, local.asInstanceOf[LocalFileSystem].getRawFileSystem)) {
      for (dir <- Seq(root, new Path(root, "top/siteB/p003/pq"),
          new Path(root, "top/siteA/p001/heart_rate"),
          new Path(root, "top/siteB/p003/empty"),
          new Path(root, "top/siteA/p001/heart_rate/20241017_0930.csv.gz"));
          recursive <- Seq(true, false)) {
        val walked = triples(PathModel.walkFiles(fs, dir, recursive).toSeq)
        assert(walked === triples(viaListFiles(fs, dir, recursive)),
          s"$fs $dir recursive=$recursive")
      }
      val all = PathModel.walkFiles(fs, root).map(_.getPath.getName).toSeq
      assert(all.contains("_SUCCESS") && all.exists(_.endsWith(".parquet")))
      assert(all.exists(_.endsWith(".crc")) == (fs ne local))
      assert(all.size == 9 + (if (fs ne local) 3 else 0), all)
      val missing = new Path(root, "no/such/dir")
      intercept[FileNotFoundException](viaListFiles(fs, missing, recursive = true))
      intercept[FileNotFoundException](PathModel.walkFiles(fs, missing))
    }
  }

  test("listings never reach Hadoop's per-file listFiles/listLocatedStatus") {
    val root = messyTree()
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = s"fs.${NoLocatedListingFs.Scheme}.impl"
    conf.set(impl, classOf[NoLocatedListingFs].getName)
    conf.setBoolean(s"$impl.disable.cache", true)
    try {
      val guarded = new Path(s"${NoLocatedListingFs.Scheme}://${root.getPath}")
      val fs = guarded.getFileSystem(conf)
      intercept[UnsupportedOperationException](fs.listFiles(guarded, true))
      val plain = new Path(root.getPath)
      def names(sts: Iterator[FileStatus]) = sts.map(_.getPath.toUri.getPath).toSeq
      assert(names(PathModel.walkFiles(fs, guarded)) ===
        names(PathModel.walkFiles(plain.getFileSystem(conf), plain)))
      def inventory(root: Path) = PathModel.listFiles(spark, root.toString).collect()
        .map(r => new Path(r.getString(0)).toUri.getPath).sorted.toSeq
      val listed = inventory(guarded)
      assert(listed.size == 5 && listed === inventory(plain))
    } finally {
      conf.unset(impl)
      conf.unset(s"$impl.disable.cache")
    }
  }
}

/** The local filesystem under a private scheme with Hadoop's located
  * listings disabled: `listFiles`/`listLocatedStatus` build a
  * `LocatedFileStatus` per file, which forks a `stat` per file on the
  * local filesystem, so any listing that reaches them fails here. */
class NoLocatedListingFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${NoLocatedListingFs.Scheme}:///")
}) {
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"listFiles($f): use PathModel.walkFiles")
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    throw new UnsupportedOperationException(s"listLocatedStatus($f): use PathModel.walkFiles")
}

object NoLocatedListingFs {
  val Scheme = "graftnolocated"
}
