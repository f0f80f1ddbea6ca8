package perfbench

import java.io.OutputStream
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide filesystem call counters, split by the side that made the
  * call: the driver, or an executor task (a thread with a `TaskContext`).
  * Spans read them before and after a call and keep the difference. */
object FsCounters {
  val Ops: Vector[String] =
    Vector("stat", "exists", "open", "list", "create", "rename", "delete", "mkdirs")
  private val counts = new AtomicLongArray(2 * Ops.size)
  private val written = new java.util.concurrent.atomic.AtomicLong()

  private def side: Int = if (org.apache.spark.TaskContext.get() != null) 1 else 0

  def inc(op: String): Unit = counts.incrementAndGet(side * Ops.size + Ops.indexOf(op))
  def addWritten(n: Long): Unit = written.addAndGet(n)

  /** Current totals keyed `fs.driver.<op>`, `fs.exec.<op>`, `fs.bytes_written`. */
  def snapshot(): Map[String, Double] = {
    val calls = for ((s, si) <- Seq("driver", "exec").zipWithIndex; (op, oi) <- Ops.zipWithIndex)
      yield s"fs.$s.$op" -> counts.get(si * Ops.size + oi).toDouble
    calls.toMap + ("fs.bytes_written" -> written.get().toDouble)
  }
}

/** The local filesystem with every public entry point counted. Installed
  * only in traced runs, through `spark.hadoop.fs.file.impl`.
  *
  * A call is counted once, at the outermost entry: `exists` does not also
  * count the `getFileStatus` it makes inside, and `listStatus(Path[])`
  * counts once however many paths it lists. A recursive
  * `listFiles` counts one listing per directory, because its iterator
  * lists each subdirectory lazily, outside the first call. */
class CountingFileSystem extends LocalFileSystem {
  private def counted[T](op: String)(body: => T): T = {
    val d = CountingFileSystem.depth.get()
    if (d == 0) FsCounters.inc(op)
    CountingFileSystem.depth.set(d + 1)
    try body finally CountingFileSystem.depth.set(d)
  }

  /** A create counts its call and, at the outermost entry only, the
    * bytes written through the stream it returns. */
  private def created(body: => FSDataOutputStream): FSDataOutputStream = {
    val outermost = CountingFileSystem.depth.get() == 0
    val out = counted("create")(body)
    if (outermost) countingOut(out) else out
  }

  private def countingOut(out: FSDataOutputStream): FSDataOutputStream =
    new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = { out.write(b); FsCounters.addWritten(1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); FsCounters.addWritten(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)

  override def getFileStatus(f: Path): FileStatus = counted("stat")(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted("exists")(super.exists(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open")(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] = counted("list")(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted("list")(super.listStatus(f, filter))
  override def listStatus(fs: Array[Path]): Array[FileStatus] =
    counted("list")(super.listStatus(fs))
  override def listStatus(fs: Array[Path], filter: PathFilter): Array[FileStatus] =
    counted("list")(super.listStatus(fs, filter))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted("list")(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted("list")(super.listStatusIterator(f))
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    counted("list")(super.listFiles(f, recursive))
  override def globStatus(p: Path): Array[FileStatus] = counted("list")(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    counted("list")(super.globStatus(p, filter))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    created(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    created(super.create(f, permission, flags, bufferSize, replication, blockSize, progress,
      checksumOpt))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    created(super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    created(super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize,
      progress))
  override def rename(src: Path, dst: Path): Boolean = counted("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = counted("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs")(super.mkdirs(f, permission))
}

object CountingFileSystem {
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
}
