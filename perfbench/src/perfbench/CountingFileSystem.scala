package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `LocalFileSystem` that counts the calls made into it, registered for the
  * `file` scheme through `spark.hadoop.fs.file.impl`. Hadoop's own `file`
  * statistics do not count listings (`readOps` stays 0 after `listStatus`),
  * so the benchmark counts at the FileSystem API boundary instead. Counts are
  * process-wide: in `local[N]` the driver and every executor thread share
  * them. Calls the raw filesystem makes internally are not counted. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = {
    val r = super.listStatus(f)
    listCalls.incrementAndGet(); entriesListed.addAndGet(r.length)
    r
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(super.listLocatedStatus(f))

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(super.listStatusIterator(f))

  private def counted[T](it: RemoteIterator[T]): RemoteIterator[T] = {
    listCalls.incrementAndGet()
    new RemoteIterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = { entriesListed.incrementAndGet(); it.next() }
    }
  }

  override def getFileStatus(f: Path): FileStatus = {
    statusCalls.incrementAndGet(); super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    openCalls.incrementAndGet(); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    createCalls.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    createCalls.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renameCalls.incrementAndGet(); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deleteCalls.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  val listCalls, entriesListed, statusCalls, openCalls, createCalls,
    renameCalls, deleteCalls = new AtomicLong

  /** Bytes written under the `file` scheme, from Hadoop's own statistics
    * (they do count writes). Includes checksum files. */
  private def bytesWritten: Long =
    FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Current value of every counter, by its per-layer metric name. */
  def snapshot(): Map[String, Long] = Map(
    "fs.list_calls" -> listCalls.get, "fs.entries_listed" -> entriesListed.get,
    "fs.status_calls" -> statusCalls.get, "fs.open_calls" -> openCalls.get,
    "fs.create_calls" -> createCalls.get, "fs.rename_calls" -> renameCalls.get,
    "fs.delete_calls" -> deleteCalls.get, "fs.bytes_written" -> bytesWritten)
}
