package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a counter per public operation, bound in
  * place of `file://` through `spark.hadoop.fs.file.impl`. Only the
  * outermost call on a thread counts: `exists` and `create` call
  * `getFileStatus` internally, and those nested calls are not engine
  * requests. Opens are also split by the table area they touch
  * (`_manifests/`, `_data/`). On local paths the engine creates commit
  * claims and records through java.nio, not through this class, so
  * those creates are not counted here. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[T](op: Op, p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) {
      op.n.incrementAndGet()
      val s = p.toUri.getPath
      if (op eq Open) {
        if (s.contains("/_manifests/")) ManifestOpens.n.incrementAndGet()
        else if (s.contains("/_data/")) DataOpens.n.incrementAndGet()
      }
    }
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def listStatus(f: Path): Array[FileStatus] =
    counted(Lists, f)(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted(Lists, f)(super.listStatus(f, filter))
  override def getFileStatus(f: Path): FileStatus =
    counted(Status, f)(super.getFileStatus(f))
  override def exists(f: Path): Boolean =
    counted(Exists, f)(super.exists(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(Open, f)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(Create, f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete, f)(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean =
    counted(Rename, src)(super.rename(src, dst))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(Mkdirs, f)(super.mkdirs(f, permission))
}

object CountingFileSystem {
  final class Op(val name: String) { val n = new AtomicLong() }

  val Lists = new Op("list")
  val Status = new Op("status")
  val Exists = new Op("exists")
  val Open = new Op("open")
  val Create = new Op("create")
  val Delete = new Op("delete")
  val Rename = new Op("rename")
  val Mkdirs = new Op("mkdirs")
  val ManifestOpens = new Op("manifest_opens")
  val DataOpens = new Op("data_opens")

  /** The eight API calls, in report order. */
  val calls: Seq[Op] =
    Seq(Lists, Status, Exists, Open, Create, Delete, Rename, Mkdirs)
  val all: Seq[Op] = calls ++ Seq(ManifestOpens, DataOpens)

  private val depth = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Current value of every counter, by name. */
  def snapshot(): Map[String, Long] = all.map(o => o.name -> o.n.get).toMap

  /** Sum of the eight API calls. */
  def totalCalls(): Long = calls.map(_.n.get).sum
}
