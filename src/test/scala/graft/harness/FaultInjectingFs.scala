package graft.harness

import java.io.{IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local filesystem under the scheme `faultfs:///<absolute path>` that
  * fails a chosen write midway: [[FaultInjectingFs.failNextCreate]] arms a
  * one-shot fault, and the next file created whose name satisfies the
  * predicate accepts that many bytes, then throws. Registered the way
  * [[MockObjectStoreFs]] is — per-call `storageOptions` from
  * [[FaultInjectingFs.options]] — so a store write runs its real code
  * path, FileContext renames included ([[FaultInjectingAfs]]). Being a
  * non-`file` scheme, it also exercises the Hadoop branch of writes that
  * take a `java.nio` shortcut on local paths. Test scope only. */
class FaultInjectingFs extends RawLocalFileSystem {
  override def getUri: URI = FaultInjectingFs.Root
  override def getScheme: String = FaultInjectingFs.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultInjectingFs.wrap(f, super.create(f, overwrite, bufferSize, replication,
      blockSize, progress), statistics)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    FaultInjectingFs.wrap(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress), statistics)
}

object FaultInjectingFs {
  val Scheme = "faultfs"
  val Root: URI = URI.create(s"$Scheme:///")

  /** Storage options that register the scheme for one call. */
  val options: Map[String, String] = Map(
    s"fs.$Scheme.impl" -> classOf[FaultInjectingFs].getName,
    s"fs.AbstractFileSystem.$Scheme.impl" -> classOf[FaultInjectingAfs].getName)

  def path(local: String): String = s"$Scheme://${new java.io.File(local).getAbsolutePath}"

  private final case class Fault(matches: String => Boolean, afterBytes: Long)
  @volatile private var armed: Option[Fault] = None
  @volatile private var fired: Boolean = false

  /** Arm a one-shot fault for the next created file whose name matches. */
  def failNextCreate(matches: String => Boolean, afterBytes: Long): Unit = synchronized {
    armed = Some(Fault(matches, afterBytes)); fired = false
  }

  /** Whether the armed fault fired; disarms it. */
  def disarm(): Boolean = synchronized { armed = None; fired }

  private def take(p: Path): Option[Long] = synchronized {
    armed.filter(_.matches(p.getName)).map { f => armed = None; fired = true; f.afterBytes }
  }

  private def wrap(p: Path, out: FSDataOutputStream,
                   stats: org.apache.hadoop.fs.FileSystem.Statistics): FSDataOutputStream =
    take(p) match {
      case None => out
      case Some(limit) => new FSDataOutputStream(new OutputStream {
        private var written = 0L
        private def fail(): Nothing = {
          out.close()
          throw new IOException(s"injected fault: write to $p failed after $written bytes")
        }
        override def write(b: Int): Unit = {
          if (written >= limit) fail()
          out.write(b); written += 1
        }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          val n = math.min(len.toLong, limit - written).toInt
          out.write(b, off, n); written += n
          if (n < len) fail()
        }
        override def flush(): Unit = out.flush()
        override def close(): Unit = out.close()
      }, stats)
    }
}

/** The [[FaultInjectingFs]] binding FileContext needs (renames). */
class FaultInjectingAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FaultInjectingFs, conf, FaultInjectingFs.Scheme, false)
