package graft.ops

import java.io.{IOException, OutputStream}
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under the `killfs` scheme, with one planted
  * fault that stands in for a process killed mid-write: once armed, the
  * first file created whose path contains the armed fragment keeps only
  * its first `keep` bytes, and the write that would pass them fails (as
  * does closing it). The fault then disarms. Register it with
  * `fs.killfs.impl`; roots are `killfs:///<local path>`. */
class KillFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("killfs:///")
  override def getScheme: String = "killfs"

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): OutputStream = {
    val out = super.createOutputStreamWithMode(f, append, permission)
    KillFs.take(f).fold(out) { keep =>
      new OutputStream {
        private var left = keep
        private def die(): Nothing = {
          out.close()
          throw new IOException(s"killed while writing $f")
        }
        override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          out.write(b, off, math.min(len, left))
          if (len > left) { left = 0; die() }
          left -= len
        }
        override def close(): Unit = die()
      }
    }
  }
}

object KillFs {
  private var armed: Option[(String, Int)] = None

  /** Fail the next file created under a path containing `at`, after its
    * first `keep` bytes. */
  def arm(at: String, keep: Int): Unit = synchronized { armed = Some((at, keep)) }

  /** Whether the armed fault has fired (or was never armed). */
  def fired: Boolean = synchronized { armed.isEmpty }

  private def take(f: Path): Option[Int] = synchronized {
    armed.collect { case (at, keep) if f.toString.contains(at) =>
      armed = None
      keep
    }
  }
}
