package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The benchmark's remote store: local files plus a fixed latency model.
  *
  * Plugged in under `graft://` through `graft.fs.remote.impl`. Every call
  * the caching layer makes pays a first-byte delay, and every byte moved
  * pays a per-MiB transfer cost, so a cache miss costs what it would cost
  * against an object store. The model's two numbers come from the command
  * line (see `BENCHMARK.json`), so both sides of an A/B run share them.
  *
  * The remote counts calls, bytes and wait time per call kind; the counts
  * repeat exactly for a given op sequence, which makes remote traffic
  * comparable across runs. Calls nested inside another call of this
  * filesystem (RawLocalFileSystem stats its own paths) are neither
  * charged nor counted twice.
  */
class LatencyRemoteFs extends RawLocalFileSystem {
  import LatencyRemoteFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    call("open") {
      new FSDataInputStream(new DelayedInput(super.open(f, bufferSize)))
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    call("create") {
      val out = super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress)
      new FSDataOutputStream(new DelayedOutput(out), null)
    }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    call("create") {
      val out = super.createNonRecursive(f, permission, flags, bufferSize,
        replication, blockSize, progress)
      new FSDataOutputStream(new DelayedOutput(out), null)
    }

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    call("create") {
      new FSDataOutputStream(
        new DelayedOutput(super.append(f, bufferSize, progress)), null)
    }

  override def rename(src: Path, dst: Path): Boolean =
    call("rename")(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    call("delete")(super.delete(p, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    call("list")(super.listStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    call("getFileStatus")(super.getFileStatus(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    call("mkdirs")(super.mkdirs(f, permission))
}

object LatencyRemoteFs {

  /** The latency model. Fixed for a run; set before the first call. */
  @volatile var firstByteNanos: Long = 0L
  @volatile var nanosPerMiB: Long = 0L

  val Kinds: Seq[String] = Seq("open", "pread", "create", "write", "rename",
    "delete", "list", "getFileStatus", "mkdirs")

  final class Counter {
    val calls = new AtomicLong
    val bytes = new AtomicLong
    val waitNanos = new AtomicLong
  }

  val counters: Map[String, Counter] = Kinds.map(_ -> new Counter).toMap

  /** Name -> value of every counter, for deltas around a phase. */
  def snapshot(): Map[String, Long] = counters.toSeq.flatMap { case (k, c) =>
    Seq(s"$k.calls" -> c.calls.get, s"$k.bytes" -> c.bytes.get,
      s"$k.wait_ns" -> c.waitNanos.get)
  }.toMap

  private val depth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }

  /** Waits `nanos` and returns the time actually waited. */
  private def pause(nanos: Long): Long = {
    if (nanos <= 0) return 0L
    val t0 = System.nanoTime()
    val until = t0 + nanos
    var now = t0
    while (now < until) {
      LockSupport.parkNanos(until - now)
      now = System.nanoTime()
    }
    now - t0
  }

  private def transferNanos(bytes: Long): Long =
    nanosPerMiB * bytes / (1L << 20)

  /** Runs one remote call of `kind`: charges the first-byte delay, counts
    * it, and records a remote span when tracing. Nested calls pass
    * straight through. */
  def call[T](kind: String, bytes: => Long = 0L)(body: => T): T = {
    val d = depth.get
    if (d(0) > 0) return body
    d(0) += 1
    val t0 = System.nanoTime()
    try {
      val waited = pause(firstByteNanos)
      val r = body
      val n = bytes
      val c = counters(kind)
      c.calls.incrementAndGet()
      c.bytes.addAndGet(n)
      c.waitNanos.addAndGet(waited + pause(transferNanos(n)))
      r
    } finally {
      d(0) -= 1
      Trace.remote(kind, t0, System.nanoTime())
    }
  }

  /** A remote read stream: each positioned read and each sequential read
    * is one remote call that pays the first-byte delay plus transfer. */
  final class DelayedInput(in: FSDataInputStream) extends FSInputStream {
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      call("pread", math.max(n, 0).toLong) { n = in.read(b, off, len); n }
    }

    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      call("pread", math.max(n, 0).toLong) {
        n = in.read(position, b, off, len); n
      }
    }

    override def readFully(position: Long, b: Array[Byte], off: Int,
        len: Int): Unit =
      call("pread", len.toLong)(in.readFully(position, b, off, len))

    override def close(): Unit = in.close()
  }

  /** A remote write stream: each write is counted (and pays transfer
    * cost for its bytes); the first-byte delay was paid by `create`. */
  final class DelayedOutput(out: FSDataOutputStream) extends java.io.OutputStream {
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      val c = counters("write")
      c.calls.incrementAndGet()
      c.bytes.addAndGet(len.toLong)
      c.waitNanos.addAndGet(pause(transferNanos(len.toLong)))
      out.write(b, off, len)
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }
}
