package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.collection.mutable
import scala.util.Random

/** `fs-zipf`: the Hadoop FileSystem API alone, no Spark. Client threads
  * in a closed loop mix positioned reads (pages drawn by Zipf(0.9) over a
  * file set larger than the memory and disk tiers together, random
  * offset and length) with whole-file writes (create, write, close).
  * A share of reads goes to the files the thread wrote last. Every byte
  * read is checked against the generator that wrote it. */
object FsZipf {
  // Sizes: the memory tier holds most of the Zipf hot set, so the median
  // op is a memory hit and the p99 tail falls among the writes, away from the
  // boundaries between latency modes that make percentiles jump from run
  // to run; 8 lock stripes (one per 4 MiB of memory tier) keep the four
  // clients from serializing on one shard; and the disk traffic per run
  // stays small enough not to slow the runs that follow.
  val Threads = 4
  val PageSize: Long = 64L << 10
  val IoBuffer: Long = 128L << 10
  val MemTier: Long = 32L << 20
  val DiskTier: Long = 8L << 20
  val WriteCache: Long = 4L << 20
  val BaseFiles = 48
  val BaseFileBytes: Int = 1 << 20
  val WrittenFileBytes: Int = 32 << 10
  val SlotsPerThread = 16
  val KeepGenerations = 4
  val WriteShare = 0.12
  val RecentReadShare = 0.10
  val Alpha = 0.9
  /** Ops per client per second of `--seconds`: each client runs
    * `--seconds` times this many ops, the same ops on any host (4,000 at
    * 20 s, about 14 s on a 4-core host). */
  val OpsPerClientPerSecond = 200.0

  /** The byte at `pos` of a file whose content key is `salt`. */
  @inline def byteAt(salt: Long, pos: Long): Byte =
    ((pos * 0x9E3779B97F4A7C15L + salt) >>> 29).toByte

  def fill(salt: Long, pos: Long, buf: Array[Byte], len: Int): Unit = {
    var i = 0
    while (i < len) { buf(i) = byteAt(salt, pos + i); i += 1 }
  }

  def baseSalt(seed: Long, f: Int): Long = seed * 1000003L + f
  def writtenSalt(seed: Long, thread: Int, slot: Int, gen: Int): Long =
    ((seed * 31 + thread) * 1009 + slot) * 100003L + gen + 1

  sealed trait Op
  final case class Read(file: Int, off: Long, len: Int) extends Op
  final case class ReadRecent(back: Int, off: Long, len: Int) extends Op
  case object Write extends Op

  /** The seeded op stream of one client thread in one phase. */
  final class OpStream(seed: Long, thread: Int, phase: Int, cdf: Array[Double],
      pagePerm: Array[Int]) {
    private val r = new Random(((seed * 65537L) + thread) * 8191L + phase)
    private val pagesPerFile = BaseFileBytes / PageSize.toInt

    def next(): Op = {
      val u = r.nextDouble()
      if (u < WriteShare) Write
      else if (u < WriteShare + (1 - WriteShare) * RecentReadShare)
        ReadRecent(r.nextInt(SlotsPerThread / 2), r.nextInt(WrittenFileBytes).toLong,
          1 + r.nextInt(PageSize.toInt))
      else {
        val rank = java.util.Arrays.binarySearch(cdf, r.nextDouble()) match {
          case i if i >= 0 => i
          case i => math.min(-i - 1, cdf.length - 1)
        }
        val page = pagePerm(rank)
        val off = (page % pagesPerFile).toLong * PageSize + r.nextInt(PageSize.toInt)
        Read(page / pagesPerFile, off, 1 + r.nextInt(PageSize.toInt))
      }
    }
  }

  /** Cumulative Zipf(alpha) probabilities over `n` ranks. */
  def zipfCdf(n: Int, alpha: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, alpha))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
}

final class FsZipf(env: Env) extends Workload {
  import FsZipf._

  private val remoteDir = env.dir("remote")
  private val fsConf = env.fsConf(MemTier, DiskTier, WriteCache, PageSize, IoBuffer)
  private val conf = env.hadoopConf(fsConf)
  private var fs: FileSystem = _
  private val nPages = BaseFiles * (BaseFileBytes / PageSize.toInt)
  private val cdf = zipfCdf(nPages, Alpha)
  private val pagePerm = new Random(env.seed).shuffle((0 until nPages).toVector).toArray
  private var phase = 0
  private val opIds = new AtomicLong
  private val opsPerClient = env.opCount(OpsPerClientPerSecond, 1)

  /** Written generation per (thread, slot); -1 = never written. */
  private val gens = Array.fill(Threads, SlotsPerThread)(-1)
  private val writeCursor = Array.fill(Threads)(0)

  /** Self-test hook: the base page whose remote bytes are corrupted. */
  var corruptHottestPage = false

  private def basePath(f: Int) = new Path(env.uri(new File(remoteDir, f"base/f$f%03d")))
  private def writtenPath(t: Int, s: Int, g: Int) =
    new Path(env.uri(new File(remoteDir, s"w/t$t-s$s-g$g")))

  def setup(): Unit = {
    val base = new File(remoteDir, "base"); base.mkdirs()
    new File(remoteDir, "w").mkdirs()
    val buf = new Array[Byte](BaseFileBytes)
    (0 until BaseFiles).foreach { f =>
      fill(baseSalt(env.seed, f), 0L, buf, BaseFileBytes)
      if (corruptHottestPage && f == pagePerm(0) / (BaseFileBytes / PageSize.toInt)) {
        val at = (pagePerm(0) % (BaseFileBytes / PageSize.toInt)) * PageSize.toInt
        (at until at + PageSize.toInt).foreach(i => buf(i) = (~buf(i)).toByte)
      }
      java.nio.file.Files.write(new File(base, f"f$f%03d").toPath, buf)
    }
    fs = new Path(env.uri(remoteDir)).getFileSystem(conf)
    // warm-up: the same op mix, untimed, until the caches are in steady state
    runPhase(math.max(1, opsPerClient / 4))
  }

  private final class Result {
    val ops = mutable.ArrayBuffer[OpRec]()
    val readMs = mutable.ArrayBuffer[Double]()
    val preadMs = mutable.ArrayBuffer[Double]()
    val writeMs = mutable.ArrayBuffer[Double]()
    var userBytes = 0L
    /** From the client's first op to the end of its last. */
    var wallNs = 0L
  }

  private def client(t: Int, stream: OpStream, nOps: Int, res: Result): Unit = {
    val buf = new Array[Byte](math.max(WrittenFileBytes, 2 * PageSize.toInt))
    val expect = new Array[Byte](buf.length)
    val start = System.nanoTime()
    (0 until nOps).foreach { _ =>
      val op = stream.next()
      val id = opIds.incrementAndGet()
      op match {
        case Write =>
          val slot = writeCursor(t)
          val g = gens(t)(slot) + 1
          val salt = writtenSalt(env.seed, t, slot, g)
          fill(salt, 0L, buf, WrittenFileBytes)
          val s = System.nanoTime()
          val ok = try {
            Trace.withOp(id, "write", None) {
              val out = fs.create(writtenPath(t, slot, g), true)
              Trace.span("fs", "fs.write")(out.write(buf, 0, WrittenFileBytes))
              Trace.span("fs", "fs.close")(out.close())
            }
            true
          } catch { case e: java.io.IOException =>
            System.err.println(s"[perfbench] write failed: $e"); false
          }
          val e = System.nanoTime()
          if (ok) {
            gens(t)(slot) = g
            writeCursor(t) = (slot + 1) % SlotsPerThread
            if (g >= KeepGenerations) fs.delete(writtenPath(t, slot, g - KeepGenerations), false)
          }
          res.ops += OpRec(id, "write", s, e, ok)
          res.writeMs += (e - s) / 1e6
          res.userBytes += WrittenFileBytes
        case rd =>
          val (path, salt, off, len0, fileLen) = rd match {
            case Read(f, off, len) =>
              (basePath(f), baseSalt(env.seed, f), off, len, BaseFileBytes.toLong)
            case ReadRecent(back, off, len) =>
              val slot = (writeCursor(t) - 1 - back + 2 * SlotsPerThread) % SlotsPerThread
              val g = gens(t)(slot)
              if (g < 0) (basePath(0), baseSalt(env.seed, 0), off, len, BaseFileBytes.toLong)
              else (writtenPath(t, slot, g), writtenSalt(env.seed, t, slot, g), off, len,
                WrittenFileBytes.toLong)
            case Write => throw new IllegalStateException
          }
          val len = math.min(len0.toLong, fileLen - off).toInt
          val s = System.nanoTime()
          var p0, p1 = 0L
          val ok = try {
            Trace.withOp(id, "read", None) {
              val in = fs.open(path)
              try {
                p0 = System.nanoTime()
                Trace.span("fs", "fs.pread")(in.readFully(off, buf, 0, len))
                p1 = System.nanoTime()
              } finally in.close()
            }
            true
          } catch { case e: java.io.IOException =>
            System.err.println(s"[perfbench] read failed: $e"); false
          }
          val e = System.nanoTime()
          val checked = ok && {
            fill(salt, off, expect, len)
            java.util.Arrays.equals(buf, 0, len, expect, 0, len)
          }
          res.ops += OpRec(id, "read", s, e, checked)
          res.readMs += (e - s) / 1e6
          if (ok) res.preadMs += (p1 - p0) / 1e6
      }
    }
    res.wallNs = System.nanoTime() - start
  }

  /** Runs `nOps` ops on each client thread; returns the clients' results. */
  private def runPhase(nOps: Int): Seq[Result] = {
    phase += 1
    val results = Seq.fill(Threads)(new Result)
    val threads = (0 until Threads).map { t =>
      val stream = new OpStream(env.seed, t, phase, cdf, pagePerm)
      val th = new Thread(() => client(t, stream, nOps, results(t)), s"fs-zipf-client-$t")
      th.start()
      th
    }
    threads.foreach(_.join())
    results
  }

  def measure(traced: Boolean): Phase = {
    val before = FsLayer.snap("graft://local/")
    val results = runPhase(opsPerClient)
    val after = FsLayer.snap("graft://local/")
    val ops = results.flatMap(_.ops)
    val m = new Metrics
    if (traced) {
      m("read_ms_p99", "ms", Stats.pct(results.flatMap(_.readMs), 99))
      m("write_ms_p50", "ms", Stats.pct(results.flatMap(_.writeMs), 50))
      m("write_amp", "ratio", FsLayer.writeAmp(before, after, PageSize,
        results.map(_.userBytes).sum.toDouble))
      m ++= FsLayer.metrics(env, before, after, ops.size, Trace.all,
        results.flatMap(_.preadMs), results.flatMap(_.writeMs))
    }
    // the clients' rates summed, so a client still running alone after
    // the others finished does not lower the figure
    Phase(ops, results.map(r => Stats.ratio(r.ops.size, r.wallNs / 1e9)).sum, m)
  }

  def close(): Unit = if (fs != null) fs.close()
}
