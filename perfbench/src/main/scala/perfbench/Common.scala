package perfbench

import java.io.File
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed benchmark operation. */
final case class OpRec(id: Long, kind: String, start: Long, end: Long,
    ok: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** Ordered metric name -> (value, unit). */
final class Metrics {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def apply(name: String, unit: String, v: Double): Unit =
    values(name) = (if (v.isNaN || v.isInfinite) 0.0 else v, unit)
  def ++=(o: Metrics): Unit = values ++= o.values
}

object Stats {
  /** Percentile with linear interpolation between order statistics
    * (0 when there are no samples). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** The highest of p99, p90, p75 and p50 that has at least ten of `n`
    * samples beyond it (p50 below 20 samples). */
  def tailPct(n: Int): Double =
    Seq(99.0, 90.0, 75.0).find(p => n * (100 - p) / 100 >= 10).getOrElse(50.0)

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Peak resident set size of this process, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Settings shared by every workload of one run. */
final case class Env(workload: String, seed: Long, seconds: Int,
    trace: Boolean, workdir: File, cores: Int, firstByteMs: Double,
    msPerMiB: Double) {

  def dir(name: String): File = { val d = new File(workdir, name); d.mkdirs(); d }

  /** Ops a timed phase runs: `--seconds` times `perSecond`, and at least
    * `min`. A fixed count, so a slower or faster host changes the run's
    * length, never which ops it times. */
  def opCount(perSecond: Double, min: Int): Int =
    math.max(min, math.round(seconds * perSecond).toInt)

  /** `graft://` URI of a local path: read and written through the
    * caching filesystem, whose remote is [[LatencyRemoteFs]]. */
  def uri(local: File): String = s"graft://local${local.getAbsolutePath}"

  /** The caching filesystem's settings for a workload. */
  def fsConf(memBytes: Long, diskBytes: Long, writeCacheBytes: Long,
      pageSize: Long, ioBuffer: Long): Seq[(String, String)] = Seq(
    "fs.graft.impl" -> classOf[TimedGraftFs].getName,
    "graft.fs.remote.impl" -> classOf[LatencyRemoteFs].getName,
    "graft.fs.remote.uri" -> "file:///",
    "graft.fs.disk.cache.dir" -> dir("cache/pages").getAbsolutePath,
    "graft.fs.write.cache.dir" -> dir("cache/wc").getAbsolutePath,
    "graft.fs.memory.cache.size" -> memBytes.toString,
    "graft.fs.disk.cache.size" -> diskBytes.toString,
    "graft.fs.write.cache.size" -> writeCacheBytes.toString,
    "graft.fs.data.page.size" -> pageSize.toString,
    "graft.fs.io.buffer.size" -> ioBuffer.toString)

  def hadoopConf(fs: Seq[(String, String)]): Configuration = {
    val c = new Configuration()
    fs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** A local Spark session on `cores` threads with the graft extensions,
    * keeping every file it writes under the run's work directory. */
  def spark(fs: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", dir("warehouse").getAbsolutePath)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // room for every generated class of a workload's op mix: with the
      // default 100 entries a repeating mix evicts and recompiles its own
      // code, which cost up to a second per query, at places that moved
      // with the op order
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    fs.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def configureRemote(): Unit = {
    LatencyRemoteFs.firstByteNanos = (firstByteMs * 1e6).toLong
    LatencyRemoteFs.nanosPerMiB = (msPerMiB * 1e6).toLong
  }
}

/** What one timed phase produced. */
final case class Phase(ops: Seq[OpRec], opsPerS: Double, metrics: Metrics)

trait Workload {
  /** Everything before the first timed op: data, session, warm-up. */
  def setup(): Unit
  /** Runs the timed ops, a fixed count per run ([[Env.opCount]]). The
    * phase's metrics are the workload's per-layer ones when `traced`. */
  def measure(traced: Boolean): Phase
  def close(): Unit
}

/** Per-layer metrics of the `graft.fs` layer over one phase. */
object FsLayer {
  final case class Snap(stats: Map[String, Long], remote: Map[String, Long])

  /** The caching filesystem's statistics and the remote's counters.
    * Fails when no caching filesystem serves `uri` yet. */
  def snap(uri: String): Snap = Snap(
    graft.fs.GraftCachingFileSystem.instanceFor(uri).map(_.stats.snapshot)
      .getOrElse(throw new IllegalStateException(s"no caching filesystem for $uri")),
    LatencyRemoteFs.snapshot())

  /** `b` minus `a` of counter `k`; a counter missing from either side is
    * an error, never 0. */
  private def delta(a: Map[String, Long], b: Map[String, Long], k: String): Double = {
    def get(m: Map[String, Long]) = m.getOrElse(k,
      throw new NoSuchElementException(s"no counter $k in ${m.keys.toSeq.sorted.mkString(", ")}"))
    (get(b) - get(a)).toDouble
  }

  def metrics(env: Env, a: Snap, b: Snap, nOps: Int, spans: Seq[Trace.Span],
      preadMs: Seq[Double], createCloseMs: Seq[Double]): Metrics = {
    def s(k: String) = delta(a.stats, b.stats, k)
    def r(k: String) = delta(a.remote, b.remote, k)
    def perOp(v: Double) = Stats.ratio(v, nOps)
    def spanMs(name: String) = spans.filter(_.name == name).map(x => (x.end - x.start) / 1e6)
    val m = new Metrics
    val read = s("bytesRead")
    m("fs.page_cache_hit_ratio", "ratio", Stats.ratio(s("bytesFromPageCache"), read))
    m("fs.prefetch_hit_ratio", "ratio", Stats.ratio(s("bytesFromPrefetch"), read))
    m("fs.write_cache_hit_ratio", "ratio", Stats.ratio(s("bytesFromWriteCache"), read))
    m("fs.read_amp", "ratio", Stats.ratio(r("pread.bytes"), s("bytesFromRemote")))
    m("fs.remote_read_calls", "count/op", perOp(r("pread.calls")))
    m("fs.remote_read_bytes", "B/op", perOp(r("pread.bytes")))
    m("fs.remote_read_wait_ms", "ms/op", perOp((r("pread.wait_ns") + r("open.wait_ns")) / 1e6))
    m("fs.pread_ms_p50", "ms", Stats.pct(preadMs, 50))
    m("fs.pread_ms_p99", "ms", Stats.pct(preadMs, 99))
    m("fs.open_ms_p50", "ms", Stats.pct(spanMs("fs.open"), 50))
    m("fs.pages_put", "count/op", perOp(s("pagesPut")))
    m("fs.pages_rejected_scan", "count/op", perOp(s("pagesRejectedScan")))
    m("fs.pages_evicted_to_disk", "count/op", perOp(s("pagesEvictedToDisk")))
    m("fs.create_close_ms_p50", "ms", Stats.pct(createCloseMs, 50))
    m("fs.remote_write_bytes", "B/op", perOp(r("write.bytes")))
    m("fs.write_cache_bytes", "B", Stats.dirBytes(new File(env.workdir, "cache/wc")).toDouble)
    m("fs.files_evicted", "count/op", perOp(s("filesEvicted")))
    m("fs.cache_disk_bytes", "B", Stats.dirBytes(new File(env.workdir, "cache/pages")).toDouble)
    m("fs.meta_hit_ratio", "ratio", Stats.ratio(s("metaHits"), s("metaHits") + s("metaMisses")))
    m("fs.remote_meta_calls", "count/op", perOp(r("getFileStatus.calls")))
    m("fs.remote_rename_calls", "count/op", perOp(r("rename.calls")))
    m("fs.remote_list_calls", "count/op", perOp(r("list.calls")))
    m("fs.rename_ms_p50", "ms", Stats.pct(spanMs("fs.rename"), 50))
    m
  }

  /** Bytes written to the remote, the write cache and the page cache's
    * disk tier over a phase, divided by `userBytes`. */
  def writeAmp(a: Snap, b: Snap, pageSize: Long, userBytes: Double): Double = {
    def s(k: String) = delta(a.stats, b.stats, k)
    val remote = delta(a.remote, b.remote, "write.bytes")
    Stats.ratio(remote + s("bytesWritten") + s("pagesEvictedToDisk") * pageSize, userBytes)
  }
}

/** Per-layer metrics of Spark execution (operators, functions, plans)
  * over one phase, averaged per op. */
object SparkLayer {
  def metrics(listener: JobListener, ops: Seq[OpRec]): Metrics = {
    val m = new Metrics
    val n = ops.size.toDouble
    val per = ops.flatMap(o => listener.forOp(o.id).map(o -> _))
    def sum(f: listener.OpJobs => Double) = per.map { case (_, j) => f(j) }.sum
    val busyNs = per.map { case (_, j) => Trace.unionLength(j.intervals.toSeq).toDouble }.sum
    val opNs = ops.map(o => (o.end - o.start).toDouble).sum
    m("operators.jobs_per_op", "count/op", Stats.ratio(sum(_.jobs.toDouble), n))
    m("operators.stages_per_op", "count/op", Stats.ratio(sum(_.stages.toDouble), n))
    m("operators.tasks_per_op", "count/op", Stats.ratio(sum(_.tasks.toDouble), n))
    m("operators.job_busy_ms_per_op", "ms/op", Stats.ratio(busyNs / 1e6, n))
    m("operators.driver_gap_ms_per_op", "ms/op", Stats.ratio(math.max(0, opNs - busyNs) / 1e6, n))
    m("operators.task_cpu_ms_per_op", "ms/op", Stats.ratio(sum(_.cpuNanos / 1e6), n))
    m("operators.gc_ms_per_op", "ms/op", Stats.ratio(sum(_.gcMillis.toDouble), n))
    m("operators.input_bytes_per_op", "B/op", Stats.ratio(sum(_.inputBytes.toDouble), n))
    m("operators.shuffle_write_bytes_per_op", "B/op", Stats.ratio(sum(_.shuffleWriteBytes.toDouble), n))
    m
  }
}
