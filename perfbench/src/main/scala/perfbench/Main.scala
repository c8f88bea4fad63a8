package perfbench

import java.io.File

/** The benchmark's JVM entry point; `run.py` builds and launches it.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --workdir <dir> --cores <n> --first-byte-ms <ms> --ms-per-mib <ms>
  *     --spawn-epoch <unix seconds> [--inject 0|1]
  * }}}
  *
  * Prints one JSON object as its last stdout line: `correct`,
  * `attempted`, `failed` and `metrics` (the end-to-end metrics, or with
  * `--trace 1` the per-layer metrics of the layers the workload
  * exercises; `run.py` checks them against `BENCHMARK.json`).
  */
object Main {

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def env(a: Map[String, String]): Env = Env(
    workload = a("workload"),
    seed = a("seed").toLong,
    seconds = a("seconds").toInt,
    trace = a.getOrElse("trace", "0") == "1",
    workdir = new File(a("workdir")).getAbsoluteFile,
    cores = a.getOrElse("cores", "4").toInt,
    firstByteMs = a("first-byte-ms").toDouble,
    msPerMiB = a("ms-per-mib").toDouble)

  /** The workload to run; with `inject` its output check is fed one
    * wrong result (a corrupt remote page, a changed row, an off-by-one
    * model), which the self-test expects to see counted as failed. */
  def workload(e: Env, inject: Boolean): Workload = e.workload match {
    case "olap-read" =>
      val w = new OlapRead(e)
      if (inject) w.corruptQuery = Some("q05_filter")
      w
    case "fs-zipf" =>
      val w = new FsZipf(e)
      w.corruptHottestPage = inject
      w
    case "table-commit" =>
      val w = new TableCommit(e)
      w.corruptModel = inject
      w
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def json(correct: Boolean, attempted: Long, failed: Long, m: Metrics): String = {
    val ms = m.values.map { case (k, (v, u)) =>
      s""""$k": {"value": ${BigDecimal(v).round(new java.math.MathContext(12)).toDouble}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Runs one workload as configured and returns its result line. */
  def runOnce(e: Env, spawnEpoch: Double, w: Workload): String = {
    e.configureRemote()
    try {
      w.setup()
      val setupS = System.currentTimeMillis() / 1000.0 - spawnEpoch
      val plain = w.measure(traced = false)
      val m = new Metrics
      val phase = if (!e.trace) {
        val ms = plain.ops.map(_.ms)
        val tail = Stats.tailPct(ms.size)
        m("setup_s", "s", setupS)
        m("ops_per_s", "1/s", plain.opsPerS)
        m("op_ms_p50", "ms", Stats.pct(ms, 50))
        m("op_ms_tail", "ms", Stats.pct(ms, tail))
        m("peak_rss_mb", "MB", Stats.peakRssMb())
        val deciles = (10 to 90 by 10).map(p => f"${Stats.pct(ms, p)}%.2f").mkString(" ")
        System.err.println(s"[perfbench] ${e.workload}: ${plain.ops.size} op samples, " +
          f"op_ms_tail is p$tail%.0f, op ms deciles $deciles")
        plain
      } else {
        Trace.clear()
        Trace.enabled = true
        val traced = w.measure(traced = true)
        Trace.enabled = false
        val spans = Trace.all
        val self = Trace.selfTimeByLayer(spans)
        val n = traced.ops.size.toDouble
        traced.metrics.values.foreach { case (k, (v, u)) => m(k, u, v) }
        Seq("op", "table", "spark", "fs", "remote").foreach(l =>
          m(s"trace.self_ms_per_op.$l", "ms/op", Stats.ratio(self.getOrElse(l, 0L) / 1e6, n)))
        m("trace.spans_per_op", "count/op", Stats.ratio(spans.size, n))
        // against the untraced phase before it: warm-up that continues
        // into the traced phase reads as less overhead
        m("trace.overhead_frac", "ratio", 1.0 - Stats.ratio(traced.opsPerS, plain.opsPerS))
        m("op_samples", "count", n)
        Trace.write(new File(e.workdir.getParentFile.getParentFile,
          s"traces/${e.workload}-seed${e.seed}.csv"))
        traced
      }
      val failed = phase.ops.count(!_.ok)
      // the workload-specific end-to-end figures ride the traced run
      if (e.trace) m("failed_frac", "ratio", Stats.ratio(failed, phase.ops.size))
      json(failed == 0, phase.ops.size, failed, m)
    } finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val e = env(a)
    val line = runOnce(e, a("spawn-epoch").toDouble,
      workload(e, a.getOrElse("inject", "0") == "1"))
    println(line)
    System.out.flush()
    sys.exit(0)
  }
}
