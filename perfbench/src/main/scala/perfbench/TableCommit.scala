package perfbench

import java.io.File
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.util.Random

/** `table-commit`: one closed-loop client runs a seeded, fixed cycle of
  * commits on a `GraftTable` over `graft://` (append, MoR merge, COW
  * merge, MoR delete, COW update, then compaction and vacuum),
  * interleaved with snapshot reads, a prune plus pruned read, and
  * `history()`. Every read is checked against an in-benchmark model of
  * the table: row count, key sum and value sum. */
object TableCommit {
  val Kinds: Seq[String] = Seq("append", "merge_mor", "merge_cow",
    "delete_mor", "update_cow", "compaction")

  val Cycle: Seq[String] = Seq("append", "read", "merge_mor", "prune",
    "merge_cow", "read", "delete_mor", "history", "update_cow", "read",
    "compaction", "vacuum")

  /** Ops per second of `--seconds`: a run times `--seconds` times this
    * many ops, at least one cycle, the same ops on any host. At 20 s that
    * is 40 ops (three cycles and the start of a fourth, about 25 s on a
    * 4-core host), so the 75th percentile has ten samples beyond it. */
  val OpsPerSecond = 2.0

  val BatchRows = 200
  val InitialParts = 4
  val CompactTargetBytes: Long = 1L << 20

  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("c", LongType, nullable = false)))

  /** The ops of one cycle of a seed: (kind, lo, hi, residue) per op,
    * with key ranges as fractions of the key space. */
  def plan(seed: Long, cycle: Int): Seq[(String, Double, Double, Int)] = {
    val r = new Random(seed * 104729L + cycle)
    Cycle.map { kind =>
      val lo = r.nextDouble() * 0.95
      (kind, lo, lo + 0.02 + r.nextDouble() * 0.03, r.nextInt(3))
    }
  }
}

final class TableCommit(env: Env) extends Workload {
  import TableCommit._

  private val fsConf = env.fsConf(256L << 20, 1L << 30, 1L << 30, 1L << 20, 4L << 20)
  private val root = env.dir("table")
  private var spark: SparkSession = _
  private var table: GraftTable = _
  private val listener = new JobListener
  private var v = 1
  private var opId = 0L
  /** Ops run so far, warm-up included: op `step` is op
    * `step % Cycle.size` of cycle `step / Cycle.size`. */
  private var step = 0

  // the model: key -> value, and the key space handed out so far
  private val model = mutable.LongMap[Long]()
  private var nextKey = 0L
  private var rnd: Random = _

  /** Self-test hook: the model is off by one row, so the first checked
    * read must fail. */
  var corruptModel = false

  def setup(): Unit = {
    spark = env.spark(fsConf)
    spark.sparkContext.addSparkListener(listener)
    val orders = DataGen.tables(env.seed).find(_._1 == "orders").get._2
    val rows = orders.map { r =>
      val k = r.getLong(0)
      val value = math.round(r.getDouble(3) * 100)
      model(k) = value
      Row(k, value, r.getLong(1))
    }
    nextKey = rows.size.toLong
    rnd = new Random(env.seed)
    table = GraftTable(spark, env.uri(new File(root, "data")),
      env.uri(new File(root, "man")), "k")
    table.create(df(rows), InitialParts)
    if (corruptModel) model.remove(model.keys.head)
    // warm-up: one untimed cycle
    runOps(Cycle.size, mutable.ArrayBuffer(), mutable.ArrayBuffer(), traced = false)
  }

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)

  private def keyAt(frac: Double): Long = (frac * nextKey).toLong

  /** A merge batch: half updates of live keys, half new keys. */
  private def mergeBatch(): (Seq[Row], Map[Long, Long]) = {
    val upd = mutable.LinkedHashMap[Long, Long]()
    var tries = 0
    while (upd.size < BatchRows / 2 && tries < BatchRows * 20) {
      val k = (rnd.nextDouble() * nextKey).toLong
      model.get(k).foreach(_ => upd(k) = rnd.nextInt(1000000).toLong)
      tries += 1
    }
    (0 until BatchRows / 2).foreach { _ =>
      upd(nextKey) = rnd.nextInt(1000000).toLong; nextKey += 1
    }
    (upd.toSeq.map { case (k, x) => Row(k, x, k % 1000) }, upd.toMap)
  }

  private def check(got: Row, keys: Iterable[Long]): Boolean = {
    val n = keys.size.toLong
    val ks = keys.sum
    val vs = keys.iterator.map(model(_)).sum
    got.getLong(0) == n && (n == 0 || (got.getLong(1) == ks && got.getLong(2) == vs))
  }

  private def agg(d: DataFrame): Row =
    d.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L))).head

  /** Per-op extras for the traced metrics. */
  final class Extra(val kind: String) {
    var pruneMs = 0.0
    var pruneKept = 0.0
    var reclaimed = 0.0
    var added = 0.0
    var removed = 0.0
    var userRows = 0L
  }

  /** Runs the next `n` ops of the seed's cycles. */
  private def runOps(n: Int, ops: mutable.ArrayBuffer[OpRec],
      extras: mutable.ArrayBuffer[Extra], traced: Boolean): Unit = {
    val sc = spark.sparkContext
    (0 until n).foreach { _ =>
      val (kind, loF, hiF, residue) = plan(env.seed, step / Cycle.size)(step % Cycle.size)
      step += 1
      opId += 1
      val id = opId
      val ex = new Extra(kind)
      val (lo, hi) = (keyAt(loF), keyAt(hiF))
      val filesBefore = if (traced && Kinds.contains(kind)) table.files(v).toSet else Set.empty[String]
      var ok = true
      val s = System.nanoTime()
      try Trace.withOp(id, kind, Some(sc)) {
        def call[T](name: String)(body: => T): T = Trace.span("table", s"table.$name")(body)
        kind match {
          case "append" =>
            val rows = (0 until BatchRows).map { _ =>
              val k = nextKey; nextKey += 1
              val x = rnd.nextInt(1000000).toLong
              model(k) = x
              Row(k, x, k % 1000)
            }
            ex.userRows = rows.size
            call("commitAppend")(table.commitAppend(df(rows), v))
            v += 1
          case "merge_mor" | "merge_cow" =>
            val (rows, upd) = mergeBatch()
            ex.userRows = rows.size
            if (kind == "merge_mor") call("commitMergeMor")(table.commitMergeMor(df(rows), v))
            else call("commitMerge")(table.commitMerge(df(rows), v))
            model ++= upd
            v += 1
          case "delete_mor" =>
            val pred = col("k").between(lo, hi) && (col("k") % 3 === residue)
            val n = call("commitDeleteMor")(table.commitDeleteMor(
              Seq(sources.GreaterThanOrEqual("k", lo), sources.LessThanOrEqual("k", hi)),
              pred, v))
            val gone = model.keys.filter(k => k >= lo && k <= hi && k % 3 == residue).toSeq
            gone.foreach(model.remove)
            ok = n == gone.size
            if (n > 0) v += 1
          case "update_cow" =>
            val (kept, _) = call("prune")(table.prune(v, lo, hi))
            val n = call("commitUpdateCow")(table.commitUpdateCow(
              col("k").between(lo, hi) && (col("k") % 5 === residue),
              Map("v" -> (col("v") + 1)), v, Some(kept)))
            val hit = model.keys.filter(k => k >= lo && k <= hi && k % 5 == residue).toSeq
            hit.foreach(k => model(k) = model(k) + 1)
            ex.userRows = hit.size
            ok = n == hit.size
            if (n > 0) v += 1
          case "compaction" =>
            call("commitCompaction")(table.commitCompaction(v, CompactTargetBytes))
            v = call("committedVersions")(table.committedVersions.max)
          case "vacuum" =>
            ex.reclaimed = call("vacuum")(table.vacuum(math.max(1, v - 2), v)).size
          case "read" =>
            ok = check(agg(call("readAsOf")(table.readAsOf(v))), model.keys)
          case "prune" =>
            val p0 = System.nanoTime()
            val (kept, total) = call("prune")(table.prune(v, lo, hi))
            ex.pruneMs = (System.nanoTime() - p0) / 1e6
            ex.pruneKept = Stats.ratio(kept.size, total)
            val got = agg(call("readAsOf")(table.readAsOf(v, kept)).filter(col("k").between(lo, hi)))
            ok = check(got, model.keys.filter(k => k >= lo && k <= hi))
          case "history" =>
            val h = call("history")(table.history().orderBy(col("version").desc).head)
            ok = h.getLong(0) == v && h.getAs[Long]("n_rows") == model.size
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind failed: $e")
          ok = false
      }
      val e = System.nanoTime()
      System.err.println(f"[perfbench] $kind ${(e - s) / 1e6}%.1f ms ok=$ok")
      if (!ok) System.err.println(s"[perfbench] $kind: result differs from the model")
      if (traced && Kinds.contains(kind)) {
        val after = table.files(v).toSet
        ex.added = (after -- filesBefore).size
        ex.removed = (filesBefore -- after).size
      }
      ops += OpRec(id, kind, s, e, ok)
      extras += ex
    }
  }

  def measure(traced: Boolean): Phase = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    listener.clear()
    val before = FsLayer.snap("graft://local/")
    val ops = mutable.ArrayBuffer[OpRec]()
    val extras = mutable.ArrayBuffer[Extra]()
    runOps(env.opCount(OpsPerSecond, Cycle.size), ops, extras, traced)
    val wall = ops.map(o => o.end - o.start).sum
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val after = FsLayer.snap("graft://local/")
    val m = new Metrics
    if (traced) {
      val commits = ops.filter(o => Kinds.contains(o.kind)).toSeq
      val spans = Trace.all
      def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms).toSeq
      def exs(kind: String) = extras.filter(_.kind == kind).toSeq
      def mean(xs: Seq[Double]) = Stats.ratio(xs.sum, xs.size)
      m("commit_ms_p50", "ms", Stats.pct(commits.map(_.ms), 50))
      m("commit_ms_p90", "ms", Stats.pct(commits.map(_.ms), 90))
      val userBytes = 24.0 * extras.map(_.userRows).sum
      m("write_amp", "ratio", FsLayer.writeAmp(before, after, 1L << 20, userBytes))
      val live = table.files(v).map(p => new File(new java.net.URI(p).getPath).length()).sum
      m("space_amp", "ratio", Stats.ratio(Stats.dirBytes(root).toDouble, live.toDouble))
      m ++= FsLayer.metrics(env, before, after, ops.size, spans, Nil, Nil)
      m ++= SparkLayer.metrics(listener, ops.toSeq)
      Kinds.foreach { k =>
        m(s"table.commit_ms_p50.$k", "ms", Stats.pct(ms(k), 50))
        m(s"table.jobs_per_commit.$k", "count", mean(ops.filter(_.kind == k).toSeq
          .map(o => listener.forOp(o.id).map(_.jobs.toDouble).getOrElse(0.0))))
      }
      val driverMs = commits.map { o =>
        val busy = listener.forOp(o.id).map(j => Trace.unionLength(j.intervals.toSeq)).getOrElse(0L)
        math.max(0L, (o.end - o.start) - busy) / 1e6
      }
      m("table.driver_ms_per_commit", "ms", mean(driverMs))
      val remoteByOp = spans.filter(_.layer == "remote").groupBy(_.op).map { case (k, x) => k -> x.size }
      m("table.remote_calls_per_commit", "count",
        mean(commits.map(o => remoteByOp.getOrElse(o.id, 0).toDouble)))
      val commitExtras = extras.filter(x => Kinds.contains(x.kind)).toSeq
      m("table.files_added_per_commit", "count", mean(commitExtras.map(_.added)))
      m("table.files_removed_per_commit", "count", mean(commitExtras.map(_.removed)))
      m("table.live_files", "count", table.files(v).size)
      m("table.manifest_bytes", "B", Stats.dirBytes(new File(root, "man")).toDouble)
      m("table.snapshot_read_ms_p50", "ms", Stats.pct(ms("read"), 50))
      m("table.prune_ms_p50", "ms", Stats.pct(exs("prune").map(_.pruneMs), 50))
      m("table.prune_kept_ratio", "ratio", mean(exs("prune").map(_.pruneKept)))
      m("table.history_ms_p50", "ms", Stats.pct(ms("history"), 50))
      m("table.vacuum_ms_p50", "ms", Stats.pct(ms("vacuum"), 50))
      m("table.vacuum_files_reclaimed", "count", mean(exs("vacuum").map(_.reclaimed)))
    }
    Phase(ops.toSeq, Stats.ratio(ops.size, wall / 1e9), m)
  }

  def close(): Unit = if (spark != null) spark.stop()
}
