package perfbench

import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.util.Random

/** `olap-read`: one closed-loop client runs read-side queries from
  * `graft.SparkEntry.queries` over `graft://`, each pass in a seeded
  * order. Every result is row-hashed against the same query over plain
  * `file://`, computed once during setup. The data fits the memory tier
  * and the cache is warm before timing. */
object OlapRead {
  /** Relational and SQL, text, dedup, similarity, sketches, events. */
  val Queries: Seq[String] = Seq(
    "q01_scan_parquet", "q05_filter", "q06_join_inner", "q11_agg_pricing",
    "q71_sql_tpch_q3", "q48_langid", "q41_minhash_lsh", "q45_knn_brute",
    "q46_ann_lsh", "q54_source_sketch", "q93_kll_quantiles", "q52_sessionize")
  val Exact = "q45_knn_brute"
  val Approx: Seq[String] = Seq("q46_ann_lsh")

  /** Queries whose declared output is only partly deterministic: the
    * columns the check compares (KLL compaction is randomized, so q93's
    * quantile values may differ between runs; its groups and counts may
    * not). */
  val CheckedColumns: Map[String, Seq[Int]] = Map("q93_kll_quantiles" -> Seq(0, 1))

  def checked(q: String, rows: Array[Row]): Array[Row] = CheckedColumns.get(q) match {
    case Some(cols) => rows.map(r => Row.fromSeq(cols.map(r.get)))
    case None => rows
  }

  /** Queries per second of `--seconds`: a run times `--seconds` times
    * this many queries, at least one pass, the same ops on any host. At
    * 20 s that is 48 queries, four passes (about 15 s on a 4-core host),
    * so the 75th percentile has twelve samples beyond it. */
  val OpsPerSecond = 2.4

  /** The query order of one pass. */
  def passOrder(seed: Long, pass: Int): Seq[String] =
    new Random(seed * 7919L + pass).shuffle(Queries)

  /** The `n` queries of a phase: whole passes, then the first queries of
    * [[Queries]] in a seeded order, so every seed runs the same queries. */
  def sequence(seed: Long, n: Int): Seq[String] = {
    val passes = n / Queries.size
    (0 until passes).flatMap(passOrder(seed, _)) ++
      new Random(seed * 7919L + passes).shuffle(Queries.take(n % Queries.size))
  }
}

final class OlapRead(env: Env) extends Workload {
  import OlapRead._

  val MemTier: Long = 256L << 20
  val DiskTier: Long = 1L << 30
  val WriteCache: Long = 1L << 30
  val PageSize: Long = 1L << 20
  val IoBuffer: Long = 4L << 20

  private val fsConf = env.fsConf(MemTier, DiskTier, WriteCache, PageSize, IoBuffer)
  private val local = env.dir("data")
  private val graftDir = env.uri(local)
  private var spark: SparkSession = _
  private val listener = new JobListener
  private val reference = mutable.Map[String, Signature]()
  private var exactTop: Map[Long, Set[Long]] = Map.empty
  private var opId = 0L

  /** Wrong-result injection for the self-test: the query whose checked
    * rows get one value changed. */
  var corruptQuery: Option[String] = None

  private def run(q: String, dir: String): Array[Row] =
    graft.SparkEntry.queries(q)(spark, dir).limit(2000000).collect()

  def setup(): Unit = {
    spark = env.spark(fsConf)
    spark.sparkContext.addSparkListener(listener)
    DataGen.write(spark, local.getAbsolutePath, env.seed, env.cores)
    // reference results over plain file://, several queries at a time
    // (also the JIT warm-up)
    val refs = Parallel.map(Queries, env.cores)(q => q -> run(q, local.getAbsolutePath))
    refs.foreach { case (q, rows) =>
      reference(q) = Signature.of(checked(q, rows))
      if (q == Exact) exactTop = topK(rows)
    }
    spark.catalog.clearCache()
    // warm the page cache and metadata cache through graft://
    val fs = new org.apache.hadoop.fs.Path(graftDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def warm(p: org.apache.hadoop.fs.Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) warm(st.getPath)
      else {
        val in = fs.open(st.getPath)
        try in.readFully(0L, new Array[Byte](st.getLen.toInt)) finally in.close()
      }
    }
    warm(new org.apache.hadoop.fs.Path(graftDir))
  }

  /** qid -> the neighbour ids of a (qid, rn, nid, sim) top-k result. */
  private def topK(rows: Array[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }

  private def recall(rows: Array[Row]): Double = {
    val got = topK(rows)
    val per = exactTop.toSeq.map { case (q, exact) =>
      got.getOrElse(q, Set.empty).intersect(exact).size.toDouble / exact.size
    }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }

  def measure(traced: Boolean): Phase = {
    val sc = spark.sparkContext
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    listener.clear()
    val before = FsLayer.snap("graft://local/")
    val ops = mutable.ArrayBuffer[OpRec]()
    val recalls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    sequence(env.seed, env.opCount(OpsPerSecond, Queries.size)).foreach { q =>
      opId += 1
      val id = opId
      var rows: Array[Row] = null
      val s = System.nanoTime()
      val ok = try {
        Trace.withOp(id, q, Some(sc)) { rows = run(q, graftDir) }
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e"); false
      }
      val e = System.nanoTime()
      spark.catalog.clearCache()
      val right = ok && {
        val rs = if (corruptQuery.contains(q)) Signature.corrupt(rows) else rows
        Signature.of(checked(q, rs)) == reference(q)
      }
      System.err.println(f"[perfbench] $q ${(e - s) / 1e6}%.1f ms ok=$right")
      if (ok && !right) System.err.println(s"[perfbench] $q: wrong result")
      if (ok && Approx.contains(q))
        recalls.getOrElseUpdate(q, mutable.ArrayBuffer()) += recall(rows)
      ops += OpRec(id, q, s, e, right)
    }
    val wall = ops.map(o => o.end - o.start).sum
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val after = FsLayer.snap("graft://local/")
    val m = new Metrics
    val recallOf = Approx.map(q => q -> recalls.get(q).map(r => r.sum / r.size).getOrElse(0.0))
    m("recall_min", "ratio", recallOf.map(_._2).min)
    if (traced) {
      m ++= FsLayer.metrics(env, before, after, ops.size, Trace.all, Nil, Nil)
      m ++= SparkLayer.metrics(listener, ops.toSeq)
      Queries.foreach(q =>
        m(s"operators.query_ms_p50.$q", "ms", Stats.pct(ops.filter(_.kind == q).map(_.ms).toSeq, 50)))
      recallOf.foreach { case (q, r) => m(s"operators.recall_at_5.$q", "ratio", r) }
    }
    Phase(ops.toSeq, Stats.ratio(ops.size, wall / 1e9), m)
  }

  def close(): Unit = if (spark != null) spark.stop()
}

/** Order-insensitive fingerprint of a result: row count plus the sum of
  * 64-bit row hashes. Doubles are compared at 9 significant digits, so
  * a different summation order cannot flip a check. */
final case class Signature(rows: Long, hash: Long)

object Signature {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.8e"
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case o => o.toString
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
  }

  def of(rows: Array[Row]): Signature = Signature(rows.length, rows.map(rowHash).sum)

  /** The rows with one field of the first row replaced (self-test). */
  def corrupt(rows: Array[Row]): Array[Row] =
    if (rows.isEmpty) Array(Row("injected"))
    else Row.fromSeq("injected" +: rows.head.toSeq.drop(1)) +: rows.drop(1)
}
