package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.Random

/** Seeded synthetic tables in the layout `graft.Tables` loads: one
  * parquet directory per table, TPC-H-like star schema plus the events,
  * documents and embeddings tables, with the value ranges of the
  * project's reference data. The same seed gives the same rows.
  *
  * The fact tables are [[Scale]] times 15,000 orders and about 60,000
  * lineitem rows: 3,750 orders and about 15,000 lineitem rows, 0.6 MB of
  * parquet in all.
  */
object DataGen {

  /** Size of the generated data, as a multiple of the base sizes. */
  val Scale = 0.25

  val Vocab: IndexedSeq[String] = ("a agg batch big column customer data " +
    "fast filter group hash join key line merge order part query row scan " +
    "slow small sort spark stream table the value vector window").split(" ").toIndexedSeq

  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
    "SMALL", "STANDARD")
  private val Colors = IndexedSeq("red", "blue", "green", "black", "white",
    "small", "large", "shiny")
  private val Nouns = IndexedSeq("ring", "widget", "bolt", "gear", "pipe",
    "valve", "spring", "panel")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("click", "error", "purchase", "signup",
    "view")
  private val Langs = IndexedSeq("de", "es", "fr", "zh")

  private def r2(d: Double): Double = math.round(d * 100) / 100.0
  private def day(base: Timestamp, days: Int): Timestamp =
    new Timestamp(base.getTime + days * 86400000L)

  /** Rows of every table. */
  def tables(seed: Long): Seq[(String, Seq[Row])] = {
    def rng(salt: Int) = new Random(seed * 1000003L + salt)
    val nCust = math.max(10, (1500 * Scale).toInt)
    val nSupp = math.max(10, (100 * Scale).toInt)
    val nPart = math.max(10, (2000 * Scale).toInt)
    val nOrd = math.max(10, (15000 * Scale).toInt)
    val nEv = math.max(100, (10000 * Scale).toInt)
    val nDoc = math.max(50, (500 * Scale).toInt)
    val nVec = 500 // q46d indexes vec_id < 450 and appends the rest

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = { val r = rng(1); (0 until nCust).map(i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        r2(-999 + r.nextDouble() * 10998), Segments(r.nextInt(5)))) }
    val supplier = { val r = rng(2); (0 until nSupp).map(i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        r2(-999 + r.nextDouble() * 10998))) }
    val part = { val r = rng(3); (0 until nPart).map(i =>
      Row(i.toLong, s"${Colors(r.nextInt(8))} ${Nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(6)), 1 + r.nextInt(50),
        r2(900 + (i % 2000) / 10.0))) }
    val d0 = Timestamp.valueOf("1995-01-01 00:00:00")
    val orderDays = { val r = rng(4); Array.fill(nOrd)(r.nextInt(2404)) }
    val orders = { val r = rng(5); (0 until nOrd).map(i =>
      Row(i.toLong, r.nextInt(nCust).toLong, "FOP".charAt(r.nextInt(3)).toString,
        r2(1000 + r.nextDouble() * 499000), day(d0, orderDays(i)),
        Priorities(r.nextInt(5)))) }
    val lineitem = { val r = rng(6); (0 until nOrd).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, q,
          r2(q * (900 + r.nextDouble() * 2100)), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
          "OF".charAt(r.nextInt(2)).toString,
          day(d0, orderDays(o) + 1 + r.nextInt(121)))
      } } }
    val events = { val r = rng(7)
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
      val span = 30L * 86400L * 1000000L
      val ts = Array.fill(nEv)((r.nextDouble() * span).toLong).sorted
      val nUsers = math.max(10, nCust / 10)
      (0 until nEv).map { i =>
        val t = new Timestamp((t0 + ts(i)) / 1000L)
        t.setNanos(((t0 + ts(i)) % 1000000L).toInt * 1000)
        Row(i.toLong, t, r.nextInt(nUsers).toLong, EventTypes(r.nextInt(5)),
          r2(r.nextDouble() * 500), s"""{"k": ${r.nextInt(100)}}""")
      } }
    val documents = { val r = rng(8)
      val texts = new Array[String](nDoc)
      (0 until nDoc).map { i =>
        // one document in twenty is a near-duplicate of an earlier one
        texts(i) =
          if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
        val lang = if (r.nextInt(100) < 42) "en" else Langs(r.nextInt(4))
        Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
      } }
    val embeddings = { val r = rng(9)
      val centers = Array.fill(10, 64)(r.nextGaussian() * 0.14 / 8)
      (0 until nVec).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(d => centers(label)(d) + r.nextGaussian() * 0.125)
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      } }
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Writes every table under `dir` (a local path), one parquet
    * directory per table with a single file, `threads` tables at a time. */
  def write(spark: SparkSession, dir: String, seed: Long, threads: Int): Unit =
    Parallel.map(tables(seed), threads) { case (name, rows) =>
      val schema: StructType = graft.Tables.schemas(name)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

object Parallel {
  /** `f` over `xs` on a pool of `threads` threads, results in order. */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val fs = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      fs.map(_.get())
    } finally pool.shutdown()
  }
}
