package perfbench

/** Checks that one seed yields one op sequence: every generator the
  * workloads draw their inputs and ops from is run twice per seed and
  * compared. Exits non-zero on a difference. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val seeds = Seq(1L, 2L, 12345L)
    val ok = seeds.forall { seed =>
      def zipf() = {
        val n = FsZipf.BaseFiles * (FsZipf.BaseFileBytes / FsZipf.PageSize.toInt)
        val cdf = FsZipf.zipfCdf(n, FsZipf.Alpha)
        val perm = new scala.util.Random(seed).shuffle((0 until n).toVector).toArray
        (0 until FsZipf.Threads).map { t =>
          val s = new FsZipf.OpStream(seed, t, 1, cdf, perm)
          Seq.fill(2000)(s.next())
        }
      }
      def table() = (0 until 5).map(c => TableCommit.plan(seed, c))
      def olap() = OlapRead.sequence(seed, 50)
      def data() = DataGen.tables(seed).map { case (n, rows) => n -> rows.map(_.toString) }
      val same = zipf() == zipf() && table() == table() && olap() == olap() && data() == data()
      val differs = zipf() != {
        val n = FsZipf.BaseFiles * (FsZipf.BaseFileBytes / FsZipf.PageSize.toInt)
        val cdf = FsZipf.zipfCdf(n, FsZipf.Alpha)
        val perm = new scala.util.Random(seed + 1).shuffle((0 until n).toVector).toArray
        (0 until FsZipf.Threads).map { t =>
          val s = new FsZipf.OpStream(seed + 1, t, 1, cdf, perm)
          Seq.fill(2000)(s.next())
        }
      }
      println(s"seed $seed: identical twice = $same, differs from seed ${seed + 1} = $differs")
      same && differs
    }
    sys.exit(if (ok) 0 else 1)
  }
}
