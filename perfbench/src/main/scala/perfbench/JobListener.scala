package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Attributes Spark jobs, and the stages and tasks under them, to the
  * benchmark op that scheduled them (through the op's job group). */
final class JobListener extends SparkListener {

  final class OpJobs {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNanos = 0L
    var gcMillis = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  // epoch millis -> System.nanoTime domain, so job spans line up with
  // the benchmark's own spans
  private val nanoOffset =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(epochMs: Long): Long = epochMs * 1000000L + nanoOffset

  private val perOp = new ConcurrentHashMap[Long, OpJobs]()
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toLong).getOrElse(0L)

  private def stats(op: Long): OpJobs = perOp.computeIfAbsent(op, _ => new OpJobs)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobOp.put(e.jobId, op)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageOp.put(s, op))
    val st = stats(op)
    st.synchronized { st.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = Option(jobOp.remove(e.jobId)).map(_.longValue).getOrElse(0L)
    val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    val (s, en) = (toNanos(t0), toNanos(e.time))
    val st = stats(op)
    st.synchronized { st.intervals += ((s, en)) }
    Trace.job(op, e.jobId, s, en)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = Option(stageOp.remove(info.stageId)).map(_.longValue).getOrElse(0L)
    val st = stats(op)
    val m = info.taskMetrics
    st.synchronized {
      st.stages += 1
      st.tasks += info.numTasks
      if (m != null) {
        st.cpuNanos += m.executorCpuTime
        st.gcMillis += m.jvmGCTime
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def forOp(op: Long): Option[OpJobs] = Option(perOp.get(op))
  def clear(): Unit = perOp.clear()
}
