package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark/JVM counters over one traced section. */
final case class Counters(wallS: Double, jobs: Long, tasks: Long,
    jobWallS: Double, taskRunS: Double,
    shuffleWriteMb: Double, spillMb: Double, gcS: Double) {
  def coreBusy(cores: Int): Double =
    if (wallS > 0) taskRunS / (wallS * cores) else 0.0
}

/** Listener that counts jobs, tasks and task metrics. It is registered only
  * around a traced section, so untraced passes run without it.
  */
final class Ledger extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val jobWallMs = new AtomicLong
  private val runMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, e.time)
    jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach(s => jobWallMs.addAndGet(e.time - s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def counters(wallS: Double, gcS: Double): Counters = Counters(wallS,
    jobs.get, tasks.get, jobWallMs.get / 1e3, runMs.get / 1e3,
    shuffleWrite.get / 1e6, spill.get / 1e6, gcS)
}

object Ledger {
  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `f` with a fresh [[Ledger]] attached. The listener bus is drained
    * before the counters are read, so the section's last task events count.
    */
  def traced[A](spark: SparkSession)(f: => A): (A, Counters) = {
    val sc = spark.sparkContext
    org.apache.spark.PerfBenchBus.drain(sc)
    val l = new Ledger
    sc.addSparkListener(l)
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    try {
      val a = f
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMillis() - gc0) / 1e3
      org.apache.spark.PerfBenchBus.drain(sc)
      (a, l.counters(wall, gc))
    } finally sc.removeSparkListener(l)
  }
}
