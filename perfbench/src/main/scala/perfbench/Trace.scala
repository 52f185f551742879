package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Bench-side SparkListener. The benchmark names every timed call it
  * makes (an "op", e.g. `r3.append.7`) and sets that name as a local
  * property before the call; jobs, stages and tasks carry it, so their
  * counters add up per op. Only the traced run attaches it. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val byName = mutable.LinkedHashMap.empty[String, Op]
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobOp = mutable.Map.empty[Int, String]

  private def opOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Key)))

  private def op(name: String): Op = byName.getOrElseUpdate(name, new Op)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { n =>
      jobOp(e.jobId) = n
      val o = op(n)
      o.jobs += 1
      o.jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { n =>
      val o = op(n)
      o.jobStart.remove(e.jobId).foreach(s => o.jobSpans += ((s, e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    opOf(e.properties).foreach { n =>
      stageOp(e.stageInfo.stageId) = n
      op(n).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { n =>
      val o = op(n)
      o.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.cpuNs += m.executorCpuTime
        o.runMs += m.executorRunTime
        o.gcMs += m.jvmGCTime
        o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        o.bytesRead += m.inputMetrics.bytesRead
        o.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Runs `body` as op `name`: tags its jobs and records its wall span
    * (epoch ms, the listener's clock) and wall seconds (nanoTime). */
  def run[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Key, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Key, null)
      synchronized { val o = op(name); o.span = (t0, t1); o.wallS = wall }
    }
  }

  /** Counters of every op whose name passes `sel`, after the listener
    * bus has drained. */
  def ops(sel: String => Boolean): Seq[(String, Op)] = {
    org.apache.spark.sql.graftshim.CatalystBridge.waitForListeners(spark)
    synchronized(byName.toSeq.filter(p => sel(p._1)))
  }
}

object Trace {
  val Key = "perfbench.op"

  final class Op {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs = 0L
    var shuffleWriteBytes, spillBytes, bytesRead, recordsRead = 0L
    val jobStart = mutable.Map.empty[Int, Long]
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var span: (Long, Long) = (0L, 0L)
    var wallS = 0.0

    /** Seconds of the op's span during which no job of it ran. */
    def driverGapS: Double = {
      val (a, b) = span
      val merged = jobSpans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
        .filter(p => p._2 > p._1).sortBy(_._1)
        .foldLeft(List.empty[(Long, Long)]) {
          case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
          case (acc, p) => p :: acc
        }
      math.max(0.0, wallS - merged.map(p => p._2 - p._1).sum / 1000.0)
    }

    /** Seconds between the end of the op's last job and its return. */
    def afterLastJobS: Double =
      if (jobSpans.isEmpty) wallS
      else math.max(0L, span._2 - jobSpans.map(_._2).max) / 1000.0

    def jobBusyS: Double = wallS - driverGapS
  }
}
