package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the program's layers, and the
  * Spark listener that attributes task metrics to them.
  *
  * A span tags the jobs it submits with the local property
  * [[Tracer.SpanKey]]; the listener maps job → stages → tasks back to the
  * span, so metrics land on the right span although listener events
  * arrive asynchronously. Everything is held in memory and read out once
  * the run's last job has drained (see [[drain]]).
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  /** Per-span accumulators. Written by the listener thread only. */
  final class Acc {
    var wallNs = 0L
    var jobs = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val taskWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val started = new AtomicLong()
  private val ended = new AtomicLong()

  private def acc(name: String): Acc = accs.computeIfAbsent(name, _ => new Acc)

  sc.addSparkListener(this)

  /** Run `body` as span `name` (nested spans are not used). */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    sc.setLocalProperty(SpanKey, name)
    try body
    finally {
      sc.setLocalProperty(SpanKey, null)
      val dt = System.nanoTime() - t0
      acc(name).synchronized { acc(name).wallNs += dt }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    name.foreach { n =>
      val a = acc(n)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(id => stageSpan.put(id, n))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    started.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    taskWindows.synchronized {
      taskWindows += ((info.launchTime, info.finishTime))
    }
    Option(stageSpan.get(e.stageId)).foreach { n =>
      val a = acc(n)
      val m = e.taskMetrics
      a.synchronized {
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.stageTaskMs.getOrElseUpdate(e.stageId,
            mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
    }
    ended.incrementAndGet()
  }

  /** Forget everything recorded so far (the warm-up round). */
  def reset(): Unit = {
    drain()
    accs.clear()
    taskWindows.synchronized(taskWindows.clear())
  }

  /** Wait until every task the listener saw start has been seen to end
    * and the count has held still for a moment (events trail the jobs). */
  def drain(): Unit = {
    var stable = 0
    var last = -1L
    val deadline = System.currentTimeMillis() + 30000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val e = ended.get()
      if (e == started.get() && e == last) stable += 1 else stable = 0
      last = e
    }
  }

  /** Wall seconds inside `windows` (epoch ms) with no task running. */
  def noTaskSeconds(windows: Seq[(Long, Long)]): Double = {
    val tasks = taskWindows.synchronized(taskWindows.toVector).sortBy(_._1)
    windows.map { case (ws, we) =>
      var covered = 0L
      var curS = -1L
      var curE = -1L
      tasks.foreach { case (s0, e0) =>
        val s = math.max(s0, ws)
        val e = math.min(e0, we)
        if (e > s) {
          if (s > curE) {
            if (curE > curS) covered += curE - curS
            curS = s; curE = e
          } else curE = math.max(curE, e)
        }
      }
      if (curE > curS) covered += curE - curS
      (we - ws - covered).toDouble
    }.sum / 1000.0
  }

  /** The six standard figures of every span, by `<span>.<suffix>`. */
  def metrics(): Map[String, Double] =
    accs.asScala.toSeq.flatMap { case (n, a) =>
      a.synchronized {
        val biggest = a.stageTaskMs.values.maxByOption(_.sum)
        val skew = biggest.map { ts =>
          val s = ts.sorted
          val med = s(s.size / 2).toDouble
          if (med > 0) s.last / med else 1.0
        }.getOrElse(1.0)
        Seq(
          s"$n.s" -> a.wallNs / 1e9,
          s"$n.cpu_s" -> a.cpuNs / 1e9,
          s"$n.shuffle_mb" -> a.shuffleBytes / 1e6,
          s"$n.spill_mb" -> a.spillBytes / 1e6,
          s"$n.jobs" -> a.jobs.toDouble,
          s"$n.skew" -> skew)
      }
    }.toMap
}

object Tracer {
  val SpanKey = "perfbench.span"
}
