package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.DataFrame

import graft.Checkpoints.TruncateOps

/** Runs one workload against inputs made by `gen.py`:
  * {{{
  *   Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *        --threads N --result FILE
  * }}}
  * Setup (session, input counts, stores) is untimed; then whole
  * rounds of the workload run until `S` seconds have passed; then the
  * workload writes the outputs the correctness checks read. The result
  * file holds one JSON object of measured figures.
  */
object Main {

  /** Step runner: untraced, a step is just its body; traced, it is a
    * span, and a frame-valued step is materialised at its boundary so
    * its work is charged to it rather than to a later consumer. */
  final class Steps(val tracer: Option[Tracer]) {
    def run[T](name: String)(body: => T): T = tracer match {
      case Some(t) => t.span(name)(body)
      case None    => body
    }
    def frame(name: String)(body: => DataFrame): DataFrame = tracer match {
      case Some(t) => t.span(name)(body.truncateLineage())
      case None    => body
    }
  }

  /** Peak used heap after GC over a window, from GC notifications. */
  object HeapWatch {
    @volatile var peak = 0L
    def install(): Unit =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case em: NotificationEmitter =>
          em.addNotificationListener((n, _) => {
            if (n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .values.map(_.getUsed).sum
              if (used > peak) peak = used
            }
          }, null, null)
        case _ => ()
      }
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(g => dirBytes(g.getPath)).sum
  }

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .foreach(g => deleteTree(g.getPath))
    f.delete()
  }

  def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Double) =>
      s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    case (k, v: Map[_, _]) => s""""$k":${json(v.asInstanceOf[Map[String, Any]])}"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  private val t0 = System.nanoTime()
  /** Progress line in the JVM log, seconds since start. */
  def log(msg: String): Unit = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f s  cpu ${cpuNs() / 1e9}%7.1f  gc $gc%6.1f  jit $jit%6.1f  codegen $cg%5d  $msg")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val threads = args.get("threads").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    val spark = graft.Tables.localSession("perfbench", threads)
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val steps = new Steps(tracer)
    val w: Workload = workload match {
      case "ai_update"    => new AiUpdateWorkload(spark, args("data"), steps)
      case "corpus_build" => new CorpusBuildWorkload(spark, args("data"), work, steps)
    }
    HeapWatch.install()
    log("session ready")

    def roundDir(i: Int) = s"$work/round_$i"
    // No warm-up round: each nightly build is a fresh JVM, so users pay
    // class loading, query planning, code generation and JIT on every
    // run, and the timed rounds include them.
    w.setup()
    tracer.foreach(_.reset())
    System.gc()
    val setupDoneMs = System.currentTimeMillis()
    log("setup done")

    HeapWatch.peak = 0L
    var rounds = 0
    var wallNs = 0L
    var cpu = 0L
    var written = 0L
    val windows = Seq.newBuilder[(Long, Long)]
    while (rounds == 0 || wallNs < seconds * 1e9) {
      rounds += 1
      val dir = roundDir(rounds)
      val before = Written.bytes()
      val c0 = cpuNs()
      val ms0 = System.currentTimeMillis()
      val r0 = System.nanoTime()
      w.round(dir)
      wallNs += System.nanoTime() - r0
      log(s"round $rounds done")
      windows += ((ms0, System.currentTimeMillis()))
      cpu += cpuNs() - c0
      written += Written.bytes() - before
      if (wallNs < seconds * 1e9) deleteTree(dir)
    }
    val peakHeap = HeapWatch.peak
    val last = roundDir(rounds)

    val layer: Map[String, Any] = tracer match {
      case Some(t) =>
        t.drain()
        val per = t.metrics().map { case (k, v) =>
          // Counts and times are per round; ratios stay as they are.
          k -> (if (k.endsWith(".skew")) v else v / rounds)
        }
        per ++ w.layerExtras(last, per) ++ Map(
          "no_task_s" -> t.noTaskSeconds(windows.result()) / rounds,
          "trace.records_per_s" -> w.records * rounds / (wallNs / 1e9))
      case None => Map.empty
    }
    log("layer figures done")
    w.checkOutputs(last, s"$work/checks")
    log("check outputs written")

    val out = Map[String, Any](
      "setup_done_ms" -> setupDoneMs.toDouble,
      "round_dir" -> last,
      "rounds" -> rounds.toDouble,
      "records_per_round" -> w.records.toDouble,
      "wall_s" -> wallNs / 1e9,
      "cpu_s" -> cpu / 1e9,
      "written_mb_per_round" -> written / 1e6 / rounds,
      "peak_heap_mb" -> peakHeap / 1e6,
      "layer" -> layer,
      "checks" -> w.checkFacts)
    Files.write(Paths.get(args("result")), json(out).getBytes("UTF-8"))
    spark.stop()
  }
}

/** One benchmark workload. `round` is the timed unit; everything else is
  * untimed. */
trait Workload {
  /** Input records one round processes. */
  def records: Long
  def setup(): Unit
  def round(dir: String): Unit
  /** Step-specific per-layer ratios, from the last round's outputs. */
  def layerExtras(dir: String, perRound: Map[String, Double]): Map[String, Any] =
    Map.empty
  /** Write what the correctness checks read into `checks`. */
  def checkOutputs(dir: String, checks: String): Unit
  /** Small facts the checks need (counts, parameters). */
  def checkFacts: Map[String, Any] = Map.empty
}
