package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload per process; its raw records go to
  * `<work>/records.jsonl`. perfbench/run.py builds and starts it, checks
  * the outputs and turns the records into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --data <dir> --work <dir> --cores <n> */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder(s"${a.work}/records.jsonl")
    val sessions = new Sessions(a.work)
    val code =
      try {
        rec.emit("start", "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
        a.workload match {
          case "milan_stream" => new StreamWorkload(a, rec, sessions).run()
          case "milan_batch" => new BatchWorkload(a, rec, sessions, Workloads.milanBatch).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        rec.emit("end", "rss_hwm_kb" -> Proc.rssHwmKb)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.emit("fatal", "err" -> e.toString)
          3
      } finally {
        sessions.stop()
        rec.close()
      }
    sys.exit(code)
  }
}

/** One live SparkSession at a time; set-up rounds and the single-core
  * scaling run replace it. */
final class Sessions(work: String) {
  private var current: SparkSession = _

  def start(cores: Int): SparkSession = {
    stop()
    current = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    current
  }

  def stop(): Unit = if (current != null) {
    current.streams.active.foreach(_.stop())
    current.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = null
  }
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time (all threads, GC and JIT included), ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Peak resident set size of this process, kB (VmHWM). */
  def rssHwmKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}
