package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.api.MStream

final case class Ev(seq: Long, event_id: Long, key: Long, fp: Long, amount: Long,
                    ts: java.sql.Timestamp)

/** Seeded event source. Event time advances `StepMs` per event from
  * 2024-01-01; keys are Zipf-skewed; `LateShare` of events carry an event
  * time up to `LateMaxMs` earlier than their arrival position, within the
  * programs' watermark delay, so none is dropped; `DupShare` repeat the
  * fingerprint of one of the last `DupReach` events. Amounts are integral
  * so sums do not depend on the order they are added in. */
final class EventGen(seed: Long) {
  private val Keys = 1000
  private val ZipfS = 1.1
  private val StepMs = 2L
  private val LateShare = 0.05
  private val LateMaxMs = 5000
  private val DupShare = 0.1
  private val DupReach = 500
  private val Base = 1704067200000L

  private val rng = new java.util.Random(seed)
  private val cdf = {
    val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val recent = new Array[(Long, Long)](DupReach)
  private var seq = 0L

  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    (if (i >= 0) i else math.min(-i - 1, Keys - 1)).toLong
  }

  def batch(n: Int): Seq[Ev] = Seq.fill(n) {
    val s = seq
    seq += 1
    val due = Base + s * StepMs
    val ts = if (rng.nextDouble() < LateShare) due - 1 - rng.nextInt(LateMaxMs) else due
    val (fp, key) =
      if (s > 0 && rng.nextDouble() < DupShare)
        recent(((s - 1 - rng.nextInt(math.min(s, DupReach.toLong).toInt)) % DupReach).toInt)
      else (rng.nextLong(), zipfKey())
    recent((s % DupReach).toInt) = (fp, key)
    Ev(s, s, key, fp, 1L + rng.nextInt(1000), new java.sql.Timestamp(ts))
  }
}

/** milan_stream: one closed-loop client creates `BatchEvents` events per
  * step and hands them to each of the three MStream programs in turn,
  * through the program's own MemoryStream, waiting for each to commit
  * them before the next; so one query runs at a time and the tasks never
  * outnumber the cores. The next step's events are created only after
  * every program has committed the step. A pass is `StepsPerPass` steps.
  * State is checkpointed to local disk. */
final class StreamWorkload(a: Main.Args, rec: Recorder, sessions: Sessions) {
  private val SetupRounds = 3
  private val WarmSteps = 1
  private val WarmUpSteps = 3
  private val StepsPerPass = 2
  private val BatchEvents = 1000
  private val Delay = "10 seconds"

  private val gen = new EventGen(a.seed)
  private val tracer = new Tracer(rec)
  private var spark: SparkSession = _
  private var queries: Seq[(String, MemoryStream[Ev], StreamingQuery)] = Nil
  private val fed = ArrayBuffer.empty[Ev]

  /** The programs, each a `graft.api.MStream` pipeline that runs the same
    * on a static frame (the reference) and on the stream. */
  private val programs: Seq[(String, DataFrame => DataFrame)] = {
    def events(df: DataFrame) = new MStream(df, Seq("seq"))
    Seq(
      "running_sum" -> (df => events(df).groupBy("key").sumBy(col("amount"), "run").df),
      "window_sum" -> (df => events(df).withWatermark("ts", Delay).groupBy("key")
        .tumblingWindow(col("ts"), "10 seconds")
        .select("w", sum(col("amount")).as("total"), count(lit(1)).as("n")).df),
      "dedup" -> (df => events(df).withWatermark("ts", Delay)
        .dedupBy(Seq("fp"), withinWatermark = true).map(col("fp"), col("key")).df))
  }

  def run(): Unit = {
    for (round <- 1 to SetupRounds) setUp(round)
    warmUp()
    timed()
    check()
    if (a.trace) scaling()
  }

  private def startQueries(cores: Int, tag: String): Unit = {
    spark = sessions.start(cores)
    val session = spark
    implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    fed.clear()
    queries = programs.map { case (name, program) =>
      val input = MemoryStream[Ev]
      (name, input, program(input.toDF()).writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", s"${a.work}/stream/$tag/$name").start())
    }
  }

  private def setUp(round: Int): Unit = {
    val t0 = rec.now
    startQueries(a.cores, s"r$round")
    val t1 = rec.now
    (1 to WarmSteps).foreach(i => step(-1, i))
    val t2 = rec.now
    rec.emit("setup", "round" -> round, "session_ms" -> (t1 - t0), "schema_ms" -> 0.0,
      "warm_ms" -> (t2 - t1), "total_ms" -> (t2 - t0))
  }

  /** Steps on the timed session before timing starts, so that the timed
    * passes run compiled code rather than the JIT's warm-up curve. */
  private def warmUp(): Unit = (1 to WarmUpSteps).foreach(i => step(-1, WarmSteps + i))

  /** One closed-loop step; the step's events are created at `create`. */
  private def step(pass: Int, i: Int): Unit = {
    val create = rec.now
    val events = gen.batch(BatchEvents)
    fed ++= events
    val err = Ops.attempt(rec, if (pass < 0) "warm" else "timed", s"step$i") {
      queries.foreach { case (_, input, q) =>
        input.addData(events)
        q.processAllAvailable()
      }
    }
    rec.emit("step", "pass" -> pass, "step" -> i, "create" -> create, "commit" -> rec.now,
      "events" -> events.size, "ok" -> err.isEmpty)
  }

  private def timed(): Unit = {
    val minPasses = if (a.trace) Tracer.MinTracedRunPasses else 2
    val start = rec.now
    var pass = 0
    while (pass < minPasses || rec.now - start < a.seconds * 1000) {
      val traced = Tracer.traced(a.trace, pass)
      if (traced) tracer.attach(spark)
      val t0 = rec.now
      val c0 = Proc.cpuMs
      (1 to StepsPerPass).foreach(i => step(pass, i))
      val cpu = Proc.cpuMs - c0
      if (traced) tracer.detach()
      rec.emit("pass", "pass" -> pass, "traced" -> traced, "start" -> t0, "end" -> rec.now,
        "cpu_ms" -> cpu)
      pass += 1
    }
  }

  /** Stops the queries, then compares each sink with the same program run
    * as a batch over every event fed. The window program emits a window
    * once the watermark passes its end, so the reference keeps the windows
    * that ended at or before the last batch's watermark. */
  private def check(): Unit = {
    queries.foreach(_._3.stop())
    queries.foreach { case (name, _, q) =>
      q.recentProgress.foreach(p => rec.emit("progress", "query" -> name, "json" -> p.json))
    }
    val session = spark
    import session.implicits._
    val reference = programs.map { case (name, program) => name -> program(fed.toSeq.toDF()) }.toMap
    queries.foreach { case (name, _, q) =>
      val watermark = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      val expected = name match {
        case "window_sum" =>
          reference(name).filter(col("w.end") <= to_timestamp(lit(watermark.orNull)))
        case _ => reference(name)
      }
      var diff: Option[String] = None
      val err = Ops.attempt(rec, "check", name) {
        val got = spark.table(name).collect().map(_.toString).sorted.toSeq
        val want = expected.collect().map(_.toString).sorted.toSeq
        if (got != want)
          diff = Some(s"${got.size} streamed rows vs ${want.size} reference rows, first " +
            s"difference ${got.diff(want).headOption} / ${want.diff(got).headOption}")
      }
      rec.emit("check", "q" -> name, "ok" -> (err.isEmpty && diff.isEmpty), "err" -> err.orElse(diff))
    }
  }

  /** The same closed loop at local[1], one pass after the warm-up steps. */
  private def scaling(): Unit = {
    startQueries(1, "scaling")
    (1 to WarmSteps).foreach(i => step(-1, i))
    val t0 = rec.now
    (1 to StepsPerPass).foreach(i => step(-2, i))
    rec.emit("scaling", "q" -> "pass", "cores" -> 1, "ms" -> (rec.now - t0), "ok" -> true)
  }
}
