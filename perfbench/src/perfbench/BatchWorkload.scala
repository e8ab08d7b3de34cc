package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.sources.Tables

/** Shared set-up step: every table's schema through `sources.Tables`. */
object Schemas {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings")

  def load(spark: SparkSession, dir: String): Unit = {
    Tables.clearSchemaCache()
    tables.foreach(t => Tables.df(spark, dir, t).schema)
    Tables.events(spark, dir).df.schema
  }
}

/** A batch workload. Set-up is `SetupRounds` rounds, each a fresh
  * session, every table's schema, and one fixed third of the queries run
  * once at the measured scale with their outputs written for the oracle
  * compare; so every query has run once before timing starts. Then timed
  * passes in a seed-shuffled order, at least two, until `seconds` have
  * elapsed. Each timed query is build (`SparkEntry.queries`), plan
  * (`executedPlan`) and exec (noop write); the isolation step before it
  * is timed apart. In a traced run the listeners are attached on the
  * passes `Tracer.traced` picks, and a single-core run of `spec.scaling`
  * follows the timed passes. */
final class BatchWorkload(a: Main.Args, rec: Recorder, sessions: Sessions, spec: BatchSpec) {
  private val SetupRounds = 3
  private var spark: SparkSession = _
  private val tracer = new Tracer(rec)

  def run(): Unit = {
    for (round <- 0 until SetupRounds) setUp(round)
    timed()
    if (a.trace) scaling()
  }

  private def setUp(round: Int): Unit = {
    val t0 = rec.now
    spark = sessions.start(a.cores)
    val t1 = rec.now
    Schemas.load(spark, a.data)
    val t2 = rec.now
    spec.queries.zipWithIndex.collect { case (q, i) if i % SetupRounds == round => q }
      .foreach(check)
    val t3 = rec.now
    rec.emit("setup", "round" -> round, "session_ms" -> (t1 - t0), "schema_ms" -> (t2 - t1),
      "warm_ms" -> (t3 - t2), "total_ms" -> (t3 - t0))
  }

  /** Runs `q` once and writes its output for the oracle compare. */
  private def check(q: String): Unit = {
    clear()
    var cols = Seq.empty[String]
    val err = attempt("check", q) {
      val df = SparkEntry.queries(q)(spark, a.data)
      cols = df.columns.toSeq
      df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/check/$q")
    }
    rec.emit("check", "q" -> q, "ok" -> err.isEmpty, "err" -> err, "cols" -> cols,
      "oracle" -> SparkEntry.oracleSql.get(q))
  }

  private def timed(): Unit = {
    val rng = new scala.util.Random(a.seed)
    // two untraced samples of every query, however slow the host
    val minPasses = if (a.trace) Tracer.MinTracedRunPasses else 2
    val start = rec.now
    var pass = 0
    while (pass < minPasses || rec.now - start < a.seconds * 1000) {
      val traced = Tracer.traced(a.trace, pass)
      if (traced) tracer.attach(spark)
      val t0 = rec.now
      rng.shuffle(spec.queries).foreach(q => timedQuery(q, pass, traced))
      if (traced) tracer.detach()
      rec.emit("pass", "pass" -> pass, "traced" -> traced, "start" -> t0, "end" -> rec.now)
      pass += 1
    }
  }

  private def timedQuery(q: String, pass: Int, traced: Boolean): Unit = {
    val i0 = rec.now
    isolate()
    val marks = ArrayBuffer(rec.now)
    val c0 = Proc.cpuMs
    val id = s"$pass/$q"
    val err = attempt("timed", q) {
      try {
        Span.set(spark, s"$id/build")
        val df = SparkEntry.queries(q)(spark, a.data)
        marks += rec.now
        Span.set(spark, s"$id/plan")
        df.queryExecution.executedPlan
        marks += rec.now
        Span.set(spark, s"$id/exec")
        df.write.format("noop").mode("overwrite").save()
      } finally {
        marks += rec.now
        Span.clear(spark)
      }
    }
    val cpu = Proc.cpuMs - c0
    val extra =
      if (!traced) Nil
      else {
        tracer.drain()
        val plan = tracer.plans.last.getOrElse(Nil)
        tracer.plans.last = None
        val sc = spark.sparkContext
        plan ++ Seq("pinned_rdds" -> sc.getPersistentRDDs.size,
          "pinned_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      }
    rec.emit("sample", (Seq("pass" -> pass, "traced" -> traced, "q" -> q,
      "family" -> spec.familyOf(q), "ok" -> err.isEmpty, "err" -> err, "isolate" -> Seq(i0, marks.head),
      "marks" -> marks.toSeq, "cpu_ms" -> cpu) ++ extra): _*)
  }

  private def scaling(): Unit = {
    spark = sessions.start(1)
    Schemas.load(spark, a.data)
    attempt("warm", spec.scaling.head)(noop(spec.scaling.head))
    spec.scaling.foreach { q =>
      isolate()
      val t0 = rec.now
      val err = attempt("scaling", q)(noop(q))
      rec.emit("scaling", "q" -> q, "cores" -> 1, "ms" -> (rec.now - t0), "ok" -> err.isEmpty)
    }
  }

  private def noop(q: String): Unit =
    SparkEntry.queries(q)(spark, a.data).write.format("noop").mode("overwrite").save()

  private def attempt(phase: String, q: String)(body: => Unit): Option[String] =
    Ops.attempt(rec, phase, q)(body)

  private def clear(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Same isolation as `graft.Bench`: nothing a previous query cached or
    * pinned survives, and its garbage is collected before the next one. */
  private def isolate(): Unit = {
    clear()
    System.gc()
  }
}
