package perfbench

import org.apache.spark.sql.SparkSession
import graft.app.StarSchema

/** Command-line options of one run (see `run.py`). `units` is the number
  * of timed passes `run.py` sized for `--seconds` (`operator_queries`;
  * `weekly_ingest` times one call per generated week instead). */
final case class Opts(workload: String, seed: Long, units: Int, trace: Boolean,
                      inputs: String, work: String, testdata: String)

/** Helpers shared by the workloads. */
object Common {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Runs `plain` and `traced` back to back, the first one first when
    * `plainFirst`, and returns both wall times in seconds. A traced run
    * alternates the order, so that in the mean of the paired differences
    * (the tracing overhead) the head start of whichever call runs second
    * cancels out. */
  def paired(plainFirst: Boolean)(plain: => Unit)(traced: => Unit): (Double, Double) =
    if (plainFirst) { val p = timed(plain)._2; (p, timed(traced)._2) }
    else { val t = timed(traced)._2; (timed(plain)._2, t) }

  /** Logs the end of a run phase with the JVM's uptime. */
  def phase(name: String): Unit = System.err.println(
    f"[perfbench] $name done at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs")

  /** Tracing overhead in ms per operation: the mean of the paired
    * traced-minus-plain differences. Logged with its standard error, since
    * a figure inside it does not resolve any overhead. */
  def overheadMs(diffs: Seq[Double]): Double = {
    val m = mean(diffs) * 1e3
    val se = if (diffs.size < 2) Double.NaN
      else math.sqrt(diffs.map(d => math.pow(d * 1e3 - m, 2)).sum / (diffs.size - 1) / diffs.size)
    System.err.println(f"[perfbench] tracing overhead $m%.1f ms per op, standard error $se%.1f ms")
    m
  }

  /** Per-operation Spark runtime figures, averaged over the traced ops. */
  def runtimeLayers(t: Tracer, ops: Seq[Span], r: Result): Unit = {
    val tree = new SpanTree(t)
    def perOp(f: Counters => Double): Double = mean(ops.map(tree.sum(_)(f)))
    r.layers("spark.task_s") = perOp(_.taskNs / 1e9)
    r.layers("spark.gc_s") = perOp(_.gcMs / 1e3)
    r.layers("spark.spill_bytes") = perOp(_.spillBytes.toDouble)
    r.layers("spark.shuffle_write_bytes") = perOp(_.shuffleWriteBytes.toDouble)
    r.layers("spark.jobs_per_op") = perOp(_.jobs.toDouble)
    r.layers("spark.planning_ms_per_op") = perOp(_.planningMs)
    r.layers("spark.peak_exec_mem_mb") =
      if (ops.isEmpty) 0.0 else ops.map(tree.max(_)(_.peakExecMem.toDouble)).max / (1 << 20)
    r.layers("trace.ops") = ops.size.toDouble
  }
}

/** Parent/child view of a tracer's spans. */
final class SpanTree(t: Tracer) {
  private val children = t.spans.toSeq.groupBy(_.parent)
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  def sum(s: Span)(f: Counters => Double): Double = subtree(s).map(x => f(t.counters(x.id))).sum
  def max(s: Span)(f: Counters => Double): Double = subtree(s).map(x => f(t.counters(x.id))).max
  def child(s: Span, name: String): Seq[Span] = children.getOrElse(s.id, Nil).filter(_.name == name)
}

/** `weekly_ingest`: one warehouse receives a bulk backfill, a warm-up week
  * and then the measured weeks, one delivery at a time, each followed by
  * one `StarSchema.catchup` call: the reference's weekly cadence. The
  * history grows by a week with every call, so cost that tracks the
  * history rather than the batch shows in the later weeks.
  *
  * A traced run ingests every measured week twice, from the same history:
  * into the warehouse by `catchup`, and into a copy by the traced
  * decomposition. The two must end hash-equal, and the paired wall times
  * give the tracing overhead. */
object WeeklyIngest {
  import Common._

  /** `catchup` calls with nothing to ingest after every measured week. */
  val NoOpsPerWeek = 3

  def run(spark: SparkSession, o: Opts, r: Result, tracer: Option[Tracer]): Unit = {
    // run.py writes the inputs while Spark starts, the manifest last
    Fs.await(s"${o.inputs}/manifest.json")
    phase("inputs")
    val raw = s"${o.work}/raw"
    var wh = ""
    val inits = (1 to 3).flatMap { i =>
      wh = s"${o.work}/init$i/wh"
      r.attempt("init")(timed(Star.init(spark, wh, o.inputs))._2)
    }
    phase(s"init ${inits.map(x => f"$x%.2fs").mkString(" ")}")
    // the backfill and the warm-up week build the history and warm the JIT
    val history = Seq("backfill", "warmup").flatMap { zone =>
      Fs.dirs(s"${o.inputs}/$zone").map { d =>
        Fs.copyDir(s"${o.inputs}/$zone/$d", s"$raw/$d")
        r.attempt(s"$zone catchup $d")(timed(StarSchema.catchup(spark, wh, raw))._2)
      }
    }
    phase(s"history ${history.flatten.map(x => f"$x%.2fs").mkString(" ")}")
    if (inits.nonEmpty && history.forall(_.isDefined))
      r.sample("setup_s", median(inits) + history.flatten.sum)
    phase("setup")

    val weeks = Fs.dirs(s"${o.inputs}/measured")
    val twin = s"${o.work}/traced/wh"
    if (tracer.isDefined) Fs.copyDir(wh, twin)
    def expectOnly(d: String)(got: Seq[String]): Unit =
      if (got != Seq(d)) throw new IllegalStateException(s"catchup ingested $got, expected [$d]")
    val overheads = scala.collection.mutable.ArrayBuffer.empty[Double]
    var unchanged = true
    weeks.zipWithIndex.foreach { case (d, i) =>
      Fs.copyDir(s"${o.inputs}/measured/$d", s"$raw/$d")
      r.attempt(s"catchup $d")(tracer match {
        case None =>
          timed(expectOnly(d)(StarSchema.catchup(spark, wh, raw)))._2
        case Some(t) =>
          val (plain, traced) = paired(i % 2 == 0)(expectOnly(d)(StarSchema.catchup(spark, wh, raw)))(
            expectOnly(d)(t.span("StarSchema.catchup")(Star.tracedCatchup(spark, t, twin, raw))))
          overheads += traced - plain
          plain
      }).foreach(s => r.sample("op_ms", s * 1e3))
      // further calls must find nothing to ingest and change no file; they
      // are spread over the run, so a passing load spike hits few of them
      val before = Fs.listing(wh)
      for (_ <- 1 to NoOpsPerWeek) r.attempt("no-op catchup") {
        val (got, s) = timed(StarSchema.catchup(spark, wh, raw))
        if (got.nonEmpty) throw new IllegalStateException(s"second catchup ingested $got")
        s
      }.foreach(s => r.sample("secondary_ms", s * 1e3))
      unchanged &&= Fs.listing(wh) == before
    }
    phase("measure")

    r.check("a second catchup leaves every warehouse file unchanged")(unchanged)
    r.check("integrityReport is all zero")(Star.integrityClean(spark, wh))
    if (tracer.isDefined)
      r.check("traced decomposition builds the same warehouse as catchup") {
        val (a, b) = (Star.tableHashes(spark, wh), Star.tableHashes(spark, twin))
        if (a != b) System.err.println(s"[perfbench] TRACE MISMATCH: catchup $a vs traced $b")
        a == b
      }
    r.extra("warehouse") = wh
    r.extra("stored_bytes") = Fs.dataBytes(wh)
    r.extra("input_bytes") = Fs.dataBytes(raw)
    tracer.foreach(t => layers(t, r, weeks.map(d => Fs.dataBytes(s"$raw/$d").toDouble), overheads.toSeq))
  }

  private def layers(t: Tracer, r: Result, csvBytes: Seq[Double], overheads: Seq[Double]): Unit = {
    val tree = new SpanTree(t)
    val calls = t.spans.filter(s => s.name == "StarSchema.catchup" && s.parent < 0).toSeq
    val weeks = t.spans.filter(_.name == "StarSchema.weekly").toSeq
    def self(name: String): Double =
      mean(weeks.map(w => tree.child(w, name).map(_.wallNs / 1e9).sum))
    r.layers("pipeline.csv_scans_per_week") = mean(weeks.map(w => tree.sum(w)(_.csvScans.toDouble)))
    r.layers("pipeline.csv_read_amplification") =
      weeks.map(w => tree.sum(w)(_.csvScanBytes.toDouble)).sum / csvBytes.sum
    r.layers("sinks.upsert_station_s") = self("Sinks.upsert[dim_station]")
    r.layers("sinks.upsert_datetime_s") = self("Sinks.upsert[dim_datetime]")
    r.layers("sinks.upsert_fact_s") = self("Sinks.upsertPartitioned[fact_journey]")
    r.layers("sinks.ledger_s") = self("Sinks.append[ledger]")
    r.layers("sinks.driver_only_s") = mean(weeks.map(w =>
      tree.subtree(w).filter(_.name.startsWith("Sinks.")).map(t.driverOnlyMs).sum / 1e3))
    val written = weeks.map(w => tree.sum(w)(_.outputBytes.toDouble))
    r.layers("sinks.write_amplification") = written.sum / csvBytes.sum
    r.layers("sinks.files_written_per_week") = mean(weeks.map(w => tree.sum(w)(_.filesWritten.toDouble)))
    // the last quarter of the measured weeks over the first quarter
    val q = math.max(1, weeks.size / 4)
    def slope(xs: Seq[Double]): Double = mean(xs.takeRight(q)) / mean(xs.take(q))
    r.layers("sinks.history_slope_latency") = slope(weeks.map(_.wallNs / 1e9))
    r.layers("sinks.history_slope_bytes") = slope(written)
    r.layers("starschema.jobs_per_week") = mean(calls.map(tree.sum(_)(_.jobs.toDouble)))
    r.layers("starschema.tasks_per_week") = mean(calls.map(tree.sum(_)(_.tasks.toDouble)))
    r.layers("starschema.ledger_read_s") =
      mean(t.spans.filter(_.name == "StarSchema.ingestedDates").map(_.wallNs / 1e9).toSeq)
    Common.runtimeLayers(t, calls, r)
    r.layers("trace.overhead_ms_per_op") = overheadMs(overheads)
  }
}
