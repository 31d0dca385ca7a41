package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point; `run.py` generates the inputs, launches this,
  * and turns the result file into the metric line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --units <n>
  *   --trace <0|1> --inputs <dir> --work <dir> --testdata <dir>
  *   --out <file> [--spans <file>]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("units").toInt, a("trace") == "1",
      a("inputs"), a("work"), a("testdata"))
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      // the status store's job and query history would otherwise grow with
      // how far a run got, and blur the retained-heap figure
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Common.phase("spark session")
    val runId = s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}"
    val tracer = if (o.trace) Some(new Tracer(spark, runId)) else None
    val r = new Result
    try {
      o.workload match {
        case "weekly_ingest" => WeeklyIngest.run(spark, o, r, tracer)
        case "operator_queries" => OperatorQueries.run(spark, o, r, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable => r.attempt("workload")(throw e)
    }
    tracer.foreach { t =>
      t.close()
      a.get("spans").foreach { path =>
        val spans = t.spans.map { s =>
          val c = t.counters(s.id)
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallNs / 1e6,
            "jobs" -> c.jobs, "tasks" -> c.tasks, "task_ms" -> c.taskNs / 1e6,
            "planning_ms" -> c.planningMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
            "output_bytes" -> c.outputBytes, "driver_only_ms" -> t.driverOnlyMs(s))
        }
        Files.writeString(Paths.get(path), Json(spans))
      }
    }
    r.extra("peak_rss_mb") = peakRssMb()
    r.extra("retained_heap_mb") = retainedHeapMb()
    Files.writeString(Paths.get(a("out")), r.toJson)
    Common.phase("result write")
    spark.stop()
    Common.phase("spark stop")
    // pools some operators leave behind must not keep the JVM alive
    sys.exit(0)
  }

  /** Heap still in use after full collections: what the run keeps cached.
    * The pauses let Spark's context cleaner drop the blocks of RDDs,
    * shuffles and broadcasts that the previous collection found dead. */
  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) {
      System.gc()
      Thread.sleep(300)
    }
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** High-water resident set of this JVM, from /proc. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
