package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.sources.CoPurchaseGraph

/** `operator_queries`: named `SparkEntry.queries` over the fixed
  * test data, timed writing to the `noop` sink like `graft.Bench`. The
  * graph set exercises the graph round operators and `Sever`; the sketch
  * set holds queries whose plans call a `graft.expressions` expression.
  * An untimed first pass writes every result as parquet for the oracle
  * compare and warms the JVM, so the timed passes start from steady
  * state. A traced run times every query twice, untraced and traced, back
  * to back. */
object OperatorQueries {
  import Common._

  val graphSet = Seq("q142_triangle_counts", "q146_kcore", "q148_label_prop", "q149_bfs_hops",
    "q151_widest_path", "q209_cheapest_path", "q233_diameter_sweep")
  val sketchSet = Seq("q39_lsh_ann", "q46_ivf_trained_nn", "q110_semdedup", "q158_pca_top")

  def short(q: String): String = q.takeWhile(_ != '_')

  /** One query written as parquet to `out` (to `noop` when empty), with
    * `graft.Bench`'s per-query conf pins and its post-query release of
    * severed checkpoint blocks. */
  private def runQuery(spark: SparkSession, dir: String, q: String, out: String): Unit = {
    val pins = graft.Bench.queryConfs(spark).getOrElse(q, Map.empty[String, String])
    val saved = pins.keys.map(k => k -> spark.conf.getOption(k)).toMap
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val w = SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
      if (out.isEmpty) w.format("noop").save() else w.parquet(out)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed)
        .foreach(_.unpersist(blocking = false))
    }
  }

  def run(spark: SparkSession, o: Opts, r: Result, tracer: Option[Tracer]): Unit = {
    val dir = o.testdata
    var edges = ""
    // the build takes under a second, so its median needs more samples
    for (_ <- 1 to 5) {
      CoPurchaseGraph.reset()
      r.attempt("co-purchase edge table build") {
        val (p, s) = timed(CoPurchaseGraph.path(spark, dir))
        edges = p
        s
      }.foreach(r.sample("setup_s", _))
    }
    val all = graphSet ++ sketchSet
    val results = s"${o.work}/results"
    all.foreach(q => r.attempt(s"$q result dump")(runQuery(spark, dir, q, s"$results/$q")))
    spark.sharedState.cacheManager.clearCache()
    phase("setup and check pass")
    val overheads = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (pass <- 1 to o.units) {
      val order = new scala.util.Random(o.seed * 1000 + pass).shuffle(all)
      val times = order.zipWithIndex.flatMap { case (q, i) =>
        r.attempt(q) {
          val s = tracer match {
            case None => timed(runQuery(spark, dir, q, ""))._2
            case Some(t) =>
              val (plain, traced) = paired((pass + i) % 2 == 0)(runQuery(spark, dir, q, ""))(
                t.span(q)(runQuery(spark, dir, q, "")))
              overheads += traced - plain
              plain
          }
          System.err.println(f"[perfbench] $q ${s}%.3fs")
          q -> s
        }
      }.toMap
      // a set's time counts only when every query of it succeeded
      def setTime(set: Seq[String]): Option[Double] =
        if (set.forall(times.contains)) Some(set.map(times).sum) else None
      setTime(graphSet).foreach(s => r.sample("op_ms", s * 1e3))
      setTime(sketchSet).foreach(s => r.sample("secondary_ms", s * 1e3))
      spark.sharedState.cacheManager.clearCache()
    }
    phase("measure")

    r.extra("results") = results
    r.extra("oracles") = all.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    r.extra("stored_bytes") = Fs.dataBytes(edges)
    r.extra("input_bytes") = Fs.dataBytes(s"$dir/lineitem.parquet")

    tracer.foreach { t =>
      val tree = new SpanTree(t)
      val top = t.spans.filter(_.parent < 0).toSeq
      def per(q: String)(f: Span => Double): Double = mean(top.filter(_.name == q).map(f))
      graphSet.foreach { q =>
        val p = s"graph.${short(q)}"
        r.layers(s"$p.s") = per(q)(_.wallNs / 1e9)
        r.layers(s"$p.jobs") = per(q)(tree.sum(_)(_.jobs.toDouble))
        r.layers(s"$p.shuffle_bytes") = per(q)(tree.sum(_)(_.shuffleWriteBytes.toDouble))
        r.layers(s"$p.planning_ms") = per(q)(tree.sum(_)(_.planningMs))
      }
      sketchSet.foreach { q =>
        val p = s"sketch.${short(q)}"
        r.layers(s"$p.s") = per(q)(_.wallNs / 1e9)
        r.layers(s"$p.task_s") = per(q)(tree.sum(_)(_.taskNs / 1e9))
        r.check(s"$q plan calls a graft.expressions expression")(
          top.filter(_.name == q).exists(tree.sum(_)(_.nativeExprQueries.toDouble) > 0))
      }
      Common.runtimeLayers(t, top, r)
      r.layers("trace.overhead_ms_per_op") = overheadMs(overheads.toSeq)
    }
  }
}
