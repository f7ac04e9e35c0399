package lakebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. A workload is one part of the system under load:
  * `lakehouse_etl` (the streaming pipeline, the points batch and
  * maintenance), `curation` (corpus curation and publish) or `lake_serve`
  * (reads and writes on a published shard layout). An untraced run
  * executes its workload's part and reports the end-to-end metrics, which
  * have the same names on every workload (see [[EndToEnd]]). A traced run
  * executes all three parts — the workload's at full size, the others
  * small — so that every per-layer metric is reported.
  *
  *   Main --mode run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   Main --mode gen --workload W --seed N --work DIR   (inputs only)
  *
  * Prints `LAKEBENCH_RESULT {...}` (metric values by name; the units are
  * declared in BENCHMARK.json) and `LAKEBENCH_CONTEXT {...}` lines. */
object Main {
  val Parts = Seq("lakehouse_etl", "curation", "lake_serve")

  /** Input sizes and phase lengths: `full` for the workload's own part,
    * small for the other parts of a traced run. */
  final case class Sizes(etlBacklog: Int, etlOpenSec: Double, etlRate: Int,
                         etlBatchReps: Int, curDocs: Int, serveRows: Int, serveSec: Double)

  def sizes(full: Boolean, seconds: Double): Sizes =
    if (full) Sizes(etlBacklog = 2000, etlOpenSec = 0.3 * seconds, etlRate = 100,
      etlBatchReps = 3, curDocs = 4000, serveRows = 30000, serveSec = seconds)
    else Sizes(etlBacklog = 1000, etlOpenSec = 2.0, etlRate = 100,
      etlBatchReps = 1, curDocs = 1000, serveRows = 20000, serveSec = 4.0)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    require(Parts.contains(workload), s"unknown workload $workload")
    val seed = o("seed").toLong
    val work = o("work")
    val seconds = o.getOrElse("seconds", "20").toDouble
    o.getOrElse("mode", "run") match {
      case "gen" => generate(workload, seed, sizes(full = true, seconds), work)
      case "run" =>
        run(workload, seed, seconds, o.getOrElse("trace", "0") == "1", work,
          o.getOrElse("corrupt", ""))
    }
  }

  private def session(): SparkSession =
    graft.GraftSession.local(math.max(1, math.min(4, Runtime.getRuntime.availableProcessors())))

  /** The set-up of one part. `publish = false` writes the generated
    * inputs only (the serving table's rows, not the published layout). */
  private def setup(spark: SparkSession, part: String, seed: Long, sz: Sizes,
                    dir: String, publish: Boolean = true): Any = part match {
    case "lakehouse_etl" => Etl.setup(seed, sz.etlBacklog, sz.etlRate, sz.etlOpenSec, dir)
    case "curation" => Curation.setup(seed, sz.curDocs, dir)
    case "lake_serve" =>
      val g = new Serve.Gen(seed, sz.serveRows)
      Util.write(s"$dir/initial_rows.csv", g.text())
      if (publish) Serve.publish(spark, g, s"$dir/table")
      g
  }

  /** Writes the inputs of a workload without running anything (the
    * self-check compares these bytes across seeds). */
  def generate(workload: String, seed: Long, sz: Sizes, work: String): Unit = {
    val spark = session()
    try setup(spark, workload, seed, sz, work, publish = false)
    finally spark.stop()
  }

  /** The end-to-end metrics: one meaning per workload, the same names on
    * every workload.
    *
    * | metric              | lakehouse_etl               | curation                   | lake_serve                    |
    * |---------------------|-----------------------------|----------------------------|-------------------------------|
    * | throughput_per_s    | backlog events drained / s  | documents curated / s      | operations / s                |
    * | latency_ms          | event freshness, median     | time to publish            | geomean of per-kind medians   |
    * | latency_tail_ms     | event freshness, tail       | time to publish            | geomean of per-kind p75s      |
    * | batch_ms            | points batch + maintenance  | publish handoff            | writes (merge/delete), median |
    * | bytes_per_user_byte | lake bytes / input bytes    | published / input bytes    | live bytes / row bytes        |
    */
  final case class EndToEnd(throughput: Double, latencyMs: Double, tailMs: Double,
                            batchMs: Double, bytesRatio: Double)

  def run(workload: String, seed: Long, seconds: Double, traceOn: Boolean,
          work: String, corrupt: String): Unit = {
    val tSession = Util.now()
    val spark = session()
    val metrics = mutable.LinkedHashMap[String, Double]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val ctx = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "session_s" -> Util.secs(tSession))
    val detail = mutable.LinkedHashMap[String, Any]()
    var attempted = 0L
    var failed = 0L
    try {
      // set-up of the workload's part, several times: three publishes of
      // the serving table, nine of the other parts' sub-second input
      // writes, whose first runs are JIT-cold; the run uses the last
      val full = sizes(full = true, seconds)
      val setups = (0 until (if (workload == "lake_serve") 3 else 9)).map { i =>
        val t = Util.now()
        val in = setup(spark, workload, seed, full, s"$work/$workload/setup$i")
        (Util.secs(t), in, s"$work/$workload/setup$i")
      }
      setups.init.foreach(s => Util.deleteTree(new java.io.File(s._3)))
      metrics("setup_s") = Util.median(setups.map(_._1))
      ctx("setup_runs_s") = setups.map(_._1)

      if (traceOn) layer("trace.overhead_ratio") = overheadRatio(spark, seed, s"$work/probe")
      val trace = new Trace(spark, traceOn)
      val parts = if (traceOn) Parts else Seq(workload)
      for (part <- parts) {
        val own = part == workload
        val sz = sizes(own, seconds)
        val (in, dir) =
          if (own) (setups.last._2, setups.last._3)
          else { val d = s"$work/$part/setup"; (setup(spark, part, seed, sz, d), d) }
        val t = Util.now()
        val (e2e, ok, tried) = part match {
          case "lakehouse_etl" =>
            runEtl(spark, in.asInstanceOf[Etl.Gen], dir, sz.etlBatchReps, trace, corrupt,
              detail, layer)
          case "curation" =>
            runCuration(spark, in.asInstanceOf[Curation.Inputs], trace, detail, layer)
          case "lake_serve" =>
            runServe(spark, in.asInstanceOf[Serve.Gen], dir, sz.serveSec, seed, trace,
              corrupt, detail, layer)
        }
        ctx(s"phase_${part}_s") = Util.secs(t)
        attempted += tried
        failed += tried - ok
        if (own) {
          metrics("throughput_per_s") = e2e.throughput
          metrics("latency_ms") = e2e.latencyMs
          metrics("latency_tail_ms") = e2e.tailMs
          metrics("batch_ms") = e2e.batchMs
          metrics("bytes_per_user_byte") = e2e.bytesRatio
        }
      }
      if (traceOn) ctx("trace_spans") = trace.spanCount
      trace.close()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        failed += 1
        attempted = math.max(attempted, failed)
    } finally spark.stop()
    metrics("ok_ops_ratio") = (attempted - failed).toDouble / math.max(1L, attempted)
    ctx("metrics") = detail
    val out = if (traceOn) layer else metrics
    println("LAKEBENCH_CONTEXT " + Util.json(ctx))
    println("LAKEBENCH_RESULT " + Util.json(Map(
      "correct" -> (failed == 0), "attempted" -> math.max(1L, attempted),
      "failed" -> failed, "metrics" -> out)))
  }

  /** Tail percentile for `n` expected samples: the highest of a fixed
    * ladder with at least ten samples beyond it. */
  def tailPct(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n * (100 - p) / 100 >= 10).getOrElse(50.0)

  private def runEtl(spark: SparkSession, g: Etl.Gen, dir: String, batchReps: Int,
                     trace: Trace, corrupt: String, detail: mutable.Map[String, Any],
                     layer: mutable.Map[String, Double]): (EndToEnd, Long, Long) = {
    val r = Etl.run(spark, g, dir, batchReps, trace, corrupt = corrupt == "dws_drop")
    val tp = tailPct(g.ticks * g.perTick)
    val fresh = r.freshness
    detail("etl_drain_events_per_s") = r.drainEventsPerS
    detail("etl_freshness_p50_s") = Util.median(fresh)
    detail("etl_freshness_tail_s") = Util.pct(fresh, tp)
    detail("etl_freshness_tail_pct") = tp
    detail("etl_freshness_samples") = fresh.size
    detail("points_batch_s") = r.pointsS
    detail("maintenance_s") = r.maintenanceS
    detail("etl_run") = r.info
    detail("etl_generator_lateness_ms_p50") = Util.median(r.lateness)
    detail("etl_generator_lateness_ms_max") = r.lateness.max
    layer ++= r.layer
    (EndToEnd(r.drainEventsPerS, Util.median(fresh) * 1e3, Util.pct(fresh, tp) * 1e3,
      r.batchS * 1e3, r.lakeBytes / r.inputBytes),
      r.attempted - r.failed, r.attempted)
  }

  private def runCuration(spark: SparkSession, in: Curation.Inputs, trace: Trace,
                          detail: mutable.Map[String, Any],
                          layer: mutable.Map[String, Double]): (EndToEnd, Long, Long) = {
    val r = Curation.run(spark, in, trace)
    detail("curation_docs_per_s") = r.docsPerS
    detail("curation_publish_s") = r.publishS
    layer ++= r.layer
    (EndToEnd(r.docsPerS, r.wallS * 1e3, r.wallS * 1e3, r.publishS * 1e3,
      r.publishedBytes / r.inputBytes), r.attempted - r.failed, r.attempted)
  }

  private def runServe(spark: SparkSession, g: Serve.Gen, dir: String, seconds: Double,
                       seed: Long, trace: Trace, corrupt: String,
                       detail: mutable.Map[String, Any],
                       layer: mutable.Map[String, Double]): (EndToEnd, Long, Long) = {
    val r = Serve.run(spark, g, s"$dir/table", Serve.cycles(seconds), seed, trace,
      corrupt = corrupt == "serve_alter")
    val lat = r.lat
    val writes = lat("merge") ++ lat("delete")
    val all = lat.values.flatten.toSeq
    detail("point_p50_ms") = Util.median(lat("point"))
    detail("point_p90_ms") = Util.pct(lat("point"), 90)
    detail("scan_p50_ms") = Util.median(lat("range") ++ lat("topk"))
    detail("meta_p50_ms") = Util.median(lat("meta"))
    detail("write_p50_ms") = Util.median(writes)
    detail("write_p90_ms") = Util.pct(writes, 90)
    detail("serve_samples") = lat.map { case (k, v) => k -> v.size }
    layer ++= r.layer
    if (trace.on) for (op <- Serve.Ops) {
      val st = trace.spanStats(s"serve.$op")
      layer(s"serve.$op.jobs") = st.per(st.jobs)
      layer(s"serve.$op.plan_ms") = st.per(st.planMs)
      layer(s"serve.$op.driver_gap_ms") = st.per(st.driverGapMs)
    }
    def geomean(xs: Seq[Double]) = math.exp(xs.map(math.log).sum / xs.size)
    (EndToEnd(all.size / r.loopS, geomean(Serve.Ops.map(op => Util.median(lat(op)))),
      geomean(Serve.Ops.map(op => Util.pct(lat(op), 75))), Util.median(writes),
      r.bytesPerUserByte),
      r.attempted - r.failed, r.attempted)
  }

  /** Tracing overhead: median latency of read-only point lookups with
    * the listeners attached over that without them, in four alternating
    * half-second blocks after a warm-up. */
  private def overheadRatio(spark: SparkSession, seed: Long, dir: String): Double = {
    val g = new Serve.Gen(seed, 20000)
    val path = s"$dir/table"
    Serve.publish(spark, g, path)
    Serve.probe(spark, g, path, 1.0, seed, new Trace(spark, false))
    val off = mutable.ArrayBuffer[Double]()
    val on = mutable.ArrayBuffer[Double]()
    for (i <- 1 to 4) {
      off ++= Serve.probe(spark, g, path, 0.5, seed + i, new Trace(spark, false))
      val t = new Trace(spark, true)
      on ++= Serve.probe(spark, g, path, 0.5, seed + i, t)
      t.close()
    }
    Util.median(on.toSeq) / Util.median(off.toSeq)
  }
}
