package servebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Env(
    spark: SparkSession,
    cpus: Int,
    seed: Long,
    seconds: Int,
    dataDir: String,
    workDir: java.io.File,
    outDir: java.io.File,
    tracer: Tracer,
    events: Option[SparkEvents],
    out: Outcomes,
    inject: Boolean,
    bootS: Double) {
  def traced: Boolean = tracer.on
  /** 16 hex digits derived from the seed, for graph ids. */
  def hex16: String = f"${seed * 0x9E3779B97F4A7C15L}%016x"
}

/** Metrics of one run, in report order. A value of None is "n/a": the
  * workload has no such operation. */
final class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Option[Double], String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  def metric(name: String, v: Option[Double], unit: String): Unit = e2e(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit =
    layers(name) = (if (v.isNaN || v.isInfinite) 0.0 else v, unit)
}

/** The one JSON mapper of the JVM side: Scala maps, sequences and
  * options serialize as JSON objects, arrays and null. */
object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  /** A number as JSON: NaN and infinities have no JSON form. */
  def num(v: Double): Option[Double] = if (v.isNaN || v.isInfinite) None else Some(v)
}

object Stats {
  /** Nearest-rank percentile (p in 0..100) of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      Some(s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))))
    }
  def median(xs: Seq[Double]): Option[Double] = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ms(ns: Long): Double = ns / 1e6
  def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Completed requests per second of a closed loop: the sum over
    * clients of each client's completions over its own busy span, from
    * `t0` to its last reply. A request in flight at the deadline still
    * completes and counts, so the rate carries no truncation at the
    * window's edge (with a count inside a fixed window, each client's
    * last request moves a 10 s rate by up to 0.1/s). */
  def closedLoopRate(ts: Seq[Timing], t0: Long): Double =
    ts.groupBy(_.client).values.map(c => c.size / ((c.map(_.end).max - t0) / 1e9)).sum

  /** Relative equality for sums of cent amounts. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Canonical form of a result for comparison: rows as strings, sorted. */
  def canonical(rows: Seq[Seq[Any]]): Seq[String] =
    rows.map(_.map(String.valueOf).mkString("\u0001")).sorted
}

/** Shared bookkeeping for the request workloads: the timed region's
  * counters and the per-layer numbers derived from the trace. */
object Layers {
  /** Per-layer metrics every workload reports (zero when a layer is not
    * exercised), so a traced run always prints the full set. */
  def defaults(r: Result): Unit = {
    Seq("serve.governance_us" -> "us", "serve.queue_wait_ms" -> "ms",
      "serve.cache_hit_ratio" -> "ratio", "serve.size_class_miss_ratio" -> "ratio",
      "serve.stream_ms" -> "ms", "serve.rows_out" -> "count",
      "serve.chunks_out" -> "count", "serve.timeouts" -> "count",
      "serve.rejects" -> "count", "query.compile_ms" -> "ms",
      "query.write_ms" -> "ms", "spark.analysis_ms" -> "ms",
      "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
      "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.shuffle_bytes_per_op" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.executor_run_ms_per_op" -> "ms",
      "spark.executor_cpu_ms_per_op" -> "ms", "spark.core_idle_share" -> "ratio",
      "storage.ingest_ms" -> "ms", "storage.commits" -> "count",
      "storage.write_amp" -> "ratio", "storage.space_amp" -> "ratio",
      "storage.files" -> "count", "views.factgrid_ms" -> "ms",
      "views.trialbalance_ms" -> "ms", "views.factquery_ms" -> "ms",
      "jvm.gc_ms_per_op" -> "ms", "jvm.codegen_compiles" -> "count",
      "trace.uncovered_share" -> "ratio", "trace.requests_over_tolerance" -> "count"
    ).foreach { case (n, u) => r.layer(n, 0.0, u) }
    IndexLifecycle.BatchGates.foreach { g =>
      r.layer(s"index.${g}_s", 0.0, "s"); r.layer(s"index.${g}_jobs", 0.0, "count")
      r.layer(s"index.${g}_tasks", 0.0, "count"); r.layer(s"index.${g}_write_bytes", 0.0, "bytes")
    }
  }

  /** Spark listener totals over the timed region, per completed op. */
  def spark(env: Env, r: Result, fromMs: Long, toMs: Long, ops: Long): Unit =
    env.events.foreach { ev =>
      ev.drain()
      val w = ev.window(fromMs, toMs)
      val n = math.max(1L, ops).toDouble
      r.layer("spark.jobs_per_op", w.jobs / n, "count")
      r.layer("spark.stages_per_op", w.stages / n, "count")
      r.layer("spark.tasks_per_op", w.tasks / n, "count")
      r.layer("spark.shuffle_bytes_per_op", w.shuffleBytes / n, "bytes")
      r.layer("spark.spill_bytes", w.spillBytes.toDouble, "bytes")
      r.layer("spark.executor_run_ms_per_op", w.runMs / n, "ms")
      r.layer("spark.executor_cpu_ms_per_op", w.cpuMs / n, "ms")
      val coreMs = env.cpus.toDouble * math.max(1L, toMs - fromMs)
      r.layer("spark.core_idle_share", math.max(0.0, 1.0 - w.busyCoreMs / coreMs), "ratio")
    }

  /** Request-path layers from the serve counters and the trace. The
    * trace check: a request's blocking steps (queue wait, governance,
    * cache, compile, Catalyst, execution/streaming, reply) must cover
    * its wall time to within [[TolMs]] + [[TolShare]] of it. */
  val TolMs = 1.0
  val TolShare = 0.02

  /** One line per completed request, in issue order, written after the
    * timed region: op, issue offset, latency, first chunk, queue wait. */
  def writeRequests(env: Env, t0: Long, timings: Seq[Timing]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(
      new java.io.File(env.outDir, "requests.jsonl").toPath)
    try timings.sortBy(_.issue).foreach { t =>
      w.write(Json.write(mutable.LinkedHashMap("op" -> t.op, "issue_ms" -> Stats.ms(t.issue - t0),
        "latency_ms" -> Stats.ms(t.latencyNs), "first_chunk_ms" -> Stats.ms(t.firstChunkNs),
        "queue_wait_ms" -> Stats.ms(t.queueWaitNs), "cache_hit" -> t.cacheHit,
        "streamed" -> t.streamed)))
      w.newLine()
    } finally w.close()
  }

  def served(env: Env, r: Result, s: Served, timings: Seq[Timing]): Unit = {
    r.layer("serve.queue_wait_ms", Stats.mean(timings.map(t => Stats.ms(t.queueWaitNs))), "ms")
    r.layer("serve.cache_hit_ratio",
      if (s.lookups.get == 0) 0.0 else s.hits.get.toDouble / s.lookups.get, "ratio")
    r.layer("serve.size_class_miss_ratio",
      if (s.executed.get == 0) 0.0 else s.sizeMisses.get.toDouble / s.executed.get, "ratio")
    r.layer("serve.timeouts", s.timeouts.get.toDouble, "count")
    r.layer("serve.rejects", s.rejects.get.toDouble, "count")
    val n = math.max(1L, s.tracked.get).toDouble
    r.layer("spark.analysis_ms", s.analysisMs.sum / n, "ms")
    r.layer("spark.optimization_ms", s.optimizationMs.sum / n, "ms")
    r.layer("spark.planning_ms", s.planningMs.sum / n, "ms")
    if (env.traced) {
      val spans = env.tracer.all
      def meanMs(name: String): Double =
        Stats.mean(spans.filter(_.name == name).map(x => Stats.ms(x.durNs)))
      r.layer("serve.governance_us", meanMs("serve.governance") * 1000.0, "us")
      r.layer("serve.stream_ms", meanMs("serve.stream"), "ms")
      r.layer("query.compile_ms", meanMs("query.compile"), "ms")
      val self = env.tracer.selfTimes
      val roots = spans.filter(_.name == "request")
      val uncovered = roots.map(x => self(x.id))
      r.layer("trace.uncovered_share",
        if (roots.isEmpty) 0.0 else uncovered.sum.toDouble / roots.map(_.durNs).sum, "ratio")
      val over = roots.count(x => Stats.ms(self(x.id)) > TolMs + TolShare * Stats.ms(x.durNs))
      r.layer("trace.requests_over_tolerance", over.toDouble, "count")
      if (over > 0) env.out.fail("trace_coverage", "trace",
        s"$over of ${roots.size} requests: the self times of their steps leave more than " +
          s"$TolMs ms + ${TolShare * 100}% of the request's wall time uncovered")
    }
  }
}

/** Runs independent work on threads of the JVM. */
object Parallel {
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      .map(_.get())
    finally pool.shutdownNow(): Unit
  }
  def foreach[A](xs: Seq[A], threads: Int)(f: A => Unit): Unit = map(xs, threads)(f): Unit

  /** Run `body` on a new thread; the returned function waits for it and
    * gives its result, or throws its failure. */
  def fork[A](name: String)(body: => A): () => A = {
    val f = new java.util.concurrent.CompletableFuture[A]()
    new Thread(() => try f.complete(body): Unit
      catch { case t: Throwable => f.completeExceptionally(t): Unit }, name).start()
    () => try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }
}
