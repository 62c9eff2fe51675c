package servebench

import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: boots the session, runs one workload,
  * checks its answers and writes `result.json` (and, traced,
  * `spans.jsonl`) into the output directory. `run.py` is the entry
  * point that builds this, generates the inputs and prints the result.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --out DIR
  *             [--inject 1] [--hashes FILE] [--verify 1]
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // numbers in JSON
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cpus = Runtime.getRuntime.availableProcessors()
    val workDir = new java.io.File(a("work"))
    val outDir = new java.io.File(a("out"))
    outDir.mkdirs()

    val t0 = System.nanoTime()
    val spark = graft.SparkBoot.session(cpus)
    val tracer = new Tracer(a("trace") == "1")
    val events = if (tracer.on) {
      val ev = new SparkEvents; spark.sparkContext.addSparkListener(ev); Some(ev)
    } else None
    val env = Env(spark, cpus, a("seed").toLong, a("seconds").toInt, a("data"),
      workDir, outDir, tracer, events, new Outcomes, a.get("inject").contains("1"),
      Stats.sec(t0))

    val r = workload match {
      case "serve_cypher" => ServeCypher.run(env)
      case "ingest_views" => IngestViews.run(env)
      case "index_lifecycle" | "ingest_index" => IndexLifecycle.run(env,
        IndexLifecycle.readHashes(a.getOrElse("hashes", "")), a.get("verify").contains("1"),
        ledger = workload == "ingest_index")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // every end-to-end metric named for the benchmark, n/a where this
    // workload has no such operation
    Seq("read_p50_ms" -> "ms", "read_p95_ms" -> "ms", "first_chunk_p50_ms" -> "ms",
      "read_qps" -> "1/s", "write_p50_ms" -> "ms", "ingest_rows_per_s" -> "1/s",
      "batch_s" -> "s").foreach { case (n, u) => if (!r.e2e.contains(n)) r.metric(n, None, u) }
    val out = env.out
    val attempted = math.max(1L, out.attempted.get)
    r.metric("fail_ratio", Some(out.failed.toDouble / attempted), "ratio")
    r.metric("heap_live_mb", Some(Jvm.heapLiveMb), "MB")
    if (tracer.on) {
      tracer.writeJsonl(new java.io.File(outDir, "spans.jsonl").toPath)
      r.notes("span_self") = tracer.selfByName.toSeq.sortBy(_._1).map { case (n, (c, ms)) =>
        n -> Map("count" -> c, "self_ms" -> ms)
      }.to(scala.collection.immutable.ListMap)
    }
    spark.stop()

    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> env.seed, "trace" -> tracer.on,
      "spark_cores" -> cpus, "attempted" -> out.attempted.get, "failed" -> out.failed,
      "failures" -> out.failures.asScala.toSeq.map(f =>
        Map("op" -> f.op, "kind" -> f.kind, "msg" -> f.msg)),
      "e2e" -> r.e2e.map { case (n, (v, u)) =>
        n -> Map("value" -> v.flatMap(Json.num), "unit" -> u) },
      "layers" -> r.layers.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) },
      "notes" -> r.notes)
    Json.mapper.writeValue(new java.io.File(outDir, "result.json"), result)
  }
}
