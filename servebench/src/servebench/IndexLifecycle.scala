package servebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** `index_lifecycle`: batch passes over the persisted-index [[Gates]],
  * each gate's frame written to the `noop` sink (every column computed).
  * `ingest_index` runs [[BatchGates]] with a ledger step on a thread of
  * its own beside [[LedgerBeside]]: one generated filing ingested into a
  * subgraph store and its financial views read. Passes repeat until the
  * run's time is used; at least one runs. There is no warm-up pass: a
  * maintenance batch runs in a fresh process. */
object IndexLifecycle {
  /** Together these cover all five persisted-index families: t63 the
    * IVF index, t76 the PQ-IVF index, and t75 the multi-index crawl over
    * the MinHash, embedding and BM25 indexes (admission, cross-index
    * dedup, maintenance). */
  val Gates: Seq[String] = Seq(
    "t63_ivf_delete", "t75_crawl_dedup_maint", "t76_pqivf_persisted")
  /** The gates of `ingest_index`: all but t63 (about 9 s on 4 cpus),
    * which the benchmark's run-time budget leaves no room for; t76's
    * PQ-IVF index keeps the IVF index's inverted-file layout. */
  val BatchGates: Seq[String] = Seq("t75_crawl_dedup_maint", "t76_pqivf_persisted")
  /** The financial views read after each ledger write. */
  val Views: Seq[String] = Seq("trialbalance", "factgrid", "factquery")

  /** One batch operation: a gate, the ledger write or a view read. */
  final case class Call(op: String, pass: Int, wallS: Double, fromMs: Long, toMs: Long)

  /** Canonical row hash of a result (columns in name order, rows as
    * text, sorted), with that column-sorted result itself. */
  def hash(df: org.apache.spark.sql.DataFrame): (String, org.apache.spark.sql.DataFrame) = {
    val sorted = df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val rows = sorted.collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Stats.canonical(rows.toSeq.map(_.toSeq)).foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    (md.digest().map(b => f"$b%02x").mkString,
      df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), sorted.schema))
  }

  /** Verified hashes: a flat JSON object of gate → sha256. */
  def readHashes(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else Json.mapper.readValue(f, classOf[java.util.Map[String, String]]).asScala.toMap
  }

  /** `verifiedHashes`: gate → output hash from a run whose outputs
    * matched the DuckDB oracles (`run.py --verify-index` records them).
    * With `verify`, outputs are written for that check instead. With
    * `ledger`, each pass runs [[IngestBatch]]'s step beside
    * [[LedgerBeside]]. */
  def run(env: Env, verifiedHashes: Map[String, String], verify: Boolean,
      ledger: Boolean): Result = {
    import env._
    val r = new Result(if (ledger) "ingest_index" else "index_lifecycle")
    Layers.defaults(r)
    val gates = if (ledger) BatchGates else Gates
    val verifyOut = if (verify) Some(new java.io.File(outDir, "gates")) else None
    val hashes = mutable.LinkedHashMap.empty[String, String]
    val calls = mutable.ArrayBuffer.empty[Call]

    /** Time one batch operation; a failure is counted by its name. */
    def step(op: String, p: Int)(body: => Unit): Unit = {
      out.attempted.incrementAndGet()
      try {
        val from = System.currentTimeMillis(); val t0 = System.nanoTime()
        body
        calls += Call(op, p, Stats.sec(t0), from, System.currentTimeMillis())
      } catch { case t: Throwable =>
        out.fail(op, "exception", s"${t.getClass.getName}: ${t.getMessage}")
      }
    }

    /** One gate call, then its output checked outside the timed call. */
    def gate(g: String, p: Int): Unit = {
      var df: org.apache.spark.sql.DataFrame = null
      spark.sparkContext.setLocalProperty(SparkEvents.OpTag, g)
      step(g, p) {
        df = tracer.time(0L, p.toLong, s"index.$g") {
          val d = SparkEntry.queries(g)(spark, dataDir)
          d.write.mode("overwrite").format("noop").save()
          d
        }
      }
      spark.sparkContext.setLocalProperty(SparkEvents.OpTag, null)
      if (df != null) try {
        val (h, result) = hash(df)
        verifiedHashes.get(g) match {
          case _ if verifyOut.isDefined =>
            // verification run: the output goes to the DuckDB oracle check
            result.coalesce(1).write.mode("overwrite")
              .parquet(new java.io.File(verifyOut.get, g).toString)
          case Some(want) if want != h =>
            out.fail(g, "wrong", s"pass $p output hash $h differs from the oracle-verified $want")
          case Some(_) =>
          case None => out.fail(g, "wrong", "no oracle-verified hash for this gate")
        }
        hashes(g) = h
      } catch { case t: Throwable =>
        out.fail(g, "exception", s"hashing the output: ${t.getClass.getName}: ${t.getMessage}")
      }
    }

    // set-up: the workload's state is its input corpus; read it
    // SetupRounds times and count the median
    val rounds = (1 to SetupRounds).map { _ =>
      val t = System.nanoTime()
      graft.sources.Tables.invalidate()
      graft.sources.Tables.documents(spark, dataDir).count()
      graft.sources.Tables.embeddings(spark, dataDir).count()
      Stats.sec(t)
    }
    val batch = if (ledger) Some(new IngestBatch(env)) else None
    r.metric("setup_s", Some(bootS + Stats.median(rounds).get), "s")
    r.notes("corpus_read_s") = rounds

    val gc0 = Jvm.gcMs; val cg0 = Jvm.codegenCompiles
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val passes = mutable.ArrayBuffer.empty[Double]
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val p = passes.size
      val p0 = System.nanoTime()
      gates.foreach { g =>
        val ledgerStep = if (g == LedgerBeside) batch.map(_.start(p)) else None
        gate(g, p)
        ledgerStep.foreach(join => calls ++= join())
      }
      passes += Stats.sec(p0)
    }
    val gcMs = Jvm.gcMs - gc0; val compiles = Jvm.codegenCompiles - cg0

    r.metric("batch_s", Stats.median(passes.toSeq), "s")
    r.notes("passes") = passes.size
    r.notes("pass_s") = passes
    r.notes("op_s") = calls.map(c => c.op -> c.wallS).toSeq
    // the end-to-end figures of a batch: op_p50_ms is the median served
    // read (the view reads; the gate calls where there are none), and
    // ops_per_s counts every timed call
    val reads = calls.filter(c => Views.contains(c.op))
    r.notes("op_p50_ms") = Stats.median((if (reads.nonEmpty) reads else calls).map(_.wallS * 1000.0).toSeq)
    r.notes("ops_per_s") = calls.size / passes.sum
    r.notes("hashes") = hashes
    if (verify) r.notes("oracle_sql") = gates.map(g => g -> SparkEntry.oracleSql(g)).toMap

    env.events.foreach(_.drain())
    gates.foreach { g =>
      val cs = calls.filter(_.op == g).toSeq
      r.layer(s"index.${g}_s", Stats.median(cs.map(_.wallS)).getOrElse(0.0), "s")
      env.events.foreach { ev =>
        // the gate's own jobs only: the ledger step may run beside it
        val ws = cs.map(c => ev.window(c.fromMs, c.toMs, Some(g)))
        r.layer(s"index.${g}_jobs", Stats.mean(ws.map(_.jobs.toDouble)), "count")
        r.layer(s"index.${g}_tasks", Stats.mean(ws.map(_.tasks.toDouble)), "count")
        r.layer(s"index.${g}_write_bytes", Stats.mean(ws.map(_.writeBytes.toDouble)), "bytes")
      }
    }
    batch.foreach(_.report(r, calls.toSeq))
    if (calls.nonEmpty) Layers.spark(env, r, calls.map(_.fromMs).min, calls.map(_.toMs).max, calls.size)
    r.layer("jvm.gc_ms_per_op", gcMs.toDouble / math.max(1, calls.size), "ms")
    r.layer("jvm.codegen_compiles", compiles.toDouble, "count")
    batch.foreach(_.check())
    r
  }

  val SetupRounds = 3
  /** The gate the ledger step runs beside: t75 spends most of its wall
    * time outside Spark tasks, leaving cores idle. */
  val LedgerBeside = "t75_crawl_dedup_maint"
}
