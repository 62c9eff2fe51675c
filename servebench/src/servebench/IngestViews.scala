package servebench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.etl.XbrlEtl
import graft.schema.RoboledgerSchema
import graft.serve.{QueryQueue, QueryService, ResultCache}
import graft.storage.GraphStore
import graft.views.{FactGrid, FactQuery, TrialBalance}

/** `ingest_views`: one closed-loop writer ingesting generated filings
  * into a subgraph store while [[Readers]] closed-loop readers request
  * the financial views of entities whose filings are committed. */
object IngestViews {
  val Readers = 3
  val SetupRounds = 3
  /** Filings committed during set-up, so readers have targets at once. */
  val InitialFilings = 2
  val Kinds = Seq("trialbalance", "factgrid", "factquery", "report_status")
  val ReportStatus =
    """MATCH (e:Entity)-[:ENTITY_HAS_REPORT]->(r:Report)
       WHERE e.identifier = $eid
       RETURN r.identifier AS report, r.processed AS processed LIMIT 10"""
  val MarkProcessed =
    "MATCH (r:Report) WHERE r.identifier = $rid SET r.processed = true"

  /** Chart, periods, unit and one dimensioned fact: the shared tables
    * every filing's facts and ledger lines point at. */
  def shared(spark: SparkSession, store: GraphStore): Long = {
    import spark.implicits._
    val fid = Some("shared")
    store.ingestNodes("Element", Ledger.elements.map { case (id, name, cls, bal) =>
      (id, s"uri:$id", s"acct:$id", name, cls, bal, "duration")
    }.toDF("identifier", "uri", "qname", "name", "classification", "balance",
      "period_type"), fid)
    store.ingestNodes("Period", Ledger.periods.map { case (id, s, e) =>
      (id, s, e, 2024, "duration")
    }.toDF("identifier", "start_date", "end_date", "fiscal_year", "period_type"), fid)
    store.ingestNodes("Unit", Seq(("usd", "iso4217:USD", "USD"))
      .toDF("identifier", "measure", "value"), fid)
    store.ingestNodes("FactDimension", Seq(("fd0", "axis:Segment", "member:A", "explicit"))
      .toDF("identifier", "axis_uri", "member_uri", "type"), fid)
    store.ingestRels("FACT_HAS_DIMENSION", Seq(("fact-fixture", "fd0")).toDF("from", "to"), fid)
    store.ingestRels("FACT_DIMENSION_AXIS_ELEMENT", Seq(("fd0", "elem1000")).toDF("from", "to"), fid)
    store.ingestRels("FACT_DIMENSION_MEMBER_ELEMENT", Seq(("fd0", "elem1100")).toDF("from", "to"), fid)
    Ledger.elements.size + Ledger.periods.size + 5L
  }

  /** Bulk ingest of one filing through the store's COPY-style entry
    * points; fact ids come from [[XbrlEtl.factId]]. Returns rows. */
  def ingest(spark: SparkSession, store: GraphStore, f: Filing): Long = {
    import spark.implicits._
    val fid = Some(f.report)
    store.ingestNodes("Entity", Seq((f.entity, s"Entity ${f.k}", "company", "active"))
      .toDF("identifier", "name", "entity_type", "status"), fid)
    store.ingestNodes("Report", Seq((f.report, "10-K", "2024-12-31", false))
      .toDF("identifier", "form", "period_end_date", "processed"), fid)
    store.ingestRels("ENTITY_HAS_REPORT", Seq((f.entity, f.report)).toDF("from", "to"), fid)
    store.ingestNodes("Transaction", f.txns.map(t =>
      (t.id, java.sql.Date.valueOf(t.date), t.desc, "journal", t.amount, "USD"))
      .toDF("identifier", "date", "description", "type", "amount", "currency"), fid)
    store.ingestNodes("LineItem", f.lines.map(l => (l.id, l.debit, l.credit))
      .toDF("identifier", "debit_amount", "credit_amount"), fid)
    store.ingestRels("ENTITY_HAS_TRANSACTION", f.txns.map(t => (f.entity, t.id))
      .toDF("from", "to"), fid)
    store.ingestRels("TRANSACTION_HAS_LINE_ITEM", f.lines.map(l => (l.txn, l.id))
      .toDF("from", "to"), fid)
    store.ingestRels("LINE_ITEM_RELATES_TO_ELEMENT", f.lines.map(l => (l.id, l.element))
      .toDF("from", "to"), fid)
    val facts = f.facts.map(x => (x.context, x.element, x.period, x.value))
      .toDF("ctx", "element", "period", "numeric_value")
      .withColumn("identifier",
        XbrlEtl.factId(lit(f.entity), col("ctx"), col("element"), col("period")))
    store.ingestNodes("Fact", facts.select(col("identifier"), col("numeric_value"),
      lit("Numeric").as("fact_type"), lit("-2").as("decimals"),
      lit("inline").as("value_type")), fid)
    def rel(tpe: String, from: org.apache.spark.sql.Column, to: org.apache.spark.sql.Column): Unit =
      store.ingestRels(tpe, facts.select(from.as("from"), to.as("to")), fid): Unit
    rel("REPORT_HAS_FACT", lit(f.report), col("identifier"))
    rel("FACT_HAS_ELEMENT", col("identifier"), col("element"))
    rel("FACT_HAS_PERIOD", col("identifier"), col("period"))
    rel("FACT_HAS_UNIT", col("identifier"), lit("usd"))
    rel("FACT_HAS_ENTITY", col("identifier"), lit(f.entity))
    f.rowCount + 1 + f.txns.size + 2L * f.lines.size + 5L * f.facts.size
  }

  def manifestVersion(dir: java.io.File): Int =
    Option(dir.list()).toSeq.flatten.filter(_.matches("_manifest\\.v\\d+"))
      .map(_.stripPrefix("_manifest.v").toInt).maxOption.getOrElse(0)

  final case class Step(ms: Double, ingestMs: Double, writeMs: Double, rows: Long,
      inputBytes: Long, commits: Int)

  /** One write: the filing's bulk ingest (after the shared tables when
    * `withShared`), then its processed flag through Cypher, traced as
    * `storage.ingest` and `query.write` under a `write` root. Throws
    * when either fails. */
  def write(env: Env, store: GraphStore, svc: QueryService, f: Filing, req: Long,
      withShared: Boolean): Step = {
    import env._
    val graphDir = new java.io.File(store.root, store.graphId)
    val root = tracer.newId()
    val v0 = manifestVersion(graphDir)
    val s0 = System.nanoTime()
    val rows = tracer.time(root, req, "storage.ingest") {
      (if (withShared) shared(spark, store) else 0L) + ingest(spark, store, f)
    }
    val s1 = System.nanoTime()
    tracer.time(root, req, "query.write")(svc.execute(MarkProcessed, Map("rid" -> f.report)))
    val s2 = System.nanoTime()
    tracer.record(root, 0L, req, "write", s0, s2)
    Step(Stats.ms(s2 - s0), Stats.ms(s1 - s0), Stats.ms(s2 - s1), rows, f.inputBytes,
      manifestVersion(graphDir) - v0)
  }

  /** Storage, write and view layers from the write steps and the view
    * reads' timings. `setupBytes`: input already committed in set-up. */
  def writeLayers(r: Result, st: Seq[Step], ts: Seq[Timing], graphDir: java.io.File,
      setupBytes: Long, ioBytes: Option[Long]): Unit = {
    r.layer("query.write_ms", Stats.mean(st.map(_.writeMs)), "ms")
    r.layer("storage.ingest_ms", Stats.mean(st.map(_.ingestMs)), "ms")
    r.layer("storage.commits", Stats.mean(st.map(_.commits.toDouble)), "count")
    val inputBytes = st.map(_.inputBytes).sum
    ioBytes.filter(_ >= 0).foreach(io =>
      r.layer("storage.write_amp", io.toDouble / math.max(1L, inputBytes), "ratio"))
    val (files, bytes) = DiskUsage(graphDir)
    r.layer("storage.space_amp", bytes.toDouble / math.max(1L, setupBytes + inputBytes), "ratio")
    r.layer("storage.files", files.toDouble, "count")
    Seq("factgrid", "trialbalance", "factquery").foreach { v =>
      r.layer(s"views.${v}_ms",
        Stats.mean(ts.filter(_.op == v).map(t => Stats.ms(t.end - t.start))), "ms")
    }
  }

  def run(env: Env): Result = {
    import env._
    val r = new Result("ingest_views")
    Layers.defaults(r)
    val graphId = s"kg${hex16}_ledger"

    def build(root: java.io.File, filings: Int): (GraphStore, Long) = {
      val store = new GraphStore(spark, root.toString, graphId, RoboledgerSchema.schema)
      val svc = new QueryService(store)
      var bytes = 0L
      shared(spark, store)
      (0 until filings).foreach { k =>
        val f = Ledger.filing(seed, k)
        ingest(spark, store, f)
        svc.execute(MarkProcessed, Map("rid" -> f.report))
        bytes += f.inputBytes
      }
      (store, bytes)
    }

    // set-up: build a fresh store with the shared tables and the
    // initial filings SetupRounds times (set-up time counts the median
    // round), then warm the read path once with every request kind
    val rounds = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      val (store, bytes) = build(new java.io.File(workDir, s"ledger$i"), InitialFilings)
      (Stats.sec(t0), store, bytes)
    }
    val (_, store, setupBytes) = rounds.last
    val w0 = System.nanoTime()
    val warmOut = new Outcomes
    val warmQueue = new QueryQueue()
    val warm = new Served(spark, new QueryService(store), graphId,
      new ResultCache[Reply](), warmQueue, new Tracer(false), warmOut)
    Parallel.foreach(Kinds, Readers)(kind =>
      warm.call(kind, "warmup")(work(warm, store, kind, Ledger.filing(seed, 0).entity)))
    warmQueue.shutdown()
    warmOut.failures.asScala.foreach(f => out.fail(s"setup:${f.op}", f.kind, f.msg))
    val warmS = Stats.sec(w0)
    r.metric("setup_s", Some(bootS + Stats.median(rounds.map(_._1)).get + warmS), "s")
    r.notes("build_s") = rounds.map(_._1)
    r.notes("warmup_s") = warmS

    val cache = new ResultCache[Reply]()
    val svc = new QueryService(store, Some(cache))
    val queue = new QueryQueue()
    val served = new Served(spark, svc, graphId, cache, queue, tracer, out)
    val committed = new CopyOnWriteArrayList[Filing]((0 until InitialFilings).map(Ledger.filing(seed, _)).asJava)
    val replies = new ConcurrentLinkedQueue[Reply]()
    val timings = new ConcurrentLinkedQueue[Timing]()
    val steps = new ConcurrentLinkedQueue[Step]()
    if (inject) served.injectThrow = Some("selftest_throw")
    val graphDir = new java.io.File(store.root, graphId)

    val gc0 = Jvm.gcMs; val cg0 = Jvm.codegenCompiles; val io0 = Jvm.ioWriteBytes
    val wall0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val writer = new Thread(() => {
      var k = InitialFilings
      while (System.nanoTime() < deadline) {
        val f = Ledger.filing(seed, k)
        out.attempted.incrementAndGet()
        try {
          steps.add(write(env, store, svc, f, -k.toLong, withShared = false))
          committed.add(f)
        } catch { case t: Throwable =>
          out.fail("write_filing", "exception", s"${t.getClass.getName}: ${t.getMessage}")
        }
        k += 1
      }
    }, "servebench-writer")
    writer.start()
    val readers = (0 until Readers).map { c =>
      val th = new Thread(() => {
        val rng = new SplittableRandom(seed * 31L + c)
        while (System.nanoTime() < deadline) {
          val f = committed.get(rng.nextInt(committed.size))
          val kind = Kinds(rng.nextInt(Kinds.size))
          served.call(kind, s"reader$c")(work(served, store, kind, f.entity)).foreach {
            case (rep, t) => replies.add(rep.copy(params = Map("k" -> f.k))); timings.add(t)
          }
        }
      }, s"servebench-reader-$c")
      th.start(); th
    }
    (readers :+ writer).foreach(_.join())
    val wall1 = System.currentTimeMillis()
    val gcMs = Jvm.gcMs - gc0; val compiles = Jvm.codegenCompiles - cg0
    val ioBytes = Jvm.ioWriteBytes - io0
    queue.shutdown()

    val ts = timings.asScala.toSeq
    val lat = ts.map(t => Stats.ms(t.latencyNs))
    val st = steps.asScala.toSeq
    r.metric("read_p50_ms", Stats.median(lat), "ms")
    r.metric("read_p95_ms", Stats.pct(lat, 95), "ms")
    r.metric("first_chunk_p50_ms", Stats.median(ts.map(t => Stats.ms(t.firstChunkNs))), "ms")
    r.metric("read_qps", Some(Stats.closedLoopRate(ts, t0)), "1/s")
    Layers.writeRequests(env, t0, ts)
    r.metric("write_p50_ms", Stats.median(st.map(_.ms)), "ms")
    r.metric("ingest_rows_per_s",
      if (st.isEmpty) None else Some(st.map(_.rows).sum / (st.map(_.ms).sum / 1000.0)), "1/s")
    r.notes("reads") = ts.size
    r.notes("writes") = st.size
    r.notes("filing_rows") = st.headOption.map(_.rows).getOrElse(0L)

    val reps = replies.asScala.toSeq
    r.layer("serve.rows_out", Stats.mean(reps.map(_.rows.toDouble)), "count")
    r.layer("serve.chunks_out", Stats.mean(reps.map(_.chunks.toDouble)), "count")
    Layers.served(env, r, served, ts)
    val ops = ts.size + st.size
    Layers.spark(env, r, wall0, wall1, ops)
    r.layer("jvm.gc_ms_per_op", gcMs.toDouble / math.max(1, ops), "ms")
    r.layer("jvm.codegen_compiles", compiles.toDouble, "count")
    // process-wide: the readers' spill and shuffle writes count too
    writeLayers(r, st, ts, graphDir, setupBytes, Some(ioBytes))

    check(env, reps)
    r
  }

  def work(s: Served, store: GraphStore, kind: String, entity: String)(ctx: Ctx): Reply =
    kind match {
      case "trialbalance" => s.view(kind)(TrialBalance(store, "2024-01-01", "2024-12-31", Some(entity)))(ctx)
      case "factgrid" => s.view(kind)(FactGrid(store, Some(entity)))(ctx)
      case "factquery" => s.view(kind)(FactQuery(store, Some(entity)))(ctx)
      case "report_status" => s.cypher(CypherReq(kind, ReportStatus, Map("eid" -> entity)))(ctx)
    }

  /** Trial balances net to zero and match the generated ledger, every
    * fact-grid cell equals the generator's sum, fact queries return
    * every fact, and a committed report reads as processed. */
  def check(env: Env, replies: Seq[Reply]): Unit = {
    import env._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val reps =
      if (!inject || replies.isEmpty) replies
      else replies.updated(0, replies.head.copy(op = "selftest_wrong",
        lines = Some(Array("""{"element_id":"x","total_debits":1.0,"total_credits":0.0}""")),
        small = None))
    reps.foreach { rep =>
      val f = Ledger.filing(seed, rep.params("k").asInstanceOf[Int])
      lazy val rows = rep.lines.get.toSeq.map(json.readTree)
      val problem: Option[String] = rep.op match {
        case "trialbalance" | "selftest_wrong" =>
          val d = rows.map(_.get("total_debits").asDouble).sum
          val c = rows.map(_.get("total_credits").asDouble).sum
          if (!Stats.close(d, c)) Some(s"${f.entity}: debits $d != credits $c")
          else if (!Stats.close(d, f.totalDebits)) Some(s"${f.entity}: debits $d, generated ${f.totalDebits}")
          else None
        case "factgrid" =>
          val cells = f.gridCells
          val got = rows.flatMap { n =>
            Ledger.periods.map { case (_, _, end) =>
              (n.get("element_id").asText, end) -> Option(n.get(end)).map(_.asDouble).getOrElse(Double.NaN)
            }
          }.toMap
          if (got.keySet != cells.keySet) Some(s"${f.entity}: grid has ${got.size} cells, generated ${cells.size}")
          else cells.collectFirst { case (k, v) if !Stats.close(got(k), v) =>
            s"${f.entity}: cell $k = ${got(k)}, generated $v"
          }
        case "factquery" =>
          val sum = rows.map(_.get("numeric_value").asDouble).sum
          if (rows.size != f.facts.size) Some(s"${f.entity}: ${rows.size} facts, generated ${f.facts.size}")
          else if (!Stats.close(sum, f.facts.map(_.value).sum)) Some(s"${f.entity}: fact sum $sum")
          else None
        case "report_status" =>
          val got = Stats.canonical(rep.small.get)
          val want = Stats.canonical(Seq(Seq(f.report, true)))
          if (got != want) Some(s"${f.entity}: $got") else None
      }
      problem.foreach(p => out.fail(rep.op, "wrong", p))
    }
  }
}

/** The ledger step of the `ingest_index` batch, on a subgraph store
  * that starts empty: one write that ingests a generated filing (with
  * the shared tables it points at, as a first filing brings them) and
  * marks its report processed, then three reads of each financial view of
  * the filing's entity through the queue and the NDJSON streamer. */
final class IngestBatch(env: Env) {
  import env._
  private val LedgerTag = "ledger"
  private val graphId = s"kg${hex16}_ledger"
  private val store = new GraphStore(spark, new java.io.File(workDir, "ledger").toString,
    graphId, RoboledgerSchema.schema)
  private val svc = new QueryService(store)
  private val queue = new QueryQueue()
  private val served = new Served(spark, svc, graphId, new ResultCache[Reply](), queue, tracer, out)
  private val graphDir = new java.io.File(store.root, graphId)
  private val steps = scala.collection.mutable.ArrayBuffer.empty[IngestViews.Step]
  private val filings = scala.collection.mutable.ArrayBuffer.empty[Filing]
  private val replies = scala.collection.mutable.ArrayBuffer.empty[Reply]
  private val timings = scala.collection.mutable.ArrayBuffer.empty[Timing]

  /** Run pass `p` on its own thread, its Spark jobs tagged "ledger";
    * the returned function waits for it and gives its timed calls. */
  def start(p: Int): () => Seq[IndexLifecycle.Call] = Parallel.fork("servebench-ledger") {
    spark.sparkContext.setLocalProperty(SparkEvents.OpTag, LedgerTag)
    pass(p)
  }

  /** Pass `p`: the write of filing `p`, then the view reads of its
    * entity. Returns the timed calls. */
  private def pass(p: Int): Seq[IndexLifecycle.Call] = {
    val f = Ledger.filing(seed, p)
    out.attempted.incrementAndGet()
    val from = System.currentTimeMillis()
    val write = try {
      val st = IngestViews.write(env, store, svc, f, -(p + 1).toLong, withShared = p == 0)
      steps += st; filings += f
      Seq(IndexLifecycle.Call("write_filing", p, st.ms / 1000.0, from, System.currentTimeMillis()))
    } catch { case t: Throwable =>
      out.fail("write_filing", "exception", s"${t.getClass.getName}: ${t.getMessage}")
      return Seq.empty
    }
    // each view three times: the reads' median is then the middle read
    // of the middle-cost view, not a boundary between two views' reads
    write ++ Seq.fill(3)(IndexLifecycle.Views).flatten.flatMap { kind =>
      val from = System.currentTimeMillis()
      served.call(kind, "batch")(IngestViews.work(served, store, kind, f.entity)).map { case (rep, t) =>
        replies += rep.copy(params = Map("k" -> f.k)); timings += t
        IndexLifecycle.Call(kind, p, t.latencyNs / 1e9, from, System.currentTimeMillis())
      }
    }
  }

  /** The ledger's end-to-end figures (printed in the report) and its
    * per-layer metrics. */
  def report(r: Result, calls: Seq[IndexLifecycle.Call]): Unit = {
    queue.shutdown()
    val lat = timings.map(t => Stats.ms(t.latencyNs)).toSeq
    r.metric("read_p50_ms", Stats.median(lat), "ms")
    r.metric("read_p95_ms", Stats.pct(lat, 95), "ms")
    r.metric("first_chunk_p50_ms", Stats.median(timings.map(t => Stats.ms(t.firstChunkNs)).toSeq), "ms")
    r.metric("write_p50_ms", Stats.median(steps.map(_.ms).toSeq), "ms")
    r.metric("ingest_rows_per_s",
      if (steps.isEmpty) None else Some(steps.map(_.rows).sum / (steps.map(_.ms).sum / 1000.0)), "1/s")
    r.notes("filing_rows") = steps.headOption.map(_.rows).getOrElse(0L)
    r.layer("serve.rows_out", Stats.mean(replies.map(_.rows.toDouble).toSeq), "count")
    r.layer("serve.chunks_out", Stats.mean(replies.map(_.chunks.toDouble).toSeq), "count")
    Layers.served(env, r, served, timings.toSeq)
    // bytes written by the write steps' own Spark jobs: the index gate
    // beside them writes too, so a process-wide counter would mix both
    val written = env.events.map { ev =>
      calls.filter(_.op == "write_filing").map(c => ev.window(c.fromMs, c.toMs, Some(LedgerTag)).writeBytes).sum
    }
    IngestViews.writeLayers(r, steps.toSeq, timings.toSeq, graphDir, 0L, written)
  }

  /** The views' answers, and every written report reads processed. */
  def check(): Unit = {
    IngestViews.check(env, replies.toSeq)
    val processed = store.node("Report").collect()
      .map(row => row.getAs[String]("identifier") -> row.getAs[Any]("processed")).toMap
    filings.foreach { f =>
      if (processed.get(f.report) != Some(true))
        out.fail("write_filing", "wrong", s"${f.report}: processed = ${processed.get(f.report)}")
    }
  }
}
