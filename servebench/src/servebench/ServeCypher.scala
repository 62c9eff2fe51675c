package servebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.serve.{QueryQueue, QueryService, ResultCache, ResultStreamer}
import graft.sources.TpchGraph
import graft.storage.GraphStore

/** `serve_cypher`: [[Clients]] closed-loop clients (each waits for its
  * reply before sending the next request) against the sf0.1 TPC-H
  * graph materialized into a main-graph [[GraphStore]]. */
object ServeCypher {
  val Clients = 4
  val SetupRounds = 3
  val WarmupLookupsPerText = 2
  val WarmupThreads = 8

  def run(env: Env): Result = {
    import env._
    val r = new Result("serve_cypher")
    Layers.defaults(r)
    val tpch = new TpchGraph(spark, dataDir)
    val graphId = s"kg$hex16"

    // set-up: materialize the graph store SetupRounds times into fresh
    // roots (set-up time counts the median round), then warm up: every
    // text once and WarmupLookupsPerText lookups after each, from a
    // separate schedule stream and cache, so the timed region starts
    // with the code paths compiled. The warm-up is not measured
    // traffic, so it uses more threads than there are clients.
    def materialize(root: String): GraphStore = {
      val store = new GraphStore(spark, root, graphId, tpch.schema)
      tpch.schema.nodes.foreach(n => store.ingestNodes(n.name, tpch.node(n.name)))
      tpch.schema.rels.foreach(x => store.ingestRels(x.name, tpch.rel(x.name)))
      store
    }
    val rounds = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      val store = materialize(new java.io.File(workDir, s"store$i").toString)
      (Stats.sec(t0), store)
    }
    val store = rounds.last._2
    val nCust = spark.read.parquet(s"$dataDir/customer.parquet").count().toInt
    val w0 = System.nanoTime()
    val warmOut = new Outcomes
    val warmQueue = new QueryQueue()
    val warm = new Served(spark, new QueryService(store), graphId,
      new ResultCache[Reply](), warmQueue, new Tracer(false), warmOut)
    val sched = new RequestSchedule(seed, Clients, nCust)
    val lookups = Iterator.continually(sched.next()).filterNot(_.op.startsWith("c"))
    val warmReqs = CypherTexts.all.flatMap { case (op, text, p) =>
      CypherReq(op, text, p) +: lookups.take(WarmupLookupsPerText).toSeq
    }
    Parallel.foreach(warmReqs, WarmupThreads)(q => warm.call(q.op, "warmup")(warm.cypher(q)))
    warmQueue.shutdown()
    warmOut.failures.asScala.foreach(f => out.fail(s"setup:${f.op}", f.kind, f.msg))
    val warmS = Stats.sec(w0)
    r.metric("setup_s", Some(bootS + Stats.median(rounds.map(_._1)).get + warmS), "s")
    r.notes("materialize_s") = rounds.map(_._1)
    r.notes("warmup_s") = warmS

    val cache = new ResultCache[Reply]()
    val queue = new QueryQueue()
    val served = new Served(spark, new QueryService(store, Some(cache)), graphId,
      cache, queue, tracer, out)
    val replies = new ConcurrentLinkedQueue[Reply]()
    val timings = new ConcurrentLinkedQueue[Timing]()
    if (inject) served.injectThrow = Some("selftest_throw")

    val gc0 = Jvm.gcMs; val cg0 = Jvm.codegenCompiles
    val wall0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val threads = (0 until Clients).map { c =>
      val th = new Thread(() => {
        val sched = new RequestSchedule(seed, c, nCust)
        while (System.nanoTime() < deadline) {
          val q = sched.next()
          served.call(q.op, s"client$c")(served.cypher(q)).foreach { case (rep, t) =>
            replies.add(rep); timings.add(t)
          }
        }
      }, s"servebench-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    val wall1 = System.currentTimeMillis()
    val gcMs = Jvm.gcMs - gc0; val compiles = Jvm.codegenCompiles - cg0
    queue.shutdown()

    val ts = timings.asScala.toSeq
    val lat = ts.map(t => Stats.ms(t.latencyNs))
    r.metric("read_p50_ms", Stats.median(lat), "ms")
    r.metric("read_p95_ms", Stats.pct(lat, 95), "ms")
    r.metric("first_chunk_p50_ms", Stats.median(ts.map(t => Stats.ms(t.firstChunkNs))), "ms")
    r.metric("read_qps", Some(Stats.closedLoopRate(ts, t0)), "1/s")
    Layers.writeRequests(env, t0, ts)
    r.notes("reads") = ts.size
    r.notes("streamed_reads") = ts.count(_.streamed)
    r.notes("cache_hit_reads") = ts.count(_.cacheHit)

    val reps = replies.asScala.toSeq
    r.layer("serve.rows_out", Stats.mean(reps.map(_.rows.toDouble)), "count")
    r.layer("serve.chunks_out", Stats.mean(reps.map(_.chunks.toDouble)), "count")
    Layers.served(env, r, served, ts)
    Layers.spark(env, r, wall0, wall1, ts.size)
    r.layer("jvm.gc_ms_per_op", gcMs.toDouble / math.max(1, ts.size), "ms")
    r.layer("jvm.codegen_compiles", compiles.toDouble, "count")

    check(env, reps)
    r
  }

  /** Every reply against an answer computed outside the timed region:
    * c01–c16 against the same text's gate on the virtual TPC-H graph,
    * lookups against the orders/customer parquet directly. */
  private def check(env: Env, replies: Seq[Reply]): Unit = {
    import env._
    // self-test: one lookup reply loses a row and gains a wrong one
    val firstLookup = replies.indexWhere(_.op == "lookup_orders")
    val reps =
      if (!inject || firstLookup < 0) replies
      else replies.updated(firstLookup, replies(firstLookup).copy(op = "selftest_wrong",
        small = replies(firstLookup).small.map(_.dropRight(1) :+ Seq("-1", 0.0, "X"))))
    val canon = reps.map { rep =>
      rep -> rep.small.map(Stats.canonical).getOrElse(rep.lines.get.toSeq.sorted)
    }
    val texts = CypherTexts.all.map(x => x._1 -> x._2).toMap
    val expected: Map[String, Seq[String]] =
      Parallel.map(reps.map(_.op).distinct.filter(texts.contains), Clients) { op =>
        val df = SparkEntry.queries(op)(spark, dataDir)
        val streamed = graft.serve.QueryGovernance.analyze(texts(op)).requiresStreaming
        op -> (if (streamed) ResultStreamer.ndjsonChunks(df).flatten.toSeq.sorted
               else Stats.canonical(df.collect().toSeq.map(_.toSeq)))
      }.toMap

    // lookups: expected rows per requested customer id, straight from
    // the parquet the graph was materialized from
    def byCid(ops: Set[String], df: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] = {
      val cids = reps.filter(x => ops(x.op)).map(_.params("cid").toString).distinct
      if (cids.isEmpty) Map.empty
      else df.where(col("cid").isin(cids: _*)).collect().toSeq
        .groupBy(_.getString(0)).map { case (k, rows) => k -> Stats.canonical(rows.map(_.toSeq.tail)) }
        .withDefaultValue(Seq.empty)
    }
    val ordersOf = byCid(Set("lookup_orders", "selftest_wrong"), spark.read.parquet(s"$dataDir/orders.parquet")
      .select(col("o_custkey").cast("string").as("cid"),
        col("o_orderkey").cast("string"), col("o_totalprice"), col("o_orderstatus")))
    val nationOf = byCid(Set("lookup_nation"), spark.read.parquet(s"$dataDir/customer.parquet")
      .join(spark.read.parquet(s"$dataDir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").cast("string").as("cid"), col("c_name"),
        col("c_acctbal"), col("n_name")))
    def want(rep: Reply): Option[Seq[String]] = rep.op match {
      case "lookup_orders" | "selftest_wrong" => Some(ordersOf(rep.params("cid").toString))
      case "lookup_nation" => Some(nationOf(rep.params("cid").toString))
      case op => expected.get(op)
    }

    canon.foreach { case (rep, got) =>
      want(rep) match {
        case Some(w) if w != got =>
          out.fail(rep.op, "wrong", s"${got.size} rows differ from the expected ${w.size}")
        case Some(_) =>
        case None => out.fail(rep.op, "wrong", "no expected answer for this operation")
      }
    }
  }
}
