package servebench

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, ExecutionException, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.serve._

/** Failed, rejected, timed-out and wrong operations, each with the
  * operation's name. Nothing is dropped: every attempt is counted. */
final class Outcomes {
  final case class Failure(op: String, kind: String, msg: String)
  val attempted = new AtomicLong(0)
  val failures = new ConcurrentLinkedQueue[Failure]()
  def fail(op: String, kind: String, msg: String): Unit =
    failures.add(Failure(op, kind, Option(msg).getOrElse("").take(300)))
  def failed: Int = failures.size
}

/** What a client receives. A small result keeps its rows; a streamed
  * one keeps its NDJSON lines (for the answer check afterwards). */
final case class Reply(
    op: String,
    rows: Long,
    chunks: Int,
    small: Option[IndexedSeq[Seq[Any]]],
    lines: Option[Array[String]],
    cacheHit: Boolean = false,
    params: Map[String, Any] = Map.empty)

/** Client-side times of one completed request (System.nanoTime). */
final case class Timing(op: String, client: String, issue: Long, start: Long, first: Long,
    end: Long, cacheHit: Boolean, streamed: Boolean) {
  def latencyNs: Long = end - issue
  def firstChunkNs: Long = first - issue
  def queueWaitNs: Long = start - issue
}

/** Per-request handle the work closure reports through. */
final class Ctx(val root: Long, val req: Long) {
  @volatile var start = 0L
  @volatile var first = 0L
  @volatile var done = 0L
  def firstChunk(): Unit = if (first == 0L) first = System.nanoTime()
}

/** The served request path, driven as a client would: submit to the
  * [[QueryQueue]], then inside the queued closure governance → result
  * cache → [[QueryService.execute]] → router policy (small results
  * through [[QueryTimeout.collectWithTimeout]], large ones as NDJSON
  * through [[ResultStreamer.ndjsonChunks]]) → response. */
final class Served(
    spark: SparkSession,
    svc: QueryService,
    graphId: String,
    cache: ResultCache[Reply],
    queue: QueryQueue,
    tracer: Tracer,
    out: Outcomes,
    timeoutMs: Long = QueryTimeout.DefaultTimeoutMs) {

  private val reqIds = new AtomicLong(0)
  val lookups = new AtomicLong(0)
  val hits = new AtomicLong(0)
  val executed = new AtomicLong(0)
  val sizeMisses = new AtomicLong(0)
  val timeouts = new AtomicLong(0)
  val rejects = new AtomicLong(0)
  val analysisMs = new DoubleAdder
  val optimizationMs = new DoubleAdder
  val planningMs = new DoubleAdder
  val tracked = new AtomicLong(0)
  /** Test hook: when set, the next request's closure throws. */
  @volatile var injectThrow: Option[String] = None

  /** Send one request and wait for its reply; None when it failed
    * (the failure is already recorded with its operation name). */
  def call(op: String, user: String)(work: Ctx => Reply): Option[(Reply, Timing)] = {
    out.attempted.incrementAndGet()
    val ctx = new Ctx(tracer.newId(), reqIds.incrementAndGet())
    val fut = new CompletableFuture[Reply]()
    val throwOp = synchronized { val t = injectThrow; injectThrow = None; t }
    val issue = System.nanoTime()
    val submitted = queue.submit(user) {
      ctx.start = System.nanoTime()
      tracer.record(ctx.root, ctx.req, "serve.queue_wait", issue, ctx.start)
      try {
        throwOp.foreach(o => throw new IllegalStateException(s"injected failure in $o"))
        val r = work(ctx)
        ctx.done = System.nanoTime()
        fut.complete(r)
      } catch { case t: Throwable =>
        ctx.done = System.nanoTime(); fut.completeExceptionally(t)
      }
    }
    val name = throwOp.getOrElse(op)
    submitted match {
      case Left(msg) =>
        rejects.incrementAndGet(); out.fail(name, "reject", msg); None
      case Right(_) =>
        try {
          val r = fut.get(timeoutMs, TimeUnit.MILLISECONDS)
          val end = System.nanoTime()
          tracer.record(ctx.root, ctx.req, "serve.reply", ctx.done, end)
          tracer.record(ctx.root, 0L, ctx.req, "request", issue, end)
          Some((r, Timing(op, user, issue, ctx.start, if (ctx.first == 0L) end else ctx.first,
            end, r.cacheHit, r.lines.isDefined)))
        } catch {
          case _: TimeoutException =>
            timeouts.incrementAndGet(); out.fail(name, "timeout", s"no reply in $timeoutMs ms"); None
          case e: ExecutionException => e.getCause match {
            case r: QueryRejectedException =>
              rejects.incrementAndGet(); out.fail(name, "reject", r.getMessage)
            case t: TimeoutException =>
              timeouts.incrementAndGet(); out.fail(name, "timeout", t.getMessage)
            case t => out.fail(name, "exception", s"${t.getClass.getName}: ${t.getMessage}")
          }
          None
        }
    }
  }

  private def sizeClass(rows: Long): String =
    if (rows <= 100) "Small" else if (rows <= 1000) "Medium" else "Large"

  /** Work of one Cypher read (or write) request. */
  def cypher(q: CypherReq)(ctx: Ctx): Reply = {
    val (shape, valid) = tracer.time(ctx.root, ctx.req, "serve.governance") {
      QueryGovernance.classify(q.text)
      (QueryGovernance.analyze(q.text), QueryGovernance.validate(q.text))
    }
    valid.left.foreach(msg => throw new QueryRejectedException(msg))
    val lookup: Either[Reply, Option[String]] =
      tracer.time(ctx.root, ctx.req, "serve.cache_lookup") {
        if (!ResultCache.cacheable(q.text)) Right(None)
        else {
          lookups.incrementAndGet()
          val k = cache.key(graphId, q.text, q.params)
          cache.get(k).map(r => Left(r.copy(cacheHit = true))).getOrElse(Right(Some(k)))
        }
      }
    lookup match {
      case Left(hit) =>
        hits.incrementAndGet(); ctx.firstChunk(); hit
      case Right(key) =>
        val df = tracer.time(ctx.root, ctx.req, "query.compile")(svc.execute(q.text, q.params))
        if (tracer.on) tracer.time(ctx.root, ctx.req, "spark.catalyst")(df.queryExecution.executedPlan)
        val est = shape.estimatedSize.toString
        val reply =
          if (!shape.requiresStreaming) tracer.time(ctx.root, ctx.req, "serve.collect") {
            val rows = QueryTimeout.collectWithTimeout(spark, df, timeoutMs)
            rows.map(_.json).mkString("[", ",", "]") // the JSON response body
            ctx.firstChunk()
            Reply(q.op, rows.length.toLong, 1, Some(rows.map(_.toSeq).toIndexedSeq), None,
              params = q.params)
          } else tracer.time(ctx.root, ctx.req, "serve.stream") {
            stream(q.op, df, ctx).copy(params = q.params)
          }
        executed.incrementAndGet()
        if (sizeClass(reply.rows) != est) sizeMisses.incrementAndGet()
        if (tracer.on) tracer.time(ctx.root, ctx.req, "trace.phases")(track(df))
        key.foreach(k => tracer.time(ctx.root, ctx.req, "serve.cache_put")(cache.put(k, reply)))
        reply
    }
  }

  /** Work of one financial-view request: build the view's frame, then
    * stream it as NDJSON. */
  def view(op: String)(build: => DataFrame)(ctx: Ctx): Reply = {
    val df = tracer.time(ctx.root, ctx.req, s"views.$op")(build)
    val r = tracer.time(ctx.root, ctx.req, "serve.stream")(stream(op, df, ctx))
    if (tracer.on) tracer.time(ctx.root, ctx.req, "trace.phases")(track(df))
    r
  }

  def stream(op: String, df: DataFrame, ctx: Ctx): Reply = {
    val lines = ArrayBuffer.empty[String]
    var chunks = 0
    ResultStreamer.ndjsonChunks(df).foreach { c =>
      ctx.firstChunk(); chunks += 1; lines ++= c
    }
    ctx.firstChunk()
    Reply(op, lines.size.toLong, chunks, None, Some(lines.toArray))
  }

  private def track(df: DataFrame): Unit = {
    val ph = df.queryExecution.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    analysisMs.add(ms("analysis")); optimizationMs.add(ms("optimization"))
    planningMs.add(ms("planning")); tracked.incrementAndGet()
  }
}
