package servebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Job and task events of the run, attributed afterwards by time:
  * a job belongs to the window its submission time falls in, a task to
  * its stage's job. Events reach a listener asynchronously, so windows
  * are resolved only after [[drain]]. Added to the session only in the
  * traced run. */
final class SparkEvents extends SparkListener {
  final case class Job(id: Int, atMs: Long, stages: Seq[Int], tag: Option[String])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long, outputBytes: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.add(Job(j.jobId, j.time, j.stageIds,
      Option(j.properties).flatMap(p => Option(p.getProperty(SparkEvents.OpTag)))))
    lastEventMs = System.currentTimeMillis()
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stagesDone.add(s.stageInfo.stageId); lastEventMs = System.currentTimeMillis()
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) tasks.add(Task(t.stageId, t.taskInfo.launchTime,
      t.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until no event arrived for 300 ms (at most 5 s). */
  def drain(): Unit = {
    val limit = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 300 &&
      System.currentTimeMillis() < limit) Thread.sleep(50)
  }

  /** `writeBytes`: bytes the jobs' tasks wrote as output files and
    * shuffle files. */
  final case class Window(jobs: Int, stages: Int, tasks: Int,
      shuffleBytes: Long, spillBytes: Long, runMs: Long, cpuMs: Double,
      busyCoreMs: Long, writeBytes: Long)

  /** Totals for jobs submitted in [fromMs, toMs]; with `tag`, only the
    * jobs submitted under that [[SparkEvents.OpTag]]. */
  def window(fromMs: Long, toMs: Long, tag: Option[String] = None): Window = {
    val js = jobs.asScala.filter(j => j.atMs >= fromMs && j.atMs <= toMs &&
      tag.forall(j.tag.contains)).toSeq
    val stageSet = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stageSet.contains(t.stage)).toSeq
    val done = stagesDone.asScala.count(stageSet.contains)
    Window(js.size, done, ts.size, ts.map(_.shuffleBytes).sum,
      ts.map(_.spillBytes).sum, ts.map(_.runMs).sum, ts.map(_.cpuNs).sum / 1e6,
      ts.map(t => t.finishMs - t.launchMs).sum,
      ts.map(t => t.outputBytes + t.shuffleBytes).sum)
  }
}

object SparkEvents {
  /** Spark local property naming the operation a thread's jobs belong
    * to, where operations of one run overlap in time. */
  val OpTag = "servebench.op"
}

/** Process-level counters read at the edges of a timed region. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Used heap after forced full collections, in MB. Collections repeat
    * (at least 3, at most 8, 200 ms apart) until the figure stops
    * falling, and the lowest figure counts: Spark's
    * context cleaner frees broadcast and shuffle blocks only after a
    * collection has cleared their references, and a single collection
    * read about 115 MB in most runs and about 280 MB in some. */
  def heapLiveMb: Double = {
    def used: Double = {
      System.gc(); Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var xs = Vector(used, used, used)
    while (xs.size < 8 && xs(xs.size - 2) - xs.last > 0.5) xs :+= used
    xs.min
  }

  /** Bytes this process caused to be written to storage
    * (`write_bytes` of /proc/self/io); -1 where unreadable. */
  def ioWriteBytes: Long =
    try scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith("write_bytes:")).map(_.split(":")(1).trim.toLong)
      .getOrElse(-1L)
    catch { case _: Exception => -1L }
}

/** Size of a directory tree: (data files, their bytes). Hidden
  * (`_`/`.`-prefixed) files are metadata and not counted as data. */
object DiskUsage {
  def apply(root: java.io.File): (Int, Long) = {
    var n = 0; var bytes = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        !f.getName.endsWith(".crc")) { n += 1; bytes += f.length() }
    walk(root)
    (n, bytes)
  }
}
