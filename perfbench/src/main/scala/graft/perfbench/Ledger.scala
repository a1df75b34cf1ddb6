package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Host and JVM conditions of a run, read the way `graft.Bench` reads
  * them: CPU steal from `/proc/stat`, GC and JIT seconds from the JVM's
  * management beans. */
object Host {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Cumulative steal over all cores, seconds (field 8 of the `cpu`
    * line, USER_HZ ticks); 0 where the kernel does not expose it. */
  def stealSec(): Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+").drop(1).lift(7)
        .map(_.toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    }
  }

  def gcSec(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private val jit = ManagementFactory.getCompilationMXBean

  def jitSec(): Double =
    if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime / 1000.0
    else 0.0
}

/** What Spark did on behalf of one timed operation. Filled by
  * [[Ledger]] on the listener thread; read after [[Ledger.settle]]. */
final class OpLedger {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskSec = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** job id -> (start ms, end ms); end is 0 until the job ends. */
  val jobSpans: mutable.Map[Int, (Long, Long)] = mutable.Map.empty
  /** call site -> (jobs, task seconds). */
  val sites: mutable.Map[String, (Int, Double)] = mutable.Map.empty

  /** Seconds of [startMs, endMs] during which at least one job ran. */
  def jobCoveredSec(startMs: Long, endMs: Long): Double = {
    val iv = jobSpans.values.map { case (s, e) =>
      (math.max(s, startMs), math.min(if (e > 0) e else endMs, endMs))
    }.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1000.0
  }
}

/** The benchmark's Spark ledger: a listener (registered with the public
  * `SparkContext.addSparkListener`) that books every job, stage and task
  * to the operation that was running when the job started, and to the
  * job's call site. A call site is named after the graft API member
  * that launched the job (see [[Ledger.apiSite]]), so the split inside a
  * composite operation such as `curateIncremental` is visible without
  * touching engine code. */
final class Ledger(sc: org.apache.spark.SparkContext) extends SparkListener {
  @volatile private var current: OpLedger = null
  private val stageOwner = mutable.Map.empty[Int, (OpLedger, String)]
  private val jobOwner = mutable.Map.empty[Int, OpLedger]
  private val execDetails = mutable.Map.empty[Long, String]

  sc.addSparkListener(this)

  /** Deliver every pending event, then book new jobs to `acc`. */
  def begin(acc: OpLedger): Unit = { settle(); current = acc }

  /** Stop booking and deliver the events the operation produced. */
  def end(): Unit = { current = null; settle() }

  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val acc = current
    if (acc != null) {
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val props = Option(e.properties)
      // jobs a SQL query submits from Spark's own thread pools (adaptive
      // query stages, broadcasts) carry no caller frames: they fall back
      // to the frames of the query execution they belong to
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execDetails.get(id.toLong)).getOrElse("")
      val site = Ledger.apiSite(details).orElse(Ledger.apiSite(exec))
        .orElse(props.flatMap(p => Option(p.getProperty(Ledger.SpanProperty))))
        .orElse(Ledger.benchSite(details)).orElse(Ledger.benchSite(exec))
        .getOrElse("unknown")
      jobOwner(e.jobId) = acc
      e.stageInfos.foreach(s => stageOwner(s.stageId) = (acc, site))
      acc.jobs += 1
      acc.jobSpans(e.jobId) = (e.time, 0L)
      val (j, t) = acc.sites.getOrElse(site, (0, 0.0))
      acc.sites(site) = (j + 1, t)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execDetails(x.executionId) = x.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { acc =>
      acc.jobSpans.get(e.jobId).foreach { case (s, _) =>
        acc.jobSpans(e.jobId) = (s, e.time)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOwner.get(e.stageInfo.stageId).foreach(_._1.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (acc, site) =>
      acc.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val sec = m.executorRunTime / 1000.0
        acc.taskSec += sec
        acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.outputBytes += m.outputMetrics.bytesWritten
        val (j, t) = acc.sites.getOrElse(site, (0, 0.0))
        acc.sites(site) = (j, t + sec)
      }
    }
  }
}

object Ledger {
  private val ApiFrame = """\s*graft\.api\.(\w+?)\$?\.([\w$]+)\(.*""".r
  private val BenchFrame = """\s*graft\.perfbench\.(\w+?)\$?\.([\w$]+)\(.*""".r

  /** `foo`, `$anonfun$foo$3` and `foo$extension` all name `foo`. */
  private def method(raw: String): String =
    if (raw.startsWith("$anonfun$")) raw.stripPrefix("$anonfun$").takeWhile(_ != '$')
    else raw.takeWhile(_ != '$')

  /** The local property naming the benchmark span a job ran in. */
  val SpanProperty = "perfbench.span"

  /** Name a job's call site from a long call-site form (the submitting
    * thread's stack): the graft API member that the outermost API entry
    * point called, as `Object.member` — e.g. a job launched inside
    * `GraftOps.dedupNearSketched` while `curateIncremental` runs is
    * `GraftOps.dedupNearSketched`; one launched by the entry point itself
    * is named after the entry point. Method names, not file:line, so the
    * names survive edits elsewhere in the file. None when no graft API
    * frame is on the stack (a lazy result the benchmark itself
    * evaluates): such jobs are named after the benchmark span they ran
    * in, else after the benchmark member, prefixed `bench.`. */
  def apiSite(details: String): Option[String] = {
    val api = details.split("\n").toSeq.collect { case ApiFrame(o, m) => s"$o.${method(m)}" }
    val chain = api.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.lastOption.contains(s)) acc else acc :+ s
    }
    if (chain.size >= 2) Some(chain(chain.size - 2)) else chain.headOption
  }

  def benchSite(details: String): Option[String] =
    details.split("\n").collectFirst { case BenchFrame(o, m) => s"bench.$o.${method(m)}" }
}
