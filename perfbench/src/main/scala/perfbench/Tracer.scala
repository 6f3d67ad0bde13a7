package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-call engine accounting for the traced run: a SparkListener that
  * keeps every job's interval and every stage's summed task metrics,
  * and attributes each job and stage to the program layer of the
  * innermost program frame of the call site that started it (for SQL
  * jobs, the call site of their SQL execution); jobs with no program
  * frame go to the traced call's own layer.
  *
  * [[span]] wraps one public call: it drains the listener bus after the
  * call returns and reduces the jobs the call started to one flat map
  * of metrics (see `BENCHMARK.json` for the names). By construction
  * `spark.job_s + driver.gap_s == wall_s` for every call.
  */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {
  import Tracer._

  private final class StageAcc(val module: String) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var scan = 0L; var shRead = 0L; var shWrite = 0L; var out = 0L
    var spill = 0L
  }
  private final case class Job(id: Int, startMs: Long, module: String,
      stages: Seq[Int], var endMs: Long = -1L)

  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, StageAcc]()

  /** SQL execution id → module of the thread that started it. Jobs of
    * adaptive query stages run on pool threads whose own call sites
    * carry no program frames, so SQL jobs are attributed through the
    * execution that owns them. */
  private val execModule = mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execModule(s.executionId) = moduleOf(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) =>
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val mod = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(prop(_).flatMap(id => execModule.get(id.toLong)))
      .find(_ != Other)
      .orElse(e.stageInfos.map(s => moduleOf(s.details)).find(_ != Other))
      .getOrElse(callLayer)
    jobs(e.jobId) = Job(e.jobId, e.time, mod, e.stageIds)
    e.stageInfos.foreach(s =>
      stages.getOrElseUpdate(s.stageId, new StageAcc(mod)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAcc(Other))
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.scan += m.inputMetrics.bytesRead
      s.shRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.out += m.outputMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Layer of the call in progress: the client is single-threaded, so
    * every job without a program frame (the benchmark's own collect of
    * a call's result, or an adaptive stage on a pool thread) belongs
    * to it. */
  @volatile private var callLayer = Other

  /** Run `body` as one traced call of `layer`; returns its result and
    * the call's metrics. Jobs are attributed to the call that started
    * them. */
  def span[T](layer: String)(body: => T): (T, Map[String, Double]) = {
    drain()
    callLayer = layer
    val before = synchronized(jobs.keySet.toSet)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - t0) / 1e9
    val t1Ms = t0Ms + math.round(wallS * 1000)
    drain()
    callLayer = Other
    val (mine, accs) = synchronized {
      val js = jobs.values.filterNot(j => before.contains(j.id)).toSeq
      (js, js.flatMap(_.stages).distinct.flatMap(stages.get))
    }
    (out, summarize(wallS, t0Ms, t1Ms, mine, accs))
  }

  private def summarize(wallS: Double, t0Ms: Long, t1Ms: Long,
      js: Seq[Job], accs: Seq[StageAcc]): Map[String, Double] = {
    def clip(j: Job): (Long, Long) = {
      val end = if (j.endMs < 0) t1Ms else j.endMs
      (math.max(j.startMs, t0Ms), math.min(math.max(end, j.startMs), t1Ms))
    }
    val jobS = math.min(wallS, unionMs(js.map(clip)) / 1000.0)
    val runS = accs.map(_.runMs).sum / 1000.0
    val m = mutable.LinkedHashMap[String, Double](
      "wall_s" -> wallS,
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> accs.map(_.tasks).sum.toDouble,
      "spark.job_s" -> jobS,
      "driver.gap_s" -> (wallS - jobS),
      "exec.cpu_s" -> accs.map(_.cpuNs).sum / 1e9,
      "exec.run_s" -> runS,
      "exec.gc_s" -> accs.map(_.gcMs).sum / 1000.0,
      "exec.busy_ratio" -> (if (jobS > 0) runS / (jobS * cores) else 0.0),
      "scan.bytes" -> accs.map(_.scan).sum.toDouble,
      "shuffle.read_bytes" -> accs.map(_.shRead).sum.toDouble,
      "shuffle.write_bytes" -> accs.map(_.shWrite).sum.toDouble,
      "output.bytes" -> accs.map(_.out).sum.toDouble,
      "spill.bytes" -> accs.map(_.spill).sum.toDouble)
    Modules.foreach { mod =>
      val mj = js.filter(_.module == mod)
      m(s"$mod.jobs") = mj.size.toDouble
      m(s"$mod.job_s") = unionMs(mj.map(clip)) / 1000.0
      m(s"$mod.cpu_s") = accs.filter(_.module == mod).map(_.cpuNs).sum / 1e9
    }
    m.toMap
  }
}

object Tracer {
  /** The layers a job can be attributed to. Only code that starts
    * Spark actions can own a job. Staging gates and the Mv rewrite only
    * build lazy frames, which run inside other layers' actions, so they
    * never own one; most operators do the same, and only those that
    * run their own actions (Marts.markovRemovalEffects, for one) own
    * jobs. */
  val Modules: Seq[String] = Seq("sources", "quality", "operators",
    "queries")

  /** Program class (top-level object, without `$` suffixes) → layer.
    * The compositions live in `graft.sources` but are query-layer
    * code; everything else follows its package. */
  private val ByClass = Map(
    "graft.sources.WarehouseBuild" -> "queries")
  private val ByPackage = Map(
    "sources" -> "sources", "quality" -> "quality",
    "queries" -> "queries", "stage" -> "stage",
    "operators" -> "operators", "plans" -> "plans")
  private val Other = "other"

  private val Frame = """^\s*(?:at\s+)?(graft\.([a-z]+)\.[A-Za-z0-9_]+).*""".r

  def layerOf(cls: String, pkg: String): String =
    ByClass.getOrElse(cls.takeWhile(_ != '$'),
      ByPackage.getOrElse(pkg, Other))

  /** Layer of the innermost program frame of a call-site stack. */
  def moduleOf(details: String): String =
    Option(details).iterator.flatMap(_.split("\n")).collectFirst {
      case Frame(cls, pkg) => layerOf(cls, pkg)
    }.getOrElse(Other)

  /** Length of the union of half-open intervals, in their unit. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
