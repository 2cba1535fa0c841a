package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into each layer.
  * Kept in memory while tracing is on and written out at exit. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Total seconds spent in spans called `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  /** Seconds in spans called `name`, minus the time their child spans cover. */
  def self(name: String): Double = {
    val ss = all
    ss.filter(_.name == name).map { s =>
      s.seconds - ss.filter(_.parent == s.id).map(_.seconds).sum
    }.sum
  }

  def write(path: String): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Engine counters summed over the tasks, stages and jobs the listener
  * has seen; subtract two snapshots to get one interval's work. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                          shuffleWrite: Long = 0, spill: Long = 0,
                          input: Long = 0, output: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, spill + o.spill, input + o.input,
    output + o.output)
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, spill - o.spill, input - o.input,
    output - o.output)
}

/** Counts jobs, stages, tasks and bytes, and keeps each job's interval
  * and `spark.job.description` so time can be grouped by phase label. */
final class EngineListener(sc: SparkContext) extends SparkListener {
  final case class Job(label: String, startMs: Long, var endMs: Long)

  private var c = Counters()
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).orNull
    jobs(e.jobId) = Job(label, e.time, -1L)
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.diskBytesSpilled,
      input = c.input + m.inputMetrics.bytesRead,
      output = c.output + m.outputMetrics.bytesWritten)
  }

  def snapshot(): Counters = { BenchBus.drain(sc); synchronized(c) }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] = {
    BenchBus.drain(sc)
    synchronized(jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .map(_.copy()).toList)
  }

  /** Wall seconds in [fromMs, toMs] during which no job was running. */
  def gapSeconds(fromMs: Long, toMs: Long): Double = {
    val spans = jobsBetween(fromMs, toMs)
      .map(j => (j.startMs, if (j.endMs < 0) toMs else math.min(j.endMs, toMs)))
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    ((toMs - fromMs) - busy) / 1000.0
  }
}

object Engine {
  /** The engine-layer metrics of one interval of `wallS` seconds. */
  def metrics(d: Counters, wallS: Double, gapS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "spark.jobs" -> d.jobs.toDouble,
    "spark.stages" -> d.stages.toDouble,
    "spark.tasks" -> d.tasks.toDouble,
    "spark.slot_util" -> (if (wallS > 0) d.runMs / 1000.0 / (wallS * cores) else 0.0),
    "spark.executor_cpu_s" -> d.cpuNs / 1e9,
    "spark.gc_s" -> d.gcMs / 1000.0,
    "spark.shuffle_write_mb" -> d.shuffleWrite / 1048576.0,
    "spark.spill_mb" -> d.spill / 1048576.0,
    "spark.input_mb" -> d.input / 1048576.0,
    "spark.output_mb" -> d.output / 1048576.0,
    "driver.gap_s" -> gapS)
}

/** The traced half of a `--trace 1` run: the engine listener attached
  * and spans on around `body`, whose wall time is compared with the
  * same work measured untraced just before. */
object Tracing {
  private var attached: Option[EngineListener] = None

  def listener: EngineListener = attached.get

  def traced[T](spark: org.apache.spark.sql.SparkSession, o: Opts, r: Result,
                untracedS: Double)(body: => T): T = {
    val l = new EngineListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    attached = Some(l)
    Trace.on = true
    val before = l.snapshot()
    val t0 = System.currentTimeMillis()
    val (tracedS, v) = Harness.timed(body)
    val t1 = System.currentTimeMillis()
    r.put(Engine.metrics(l.snapshot() - before, tracedS, l.gapSeconds(t0, t1), o.cores))
    r.put(Seq("trace.untraced_s" -> untracedS, "trace.traced_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - untracedS)))
    v
  }
}
