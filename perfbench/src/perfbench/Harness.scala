package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `v` as JSON; Scala maps and sequences become objects and arrays. */
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case xs: Iterable[_] => xs.map(toJava).toList.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}

/** Options `run.py` passes to the JVM. */
final case class Opts(mode: String, workload: String, work: Path, params: Path, seed: Long,
                      seconds: Double, trace: Boolean, cores: Int, corrupt: Boolean) {
  def inputs: Path = work.resolve("inputs")
  def scratch(name: String): Path = {
    val p = work.resolve("run").resolve(name)
    Files.createDirectories(p.getParent)
    p
  }
}

/** What one run measured: raw samples per end-to-end metric, per-layer
  * values, and the operations attempted and failed. */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var readyMs = 0L
  /** `heap_live_mb`, taken by the workload after a fixed amount of work
    * (see `markHeap`), so that it does not grow with throughput. */
  var heapLiveMb = Double.NaN

  def markHeap(): Unit = heapLiveMb = Harness.heapLiveMb()

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def put(kvs: Seq[(String, Double)]): Unit = kvs.foreach { case (k, v) => layer(k) = v }

  /** Runs one operation; an exception counts it as failed. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = f
      println(f"[perfbench] $what%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      Some(v)
    } catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Records a failed output check against the operation it checks. */
  def check(what: String, ok: => Boolean): Unit = {
    val passed = try ok catch {
      case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); true
    }
    if (!passed) fail(s"check failed: $what")
  }

  private def fail(msg: String): Unit = {
    failed += 1
    failures += msg.take(500)
    System.err.println(s"[perfbench] $msg")
  }

  def json(peakRssMb: Double): String = Json.write(Map(
    "ready_ms" -> readyMs,
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> failures,
    "peak_rss_mb" -> peakRssMb,
    "heap_live_mb" -> heapLiveMb,
    "samples" -> samples,
    "layer" -> layer))
}

trait Workload {
  /** Forces the lazy resources the workload's first call would load. */
  def loadResources(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, o: Opts, r: Result): Unit
  /** One short pass through the workload's calls, so the class-data
    * archive dumped at build time holds the classes a run loads. */
  def exercise(spark: SparkSession, o: Opts, r: Result): Unit
}

object Harness {
  val workloads: Map[String, Workload] = Map(
    "sentiment_score" -> SentimentScore,
    "index_serve" -> IndexServe)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("mode"), m("workload"), Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("params")).toAbsolutePath, m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("cores").toInt, m.get("corrupt").contains("1"))
  }

  /** Heap still reachable, in MB: a full collection first, so the
    * figure is the retained set (caches, memos, state) and not how far
    * garbage had piled up. */
  def heapLiveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workloads(o.workload)
    WorkloadParams.load(o.params)
    val r = new Result
    val spark = graft.GraftSession.local(o.cores.toString)
    val code =
      try {
        w.loadResources(spark)
        r.readyMs = System.currentTimeMillis()
        o.mode match {
          case "run" =>
            w.run(spark, o, r)
            if (o.trace) Probes.run(spark, o, r)
          case "exercise" =>
            workloads.foreach { case (name, x) =>
              x.loadResources(spark)
              x.exercise(spark, o.copy(workload = name, work = o.work.resolve(name)), r)
            }
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        Files.write(o.work.resolve(s"result-${o.mode}.json"),
          r.json(peakRssMb()).getBytes("UTF-8"))
        if (o.trace) Trace.write(o.work.resolve("spans.jsonl").toString)
        spark.stop()
      }
    sys.exit(code)
  }

  /** Runs `f` `atLeast` times and then until `seconds` have passed. */
  def repeatFor[T](seconds: Double, atLeast: Int = 1)(f: => T): List[T] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ListBuffer.fill(atLeast)(f)
    while (System.nanoTime() < deadline) out += f
    out.toList
  }

  /** Seconds `f` takes, with its value. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = f
    ((System.nanoTime() - t0) / 1e9, v)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** (bytes, files) under `p`, not counting checksum files and `_SUCCESS` markers. */
  def dirSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f => val n = f.getFileName.toString; n.endsWith(".crc") || n == "_SUCCESS" }
        .toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    }
}

/** The generator parameters (`workloads.json`), read once per JVM. */
object WorkloadParams {
  private var root: com.fasterxml.jackson.databind.JsonNode = _

  def load(p: Path): Unit =
    root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)

  def of(section: String)(key: String): Double = root.get(section).get(key).asDouble

  def probes(key: String): Double = of("probes")(key)
}
