package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Curate

/** The `Curate.streamingTail` foreachBatch function called batch after
  * batch, as a streaming query would, with semantic dedup and automatic
  * state compaction on; the admitted state grows across the batches.
  * Not a workload of its own: traced `index_serve` runs drive it. */
object CurateStream {
  private def p(key: String): Double = WorkloadParams.of("curate_stream")(key)

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType), StructField("vec", ArrayType(FloatType))))

  /** One batch's wall time, whether it ran a compaction, and the engine
    * work it did (traced runs only). */
  final case class BatchStat(seconds: Double, compacted: Boolean, work: Option[Counters],
                             startMs: Long, endMs: Long)

  private def batch(spark: SparkSession, o: Opts, b: Int): DataFrame =
    spark.read.schema(schema).json(o.inputs.resolve(f"batch-$b%03d.json").toString)

  private def admitted(spark: SparkSession, out: Path): Array[Long] =
    if (!Files.exists(out)) Array.empty
    else spark.read.parquet(out.toString).select("doc_id").collect().map(_.getLong(0))

  private def stamp(p: Path): Option[(Long, Long)] =
    if (Files.exists(p)) Some((Files.getLastModifiedTime(p).toMillis, Files.size(p))) else None

  /** `n` batches into a fresh output and state. Returns the output dir,
    * the per-batch stats and the batch function, for a replay. */
  private def lifecycle(spark: SparkSession, o: Opts, r: Result, name: String, n: Int,
                        traced: Boolean): (Path, Seq[BatchStat], (DataFrame, Long) => Unit) = {
    val dir = o.scratch(name)
    val (out, state) = (dir.resolve("out"), dir.resolve("state"))
    val tail = Curate.streamingTail(spark, out.toString,
      shingleSize = p("shingle_size").toInt, threshold = p("near_threshold"),
      stateDir = Some(state.toString), compactEvery = Some(p("compact_every").toInt),
      vecCol = Some("vec"), semanticThreshold = p("semantic_threshold"))
    val meta = state.resolve("_compaction.meta")
    val stats = (0 until n).flatMap { b =>
      val before = stamp(meta)
      val c0 = if (traced) Some(Tracing.listener.snapshot()) else None
      r.op(s"$name batch $b") {
        val t0 = System.currentTimeMillis()
        val (dt, _) = Harness.timed(Trace.span("curate.batch")(tail(batch(spark, o, b), b.toLong)))
        val t1 = System.currentTimeMillis()
        BatchStat(dt, stamp(meta) != before, c0.map(Tracing.listener.snapshot() - _), t0, t1)
      }
    }
    (out, stats, tail)
  }

  /** Replays the last batch id of a lifecycle; the admitted set must not change. */
  private def replay(spark: SparkSession, o: Opts, r: Result, out: Path, n: Int,
                     tail: (DataFrame, Long) => Unit): Unit = {
    val ids = admitted(spark, out).toSet
    r.op(s"$out replay batch ${n - 1}")(Trace.span("curate.replay")(tail(batch(spark, o, n - 1), n - 1L)))
    r.check(s"$out replaying batch ${n - 1} is a no-op", admitted(spark, out).toSet == ids)
  }

  def exercise(spark: SparkSession, o: Opts, r: Result): Unit = {
    val n = p("compact_every").toInt + 1
    val (out, _, tail) = lifecycle(spark, o, r, "exercise", n, traced = false)
    replay(spark, o, r, out, n, tail)
  }

  /** The streaming tail's per-layer metrics, taken inside the
    * `index_serve` traced run (its engine listener already attached):
    * a one-batch warm-up, one traced lifecycle with a replay, the checks.
    * `--corrupt 1` lands a copy of an admitted partition under a new
    * batch id before the checks. */
  def traceLayers(spark: SparkSession, o: Opts, r: Result): Unit = {
    val n = p("batches").toInt
    lifecycle(spark, o, r, "warmup", 1, traced = false)
    val out = layers(spark, o, r, n)
    if (o.corrupt)
      spark.read.parquet(out.resolve("__batch_id=0").toString)
        .write.parquet(out.resolve("__batch_id=9999").toString)
    check(spark, o, r, out)
  }

  /** No id admitted twice and no planted exact duplicate admitted; also
    * records the share of planted duplicates dropped. */
  private def check(spark: SparkSession, o: Opts, r: Result, out: Path): Unit = {
    val plants = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(o.inputs.resolve("plants.json").toFile)
    def planted(kind: String) = plants.get(kind).elements().asScala.map(_.asLong).toSet
    val exact = planted("exact")
    val all = exact ++ planted("near") ++ planted("vector")
    val ids = admitted(spark, out)
    r.check(s"$out admits no id twice", ids.length == ids.distinct.length)
    r.check(s"$out admits no planted exact duplicate", !ids.exists(exact))
    r.put(Seq("curate.planted_dropped_frac" -> (1.0 - ids.count(all).toDouble / all.size)))
  }

  /** One traced lifecycle and a replay of its last batch; records the
    * curate.* metrics, the engine work of the batches among them, and
    * returns the output dir. */
  private def layers(spark: SparkSession, o: Opts, r: Result, n: Int): Path = {
    val (out, stats, tail) = lifecycle(spark, o, r, "traced", n, traced = true)
    replay(spark, o, r, out, n, tail)
    // time of the jobs the batches ran, grouped by the tail's phase labels
    val phases = stats.flatMap(b => Tracing.listener.jobsBetween(b.startMs, b.endMs))
      .groupBy { j =>
        Option(j.label).filter(_.startsWith("streamingTail["))
          .map(l => l.substring(l.indexOf("] ") + 2)).getOrElse("unlabeled")
      }.map { case (k, js) => k -> js.map(j => (j.endMs - j.startMs) / 1000.0).sum }
    val work = stats.flatMap(_.work)
    val engine = Engine.metrics(work.foldLeft(Counters())(_ + _), stats.map(_.seconds).sum,
      stats.map(b => Tracing.listener.gapSeconds(b.startMs, b.endMs)).sum, o.cores)
    val (stateBytes, stateFiles) = Harness.dirSize(out.getParent.resolve("state"))
    val admittedN = admitted(spark, out).length
    def p50(sel: BatchStat => Boolean) = {
      val xs = stats.filter(sel).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    r.put(Seq(
      "curate.plain_batch_s_p50" -> p50(!_.compacted),
      "curate.compact_batch_s_p50" -> p50(_.compacted),
      "curate.jobs_per_batch" -> work.map(_.jobs).sum.toDouble / work.size,
      "curate.input_mb_per_batch" -> work.map(_.input).sum / 1048576.0 / work.size,
      "curate.state_mb" -> stateBytes / 1048576.0,
      "curate.state_files" -> stateFiles.toDouble,
      "curate.admitted_frac" -> admittedN / (n * p("docs_per_batch"))) ++
      Seq("near-pairs", "near-closure", "semantic", "land-output", "state-write", "unlabeled")
        .map(ph => s"curate.phase.${ph}_s" -> phases.getOrElse(ph, 0.0)) ++
      engine.map { case (k, v) => s"curate.$k" -> v })
    out
  }
}
