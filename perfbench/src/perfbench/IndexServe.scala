package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cli.IndexCli
import graft.ops.SimSearch

/** `IndexCli` in sequence: `fit` on clustered embeddings, `append
  * --batch-id` writes plus one replayed id, then single `search` and
  * `search-batch` reads. */
object IndexServe extends Workload {
  private def p(key: String): Double = WorkloadParams.of("index_serve")(key)

  private val IdCol = "vec_id"
  private val VecCol = "embedding"

  /** What one lifecycle left behind for the output checks. */
  final case class Served(index: Path, singles: Seq[(Long, Path)], batch: Path)

  private def cli(spark: SparkSession, c: IndexCli.Config): Unit =
    IndexCli.run(c.copy(idCol = IdCol, vecCol = VecCol, fileType = Some("json"),
      nlist = p("nlist").toInt, k = p("k").toInt, nprobe = p("nprobe").toInt), spark)

  private def input(o: Opts, name: String): String = o.inputs.resolve(name).toString

  private def assignedCount(spark: SparkSession, index: Path): Long =
    spark.read.parquet(index.resolve("assigned").toString).count()

  /** One fit → appends → replay → searches → search-batch lifecycle.
    * `work` receives the engine work of each verb (traced runs). */
  private def lifecycle(spark: SparkSession, o: Opts, r: Result, name: String,
                        work: (String, Counters, Double) => Unit): Served = {
    val dir = o.scratch(name)
    val index = dir.resolve("index")
    def verb[T](v: String)(f: => T): Option[(Double, T)] = r.op(s"$name $v") {
      val c0 = if (Trace.on) Some(Tracing.listener.snapshot()) else None
      val (dt, x) = Harness.timed(Trace.span(s"index.$v")(f))
      c0.foreach(c => work(v, Tracing.listener.snapshot() - c, dt))
      (dt, x)
    }
    val fitS = verb("fit")(cli(spark, IndexCli.Config(verb = "fit", index = index.toString,
      input = input(o, "fit.json")))).map(_._1)
    val appends = p("append_batches").toInt
    val appendS = (0 until appends).flatMap { a =>
      verb("append")(cli(spark, IndexCli.Config(verb = "append", index = index.toString,
        input = input(o, f"append-$a%03d.json"), batchId = Some(a.toLong)))).map(_._1)
    }
    // vectors written per second across the fit and the appends
    r.sample("rate_per_s", (p("fit_rows") + appendS.size * p("append_rows")) /
      (fitS.sum + appendS.sum))
    val before = assignedCount(spark, index)
    verb("append_replay")(cli(spark, IndexCli.Config(verb = "append", index = index.toString,
      input = input(o, f"append-${appends - 1}%03d.json"), batchId = Some(appends - 1L))))
    r.check(s"$name replayed append leaves `assigned` unchanged", assignedCount(spark, index) == before)
    val singles = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(o.inputs.resolve("single_queries.json").toFile).elements().asScala.map(_.asLong).toList
    val served = singles.flatMap { q =>
      val out = dir.resolve(s"search-$q")
      verb("search")(cli(spark, IndexCli.Config(verb = "search", index = index.toString,
        output = out.toString, queryId = q))).map { case (dt, _) =>
        r.sample("op_s", dt)
        q -> out
      }
    }
    val batchOut = dir.resolve("search-batch")
    verb("search_batch")(cli(spark, IndexCli.Config(verb = "search-batch", index = index.toString,
      input = input(o, "queries.json"), output = batchOut.toString)))
      .foreach { case (dt, _) => r.sample("search_batch_qps", p("batch_queries") / dt) }
    Served(index, served, batchOut)
  }

  /** The curate_stream inputs and work dir that traced runs use. */
  private def curate(o: Opts): Opts = o.copy(work = o.work.resolve("curate_stream"))

  def exercise(spark: SparkSession, o: Opts, r: Result): Unit = {
    lifecycle(spark, o, r, "exercise", (_: String, _: Counters, _: Double) => ())
    CurateStream.exercise(spark, curate(o), r)
  }

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    warmUp(spark, o)
    val noWork = (_: String, _: Counters, _: Double) => ()
    val served =
      if (!o.trace) {
        // two lifecycles at least, so that a run does not flip between
        // one and two with the host's speed when a lifecycle takes about
        // as long as the window
        var k = 0
        Harness.repeatFor(o.seconds, atLeast = 2) {
          k += 1
          val s = lifecycle(spark, o, r, s"lifecycle-$k", noWork)
          if (k == 1) r.markHeap()
          s
        }
      } else {
        val traced = this.traced(spark, o, r)
        // the streaming tail's layers are traced here, on the same
        // SimSearch layer; see CurateStream.traceLayers
        CurateStream.traceLayers(spark, curate(o), r)
        traced
      }
    if (o.corrupt) served.head.singles.headOption.foreach { case (_, out) =>
      spark.range(p("k").toLong).select(col("id").as(IdCol), lit(0.5).as("cosine"))
        .write.mode("overwrite").parquet(out.toString)
    }
    val files = "fit.json" +: (0 until p("append_batches").toInt).map(a => f"append-$a%03d.json")
    val vectors = spark.read.json(files.map(input(o, _)): _*)
      .where(col(VecCol).isNotNull).select(col(IdCol), col(VecCol))
      .collect().map(row => row.getLong(0) -> row.getSeq[Double](1).toArray).toMap
    served.foreach(s => check(spark, r, s, vectors))
  }

  /** A fit and a search on the smallest input, untimed. */
  private def warmUp(spark: SparkSession, o: Opts): Unit = {
    val warm = o.scratch("warmup")
    cli(spark, IndexCli.Config(verb = "fit", index = warm.resolve("index").toString,
      input = input(o, "append-000.json")))
    cli(spark, IndexCli.Config(verb = "search", index = warm.resolve("index").toString,
      output = warm.resolve("search").toString, queryId = p("fit_rows").toLong))
  }

  /** The same lifecycle untraced and traced. */
  private def traced(spark: SparkSession, o: Opts, r: Result): List[Served] = {
    val (untracedS, a) = Harness.timed(lifecycle(spark, o, r, "untraced",
      (_: String, _: Counters, _: Double) => ()))
    val perVerb = scala.collection.mutable.ArrayBuffer.empty[(String, Counters, Double)]
    val b = Tracing.traced(spark, o, r, untracedS) {
      lifecycle(spark, o, r, "traced", (v, c, dt) => perVerb += ((v, c, dt)))
    }
    val (bytes, files) = Harness.dirSize(b.index)
    def of(v: String) = perVerb.filter(_._1 == v).toSeq
    val batch = of("search_batch")
    val searchInput = of("search").map(_._2.input.toDouble)
    r.put(Seq(
      "index.fit_s" -> of("fit").map(_._3).sum,
      "index.append_rows_per_s" -> p("append_rows") * of("append").size / of("append").map(_._3).sum,
      "index.search_batch_qps" -> p("batch_queries") / batch.map(_._3).sum,
      "index.fit_jobs" -> of("fit").map(_._2.jobs).sum.toDouble,
      "index.search_tasks" -> batch.map(_._2.tasks).sum.toDouble,
      "index.search_slot_util" -> batch.map(_._2.runMs / 1000.0).sum /
        (batch.map(_._3).sum * o.cores),
      "index.scan_frac" -> (if (searchInput.isEmpty || bytes == 0) 0.0 else Stats.median(searchInput) / bytes),
      "index.bytes_on_disk_mb" -> bytes / 1048576.0,
      "index.files" -> files.toDouble))
    List(a, b)
  }

  /** Exact cosine top-k over every indexed vector except the query. */
  private def exactTopK(vectors: Map[Long, Array[Double]], q: Long, k: Int): Set[Long] = {
    val qv = vectors(q)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qn = norm(qv)
    vectors.iterator.filter(_._1 != q).map { case (id, v) =>
      var d = 0.0
      var i = 0
      while (i < v.length) { d += v(i) * qv(i); i += 1 }
      (-d / (qn * norm(v)), id)
    }.toSeq.sorted.take(k).map(_._2).toSet
  }

  /** CLI `search` equals `SimSearch.ivfSearch` on the loaded index;
    * every query gets k neighbours; recall@k against brute force. */
  private def check(spark: SparkSession, r: Result, s: Served,
                    vectors: Map[Long, Array[Double]]): Unit = {
    val k = p("k").toInt
    val idx = SimSearch.ivfLoad(spark, s.index.toString, IdCol, VecCol)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(col(IdCol), col("cosine"))
      .collect().map(row => (row.getLong(0), row.getDouble(1))).toSeq
      .sortBy { case (id, c) => (-c, id) }
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    s.singles.foreach { case (q, out) =>
      val cliRows = rows(spark.read.parquet(out.toString))
      r.check(s"${s.index} search $q equals ivfSearch",
        cliRows == rows(SimSearch.ivfSearch(idx, q, k, p("nprobe").toInt)))
      found += q -> cliRows.map(_._1).toSet
    }
    val batch = spark.read.parquet(s.batch.toString).select(col("query_id"), col(IdCol))
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    r.check(s"${s.index} search-batch returns $k neighbours per query",
      batch.size == p("batch_queries").toInt && batch.values.forall(_.size == k))
    found ++= batch
    val recall = found.map { case (q, got) => (got & exactTopK(vectors, q, k)).size.toDouble / k }
    r.sample("quality", recall.sum / recall.size)
  }
}
