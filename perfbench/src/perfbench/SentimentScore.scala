package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.SentimentCli
import graft.schema.Detection
import graft.sources.FormatIO
import graft.text.{Emoji, TextClean}
import graft.wordscore.{WordList, WordScore}

/** `SentimentCli` word-score scoring with stemming, one headered
  * Sentiment140-shaped CSV per call, each call waiting for the last. */
object SentimentScore extends Workload {
  private def p(key: String): Double = WorkloadParams.of("sentiment_score")(key)

  /** CLI calls in each half of a traced run. */
  private val TracedCalls = 4

  /** Untimed calls before the timed ones, on the last input files: the
    * JIT is still compiling the scoring path through the first few. */
  private val WarmupCalls = 3

  /** Timed calls after which an untraced run takes `heap_live_mb`. */
  private val HeapCalls = 4

  override def loadResources(spark: SparkSession): Unit = {
    WordList.value("good")
    Emoji.base.size
    TextClean.stopWords
  }

  private def file(o: Opts, i: Int): String =
    o.inputs.resolve(f"part-${i % p("files").toInt}%03d.csv").toString

  private def call(spark: SparkSession, input: String, output: String): Unit =
    SentimentCli.run(SentimentCli.Config(inputs = Seq(input), output = Some(output)), spark)

  def exercise(spark: SparkSession, o: Opts, r: Result): Unit =
    call(spark, file(o, 0), o.scratch("exercise").toString)

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    val rows = p("rows_per_file")
    (1 to WarmupCalls).foreach { w =>
      call(spark, file(o, p("files").toInt - w), o.scratch(s"warmup-$w").toString)
    }
    var next = 1
    // one timed call: returns (input, output) when it succeeded
    def timedCall(): Option[(String, String)] = {
      val (in, out) = (file(o, next), o.scratch(s"call-$next").toString)
      next += 1
      r.op(s"score $in") {
        val (dt, _) = Harness.timed(call(spark, in, out))
        r.sample("rate_per_s", rows / dt)
        r.sample("op_s", dt)
        (in, out)
      }
    }
    val done =
      if (o.trace) traced(spark, o, r, () => timedCall())
      else Harness.repeatFor(o.seconds, atLeast = HeapCalls) {
        val c = timedCall()
        if (next == HeapCalls + 1) r.markHeap()
        c
      }.flatten
    if (o.corrupt) done.headOption.foreach { case (_, out) => corrupt(spark, out) }
    check(spark, o, r, done)
  }

  /** Rewrites an output with every score moved out of [-1, 1]. */
  private def corrupt(spark: SparkSession, out: String): Unit = {
    val moved = out + "-corrupt"
    spark.read.option("header", "true").csv(out)
      .withColumn("computed", col("computed").cast("double") + 3.0)
      .write.option("header", "true").csv(moved)
    Harness.deleteTree(java.nio.file.Paths.get(out))
    java.nio.file.Files.move(java.nio.file.Paths.get(moved), java.nio.file.Paths.get(out))
  }

  /** The fixed-work traced run: the same number of calls untraced and
    * traced, then one call split into its layers. */
  private def traced(spark: SparkSession, o: Opts, r: Result,
                     timedCall: () => Option[(String, String)]): List[(String, String)] = {
    val (untracedS, a) = Harness.timed((1 to TracedCalls).flatMap(_ => timedCall()).toList)
    val b = Tracing.traced(spark, o, r, untracedS) {
      (1 to TracedCalls).flatMap(_ => Trace.span("cli.sentiment")(timedCall())).toList
    }
    layers(spark, o, r)
    a ++ b
  }

  /** One file through each layer call of the scoring lifecycle, each
    * forced to a sink so a span holds the layer's work. */
  private def layers(spark: SparkSession, o: Opts, r: Result): Unit = {
    val in = file(o, 2 * TracedCalls + 1) // the first file no timed call scored
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val data = Trace.span("sources.load")(FormatIO.loadFile(None, in, spark).get._1)
    val textCol = Trace.span("schema.detect")(Detection.detectTextColumn(data).get)
    val cleaned = TextClean.cleanSource(data, textCol, SentimentCli.OutputColumn, stem = true)
    val scored = WordScore.score(cleaned, SentimentCli.OutputColumn, "computed")
    Trace.span("sources.save") {
      Trace.span("wordscore.score") {
        Trace.span("text.clean")(noop(cleaned))
        noop(scored)
      }
      FormatIO.save("csv", scored.drop(SentimentCli.OutputColumn), o.scratch("layers").toString,
        overwrite = true)
    }
    r.put(Seq(
      "sources.load_s" -> Trace.total("sources.load"),
      "schema.detect_s" -> Trace.total("schema.detect"),
      "text.clean_s" -> Trace.total("text.clean"),
      "wordscore.score_s" -> Trace.self("wordscore.score"),
      "sources.save_s" -> Trace.self("sources.save")))
  }

  /** Every output keeps its input's rows with scores in [-1, 1], and a
    * seeded sample of each equals a one-partition recomputation through
    * cleanSource + score. Checks all calls' outputs in a few jobs; rows
    * are keyed by (call, id), as inputs repeat once the files run out. */
  private def check(spark: SparkSession, o: Opts, r: Result, done: Seq[(String, String)]): Unit = {
    if (done.isEmpty) return
    val rows = p("rows_per_file").toLong
    val outputs = spark.read.option("header", "true").csv(done.map(_._2): _*)
      .select(regexp_extract(input_file_name(), "/(call-[0-9]+)/", 1).as("call"),
        col("id").cast("string").as("id"), col("computed").cast("double").as("s"),
        col("polarity").cast("int").as("polarity"))
      .cache()
    try {
      val perCall = outputs.groupBy("call").agg(count(lit(1)), min("s"), max("s"),
        sum(when(col("s") =!= 0.0 && ((col("s") > 0) === (col("polarity") === 4)), 1)
          .otherwise(0)), sort_array(collect_list("id"))).collect()
        .map(row => row.getString(0) ->
          (row.getLong(1), row.get(2), row.get(3), row.getLong(4), row.getSeq[String](5))).toMap
      val rng = new scala.util.Random(o.seed)
      val sample = done.map { case (in, out) =>
        val call = java.nio.file.Paths.get(out).getFileName.toString
        val (n, lo, hi, agree, ids) = perCall.getOrElse(call, (0L, null, null, 0L, Nil))
        r.check(s"$out keeps all $rows rows", n == rows)
        r.check(s"$out scores in [-1, 1]", (lo, hi) match {
          case (a: java.lang.Double, b: java.lang.Double) => a >= -1.0 && b <= 1.0
          case _ => false
        })
        r.sample("quality", agree.toDouble / rows)
        (call, in, rng.shuffle(ids).take(p("check_sample_per_call").toInt))
      }
      // the sampled rows, loaded with the dialect the CLI sniffs, recomputed in one partition
      val inputs = sample.map { case (call, in, picks) =>
        FormatIO.loadCsvWithDialect(in, spark, ",", header = true, quote = None)
          .where(col("id").cast("string").isin(picks: _*))
          .withColumn("call", lit(call))
      }.reduce(_ unionByName _).coalesce(1)
      def keyed(df: DataFrame, score: String) = df.select(col("call"), col("id").cast("string"),
        col(score)).collect().map(row => (row.getString(0), row.getString(1)) -> row.get(2)).toMap
      val want = keyed(WordScore.score(
        TextClean.cleanSource(inputs, "text", SentimentCli.OutputColumn, stem = true),
        SentimentCli.OutputColumn, "computed"), "computed")
      val got = keyed(outputs.where(col("id").isin(want.keys.map(_._2).toSeq: _*)), "s")
      r.check(s"sampled scores equal a one-partition recomputation",
        want.size == sample.map(_._3.size).sum && want.forall { case (key, w) => (got.get(key), w) match {
          case (Some(d: java.lang.Double), w: java.lang.Double) => math.abs(d - w) <= 1e-9
          case _ => false
        }})
    } finally outputs.unpersist()
  }
}
