package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.SimSearch
import graft.text.{Emoji, TextClean}
import graft.wordscore.WordList

/** Driver-side kernel timings on the fixed probe sample, taken in every
  * traced run whatever the workload. */
object Probes {
  private def perCall(n: Int)(f: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { f(i); i += 1 }
    (System.nanoTime() - t0) / 1e3 / n
  }

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    val texts = Files.readAllLines(o.work.resolve("probes/probe_texts.txt")).asScala.toArray
    val clean = TextClean.cleanTextAndStem(Emoji.base) _
    texts.foreach(clean) // warm the JIT; the sample is timed on the second pass
    val cleanUs = perCall(texts.length)(i => clean(texts(i)))
    val stop = TextClean.stopWords.toSet
    val tokens = texts.flatMap(t => clean(t).split(" ")).filter(w => w.nonEmpty && !stop(w))
    tokens.foreach(WordList.value)
    val valueUs = perCall(tokens.length)(i => WordList.value(tokens(i)))
    val oov = tokens.count(w => !WordList.scores.contains(w)).toDouble / tokens.length
    // words no earlier call can have memoised: every call pays the full scan
    val rng = new scala.util.Random(o.seed)
    val fresh = Array.fill(WorkloadParams.probes("fuzzy_words").toInt) {
      "qx" + Array.fill(4 + rng.nextInt(5))(('a' + rng.nextInt(26)).toChar).mkString
    }.distinct
    val fuzzyUs = perCall(fresh.length)(i => WordList.fuzzy(fresh(i)))
    r.put(Seq(
      "text.clean_us_per_row" -> cleanUs,
      "wordscore.value_us_per_token" -> valueUs,
      "wordscore.fuzzy_miss_us" -> fuzzyUs,
      "wordscore.oov_token_frac" -> oov,
      "simsearch.cosine_ns_per_pair" -> cosineNsPerPair(spark)))
  }

  /** The `SimSearch.cosine` expression over a fixed, cached pair frame. */
  private def cosineNsPerPair(spark: SparkSession): Double = {
    val n = WorkloadParams.probes("cosine_pairs").toLong
    val dim = WorkloadParams.probes("cosine_dim").toInt
    def vec(salt: Int) = array((0 until dim).map(j =>
      sin(col("id") * lit(0.37 + j) + lit(salt * 1.3 + j))): _*)
    val pairs = spark.range(0, n, 1, 8).select(vec(1).as("a"), vec(2).as("b")).cache()
    try {
      pairs.count()
      val times = (0 until 3).map { _ =>
        Harness.timed(pairs.select(sum(SimSearch.cosine(col("a"), col("b")))).collect())._1
      }
      Stats.median(times) * 1e9 / n
    } finally pairs.unpersist()
  }
}
