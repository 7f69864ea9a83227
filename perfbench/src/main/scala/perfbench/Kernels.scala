package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{AggregateExpressions, StringExpressions, TextHashExpressions, TopK, VectorExpressions}
import graft.ops.TextAnalysis

/** ns/row micro-runs of graft's custom Catalyst kernels, each called
  * through its public entry point (a `graft_*` SQL name registered by
  * GraftExtensions, or the Column wrapper graft's operators use), over
  * the run's generated documents and embeddings cached in memory. Each
  * kernel runs with whole-stage codegen on, and with all code
  * generation off (interpreted expressions). */
object Kernels {
  val names: Seq[String] = Seq("CompressionRatio", "UnicodeNormalize",
    "CharTrigramBucketHashes", "NgramHashes", "MinHashSignature",
    "SimHashSignature", "PqEncode", "DotProduct", "TopKAgg",
    "Int128SumMicros")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Rows each micro-run processes: the inputs are repeated up to this
    * size so per-job scheduling cost stays small against kernel cost. */
  val Rows = 50000

  /** Returns (kernel, mode, ns per row): the median of `reps` timed runs,
    * less the median of the same projection without the kernel. */
  def run(spark: SparkSession, dataDir: String, seed: Long,
          reps: Int): Seq[(String, String, Double)] = {
    def sized(df: DataFrame): DataFrame = {
      val copies = math.max(1L, (Rows + df.count() - 1) / df.count())
      df.crossJoin(spark.range(copies).toDF("copy")).limit(Rows)
    }
    val words = split(col("text"), " ")
    val text = sized(graft.Tables.documents(spark, dataDir).select("doc_id", "text"))
      .select(col("doc_id"), col("text"),
        TextAnalysis.charCodePoints(col("text")).as("cps"),
        TextHashExpressions.ngramHashesAll(words, 3).as("hs"))
      .cache()
    val vecs = sized(graft.Tables.embeddings(spark, dataDir)
      .select("vec_id", "label", "embedding"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .cache()
    val rnd = new scala.util.Random(seed)
    // 8 subspaces x 16 centroids x 8 dims over the 64-d embeddings
    val codebooks = Array.fill(8, 16, 8)(rnd.nextGaussian() * 0.1)

    // (kernel, input, the kernel's query over that input)
    val cases: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("CompressionRatio", text, _.selectExpr("graft_compression_ratio(text) AS k")),
      ("UnicodeNormalize", text,
        _.select(StringExpressions.unicodeNormalize(col("text")).as("k"))),
      ("CharTrigramBucketHashes", text,
        _.select(TextAnalysis.charTrigramBuckets(col("cps"), 4096).as("k"))),
      ("NgramHashes", text,
        _.select(TextHashExpressions.ngramHashesAll(split(col("text"), " "), 3).as("k"))),
      ("MinHashSignature", text, _.selectExpr("graft_minhash_sig(hs, 64) AS k")),
      ("SimHashSignature", text,
        _.select(VectorExpressions.simhashSig(col("hs"), 64).as("k"))),
      ("PqEncode", vecs, _.select(VectorExpressions.pqEncode(col("v"), codebooks).as("k"))),
      ("DotProduct", vecs, _.selectExpr("graft_dot(v, v) AS k")),
      ("TopKAgg", vecs,
        _.groupBy("label").agg(TopK.topK(col("v")(0), col("vec_id"), 10).as("k"))),
      ("Int128SumMicros", vecs,
        _.groupBy("label").agg(AggregateExpressions.dsum128(col("v")(1)).as("k"))))
    val rows = Map(text -> text.count().toDouble, vecs -> vecs.count().toDouble)

    val modes: Seq[(String, Map[String, String])] = Seq(
      "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      "nocodegen" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    def medianNs(df: => DataFrame): Double = {
      noop(df) // warm-up
      val ns = Seq.fill(reps) {
        val t0 = System.nanoTime(); noop(df); System.nanoTime() - t0
      }.sorted
      ns(ns.size / 2).toDouble
    }
    try {
      modes.flatMap { case (mode, conf) =>
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        // the same input read without any kernel
        val base = rows.keys.map(in => in -> medianNs(in.select(in.columns.head))).toMap
        cases.map { case (name, in, query) =>
          (name, mode, (medianNs(query(in)) - base(in)) / rows(in))
        }
      }
    } finally {
      modes.head._2.foreach { case (k, v) => spark.conf.set(k, v) }
      text.unpersist(blocking = true)
      vecs.unpersist(blocking = true)
    }
  }
}
