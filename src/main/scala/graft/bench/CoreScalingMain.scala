package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KnnJoin, NgramDup, TextIndex}
import graft.sources.VectorSources

/** CORE-SCALING evidence for the battery's heavy operator families
  * (OPTIMIZATION r15; VERDICT r14 #9): at sf0.1 every battery query is
  * planning/JIT-bound — the driver's 8c/32c ratios sit at ≈1 and say
  * nothing about 100 TB behavior. This main runs the shuffle-bearing
  * families on synthetic corpora big enough that compute dominates
  * (tens of seconds per op at 32 cores), at the core count given by
  * `$SPARK_GRAFT_CPUS`, and prints ONE JSON line {op: sec}.
  *
  * Protocol: run twice — `SPARK_GRAFT_CPUS=8` and `=32` — and compare
  * per-op ratios; a parallelizable operator should approach the 4x core
  * ratio, a serial one sits at 1. Corpora are materialized to parquet
  * before timing (the honest scan shape; generation is untimed) and are
  * identical at both core counts (seeded / pure column expressions).
  * Results go through the noop sink (guide §1.4) so the computation is
  * timed, not the sink.
  *
  *   sbt "runMain graft.bench.CoreScalingMain [nDocs] [nVecs]"
  */
object CoreScalingMain {

  /** n docs of ~len tokens over a vocab-sized Zipf-ish vocabulary, as pure
    * column expressions (deterministic in (doc_id, position), so
    * partition-independent): token ranks follow an inverse-CDF draw
    * r = floor(V^u) (P(rank ≤ r) = log_V r, so p(r) ∝ 1/r — the heavy
    * tail of natural text); doc length varies len/2..3len/2 keyed on
    * doc_id. */
  private def corpus(spark: SparkSession, n: Long, len: Int, vocab: Int): DataFrame =
    spark.range(n).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        transform(
          sequence(lit(0), pmod(hash(col("doc_id")), lit(len)) + lit(len / 2)),
          i => concat(lit("t"), floor(pow(lit(vocab.toDouble),
            (pmod(hash(col("doc_id"), i), lit(100000)).cast("double") + 0.5)
              / 100000.0)).cast("long")))))

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 400000L
    val nVecs = if (args.length > 1) args(1).toLong else 400000L
    val spark = graft.GraftSession.local()
    val cpus = spark.sparkContext.defaultParallelism
    // same untimed warmups as Bench: session + codegen startup
    spark.range(0, 1000000).selectExpr("sum(id)").collect()

    // ---- corpora (untimed; deterministic in (id, position) — identical
    // bytes at any core count) ----
    val tmp = java.nio.file.Files.createTempDirectory("corescale").toString
    corpus(spark, nDocs, len = 60, vocab = 50000)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val docs = spark.read.parquet(s"$tmp/docs")
    VectorSources.synthetic(spark, nVecs, 64, seed = 42)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$tmp/vecs")
    val vecs = spark.read.parquet(s"$tmp/vecs")
    val probes = vecs.filter(col("vec_id") < 400)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def t(label: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(s"corescale: $label")
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      results(label) = math.floor(dt * 1000) / 1000
      System.err.println(f"CORESCALE $label%-22s $dt%8.1f s")
    }

    // 1. transient BM25 ranking: tokenize + tf/df aggs + posting join +
    //    top-k window — the bm25_top_docs / rrf lexical-leg family.
    //    Quarter slice: the Zipf head terms' posting join output grows
    //    superlinearly with the corpus (full 400k measured 159 s at 32c
    //    — too heavy to repeat at 8c)
    t("bm25_transient")(noop(
      graft.TextQueries.bm25RankedOf(docs.filter(col("doc_id") % 4 === 0),
        nq = 20, topk = 10)))
    // 2. inverted-index build: one tokenize pass + bucketed posting
    //    write + lexicon/stats — the bm25_indexed/incremental family
    t("textindex_build") {
      TextIndex.drop(spark, "corescale_tix")
      TextIndex.build(docs, "corescale_tix", numBuckets = cpus)
      ()
    }
    // 3. MinHash-LSH candidate pairs: shingle explode + signature
    //    projection + band self-join + distinct — the dedup family
    t("minhash_pairs")(noop(
      graft.TextQueries.lshCandidatePairs(docs)))
    // 4. duplicated-window stats: window explode + corpus-wide count +
    //    position join — the dup_ngram/dedup_trim family
    t("dup_ngram_stats")(noop(
      NgramDup.dupNgramStats(docs, w = 8, minCount = 2)))
    // 5. exact kNN: probe broadcast against a streamed base + bounded
    //    rank windows — the knn_exact/recall-truth family
    t("exact_knn")(noop(
      KnnJoin.exactKnnJoin(vecs, probes, k = 10, metric = "cosine",
        scoreDigits = 6)))
    // 6. LSH near-dup pairs over embeddings: signature projection +
    //    bucket self-join + rerank — the near_dup_embeddings_lsh family.
    //    Small slice: 6 planes = 64 buckets/table, so candidate pairs
    //    grow ~n²/64 — 10k rows ≈ 50M candidates (400k would be 1.25B×7
    //    probes: hours)
    t("lsh_neardup")(noop(
      graft.operators.AnnLsh.lshNearDupPairs(
        vecs.filter(col("vec_id") % 20 === 0), threshold = 0.4,
        numPlanes = 6, d = 64, numTables = 4)))

    TextIndex.drop(spark, "corescale_tix")
    val opsJson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"core_scaling","cpus":$cpus,""" +
      s""""n_docs":$nDocs,"n_vecs":$nVecs,"ops":$opsJson}"""
    try {
      val dir = java.nio.file.Paths.get("bench/outputs")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve(s"core_scaling_c$cpus.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"core-scaling file write failed: $e") }
    println(line)
    spark.stop()
  }
}
