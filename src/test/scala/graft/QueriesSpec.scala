package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Guardrails over the driver contract: every registered query must
  * execute at smoke scale, and the oracle map must reference real
  * queries. (Value parity vs DuckDB is tools/compare.py's job.) */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql(spark, dir).keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  /** The entries whose SQL carries a fitted model's literals. */
  val trainedKeys = Seq(
    "knn_ivf_cosine", "recall_ivf", "knn_ivfbq_cosine", "recall_ivfbq",
    "hard_negatives_ivf", "semdedup_embeddings", "prune_prototypes",
    "cluster_eval", "maxsim_multivec_ivf",
    "knn_pq_euclid", "recall_pq", "knn_opq_euclid", "recall_opq",
    "knn_ivfpq_euclid", "recall_ivfpq", "knn_pca_cosine", "recall_pca",
    "knn_rabitq_cosine", "recall_rabitq",
    "knn_ivfrabitq_cosine", "recall_ivfrabitq",
    "quality_classifier", "corpus_pipeline")

  test("oracleSql has every trained-literal entry before any query ran") {
    // models are memoized per (session, dir): a fresh copy of the tables
    // is a dir no battery query has touched in this session
    val fresh = Files.createTempDirectory("oracle-fresh").toFile
    FileUtils.copyDirectory(new java.io.File(dir), fresh)
    val keys = try SparkEntry.oracleSql(spark, fresh.toString).keySet
      finally FileUtils.deleteDirectory(fresh)
    assert(trainedKeys.size == 23)
    val missing = trainedKeys.filterNot(keys)
    assert(missing.isEmpty, s"missing trained-literal entries: $missing")
  }

  test("trained-literal SQL is built from its own dir's memoized model") {
    val small = SparkEntry.oracleSql(spark, dir)
    val big = SparkEntry.oracleSql(spark, "/root/testdata/sf0.01")
    val again = SparkEntry.oracleSql(spark, dir)
    Seq("knn_ivf_cosine", "quality_classifier").foreach { k =>
      assert(again(k) == small(k), s"$k changed after sf0.01's fit")
      assert(big(k) != small(k), s"$k: sf0.01 and sf0.001 SQL coincide")
    }
    val cte = graft.operators.IvfFlat.duckdbTopkCte(
      VectorQueries.ivfModel(spark, dir).centroids, nprobe = 4, k = 10)
    assert(again("knn_ivf_cosine") ==
      s"""$cte
         |SELECT query_id, neighbor_id, score, rank FROM ivf_topk""".stripMargin)
    assert(again("quality_classifier") == graft.operators.QualityLr.duckdbSql(
      TextQueries.qualityLrModel(spark, dir)))
  }

  test("a trained family whose fit throws leaves out only its own keys") {
    assert(SparkEntry.fitted("boom")(throw new IllegalStateException("fit")) ==
      Map.empty)
    assert(SparkEntry.fitted("ok")(Map("a" -> "b")) == Map("a" -> "b"))
  }

  test("Verify with names dumps only those queries and their oracle SQL") {
    val out = Files.createTempDirectory("verify-names").toFile
    // one oracle-checked entry, one rows-only entry
    val names = Seq("knn_pq_euclid", "hybrid_serving_summary")
    val (dumped, json) = try {
      Verify.dump(spark, dir, out.toString, names)
      (out.listFiles.filter(_.isDirectory).map(_.getName).toSet,
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(new java.io.File(out, "oracle_sql.json"),
            classOf[java.util.Map[String, String]]).asScala.toMap)
    } finally FileUtils.deleteDirectory(out)
    assert(dumped == names.toSet)
    val full = SparkEntry.oracleSql(spark, dir)
    assert(json.keySet == Set("knn_pq_euclid"))
    assert(json("knn_pq_euclid") == full("knn_pq_euclid"))
  }

  test("a names-only dump fits only the trained models its names need") {
    // a fresh copy of the tables: no model is memoized for it yet
    val fresh = Files.createTempDirectory("verify-fresh").toFile
    FileUtils.copyDirectory(new java.io.File(dir), fresh)
    val out = Files.createTempDirectory("verify-fits").toFile
    val freshDir = fresh.toString
    try {
      Verify.dump(spark, freshDir, out.toString, Seq("bm25_indexed"))
      assert(new java.io.File(out, "bm25_indexed").isDirectory)
      assert(VectorQueries.memoized(spark, freshDir).isEmpty)
      // one trained entry fits its own family's model and no other
      Verify.dump(spark, freshDir, out.toString, Seq("knn_pq_euclid"))
      assert(VectorQueries.memoized(spark, freshDir) ==
        Seq(s"pq/s8c16/$freshDir"))
      assert(scala.io.Source.fromFile(new java.io.File(out, "oracle_sql.json"))
        .mkString.contains("knn_pq_euclid"))
    } finally {
      FileUtils.deleteDirectory(fresh); FileUtils.deleteDirectory(out)
    }
  }

  test("the rows-only entries are exactly the 16 without an oracle") {
    val rowsOnly =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql(spark, dir).keySet
    assert(rowsOnly == Set(
      "bpe_pack_sequences", "bpe_token_stats", "hnsw_latency_summary",
      "hybrid_serving_summary", "index_describe", "knn_hnsw_cosine",
      "knn_ivfhnsw_cosine", "mllib_brp_ann", "mllib_minhash_neardups",
      "mllib_word2vec_knn", "q_approx_sketch", "recall_hnsw",
      "recall_ivfhnsw", "sgns_knn", "sgns_subword_knn", "sgns_train_loss"))
  }

  test("entry flagship returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("hybrid_serving_summary serves every probe: n·k result rows") {
    val r = SparkEntry.queries("hybrid_serving_summary")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("result_rows") == r.getAs[Long]("n_queries") * 10,
      s"serving path dropped probes: $r")
    assert(r.getAs[Double]("qps") > 0)
  }

  test("bm25_top_docs: 20 query docs, dense ranks, scores descend per query") {
    val rows = SparkEntry.queries("bm25_top_docs")(spark, dir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 20, s"expected 20 query docs, got ${byQ.size}")
    byQ.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq == (1 to rs.length),
        s"qid=$qid ranks not dense")
      val scores = sorted.map(_.getAs[Double]("bm25")).toSeq
      assert(scores == scores.sorted.reverse, s"qid=$qid scores not descending")
      assert(scores.head > 0.0)
    }
  }

  test("dedup_keep_best keeps exactly the best (priority, length, id) doc " +
      "per near-dup cluster") {
    val rows = SparkEntry.queries("dedup_keep_best")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("priority"), r.getAs[Boolean]("kept")))
    val clusters = SparkEntry.queries("dedup_clusters")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(rows.length == clusters.size)
    rows.foreach { case (id, cl, _, _) => assert(clusters(id) == cl) }
    val meta = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "cast(substring(source, 4, 10) as bigint) priority",
        "n_chars")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_._2).foreach { case (cl, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"cluster $cl kept ${kept.length}")
      val want = members.map { case (id, _, _, _) =>
        val (p, nc) = meta(id); (p, -nc, id)
      }.min._3
      assert(kept.head._1 == want,
        s"cluster $cl kept ${kept.head._1}, want $want")
      members.foreach { case (id, _, p, _) => assert(p == meta(id)._1) }
    }
  }

  test("dedup_aware_split: one split per cluster, leak flag matches the " +
      "naive split's cluster spread, singletons agree with the naive split") {
    val rows = SparkEntry.queries("dedup_aware_split")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[String]("split"), r.getAs[String]("naive_split"),
        r.getAs[Boolean]("cluster_leaky")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $cl severed by the cluster-aware split")
      val wantLeaky = members.map(_._4).distinct.length > 1
      members.foreach { case (id, _, _, _, leaky) =>
        assert(leaky == wantLeaky, s"doc $id leak flag")
      }
      if (members.length == 1) {
        // singleton: cluster_id = doc_id, so both hashes agree
        assert(members.head._3 == members.head._4)
      }
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      df.count() // force full execution
    }
  }
}
