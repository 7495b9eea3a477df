package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfBqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
  def probes: DataFrame = emb.filter(col("vec_id") < 20)
    .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  lazy val ivf: IvfFlat.Model = IvfFlat.fit(emb, numCells = 4)
  lazy val model: IvfBq.Model = IvfBq.fromIvf(ivf) // residual (default)
  lazy val global: IvfBq.Model = IvfBq.fromIvf(ivf, residual = false)

  test("global mode, all-cells probing ≡ the flat BQ scan exactly (cell " +
      "routing only prunes, never rescores)") {
    val flat = Bq.knnJoin(Bq.fit(emb), emb, probes, k = 5, rerank = 50,
        scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val allCells = IvfBq.knnJoin(global, emb, probes, k = 5, nprobe = 4,
        rerank = 50, scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(allCells == flat)
  }

  test("global-mode thresholds equal the flat BQ fit (same midrange)") {
    assert(global.thresholds.toSeq == Bq.fit(emb).thresholds.toSeq)
  }

  test("residual bits: bit j per row equals sign(v_j - centroid[cell]_j)") {
    val cents = ivf.centroids.sortBy(_._1).map(_._2)
    val assigned = ivf.assigned.select("cell", "id", "vec").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    val enc = model.encoded.collect()
      .map(r => r.getLong(1) -> (r.getInt(0), r.getSeq[Long](2).toArray)).toMap
    assigned.foreach { case (cell, id, v) =>
      val (encCell, bits) = enc(id)
      assert(encCell == cell)
      (0 until v.length).foreach { j =>
        val expected = v(j).toDouble > cents(cell)(j).toDouble
        val got = ((bits(j >> 6) >>> (j & 63)) & 1L) == 1L
        assert(got == expected, s"residual bit $j of vec $id (cell $cell)")
      }
    }
  }

  test("residual all-cells exhaustive rerank ≡ exact top-k") {
    val n = emb.count().toInt
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine",
        scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val exhaustive = IvfBq.knnJoin(model, emb, probes, k = 10, nprobe = 4,
        rerank = n, scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(exhaustive == exact)
  }

  test("pruned probing: self-match first, decent recall, fewer rows scanned") {
    val res = IvfBq.knnJoin(model, emb, probes, k = 10, nprobe = 1,
      rerank = 100, scoreDigits = 6)
    // every query's own vector lives in its nearest cell → rank-1 self hit
    val selfTop = res.filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(selfTop.nonEmpty && selfTop.forall { case (q, n) => q == n })
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine")
    val rec = Recall.microAvgRecall(
        IvfBq.knnJoin(model, emb, probes, k = 10, nprobe = 2, rerank = 100),
        exact).select("recall").first().getDouble(0)
    assert(rec >= 0.4, s"ivfbq nprobe=2 recall@10 = $rec")
  }

  test("adaptive rerank: frac=1 over all cells ≡ exact; per-query rerank " +
      "equals the fixed-rerank run at each query's own cell population") {
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 10, metric = "cosine",
        scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val full = IvfBq.knnJoinAdaptive(model, emb, probes, k = 10, nprobe = 4,
        rerankFrac = 1.0, rerankMin = 10, scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(full == exact)

    // per-query equivalence: adaptive(frac) must reproduce, for every
    // query, the fixed-rerank result at r_q = max(min, ceil(frac·pop))
    val frac = 0.05
    val adaptive = IvfBq.knnJoinAdaptive(model, emb, probes, k = 5,
        nprobe = 2, rerankFrac = frac, rerankMin = 5, scoreDigits = 6)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, rows) => q -> rows.toSet }
    import spark.implicits._
    adaptive.keys.toSeq.sorted.foreach { qid =>
      val oneProbe = probes.filter(col("query_id") === qid)
      // recover this query's probed cells via the SAME in-plan routing
      // expression the operator uses (identical tie semantics)
      val cells = oneProbe.select(graft.functions.cells.nearest_cells(
          col("query_vec"), model.centroids, "cosine", n = 2,
          tieCellDesc = true).as("cells"))
        .first().getSeq[Int](0)
      val pop = cells.map(c => model.cellCounts(c)).sum
      val rq = math.max(5L, math.ceil(frac * pop).toLong).toInt
      val fixed = IvfBq.knnJoin(model, emb, oneProbe, k = 5, nprobe = 2,
          rerank = rq, scoreDigits = 6)
        .select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(adaptive(qid) == fixed, s"query $qid (rq=$rq)")
    }
  }

  test("adaptive nprobe: endpoints equal fixed probing; the candidate " +
      "floor buys recall between them") {
    def byRank(df: DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    // minCandidates=0 -> exactly minNprobe cells, identical to the fixed
    // nprobe path at the same rerank sizing
    val minOnly = byRank(IvfBq.knnJoinAdaptiveProbe(model, emb, probes,
      k = 5, maxNprobe = 4, minNprobe = 2, minCandidates = 0,
      rerankFrac = 0.5, rerankMin = 5, scoreDigits = 6))
    val fixed2 = byRank(IvfBq.knnJoinAdaptive(model, emb, probes,
      k = 5, nprobe = 2, rerankFrac = 0.5, rerankMin = 5, scoreDigits = 6))
    assert(minOnly == fixed2)
    // minCandidates >= corpus -> every ranked cell kept, identical to
    // fixed maxNprobe
    val n = emb.count().toInt
    val capped = byRank(IvfBq.knnJoinAdaptiveProbe(model, emb, probes,
      k = 5, maxNprobe = 4, minNprobe = 1, minCandidates = n + 1,
      rerankFrac = 0.5, rerankMin = 5, scoreDigits = 6))
    val fixed4 = byRank(IvfBq.knnJoinAdaptive(model, emb, probes,
      k = 5, nprobe = 4, rerankFrac = 0.5, rerankMin = 5, scoreDigits = 6))
    assert(capped == fixed4)
    // a middling candidate floor sits between the endpoints on recall
    import graft.operators.{KnnJoin, Recall}
    val exact = KnnJoin.exactKnnJoin(emb, probes, k = 5)
    def rec(res: DataFrame) = Recall.microAvgRecall(res, exact)
      .select("recall").first().getDouble(0)
    val mid = IvfBq.knnJoinAdaptiveProbe(model, emb, probes,
      k = 5, maxNprobe = 4, minNprobe = 1, minCandidates = n / 2,
      rerankFrac = 0.5, rerankMin = 5)
    val lo = IvfBq.knnJoinAdaptive(model, emb, probes, k = 5, nprobe = 1,
      rerankFrac = 0.5, rerankMin = 5)
    assert(rec(mid) >= rec(lo),
      s"candidate floor must not lose recall vs 1 cell: ${rec(mid)} vs ${rec(lo)}")
  }

  test("batched probes ≡ whole probe set") {
    val whole = IvfBq.knnJoin(model, emb, probes, k = 5, nprobe = 2,
        rerank = 50)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val batched = ProbeBatch.batched(probes, 7, "query_id")(
        IvfBq.knnJoin(model, emb, _, k = 5, nprobe = 2, rerank = 50))
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(batched == whole)
  }
}
